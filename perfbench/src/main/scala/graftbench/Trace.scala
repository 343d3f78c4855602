package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Ops, spans and the Spark-side probes of the traced run.
  *
  * Every measured operation runs through [[op]], which always times it.
  * With tracing on, the op also carries a Spark job tag, so the
  * [[Probe]] listeners can attribute jobs, stages, tasks and query
  * executions to it, and [[span]] records a span (name, start, end,
  * parent, op id) around each call the benchmark makes into a library
  * module. Spans stay in memory until the run writes them out. */
object Trace {

  /** What [[op]] does besides timing: nothing (untraced runs and
    * warmups: the op is not recorded), record it and trace every other
    * op (the measured window of a traced run), or record and trace it. */
  object Mode extends Enumeration { val Off, Alternate, Traced = Value }
  @volatile var mode: Mode.Value = Mode.Off
  private val slots = new AtomicInteger()
  @volatile private var parity = 0

  /** Start iteration `i` of a traced run's measured window. Its ops are
    * numbered from 0 and alternate traced and untraced, and the pattern
    * flips from one iteration to the next: each position (a night of a
    * repetition) is traced in one iteration and untraced in the next.
    * The tracing overhead compares ops at the same position, so each
    * position (the compaction night, say) weighs the same on both
    * sides, and warm-up drift partly cancels across positions. */
  def iteration(i: Int): Unit = {
    mode = Mode.Alternate
    parity = i % 2
    slots.set(0)
  }

  final case class Span(op: Long, id: Long, parent: Long, name: String,
      start: Long, end: Long)

  /** One measured operation; times are System.nanoTime, `slot` its
    * position in its measured iteration. */
  final case class Op(id: Long, kind: String, slot: Int, start: Long,
      end: Long, traced: Boolean, ok: Boolean, codegenNs: Long,
      codegenClasses: Long)

  private val ids = new AtomicLong()
  val spans = new ConcurrentLinkedQueue[Span]()
  val ops = new ConcurrentLinkedQueue[Op]()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (op, span)
    override def initialValue(): List[(Long, Long)] = Nil
  }

  /** Job tag of a span (an op is its own root span); executions carry
    * every open span's tag, and the innermost one has the highest id. */
  def tagOf(span: Long): String = s"graftbench-span-$span"

  def span[T](name: String)(body: => T): T =
    if (stack.get.isEmpty) body
    else {
      val (opId, parent) = stack.get.head
      val id = ids.incrementAndGet()
      val sc = SparkSession.active.sparkContext
      stack.set((opId, id) :: stack.get)
      sc.addJobTag(tagOf(id))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(opId, id, parent, name, t0, System.nanoTime()))
        sc.removeJobTag(tagOf(id))
        stack.set(stack.get.tail)
      }
    }

  /** Run and time one operation; unless [[mode]] is off it is recorded,
    * and spans inside it are recorded when it is traced. Failures are
    * recorded (ok = false) and rethrown to the caller, which counts
    * them. */
  def op[T](sc: SparkContext, kind: String)(body: => T): (T, Op) = {
    val m = mode
    val slot = slots.getAndIncrement()
    val traced = m == Mode.Traced ||
      (m == Mode.Alternate && (parity + slot) % 2 == 1)
    val id = ids.incrementAndGet()
    if (traced) { sc.addJobTag(tagOf(id)); stack.set(List((id, id))) }
    val cg0 = CodeGenerator.compileTime
    val cc0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    var ok = false
    try {
      val r = body
      ok = true
      val t1 = System.nanoTime()
      val o = Op(id, kind, slot, t0, t1, traced, ok,
        CodeGenerator.compileTime - cg0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cc0)
      if (m != Mode.Off) ops.add(o)
      (r, o)
    } finally {
      if (!ok && m != Mode.Off)
        ops.add(Op(id, kind, slot, t0, System.nanoTime(), traced, ok, 0, 0))
      if (traced) {
        spans.add(Span(id, id, 0L, kind, t0, System.nanoTime()))
        sc.removeJobTag(tagOf(id))
        stack.set(Nil)
      }
    }
  }

  /** Span self times: duration minus the part its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      s.id -> Stats.selfTime(s.start, s.end,
        kids.getOrElse(s.id, Nil).filter(_.id != s.id).map(c => (c.start, c.end)))
    }.toMap
  }
}

/** Spark listeners of the traced run: a SparkListener for jobs, stages
  * and tasks, and a QueryExecutionListener for planning phases and the
  * executed plan. Both key their records by the op job tag. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  final class OpAcc {
    var jobs, stages, tasks, singleTaskStages = 0L
    var cpuNs, gcMs, shuffleWrite, fetchWaitMs, spill, written = 0L
    var planMs = 0.0
    var knnExecs, scanRows = 0L
    val joinRows = mutable.HashMap.empty[String, Long] // join class -> rows out
    var planTimingMs = 0.0
    val stageIv = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
    var worstSkew = 1.0
    val scanRoots = mutable.ArrayBuffer.empty[(String, Long)] // (root, dirs read)
  }

  private val lock = new Object
  private val bySpan = mutable.HashMap.empty[Long, OpAcc]
  private val stageSpan = mutable.HashMap.empty[Int, Long]
  private val execSpan = mutable.HashMap.empty[Long, Long]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private val tagRe = "graftbench-span-(\\d+)".r
  /** The innermost traced span among a job's tags. */
  private def spanOfTags(tags: Iterable[String]): Option[Long] =
    tags.collect { case tagRe(n) => n.toLong }.maxOption
  private def acc(span: Long): OpAcc = bySpan.getOrElseUpdate(span, new OpAcc)

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    spanOfTags(tags).foreach { op =>
      acc(op).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = op)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    stageSpan.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.written += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { op =>
        val a = acc(op)
        a.stages += 1
        if (info.numTasks == 1) a.singleTaskStages += 1
        for (s <- info.submissionTime; c <- info.completionTime)
          a.stageIv += ((s, c))
        stageTaskMs.remove(info.stageId).filter(_.size > 1).foreach { ts =>
          val med = Stats.median(ts.map(_.toDouble).toSeq)
          if (med > 0) a.worstSkew = math.max(a.worstSkew, ts.max / med)
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      lock.synchronized {
        spanOfTags(s.jobTags).foreach(op => execSpan(s.executionId) = op)
      }
    case end: SparkListenerSQLExecutionEnd =>
      // The session's QueryExecutionListeners are called from this same
      // shared-queue thread while it delivers this event to the
      // session's own bus, which registered before this listener — so
      // the query [[onSuccess]] just saw is the one ending here.
      lock.synchronized {
        pending.foreach(qe => execSpan.get(end.executionId).foreach(plan(_, qe)))
        if (pending.isEmpty) unmatchedEnds += 1
        pending = None
      }
    case _ =>
  }

  // ---------------------------------------------- QueryExecutionListener

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private var pending: Option[org.apache.spark.sql.execution.QueryExecution] = None
  /** SQL executions that ended without a query to attribute. */
  var unmatchedEnds = 0L

  override def onSuccess(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long)
      : Unit = lock.synchronized { pending = Some(qe) }

  /** Planning phases and executed-plan facts of one finished query. */
  private def plan(span: Long, qe: org.apache.spark.sql.execution.QueryExecution)
      : Unit = {
    val a = acc(span)
    a.planMs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
    nodes(qe.executedPlan).foreach { n =>
      if (n.getClass.getSimpleName.startsWith("KnnTopK")) a.knnExecs += 1
      n match {
        case s: FileSourceScanExec =>
          val dirs = s.metrics.get("numPartitions").map(_.value).getOrElse(0L)
          s.relation.location.rootPaths.headOption.foreach(r =>
            a.scanRoots += ((r.toString, dirs)))
          a.scanRows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case j if j.getClass.getSimpleName.contains("JoinExec") =>
          val k = j.getClass.getSimpleName
          a.joinRows(k) = a.joinRows.getOrElse(k, 0L) +
            j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case _ =>
      }
      n.metrics.values.filter(m => m.metricType == "timing" ||
          m.metricType == "nsTiming").foreach { m =>
        a.planTimingMs +=
          (if (m.metricType == "nsTiming") m.value / 1e6 else m.value.toDouble)
      }
    }
  }

  override def onFailure(funcName: String,
      qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = lock.synchronized { pending = None }

  /** Wait until every event so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Accumulators of every span that saw work, by span id. */
  def all(): Map[Long, OpAcc] = lock.synchronized(bySpan.toMap)
}
