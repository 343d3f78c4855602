package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checkable query: a Spark plan plus (optionally) the
  * equivalent ANSI SQL that DuckDB runs over the same parquet tables.
  *
  * Contract (driver): the Spark result and the DuckDB result are compared
  * after sorting columns by name and canonicalizing rows, so
  *  - column names MUST match between `run` and `oracle`;
  *  - output must be deterministic as a SET of rows (no raw `rand()`,
  *    no unordered `limit` without a total tiebreak);
  *  - doubles must be bit-reproducible across engines: derive them from
  *    exact decimal/integer arithmetic and cast to double at the end, or
  *    round aggressively.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    /** Session confs the arm is planned and executed under; [[Arm.run]]
      * sets them and restores the prior values afterwards. */
    confs: Map[String, String] = Map.empty)

/** The one lifecycle every registry arm runs under. Verify, Bench,
  * PlanDump and the specs all run an arm through [[run]]:
  *  - the arm's declared `confs` hold for the run, and the exact prior
  *    values come back after it (a key the session had not set is
  *    unset again), on every exit path;
  *  - per-run scratch a body registers ([[tempDir]], [[cached]],
  *    [[onRunEnd]]) is released when the run ends;
  *  - standing artifacts that live across runs go through [[memo]],
  *    keyed by (session, dir, key), until [[release]] drops them all
  *    for a session (they rebuild lazily on next use).
  * The restore and the release run in a `finally` on the calling
  * thread, after `body`: a caller that times inside `body` leaves them
  * off its clock. Scratch registered with no run open is held until
  * [[release]]. */
object Arm {
  private final class Held(val value: Any, val release: () => Unit)
  private val memos = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Held]
  // per session, the open run's scratch releases, newest first
  private val scratch =
    scala.collection.mutable.Map.empty[SparkSession, List[() => Unit]]

  def run[T](s: SparkSession, q: GraftQuery)(body: => T): T = {
    val prior = s.conf.getAll
    val outer = synchronized(scratch.remove(s))
    try {
      q.confs.foreach { case (k, v) => s.conf.set(k, v) }
      body
    } finally {
      try q.confs.keys.foreach { k =>
        prior.get(k) match {
          case Some(v) => s.conf.set(k, v)
          case None => s.conf.unset(k)
        }
      } finally {
        val mine = synchronized {
          val m = scratch.remove(s).getOrElse(Nil)
          outer.foreach(scratch(s) = _)
          m
        }
        mine.foreach(safely)
      }
    }
  }

  /** [[run]] with the arm's frame built inside it: `use` sees
    * `q.run(s, dir)` under the arm's confs, before its scratch goes. */
  def run[T](s: SparkSession, dir: String, q: GraftQuery)(
      use: DataFrame => T): T =
    run(s, q)(use(q.run(s, dir)))

  /** A standing artifact, built once per (session, dir, key) and kept
    * across runs until [[release]] calls `release` on it. */
  def memo[V](s: SparkSession, dir: String, key: String)(build: => V)(
      release: V => Unit): V =
    memos.get((s, dir, key)) match {
      case Some(h) => h.value.asInstanceOf[V]
      case None =>
        val v = build
        val h = new Held(v, () => release(v))
        memos.putIfAbsent((s, dir, key), h) match {
          case Some(first) => safely(h.release); first.value.asInstanceOf[V]
          case None => v
        }
    }

  /** A memoized local directory `fill` writes once, deleted by
    * [[release]]; `key` doubles as the temp-dir prefix. */
  def memoDir(s: SparkSession, dir: String, key: String)(
      fill: String => Unit): String =
    memo(s, dir, key) {
      val p = java.nio.file.Files.createTempDirectory(key).toString
      try { fill(p); p }
      catch { case e: Throwable => deleteTree(p); throw e }
    }(deleteTree)

  /** Run `release` when the current run of `s` ends. */
  def onRunEnd(s: SparkSession)(release: => Unit): Unit = synchronized {
    scratch(s) = (() => release) :: scratch.getOrElse(s, Nil)
  }

  /** A fresh local directory, deleted when the current run ends. */
  def tempDir(s: SparkSession, prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    onRunEnd(s)(deleteTree(p))
    p
  }

  /** `df` cached for the current run only. */
  def cached(s: SparkSession, df: DataFrame): DataFrame = {
    val c = df.cache()
    onRunEnd(s)(c.unpersist(blocking = true))
    c
  }

  /** Drop every memo of `s` and any scratch still held for it. */
  def release(s: SparkSession): Unit = {
    val held = memos.keys.filter(_._1 eq s).toSeq.flatMap(memos.remove)
    val loose = synchronized(scratch.remove(s)).getOrElse(Nil)
    (held.map(_.release) ++ loose).foreach(safely)
  }

  private def safely(release: () => Unit): Unit =
    try release() catch { case scala.util.control.NonFatal(_) => () }

  /** Best-effort recursive delete of a local directory. */
  private def deleteTree(dir: String): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }
}

/** A named group of queries (one per SURVEY.md §2 operator family). */
trait QuerySuite {
  def suite: Seq[GraftQuery]
}

/** Loaders for the driver-generated test tables (TESTDATA.md).
  * All reads go through here so schema handling / pruning is uniform.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Canonical post-load type of each timestamp column. The fixture
    * encodings have drifted across driver regenerations (events.ts:
    * parquet timestamp[ns] read as Long under nanosAsLong, then
    * TIMESTAMP_MICROS isAdjustedToUTC=0 read as TIMESTAMP_NTZ), so the
    * loader normalizes whatever it finds into the form every query and
    * oracle was validated against: events.ts as TimestampType (the
    * original ns shim produced it), orders/lineitem dates as
    * TIMESTAMP_NTZ (how Spark reads their current encoding). Under the
    * pinned UTC session timezone the NTZ↔TZ cast is an identity on the
    * underlying microseconds, which is exactly why both forms keep
    * hash-matching DuckDB. */
  private val canonicalTs: Map[String, Seq[(String, org.apache.spark.sql.types.DataType)]] = {
    import org.apache.spark.sql.types._
    Map(
      "events"   -> Seq("ts" -> TimestampType),
      "orders"   -> Seq("o_orderdate" -> TimestampNTZType),
      "lineitem" -> Seq("l_shipdate" -> TimestampNTZType))
  }

  /** Normalize one timestamp-encoded column to `target` by physical
    * encoding: a Long column is a NANOSECOND epoch → integer-divide
    * to us (the same truncation DuckDB applies reading a ns column);
    * Timestamp/NTZ → cast; anything else throws. SHARED by the batch
    * path above and the streaming events source
    * ([[graft.streaming.EventStreams.eventsFileStream]]) so the two
    * can never drift when the fixture's ts encoding changes — a bare
    * cast of the ns-epoch form would read SECONDS and silently break
    * every watermark. */
  def normalizeTs(df: DataFrame, c: String,
      actual: org.apache.spark.sql.types.DataType,
      target: org.apache.spark.sql.types.DataType,
      what: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    actual match {
      case t if t == target => df
      case LongType => df.withColumn(c,
        expr(s"timestamp_micros($c div 1000)").cast(target))
      case TimestampType | TimestampNTZType =>
        df.withColumn(c, col(c).cast(target))
      case other => throw new IllegalStateException(
        s"$what: unexpected physical type $other — update " +
          "Tables.normalizeTs callers")
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    canonicalTs.getOrElse(name, Nil).foldLeft(df) {
      case (d, (c, target)) =>
        normalizeTs(d, c, d.schema(c).dataType, target, s"$name.$c")
    }
  }
}

/** Central SparkSession factory: every entry point (Verify, Bench, tests)
  * builds its session here so scale-oriented settings are uniform.
  * Tuned for local[N] but written for a real cluster: AQE handles
  * post-shuffle coalescing and skew; shuffle partitions match cores.
  */
object GraftSession {
  /** Local cores for the mains: `SPARK_GRAFT_CPUS`, else every host
    * core. Set it on runs you will compare or commit; the bench
    * artifact's `cpus` field records what ran. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // join strategy, parquet codec and output committer stay at
      // Spark's stock values, each measured against an alternative:
      // plan-time preferSortMergeJoin=false regressed corpus-vs-corpus
      // joins ~1.4× (x26 at sf1: 11.2 vs 7.9–9.6 s, 2–4× the GC); the
      // AQE shuffled-hash-join rewrite never fired (most joins
      // broadcast, and AQE coalesces the rest at its own advisory
      // size); zstd and committer v2 showed no win. GraftSessionSpec
      // pins the four effective values.
      .config("spark.sql.session.timeZone", "UTC")
      // grouped top-k (GroupedTopK) plans as ObjectHashAggregate; the
      // stock 128-key fallback would sort a partition's input by group
      // key once a scan sees >128 query ids. Buffers are ≤ 2k longs, so
      // 4096 in-memory groups is still < 1 MB per task.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      // generated classes per JVM: the stock 100 entries evict a warm
      // nightly_ingest night's classes, which it then compiles again.
      // A/B, this conf alone (perfbench nightly_ingest, 4-core host,
      // alternating): traced seeds 9901/9902, 2/2 pairs, codegen
      // classes per night 79 → 5.3 and 100 → 4.7; untraced seeds
      // 9911-9913, 3/3 pairs, median night p50 6,705 → 5,879 ms, tail
      // 11.6 → 9.6 s, cache_mb equal.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.ui.enabled", "false")
}
