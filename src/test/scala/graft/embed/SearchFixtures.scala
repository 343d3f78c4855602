package graft.embed

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.graft.{PreparedSearches, TestBus}

import graft.plans.PreparedSearchExec

/** Shared by the search specs: random small-integer stores with the
  * shapes that break a stale or wrong search (null embeddings, repeated
  * product codes, a distance-tie group straddling rank k), the
  * plain-Scala answers both search modes must equal, and the physical
  * plan a collected search ran. */
object SearchFixtures extends AdaptiveSparkPlanHelper {

  val dim = 4

  /** Maps each query text to its vector: "q:<i>" is `queries(i)`. */
  final case class TableEmbedder(queries: IndexedSeq[Array[Float]])
      extends TextEmbedder {
    def dim: Int = SearchFixtures.dim
    def embedBatch(texts: Seq[String]): Seq[Array[Float]] =
      texts.map(t => queries(t.stripPrefix("q:").toInt))
  }

  type Store = Seq[(String, Array[Float])]

  /** A store of `n` random rows with coordinates in -2..2, at squared
    * norm ≥ 2, plus: two unit vectors; eight vectors at squared norm 2
    * (for the zero query, ranks 3..10 tie, straddling k = 5); every 9th
    * embedding null; P003 and P010 stored again under their own code,
    * P003 with the same vector and P010 with another. */
  def storeRows(n: Int, seed: Long): Store = {
    val rnd = new scala.util.Random(seed)
    def draw(): Array[Float] = {
      val v = Array.fill(dim)((rnd.nextInt(5) - 2).toFloat)
      if (v.map(x => x * x).sum >= 2) v else draw()
    }
    val random = (0 until n).map { i =>
      (f"P$i%03d", if (i % 9 == 4) null else draw())
    }
    val units = Seq(("U0", Array(1f, 0f, 0f, 0f)), ("U1", Array(0f, 0f, -1f, 0f)))
    val ties = Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (0, 1), (2, 3))
      .zipWithIndex.map { case ((a, b), i) =>
        val v = new Array[Float](dim)
        v(a) = if (i % 2 == 0) 1f else -1f
        v(b) = if (i < 4) 1f else -1f
        (s"T$i", v)
      }
    val base = random ++ units ++ ties
    base ++ Seq(base.find(_._1 == "P003").get, ("P010", draw()))
  }

  /** 200 query vectors: the zero vector, then random ones with
    * coordinates in -2..2 (ties common) or Gaussian. */
  def queries(seed: Long, n: Int = 200): IndexedSeq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    new Array[Float](dim) +: (1 until n).map { i =>
      if (i % 2 == 0) Array.fill(dim)((rnd.nextInt(5) - 2).toFloat)
      else Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
  }

  /** (code, dist) of every searchable row, with `graft_l2_distance`'s
    * arithmetic. */
  def dists(rows: Store, q: Array[Float]): Seq[(String, Double)] =
    rows.collect { case (c, v) if v != null =>
      var acc = 0.0
      v.indices.foreach { i =>
        val d = v(i).toDouble - q(i).toDouble
        acc = acc + d * d
      }
      (c, math.sqrt(acc))
    }

  /** Plain mode: the k nearest by (dist, code), ranked 1..k. */
  def plain(rows: Store, q: Array[Float], k: Int): Seq[(String, Double, Int)] =
    dists(rows, q).sortBy { case (c, d) => (d, c) }.take(k).zipWithIndex
      .map { case ((c, d), i) => (c, d, i + 1) }

  /** With ties: every row at dist ≤ the k-th smallest, ranked by SQL
    * `rank()` — V13BoundarySpec's recompute. */
  def withTies(rows: Store, q: Array[Float], k: Int): Seq[(String, Double, Int)] = {
    val ds = dists(rows, q)
    if (ds.isEmpty) Nil
    else {
      val dK = ds.map(_._2).sorted.apply(math.min(k, ds.size) - 1)
      ds.filter(_._2 <= dK).map { case (c, d) => (c, d, 1 + ds.count(_._2 < d)) }
    }
  }

  def frameOf(spark: SparkSession, rows: Store, parts: Int): DataFrame = {
    import spark.implicits._
    rows.toDF("product_code", "embedding").repartition(parts)
  }

  /** A catalog of every store code except P001 and U1, whose hits keep
    * a null name. */
  def catalogOf(spark: SparkSession, rows: Store, prefix: String = "name of")
      : DataFrame = {
    import spark.implicits._
    rows.map(_._1).distinct.filterNot(Set("P001", "U1"))
      .map(c => (c, s"$prefix $c")).toDF("product_code", "product_name")
  }

  /** The name a hit on `code` joins to in [[catalogOf]]. */
  def nameOf(code: String, prefix: String = "name of"): String =
    if (Set("P001", "U1")(code)) null else s"$prefix $code"

  def cached(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }

  /** The plans held for the session's context, once every unpersist so
    * far has been heard. */
  def held(spark: SparkSession): Int = {
    TestBus.drain(spark.sparkContext)
    PreparedSearches.held(spark).size
  }

  /** The physical plan `df`'s search ran, once `df` is collected. */
  def ran(df: DataFrame): SparkPlan =
    collect(df.queryExecution.executedPlan) { case e: PreparedSearchExec => e }
      .flatMap(_.executed).head

  /** Every node of the plan `df`'s search ran, with the plans of its
    * query stages and subqueries. A cache scan's predicates are left
    * out: they are a copy of the filter above the scan, and the one
    * subquery they hold ran once, when the plan was built. */
  def ranNodes(df: DataFrame): Seq[SparkPlan] = nodes(ran(df))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _: InMemoryTableScanExec => Nil
    case _ => (p.children ++ p.subqueries).flatMap(nodes)
  })

  /** The store scans among `plan`'s nodes. */
  def storeScans(plan: Seq[SparkPlan]): Int = plan.count {
    case s: InMemoryTableScanExec => s.output.exists(_.name == "embedding")
    case _ => false
  }
}
