package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the per-family suites (one entry per
  * implemented operator from SURVEY.md §2); `oracleSql` carries the
  * DuckDB-equivalent SQL the driver hash-compares against at sf0.01.
  */
object SparkEntry {

  private val suites: Seq[QuerySuite] = Seq(
    RelationalSuite, JoinsSuite, FunctionsSuite, EventsSuite, WindowSuite,
    VectorSuite, DedupSuite, TextSuite, SketchSuite, ProfileSuite,
    CurationSuite, BenchSuite, MultimodalSuite)

  private lazy val all: Seq[GraftQuery] = suites.flatMap(_.suite)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A multi-operator showcase: scan → broadcast dim joins → fact join →
    * window → grouped agg → top-k.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val rev = li
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
    rev.withColumn("rnk", row_number().over(Window.orderBy(col("revenue").desc)))
      .filter(col("rnk") <= 10)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** Every registered arm (the oracle surface and the bench-only arms)
    * by name, with its declared confs: run one through [[Arm.run]]. */
  def arms: Map[String, GraftQuery] =
    (all ++ BenchSuite.benchOnly).map(q => q.name -> q).toMap

  /** Bench-only arms (flag A/B pairs, engine-internal sketches, k-means
    * IVF, lifecycle arms): timed by [[Bench]] and plan-asserted in
    * specs, but NOT part of the correctness record — they either
    * duplicate a twin's output by construction or have no cross-engine
    * oracle. */
  def benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    BenchSuite.benchOnly.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
