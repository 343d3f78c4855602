package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StringType, StructField, StructType}

import graft.SparkSpec
import graft.embed.{EmbeddingPipeline, HashingEmbedder}

/** The whole-operator kNN rewrite: rule fires on the declarative
  * pattern, the physical plan carries ONE top-k exec with its merge to
  * a single partition inside it (no planned exchange), and the results
  * are row-identical to Spark's un-rewritten Sort+Limit on every edge
  * the operator claims to handle (desc similarity, nulls, ties, k > n,
  * multi-partition, one-partition and zero-partition inputs). */
class KnnTopKSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def corpus: DataFrame = {
    import spark.implicits._
    // 999 deterministic 8-dim vectors over 7 partitions; ids as tiebreak
    (0 until 999).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 101).toDouble))
    }.toDF("id", "vec").repartition(7)
  }

  private val qvec: Seq[Double] = Seq.tabulate(8)(d => (d * 13 % 101).toDouble)

  private def l2q(df: DataFrame): DataFrame =
    df.withColumn("dist",
      call_function("graft_l2_distance", col("vec"), typedLit(qvec)))

  /** Off = Spark's own rule exclusion: the stock reference plan. */
  private def withRewrite[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    if (!on) spark.conf.set(key, "graft.plans.KnnTopKRewrite")
    try body finally spark.conf.unset(key)
  }

  private def executed(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  /** The one KnnTopKExec of an executed plan. */
  private def knnExec(df: DataFrame): KnnTopKExec = {
    df.collect()
    val execs = collect(df.queryExecution.executedPlan) {
      case k: KnnTopKExec => k
    }
    assert(execs.size == 1, df.queryExecution.executedPlan)
    execs.head
  }

  /** Shuffles in the lineage the top-k adds to its child's. */
  private def addedShuffles(exec: KnnTopKExec): Int = {
    def shuffles(rdd: RDD[_]) =
      "ShuffledRowRDD\\[".r.findAllMatchIn(rdd.toDebugString).size
    shuffles(exec.execute()) - shuffles(exec.child.execute())
  }

  test("rule rewrites orderBy(l2).limit(k) into one KnnTopK exec") {
    val df = l2q(corpus).orderBy(col("dist"), col("id")).limit(10)
    val p = executed(df)
    assert(p.contains("KnnTopKGlobal"), p)
    assert(!p.contains("KnnTopKLocal"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("TakeOrderedAndProject"), p)
    // 7 input partitions: the local heaps merge through an internal
    // shuffle onto the one output partition
    val exec = knnExec(df)
    assert(exec.child.execute().getNumPartitions == 7)
    assert(exec.execute().getNumPartitions == 1)
    assert(addedShuffles(exec) == 1)
  }

  test("one input partition: the local heap is the answer, no shuffle") {
    val build = () => l2q(corpus.coalesce(1))
      .orderBy(col("dist"), col("id")).limit(12)
    val df = build()
    val exec = knnExec(df)
    assert(exec.child.execute().getNumPartitions == 1)
    assert(exec.execute().getNumPartitions == 1)
    assert(addedShuffles(exec) == 0)
    val stock = withRewrite(on = false) { build().collect() }
    assert(df.collect().toSeq == stock.toSeq)
  }

  test("zero input partitions: 0 rows on one partition, no exception") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType))))
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    val df = l2q(empty).orderBy(col("dist"), col("id")).limit(5)
    val exec = knnExec(df)
    assert(exec.child.execute().getNumPartitions == 0)
    assert(exec.execute().getNumPartitions == 1)
    assert(df.collect().isEmpty)
  }

  test("an empty store searches to 0 rows") {
    val schema = StructType(Seq(StructField("product_code", StringType),
      StructField("embedding", ArrayType(FloatType))))
    val store = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    import spark.implicits._
    val catalog = Seq(("P1", "one")).toDF("product_code", "product_name")
    val hits = EmbeddingPipeline.search(store, catalog, "any query",
      HashingEmbedder(8), k = 3)
    assert(hits.collect().isEmpty)
  }

  test("projection AFTER the limit (the x04 bench shape) still rewrites") {
    // .limit(k).select(c): Catalyst pushes the Project below the Limit,
    // landing the Limit(Project(Sort)) shape the rule matches
    val df = l2q(corpus).orderBy(col("dist"), col("id")).limit(10)
      .select("id")
    val p = executed(df)
    assert(p.contains("KnnTopKGlobal"), p)
    assert(df.columns.toSeq == Seq("id"))
  }

  test("rewrite off => stock TakeOrderedAndProject; same rows either way") {
    val build = () => l2q(corpus).orderBy(col("dist"), col("id")).limit(25)
    val (fast, stock) = (
      withRewrite(on = true) { build().collect() },
      withRewrite(on = false) {
        val df = build()
        val rows = df.collect()
        assert(df.queryExecution.executedPlan.toString
          .contains("TakeOrderedAndProject"))
        rows
      })
    assert(fast.toSeq == stock.toSeq)
  }

  test("inline sort key (no projected column) also fires") {
    val df = corpus
      .orderBy(call_function("graft_l2_distance", col("vec"), typedLit(qvec)),
        col("id"))
      .limit(5)
    assert(executed(df).contains("KnnTopKGlobal"))
    assert(df.count() == 5)
  }

  test("descending cosine similarity top-k") {
    val build = () => corpus
      .withColumn("sim",
        call_function("graft_cosine", col("vec"), typedLit(qvec)))
      .orderBy(col("sim").desc, col("id"))
      .limit(7)
    val fast = withRewrite(on = true) {
      val df = build()
      val rows = df.collect()
      assert(df.queryExecution.executedPlan.toString.contains("KnnTopKGlobal"))
      rows
    }
    val stock = withRewrite(on = false) { build().collect() }
    assert(fast.toSeq == stock.toSeq)
  }

  test("null distances follow the Sort null ordering") {
    import spark.implicits._
    val withNulls = (0 until 50).map { i =>
      (i.toLong,
        if (i % 9 == 0) null
        else Array.tabulate(8)(d => ((i + d) % 11).toDouble))
    }.toDF("id", "vec").repartition(5)
    def build(desc: Boolean) = {
      val keyed = l2q(withNulls)
      val key = if (desc) col("dist").desc else col("dist")
      keyed.orderBy(key, col("id")).limit(8)
    }
    for (desc <- Seq(false, true)) {
      val fast = withRewrite(on = true) { build(desc).collect() }
      val stock = withRewrite(on = false) { build(desc).collect() }
      assert(fast.toSeq == stock.toSeq, s"desc=$desc")
    }
  }

  test("ties resolved by secondary keys, k > n returns all rows") {
    import spark.implicits._
    // every vector identical => all distances tie; order must fall to id
    val tied = (0 until 40)
      .map(i => (i.toLong, Array.fill(4)(1.0)))
      .toDF("id", "vec").repartition(3)
    val desc = l2q(tied).orderBy(col("dist"), col("id").desc).limit(6)
    assert(executed(desc).contains("KnnTopKGlobal"))
    assert(desc.collect().map(_.getLong(0)).toSeq ==
      Seq(39L, 38L, 37L, 36L, 35L, 34L))
    val all = l2q(tied).orderBy(col("dist"), col("id")).limit(100).collect()
    assert(all.length == 40)
    assert(all.map(_.getLong(0)).toSeq == (0L until 40L))
  }

  test("k above KnnTopK.MaxK falls back to Spark") {
    // RDD-backed, so Spark cannot bound the rows and drop a limit above
    // the corpus size
    val unbounded = spark.createDataFrame(corpus.rdd, corpus.schema)
    val p = executed(l2q(unbounded).orderBy(col("dist"), col("id"))
      .limit(KnnTopK.MaxK + 1))
    assert(!p.contains("KnnTopK"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("plain non-vector sort keys are left alone") {
    val p = executed(corpus.orderBy(col("id")).limit(5))
    assert(!p.contains("KnnTopK"), p)
  }
}
