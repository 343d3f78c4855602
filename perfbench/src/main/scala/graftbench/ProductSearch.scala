package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}

import graft.embed.{EmbeddingPipeline, HashingEmbedder}
import graft.etl.{Normalize, Pipeline, ProductDoc}

/** `product_search`: set-up runs the catalog pipeline on generated raw
  * product CSVs (read → standard chain → normalize → documents →
  * embeddings → parquet store); the timed part is a closed loop of
  * top-k `EmbeddingPipeline.search` over the stored catalog, first with
  * one client and then with `cores` clients. Latency-bound jobs where
  * query planning and scheduling compete with a brute-force scan. */
final class ProductSearch extends Workload {
  private val NRows = 4000
  private val NFiles = 8
  private val K = 3
  private val Dim = 64
  private val CheckQueries = 12
  private val Warmup = 100
  private var seed = 0L
  private var queries: IndexedSeq[String] = _
  private var queryProps: Seq[(String, Any)] = Nil
  private var queryDigest = ""

  val kind = "search"

  def generate(seed: Long): Unit = {
    this.seed = seed
    val (qs, props, d) = Gen.queries(seed)
    queries = qs
    queryProps = props
    queryDigest = d
  }

  def run(ctx: Ctx, ph: Phases): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val cat = Gen.catalog(seed, new java.io.File(ctx.work, "raw"), NRows, NFiles)
    val embedder = HashingEmbedder(Dim)
    val now = lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))

    // ---- set-up: the reference catalog pipeline into a parquet store
    var stageResults: Seq[Pipeline.StageResult] = Nil
    var csvPartitions = 0
    def buildStore(): Unit = Trace.op(ctx.sc, "setup") {
      val out = ctx.path("store")
      val raw = Trace.span("etl.read_csv") {
        val r = Pipeline.readRawCsv(spark, ctx.path("raw/*.csv")).persist()
        r.count()
        r
      }
      csvPartitions = raw.rdd.getNumPartitions
      val staged = Trace.span("etl.chain") {
        val (s, results) = Pipeline.run(raw, Pipeline.standardChain(seed))
        stageResults = results
        val p = s.persist()
        p.count()
        p
      }
      val catalog = Trace.span("etl.normalize") {
        val o = Normalize(staged, now)
        val c = o.products.join(o.categories.select("category_id", "category_name",
            "category_description"), Seq("category_id"))
          .select(col("product_code"), col("product_name"),
            col("product_brand"), col("category_id").cast("int"),
            col("category_name"),
            col("category_description"), col("product_description"),
            col("product_unit_price"), col("product_discount_percentage"),
            col("product_overall_stars"), col("product_total_ratings"),
            col("product_total_orders"), col("product_stock_quantity"),
            lit("").as("product_currency"))
          .as[ProductDoc].persist()
        c.count()
        c
      }
      val docs = Trace.span("embed.build_docs") {
        val d = EmbeddingPipeline.buildDocuments(catalog).persist()
        d.count()
        d
      }
      val store = Trace.span("embed.embed") {
        val s = EmbeddingPipeline.embedDocuments(docs, embedder).persist()
        s.count()
        s
      }
      Trace.span("io.store_write") {
        store.write.mode("overwrite").parquet(s"$out/store")
        catalog.toDF().write.mode("overwrite").parquet(s"$out/catalog")
      }
      // drop every set-up cache (Normalize caches its input too)
      ctx.sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    ph.log("inputs written")
    ph.setup(buildStore())
    ph.log("catalog pipeline done")
    val (store, catalog) = ph.setup {
      val s = spark.read.parquet(ctx.path("store/store")).persist()
      val c = spark.read.parquet(ctx.path("store/catalog")).persist()
      s.count(); c.count()
      (s, c)
    }
    ph.freezeConf()

    def search(q: String): Array[Row] =
      Trace.span("embed.search") {
        EmbeddingPipeline.search(store, catalog, q, embedder, K)
          .select("product_code", "dist", "product_name").collect()
      }

    val next = new AtomicLong(0)
    def nextQuery(): String = queries((next.getAndIncrement() % queries.size).toInt)

    /** `n` closed-loop clients, each sending its next query when the last
      * returns, while `go()` holds: (latencies in ms, wall seconds). */
    def closedLoop(n: Int, go: () => Boolean): (Seq[Double], Double) = {
      val lat = new ConcurrentLinkedQueue[Double]()
      val t0 = System.nanoTime()
      val threads = (0 until n).map(_ => new Thread(() => {
        while (go()) {
          val q = nextQuery()
          val s = System.nanoTime()
          if (ph.attempt("search")(search(q)).isDefined)
            lat.add((System.nanoTime() - s) / 1e6)
        }
      }))
      threads.foreach(_.start())
      threads.foreach(_.join())
      (lat.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    // warmup (part of set-up, not measured): query latency keeps falling
    // for the first hundred-odd queries while the JIT compiles the
    // planner; `cores` clients get there in a third of the time
    ph.setup {
      val left = new java.util.concurrent.atomic.AtomicInteger(Warmup)
      closedLoop(ctx.cores, () => left.getAndDecrement() > 0)
    }

    // ---- closed loop, 1 client then `cores` clients
    val c1 = mutable.ArrayBuffer.empty[Double]
    val answers = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]()
    def one(): Boolean = {
      val q = nextQuery()
      ph.attempt("search") {
        val (rows, o) = Trace.op(ctx.sc, "search")(search(q))
        answers.putIfAbsent(q, rows)
        (o.end - o.start) / 1e6
      } match {
        case Some(ms) => c1 += ms; true
        case None => true
      }
    }
    ph.log("warm")
    ph.measure(ctx.seconds / 2, minIters = 50) { _ => one() }
    ph.log(s"c1 done: ${c1.size} queries")
    val cacheMb = ph.cacheMb()
    ph.restoreConf()
    val probe = ph.stopTrace()
    val tracedOps = Layers.views("search", probe)
    val nTraced = math.max(1, tracedOps.size).toDouble
    val tracedWallMs = tracedOps.map(v => (v._1.end - v._1.start) / 1e6).sum
    def perQuery(f: Probe#OpAcc => Double): Double =
      Layers.sumOver("search", "embed.search", probe)(f) / nTraced
    val layerMetrics =
      if (!ctx.trace) Nil
      else Seq(
        // operator time the executed plans report, per core-second of query
        ("vector.search_share", if (tracedWallMs > 0)
          perQuery(_.planTimingMs) * nTraced / (tracedWallMs * ctx.cores) else 0.0, "ratio"),
        ("vector.rows_scored_per_query",
          perQuery(_.joinRows.getOrElse("BroadcastNestedLoopJoinExec", 0L).toDouble), "count"),
        ("plans.knn_rewrite_hits", perQuery(_.knnExecs.toDouble), "count"))

    val cmaxDeadline = System.nanoTime() +
      ((if (ctx.trace) 0.0 else ctx.seconds / 2) * 1e9).toLong
    val (cm, cmaxWall) = closedLoop(ctx.cores, () => System.nanoTime() < cmaxDeadline)
    ph.restoreConf()
    ph.log(s"cmax done: ${cm.size} queries")

    // ---- output checks: brute-force top-k over the collected store
    val vecs = store.select("product_code", "embedding").as[(String, Array[Float])]
      .collect()
    val codes = catalog.select("product_code").as[String].collect().toSet
    val problems = mutable.ArrayBuffer.empty[String]
    val checked = answers.asScala.toSeq.sortBy(_._1).take(CheckQueries)
    checked.foreach { case (q, rows) =>
      val qv = embedder.embedBatch(Seq(q)).head
      val expect = vecs.map { case (_, v) =>
        math.sqrt(v.indices.map(i => { val d = v(i).toDouble - qv(i); d * d }).sum)
      }.sorted.take(K).toSeq
      val got = rows.map(_.getDouble(1)).sorted.toSeq
      if (got.size != expect.size ||
          got.zip(expect).exists { case (a, b) => math.abs(a - b) > 1e-6 })
        problems += s"top-$K distances for '$q': got $got, brute force $expect"
      rows.foreach { r =>
        if (r.getString(0) == null || !codes.contains(r.getString(0)) || r.isNullAt(2))
          problems += s"hit for '$q' does not join back to a product: $r"
      }
    }
    if (checked.isEmpty) problems += "no query answered"
    ph.failed += math.min(problems.size, ph.attempted - ph.failed)

    val c1s = c1.toSeq
    val c1Tail = Stats.tail(c1s)
    val cmTail = if (cm.isEmpty) None else Some(Stats.tail(cm))
    val qps = if (cm.isEmpty) 0.0 else cm.size / cmaxWall
    Outcome(
      metrics = Seq(
        ("op_p50_ms", Stats.median(c1s), "ms"),
        ("op_tail_ms", c1Tail.value, "ms"),
        ("work_per_s", qps, "1/s"),
        ("cache_mb", cacheMb, "MB")) ++ layerMetrics,
      checks = Seq(
        ("topk_distances_match_brute_force", !problems.exists(_.startsWith("top-")),
          s"${checked.size} queries"),
        ("hits_join_back_to_products", !problems.exists(_.startsWith("hit ")), "")),
      artifact = Seq(
        "inputs" -> ListMap(cat.props ++ queryProps ++ Seq(
          "store_rows" -> vecs.length, "vector_dim" -> Dim, "k" -> K,
          "csv_partitions_read" -> csvPartitions): _*),
        "input_digest" -> (cat.digest + ":" + queryDigest),
        "stage_results" -> stageResults.map(r => s"${r.name}:${r.status}"),
        "search_c1_p50_ms" -> Stats.median(c1s),
        "search_c1_tail_ms" -> ListMap("value" -> c1Tail.value,
          "percentile" -> c1Tail.percentile, "n" -> c1Tail.n, "beyond" -> c1Tail.beyond),
        "search_c1_ms" -> c1s,
        "search_cmax_qps" -> qps,
        "search_cmax_clients" -> ctx.cores,
        "search_cmax_tail_ms" -> cmTail.map(t => ListMap("value" -> t.value,
          "percentile" -> t.percentile, "n" -> t.n, "beyond" -> t.beyond)),
        "problems" -> problems.toSeq))
  }
}
