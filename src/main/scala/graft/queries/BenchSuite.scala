package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Arm, GraftQuery, QuerySuite, Tables}
import graft.vector.{ProductQuantizer, VectorSearch}

/** Performance-path queries: kNN, top-k, join and lifecycle arms on
  * a corpus inflated 100× (embeddings × sequence) so the distance loop
  * dominates. BENCH_FULL.json records their timings.
  *
  * Registry split (so the correctness record is structurally 100%-able):
  *  - `suite` — the deterministic production arms (x02, x04, x07,
  *    x11); each carries a DuckDB oracle like every other query. Their
  *    double distances cross-check exactly because both engines fold
  *    the squared diffs sequentially over exact float→double casts.
  *  - `benchOnly` — the flag-dependent A/B pairs (x09/x10 bloom,
  *    x22/x23 salting: identical output by construction, the PLAN is
  *    the assertion — PlanSpec), the not-cross-engine-reproducible
  *    internals (x03's k-means IVF, x06's Spark sketch builtins) and
  *    the lifecycle, streaming and index arms. Bench times them;
  *    Verify/CORRECTNESS never sees them.
  */
object BenchSuite extends QuerySuite {

  /** 100× synthetic inflation: each vector re-tagged with a replica id.
    * Deterministic (no rand); cached so the three x-queries time the
    * distance computation, not the re-inflation. */
  private def inflated(s: SparkSession, dir: String): DataFrame =
    Arm.memo(s, dir, "inflated")(
      Tables(s, dir, "embeddings")
        // the embeddings fixture is ONE parquet file with one row
        // group → one scan task → explode keeps ONE partition, and
        // every x-arm's corpus pass would run single-task (measured:
        // a 2M-row × 160-centroid assignment wedged at 1.2 cores for
        // 20+ min at sf1). Repartition the SMALL pre-explode frame so
        // the cached corpus has real task granularity.
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0L), lit(99L))).as("rep"))
        .select((col("vec_id") * 100 + col("rep")).as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .cache())(_.unpersist(blocking = true))

  private def queries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qvec"))

  /** DuckDB twins of the Spark-side double L2: the inflated corpus as a
    * CTE, and the distance as an explicitly SEQUENTIAL left fold over
    * exact float→double casts — the same evaluation order as the
    * codegen L2Distance loop, so the doubles are bit-identical. */
  private val inflatedSql =
    """SELECT e.vec_id * 100 + r.range AS id, e.embedding AS emb
       FROM embeddings e, range(0, 100) r"""
  private def l2Sql(a: String, b: String) =
    s"""sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      list_transform(range(1, 1 + len($a)),
        i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))
           * (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)))),
      (x, y) -> x + y))"""

  /** x02 — kNN through the codegen L2Distance expression (10 nearest
    * per query over the inflated corpus). */
  private val x02 = GraftQuery(
    "x02_knn_codegen",
    (s, dir) => VectorSearch.knn(inflated(s, dir), "id", "vec",
      queries(s, dir), "query_id", "qvec", k = 10)
      .withColumn("rank", col("rank").cast("long")),
    Some(s"""WITH c AS ($inflatedSql),
    q AS (SELECT vec_id AS query_id, embedding AS qemb
          FROM embeddings WHERE vec_id < 8),
    pairs AS (
      SELECT q.query_id, c.id, ${l2Sql("c.emb", "q.qemb")} AS dist
      FROM c, q)
    SELECT query_id, id, dist,
      CAST(row_number() OVER (PARTITION BY query_id ORDER BY dist, id)
        AS BIGINT) AS rank
    FROM pairs QUALIFY rank <= 10"""))

  /** x03 — IVF probe on the inflated corpus. The index is memoized per
    * (session, dir) like [[inflated]] itself: iteration 0 times
    * build + probe (the cold number), warm iterations time the probe
    * alone — matching how an IVF index is actually used (built once,
    * probed per query batch).
    *
    * nCells scales with the corpus (VERDICT r16 item 1 — the fixed 16
    * produced the only unexplained superlinear sf1 slope, 16.2× for
    * 10× rows): a real IVF index targets a per-cell row budget, not a
    * cell count, so the rows a probe scores (nprobe × cellSize) stay
    * flat as the corpus grows. Same ~12.5k-row cell budget as x32's
    * standing index. The cell count bounds the rows scored, not the
    * tasks: the in-memory index is not cell-partitioned, so the
    * broadcast probe join streams every cached partition. Seeds are
    * the lowest-id DISTINCT vectors; before that rule was shared, the
    * lowest 16 ids of this replica-inflated corpus were copies of one
    * vector and the index had ONE occupied cell, so the committed
    * x03/x15 pins scored the whole corpus (PERFORMANCE.md, "IVF cells
    * on the replica-inflated corpus"). */
  private val x03 = GraftQuery(
    "x03_knn_ivf",
    (s, dir) => {
      val index = Arm.memo(s, dir, "x03_ivf") {
        val corpus = inflated(s, dir)
        val nCells = math.max(16, (corpus.count() / 12500L).toInt)
        val built = VectorSearch.buildIvf(corpus, "id", "vec", nCells)
        // cache the assigned corpus: the index is the reusable artifact
        built.copy(assigned = built.assigned.cache())
      }(_.assigned.unpersist(blocking = true))
      VectorSearch.searchIvf(index, queries(s, dir), "query_id", "qvec",
        k = 10, nprobe = 2)
    })

  /** x14 — PQ/ADC approximate kNN on the inflated corpus (the
    * memory-bound scale path, [[graft.vector.ProductQuantizer]]): the
    * corpus scan touches m=32 byte codes per row instead of 64 doubles
    * — at a real 100 TB vector store the PQ index is 16-32× smaller
    * than the vectors and the ADC scan is bandwidth-bound on codes.
    * Model + encoded corpus memoized like the IVF index (cold =
    * train+encode+scan, steady = the ADC scan alone). Approximate
    * (recall pinned ≥ 0.7 in ProductQuantizerSpec, fixture-probed
    * 0.84) → bench-only, no oracle; compare steady time against the
    * exact x02 scan. */
  private val x14 = GraftQuery(
    "x14_pq_adc",
    (s, dir) => {
      val (model, encoded) = Arm.memo(s, dir, "x14_pq") {
        val m = ProductQuantizer.train(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", m = 32, ncent = 64, iters = 10)
        val enc = ProductQuantizer
          .encode(inflated(s, dir), "vec", m)
          .select("id", "pq_codes")
          .cache() // the encoded codes ARE the persisted index artifact
        (m, enc)
      }(_._2.unpersist(blocking = true))
      ProductQuantizer.search(encoded, "id", "pq_codes",
        queries(s, dir), "query_id", "qvec", model, k = 10)
    })

  /** x15 — IVFPQ (the FAISS architecture; completes the ANN ladder
    * x02 exact / x03 IVF / x14 PQ): probes scan nprobe/nCells of the
    * corpus AND each scanned row costs m byte-code lookups. The only
    * shape where neither the scan set nor the bytes-per-row grows
    * with the corpus. Approximations compose (ProductQuantizerSpec
    * pins all-cells parity with the flat ADC scan + pruned recall).
    * The nprobe/nCells fraction holds at sf0.1 only since seeds are
    * distinct vectors: the committed x15 pins, like x03's, were
    * measured on a one-cell index. */
  private val x15 = GraftQuery(
    "x15_ivfpq",
    (s, dir) => {
      val (index, model, cells) = Arm.memo(s, dir, "x15_ivfpq") {
        // r18: the same ~12.5k-row cell budget as x03/x27/x32 — x15
        // still carried the fixed 16 cells whose superlinear-slope
        // class r17 root-caused in x03 (probe scans nprobe/nCells of
        // the corpus: frozen cells mean the scanned FRACTION is
        // constant while rows grow, and the sf1 probe read 1/8th of
        // 2M rows instead of 1/80th). sf0.1 still builds 16 cells, so
        // its pins are untouched; measured sf1: 4.6 → ~1.8 s steady.
        val corpus = inflated(s, dir)
        val nCells = math.max(16, (corpus.count() / 12500L).toInt)
        val idx = VectorSearch.buildIvf(corpus, "id", "vec", nCells)
        val m = ProductQuantizer.train(Tables(s, dir, "embeddings"),
          "vec_id", "embedding", m = 32, ncent = 64, iters = 10)
        val enc = ProductQuantizer.encodeIvf(idx, "vec", m)
          .repartition(col("cell")).cache()
        (idx, m, enc)
      }(_._3.unpersist(blocking = true))
      ProductQuantizer.searchIvfPq(index, cells, queries(s, dir),
        "query_id", "qvec", model, k = 10, nprobe = 2)
    })

  /** x16 — BPE encode throughput: tokenize the documents corpus with a
    * model trained on it (memoized — training is the one-time cost,
    * the per-round number is the encode projection). Output is the
    * per-doc subword count + the reassembled char count, so the whole
    * token stream materializes. */
  private val x16 = GraftQuery(
    "x16_bpe_encode",
    (s, dir) => {
      val model = Arm.memo(s, dir, "x16_bpe")(
        graft.ops.BpeTrainer.train(Tables(s, dir, "documents"), "text",
          nMerges = 200, maxVocab = 20000))(_ => ())
      Tables(s, dir, "documents")
        .select(col("doc_id"), model.encodeCol(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_subwords"),
          aggregate(transform(col("toks"), t => length(t)),
            lit(0L), (a, x) => a + x).as("n_chars"))
    })

  /** x04 — the KnnTopK rewrite ([[graft.plans.KnnTopKRewrite]]) on
    * the INLINE pgvector idiom `orderBy(l2_distance(vec, q)).limit(k)`,
    * where stock Spark's TakeOrderedAndProject would re-evaluate the
    * distance expression inside every heap comparison (O(d·log k) per
    * row) while the rewrite evaluates it once per row. */
  private def topkInline(s: SparkSession, dir: String): DataFrame = {
    val qvec = Tables(s, dir, "embeddings").filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .collect().head.getSeq[Double](0).toIndexedSeq
    // project the vec column away AFTER the limit: the driver's
    // rows-only check loads the result into pandas, which cannot sort
    // array cells (round-4 x04 errored on exactly that); the
    // rewrite matches the sort.limit.select shape either way
    inflated(s, dir)
      .orderBy(
        call_function("graft_l2_distance", col("vec"), typedLit(qvec)),
        col("id"))
      .limit(500)
      .select(col("id"))
  }

  private val topkInlineSql =
    s"""WITH c AS ($inflatedSql),
    p AS (SELECT embedding AS pemb FROM embeddings WHERE vec_id = 0)
    SELECT c.id FROM c, p
    ORDER BY ${l2Sql("c.emb", "p.pemb")}, c.id LIMIT 500"""

  private val x04 = GraftQuery(
    "x04_topk_rewrite",
    (s, dir) => topkInline(s, dir),
    Some(topkInlineSql))

  /** x06 — Spark's own sketch builtins (SURVEY §2.5 "free if we expose
    * them"), rows-only checked: HLL++ approx_count_distinct and
    * t-digest-ish approx_percentile per event type. Engine-internal
    * sketches are NOT cross-engine deterministic (unlike the graft
    * s-family), hence bench-tier rather than oracle-paired. */
  private val x06 = GraftQuery(
    "x06_spark_approx",
    (s, dir) =>
      Tables(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(1000))
            .as("approx_median"),
          count(lit(1)).as("n")))

  /** x07/x11 — top-k on a LOW-cardinality group (one lang-like key
    * from the full lineitem): the per-group window vs the grouped
    * bounded-heap aggregate. With 3 groups over 600k counted rows the
    * window would sort each group in ONE task; Spark's partial
    * WindowGroupLimit prunes each map task to top-5 per group first
    * (PlanSpec). Output (top-5 per group) is identical. */
  private def grouped(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_returnflag").as("g"),
        (col("l_partkey") * 10000 + col("l_suppkey")).as("item"))
      .groupBy("g", "item")
      .agg(count(lit(1)).as("cnt"))

  /** Both arms emit identical rows — the shared integer-exact oracle
    * checks each. */
  private val groupedTopkSql =
    """SELECT g, item, cnt,
      CAST(row_number() OVER (PARTITION BY g ORDER BY cnt DESC, item ASC)
        AS BIGINT) AS rank
    FROM (SELECT l_returnflag AS g,
            l_partkey * 10000 + l_suppkey AS item, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2)
    QUALIFY rank <= 5"""

  private val x07 = GraftQuery(
    "x07_topk_direct",
    (s, dir) => graft.ops.Ops.topKPerGroup(grouped(s, dir), Seq("g"),
      Seq(col("cnt").desc, col("item").asc), 5)
      .withColumn("rank", col("rank").cast("long")),
    Some(groupedTopkSql))

  /** x11 — x07's question through the grouped bounded-heap
    * AGGREGATE ([[graft.ops.Ops.topKPerGroupAgg]]). Unlike the window
    * form it shuffles NOTHING group-sized: partial ObjectHashAggregate
    * reduces each partition to ≤ 3 groups × 5 pairs map-side. Identical
    * rows, same oracle. */
  private val x11 = GraftQuery(
    "x11_topk_groupagg",
    (s, dir) => graft.ops.Ops.topKPerGroupAgg(grouped(s, dir), Seq("g"),
      col("cnt"), col("item"), 5, "cnt", "item", "rank",
      descending = true)
      .withColumn("rank", col("rank").cast("long")),
    Some(groupedTopkSql))

  /** x09/x10 — runtime BLOOM-FILTER semi-join reduction A/B (Spark's
    * InjectRuntimeFilter): a selective dim filter (≈5% of orders) joins
    * the fact over a SHUFFLE join (broadcast disabled both sides so the
    * A/B isolates the bloom effect); with the filter on, the optimizer
    * builds a bloom filter from the dim's join keys and prunes fact
    * rows BEFORE the fact shuffle — at 100 TB that's the difference
    * between shuffling the whole fact table and shuffling the ~5% that
    * can match. Thresholds are lowered to let the rule fire at bench
    * scale; plan pinned in PlanSpec (bloom_filter_might_contain on the
    * fact scan side). Rows-only checked (the A/B twin is the oracle of
    * shape; x10's output is identical by construction). */
  private def bloomJoin(name: String, bloom: Boolean): GraftQuery =
    GraftQuery(name, (s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") >= lit("1995-01-01").cast("timestamp"))
      Tables(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }, confs = noBroadcast ++ Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> bloom.toString,
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> "1KB"))

  /** The shuffle-join A/Bs (x09/x10, x22/x23) turn broadcasting off. */
  private val noBroadcast = Map(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private val x09 = bloomJoin("x09_bloom_join", bloom = true)
  private val x10 = bloomJoin("x10_bloom_off", bloom = false)

  /** x12 — the production as-of plan (union + carry-forward window,
    * `Ops.asofJoin`; j10's engine side re-timed): events as the left
    * side, orders deduped to one row per (custkey, orderdate). */
  private val x12 = GraftQuery(
    "x12_asof_carry",
    (s, dir) => {
      val e = Tables(s, dir, "events").select("event_id", "user_id", "ts")
      val r = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"),
          max_by(col("o_totalprice"), col("o_orderkey")).as("o_totalprice"))
      graft.ops.Ops.asofJoin(e, r, "user_id", "o_custkey",
        "ts", "o_orderdate", Seq("o_orderkey", "o_orderdate", "o_totalprice"))
    })

  // ---- x17/x18: the streaming operators' cost at bench scale ----

  /** Drive a REAL Structured Streaming query over the sf events
    * parquet (file source, Trigger.AvailableNow, noop sink) and block
    * until it finishes — the measured wall time IS the streaming cost,
    * including state store churn and the watermark-flush batch.
    * Correctness of these operators is spec-pinned (EventStreamsSpec);
    * VERDICT r10 item 6 asked for their COST to be tracked too.
    *
    * State partitioning (VERDICT r14 item 5): a stateful query's
    * partition count is baked into its checkpoint at the first batch,
    * and each partition carries its own state-store INSTANCES (a
    * stream-stream join runs four per partition), each paying a fixed
    * delta-file write + fsync per micro-batch regardless of how little
    * state it holds. Inheriting the batch default (= cores = 32) made
    * x21 pay 128 store commits per batch for 14 MB of total state —
    * profiled at 8.9 s, of which the join itself was ~1.3 s
    * (PERFORMANCE.md "x21 profile"). Stateful
    * streaming partitions must be sized to STATE VOLUME (target tens
    * of MB per partition), not to core count; 8 partitions hold to
    * sf1 (~140 MB state → ~17 MB each) and cut x21 3.2×. */
  private val streamStateParts = "8"

  private def streamArm(name: String,
      build: (SparkSession, DataFrame) => org.apache.spark.sql.Dataset[_],
      extraConfs: Map[String, String] = Map.empty)
      : GraftQuery =
    GraftQuery(name, (s, dir) => {
      val stream = graft.streaming.EventStreams.eventsFileStream(s, dir)
      // run scratch: deleted when the run ends, off the bench clock
      val ckpt = Arm.tempDir(s, "graft-bench-ckpt")
      val q = build(s, stream).writeStream
        .format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .start()
      try q.awaitTermination()
      finally {
        // the bench watchdog CANNOT cancel a streaming query (its
        // microbatch jobs run under the stream-execution thread's job
        // group, not the worker's), and an interrupted worker dies
        // rather than surviving — so without this stop a timed-out
        // stream would keep running, overlapping every later timing
        // with no taint mark. Stop it on EVERY exit path.
        try { if (q.isActive) q.stop() }
        catch { case scala.util.control.NonFatal(_) => () }
      }
      // the timed work happened above; hand the harness a trivial frame
      s.range(1).toDF("ok")
    }, confs = extraConfs +
      ("spark.sql.shuffle.partitions" -> streamStateParts))

  /** x17 — streaming as-of enrichment (flatMapGroupsWithState with
    * event-time timeout) over the full events table: lefts = clicks &
    * views, rights = purchases, per-user latest-at-or-before match. */
  private val x17 = streamArm("x17_stream_asof", (s, stream) => {
    val left = stream
      .filter(col("event_type").isin("click", "view"))
      .select(col("user_id"), col("ts"), col("event_id"))
    val right = stream
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
    graft.streaming.EventStreams.asofEnrich(left, right)
  })

  /** x18 — streaming windowed heavy hitters (mergeable Misra-Gries
    * aggregate per event-time day window). */
  private val x18 = streamArm("x18_stream_hh", (s, stream) =>
    graft.streaming.EventStreams.windowedHeavyHitters(stream))

  /** x21 — streaming stream-stream interval join (attribution: each
    * purchase joins the same user's clicks/views in the preceding
    * hour; both sides watermarked, the two-ended time bound is what
    * lets Spark age out join state). Completes the streaming family's
    * cost tracking (x17 as-of, x18 heavy hitters); correctness is
    * spec-pinned against the batch twin in EventStreamsSpec. */
  private val x21 = streamArm("x21_stream_ssj", (s, stream) => {
    val cands = stream.filter(col("event_type").isin("click", "view"))
    val convs = stream.filter(col("event_type") === "purchase")
    graft.streaming.EventStreams.intervalJoin(cands, convs)
  },
    // r18: the terminal no-data micro-batch re-pays every state-store
    // instance's commit once more purely to EVICT state — for an INNER
    // interval join it emits nothing (inner joins emit in their data
    // batch; the r14 x21 profile (PERFORMANCE.md) measured it at ~40%
    // of the post-fix wall). x17's flatMapGroupsWithState timeouts and
    // x18's append-mode window flush EMIT on that batch, so only x21
    // turns it off; output is unchanged (spec-pinned vs the batch
    // twin).
    extraConfs = Map(
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"))

  /** x22/x23 — salted-join skew A/B (`Ops.saltedJoin`): the lineitem
    * fact joined on the 3-value l_returnflag key against a per-flag
    * stats frame, broadcast disabled both sides so the join must
    * shuffle (the "small-but-not-broadcastable right side" regime) and
    * AQE's own skew splitting off so the A/B isolates salting itself.
    * Plain (x23): hashpartitioning(l_returnflag) lands each hot key on
    * ONE reducer — the 100 TB failure mode where a single task sorts a
    * third of the fact table. Salted (x22): the left adds a uniform
    * __salt, the right replicates saltN ways, and the exchange keys on
    * (flag, salt) — every hot key spreads over saltN reducers.
    * Identical output by construction (the salt never reaches the
    * result); plan pinned in PlanAuditR11Spec. */
  private def saltedArm(name: String, salted: Boolean): GraftQuery =
    GraftQuery(name, (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      val stats = Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(avg(col("l_discount")).as("avg_disc"))
      val joined =
        if (salted) graft.ops.Ops.saltedJoin(li, stats, "l_returnflag", 32)
        else li.join(stats, "l_returnflag")
      joined.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_discount") > col("avg_disc"),
              col("l_extendedprice").cast("decimal(18,2)"))
            .otherwise(lit(0).cast("decimal(18,2)")))
            .cast("double").as("above_avg_revenue"))
    }, confs = noBroadcast +
      ("spark.sql.adaptive.skewJoin.enabled" -> "false"))

  private val x22 = saltedArm("x22_salted_join", salted = true)
  private val x23 = saltedArm("x23_salted_off", salted = false)

  /** x24 — the full RAG retrieval lifecycle at bench scale: stage-1
    * kNN (top-100 pools over the 50k inflated corpus, the grouped
    * bounded-heap path) → vector join-back → MMR diversification
    * (λ=0.5, k=10) with per-QUERY parallelism in flatMapGroups.
    * Greedy selection is sequential in k, hence benchOnly (no SQL
    * oracle) — semantics are recompute-pinned in MmrSpec. */
  private val x24 = GraftQuery("x24_mmr_rerank",
    (s, dir) => {
      val corpus = inflated(s, dir)
      val queries = Tables(s, dir, "embeddings")
        .filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
      val pools = VectorSearch
        .knn(corpus, "id", "vec", queries, "qid", "qvec", 100)
        .join(corpus, Seq("id"))
        .select(col("query_id"), col("id"), col("vec"),
          (-col("dist")).as("rel"))
      VectorSearch.mmrRerank(pools, k = 10, lambda = 0.5)
    })

  /** x25 — k-means training cost at bench scale: 3 Lloyd rounds over
    * the 50k inflated corpus (each round = one broadcast-argmin scan
    * + one k·dim-row aggregate), then the trained assignment as the
    * returned frame. benchOnly: the trainer is deterministic
    * (KmeansSpec pins bitwise parity) but iterative driver-side
    * orchestration has no single-statement SQL twin. */
  private val x25 = GraftQuery("x25_kmeans_train",
    (s, dir) => {
      val corpus = inflated(s, dir)
      val cents = graft.vector.Kmeans
        .fit(corpus, "id", "vec", k = 8, iters = 3)
      VectorSearch.buildIvfWith(corpus, "id", "vec", cents).assigned
        .groupBy("cell").agg(count(lit(1)).as("n"))
    })

  /** x26 — the COMPOSED curation lifecycle end-to-end at bench scale:
    * quality gate → repetition gate → boilerplate strip → eval scrub
    * → exact dedup → epoch shards, as one `CorpusCuration.curate`
    * call over the 5k-doc corpus (eval = the d09/d15 mod-23 slice).
    *
    * Measurement stance (r19, VERDICT r18 ruling): the stage persists
    * `curate` plants stay ACTIVE while the timed body materializes the
    * corpus — each iteration still pays the full uncached funnel cost
    * exactly once (the caches fill inside the timed region); what it
    * no longer pays is the same tokenize+shingle gate subtree SIX
    * times (stripWith 2× × {topSegments, segments, short-union} —
    * the r18 stance released the caches up front, so the uncached
    * plan re-derived every upstream stage per consumer). The caches
    * are the run's scratch, released when the run ends (untimed) —
    * Spark's CacheManager matches by logical plan, so leaving them
    * would hand iteration N+1 a replay of N's compute. */
  private val x26 = GraftQuery("x26_curation_pipeline",
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val res = graft.etl.CorpusCuration.curate(
        docs.filter(col("doc_id") % 23 =!= 0), "doc_id", "text",
        evalDocs = Some(docs.filter(col("doc_id") % 23 === 0)))
      Arm.onRunEnd(s)(res.release())
      res.corpus
    })

  /** x27 — persisted-index vector dedup PROBE (the nightly form of
    * v14, [[graft.ops.VectorDedupIndex]]): the one-time setup writes
    * the 200k-vector inflated corpus `partitionBy(ivf_cell)`
    * (memoized per (session, dir) — the index is the reusable nightly
    * artifact, exactly x03's stance); the timed query probes a ~1%
    * batch against the cell directories and cosine-verifies. The A/B
    * reading: the batch alternative re-runs blocked pairs over the
    * WHOLE corpus each night — the probe touches only the batch's
    * cells (τ=0.9 keeps the verify output to the ~100-replica
    * families the inflation plants per base vector).
    *
    * Parallelism note (measured): the bench-scale index is ~100 MB of
    * parquet, which the default 128 MB maxPartitionBytes bin-packs
    * into 1-2 input tasks — the per-pair verify then runs effectively
    * single-threaded (76 s warm). At 100 TB the layout provides task
    * granularity naturally; here the arm declares a 4 MB split so the
    * measurement exercises the intended parallel shape. */
  private val smallSplits = Map("spark.sql.files.maxPartitionBytes" -> "4m")
  /** The standing index x27/x30/x32 share: (path, centroids). */
  private def vdiSetup(s: SparkSession, dir: String)
      : (String, Seq[(Long, Seq[Double])]) = {
    val cs = Arm.memo(s, dir, "x27_cents") {
      val corpus = inflated(s, dir)
      // cell count scales with the corpus (~12.5k vectors/cell) —
      // the knob every IVF deployment turns. A FIXED cell count is
      // the one way this shape goes super-linear: candidate pairs
      // are N·B/cells, so frozen cells with N and B both up 10×
      // measured 100× the pairs (53 s at sf1 vs the 5.5 s linear
      // shape with scaled cells). With cells ∝ N, probe work stays
      // ∝ batch size — independent of corpus size.
      val nCells = math.max(16, (corpus.count() / 12500L).toInt)
      graft.ops.VectorDedupIndex.seedCentroids(corpus, "id", "vec", nCells)
    }(_ => ())
    (Arm.memoDir(s, dir, "x27_vdi")(p => graft.ops.VectorDedupIndex
      .writeIndex(inflated(s, dir), "id", "vec", cs, p)), cs)
  }
  private val x27 = GraftQuery("x27_vector_dedup_probe",
    (s, dir) => {
      val (path, cents) = vdiSetup(s, dir)
      graft.ops.VectorDedupIndex.probePairs(s, path, cents,
          inflated(s, dir).filter(col("id") % 97 === 0),
          "id", "vec", tau = 0.9)
        .groupBy("cell").agg(count(lit(1)).as("n_pairs"))
    }, confs = smallSplits)

  /** x28 — INCREMENTAL curation of a nightly slice
    * ([[graft.etl.CorpusCuration.curateIncremental]]) — the A/B of
    * x26's whole-corpus funnel: the one-time setup curates the
    * standing corpus, fits the indexes, and parquets them (memoized —
    * production state lives in the lake); the timed query pushes the
    * mod-31 slice through gates → fixed-dictionary strip → eval scrub
    * → keep-first + hash anti-join. Same eval convention as x26
    * (mod-23). The number to compare: x26 re-runs the full funnel on
    * everything; x28 does slice-sized work + one broadcast dictionary
    * join + one hash anti-join. */
  private val x28 = GraftQuery("x28_curate_incremental",
    (s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val eval = docs.filter(col("doc_id") % 23 === 0)
      val base = Arm.memoDir(s, dir, "x28_cur") { p =>
        val standing = docs.filter(
          col("doc_id") % 23 =!= 0 && col("doc_id") % 31 =!= 0)
        val res = graft.etl.CorpusCuration.curate(
          standing, "doc_id", "text", evalDocs = Some(eval))
        val idx = graft.etl.CorpusCuration.fitIndexes(standing,
          res.corpus.select("doc_id", "text"), "doc_id", "text",
          evalDocs = Some(eval))
        idx.boilerplate.write.parquet(s"$p/boiler")
        idx.evalDict.get.write.parquet(s"$p/eval")
        idx.seenHashes.write.parquet(s"$p/seen")
        res.release()
      }
      val standing = graft.etl.CorpusCuration.Indexes(
        s.read.parquet(s"$base/boiler"),
        Some(s.read.parquet(s"$base/eval")), None,
        s.read.parquet(s"$base/seen"))
      graft.etl.CorpusCuration.curateIncremental(
        docs.filter(col("doc_id") % 23 =!= 0 && col("doc_id") % 31 === 0),
        standing, "doc_id", "text").curated
    })

  /** x29 — the library semantic-decontamination pass at PRODUCTION
    * cell count (VERDICT r13 item 2's "done" gate): 128 cells × 64
    * dims over the 200k inflated corpus — the configuration whose
    * struct-literal argmin PERFORMANCE.md measured degenerating
    * (160×64 stalled a 2M-row pass 20+ min; even at this scale the
    * old tree cost minutes of codegen). After the migration to
    * [[VectorSearch.assignCellsWithDist]] the assignment is one flat
    * O(k·d) generated loop, so this arm runs in seconds — its very
    * presence in the artifact is the non-degeneration proof. Setup
    * (seed centroids: one distinct-vector aggregate) is memoized; the
    * timed body is the two map-side corpus passes + cell-stats
    * aggregate + capped verify join. τ=0.9: the inflation plants 100
    * exact replicas per base vector, so each eval vector flags its
    * replica family — decontamination-shaped output, bounded size. */
  private val x29 = GraftQuery("x29_decontam_128cells",
    (s, dir) => {
      val corpus = inflated(s, dir)
      val cents = Arm.memo(s, dir, "x29_cents")(graft.ops.VectorDedupIndex
          .seedCentroids(corpus, "id", "vec", 128))(_ => ())
      val eval = Tables(s, dir, "embeddings")
        .filter(col("vec_id") % 251 === 0)
        .select(col("vec_id"), col("embedding"))
      graft.ops.SemanticDecontam.flagged(
          corpus, "id", "vec", eval, "vec_id", "embedding",
          cents, tau = 0.9)
        .groupBy("eval_id").agg(count(lit(1)).as("n_flagged"))
    })

  /** x30 — x27's probe at nprobe=2 (VERDICT r13 item 4's cost-slope
    * leg): same memoized index, same 1% batch, but every batch row
    * probes its TWO nearest cells. Read x30 − x27 as the price of the
    * recall knob: up to 2× the cell directories read and up to 2× the
    * verify pairs; the spec-pinned benefit is the boundary-straddling
    * near-dups nprobe=1 structurally misses. */
  private val x30 = GraftQuery("x30_dedup_probe_np2",
    (s, dir) => {
      val (path, cents) = vdiSetup(s, dir)
      graft.ops.VectorDedupIndex.probePairs(s, path, cents,
          inflated(s, dir).filter(col("id") % 97 === 0),
          "id", "vec", tau = 0.9, nprobe = 2)
        .groupBy("cell").agg(count(lit(1)).as("n_pairs"))
    }, confs = smallSplits)

  /** x31 — x29's decontamination pass over TRAINED centroids
    * (VERDICT r13 stretch 8): 3 Lloyd rounds instead of seed vectors,
    * same 128 cells, same τ. The Cauchy–Schwarz cap prunes a cell
    * when (dot(e,cent)/|e| + rad)/minNorm < τ — tighter cells ⇒
    * smaller rad ⇒ fewer probed cells, so x31 − x29 reads the
    * scaladoc's "pays exactly when the corpus clusters" claim on this
    * fixture (training cost excluded: centroids memoized, as in
    * production where the model is a standing artifact). That reading
    * holds only since `Kmeans.fit` seeds with distinct vectors: the
    * committed x31 pins come from a fit that left 4 of its 128 cells
    * occupied (PERFORMANCE.md, "IVF cells on the replica-inflated
    * corpus"). */
  private val x31 = GraftQuery("x31_decontam_trained",
    (s, dir) => {
      val corpus = inflated(s, dir)
      val cents = Arm.memo(s, dir, "x31_cents")(
        graft.vector.Kmeans.fit(corpus, "id", "vec", k = 128, iters = 3))(
        _ => ())
      val eval = Tables(s, dir, "embeddings")
        .filter(col("vec_id") % 251 === 0)
        .select(col("vec_id"), col("embedding"))
      graft.ops.SemanticDecontam.flagged(
          corpus, "id", "vec", eval, "vec_id", "embedding",
          cents, tau = 0.9)
        .groupBy("eval_id").agg(count(lit(1)).as("n_flagged"))
    })

  /** x32 — the NIGHTLY INDEX LIFECYCLE's cost at bench scale, the
    * timing twin of the oracled v19 (every r14/r15 op gets both a
    * correctness row and a cost row): one night = admit the slice
    * (assign + partitioned append), compact the touched files, and
    * run the maybeRefit DECISION (occupancy scan + embedding-shift
    * measure against the standing index) with thresholds it must not
    * trip — the un-drifted no-op path is the cost a healthy nightly
    * pays every night. The standing index is memoized (x27's — in
    * production it is a lake artifact) and the admit/compact write to
    * fresh temp dirs, the run's scratch, so iterations
    * never double-admit and the timed work is one night's, every
    * iteration. The rebuild path's cost is already timed by x25
    * (k-means fit) + x27's memoized writeIndex; probe cost by x27/x30. Slice = mod-89 of the inflated corpus
    * (~1.1%, a realistic nightly-to-corpus ratio). */
  private val x32 = GraftQuery("x32_admit_lifecycle",
    (s, dir) => {
      import graft.ops.VectorDedupIndex
      val (standing, cents) = vdiSetup(s, dir)
      val slice = inflated(s, dir).filter(col("id") % 89 === 0)
      val Seq(night, compacted, refit) = Seq("x32_night", "x32_cmp",
        "x32_refit").map(Arm.tempDir(s, _))
      VectorDedupIndex.admitBatch(slice, cents, night, "id", "vec")
      VectorDedupIndex.compactIndex(s, night, compacted)
      // sampleFraction is the decision's scale knob: the shift measure
      // must never re-read a 100 TB index nightly — a 10% sample bounds
      // the decision to slice-plus-sample-sized work (occupancy stays a
      // column-pruned full scan: one long column, the cheap half)
      val report = VectorDedupIndex.maybeRefit(s, standing, slice,
        "id", "vec", cents, refit,
        skewThreshold = 1e9, shiftThreshold = 1e9, sampleFraction = 0.1)
      val admitted = s.read.parquet(compacted).count()
      // a local frame: nothing reads the three directories after this
      s.createDataFrame(Seq((admitted, report.refit,
          report.occupancySkew, report.shiftRatio)))
        .toDF("admitted", "refit", "occupancy_skew", "shift_ratio")
    })

  /** splitmix64 finisher (public algorithm — Steele et al., also the
    * JDK SplittableRandom mixer): per-replica XOR masks for
    * [[inflatedFrames]]. Sign bit cleared so the inflated hashes stay
    * non-negative like the fixture's. */
  private def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  /** m01's frame-hash fixture inflated `reps`× — the video twin of
    * [[inflated]] (x27's vector corpus): each replica keeps the
    * fixture's band structure and its internal near-dup families
    * (XORing both partners with the same mask preserves their
    * pairwise Hamming distances) while replicas of different reps are
    * far apart (~32 bits), i.e. distinct content. rep 0 is the
    * original corpus. 20 reps ⇒ 1,000 videos / 100k frames at sf0.1,
    * 1M frames at sf1 — a corpus where "re-pair everything nightly"
    * visibly costs and a standing index visibly pays. */
  private def inflatedFrames(s: SparkSession, dir: String,
      reps: Int = 20): org.apache.spark.sql.DataFrame = {
    val masks = (0 until reps).map(r =>
      (r, if (r == 0) 0L else mix64(r.toLong)))
    val repDf = s.createDataFrame(masks).toDF("rep", "mask")
    MultimodalSuite.frameHashes(s, dir)
      .crossJoin(broadcast(repDf))
      .select(
        concat(col("video"), lit("_r"), col("rep")).as("video"),
        col("frame_idx"),
        col("phash").bitwiseXOR(col("mask")).as("phash"))
  }

  /** x33 — standing-index VIDEO near-dup probe (VERDICT r17 item 2:
    * the x27/x28 costing pattern applied to
    * [[graft.multimodal.VideoFrameIndex]]): the one-time setup builds
    * the persisted band-partitioned frame-hash index over the
    * 20×-inflated frame corpus (memoized — in production the index is
    * a standing lake artifact); the timed query probes tonight's new
    * upload — ONE short clip (10 frames, a 2-bit-perturbed v00
    * near-dup the Hamming verify must accept) — reading only the
    * index partitions those 10 frames hash into. At bench scale a full
    * corpus re-pair is not slower (PERFORMANCE.md, retired arms); the
    * standing index's case rests on the slope — x33's work tracks the
    * clip, a re-pair's tracks the corpus. */
  private def nightClip(s: SparkSession, dir: String) =
    MultimodalSuite.frameHashes(s, dir)
      .filter(col("video") === "v00" && col("frame_idx") < 10)
      .select(lit("n00").as("video"), col("frame_idx"),
        col("phash").bitwiseXOR(lit(3L)).as("phash"))
  /** One-time standing state for x33/x35, memoized as PARQUET — in
    * production the frame-hash table, tonight's landed clip hashes,
    * and the band index are all lake artifacts, so the timed bodies
    * must start from storage, not from re-deriving the fixture.
    * Returns (indexPath, clipPath, framesPath). */
  private def vfiSetup(s: SparkSession, dir: String)
      : (String, String, String) = {
    val base = Arm.memoDir(s, dir, "x33_vfi") { base =>
      inflatedFrames(s, dir).write.parquet(s"$base/frames")
      nightClip(s, dir).coalesce(1).write.parquet(s"$base/clip")
      graft.multimodal.VideoFrameIndex.writeIndex(
        s.read.parquet(s"$base/frames"), s"$base/index")
    }
    (s"$base/index", s"$base/clip", s"$base/frames")
  }
  private val x33 = GraftQuery("x33_video_probe",
    (s, dir) => {
      val (index, clip, _) = vfiSetup(s, dir)
      graft.multimodal.VideoFrameIndex.probePairs(
        s, index, s.read.parquet(clip), hammingMax = 6)._1
    })

  /** x35 — the GATED video nightly's cost (the video twin of x32,
    * costing [[graft.multimodal.VideoFrameIndex.nightlyIngest]] —
    * VERDICT r17 item 5's "optional bench arm"): one night = probe
    * tonight's batch against the standing index, gate each video on
    * its `new_frac` vs the corpus, and ADMIT the survivors' band rows
    * into the index. The batch is one near-dup clip (a 2-bit-perturbed
    * v00_r0 the gate must REJECT at dupFrac=0.5) plus one novel clip
    * (mix64-masked — no corpus partner, so the gate ADMITS it); every
    * iteration pays the same probe + gate + slice-sized partitioned
    * append (the novel clip re-admits each iteration — its earlier
    * copies share its video id, which the probe's corpus≠new filter
    * excludes, so the decision is iteration-stable while the append
    * cost stays in the timed body). The index is x35's own copy
    * (built once in memoized setup from the shared inflated frame
    * table) so the admits never pollute x33's standing index. */
  private val x35 = GraftQuery("x35_video_ingest",
    (s, dir) => {
      val (_, clip, frames) = vfiSetup(s, dir)
      val idx = Arm.memoDir(s, dir, "x35_vfi")(p =>
        graft.multimodal.VideoFrameIndex.writeIndex(
          s.read.parquet(frames), p))
      val novel = s.read.parquet(clip).select(
        lit("i01").as("video"), col("frame_idx"),
        col("phash").bitwiseXOR(lit(mix64(9999L))).as("phash"))
      val (decisions, _) = graft.multimodal.VideoFrameIndex
        .nightlyIngest(s, idx,
          s.read.parquet(clip).unionByName(novel),
          dupFrac = 0.5, hammingMax = 6)
      decisions
    })

  /** x36 — t12's PII scrub with ONE regex pass instead of 8 (VERDICT
    * r18 item 7, A/B-arm-only ruling): the same seeded corpus
    * ([[TextSuite.piiSeeded]] — identical input subtree), but counts +
    * redaction come from [[graft.expr.PiiScan]]'s single combined-
    * alternation sweep rather than 4 `regexp_count` + 4 chained
    * `regexp_replace` (each pass re-reads and re-allocates the whole
    * string). Read x36 − t12 as the single-pass win. The declared
    * t07/t12 keep the 8-pass form: sequential-replace semantics are
    * the cross-engine oracle contract, and single-pass leftmost-first
    * overlap resolution differs on pathological overlap inputs (the
    * fixture has none — PiiScanSpec pins output equality with
    * PiiScrub.scrub on these seeded shapes plus near-overlap cases). */
  private val x36 = GraftQuery("x36_pii_singlepass",
    (s, dir) => {
      val seeded = TextSuite.piiSeeded(s, dir)
      seeded
        .select(col("doc_id"),
          call_function("graft_pii_scan", col("pii_text")).as("p"))
        .select(col("doc_id"),
          col("p.n_email").as("n_email"), col("p.n_card").as("n_card"),
          col("p.n_ip").as("n_ip"), col("p.n_phone").as("n_phone"),
          md5(col("p.redacted")).as("redacted_md5"))
        .filter(col("n_email") + col("n_card") + col("n_ip") +
          col("n_phone") > 0)
    })

  override val suite: Seq[GraftQuery] =
    Seq(x02, x04, x07, x11)

  /** Timed by Bench, asserted by PlanSpec where a plan property is the
    * point (x09/x10, x22/x23), but excluded from Verify/CORRECTNESS:
    * engine-internal results with no cross-engine oracle. */
  val benchOnly: Seq[GraftQuery] =
    Seq(x03, x06, x09, x10, x12, x14, x15, x16, x17, x18, x21, x22, x23,
      x24, x25, x26, x27, x28, x29, x30, x31, x32, x33, x35, x36)
}
