package graft.queries

import graft.{Arm, SparkEntry, SparkSpec}

/** Physical-plan shape checks — the scale-readiness criteria from
  * SURVEY.md §4 asserted against the actual executed plans: filters and
  * projections reach the parquet scan, small dims broadcast, global
  * top-k plans as TakeOrderedAndProject (no full sort), and hot
  * expression paths stay inside WholeStageCodegen.
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Arm.run(spark, dir, SparkEntry.arms(name)) { df =>
      df.collect() // finalize AQE so codegen / join choices are visible
      df.queryExecution.executedPlan.toString
    }

  test("filters and column pruning push into the parquet scan (r02)") {
    val p = plan("r02_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("IsNotNull(l_quantity)") ||
      p.contains("GreaterThanOrEqual(l_quantity"), p)
    // projection pruning: the read schema must not include unused
    // money columns like l_comment
    assert(!p.contains("l_comment"), "scan reads unused columns")
  }

  test("small dims join as BroadcastHashJoin (r07)") {
    val p = plan("r07_dim_broadcast_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), "dim join fell back to SMJ")
  }

  test("j03's filtered aggregate broadcasts into orders (no fact SMJ)") {
    // Q18 shape: lineitem groupBy → HAVING total_qty > 250 leaves a
    // dim-sized frame. At 100x scale an SMJ here re-shuffles the whole
    // orders table against a few hundred rows; AQE must see the
    // post-filter size and choose a broadcast join for BOTH the
    // orders⋈agg and the ⋈customer joins.
    val p = plan("j03_large_orders")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"),
      "j03's dim-sized aggregate fell back to SortMergeJoin:\n" + p)
  }

  test("d10's distinct-doc count carries no Expand through the shuffle") {
    // the two-stage (h, doc_id) → (h) aggregate must survive: a
    // count+countDistinct single aggregate would plan an Expand that
    // doubles every exploded span row crossing the wire
    val p = plan("d10_repeated_spans")
    assert(!p.contains("Expand"),
      "d10 regressed to an Expand-based distinct aggregate:\n" + p)
  }

  test("global top-k plans as TakeOrderedAndProject (r14)") {
    val p = plan("r14_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("anti/semi joins choose hash strategies, not cartesian (r06/r09)") {
    assert(!plan("r06_anti_join").contains("CartesianProduct"))
    assert(!plan("r09_semi_join").contains("CartesianProduct"))
  }

  test("codegen kNN keeps the distance loop in WholeStageCodegen (x02)") {
    val p = plan("x02_knn_codegen")
    // `*(n)` prefixes mark WholeStageCodegen spans in simpleString —
    // the projection computing the distance must carry one
    val fused = """\*\(\d+\) Project \[[^\n]*graft_l2_distance""".r
    assert(fused.findFirstIn(p).isDefined, p)
  }

  test("multi-query kNN ranks via the grouped bounded-heap aggregate, " +
      "never a per-query window funnel (v03/v11/v12/x02/x11)") {
    Seq("v03_knn_bruteforce", "v11_lsh_ann", "v12_label_outliers",
        "x02_knn_codegen", "x11_topk_groupagg", "c10_mixture_sample")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("Window"),
          s"$q funnels each query group through a window sort:\n$p")
        // map-side partial top-k: the ObjectHashAggregate pair must
        // split into partial + final, so only groups×k pairs cross the
        // exchange
        assert(p.toLowerCase.contains("partial_topkaggregator"),
          s"$q lost the partial (map-side) top-k stage:\n$p")
      }
    // the argmin (k=1) queries collapse to a plain min(struct) aggregate
    Seq("v04_knn_joinback", "v06_ivf_assign").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"),
        s"$q ranks its argmin through a window:\n$p")
      assert(p.contains("partial_min") || p.toLowerCase.contains("min(struct"),
        s"$q lost map-side partial argmin:\n$p")
    }
  }

  test("x07's window form keeps stock partial WindowGroupLimit pruning") {
    // the low-cardinality top-k arms rely on Spark's
    // InferWindowGroupLimit for their map-side prune (the reason a
    // 3-group window isn't catastrophic): a Partial WindowGroupLimit
    // must sit below the exchange, the Final one above it. The rule is
    // BLOCKED by any expression over the rank column before the filter
    // (e.g. a .cast(long) applied BEFORE filtering) — which is why the
    // kNN family ranks through the GroupedTopK aggregate instead
    for (q <- Seq("x07_topk_direct", "t04_top_bigrams", "s11_kmv_overlap")) {
      val p = plan(q)
      val lines = p.linesIterator.toSeq
      val partial = lines.indexWhere(l =>
        l.contains("WindowGroupLimit") && l.contains("Partial"))
      val exchange = lines.lastIndexWhere(l => l.contains("Exchange"),
        math.max(partial, 0))
      val fin = lines.lastIndexWhere(l =>
        l.contains("WindowGroupLimit") && l.contains("Final"),
        math.max(exchange, 0))
      assert(partial >= 0 && exchange >= 0 && fin >= 0,
        s"$q lost the stock partial group-limit prune:\n$p")
    }
  }

  test("r04 keep-first dedup aggregates partially — no window sort") {
    val p = plan("r04_dedup_keep_first")
    assert(!p.contains("Window"),
      s"r04 regressed to the window keep-first form:\n$p")
    // min(struct) must split into partial + final so each map task sends
    // one candidate row per key into the exchange
    assert(p.contains("partial_min"),
      s"r04 lost map-side partial aggregation:\n$p")
  }

  test("j07 grouping sets expand the pre-aggregated grain, not fact rows") {
    val p = plan("j07_grouping_sets")
    assert(p.contains("Expand"), p)
    // the Expand subtree (printed below the node) must contain the base
    // (r_name, n_name) aggregate — i.e. fact rows were reduced to the
    // ~|nations| grain BEFORE the 4-way grouping-sets replication
    val below = p.substring(p.indexOf("Expand"))
    assert(below.contains("HashAggregate"),
      s"j07 expands raw fact rows (no pre-aggregation below Expand):\n$p")
  }

  test("no single-partition global windows in corpus-scale paths (t05/v07)") {
    // t05's vocabulary rank goes through range-sort + zipWithIndex —
    // the plan must carry no Window operator at all
    assert(!plan("t05_token_freq").contains("Window"),
      "t05 regressed to a window rank")
    // v07's final top-3 is TakeOrderedAndProject; the only windows left
    // are partitioned by vec_id (cell assignment) or bounded by k rows
    val p = plan("v07_ivf_probe")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("the flagship entry broadcasts its dim and aggregates partially") {
    val p = SparkEntry.entry(spark).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("HLL UDAF aggregates map-side: partial registers cross the shuffle") {
    val p = plan("s03_hll_udaf")
    // the typed Aggregator must split into partial + final stages so
    // the shuffle carries 64-byte register buffers, not hashed rows
    assert(p.contains("partial_hllaggregator") ||
      p.contains("partial_hll"), p)
    assert("(?i)objecthashaggregate|sortaggregate|hashaggregate".r
      .findFirstIn(p.toLowerCase).isDefined, p)
  }

  test("v08 executes through one KnnTopK exec, not a global sort") {
    val p = plan("v08_topk_rewrite")
    assert(p.contains("KnnTopKGlobal") && !p.contains("KnnTopKLocal"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("TakeOrderedAndProject"), p)
  }

  test("t08/t09 chunking + repetition metrics are pure map-side") {
    // fixed-size chunking and duplicate-n-gram fractions are per-row
    // array math: any Exchange here would shuffle the whole corpus
    assert(!plan("t08_chunk_overlap").contains("Exchange"),
      "t08 shuffles — chunking must stay map-side")
    assert(!plan("t09_repetition").contains("Exchange"),
      "t09 shuffles — repetition metrics must stay map-side")
  }

  test("d09 decontamination: AQE picks broadcast for the small eval side") {
    // no hint in the plan — the broadcast must come from AQE's measured
    // size (a forced hint would bypass the size check on degenerate
    // eval sets); at this SF the eval side is small, so AQE chooses it
    val p = plan("d09_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("s08 sequence packing carries no Window operator") {
    // the prefix sum is the two-phase scan, never SUM() OVER (ORDER BY)
    assert(!plan("s08_pack_bins").contains("Window"),
      "s08 regressed to a single-partition running-sum window")
  }

  test("simhash signatures aggregate 32 votes in one exchange (d05)") {
    val p = plan("d05_simhash")
    // one shuffle for the per-doc groupBy; the old per-bit explode
    // carried a second aggregation round
    // count in the final-plan section only (AQE's plan string appends
    // an "== Initial Plan ==" copy that would double-count)
    val finalSection = p.split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(finalSection).length
    assert(exchanges <= 1,
      s"d05 shuffles $exchanges times — expected a single groupBy:\n$p")
  }

  test("curation windows partition on their domain keys, never globally (c01/c03)") {
    // calibrate the textual signature of an empty partition spec from a
    // deliberately-global window, then assert the curation plans never
    // carry it — a global window would single-partition the corpus
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions.{row_number, col}
    import spark.implicits._
    val g = Seq(1, 2).toDF("x")
      .withColumn("r", row_number().over(W.orderBy(col("x"))))
    g.collect()
    val gp = g.queryExecution.executedPlan.toString
    // a partition-less window forces all rows through one partition —
    // visible as an ENSURE_REQUIREMENTS SinglePartition exchange
    val sig = "Exchange SinglePartition"
    assert(gp.contains(sig),
      s"calibration: global-window plan signature changed\n$gp")
    // c10's two-level rank and d10's span aggregate were built exactly
    // to avoid this signature — keep them pinned with the r7 curation
    // plans
    Seq("c01_domain_cap", "c03_scd2_history", "c10_mixture_sample",
        "c11_domain_gate", "d10_repeated_spans").foreach { q =>
      val p = plan(q)
      assert(!p.contains(sig), s"$q single-partitions the corpus:\n$p")
    }
  }

  test("x09 injects a runtime bloom filter on the fact side; x10 doesn't") {
    // executed plans print the filter as might_contain(...) over a
    // bloom_filter_agg subquery on the dim side
    val on = plan("x09_bloom_join")
    assert(on.contains("might_contain") && on.contains("bloom_filter_agg"),
      s"bloom filter did not fire:\n$on")
    val off = plan("x10_bloom_off")
    assert(!off.contains("might_contain"), off)
  }

  test("the Z-order key is a pure projection — no Exchange, no UDF (c05)") {
    val p = plan("c05_zorder_key")
    assert(!p.contains("Exchange"), s"morton key shuffled:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("Invoke"),
      s"morton key left codegen:\n$p")
    // the `*(n)` prefix marks WholeStageCodegen spans in executed-plan
    // strings; the Project carrying the morton tree must sit in one
    assert(p.contains("*(1) Project") || p.contains("WholeStageCodegen"), p)
  }

  test("j10 as-of join: union+window plan, zero join operators") {
    // the point of Ops.asofJoin — the quadratic alternatives would show
    // as a join here: a range theta-join plans BroadcastNestedLoopJoin /
    // CartesianProduct (every event × every earlier order), a
    // correlated-subquery form plans a per-left re-scan. The carry-
    // forward plan has NO join at all: a Union, one keyed Window, and
    // one Exchange per side feeding it.
    val p = plan("j10_asof_join")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      "as-of join regressed to a pair-multiplying join:\n" + p)
    assert(p.contains("Union") && p.contains("Window"), p)
    // the window must partition on the key — a global (unpartitioned)
    // window would funnel the whole corpus through one task
    assert(p.contains("windowspecdefinition(__k"),
      "as-of window lost its key partitioning:\n" + p)
  }

  test("d12's component enrich broadcasts — the corpus never shuffles") {
    // leakageSplit's contract: the component frame is verifier output
    // (orders of magnitude smaller than the corpus), so the enrich is
    // an explicitly-hinted broadcast LEFT join and the split itself a
    // pure projection. The hint matters: without it the INITIAL plan
    // is an SMJ whose ENSURE_REQUIREMENTS exchange materializes a full
    // corpus shuffle write before AQE converts to broadcast — at
    // 100 TB that's a wasted disk pass of the whole corpus. With it,
    // the corpus side is scan → join → project, zero Exchange.
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables(spark, dir, "documents").select(col("doc_id"))
    val pairs = SparkEntry.queries("d04_jaccard_verify")(spark, dir)
      .select("a_id", "b_id")
    val out = graft.ops.Sampling.leakageSplit(docs, "doc_id", pairs)
    out.collect()
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
    assert(!p.contains("SortMergeJoin"),
      "component enrich planned a SortMergeJoin (even initially — " +
        "the broadcast hint is gone):\n" + p)
    assert(!p.contains("Exchange hashpartitioning(doc_id"),
      "the corpus side shuffled for the enrich:\n" + p)
  }
}
