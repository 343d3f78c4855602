package graft

/** Executed-plan pins for the round-11 operators (the PlanSpec stance:
  * assert the plan property that makes the operator scale, on the
  * EXECUTED plan, not the optimized one). */
class PlanAuditR11Spec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def executed(q: String): String = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("f20 html extraction: exactly ONE exchange — the explicit " +
      "parse-parallelism repartition — and a four-column pruned scan") {
    val p = executed("f20_html_extract")
    // the single-row-group fixture would otherwise parse every page on
    // one core; the query pins an explicit REPARTITION_BY_NUM so AQE's
    // byte-based advisory coalescing cannot fold the tiny shuffle back
    // to one task (its partition count survives into the final plan)
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("REPARTITION_BY_NUM"), p)
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_name:string," +
      "p_brand:string,p_type:string>"), p)
  }

  test("t11 cdc chunks: the explicit doc_id repartition is the ONLY " +
      "exchange — the per-doc window reuses it instead of re-shuffling") {
    val p = executed("t11_cdc_chunks")
    // the repartition hash-clusters on doc_id, which satisfies the
    // window's required child distribution through the explode's
    // alias-aware partitioning propagation — EnsureRequirements must
    // not insert a second exchange, and the explicit count keeps AQE
    // from byte-coalescing the CPU-dense explode+hash+window stage
    // back to one task
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert(p.contains("REPARTITION_BY_NUM"), p)
  }

  test("t12 pii scrub: a pure scan-parallel projection — zero " +
      "exchanges, two-column read") {
    val p = executed("t12_pii_scrub")
    assert(!p.contains("Exchange"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("t13 repetition gates: zero exchanges (per-document signals " +
      "stay in-row) and the tallies run inside codegen") {
    val p = executed("t13_repetition_gates")
    assert(!p.contains("Exchange"), p)
    // the one-pass expression composes INSIDE a whole-stage-codegen
    // span (the `*(n)` marker; it is not a CodegenFallback like the
    // higher-order-fold form)
    assert("""\*\(\d+\) Project .*graft_rep_stats""".r
      .findFirstIn(p).isDefined, p)
  }

  test("r17 cube: aggregate-first — no Expand on the scan path, and " +
      "the fact scan feeds a partial aggregate directly") {
    val p = executed("r17_cube")
    // native GROUP BY CUBE would put an Expand (4x row replication)
    // between the scan and the first aggregate; the aggregate-first
    // form explodes only the already-aggregated ~6-row frame
    assert(!p.contains("Expand"), p)
    assert(p.contains("Generate explode"), p)
    // only the three needed columns reach the parquet scan
    val rs = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(Seq("l_quantity", "l_returnflag", "l_linestatus")
      .forall(rs.contains), s"missing column in ReadSchema: $rs")
    assert(rs.split(",").length == 3,
      s"scan reads more than the three needed columns: $rs")
  }

  test("t14 bm25: the corpus top-20 is a TakeOrderedAndProject (never " +
      "a global single-partition sort) and df/corpus stats broadcast") {
    val p = executed("t14_bm25")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"),
      "per-term df (term-count-sized) or the 1-row corpus frame " +
        "fell back to a shuffle join:\n" + p)
  }

  test("e14 cohort retention: both aggregates key on user_id — no " +
      "cartesian, no Expand, three-column pruned events scan") {
    val p = executed("e14_cohort_retention")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Expand"),
      "single countDistinct should not plan an Expand:\n" + p)
    val rs = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(rs.contains("user_id") && rs.contains("ts") &&
      rs.split(",").length == 2,
      s"events scan should read exactly (user_id, ts): $rs")
  }

  test("p05 covariance: ONE lineitem scan computes all nine moments " +
      "(the matrix never re-reads the fact table) and it is pruned " +
      "to the three measure columns") {
    val p = executed("p05_covariance")
    assert("Scan parquet".r.findAllIn(p).size == 1,
      "covariance matrix re-scanned lineitem:\n" + p)
    val rs = """ReadSchema: struct<([^>]*)>""".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(Seq("l_quantity", "l_extendedprice", "l_discount")
      .forall(rs.contains) && rs.split(",").length == 3,
      s"scan should read exactly the three measures: $rs")
  }

  test("e15 sliding window: the 2-way assignment is ONE bounded Expand " +
      "(factor len/slide) feeding a partial aggregate — never a join " +
      "or self-union — and one exchange on (window, event_type)") {
    val p = executed("e15_sliding_agg")
    assert("Expand".r.findAllIn(p).size == 1,
      "sliding window should assign via exactly one Expand:\n" + p)
    assert(!p.contains("Union") && !p.contains("Join"),
      "sliding window regressed to a union/join form:\n" + p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
  }

  private def executedBenchOnly(q: String): String =
    Arm.run(spark, dir, SparkEntry.arms(q)) { df =>
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    }

  test("x22/x23 salted-join A/B: the salted arm's fact exchange keys " +
      "on (l_returnflag, __salt) — hot keys spread over saltN " +
      "reducers — while the stock arm hashes the bare 3-value key; " +
      "neither arm broadcasts") {
    val salted = executedBenchOnly("x22_salted_join")
    val plain = executedBenchOnly("x23_salted_off")
    assert("""hashpartitioning\(l_returnflag#\d+, __salt""".r
      .findFirstIn(salted).isDefined,
      "salted arm lost the (key, salt) partitioning:\n" + salted)
    assert(!plain.contains("__salt"),
      "stock arm unexpectedly salted:\n" + plain)
    assert(!salted.contains("BroadcastHashJoin") &&
      !plain.contains("BroadcastHashJoin"),
      "broadcast leaked into the shuffle-join A/B")
    // identical output: the salt must never reach the result
    def rows(q: String) = Arm.run(spark, dir, SparkEntry.arms(q))(
      _.collect().map(_.toSeq).toSet)
    val a = rows("x22_salted_join")
    val b = rows("x23_salted_off")
    assert(a == b, s"salted join diverged from plain join: $a vs $b")
  }
}
