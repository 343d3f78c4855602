package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, QuerySuite, Tables}
import graft.functions.TextOps.{md5Long60, tokens}

/** Corpus-curation operators (north-star family): the dataset-assembly
  * steps between "cleaned documents" and "training shards" —
  * reproducible splits, per-domain caps, term weighting, versioned
  * dimension history, series densification, and Z-ordered layout.
  *
  * Determinism stance: no `rand()` anywhere — sampling and splitting
  * are content-addressed via the cross-engine md5 hash (graft.ops
  * .Sampling); scores that would be floats are either exact integer
  * arithmetic or integer-scaled via floor (c03's idf), so every query
  * hash-matches DuckDB.
  */
object CurationSuite extends QuerySuite {

  /** DuckDB twin of md5Long60: first 15 md5 hex chars as a BIGINT. */
  private def duckH60(e: String) =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1,16), i ->
        CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
          AS BIGINT))), (a,b) -> a*16+b)"""

  /** c01 — per-domain cap (Sampling.capPerKey): at most 25 documents
    * per language, keeping the smallest-hash docs — an unbiased
    * reproducible per-key sample (scan-order-independent, unlike
    * "first N seen"). One window partitioned on the cap key. */
  private val c01 = GraftQuery(
    "c01_domain_cap",
    (s, dir) =>
      graft.ops.Sampling
        .capPerKey(Tables(s, dir, "documents"), "lang", "doc_id", 25)
        .select("doc_id", "lang", "rk"),
    Some(s"""SELECT doc_id, lang,
      CAST(row_number() OVER (PARTITION BY lang
        ORDER BY ${duckH60("CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT)
        AS rk
    FROM documents
    QUALIFY rk <= 25"""))

  /** c02 — TF-IDF top terms per document. tf and df are exact counts;
    * idf is integer-scaled (`floor(ln((N+1)/(df+1)+1) * 1e6)`, the
    * smoothed sklearn-style form) so the score and the per-doc ranking
    * compare integers only — cross-engine exact, immune to float
    * ordering ties. Plan shape: one explode + two hash aggregates
    * (doc-term tf, then term df) + a broadcast of the tiny df side?
    * No — df joins back on term (many docs share terms, term dim ≪
    * corpus); N is a scalar aggregate broadcast via cross join. The
    * per-doc top-3 window partitions on doc_id (high-cardinality). */
  private val c02 = GraftQuery(
    "c02_tfidf",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val terms = docs.select(col("doc_id"),
        explode(array_distinct(tokens(col("text")))).as("term"))
      val tfAll = docs.select(col("doc_id"),
          explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = terms.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tfAll.join(dfT, "term").crossJoin(broadcast(n))
        .withColumn("idf_e6",
          floor(log((col("n_docs") + 1).cast("double") /
            (col("df") + 1) + 1) * 1e6).cast("long"))
        .withColumn("score_e6", col("tf") * col("idf_e6"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score_e6").desc, col("term"))
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_e6", "rk")
    },
    Some("""WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
      GROUP BY 1, 2),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents)
           GROUP BY 1),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, df.df,
        tf.tf * CAST(floor(ln(CAST(n.n_docs + 1 AS DOUBLE)
          / (df.df + 1) + 1) * 1e6) AS BIGINT) AS score_e6,
        CAST(floor(ln(CAST(n.n_docs + 1 AS DOUBLE)
          / (df.df + 1) + 1) * 1e6) AS BIGINT) AS idf_e6
      FROM tf JOIN df USING (term), n)
    SELECT doc_id, term, tf, df, score_e6,
      CAST(row_number() OVER (PARTITION BY doc_id
        ORDER BY score_e6 DESC, term) AS BIGINT) AS rk
    FROM scored QUALIFY rk <= 3"""))

  /** c03 — SCD-type-2 versioned history from an event log: each
    * (user, day) closes at the day's last `value` (row_number over
    * (ts, event_id) desc — total order); consecutive days become
    * versions with [valid_from, valid_to) ranges via lead, the open
    * version's valid_to NULL. The standard warehouse dimension-history
    * op. Windows partition on user_id / (user_id, day) — never global. */
  private val c03 = GraftQuery(
    "c03_scd2_history",
    (s, dir) => {
      val wDay = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val wVer = Window.partitionBy("user_id").orderBy("valid_from")
      Tables(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("rn", row_number().over(wDay))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day").as("valid_from"),
          col("value").as("close_value"))
        .withColumn("valid_to", lead("valid_from", 1).over(wVer))
        .withColumn("version", row_number().over(wVer).cast("long"))
    },
    Some("""WITH closes AS (
      SELECT user_id, CAST(ts AS DATE) AS valid_from,
        value AS close_value,
        row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events QUALIFY rn = 1)
    SELECT user_id, valid_from, close_value,
      lead(valid_from) OVER w AS valid_to,
      CAST(row_number() OVER w AS BIGINT) AS version
    FROM closes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)"""))

  /** c04 — time-series gap filling (densification): per user, a dense
    * daily spine from their first to last active day (sequence +
    * explode), left-joined to per-day activity; missing days get
    * n_events = 0 and carry the last seen close_value forward
    * (last(..., ignoreNulls) over an unbounded-preceding frame — the
    * IGNORE NULLS idiom both engines share). Spine generation is
    * per-user map-side after one groupBy; the fill window partitions
    * on user_id. */
  private val c04 = GraftQuery(
    "c04_gap_fill",
    (s, dir) => {
      val wDay = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val daily = Tables(s, dir, "events")
        .withColumn("day", to_date(col("ts")))
        .withColumn("rn", row_number().over(wDay))
        .withColumn("n_day", count(lit(1)).over(
          Window.partitionBy("user_id", "day")))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("day"),
          col("n_day").cast("long").as("n_events"),
          col("value").as("close_value"))
      val spine = daily.groupBy("user_id")
        .agg(min("day").as("lo"), max("day").as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"),
            expr("interval 1 day"))).as("day"))
      val wFill = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last("close_value", ignoreNulls = true).over(wFill)
            .as("carried_value"))
    },
    Some("""WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
        CAST(COUNT(*) OVER (PARTITION BY user_id, CAST(ts AS DATE))
          AS BIGINT) AS n_events,
        value AS close_value,
        row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
          ORDER BY ts DESC, event_id DESC) AS rn
      FROM events QUALIFY rn = 1),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi,
        INTERVAL 1 DAY))::DATE AS day
      FROM (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
            FROM daily GROUP BY 1))
    SELECT s.user_id, s.day,
      COALESCE(d.n_events, 0) AS n_events,
      last_value(d.close_value IGNORE NULLS) OVER (
        PARTITION BY s.user_id ORDER BY s.day
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS carried_value
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day"""))

  /** c05 — Z-order key (io.ZOrder.morton2): the 32-bit Morton
    * interleave of (o_custkey, o_orderkey) low 16 bits — the layout
    * key `writeZOrdered` range-partitions on. Emitted as a query so
    * the magic-bits column tree itself is oracle-pinned bit-for-bit
    * against an independent SQL formulation. */
  private val c05 = GraftQuery(
    "c05_zorder_key",
    (s, dir) =>
      Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.io.ZOrder.morton2(col("o_custkey"), col("o_orderkey"))
            .as("zval")),
    // the magic-bits spread as a CTE chain: each stage doubles the gap
    // between payload bits (…<<8 &…, <<4, <<2, <<1), independently
    // rederived from the public bit-twiddling sequence
    Some("""WITH s0 AS (SELECT o_orderkey,
        o_custkey & 65535 AS x, o_orderkey & 65535 AS y FROM orders),
      s1 AS (SELECT o_orderkey, (x | (x << 8)) & 16711935 AS x,
        (y | (y << 8)) & 16711935 AS y FROM s0),
      s2 AS (SELECT o_orderkey, (x | (x << 4)) & 252645135 AS x,
        (y | (y << 4)) & 252645135 AS y FROM s1),
      s3 AS (SELECT o_orderkey, (x | (x << 2)) & 858993459 AS x,
        (y | (y << 2)) & 858993459 AS y FROM s2),
      s4 AS (SELECT o_orderkey, (x | (x << 1)) & 1431655765 AS x,
        (y | (y << 1)) & 1431655765 AS y FROM s3)
    SELECT o_orderkey, x | (y << 1) AS zval FROM s4"""))

  /** c06 — deterministic WEIGHTED sample, sequential-Poisson style
    * (Ohlsson's variant of the Efraimidis–Spirakis priority family):
    * key = u div w with u = the 60-bit md5 of doc_id standing in for
    * the uniform draw and w = n_chars as the quality weight; the
    * smallest-k by key is a weighted sample without replacement —
    * longer documents proportionally likelier, yet selection is
    * content-addressed and re-run-stable like every op in this suite.
    * The key is PURE INTEGER arithmetic (hash, then one floor
    * division), so both engines compute bit-identical orderings — the
    * earlier u^(1/w) formulation left the oracle set one libm-ulp away
    * from flipping on near-equal keys. Top-k via orderBy+limit —
    * TakeOrderedAndProject, per-partition heaps, no global sort. */
  private val c06 = GraftQuery(
    "c06_weighted_sample",
    // weight guard: greatest(n_chars, 1) on BOTH sides — on a
    // regenerated fixture with an empty doc, Spark's `div 0` yields
    // NULL (NULLS FIRST, silently entering the sample) while DuckDB's
    // `//` raises — the guard keeps the key total and the engines
    // aligned for any fixture
    (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("h60", md5Long60(col("doc_id")))
        .withColumn("akey", expr("h60 div greatest(n_chars, 1)"))
        .orderBy(col("akey").asc, col("doc_id"))
        .limit(20)
        .select("doc_id", "n_chars"),
    Some(s"""SELECT doc_id, n_chars FROM documents
    ORDER BY ${duckH60("CAST(doc_id AS VARCHAR)")} // greatest(n_chars, 1)
      ASC, doc_id
    LIMIT 20"""))

  /** c07 — PageRank, the classic link-graph quality signal for corpus
    * curation, as 3 unrolled power iterations over the REAL
    * part↔supplier bipartite graph (distinct lineitem pairs, made
    * symmetric; node ids disambiguated as part*2 / supp*2+1). All
    * arithmetic is INTEGER fixed-point (rank ×1e9, floor division for
    * both the share split and the damping) so every engine computes
    * identical ranks — no float summation order anywhere.
    *
    * Scale shape: one distinct + degree groupBy up front (edges cached
    * pre-partitioned on src — three iterations reference them), then
    * per round the rank/degree work happens in a TINY node-keyed
    * `shares` frame (|V| rows) so the round's only big operation is
    * edges ⋈ shares + a dst groupBy — shares broadcasts under AQE at
    * this |V| ≪ |E|; a web-scale graph co-partitions both on node
    * instead (the edges cache already carries that partitioning).
    * Production graphs with many more rounds would localCheckpoint each
    * round to cut the growing lineage, exactly as ops/NearDedup does. */
  private val c07 = GraftQuery(
    "c07_pagerank",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val pairs = li.select((col("l_partkey") * 2).as("a"),
        (col("l_suppkey") * 2 + 1).as("b")).distinct()
      // both caches are the run's scratch: unpersisted when it ends
      val edges = graft.Arm.cached(s,
        pairs.select(col("a").as("src"), col("b").as("dst"))
          .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
          .repartition(col("src")))
      val deg = graft.Arm.cached(s,
        edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
          .withColumnRenamed("src", "node"))
      val nV = deg.agg(count(lit(1)).as("n"))
      var ranks = deg.crossJoin(broadcast(nV))
        .select(col("node"), expr("1000000000L div n").as("r"))
      for (_ <- 1 to 3) {
        // per-node share — all |V|-sized frames, joined OFF the big
        // edge set so each round's only fact-scale work is one join
        val shares = ranks.join(deg, "node")
          .select(col("node").as("src"), expr("r div outdeg").as("c"))
        val contrib = edges.join(shares, "src")
          .groupBy("dst").agg(sum("c").as("m"))
        ranks = deg.select(col("node"))
          .join(contrib, col("node") === col("dst"), "left")
          .crossJoin(broadcast(nV))
          .select(col("node"),
            (expr("(15 * (1000000000L div n)) div 100") +
              expr("(85 * coalesce(m, 0L)) div 100")).as("r"))
      }
      ranks.select(col("node"), col("r").as("rank_e9"))
        .orderBy(col("rank_e9").desc, col("node"))
        .limit(100)
    },
    Some("""WITH pairs AS (
      SELECT DISTINCT l_partkey*2 AS a, l_suppkey*2+1 AS b FROM lineitem),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    v AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1000000000 // n AS r FROM deg, v),
    s1 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS m
           FROM edges e JOIN r0 r ON e.src = r.node
           JOIN deg d ON e.src = d.src GROUP BY 1),
    r1 AS (SELECT r0.node,
             (15 * (1000000000 // v.n)) // 100
               + (85 * COALESCE(s1.m, 0)) // 100 AS r
           FROM r0 LEFT JOIN s1 ON r0.node = s1.node, v),
    s2 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS m
           FROM edges e JOIN r1 r ON e.src = r.node
           JOIN deg d ON e.src = d.src GROUP BY 1),
    r2 AS (SELECT r1.node,
             (15 * (1000000000 // v.n)) // 100
               + (85 * COALESCE(s2.m, 0)) // 100 AS r
           FROM r1 LEFT JOIN s2 ON r1.node = s2.node, v),
    s3 AS (SELECT e.dst AS node, SUM(r.r // d.outdeg) AS m
           FROM edges e JOIN r2 r ON e.src = r.node
           JOIN deg d ON e.src = d.src GROUP BY 1),
    r3 AS (SELECT r2.node,
             (15 * (1000000000 // v.n)) // 100
               + (85 * COALESCE(s3.m, 0)) // 100 AS r
           FROM r2 LEFT JOIN s3 ON r2.node = s3.node, v)
    SELECT CAST(node AS BIGINT) AS node, CAST(r AS BIGINT) AS rank_e9
    FROM r3
    ORDER BY rank_e9 DESC, node LIMIT 100"""))

  /** c08 — declarative data-quality report (ops/DataQuality; the
    * dbt-tests / Deequ family): not-null, accepted-values and range
    * checks ride ONE conditional aggregate over lineitem; uniqueness is
    * one key groupBy; referential integrity is an anti-join per
    * relationship. The in_range [1,49] check is deliberately violated
    * by the data (quantities reach 50) so the report proves it counts,
    * not just passes. */
  private val c08 = GraftQuery(
    "c08_dq_report",
    (s, dir) => {
      import graft.ops.DataQuality._
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      val cst = Tables(s, dir, "customer")
      rowChecks(li, Seq(
          notNull("l_orderkey"),
          notNull("l_quantity"),
          acceptedValues("l_returnflag", Seq("A", "N", "R")),
          inRange("l_quantity", 1, 49)))
        .unionByName(uniqueKey(li, Seq("l_orderkey", "l_linenumber")))
        .unionByName(referential(o, "o_custkey", cst, "c_custkey"))
    },
    Some("""SELECT 'not_null' AS "check", 'l_orderkey' AS "column",
      CAST(COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS BIGINT)
        AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'not_null', 'l_quantity',
      CAST(COUNT(CASE WHEN l_quantity IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'accepted_values', 'l_returnflag',
      CAST(COUNT(CASE WHEN l_returnflag NOT IN ('A','N','R')
                   OR l_returnflag IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'in_range', 'l_quantity',
      CAST(COUNT(CASE WHEN l_quantity < 1 OR l_quantity > 49
                   OR l_quantity IS NULL THEN 1 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique', 'l_orderkey,l_linenumber',
      CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
    FROM (SELECT COUNT(*) AS n FROM lineitem
          GROUP BY l_orderkey, l_linenumber)
    UNION ALL
    SELECT 'referential', 'o_custkey', CAST(COUNT(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)"""))

  /** c09 — order-independent table checksum (DataQuality
    * .tableChecksum): XOR + modular-sum folds of per-row md5 hashes —
    * the replica-reconciliation op (compare two 100 TB copies with one
    * scan each and a 24-byte exchange). The oracle IS the use case:
    * DuckDB independently computes the same checksum over the same
    * rows. Integer/string columns only — double/timestamp rendering is
    * engine-specific (see scaladoc). */
  private val c09 = GraftQuery(
    "c09_table_checksum",
    (s, dir) =>
      graft.ops.DataQuality.tableChecksum(Tables(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus")),
    Some(s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COALESCE(bit_xor(h), 0) AS BIGINT) AS xor_sum,
      CAST(COALESCE(SUM(h % 1000000007), 0) AS BIGINT) AS mod_sum
    FROM (SELECT ${duckH60("""concat_ws(chr(1),
        COALESCE(CAST(l_orderkey AS VARCHAR), '\N'),
        COALESCE(CAST(l_partkey AS VARCHAR), '\N'),
        COALESCE(CAST(l_suppkey AS VARCHAR), '\N'),
        COALESCE(CAST(l_linenumber AS VARCHAR), '\N'),
        COALESCE(l_returnflag, '\N'),
        COALESCE(l_linestatus, '\N'))""")} AS h
      FROM lineitem)"""))

  /** c10 — mixture sampling (the data-mixing op: compose a training
    * set from per-language target quotas — the Pile/ROOTS-style recipe
    * step). Selection is content-addressed (smallest md5 of doc_id per
    * language wins), so the mixture is re-run-stable and incremental
    * ingest can only append past the quota boundary. Ranking rides
    * the grouped bounded-heap aggregate
    * ([[graft.ops.Ops.topKPerGroupAgg]]) — languages are a
    * LOW-cardinality key, so a plain per-lang window would funnel the
    * corpus through |langs| tasks; the aggregate keeps per-partition
    * per-lang heaps map-side and ships only langs × quota pairs. A
    * language missing from the recipe contributes nothing (null quota
    * filters out). */
  private val c10 = {
    val quotas = Map("en" -> 80, "de" -> 40, "fr" -> 30,
      "es" -> 30, "zh" -> 20)
    val maxQuota = quotas.values.max
    GraftQuery(
      "c10_mixture_sample",
      (s, dir) => {
        val ranked = graft.ops.Ops.topKPerGroupAgg(
          Tables(s, dir, "documents")
            .select(col("doc_id"), col("lang"),
              md5Long60(col("doc_id")).as("hk")),
          Seq("lang"), col("hk"), col("doc_id"), maxQuota,
          "hk", "doc_id", "rank")
        ranked
          .withColumn("quota",
            element_at(typedLit(quotas), col("lang")))
          .filter(col("rank") <= col("quota"))
          .select(col("doc_id"), col("lang"),
            col("rank").cast("long").as("rnk"))
      },
      Some(s"""WITH q(lang, quota) AS (VALUES
        ('en', 80), ('de', 40), ('fr', 30), ('es', 30), ('zh', 20)),
      r AS (SELECT doc_id, lang,
        row_number() OVER (PARTITION BY lang
          ORDER BY ${duckH60("CAST(doc_id AS VARCHAR)")}, doc_id) AS rnk
        FROM documents)
      SELECT r.doc_id, r.lang, CAST(r.rnk AS BIGINT) AS rnk
      FROM r JOIN q USING (lang) WHERE r.rnk <= q.quota"""))
  }

  /** c11 — domain-level quality gate (the C4-style blocklist step:
    * aggregate per-source quality signals, then keep/block whole
    * domains — cheaper and often more effective than doc-level
    * filtering because garbage clusters by origin). ONE map-side
    * combined groupBy on source; verdict math is all integer (floor
    * averages, ×1e6 fractions), so both engines agree exactly. At
    * 100 TB the output is a dim-sized blocklist the ingest pass
    * broadcast-anti-joins against. */
  private val c11 = GraftQuery(
    "c11_domain_gate",
    (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars_total"),
          count(when(col("n_chars") < 200, 1)).as("n_short"))
        .withColumn("avg_chars", expr("chars_total div n_docs"))
        .withColumn("short_frac_e6",
          expr("n_short * 1000000 div n_docs"))
        .withColumn("keep",
          col("avg_chars") >= 300 && col("short_frac_e6") <= 280000),
    Some("""SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      CAST(COUNT(CASE WHEN n_chars < 200 THEN 1 END) AS BIGINT)
        AS n_short,
      CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars,
      CAST(COUNT(CASE WHEN n_chars < 200 THEN 1 END) * 1000000
        // COUNT(*) AS BIGINT) AS short_frac_e6,
      (SUM(n_chars) // COUNT(*) >= 300 AND
       COUNT(CASE WHEN n_chars < 200 THEN 1 END) * 1000000
         // COUNT(*) <= 280000) AS keep
    FROM documents GROUP BY source"""))

  /** c12 — deterministic train/val/test split
    * ([[graft.ops.Sampling.hashSplit]]): md5-bucket assignment per
    * doc_id (content-addressed — stable under re-runs, incremental
    * ingest, and any partitioning, unlike `rand()` splits), with the
    * per-(split, lang) counts that a leakage audit reads. Pure
    * projection + one map-side combined groupBy. */
  private val c12 = GraftQuery(
    "c12_hash_split",
    (s, dir) =>
      graft.ops.Sampling.hashSplit(
        Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"),
          min("bucket").as("min_bucket"), max("bucket").as("max_bucket")),
    Some(s"""WITH b AS (
      SELECT lang, ${duckH60("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
      FROM documents)
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'validation'
                ELSE 'test' END AS split,
      lang, CAST(COUNT(*) AS BIGINT) AS n,
      CAST(MIN(bucket) AS BIGINT) AS min_bucket,
      CAST(MAX(bucket) AS BIGINT) AS max_bucket
    FROM b GROUP BY 1, 2"""))

  /** c13 — temperature-scaled mixture weights (τ=0.5): DERIVE the
    * per-source sampling mixture from corpus counts — w_i ∝ n_i^τ —
    * the standard pretraining-mixture rebalancing (τ<1 upweights
    * small sources relative to proportional sampling; τ=0.5 is the
    * common multilingual choice). c10 samples BY given weights; c13
    * is where those weights come from.
    *
    * Determinism: n^0.5 is `sqrt` — IEEE correctly-rounded in both
    * engines (unlike `pow`, which is why τ is 0.5 and not 0.7) — and
    * everything after the floor(·1e6) is integer: the share
    * normalizes by the INTEGER weight sum (never a cross-row double
    * sum, whose order differs per partitioning), and the per-source
    * document allotment out of 1000 is one more integral division.
    * Plan: one map-side combined groupBy on source (dim-sized), then
    * a broadcast of the 1-row weight total. */
  private val c13 = GraftQuery(
    "c13_mixture_weights",
    (s, dir) => {
      val counts = Tables(s, dir, "documents")
        .groupBy("source").agg(count(lit(1)).as("n_docs"))
        .withColumn("w_e6",
          floor(sqrt(col("n_docs").cast("double")) * lit(1e6)))
      val tot = counts.agg(sum(col("w_e6")).as("w_tot"))
      counts.crossJoin(broadcast(tot))
        .withColumn("share_e6", expr("w_e6 * 1000000 div w_tot"))
        .withColumn("take", expr("w_e6 * 1000 div w_tot"))
        .select(col("source"), col("n_docs"), col("w_e6"),
          col("share_e6"), col("take"))
    },
    Some("""WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE)) * 1e6) AS BIGINT)
          AS w_e6
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(w_e6) AS w_tot FROM counts)
    SELECT source, n_docs, w_e6,
      CAST(w_e6 * 1000000 // w_tot AS BIGINT) AS share_e6,
      CAST(w_e6 * 1000 // w_tot AS BIGINT) AS take
    FROM counts, tot"""))

  /** c14 — deterministic epoch shuffle + token-balanced shards: the
    * last step of every pretraining data pipeline — order the corpus
    * by a seeded content hash (the reproducible "global shuffle";
    * re-runs and incremental ingests land every doc in the same spot,
    * unlike `rand()`), then cut the shuffled token axis into N=8
    * contiguous shards balanced by TOKEN mass, not document count —
    * `shard = (N * cum_before) div total` guarantees shard ids in
    * [0, N-1] and per-shard token sums within one max-document of
    * total/N, with no driver-side greedy loop.
    *
    * Plan shape (100 TB): the cumulative token position comes from
    * [[graft.ops.Packing.withPrefixSum]] — the two-phase distributed
    * prefix sum (one long per partition to the driver, then a
    * partition-local pass), NOT a single-partition global window,
    * which simply does not finish at corpus scale. The total is a
    * one-row broadcast. The md5 shuffle key is map-side codegen. */
  private val c14 = GraftQuery(
    "c14_epoch_shards",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"),
          md5(concat(lit("epoch-1:"), col("doc_id").cast("string")))
            .as("shuffle_key"),
          size(tokens(col("text"))).cast("long").as("n_tokens"))
      val cum = graft.ops.Packing
        .withPrefixSum(d, "shuffle_key", "n_tokens", "cum_before")
      val tot = cum.agg(sum(col("n_tokens")).as("total_tokens"))
      cum.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("shuffle_key"), col("n_tokens"),
          col("cum_before"),
          expr("(8 * cum_before) div total_tokens").as("shard"))
    },
    Some("""WITH d AS (
      SELECT doc_id,
        md5('epoch-1:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    c AS (
      SELECT *,
        CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY shuffle_key
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS BIGINT) AS cum_before,
        CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens
      FROM d)
    SELECT doc_id, shuffle_key, n_tokens, cum_before,
      (8 * cum_before) // total_tokens AS shard
    FROM c"""))

  /** c15 — DSIR importance weights (Xie et al. 2023, arXiv:2302.03169
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw document by how target-like it is under hashed
    * n-gram bag-of-words models — weight = Σ_features log(p_target(f)
    * / p_raw(f)) — and select the positive-weight docs. The target
    * here is the `lang='en'` slice standing in for the paper's "high
    * quality corpus"; features are overlapping bigrams hashed into 256
    * buckets (the hashing is the paper's POINT: it makes both LMs
    * fixed-size and broadcastable no matter the corpus).
    *
    * Determinism recipe (the c02 idf pattern): both smoothed-count
    * products `(cnt_t+1)(T_r+B)` and `(cnt_r+1)(T_t+B)` are exact
    * longs < 2^53, so their double quotient is correctly rounded and
    * identical cross-engine; one ln per BUCKET (256 of them, never
    * per row), floor(·1e6) to a long, then per-doc weights are exact
    * long sums.
    *
    * Plan shape (100 TB): bigram hashing is map-side codegen; the two
    * LMs come from ONE partial-combining groupBy on the 256-value
    * bucket (target counts via conditional sum in the same pass);
    * totals are a one-row broadcast; the per-doc scoring join
    * broadcasts the 256-row ratio table. One corpus shuffle total
    * (the per-doc rollup on doc_id). */
  private val c15 = GraftQuery(
    "c15_dsir_weights",
    (s, dir) => {
      import graft.functions.TextOps.shingles
      val bg = Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          explode(shingles(tokens(col("text")), 2)).as("bigram"))
        .withColumn("bucket", md5Long60(col("bigram")) % 256)
        .select("doc_id", "lang", "bucket")
      val lm = bg.groupBy("bucket").agg(
        count(lit(1)).as("cnt_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t"))
      val tot = lm.agg(sum(col("cnt_r")).as("t_r"),
        sum(col("cnt_t")).as("t_t"))
      val ratios = lm.crossJoin(broadcast(tot))
        .withColumn("ratio_e6",
          floor(log(
            ((col("cnt_t") + 1) * (col("t_r") + 256)).cast("double") /
              ((col("cnt_r") + 1) * (col("t_t") + 256))) * 1e6)
            .cast("long"))
        .select("bucket", "ratio_e6")
      bg.join(broadcast(ratios), "bucket")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("ratio_e6")).as("weight_e6"))
        .withColumn("selected", col("weight_e6") > 0L)
    },
    Some(s"""WITH bg AS (
      SELECT doc_id, lang, unnest(list_transform(
        range(1, len(string_split(text,' '))),
        i -> array_to_string(list_slice(string_split(text,' '), i, i+1),
          ' '))) AS bigram
      FROM documents),
    b AS (SELECT doc_id, lang,
        ${duckH60("bigram")} % 256 AS bucket FROM bg),
    lm AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cnt_r,
        CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
          AS cnt_t
      FROM b GROUP BY 1),
    tot AS (SELECT CAST(SUM(cnt_r) AS BIGINT) AS t_r,
        CAST(SUM(cnt_t) AS BIGINT) AS t_t FROM lm),
    r AS (SELECT bucket,
        CAST(floor(ln(CAST((cnt_t+1)*(t_r+256) AS DOUBLE)
          / ((cnt_r+1)*(t_t+256))) * 1e6) AS BIGINT) AS ratio_e6
      FROM lm, tot),
    per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(ratio_e6) AS BIGINT) AS weight_e6
      FROM b JOIN r USING (bucket) GROUP BY 1)
    SELECT doc_id, n_bigrams, weight_e6, weight_e6 > 0 AS selected
    FROM per"""))

  /** c16 — per-SOURCE calibrated quality gate: raw quality scores are
    * not comparable across sources (a marginal doc from a clean dump
    * outscores a good doc from a noisy one), so production curation
    * thresholds per source — "keep each source's top 30%" — rather
    * than applying one global cut. Score = integer uniqueness ratio
    * (t01's signal as `(1e6·n_uniq) div n_tokens`); the cutoff is the
    * EXACT per-source 70th-percentile score: the largest s whose
    * descending cumulative count reaches ceil(0.3·n) = `(3n+9) div
    * 10` (ties at the cutoff all kept — well-defined, no tiebreak
    * lottery).
    *
    * Plan shape (100 TB): the corpus is touched twice, both times
    * embarrassingly parallel — one partial-combining groupBy to the
    * (source, score) HISTOGRAM (sources × distinct scores rows, tiny
    * by construction since the score is a bounded integer), and one
    * map-side filter against the BROADCAST cutoff table. The ranking
    * window runs over the histogram, never the corpus — this is the
    * counting form of a per-source percentile, the shape that
    * replaces "window over every doc per source" (one task per
    * source, unbounded) at scale. */
  private val c16 = GraftQuery(
    "c16_quality_calibration",
    (s, dir) => {
      val scored = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          // widen BEFORE the ×1e6: size() is 32-bit, and a doc with
          // >2147 distinct tokens would overflow the int multiply
          // (ANSI error under Spark 4's default) while the DuckDB twin
          // multiplies in 64-bit — diverging exactly on long docs
          expr("""(1000000L * CAST(size(array_distinct(split(text, ' ')))
            AS BIGINT)) div size(split(text, ' '))""").as("score"))
      val hist = scored.groupBy("source", "score")
        .agg(count(lit(1)).as("cnt"))
      val n = scored.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("source").orderBy(col("score").desc)
      val cuts = hist.withColumn("cum", sum(col("cnt")).over(w))
        .join(n, "source")
        .filter(col("cum") >= expr("(3 * n_docs + 9) div 10"))
        .groupBy("source").agg(max(col("score")).as("cutoff"))
      scored.join(broadcast(cuts), "source")
        .select(col("doc_id"), col("source"), col("score"),
          col("cutoff"), (col("score") >= col("cutoff")).as("kept"))
    },
    Some("""WITH scored AS (
      SELECT doc_id, source,
        (1000000 * CAST(len(list_distinct(string_split(text, ' ')))
          AS BIGINT)) // len(string_split(text, ' ')) AS score
      FROM documents),
    hist AS (SELECT source, score, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM scored GROUP BY 1, 2),
    n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM scored GROUP BY 1),
    cum AS (SELECT h.source, h.score,
        CAST(SUM(h.cnt) OVER (PARTITION BY h.source
          ORDER BY h.score DESC) AS BIGINT) AS cum, n.n_docs
      FROM hist h JOIN n USING (source)),
    cuts AS (SELECT source, MAX(score) AS cutoff FROM cum
      WHERE cum >= (3 * n_docs + 9) // 10 GROUP BY 1)
    SELECT s.doc_id, s.source, s.score, c.cutoff,
      s.score >= c.cutoff AS kept
    FROM scored s JOIN cuts c USING (source)"""))

  /** c17 — per-bucket distribution-drift profile
    * ([[graft.ops.Drift.histogramProfile]]): the nightly alarm input
    * for the standing-index staleness contracts (refreshIndexes
    * cadence, VectorDedupIndex re-fit). Ref = even event ids, cur =
    * odd, the `value` signal bucketed at width 8 (a power of two so
    * the bucketing division is IEEE-exact cross-engine). TVD over
    * PSI/KL on purpose: no transcendentals → integer counts with
    * per-row trailing divisions → hash-exact vs DuckDB. The internal
    * tv_num arithmetic is decimal(38,0) (overflow-proof at 1e10-row
    * slices) but the PROJECTION casts it to double: decimal is not a
    * driver-stable oracle type — Spark's decimal128(38,0) parquet and
    * DuckDB's product decimal canonicalize differently in the driver's
    * hash (r15 verdict) — and the exact integer is ≤ 2^53 at every
    * oracle SF, so the cast is value-lossless here. RegistrySpec now
    * guards the whole registry against raw decimal projections. */
  private val c17 = GraftQuery(
    "c17_drift_profile",
    (s, dir) => {
      val e = Tables(s, dir, "events")
      graft.ops.Drift.histogramProfile(
          e.filter(col("event_id") % 2 === 0),
          e.filter(col("event_id") % 2 === 1),
          "value", bucketWidth = 8.0, maxBucket = 63)
        .select(col("bucket"), col("n_ref"), col("n_cur"),
          col("tv_num").cast("double").as("tv_num"), col("tv_contrib"))
    },
    Some("""WITH r AS (
      SELECT CAST(LEAST(GREATEST(FLOOR(value/8.0), 0), 63) AS BIGINT)
        AS bucket, CAST(count(*) AS BIGINT) AS n_ref
      FROM events WHERE event_id % 2 = 0
        AND value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
    c AS (
      SELECT CAST(LEAST(GREATEST(FLOOR(value/8.0), 0), 63) AS BIGINT)
        AS bucket, CAST(count(*) AS BIGINT) AS n_cur
      FROM events WHERE event_id % 2 = 1
        AND value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
    j AS (
      SELECT COALESCE(r.bucket, c.bucket) AS bucket,
        COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur
      FROM r FULL OUTER JOIN c ON r.bucket = c.bucket),
    t AS (
      SELECT *, CAST(SUM(n_ref) OVER () AS BIGINT) AS t_ref,
        CAST(SUM(n_cur) OVER () AS BIGINT) AS t_cur
      FROM j)
    SELECT bucket, n_ref, n_cur,
      CAST(ABS(CAST(n_ref AS DECIMAL(18,0)) * CAST(t_cur AS DECIMAL(18,0))
        - CAST(n_cur AS DECIMAL(18,0)) * CAST(t_ref AS DECIMAL(18,0)))
        AS DOUBLE) AS tv_num,
      CASE WHEN t_ref = 0 OR t_cur = 0 THEN NULL
        ELSE CAST(ABS(CAST(n_ref AS DECIMAL(18,0))
            * CAST(t_cur AS DECIMAL(18,0))
            - CAST(n_cur AS DECIMAL(18,0))
            * CAST(t_ref AS DECIMAL(18,0))) AS DOUBLE)
          / (2.0 * t_ref * t_cur) END AS tv_contrib
    FROM t"""))

  /** c18 — the scalar total-variation distance
    * ([[graft.ops.Drift.tvd]]): ½ Σ |p−q| as an exact integer
    * numerator sum with ONE trailing division — the number a nightly
    * pipeline thresholds to trigger a dictionary/centroid re-fit. */
  private val c18 = GraftQuery(
    "c18_drift_tvd",
    (s, dir) => {
      val e = Tables(s, dir, "events")
      graft.ops.Drift.tvd(
        e.filter(col("event_id") % 2 === 0),
        e.filter(col("event_id") % 2 === 1),
        "value", bucketWidth = 8.0, maxBucket = 63)
    },
    Some("""WITH r AS (
      SELECT CAST(LEAST(GREATEST(FLOOR(value/8.0), 0), 63) AS BIGINT)
        AS bucket, CAST(count(*) AS BIGINT) AS n_ref,
        CAST(count(*) FILTER (value >= 512.0 OR value < 0.0)
          AS BIGINT) AS cl_ref
      FROM events WHERE event_id % 2 = 0
        AND value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
    c AS (
      SELECT CAST(LEAST(GREATEST(FLOOR(value/8.0), 0), 63) AS BIGINT)
        AS bucket, CAST(count(*) AS BIGINT) AS n_cur,
        CAST(count(*) FILTER (value >= 512.0 OR value < 0.0)
          AS BIGINT) AS cl_cur
      FROM events WHERE event_id % 2 = 1
        AND value IS NOT NULL AND NOT isnan(value) GROUP BY 1),
    j AS (
      SELECT COALESCE(r.bucket, c.bucket) AS bucket,
        COALESCE(n_ref, 0) AS n_ref, COALESCE(n_cur, 0) AS n_cur,
        COALESCE(cl_ref, 0) AS cl_ref, COALESCE(cl_cur, 0) AS cl_cur
      FROM r FULL OUTER JOIN c ON r.bucket = c.bucket),
    t AS (
      SELECT *, CAST(SUM(n_ref) OVER () AS BIGINT) AS t_ref,
        CAST(SUM(n_cur) OVER () AS BIGINT) AS t_cur
      FROM j)
    SELECT CASE WHEN MAX(t_ref) = 0 OR MAX(t_cur) = 0 THEN NULL
        ELSE CAST(SUM(ABS(CAST(n_ref AS DECIMAL(18,0))
            * CAST(t_cur AS DECIMAL(18,0))
            - CAST(n_cur AS DECIMAL(18,0))
            * CAST(t_ref AS DECIMAL(18,0)))) AS DOUBLE)
          / (2.0 * MAX(t_ref) * MAX(t_cur)) END AS tvd,
      CAST(count(*) AS BIGINT) AS n_buckets,
      MAX(t_ref) AS t_ref, MAX(t_cur) AS t_cur,
      CASE WHEN MAX(t_ref) = 0 THEN NULL
        ELSE CAST(SUM(cl_ref) AS DOUBLE) / MAX(t_ref) END
        AS clamped_frac_ref,
      CASE WHEN MAX(t_cur) = 0 THEN NULL
        ELSE CAST(SUM(cl_cur) AS DOUBLE) / MAX(t_cur) END
        AS clamped_frac_cur
    FROM t"""))

  override val suite: Seq[GraftQuery] =
    Seq(c01, c02, c03, c04, c05, c06, c07, c08, c09, c10, c11, c12, c13,
      c14, c15, c16, c17, c18)
}
