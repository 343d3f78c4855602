package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, QuerySuite, Tables}
import graft.functions.TextOps.{md5Long32, tokens}
import graft.functions.HyperLogLog

/** Sketch / approximate aggregates (SURVEY.md §2.5's reserved
  * "HLL/approx distinct" surface, built out as first-class operators):
  * KMV distinct-count, HyperLogLog (relational form AND the custom
  * typed Aggregator — same estimate, oracle-checked against the same
  * SQL), count-min-sketch frequency, and hash-sampled quantiles.
  *
  * Cross-engine determinism: every sketch is integer arithmetic over
  * md5-derived hashes until a single final double division (or, for
  * s05, a raw column passthrough), so Spark and DuckDB agree bitwise.
  * Order-dependence is eliminated structurally — register maxima,
  * integer sums, and order statistics are all permutation-invariant.
  *
  * Scale notes (100 TB): each sketch shuffles O(groups × sketch size),
  * never O(rows) — KMV keeps k hashes per group (window over the
  * *deduped* hash set), HLL carries 64 registers with map-side combine,
  * CMS is a fixed d×w counter grid built by one groupBy, and the
  * sampled quantile windows over a ~25% hash sample (at real scale the
  * sample rate drops with n; the plan shape is identical).
  */
object SketchSuite extends QuerySuite {

  /** DuckDB twin of [[md5Long32]]: fold the first 8 md5 hex chars. */
  private[queries] def duckH32(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
      list_transform(range(1,9), i ->
        CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
          AS BIGINT))), (a,b) -> a*16+b)"""

  // ---------------------------------------------------------------- s01
  /** s01 — KMV (k-minimum-values) distinct estimate per language:
    * est = (k-1) * 2^32 / h_(k), h_(k) the k-th smallest distinct
    * 32-bit hash. (k-1)*2^32 = 15*4294967296 is the exact double
    * literal 6.442450944e10; the k-th order statistic is permutation-
    * invariant, so ties and partitioning cannot change the result. */
  private val KmvK = 16

  private val s01 = GraftQuery(
    "s01_kmv_distinct",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val hashed = docs
        .select(col("lang"), md5Long32(col("text")).as("h32"))
        .distinct()
      val w = Window.partitionBy("lang").orderBy("h32")
      val kth = hashed
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === KmvK)
      val exact = docs.groupBy("lang")
        .agg(countDistinct(col("text")).as("n_exact"))
      exact.join(kth, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (lit(6.442450944e10) / col("h32").cast("double")).as("est_kmv"))
    },
    Some(s"""WITH hashed AS (
        SELECT DISTINCT lang, ${duckH32("text")} AS h32 FROM documents),
      kth AS (
        SELECT lang, h32 FROM hashed
        QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h32) = $KmvK),
      exact AS (
        SELECT lang, count(DISTINCT text) AS n_exact
        FROM documents GROUP BY 1)
      SELECT e.lang, e.n_exact,
        6.442450944e10 / CAST(k.h32 AS DOUBLE) AS est_kmv
      FROM exact e JOIN kth k USING (lang)"""))

  // ---------------------------------------------------------------- s02
  /** Shared relational-HLL oracle SQL (also the oracle for the UDAF
    * twin s03 — the whole point: two Spark implementations, one SQL
    * ground truth, three bit-identical estimates). */
  private def hllOracle(estCol: String, withExact: Boolean): String = {
    val exactCte = if (withExact)
      """, exact AS (
        SELECT lang, count(DISTINCT text) AS n_exact
        FROM documents GROUP BY 1)""" else ""
    val exactSel = if (withExact) "e.n_exact," else ""
    val exactJoin = if (withExact) "JOIN exact e USING (lang)" else ""
    s"""WITH hashed AS (
        SELECT lang, ${duckH32("text")} AS h32 FROM documents
        WHERE text IS NOT NULL),
      rho AS (
        SELECT lang, h32 % ${HyperLogLog.M} AS j,
          CASE WHEN h32 // ${HyperLogLog.M} = 0 THEN ${HyperLogLog.MaxRho}
               ELSE bit_count(((h32 // ${HyperLogLog.M})
                 & -(h32 // ${HyperLogLog.M})) - 1) + 1 END AS rho
        FROM hashed),
      regs AS (SELECT lang, j, max(rho) AS r FROM rho GROUP BY 1, 2),
      s AS (
        SELECT lang, SUM(1::BIGINT << (32 - r)) AS s_present,
          COUNT(*) AS n_regs
        FROM regs GROUP BY 1)$exactCte
      SELECT s.lang, $exactSel
        ${HyperLogLog.EstConst} / CAST(s_present
          + (${HyperLogLog.M} - n_regs) * 4294967296 AS DOUBLE) AS $estCol
      FROM s $exactJoin"""
  }

  /** s02 — HyperLogLog distinct estimate per language, pure relational
    * form: register = low-6-bits bucket, rank = trailing zeros of the
    * remaining 26 bits + 1, estimate = alpha·m²·2^32 / Σ 2^(32-M[j]).
    * The register sum is an exact integer; one final double division. */
  private val s02 = GraftQuery(
    "s02_hll_distinct",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val regs = docs
        .select(col("lang"), md5Long32(col("text")).as("h32"))
        .filter(col("h32").isNotNull)
        .withColumn("j", col("h32") % HyperLogLog.M)
        .withColumn("wbits", expr(s"h32 div ${HyperLogLog.M}"))
        .withColumn("rho",
          when(col("wbits") === 0, lit(HyperLogLog.MaxRho))
            .otherwise(expr("bit_count((wbits & -wbits) - 1) + 1")))
        .groupBy("lang", "j").agg(max("rho").as("r"))
        .groupBy("lang").agg(
          sum(expr("shiftleft(1L, 32 - r)")).as("s_present"),
          count(lit(1)).as("n_regs"))
        .select(col("lang"),
          (col("s_present") +
            (lit(HyperLogLog.M) - col("n_regs")) * lit(4294967296L))
            .as("s_total"))
      val exact = docs.groupBy("lang")
        .agg(countDistinct(col("text")).as("n_exact"))
      exact.join(regs, Seq("lang"))
        .select(col("lang"), col("n_exact"),
          (lit(HyperLogLog.EstConst) / col("s_total").cast("double"))
            .as("est_hll"))
    },
    Some(hllOracle("est_hll", withExact = true)))

  // ---------------------------------------------------------------- s03
  /** s03 — the same HLL through the custom typed Aggregator
    * ([[HyperLogLog.HllAggregator]], §2.13 surface): mergeable 64-byte
    * register buffers with map-side combine. Oracle-checked against
    * the SAME relational SQL as s02 — the aggregator must reproduce the
    * relational estimate bit-for-bit. */
  private val s03 = GraftQuery(
    "s03_hll_udaf",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), md5Long32(col("text")).as("h32"))
        .groupBy("lang")
        .agg(HyperLogLog.hll(col("h32")).as("est_hll_udaf")),
    Some(hllOracle("est_hll_udaf", withExact = false)))

  // ---------------------------------------------------------------- s04
  /** s04 — count-min-sketch frequency estimation: d=4 salted hash rows
    * × w=32 counter buckets; per-key estimate = min over the d bucket
    * counts. Pure integer counts — deterministic, and the sketch grid
    * is O(d·w) however many events flow through it. Estimates
    * over-count on collisions (at the sf0.01 oracle gate, 150 users
    * >> 32 buckets), never under-count.
    *
    * CMS counters are ADDITIVE, so the plan pre-aggregates exact
    * per-key counts FIRST (the one full-data shuffle, map-side
    * combined) and builds the grid by summing those increments: the
    * d-way fan-out and all d·|keys| md5 calls run over |distinct keys|
    * rows, not |events| — at sf0.1 that cut the query from ~8.6 s to
    * well under a second, and at 100 TB it is the difference between
    * hashing the corpus d times and hashing the key dictionary d
    * times. */
  private val CmsD = 4
  private val CmsW = 32

  private val s04 = GraftQuery(
    "s04_cms_freq",
    (s, dir) => {
      val exact = Tables(s, dir, "events").select(col("user_id"))
        .groupBy("user_id").agg(count(lit(1)).as("n_exact"))
      val keyed = exact
        .withColumn("row", explode(sequence(lit(0), lit(CmsD - 1))))
        .withColumn("bucket",
          md5Long32(concat(col("user_id").cast("string"), lit("#"),
            col("row").cast("string"))) % CmsW)
      val cms = keyed.groupBy("row", "bucket")
        .agg(sum(col("n_exact")).as("c"))
      val est = keyed.select("user_id", "row", "bucket")
        .join(cms, Seq("row", "bucket"))
        .groupBy("user_id").agg(min("c").as("est_cms"))
      exact.join(est, Seq("user_id"))
        .select("user_id", "n_exact", "est_cms")
    },
    Some(s"""WITH exact AS (
        SELECT user_id, COUNT(*) AS n_exact FROM events GROUP BY 1),
      keyed AS (
        SELECT user_id, n_exact, r.row,
          ${duckH32("CAST(user_id AS VARCHAR) || '#' || CAST(r.row AS VARCHAR)")}
            % $CmsW AS bucket
        FROM exact, (SELECT unnest(range(0, $CmsD)) AS row) r),
      cms AS (
        SELECT row, bucket, CAST(SUM(n_exact) AS BIGINT) AS c
        FROM keyed GROUP BY 1, 2),
      est AS (
        SELECT k.user_id, MIN(c.c) AS est_cms
        FROM keyed k
        JOIN cms c USING (row, bucket)
        GROUP BY 1)
      SELECT e.user_id, e.n_exact, est.est_cms
      FROM exact e JOIN est USING (user_id)"""))

  // ---------------------------------------------------------------- s05
  /** s05 — hash-sampled median per event type: deterministic ~25%
    * Bernoulli sample by event-id hash (every engine picks the same
    * rows — no rand()), then the exact lower-median order statistic of
    * the sample. The output value is a raw column passthrough, so no
    * float arithmetic crosses engines at all. */
  private val s05 = GraftQuery(
    "s05_sampled_quantile",
    (s, dir) => {
      val sample = Tables(s, dir, "events")
        .filter(md5Long32(col("event_id").cast("string")) % 4 === 0)
        .select("event_type", "value", "event_id")
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      sample
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy("event_type")))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("cnt").as("n_sample"),
          col("value").as("median_est"))
    },
    Some(s"""WITH sample AS (
        SELECT event_type, value, event_id FROM events
        WHERE ${duckH32("CAST(event_id AS VARCHAR)")} % 4 = 0),
      ranked AS (
        SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY event_type) AS cnt
        FROM sample)
      SELECT event_type, cnt AS n_sample, value AS median_est
      FROM ranked WHERE rn = (cnt + 1) // 2"""))

  // ---------------------------------------------------------------- s06
  /** s06 — deterministic stratified sampling (training-data curation:
    * rebalance a skewed corpus): per-language Bernoulli rates applied
    * by content hash, so the SAME rows are kept on every engine, every
    * run, every partitioning — no rand(), no seeds to ship. Rates pick
    * ~40% of the dominant language and keep the rest whole. */
  private val s06 = {
    val rates: Seq[(String, Int)] = // percent kept, by lang
      Seq("en" -> 40, "es" -> 100, "de" -> 100, "fr" -> 100, "zh" -> 100)
    GraftQuery(
      "s06_stratified_sample",
      (s, dir) => {
        val rateCol = rates.tail.foldLeft(
          when(col("lang") === rates.head._1, lit(rates.head._2))) {
          case (acc, (l, r)) => acc.when(col("lang") === l, lit(r))
        }.otherwise(lit(100))
        Tables(s, dir, "documents")
          .withColumn("bucket", md5Long32(col("text")) % 100)
          .filter(col("bucket") < rateCol)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"),
            min("doc_id").as("first_kept"))
      },
      Some(s"""WITH b AS (
          SELECT lang, doc_id, ${duckH32("text")} % 100 AS bucket
          FROM documents)
        SELECT lang, COUNT(*) AS n_kept, MIN(doc_id) AS first_kept
        FROM b
        WHERE bucket < CASE ${rates.map { case (l, r) =>
          s"WHEN lang = '$l' THEN $r" }.mkString(" ")} ELSE 100 END
        GROUP BY 1"""))
  }

  // ---------------------------------------------------------------- s07
  /** s07 — deterministic train/val/test split assignment (80/10/10 by
    * content hash): the split is a pure function of the row, so it is
    * stable under re-partitioning, re-runs, and incremental appends —
    * the property leakage-free splits at 100 TB actually require
    * (a random split resampled per run leaks val into train). */
  private val s07 = GraftQuery(
    "s07_split_assign",
    (s, dir) =>
      Tables(s, dir, "documents")
        .withColumn("bucket", md5Long32(col("text")) % 100)
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n"),
          min("doc_id").as("first_doc")),
    Some(s"""WITH b AS (
        SELECT lang, doc_id, ${duckH32("text")} % 100 AS bucket
        FROM documents)
      SELECT lang,
        CASE WHEN bucket < 80 THEN 'train'
             WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
        COUNT(*) AS n, MIN(doc_id) AS first_doc
      FROM b GROUP BY 1, 2"""))

  // ---------------------------------------------------------------- s08
  /** s08 — sequence packing for pretraining batches
    * ([[graft.ops.Packing]]): exclusive running token count in doc_id
    * order cut into 512-token bins → (bin, bin_offset) per document.
    * The Spark side uses the two-phase distributed prefix sum (NO
    * single-partition window); the oracle states the same quantity as
    * the window-function definition, which DuckDB can afford at oracle
    * SF. Bit-exact: all integer arithmetic. */
  private val s08 = {
    val MaxLen = 512L
    GraftQuery(
      "s08_pack_bins",
      (s, dir) => {
        val withTok = Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
        graft.ops.Packing.packBins(withTok, "doc_id", "n_tokens", MaxLen)
          .select("doc_id", "n_tokens", "cum_before", "bin", "bin_offset")
      },
      Some(s"""WITH t AS (
          SELECT doc_id,
            CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
          FROM documents),
        c AS (
          SELECT doc_id, n_tokens,
            COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT), 0) AS cum_before
          FROM t)
        SELECT doc_id, n_tokens, cum_before,
          cum_before // $MaxLen AS bin,
          cum_before % $MaxLen AS bin_offset
        FROM c"""))
  }

  // ---------------------------------------------------------------- s09
  /** s09 — winsorization bounds (numeric outlier clipping for feature
    * prep): exact p01/p99 order statistics per event type (0-based rank
    * `(n-1)·q div 100` under a total order — raw value passthrough, so
    * no float arithmetic crosses engines) plus how many rows each
    * bound would clip. Exact ranks need a per-group sort — affordable
    * because event-type cardinality is tiny and the rank window is the
    * oracle-exact form; the sampled sketch (s05) is the scale path
    * when groups are huge and approximation is acceptable. */
  private val s09 = GraftQuery(
    "s09_winsorize",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
      val n = ev.groupBy("event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      val ranked = ev
        .withColumn("rn", row_number().over(w).cast("long") - 1)
        .join(broadcast(n), Seq("event_type"))
      val bounds = ranked.groupBy("event_type").agg(
        min(when(col("rn") === expr("(n-1) div 100"), col("value")))
          .as("p01"),
        min(when(col("rn") === expr("((n-1) * 99) div 100"), col("value")))
          .as("p99"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .groupBy("event_type")
        .agg(min("p01").as("p01"), min("p99").as("p99"),
          count(lit(1)).as("n"),
          count(when(col("value") < col("p01"), lit(1))).as("n_below"),
          count(when(col("value") > col("p99"), lit(1))).as("n_above"))
    },
    Some("""WITH r AS (
        SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type
            ORDER BY value, event_id) - 1 AS rn
        FROM events),
      cnt AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
      b AS (
        SELECT r.event_type,
          MIN(CASE WHEN rn = (cnt.n - 1) // 100 THEN value END) AS p01,
          MIN(CASE WHEN rn = ((cnt.n - 1) * 99) // 100 THEN value END)
            AS p99
        FROM r JOIN cnt USING (event_type) GROUP BY 1)
      SELECT e.event_type, MIN(b.p01) AS p01, MIN(b.p99) AS p99,
        COUNT(*) AS n,
        COUNT(CASE WHEN e.value < b.p01 THEN 1 END) AS n_below,
        COUNT(CASE WHEN e.value > b.p99 THEN 1 END) AS n_above
      FROM events e JOIN b USING (event_type)
      GROUP BY 1"""))

  // ---------------------------------------------------------------- s10
  /** s10 — sketch REAGGREGATION, the property that makes sketches the
    * 100 TB answer: daily HLL register sets (what a warehouse would
    * persist per partition) roll up to the full-period estimate by
    * max-per-register MERGE — no rescan of the raw data. The merged
    * estimate provably equals the direct whole-period estimate (max is
    * associative), and the oracle pins exactly that: per-day rows AND
    * the merged row, each against its exact distinct count. */
  private val s10 = {
    val M = HyperLogLog.M
    GraftQuery(
      "s10_hll_rollup",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(to_date(col("ts")).cast("string").as("day"),
            col("user_id"))
        val rho = ev.select(col("day"), md5Long32(col("user_id")).as("h32"))
          .withColumn("j", col("h32") % M)
          .withColumn("wbits", expr(s"h32 div $M"))
          .withColumn("rho",
            when(col("wbits") === 0, lit(HyperLogLog.MaxRho))
              .otherwise(expr("bit_count((wbits & -wbits) - 1) + 1")))
        // the persisted daily sketches: 64 registers per day
        val daily = rho.groupBy("day", "j").agg(max("rho").as("r"))
        def estimate(regs: DataFrame, key: Column): DataFrame =
          regs.groupBy(key.as("scope")).agg(
              sum(expr("shiftleft(1L, 32 - r)")).as("s_present"),
              count(lit(1)).as("n_regs"))
            .select(col("scope"),
              (lit(HyperLogLog.EstConst) /
                (col("s_present") +
                  (lit(M) - col("n_regs")) * lit(4294967296L))
                  .cast("double")).as("est_users"))
        val perDay = estimate(daily, col("day"))
        // MERGE: max over the stored daily registers — raw data untouched
        val merged = estimate(
          daily.groupBy("j").agg(max("r").as("r")), lit("__merged__"))
        val exactDay = ev.groupBy("day")
          .agg(countDistinct("user_id").as("n_exact"))
          .select(col("day").as("scope"), col("n_exact"))
        val exactAll = ev.agg(countDistinct("user_id").as("n_exact"))
          .select(lit("__merged__").as("scope"), col("n_exact"))
        perDay.unionByName(merged)
          .join(exactDay.unionByName(exactAll), "scope")
          .select("scope", "n_exact", "est_users")
      },
      Some(s"""WITH ev AS (
        SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, user_id
        FROM events),
      rho AS (
        SELECT day, h32 % $M AS j,
          CASE WHEN h32 // $M = 0 THEN ${HyperLogLog.MaxRho}
               ELSE bit_count(((h32 // $M) & -(h32 // $M)) - 1) + 1
          END AS rho
        FROM (SELECT day, ${duckH32("CAST(user_id AS VARCHAR)")} AS h32
              FROM ev)),
      daily AS (SELECT day, j, max(rho) AS r FROM rho GROUP BY 1, 2),
      per_day AS (
        SELECT day AS scope, SUM(1::BIGINT << (32 - r)) AS sp,
          COUNT(*) AS nr
        FROM daily GROUP BY 1),
      merged AS (
        SELECT '__merged__' AS scope, SUM(1::BIGINT << (32 - r)) AS sp,
          COUNT(*) AS nr
        FROM (SELECT j, max(r) AS r FROM daily GROUP BY 1)),
      est AS (
        SELECT scope, ${HyperLogLog.EstConst}
          / CAST(sp + ($M - nr) * 4294967296 AS DOUBLE) AS est_users
        FROM (SELECT * FROM per_day UNION ALL SELECT * FROM merged)),
      exact AS (
        SELECT day AS scope, COUNT(DISTINCT user_id) AS n_exact
        FROM ev GROUP BY 1
        UNION ALL
        SELECT '__merged__', COUNT(DISTINCT user_id) FROM ev)
      SELECT scope, n_exact, est_users FROM est JOIN exact USING (scope)"""))
  }

  /** s11 — KMV/theta-style SET-OVERLAP estimate between event-type
    * audiences (the Apache-DataSketches theta use case: estimate
    * |A ∩ B| for every pair of segments from fixed-size sketches,
    * never from the raw sets). Per type, the sketch is the K smallest
    * distinct user-id hashes (a per-type window whose partial
    * WindowGroupLimit prunes map-side — the low-cardinality type key
    * never funnels the deduped hash set through |types| tasks); per
    * pair, θ = the union sketch's K-th minimum and the
    * estimate is |common hashes < θ| × 2^32 / θ — integer arithmetic
    * to a single final division, so both engines agree bitwise. All
    * post-sketch frames are |types|²×K rows: tiny, like every sketch
    * here the corpus-sized work is ONE distinct. */
  private val s11 = {
    val K = 64
    GraftQuery(
      "s11_kmv_overlap",
      (s, dir) => {
        val hashed = Tables(s, dir, "events")
          .select(col("event_type"),
            graft.functions.TextOps.md5Long32(col("user_id")).as("h"))
          .distinct()
        val sk = graft.ops.Ops.topKPerGroup(hashed,
          Seq("event_type"), Seq(col("h").asc), K, "rn").drop("rn")
        val types = sk.select(col("event_type")).distinct()
        val pairs = types.select(col("event_type").as("ta"))
          .join(types.select(col("event_type").as("tb")),
            col("ta") < col("tb"))
        // union sketch per pair → θ (window over ≤ 2K rows per pair).
        // KMV exact-count fallback: a union with fewer than K distinct
        // hashes means the sketch saw the WHOLE union, so θ = 2^32 and
        // the estimate degrades to the exact common count — without it
        // small segments would silently vanish from the report (the
        // rn === K row does not exist).
        val u = pairs.join(sk,
            col("event_type") === col("ta") ||
              col("event_type") === col("tb"))
          .select(col("ta"), col("tb"), col("h")).distinct()
        val wp = Window.partitionBy("ta", "tb").orderBy("h")
        val wn = Window.partitionBy("ta", "tb")
        val theta = u.withColumn("rn", row_number().over(wp))
          .withColumn("nu", count(lit(1)).over(wn))
          .filter(col("rn") === least(lit(K), col("nu")))
          .select(col("ta"), col("tb"),
            when(col("nu") < K, lit(4294967296L)).otherwise(col("h"))
              .as("th"))
        val common = sk.select(col("event_type").as("ta"), col("h"))
          .join(sk.select(col("event_type").as("tb"), col("h")), Seq("h"))
          .filter(col("ta") < col("tb"))
        theta.join(common, Seq("ta", "tb"), "left")
          .groupBy("ta", "tb", "th")
          .agg(count(when(col("h") < col("th"), 1)).as("n_common"))
          .select(col("ta"), col("tb"), col("n_common"),
            (col("n_common").cast("double") * 4.294967296e9 /
              col("th").cast("double")).as("est_overlap"))
      },
      Some(s"""WITH hashed AS (
        SELECT DISTINCT event_type,
          ${duckH32("CAST(user_id AS VARCHAR)")} AS h FROM events),
      sk AS (SELECT event_type, h FROM hashed
        QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h)
          <= $K),
      t AS (SELECT DISTINCT event_type FROM sk),
      pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
        FROM t a, t b WHERE a.event_type < b.event_type),
      u AS (SELECT DISTINCT p.ta, p.tb, s.h FROM pairs p
        JOIN sk s ON s.event_type = p.ta OR s.event_type = p.tb),
      theta AS (SELECT ta, tb,
        CASE WHEN COUNT(*) OVER (PARTITION BY ta, tb) < $K
             THEN 4294967296 ELSE h END AS th
        FROM u
        QUALIFY row_number() OVER (PARTITION BY ta, tb ORDER BY h)
          = LEAST($K, COUNT(*) OVER (PARTITION BY ta, tb))),
      common AS (SELECT sa.event_type AS ta, sb.event_type AS tb, sa.h
        FROM sk sa JOIN sk sb
        ON sa.h = sb.h AND sa.event_type < sb.event_type)
      SELECT th.ta, th.tb,
        CAST(COUNT(CASE WHEN c.h < th.th THEN 1 END) AS BIGINT)
          AS n_common,
        CAST(COUNT(CASE WHEN c.h < th.th THEN 1 END) AS DOUBLE)
          * 4294967296 / CAST(th.th AS DOUBLE) AS est_overlap
      FROM theta th LEFT JOIN common c ON c.ta = th.ta AND c.tb = th.tb
      GROUP BY th.ta, th.tb, th.th"""))
  }

  /** s12 — PORTABLE bloom-filter membership prefilter (the explicit,
    * mergeable twin of the x09 engine-internal runtime filter, and the
    * 100 TB form of c11's blocklist anti-join): build an M-bit / 3-
    * hash bloom over one audience's user ids (BIGINT words holding
    * 32 bits each — bit math stays in non-negative territory, so both
    * engines' `<<`/`&` agree), then prefilter a probe audience through
    * it. Everything is integer md5 arithmetic: the filter, the probe
    * verdicts, and even the false positives are bit-identical
    * cross-engine. Output marks each probe user with the bloom verdict
    * AND ground truth, so the (deterministic) FP set is itself part of
    * the checked artifact.
    *
    * Scale shape: the filter is one groupBy over |members|×3 positions
    * → 64 rows (256 bytes) — broadcast; the probe side is map-side
    * expression math plus that broadcast join. At ingest scale this is
    * "shuffle only what might match": the corpus-side scan consults
    * 256 bytes instead of semi-joining a billion-row member list. */
  private val s12 = {
    val M = 256 // bits — sized so the probe set exercises negatives
    // AND (deterministically) the false-positive band at test SFs
    val J = 3 // hash functions
    GraftQuery(
      "s12_bloom_prefilter",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        // the member audience: error-reporting users in one cohort
        // (id ≡ 0 mod 7 stands in for a real segment predicate, as in
        // v05's sample bound) — guarantees non-member probes exist
        val members = ev.filter(col("event_type") === "error" &&
            col("user_id") % 7 === 0)
          .select("user_id").distinct()
        val probes = ev.filter(col("event_type") === "view")
          .select("user_id").distinct()
        def positions(df: DataFrame): DataFrame = df
          .withColumn("i", explode(array((0 until J).map(lit): _*)))
          .withColumn("pos",
            md5Long32(concat(col("i"), lit(":"), col("user_id"))) % M)
          .withColumn("word", expr("pos div 32"))
          .withColumn("mask",
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))"))
        val bloom = positions(members).groupBy("word")
          .agg(expr("bit_or(mask)").as("bits"))
        val checked = positions(probes)
          .join(bloom, Seq("word"), "left")
          .withColumn("hit",
            coalesce(col("bits"), lit(0L)).bitwiseAND(col("mask"))
              === col("mask"))
          .groupBy("user_id")
          .agg(expr("bool_and(hit)").as("may_contain"))
        checked
          .join(members.withColumn("tm", lit(true)), Seq("user_id"), "left")
          .select(col("user_id"), col("may_contain"),
            coalesce(col("tm"), lit(false)).as("true_member"))
      },
      Some(s"""WITH members AS (
        SELECT DISTINCT user_id FROM events
        WHERE event_type = 'error' AND user_id % 7 = 0),
      probes AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
      hs AS (SELECT unnest(range(0, $J)) AS i),
      mpos AS (
        SELECT m.user_id,
          ${duckH32("CAST(h.i AS VARCHAR) || ':' || CAST(m.user_id AS VARCHAR)")}
            % $M AS pos
        FROM members m, hs h),
      bloom AS (
        SELECT pos // 32 AS word,
          bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS bits
        FROM mpos GROUP BY 1),
      ppos AS (
        SELECT p.user_id,
          ${duckH32("CAST(h.i AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)")}
            % $M AS pos
        FROM probes p, hs h),
      checked AS (
        SELECT pp.user_id,
          bool_and((COALESCE(b.bits, 0) &
              (1::BIGINT << CAST(pp.pos % 32 AS INTEGER)))
            = (1::BIGINT << CAST(pp.pos % 32 AS INTEGER))) AS may_contain
        FROM ppos pp LEFT JOIN bloom b ON b.word = pp.pos // 32
        GROUP BY pp.user_id)
      SELECT c.user_id, c.may_contain,
        (m.user_id IS NOT NULL) AS true_member
      FROM checked c LEFT JOIN members m USING (user_id)"""))
  }

  override def suite: Seq[GraftQuery] =
    Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09, s10, s11, s12)
}
