package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, QuerySuite, Tables}
import graft.functions.TextOps

/** Document-deduplication operators (north-star family): exact hash
  * dedup, MinHash signatures, LSH banding, n-gram Jaccard verification,
  * SimHash + blocked Hamming pairs — all as pure relational plans with
  * md5-based hashes that DuckDB reproduces bit-for-bit.
  *
  * Scale notes (100 TB): every stage is shuffle-on-key relational —
  * shingle explode is map-side; signatures are one hash-aggregate on
  * (doc, hash_id); LSH candidate generation joins on (band, key), which
  * is exactly the skew-bounded equi-join AQE handles; nothing ever
  * compares all pairs (the Jaccard verify runs only on LSH candidates).
  */
object DedupSuite extends QuerySuite {
  import TextOps._

  private val K = 8 // minhash functions
  private val BANDS = 4 // bands of 2 rows each

  /** Per-doc wide MinHash signature (doc_id, mh0..mh{K-1}): 3-word
    * shingles, one md5 per shingle, K salted minima as K aggregate
    * columns of ONE groupBy — the K-way fan-out happens in the
    * aggregation buffer, not as exploded rows, so only |shingles| rows
    * (not K×) cross the shuffle, with map-side partial mins. Salt
    * hashes are constants pre-folded driver-side (md5Long60Jvm). */
  private def wideSig(s: SparkSession, dir: String): DataFrame = {
    val aggs = (0 until K).map(i =>
      min(col("shh").bitwiseXOR(lit(md5Long60Jvm(i.toString))))
        .as(s"mh$i"))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        explode(shingles(tokens(col("text")), 3)).as("sh"))
      .select(col("doc_id"), md5Long60(col("sh")).as("shh"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash signature rows (doc_id, hash_id, mh): unpivot of wideSig. */
  private def sigDf(s: SparkSession, dir: String): DataFrame =
    wideSigCached(s, dir)
      .select(col("doc_id"), explode(array((0 until K).map(i =>
        struct(lit(i).as("hash_id"), col(s"mh$i").as("mh"))): _*)).as("x"))
      .select(col("doc_id"), col("x.hash_id").as("hash_id"),
        col("x.mh").as("mh"))

  private val sigSql =
    s"""sh AS (
      SELECT doc_id, unnest(list_transform(
        range(1, len(string_split(text,' ')) - 1),
        i -> array_to_string(list_slice(string_split(text,' '), i, i+2), ' ')))
        AS sh
      FROM documents),
    hx AS (
      SELECT doc_id, sh, h.hash_id,
        xor(
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1,16), i ->
              CAST(strpos('0123456789abcdef', substring(md5(sh),i,1)) - 1
                AS BIGINT))), (a,b) -> a*16+b),
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1,16), i ->
              CAST(strpos('0123456789abcdef',
                substring(md5(CAST(h.hash_id AS VARCHAR)),i,1)) - 1
                AS BIGINT))), (a,b) -> a*16+b)) AS sh_hash
      FROM sh, (SELECT unnest(range(0,$K)) AS hash_id) h),
    sig AS (
      SELECT doc_id, hash_id, min(sh_hash) AS mh
      FROM hx GROUP BY 1, 2)"""

  /** LSH band keys (band of 2 adjacent minhashes), straight from the
    * wide signature — map-side explode, no self-join. */
  private def bandsDf(s: SparkSession, dir: String): DataFrame =
    wideSigCached(s, dir)
      .select(col("doc_id"), explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("band"),
          concat_ws("|", col(s"mh${2 * b}"), col(s"mh${2 * b + 1}"))
            .as("bkey"))): _*)).as("x"))
      .select(col("doc_id"), col("x.band").as("band"),
        col("x.bkey").as("bkey"))

  /** Small intermediates (bands: BANDS rows/doc; words: distinct
    * tokens/doc) are referenced by several branches of the same query
    * DAG (self-joins, intersection + two size joins). Memoize + cache
    * per (session, dir) so the shingle/hash pipeline runs once per
    * round, not once per branch; [[graft.Arm.release]] drops them. */
  private def cached(s: SparkSession, dir: String, key: String)(
      mk: => DataFrame): DataFrame =
    graft.Arm.memo(s, dir, s"dedup.$key")(mk.cache())(
      // blocking: "released" must MEAN released — an async unpersist
      // leaves blocks visible to storage-baseline checks and the next
      // query's memory accounting
      _.unpersist(blocking = true))

  private def wideSigCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "wideSig")(wideSig(s, dir))

  private[queries] def bandsCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "bands")(bandsDf(s, dir))

  /** Candidate-generation bucket cap (see [[graft.ops.Blocking]]): a
    * degenerate band/block key must not produce quadratic join output.
    * 1000 members/bucket bounds a bucket's pair fan-out at ~500k while
    * staying far above any real near-dup cluster at test SFs (so the
    * oracle comparison, which has no cap, is unaffected). */
  private[queries] val MaxBucket = 1000

  /** LSH candidate pairs (a_id < b_id, distinct) with the bucket cap —
    * the single generator behind d03/d04/d07. */
  private def lshCandidates(s: SparkSession, dir: String): DataFrame =
    graft.ops.Blocking.candidatePairs(bandsCached(s, dir), "doc_id",
      Seq("band", "bkey"), MaxBucket)._1
      .select("a_id", "b_id").distinct()

  private def wordsCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "words")(
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(tokens(col("text")))).as("w")))

  private val bandsSql =
    s"""bands AS (
      SELECT e.doc_id, CAST(e.hash_id / 2 AS INTEGER) AS band,
        CAST(e.mh AS VARCHAR) || '|' || CAST(o.mh AS VARCHAR) AS bkey
      FROM sig e JOIN sig o
        ON e.doc_id = o.doc_id AND o.hash_id = e.hash_id + 1
      WHERE e.hash_id % 2 = 0)"""

  /** d01 — exact dedup by content hash (ref `remove_duplicates.py:6-12`
    * scaled to content identity): canonical doc per md5(text), group
    * size attached. */
  private val d01 = GraftQuery(
    "d01_exact_dedup",
    (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("group_size")),
    Some("""SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
      COUNT(*) AS group_size FROM documents GROUP BY 1"""))

  /** d02 — MinHash signatures (north-star: shingle → minhash). */
  private val d02 = GraftQuery(
    "d02_minhash_sig",
    (s, dir) => sigDf(s, dir),
    Some(s"""WITH $sigSql SELECT doc_id, hash_id, mh FROM sig"""))

  /** d03 — LSH candidate pairs: docs agreeing on any band (bucket-capped
    * via [[graft.ops.Blocking]]). */
  private val d03 = GraftQuery(
    "d03_lsh_candidates",
    (s, dir) => lshCandidates(s, dir),
    Some(s"""WITH $sigSql, $bandsSql
    SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id"""))

  /** d04 — n-gram Jaccard verification of LSH candidates (north-star:
    * near-dup confirm): exact word-set Jaccard >= 0.8 on candidate
    * pairs only — never all pairs. */
  private val d04 = GraftQuery(
    "d04_jaccard_verify",
    (s, dir) => {
      val words = wordsCached(s, dir)
      val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val cand = lshCandidates(s, dir)
      val wa = words.select(col("doc_id").as("a_id"), col("w"))
      val wb = words.select(col("doc_id").as("b_id"), col("w"))
      val inter = cand.join(wa, "a_id").join(wb, Seq("b_id", "w"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("ni"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
        .withColumn("jaccard",
          col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
        .filter(col("jaccard") >= 0.8)
        .select("a_id", "b_id", "jaccard")
    },
    Some(s"""WITH $sigSql, $bandsSql,
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
    words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS ni
      FROM cand c
      JOIN words wa ON wa.doc_id = c.a_id
      JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id,
      CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id
    WHERE jaccard >= 0.8"""))

  /** Per-doc 32-bit SimHash, computed like [[wideSig]] computes MinHash:
    * the 32 per-bit majority votes are 32 aggregate columns of ONE
    * groupBy over the token hashes (sum of ±1 per bit), so only
    * |tokens| rows cross the shuffle — not 32× as in the naive
    * explode-per-bit plan (which was the top-3 bench cost at sf0.1) —
    * and partial aggregation folds map-side. The final signature is a
    * pure projection over the 32 votes. */
  private def simhashDf(s: SparkSession, dir: String): DataFrame = {
    val votes = (0 until 32).map(b =>
      sum(when(expr(s"(h32 div ${1L << b}) % 2") === 1, 1L)
        .otherwise(-1L)).as(s"v$b"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .select(col("doc_id"), md5Long32(col("w")).as("h32"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(b =>
          when(col(s"v$b") >= 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }
  private def simhashCached(s: SparkSession, dir: String): DataFrame =
    cached(s, dir, "simhash")(simhashDf(s, dir))

  /** d05 — 32-bit SimHash signature per document (north-star SimHash):
    * per-bit majority vote over token hashes, relational form. */
  private val d05 = GraftQuery(
    "d05_simhash",
    (s, dir) => simhashCached(s, dir),
    Some("""WITH words AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
    hashed AS (
      SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,9), i ->
          CAST(strpos('0123456789abcdef', substring(md5(w),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b) AS h32
      FROM words),
    votes AS (
      SELECT doc_id, b.bit,
        SUM(CASE WHEN (h32 // (1::BIGINT << b.bit)) % 2 = 1
                 THEN 1 ELSE -1 END) AS vote
      FROM hashed, (SELECT unnest(range(0,32)) AS bit) b
      GROUP BY 1, 2)
    SELECT doc_id,
      CAST(SUM(CASE WHEN vote >= 0 THEN 1::BIGINT << bit ELSE 0 END)
        AS BIGINT) AS simhash
    FROM votes GROUP BY 1"""))

  /** d06 — SimHash blocked near-dup pairs: block on either 16-bit half
    * (standard SimHash blocking — a near-dup pair with Hamming distance
    * <= 6 in 32 bits must agree on at least one half only heuristically,
    * but blocking is the candidate generator, Hamming the verifier). */
  /** SimHash 16-bit-half blocks — the d06 candidate generator, shared
    * with d11's drop report. */
  private def simhashBlocked(s: SparkSession, dir: String): DataFrame =
    simhashCached(s, dir).select(col("doc_id"), col("simhash"),
      explode(array(
        concat(lit("hi:"), expr("simhash div 65536")),
        concat(lit("lo:"), col("simhash") % 65536))).as("block"))

  private val d06 = GraftQuery(
    "d06_simhash_pairs",
    (s, dir) => {
      val blocked = simhashBlocked(s, dir)
      // bucket-capped blocked join (see Blocking): a hot 16-bit block
      // must not explode into quadratic pair output
      graft.ops.Blocking.candidatePairs(blocked, "doc_id", Seq("block"),
          MaxBucket, carryCols = Seq("simhash"))._1
        .select(col("a_id"), col("b_id"),
          bit_count(col("l_simhash").bitwiseXOR(col("r_simhash")))
            .cast("long").as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
    },
    Some("""WITH words AS (
      SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
    hashed AS (
      SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,9), i ->
          CAST(strpos('0123456789abcdef', substring(md5(w),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b) AS h32
      FROM words),
    votes AS (
      SELECT doc_id, b.bit,
        SUM(CASE WHEN (h32 // (1::BIGINT << b.bit)) % 2 = 1
                 THEN 1 ELSE -1 END) AS vote
      FROM hashed, (SELECT unnest(range(0,32)) AS bit) b
      GROUP BY 1, 2),
    sh AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN vote >= 0 THEN 1::BIGINT << bit ELSE 0 END)
          AS BIGINT) AS simhash
      FROM votes GROUP BY 1),
    blocked AS (
      SELECT doc_id, simhash, unnest([
        'hi:' || CAST(simhash // 65536 AS VARCHAR),
        'lo:' || CAST(simhash % 65536 AS VARCHAR)]) AS block
      FROM sh)
    SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
      CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
    FROM blocked x JOIN blocked y
      ON x.block = y.block AND x.doc_id < y.doc_id
    WHERE hamming <= 6"""))

  /** d07 — edit-distance verification of LSH candidates (the char-level
    * near-dup verifier alongside d04's token-level Jaccard): exact
    * Levenshtein + normalized similarity, candidates only. */
  private val d07 = GraftQuery(
    "d07_edit_distance",
    (s, dir) => {
      val texts = Tables(s, dir, "documents").select("doc_id", "text")
      val cand = lshCandidates(s, dir)
      cand
        .join(texts.select(col("doc_id").as("a_id"), col("text").as("ta")),
          "a_id")
        .join(texts.select(col("doc_id").as("b_id"), col("text").as("tb")),
          "b_id")
        .select(col("a_id"), col("b_id"),
          levenshtein(col("ta"), col("tb")).cast("long").as("lev"),
          (lit(1.0) - levenshtein(col("ta"), col("tb")).cast("double") /
            greatest(length(col("ta")), length(col("tb"))).cast("double"))
            .as("sim"))
    },
    Some(s"""WITH $sigSql, $bandsSql,
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
    SELECT c.a_id, c.b_id,
      CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
      1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE) /
        CAST(greatest(length(da.text), length(db.text)) AS DOUBLE) AS sim
    FROM cand c
    JOIN documents da ON da.doc_id = c.a_id
    JOIN documents db ON db.doc_id = c.b_id"""))

  /** d08 — near-dup clustering (the [[graft.ops.NearDedup]] final
    * stage, now oracle-checked, not just spec'd): connected components
    * of the verified d04 pair graph via iterative min-label propagation
    * with pointer doubling. The DuckDB oracle computes the same
    * components declaratively — recursive-CTE transitive closure, then
    * min reachable id — so the distributed fixpoint is verified against
    * an independent exact formulation. */
  private val d08 = GraftQuery(
    "d08_neardup_clusters",
    (s, dir) => {
      val pairs = d04.run(s, dir).select("a_id", "b_id")
      graft.ops.NearDedup.components(pairs)
        .select(col("id").cast("long").as("doc_id"),
          col("component").cast("long").as("component"))
    },
    Some(s"""WITH RECURSIVE $sigSql, $bandsSql,
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
    words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS ni
      FROM cand c
      JOIN words wa ON wa.doc_id = c.a_id
      JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.a_id, i.b_id
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a_id
      JOIN sizes sb ON sb.doc_id = i.b_id
      WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.8),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION SELECT b_id, a_id FROM pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
    FROM reach GROUP BY src"""))

  /** d09 — benchmark decontamination (north-star training-data op):
    * flag corpus documents sharing 5-gram content with a held-out
    * benchmark set (here: doc_id ≡ 0 mod 23 — eval sets are external
    * in production, but the join shape is identical). Distinct n-gram
    * hashes per doc on both sides, equi-join on the hash, count shared
    * grams per (corpus doc, eval doc). The eval side is broadcast —
    * benchmark suites are tiny next to a 100 TB corpus, so the scan
    * stays shuffle-free on the corpus side. */
  private val d09 = {
    val N = 5
    val Mod = 23
    // DuckDB twin of md5Long60 (first 15 md5 hex chars as a long)
    def duckH60(e: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,16), i ->
          CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b)"""
    GraftQuery(
      "d09_contamination",
      (s, dir) => {
        // per-doc distinct ≡ global distinct on (doc_id, h), but
        // array_distinct runs map-side — no shuffle crosses here; the
        // only exchange in the plan is the final pair-count groupBy
        val grams = Tables(s, dir, "documents")
          .select(col("doc_id"),
            explode(array_distinct(
              transform(shingles(tokens(col("text")), N),
                g => md5Long60(g)))).as("h"))
        val eval = grams.filter(col("doc_id") % Mod === 0)
          .select(col("doc_id").as("eval_id"), col("h"))
        val corpus = grams.filter(col("doc_id") % Mod =!= 0)
        // no broadcast HINT: a production eval set is tiny and AQE will
        // pick broadcast from its measured size, but this demo derives
        // eval from the corpus (~4% of grams), so forcing it would
        // bypass the size check at scale — exactly the degenerate-input
        // risk the Blocking module refuses to take
        corpus.join(eval, Seq("h"))
          .groupBy("doc_id", "eval_id")
          .agg(count(lit(1)).as("n_shared"))
      },
      Some(s"""WITH toks AS (
          SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${N - 2}),
            i -> array_to_string(list_slice(tk, i, i + ${N - 1}), ' ')))
            AS g
          FROM toks),
        grams AS (
          SELECT DISTINCT doc_id, ${duckH60("g")} AS h FROM g),
        eval AS (
          SELECT doc_id AS eval_id, h FROM grams WHERE doc_id % $Mod = 0),
        corp AS (
          SELECT doc_id, h FROM grams WHERE doc_id % $Mod <> 0)
        SELECT c.doc_id, e.eval_id, COUNT(*) AS n_shared
        FROM corp c JOIN eval e USING (h)
        GROUP BY 1, 2"""))
  }

  /** d10 — cross-document repeated-span detection (the exact-substring
    * dedup op from training-data curation: find token spans that occur
    * in more than one document, the spans an LM would memorize). Every
    * 8-token rolling span hashes map-side (shingles → md5-60, no
    * shuffle); the single exchange is the span-hash groupBy, whose
    * output is the duplicated-span dictionary — at 100 TB that
    * dictionary is what the removal pass semi-joins against, and the
    * heavy explode never crosses the wire. Distinct-doc counting rides
    * Spark's two-phase partial-distinct aggregate. */
  private val d10 = {
    val N = 8
    def duckH60(e: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,16), i ->
          CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b)"""
    GraftQuery(
      "d10_repeated_spans",
      (s, dir) => graft.ops.RepeatedSpans.detect(
        Tables(s, dir, "documents"), "doc_id", "text", N),
      Some(s"""WITH toks AS (
          SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        g AS (
          SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${N - 2}),
            i -> array_to_string(list_slice(tk, i, i + ${N - 1}), ' ')))
            AS g
          FROM toks)
        SELECT ${duckH60("g")} AS h,
          CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
          CAST(COUNT(*) AS BIGINT) AS n_total
        FROM g GROUP BY 1
        HAVING COUNT(DISTINCT doc_id) >= 2"""))
  }

  /** d11 — the hot-bucket DROP REPORT as a first-class query (the
    * operational twin of d03/d06: COVERAGE.md promises "drops reported,
    * never silent", and this is where they surface). It runs
    * [[graft.ops.Blocking.capBuckets]] over the SAME two candidate
    * generators the production dedup queries use — the LSH band buckets
    * and the SimHash half blocks — at a low demo cap so the report is
    * non-empty at test SFs (the production cap is [[MaxBucket]]; at
    * 100 TB a boilerplate-header bucket lands in exactly this frame
    * instead of silently deleting its candidate pairs). One row per
    * dropped bucket with its population. */
  private val d11 = {
    val DemoCap = 2
    GraftQuery(
      "d11_drop_report",
      (s, dir) => {
        val hotBands = graft.ops.Blocking.capBuckets(
          bandsCached(s, dir), Seq("band", "bkey"), DemoCap)._2
          .select(lit("lsh").as("source"),
            concat_ws(":", col("band"), col("bkey")).as("bucket"),
            col("bucket_size"))
        val hotBlocks = graft.ops.Blocking.capBuckets(
          simhashBlocked(s, dir), Seq("block"), DemoCap)._2
          .select(lit("simhash").as("source"),
            col("block").as("bucket"), col("bucket_size"))
        hotBands.unionByName(hotBlocks)
      },
      Some(s"""WITH $sigSql, $bandsSql,
      swords AS (
        SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
      shashed AS (
        SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1,9), i ->
            CAST(strpos('0123456789abcdef', substring(md5(w),i,1)) - 1
              AS BIGINT))), (a,b) -> a*16+b) AS h32
        FROM swords),
      svotes AS (
        SELECT doc_id, b.bit,
          SUM(CASE WHEN (h32 // (1::BIGINT << b.bit)) % 2 = 1
                   THEN 1 ELSE -1 END) AS vote
        FROM shashed, (SELECT unnest(range(0,32)) AS bit) b
        GROUP BY 1, 2),
      ssh AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN vote >= 0 THEN 1::BIGINT << bit ELSE 0 END)
            AS BIGINT) AS simhash
        FROM svotes GROUP BY 1),
      sblocked AS (
        SELECT doc_id, unnest([
          'hi:' || CAST(simhash // 65536 AS VARCHAR),
          'lo:' || CAST(simhash % 65536 AS VARCHAR)]) AS block
        FROM ssh)
      SELECT 'lsh' AS source,
        CAST(band AS VARCHAR) || ':' || bkey AS bucket,
        COUNT(*) AS bucket_size
      FROM bands GROUP BY band, bkey HAVING COUNT(*) > 2
      UNION ALL
      SELECT 'simhash' AS source, block AS bucket, COUNT(*) AS bucket_size
      FROM sblocked GROUP BY block HAVING COUNT(*) > 2"""))
  }

  /** d12 — leakage-guarded train/val/test split
    * ([[graft.ops.Sampling.leakageSplit]], north-star curation op):
    * hash-split on the near-dup cluster representative (d08's
    * components over the d04-verified pair graph; singletons are their
    * own cluster) so no near-dup pair ever straddles train/test — the
    * guarantee c12's per-doc split cannot give. Result is the
    * per-split audit frame (doc and cluster counts, bucket range); the
    * atomicity property itself is pinned in SamplingSpec. The oracle
    * recomputes components with DuckDB's recursive-CTE closure (d08's
    * independent formulation) and re-derives the same md5 bucket. */
  private val d12 = {
    // DuckDB twin of md5Long60 (first 15 md5 hex chars as a long)
    def duckH60(e: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,16), i ->
          CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b)"""
    GraftQuery(
      "d12_leakage_split",
      (s, dir) => {
        val docs = Tables(s, dir, "documents").select(col("doc_id"))
        val pairs = d04.run(s, dir).select("a_id", "b_id")
        graft.ops.Sampling.leakageSplit(docs, "doc_id", pairs)
          // two-level aggregate: (split, rep) first — Expand-free
          // distinct-cluster count, shuffles on the high-cardinality
          // rep, and the bucket rides along (functionally dependent)
          .groupBy("split", "rep")
          .agg(count(lit(1)).as("nd"), min("bucket").as("bk"))
          .groupBy("split")
          .agg(sum("nd").as("n_docs"),
            count(lit(1)).as("n_clusters"),
            min("bk").as("min_bucket"), max("bk").as("max_bucket"))
      },
      Some(s"""WITH RECURSIVE $sigSql, $bandsSql,
      cand AS (
        SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bands x JOIN bands y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
      words AS (
        SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
        FROM documents),
      sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
      inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS ni
        FROM cand c
        JOIN words wa ON wa.doc_id = c.a_id
        JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
        GROUP BY 1, 2),
      pairs AS (
        SELECT i.a_id, i.b_id
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.a_id
        JOIN sizes sb ON sb.doc_id = i.b_id
        WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.8),
      edges AS (
        SELECT a_id AS src, b_id AS dst FROM pairs
        UNION SELECT b_id, a_id FROM pairs),
      reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
      comp AS (
        SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src),
      rep AS (
        SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
      b AS (
        SELECT rep, ${duckH60("CAST(rep AS VARCHAR)")} % 100 AS bucket
        FROM rep)
      SELECT CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'validation'
                  ELSE 'test' END AS split,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(COUNT(DISTINCT rep) AS BIGINT) AS n_clusters,
        CAST(MIN(bucket) AS BIGINT) AS min_bucket,
        CAST(MAX(bucket) AS BIGINT) AS max_bucket
      FROM b GROUP BY 1"""))
  }

  /** d13 — split-leak audit: the contingency of verified near-dup
    * pairs (d04) against the NAIVE per-doc hash split (c12's
    * assignment). Off-diagonal rows are eval leaks — a train doc with
    * a near-duplicate in validation/test — i.e. the measured
    * motivation for d12's cluster-keyed split, which zeroes them by
    * construction. The audit the curation report reads BEFORE
    * trusting held-out numbers: pair count per unordered split pair.
    * Scale: two broadcast-able enrich joins of the (small, verifier-
    * output) pair frame against the split projection — the corpus is
    * touched only by the md5 bucket projection itself. */
  private val d13 = GraftQuery(
    "d13_leak_audit",
    (s, dir) => {
      val split = graft.ops.Sampling.hashSplit(
        Tables(s, dir, "documents").select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("split"))
      val pairs = d04.run(s, dir).select("a_id", "b_id")
      pairs
        .join(split.select(col("doc_id").as("a_id"),
          col("split").as("sa")), "a_id")
        .join(split.select(col("doc_id").as("b_id"),
          col("split").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("split_lo"),
          greatest(col("sa"), col("sb")).as("split_hi"))
        .groupBy("split_lo", "split_hi")
        .agg(count(lit(1)).as("n_pairs"))
    },
    Some(s"""WITH $sigSql, $bandsSql,
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
    words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
      FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM words GROUP BY 1),
    inter AS (
      SELECT c.a_id, c.b_id, COUNT(*) AS ni
      FROM cand c
      JOIN words wa ON wa.doc_id = c.a_id
      JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
      GROUP BY 1, 2),
    pairs AS (
      SELECT i.a_id, i.b_id
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.a_id
      JOIN sizes sb ON sb.doc_id = i.b_id
      WHERE CAST(i.ni AS DOUBLE) / (sa.n + sb.n - i.ni) >= 0.8),
    sp AS (
      SELECT doc_id,
        CASE WHEN bk < 80 THEN 'train'
             WHEN bk < 90 THEN 'validation'
             ELSE 'test' END AS split
      FROM (SELECT doc_id,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1,16), i ->
            CAST(strpos('0123456789abcdef',
              substring(md5(CAST(doc_id AS VARCHAR)),i,1)) - 1
              AS BIGINT))), (a,b) -> a*16+b) % 100 AS bk
        FROM documents))
    SELECT LEAST(xa.split, xb.split) AS split_lo,
      GREATEST(xa.split, xb.split) AS split_hi,
      CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs p
    JOIN sp xa ON xa.doc_id = p.a_id
    JOIN sp xb ON xb.doc_id = p.b_id
    GROUP BY 1, 2"""))

  /** d15 — eval-set substring SCRUB (span-level decontamination, the
    * surgical sibling of d09: d09 FLAGS whole documents sharing eval
    * 5-grams — the drop-the-doc policy; d15 removes just the
    * contaminated spans and keeps the rest, the policy used when
    * dropping every touching document is too lossy). Same eval
    * convention as d09 (doc_id ≡ 0 mod 23 stands in for the external
    * benchmark set); every 5-token span of any eval doc becomes
    * dictionary, and a train token is dropped iff some dictionary
    * span covers it — [[graft.ops.RepeatedSpans.strip]] consuming an
    * EVAL dictionary instead of d10's repeated-span dictionary, which
    * also gives the strip path its first cross-engine oracle (d10
    * oracles detect; strip was spec-only). The oracle matches on the
    * gram STRING where Spark matches on its md5Long60 image —
    * equivalent short of an md5 collision, the standing assumption of
    * every hash-keyed oracle here.
    *
    * Plan shape (100 TB): the dictionary is distinct eval spans
    * (benchmark suites are tiny → AQE broadcasts; degenerate-input
    * fallback is a hash equi-join, never pairs); span flagging is
    * map-side posexplode + that join; the mask collapses to ONE
    * in-row array per doc (bounded by doc length) and removal is an
    * in-row filter-with-index — no per-token rows ever shuffle. */
  private val d15 = {
    val N = 5
    val Mod = 23
    GraftQuery(
      "d15_eval_scrub",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val evalDict = docs.filter(col("doc_id") % Mod === 0)
          .select(explode(array_distinct(
            transform(shingles(tokens(col("text")), N),
              g => md5Long60(g)))).as("h"))
          .distinct()
        val train = docs.filter(col("doc_id") % Mod =!= 0)
          .select(col("doc_id"), col("text"))
        val cleaned = graft.ops.RepeatedSpans
          .strip(train, evalDict, "doc_id", "text", N)
          .withColumnRenamed("text", "clean_text")
        train
          .select(col("doc_id"),
            size(tokens(col("text"))).cast("long").as("n_tokens"))
          .join(cleaned, Seq("doc_id"))
          .withColumn("n_clean", when(col("clean_text") === "", 0L)
            .otherwise(size(tokens(col("clean_text"))).cast("long")))
          .select(col("doc_id"), col("n_tokens"),
            (col("n_tokens") - col("n_clean")).as("n_removed"),
            col("clean_text"))
      },
      Some(s"""WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      sp AS (SELECT doc_id, unnest(range(1, len(tk) - ${N - 2})) AS s, tk
        FROM toks),
      g AS (SELECT doc_id, s,
          array_to_string(list_slice(tk, s, s + ${N - 1}), ' ') AS gram
        FROM sp),
      ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % $Mod = 0),
      fl AS (SELECT doc_id, s FROM g
        WHERE doc_id % $Mod <> 0 AND gram IN (SELECT gram FROM ev)),
      cov AS (SELECT DISTINCT doc_id, s + u AS p
        FROM (SELECT doc_id, s, unnest(range($N)) AS u FROM fl)),
      ps AS (SELECT doc_id, list(p) AS ps FROM cov GROUP BY 1),
      out AS (
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
          -- COALESCE: DuckDB's array_to_string([]) is NULL, Spark's
          -- array_join(empty) is '' — a fully-scrubbed doc must agree
          COALESCE(array_to_string(list_transform(
            list_filter(range(1, 1 + len(t.tk)),
              i -> p.ps IS NULL OR NOT list_contains(p.ps, i)),
            i -> t.tk[i]), ' '), '') AS clean_text
        FROM toks t LEFT JOIN ps p USING (doc_id)
        WHERE t.doc_id % $Mod <> 0)
      SELECT doc_id, n_tokens,
        n_tokens - (CASE WHEN clean_text = '' THEN 0
          ELSE CAST(len(string_split(clean_text, ' ')) AS BIGINT) END)
          AS n_removed,
        clean_text
      FROM out"""))
  }

  /** d16 — CONTAINMENT verify on the LSH candidates (the asymmetric
    * measure d04's symmetric Jaccard cannot express: when doc A is a
    * copy of doc B plus additions, |A∩B|/min-side is ~1 while Jaccard
    * shrinks with the additions — so quote-and-extend duplicates slip
    * a Jaccard cut. Containment dedup is how training pipelines catch
    * subset/superset copies). Exact integer form on the SAME shared
    * candidate/word frames as d04: c_ab_e6 = (1e6·|A∩B|) div |A|
    * (fraction of A inside B), symmetric twin for B, and the
    * asymmetric_dup flag = max containment ≥ 0.8 while the EXACT
    * Jaccard-0.8 cut (10·ni ≥ 8·(na+nb−ni), no doubles) does NOT fire
    * — the pairs only this operator catches (2 at sf0.01, 286 at
    * sf0.1 — measured).
    *
    * Plan shape: identical to d04 (verification touches candidates
    * only, never all pairs; the intersection groupBy rides the capped
    * candidate frame) — containment adds zero new shuffles. */
  private val d16 = GraftQuery(
    "d16_containment",
    (s, dir) => {
      val words = wordsCached(s, dir)
      val sizes = words.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val cand = lshCandidates(s, dir)
      val wa = words.select(col("doc_id").as("a_id"), col("w"))
      val wb = words.select(col("doc_id").as("b_id"), col("w"))
      val inter = cand.join(wa, "a_id").join(wb, Seq("b_id", "w"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("ni"))
      inter
        .join(sizes.select(col("doc_id").as("a_id"),
          col("n").as("na")), "a_id")
        .join(sizes.select(col("doc_id").as("b_id"),
          col("n").as("nb")), "b_id")
        .withColumn("c_ab_e6", expr("(1000000 * ni) div na"))
        .withColumn("c_ba_e6", expr("(1000000 * ni) div nb"))
        .withColumn("asymmetric_dup",
          greatest(col("c_ab_e6"), col("c_ba_e6")) >= 800000L &&
            !(col("ni") * 10 >= (col("na") + col("nb") - col("ni")) * 8))
        .select("a_id", "b_id", "ni", "na", "nb", "c_ab_e6", "c_ba_e6",
          "asymmetric_dup")
    },
    Some(s"""WITH $sigSql, $bandsSql,
    cand AS (
      SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
      FROM bands x JOIN bands y
        ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
    words AS (
      SELECT DISTINCT doc_id, unnest(string_split(text,' ')) AS w
      FROM documents),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM words GROUP BY 1),
    inter AS (
      SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS ni
      FROM cand c
      JOIN words wa ON wa.doc_id = c.a_id
      JOIN words wb ON wb.doc_id = c.b_id AND wb.w = wa.w
      GROUP BY 1, 2)
    SELECT i.a_id, i.b_id, i.ni, sa.n AS na, sb.n AS nb,
      (1000000 * i.ni) // sa.n AS c_ab_e6,
      (1000000 * i.ni) // sb.n AS c_ba_e6,
      (greatest((1000000 * i.ni) // sa.n, (1000000 * i.ni) // sb.n)
          >= 800000
        AND NOT (10 * i.ni >= 8 * (sa.n + sb.n - i.ni)))
        AS asymmetric_dup
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.a_id
    JOIN sizes sb ON sb.doc_id = i.b_id"""))

  /** d17 — SEMANTIC decontamination (the paraphrase-robust sibling of
    * d09: d09 flags corpus docs sharing exact eval 5-grams, which a
    * light rewording defeats; d17 flags corpus docs whose EMBEDDING is
    * cosine-close to any eval embedding — ref anchor: the same
    * embedding surface as `scripts/transform/generate_embeddings.py`).
    * Same eval convention as d09/d15 (vec_id ≡ 0 mod 23 stands in for
    * the external benchmark set).
    *
    * Plan shape (100 TB): the corpus side is v14's broadcast-argmin
    * IVF-cell assignment — one map pass over the corpus plus the cell
    * groupBy, never an eval-corpus all-pairs. The eval side (tiny, as
    * benchmark suites are) probes only the cells a per-cell
    * Cauchy–Schwarz cosine cap cannot exclude:
    *
    *   for x in cell c:  dot(e,x) ≤ dot(e,cent_c) + |e|·rad_c
    *                     (C-S on dot(e, x−cent_c), |x−cent_c| ≤ rad_c)
    *   ⇒ cos(e,x) ≤ (dot(e,cent_c)/|e| + rad_c) / minNorm_c
    *
    * with rad_c = max member→centroid distance and minNorm_c = min
    * member norm, both free by-products of the assignment pass. The
    * bound makes the blocking LOSSLESS — unlike v14's plain cell
    * blocking, no τ-pair can straddle an unprobed cell, so the oracle
    * is literally the brute-force all-pairs SQL (same stance as v16's
    * triangle-inequality radius probe; [[SemanticDecontamSpec]] pins
    * blocked ≡ exact on the fixture). On THIS isotropic fixture the cap
    * excludes little (measured: plain cell blocking finds only 22 of 84
    * τ=0.3 pairs at sf0.01 — distance concentration again); the probe
    * pays exactly when the corpus clusters, which real embedding
    * corpora do. All inputs to the cap are exact longs cast to double,
    * so its FP error is a few ulps; the 1e-9 slack only ever ADDS
    * probes, never drops one. */
  private val d17 = {
    val Mod = 23
    val Tau = 0.3
    val dotSql = (a: String, b: String) =>
      s"""CAST(list_sum(list_transform(range(1, 1+len($a)),
        i -> $a[i]*$b[i])) AS BIGINT)"""
    GraftQuery(
      "d17_semantic_decontam",
      (s, dir) => {
        import graft.functions.VectorOps.quantize
        val q = Tables(s, dir, "embeddings")
          .select(col("vec_id"), quantize(col("embedding")).as("qv"))
        val cents = q.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cent_id"), col("qv").as("cent_qv"))
        // corpus: v14's codegen argmin assignment; dc (distance to own
        // centroid) and ss (self-dot) feed the pruning stats for free
        val assigned = q.filter(col("vec_id") % Mod =!= 0)
          .crossJoin(broadcast(cents))
          .withColumn("d2", call_function("graft_sqdist_long",
            col("qv"), col("cent_qv")))
          .groupBy(col("vec_id"), col("qv"))
          .agg(min(struct(col("d2"), col("cent_id"))).as("nn"))
          .select(col("vec_id"), col("qv"),
            col("nn.cent_id").as("cell"), col("nn.d2").as("dc"),
            call_function("graft_dot_long", col("qv"), col("qv"))
              .as("ss"))
        val cellStats = assigned.groupBy("cell")
          .agg(max(col("dc")).as("rad2"), min(col("ss")).as("min_ss"))
          .join(cents, col("cell") === col("cent_id"))
          .select(col("cell"), col("rad2"), col("min_ss"), col("cent_qv"))
        val evalSide = q.filter(col("vec_id") % Mod === 0)
          .select(col("vec_id").as("eval_id"), col("qv").as("e_qv"),
            call_function("graft_dot_long", col("qv"), col("qv"))
              .as("e_ss"))
        // (eval × cells) is tiny on both axes — the cap filters it to
        // the probe set before anything touches the corpus
        val probes = evalSide.crossJoin(broadcast(cellStats))
          .withColumn("cap",
            (call_function("graft_dot_long", col("e_qv"), col("cent_qv"))
              .cast("double") / sqrt(col("e_ss").cast("double"))
              + sqrt(col("rad2").cast("double")))
              / sqrt(col("min_ss").cast("double")))
          .filter(col("cap") >= lit(Tau) - lit(1e-9))
          .select(col("eval_id"), col("e_qv"), col("e_ss"), col("cell"))
        // probe join is broadcast on the probe side — the corpus stays
        // where its scan put it, exactly d09's shuffle-free stance
        assigned.join(broadcast(probes), Seq("cell"))
          .withColumn("cos",
            call_function("graft_dot_long", col("qv"), col("e_qv"))
              .cast("double") /
              (sqrt(col("ss").cast("double")) *
                sqrt(col("e_ss").cast("double"))))
          .filter(col("cos") >= Tau)
          .select(col("vec_id").as("doc_id"), col("eval_id"), col("cos"))
      },
      // brute-force all-pairs: legal as the oracle precisely because
      // the engine's cell probe is lossless (see scaladoc)
      Some(s"""WITH q AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qv
        FROM embeddings),
      ev AS (SELECT vec_id AS eval_id, qv FROM q WHERE vec_id % $Mod = 0),
      corp AS (SELECT vec_id, qv FROM q WHERE vec_id % $Mod <> 0)
      SELECT c.vec_id AS doc_id, e.eval_id,
        ${dotSql("c.qv", "e.qv")}::DOUBLE /
          (sqrt(${dotSql("c.qv", "c.qv")}::DOUBLE)
         * sqrt(${dotSql("e.qv", "e.qv")}::DOUBLE)) AS cos
      FROM corp c, ev e
      WHERE cos >= $Tau"""))
  }

  override val suite: Seq[GraftQuery] =
    Seq(d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13,
      d15, d16, d17)
}
