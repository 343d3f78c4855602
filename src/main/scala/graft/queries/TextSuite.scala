package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.{GraftQuery, QuerySuite, Tables}
import graft.functions.TextOps

/** Text-analysis operators (north-star family): token/quality metrics,
  * heuristic language ID, document fingerprinting, n-gram profiles.
  * All pure expression trees / relational plans over `documents`.
  */
object TextSuite extends QuerySuite {
  import TextOps._

  /** Tiny per-language marker lexicons for the heuristic language ID.
    * Real pipelines use n-gram profiles; the operator shape (per-lang
    * token-vote + argmax with deterministic tiebreak) is identical. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "small"),
    "es" -> Seq("data", "table", "row", "join"),
    "de" -> Seq("hash", "stream", "batch", "group"),
    "fr" -> Seq("query", "merge", "sort", "filter"),
    "zh" -> Seq("spark", "vector", "window", "scan"))

  /** t01 — quality metrics per document (north-star quality scoring):
    * token count, distinct ratio, mean token length, stopword ratio.
    * Ratios are exact-int divisions cast to double — deterministic. */
  private val t01 = GraftQuery(
    "t01_quality_metrics",
    (s, dir) => {
      val stop = Seq("the", "a", "of", "and")
      Tables(s, dir, "documents")
        .withColumn("toks", tokens(col("text")))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_uniq"),
          (size(array_distinct(col("toks"))).cast("double") /
            size(col("toks"))).as("uniq_ratio"),
          (aggregate(col("toks"), lit(0L), (acc, w) => acc + length(w))
            .cast("double") / size(col("toks"))).as("mean_tok_len"),
          (size(filter(col("toks"), w => w.isin(stop: _*)))
            .cast("double") / size(col("toks"))).as("stop_ratio"))
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
      CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_uniq,
      CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE)
        / len(string_split(text,' ')) AS uniq_ratio,
      CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split(text,' '),
            w -> CAST(length(w) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
        / len(string_split(text,' ')) AS mean_tok_len,
      CAST(len(list_filter(string_split(text,' '),
          w -> w IN ('the','a','of','and'))) AS DOUBLE)
        / len(string_split(text,' ')) AS stop_ratio
    FROM documents"""))

  /** t02 — heuristic language ID (north-star language-ID): vote per
    * language lexicon, argmax with lexicographic tiebreak; compared
    * against the labeled lang column. */
  private val t02 = GraftQuery(
    "t02_langid",
    (s, dir) => {
      val toks = tokens(col("text"))
      val votes = langMarkers.map { case (lang, markers) =>
        struct(
          size(filter(toks, w => w.isin(markers: _*))).as("votes"),
          lit(lang).as("lang"))
      }
      // array_max on struct(votes, lang) orders by votes then lang —
      // ties resolve to the lexicographically LAST lang, deterministic.
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"),
          array_max(array(votes: _*)).getField("lang").as("predicted"))
        .withColumn("hit", (col("labeled") === col("predicted")))
    },
    Some("""WITH scored AS (
      SELECT doc_id, lang AS labeled,
        [
          {'votes': len(list_filter(string_split(text,' '),
             w -> w IN ('the','a','fast','small'))), 'lang': 'en'},
          {'votes': len(list_filter(string_split(text,' '),
             w -> w IN ('data','table','row','join'))), 'lang': 'es'},
          {'votes': len(list_filter(string_split(text,' '),
             w -> w IN ('hash','stream','batch','group'))), 'lang': 'de'},
          {'votes': len(list_filter(string_split(text,' '),
             w -> w IN ('query','merge','sort','filter'))), 'lang': 'fr'},
          {'votes': len(list_filter(string_split(text,' '),
             w -> w IN ('spark','vector','window','scan'))), 'lang': 'zh'}
        ] AS vs
      FROM documents)
    SELECT doc_id, labeled,
      list_max(vs)['lang'] AS predicted,
      labeled = list_max(vs)['lang'] AS hit
    FROM scored"""))

  /** t03 — rolling-hash document fingerprint (north-star fingerprinting):
    * order-sensitive polynomial hash mod 1e9+7 over token hashes. */
  private val t03 = GraftQuery(
    "t03_fingerprint",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp")),
    Some("""SELECT doc_id,
      list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(string_split(text,' '), w ->
          list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1,9), i ->
              CAST(strpos('0123456789abcdef', substring(md5(w),i,1)) - 1
                AS BIGINT))), (a,b) -> a*16+b))),
        (acc, h) -> (acc*31 + h) % 1000000007) AS fp
    FROM documents"""))

  /** t04 — top-5 bigrams per language (n-gram profile): explode 2-gram
    * shingles, count per (lang, bigram), rank with total tiebreak. */
  private val t04 = GraftQuery(
    "t04_top_bigrams",
    (s, dir) => {
      val counted = Tables(s, dir, "documents")
        .select(col("lang"),
          explode(shingles(tokens(col("text")), 2)).as("bigram"))
        .groupBy("lang", "bigram")
        .agg(count(lit(1)).as("cnt"))
      // |langs| is tiny, so the per-lang window would bound parallelism
      // by the language count — but Spark plans a partial
      // WindowGroupLimit below the exchange (PlanSpec), so each map task
      // ships ≤ 5 rows per language. Measured choice vs a grouped
      // bounded-heap string aggregate: the input here is the
      // ALREADY-REDUCED (lang, bigram) vocabulary, where the Tungsten
      // window sort beat the udaf's per-row decode (1.6 s vs 2.3 s at
      // sf0.1); the aggregate form wins when the ranked input is
      // raw-corpus-scale (see c10, and x11 vs x07 for long items)
      graft.ops.Ops.topKPerGroup(counted, Seq("lang"),
          Seq(col("cnt").desc, col("bigram").asc), 5, "rnk")
        .withColumn("rnk", col("rnk").cast("long"))
    },
    Some("""WITH bg AS (
      SELECT lang, unnest(list_transform(
        range(1, len(string_split(text,' '))),
        i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' ')))
        AS bigram
      FROM documents),
    counted AS (
      SELECT lang, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2)
    SELECT lang, bigram, cnt,
      CAST(row_number() OVER (PARTITION BY lang
        ORDER BY cnt DESC, bigram) AS BIGINT) AS rnk
    FROM counted QUALIFY rnk <= 5"""))

  /** t05 — corpus token frequency table with rank (vocabulary stats).
    * The rank over the full vocabulary is a global total order — a
    * no-partition window would funnel every row through one partition
    * at 100 TB, so it goes through the range-sort + zipWithIndex dense
    * id path instead (per-partition counts → cumulative offsets). */
  private val t05 = GraftQuery(
    "t05_token_freq",
    (s, dir) => {
      val counted = Tables(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("cnt"))
        .sort(col("cnt").desc, col("w").asc)
      graft.etl.Normalize.zipWithIndexId(counted, "rnk")
        .select(col("w"), col("cnt"), col("rnk"))
    },
    Some("""SELECT w, cnt,
      CAST(row_number() OVER (ORDER BY cnt DESC, w) AS BIGINT) AS rnk
    FROM (SELECT w, COUNT(*) AS cnt
          FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
          GROUP BY 1)"""))

  /** t06 — BPE-ish regex token counting (north-star token metrics):
    * GPT-2-style pre-tokenization classes — letter runs, digit runs,
    * symbol runs — via regexp_extract_all. The pattern sticks to ASCII
    * classes and explicit alternation (no lookahead, no \w, and no \s —
    * Java's \s includes vertical tab U+000B while RE2's does not, so the
    * whitespace class is spelled out) to make Java regex and DuckDB's
    * RE2 produce identical matches on the same UTF-8 text. */
  private val t06 = {
    val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 \\t\\n\\x0B\\f\\r]+"
    GraftQuery(
      "t06_bpe_tokens",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            size(regexp_extract_all(col("text"), lit(pat), lit(0)))
              .cast("long").as("n_tok"),
            size(regexp_extract_all(col("text"), lit("[a-zA-Z]+"), lit(0)))
              .cast("long").as("n_word"),
            size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
              .cast("long").as("n_num"))
          .withColumn("n_sym", col("n_tok") - col("n_word") - col("n_num")),
      Some(s"""SELECT doc_id,
        CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_tok,
        CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_word,
        CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT)
          - CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT)
          - CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_sym
      FROM documents"""))
  }

  /** t07 — PII redaction (north-star data-cleaning): count and mask
    * email / phone shapes with regexp_extract_all + regexp_replace.
    * The synthetic corpus contains no PII, so the query first grafts a
    * deterministic contact line onto each document (same expression in
    * both engines) — the operator under test is the redaction pass.
    * Regexes stay ASCII-class + explicit alternation (t06 rationale);
    * DuckDB's regexp_replace needs the 'g' flag to match Spark's
    * replace-all semantics. */
  private val t07 = {
    val emailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+[.][a-zA-Z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    GraftQuery(
      "t07_pii_redact",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"),
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@mail.example.com tel 555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
              .as("pii_text"))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("pii_text"), lit(emailRe), lit(0)))
              .cast("long").as("n_emails"),
            size(regexp_extract_all(col("pii_text"), lit(phoneRe), lit(0)))
              .cast("long").as("n_phones"),
            regexp_replace(
              regexp_replace(col("pii_text"), emailRe, "<EMAIL>"),
              phoneRe, "<PHONE>").as("redacted")),
      Some(s"""WITH p AS (
          SELECT doc_id,
            text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com tel 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS pii_text
          FROM documents)
        SELECT doc_id,
          CAST(len(regexp_extract_all(pii_text, '$emailRe')) AS BIGINT)
            AS n_emails,
          CAST(len(regexp_extract_all(pii_text, '$phoneRe')) AS BIGINT)
            AS n_phones,
          regexp_replace(regexp_replace(pii_text, '$emailRe', '<EMAIL>', 'g'),
            '$phoneRe', '<PHONE>', 'g') AS redacted
        FROM p"""))
  }

  /** t08 — fixed-size chunking with overlap (north-star long-document
    * prep): 64-token windows every 48 tokens (16-token overlap), one
    * output row per chunk. Pure map-side explode — token positions come
    * from sequence/range, the chunk text from an array slice; no
    * shuffle at any scale. */
  private val t08 = {
    val C = 64; val S = 48 // chunk size / stride (overlap = C - S)
    GraftQuery(
      "t08_chunk_overlap",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .withColumn("n", size(col("toks")))
          .select(col("doc_id"), col("toks"), col("n"),
            explode(sequence(lit(0), col("n") - 1, lit(S))).as("start"))
          .select(
            col("doc_id"),
            (col("start") / S).cast("long").as("chunk_id"),
            col("start").cast("long").as("tok_start"),
            least(lit(C), col("n") - col("start")).cast("long")
              .as("chunk_len"),
            array_join(slice(col("toks"), col("start") + 1, lit(C)), " ")
              .as("chunk_text")),
      Some(s"""WITH t AS (
          SELECT doc_id, string_split(text,' ') AS toks,
            len(string_split(text,' ')) AS n
          FROM documents),
        st AS (
          SELECT doc_id, toks, n, unnest(range(0, n, $S)) AS start FROM t)
        SELECT doc_id,
          CAST(start // $S AS BIGINT) AS chunk_id,
          CAST(start AS BIGINT) AS tok_start,
          CAST(least($C, n - start) AS BIGINT) AS chunk_len,
          array_to_string(list_slice(toks, start + 1,
            least(start + $C, n)), ' ') AS chunk_text
        FROM st"""))
  }

  /** t09 — intra-document repetition metrics (the MassiveText /
    * Gopher-style duplicate-n-gram filters): fraction of repeated
    * 2-grams and 3-grams per document plus the keep/drop verdict at
    * the published-style thresholds. Entirely projection-level array
    * math — zero shuffle, embarrassingly parallel at any scale. */
  private val t09 = {
    val Thresh2 = 0.20; val Thresh3 = 0.18
    // one-pass codegen expression (expr.DupFraction) — bit-identical to
    // (size(g) - size(array_distinct(g)))/size(g) over shingles(toks,k)
    // (parity pinned in StringExpressionsSpec), ~4x faster: the
    // compositional form is CodegenFallback and materializes the n-gram
    // array per row
    def dupFrac(k: Int) =
      call_function("graft_dup_frac", col("toks"), lit(k))
    def duckDupFrac(k: Int) = {
      val g = s"""list_transform(range(1, len(toks) - ${k - 2}),
        i -> array_to_string(list_slice(toks, i, i + ${k - 1}), ' '))"""
      s"""CASE WHEN len(toks) >= $k THEN
        CAST(len($g) - len(list_distinct($g)) AS DOUBLE) / len($g)
        ELSE 0.0 END"""
    }
    GraftQuery(
      "t09_repetition",
      (s, dir) =>
        Tables(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"),
            dupFrac(2).as("dup2_frac"),
            dupFrac(3).as("dup3_frac"))
          .withColumn("keep",
            col("dup2_frac") <= Thresh2 && col("dup3_frac") <= Thresh3),
      Some(s"""WITH t AS (
          SELECT doc_id, string_split(text,' ') AS toks FROM documents)
        SELECT doc_id,
          ${duckDupFrac(2)} AS dup2_frac,
          ${duckDupFrac(3)} AS dup3_frac,
          (${duckDupFrac(2)}) <= $Thresh2
            AND (${duckDupFrac(3)}) <= $Thresh3 AS keep
        FROM t"""))
  }

  /** t10 — Unicode NFC canonicalization ([[graft.expr.NfcNormalize]],
    * the custom string expression): a corpus mixing NFC and NFD spells
    * the SAME visible text two ways, so hashes/dedup/joins silently
    * miss. The synthetic corpus is ASCII, so the query grafts a
    * deterministic DECOMPOSED suffix (e + U+0301 combining acute, ô as
    * o + U+0302) onto each doc; normalization must compose both into
    * single code points. Checked via post-NFC md5 + length — DuckDB's
    * nfc_normalize implements the identical Unicode algorithm. */
  private val t10 = GraftQuery(
    "t10_nfc_normalize",
    (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          // explicit escapes: the suffix must be DECOMPOSED (e +
          // U+0301, o + U+0302) - a composed literal in the source
          // file would silently defeat the test
          concat(col("text"), lit(" caf"), lit("e\u0301"),
            lit(" o\u0302n")).as("raw"))
        .select(
          col("doc_id"),
          length(col("raw")).cast("long").as("raw_chars"),
          length(call_function("graft_nfc", col("raw"))).cast("long")
            .as("nfc_chars"),
          md5(call_function("graft_nfc", col("raw")).cast("binary"))
            .as("nfc_md5")),
    Some(s"""WITH r AS (
        SELECT doc_id,
          text || ' caf' || 'e' || chr(769) || ' o' || chr(770) || 'n'
            AS raw
        FROM documents)
      SELECT doc_id,
        CAST(length(raw) AS BIGINT) AS raw_chars,
        CAST(length(nfc_normalize(raw)) AS BIGINT) AS nfc_chars,
        md5(nfc_normalize(raw)) AS nfc_md5
      FROM r"""))

  /** t11 — CONTENT-DEFINED chunking (the Rabin/FastCDC idea on token
    * windows): a chunk boundary falls after token i when the hash of
    * the 3-token window ending at i is ≡ 0 mod 16 (≈16-token expected
    * chunks). Unlike t08's fixed stride, boundaries move WITH the
    * content — insert one token early in a document and every fixed
    * chunk after it changes, but content-defined chunks realign, so
    * sub-document dedup across near-identical docs keeps matching.
    * Emits per chunk: ordinal, token count, and the chunk content
    * hash (the dedup key). Windows partition by doc_id; the group
    * rebuild is sort_array(collect_list(struct(pos, tok))) — Spark's
    * deterministic twin of SQL's string_agg(... ORDER BY pos). */
  private val t11 = {
    val W = 3; val Mod = 16
    // DuckDB twin of md5Long60 (first 15 md5 hex chars as a long)
    def h60(e: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
        list_transform(range(1,16), i ->
          CAST(strpos('0123456789abcdef', substring(md5($e),i,1)) - 1
            AS BIGINT))), (a,b) -> a*16+b)"""
    GraftQuery(
      "t11_cdc_chunks",
      (s, dir) => graft.ops.Chunking.cdcChunks(
        // the fixture is one row group -> one scan partition; the
        // explicit doc_id repartition both parallelizes the CPU-dense
        // explode+hash map side AND pre-satisfies the per-doc window's
        // required clustering, so no second exchange appears and AQE
        // can't byte-coalesce the window stage back to one task. Real
        // corpora arrive pre-split and skip this.
        Tables(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id")),
        w = W, mod = Mod),
      Some(s"""WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
          generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
        FROM documents),
      win AS (
        SELECT doc_id, pos, tok,
          CASE WHEN pos >= ${W - 1} THEN
            ${h60(s"""concat_ws(' ',
              lag(tok, 2) OVER w, lag(tok, 1) OVER w, tok)""")}
          END AS wh
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      flagged AS (
        SELECT doc_id, pos, tok,
          CASE WHEN wh % $Mod = 0 THEN 1 ELSE 0 END AS boundary
        FROM win),
      chunked AS (
        SELECT doc_id, pos, tok,
          CAST(COALESCE(SUM(boundary) OVER (PARTITION BY doc_id
            ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
            AND 1 PRECEDING), 0) AS BIGINT) AS chunk
        FROM flagged)
      SELECT doc_id, chunk, COUNT(*) AS n_tokens,
        md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
      FROM chunked GROUP BY 1, 2"""))
  }

  /** t12 — PII scrub ([[graft.ops.PiiScrub]]): deterministic PII is
    * seeded into the (digit-free) corpus by doc_id residue — email /
    * phone / IPv4 / card, some docs carrying several kinds — then the
    * REAL operator counts and redacts. The patterns live in the
    * Java-regex ∩ RE2 common subset, so DuckDB runs the IDENTICAL
    * patterns (regexp_extract_all lengths + chained 'g' replaces in
    * the same contract order) and the redacted text hash-matches
    * bit-for-bit. Pure per-row projection — scan-parallel, zero
    * shuffle below the presentation sort. */
  /** t12's PII-seeded corpus — (doc_id, pii_text) with deterministic
    * email/phone/ip/card shapes grafted per doc_id residue. Shared
    * with the bench A/B arm `x36_pii_singlepass` so both measure the
    * identical input subtree. */
  private[queries] def piiSeeded(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact u"), col("doc_id"), lit("@shop"),
            col("doc_id") % 7, lit(".com"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 1,
          concat(lit(" tel +84 "), col("doc_id") % 900 + 100,
            lit(" "), col("doc_id") % 9000 + 1000)).otherwise(lit("")),
        when(col("doc_id") % 5 === 2,
          concat(lit(" host 10."), col("doc_id") % 256,
            lit(".0."), col("doc_id") % 100)).otherwise(lit("")),
        when(col("doc_id") % 6 === 3,
          concat(lit(" pay 4111-1111-1111-"),
            col("doc_id") % 9000 + 1000)).otherwise(lit("")))
        .as("pii_text"))

  private val t12 = {
    // the exact pattern strings, shared verbatim with the oracle text
    val pats = graft.ops.PiiScrub.patterns
    def sqlCount(p: String) =
      s"CAST(len(regexp_extract_all(pii_text, '$p')) AS BIGINT)"
    val sqlRedact = pats.foldLeft("pii_text") { case (acc, (_, p, r)) =>
      s"regexp_replace($acc, '$p', '$r', 'g')"
    }
    GraftQuery(
      "t12_pii_scrub",
      (s, dir) => {
        val seeded = piiSeeded(s, dir)
        graft.ops.PiiScrub.scrub(seeded, "pii_text")
          .filter(col("n_email") + col("n_card") + col("n_ip") +
            col("n_phone") > 0)
          .select(col("doc_id"), col("n_email"), col("n_card"),
            col("n_ip"), col("n_phone"),
            md5(col("pii_text_redacted")).as("redacted_md5"))
      },
      Some(s"""WITH seeded AS (
        SELECT doc_id, text
          || CASE WHEN doc_id % 3 = 0 THEN ' contact u' ||
               CAST(doc_id AS VARCHAR) || '@shop' ||
               CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END
          || CASE WHEN doc_id % 4 = 1 THEN ' tel +84 ' ||
               CAST(doc_id % 900 + 100 AS VARCHAR) || ' ' ||
               CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 5 = 2 THEN ' host 10.' ||
               CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
               CAST(doc_id % 100 AS VARCHAR) ELSE '' END
          || CASE WHEN doc_id % 6 = 3 THEN ' pay 4111-1111-1111-' ||
               CAST(doc_id % 9000 + 1000 AS VARCHAR) ELSE '' END
          AS pii_text
        FROM documents)
      SELECT doc_id,
        ${sqlCount(pats(0)._2)} AS n_email,
        ${sqlCount(pats(1)._2)} AS n_card,
        ${sqlCount(pats(2)._2)} AS n_ip,
        ${sqlCount(pats(3)._2)} AS n_phone,
        md5($sqlRedact) AS redacted_md5
      FROM seeded
      WHERE ${pats.map(p => sqlCount(p._2)).mkString(" + ")} > 0"""))
  }

  /** t13 — repetition-based quality gates (the Gopher §A1.1-style
    * repetitious-text filters every corpus curation runs, adapted to
    * token granularity since the fixture has no line breaks): per doc,
    * the top-unigram fraction, top-bigram fraction, and the fraction
    * of bigram mass in bigrams occurring more than once, plus the
    * keep/drop flag. Fractions are ONE double division of two exact
    * longs — bit-reproducible cross-engine. Plan: explode → two keyed
    * partial-aggregating groupBys (doc_id×token / doc_id×bigram) →
    * per-doc rollup → join on doc_id; every shuffle keys on the
    * high-cardinality doc_id, so the shape holds at corpus scale. */
  private val t13 = GraftQuery(
    "t13_repetition_gates",
    (s, dir) =>
      graft.ops.RepetitionGates.signals(
        Tables(s, dir, "documents")
          .select(col("doc_id"), tokens(col("text")).as("ws")),
        "doc_id", "ws"),
    Some("""WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    uni AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_uni,
        CAST(SUM(c) AS BIGINT) AS n_uni
      FROM (SELECT doc_id, w, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(ws) AS w FROM toks)
            GROUP BY 1, 2) GROUP BY doc_id),
    bi AS (
      SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bi,
        CAST(SUM(c) AS BIGINT) AS n_bi,
        CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_bi
      FROM (SELECT doc_id, b, COUNT(*) AS c
            FROM (SELECT doc_id, unnest(list_transform(
                range(1, len(ws)),
                i -> array_to_string(list_slice(ws, i, i+1), ' '))) AS b
              FROM toks)
            GROUP BY 1, 2) GROUP BY doc_id)
    SELECT uni.doc_id,
      CAST(top_uni AS DOUBLE) / CAST(n_uni AS DOUBLE) AS top_uni_frac,
      CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE) AS top_bi_frac,
      CAST(dup_bi AS DOUBLE) / CAST(n_bi AS DOUBLE) AS dup_bi_frac,
      (CAST(top_uni AS DOUBLE) / CAST(n_uni AS DOUBLE) <= 0.30
       AND CAST(top_bi AS DOUBLE) / CAST(n_bi AS DOUBLE) <= 0.18
       AND CAST(dup_bi AS DOUBLE) / CAST(n_bi AS DOUBLE) <= 0.40) AS keep
    FROM uni JOIN bi ON uni.doc_id = bi.doc_id"""))

  /** t14 — BM25 retrieval scoring (Okapi, k1=1.2 b=0.75): rank the
    * corpus against a fixed term query, top-20 docs. The classic
    * retrieval scorer a curation pipeline uses for query-targeted
    * corpus selection (and the reference's vector search is the
    * semantic twin of — `generate_embeddings.py:438-452` ranks by
    * embedding distance; BM25 ranks by lexical match).
    *
    * Cross-engine determinism: the only floating-point step is the
    * idf (floor(ln·1e6) → long, the c02 recipe). The tf saturation
    * term — tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) — is exact
    * integer arithmetic: with avgdl = L/N, multiplying through by
    * 10·L gives score = idf_e6 · 22·tf·L div (10·L·tf + 3·L + 9·dl·N)
    * (k1=6/5, b=3/4, so k1+1=11/5, k1(1−b)=3/10, k1·b=9/10), every
    * operand a long, `div`/`//` both truncate toward zero. Plan: tf
    * keyed on (doc,term) after an in-scan IN-list filter (only query
    * terms survive the explode); df and the corpus totals are
    * term-count-sized → broadcast; the final top-20 is a
    * TakeOrderedAndProject, never a global single-partition window. */
  private val t14 = GraftQuery(
    "t14_bm25",
    (s, dir) => {
      val qTerms = Seq("spark", "hash", "join", "stream")
      val toks = Tables(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("ws"))
      val dl = toks.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
      val corpus = dl.agg(sum(col("dl")).as("L"),
        count(lit(1)).as("N"))
      val tf = toks.select(col("doc_id"), explode(col("ws")).as("term"))
        .filter(col("term").isin(qTerms: _*))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val scored = tf
        .join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(corpus))
        .withColumn("idf_e6", floor(log(lit(1.0) +
          (lit(2L) * col("N") - lit(2L) * col("df") + lit(1L)).cast("double") /
          (lit(2L) * col("df") + lit(1L)).cast("double")) * lit(1e6)))
        // 128-bit products: num = idf_e6·22·tf·L reaches ~1e22 at
        // 100 TB (L ~ 2e13 tokens) — far past int64 — so both engines
        // widen (decimal(38,0) here, HUGEINT in the twin) and only
        // the quotient (≤ ~2.2·idf_e6, comfortably long) narrows
        // back. All operands are positive (the +1 inside the ln keeps
        // idf_e6 > 0), so div/// truncation direction can't diverge.
        .withColumn("num", col("idf_e6").cast("decimal(38,0)") *
          lit(22L) * col("tf") * col("L"))
        .withColumn("den", lit(10L) * col("L").cast("decimal(38,0)") *
          col("tf") + lit(3L) * col("L").cast("decimal(38,0)") +
          lit(9L) * col("dl").cast("decimal(38,0)") * col("N"))
        .withColumn("sc", expr("num div den"))
      val total = scored.groupBy("doc_id")
        .agg(sum(col("sc")).as("score_e6"))
        .orderBy(col("score_e6").desc, col("doc_id")).limit(20)
      total.withColumn("rk", row_number().over(
          Window.orderBy(col("score_e6").desc, col("doc_id"))).cast("long"))
        .select("doc_id", "score_e6", "rk")
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM toks),
    corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS L,
      CAST(COUNT(*) AS BIGINT) AS N FROM dl),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(ws) AS term FROM toks)
      WHERE term IN ('spark', 'hash', 'join', 'stream')
      GROUP BY 1, 2),
    dfr AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT tf.doc_id,
        CAST((CAST(floor(ln(1 + CAST(2*N - 2*dfr.df + 1 AS DOUBLE)
            / CAST(2*dfr.df + 1 AS DOUBLE)) * 1e6) AS HUGEINT)
          * 22 * tf.tf * L) // (10*CAST(L AS HUGEINT)*tf.tf + 3*L
            + 9*CAST(dl.dl AS HUGEINT)*N) AS BIGINT) AS sc
      FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id), corpus),
    total AS (SELECT doc_id, CAST(SUM(sc) AS BIGINT) AS score_e6
      FROM scored GROUP BY 1)
    SELECT doc_id, score_e6, rk FROM (
      SELECT doc_id, score_e6, CAST(row_number() OVER (
        ORDER BY score_e6 DESC, doc_id) AS BIGINT) AS rk
      FROM total)
    WHERE rk <= 20"""))

  /** t15 — bigram-LM novelty score (the count-exact recast of
    * CCNet-style LM quality filtering, Wenzek et al. 2020 — corpora
    * are routinely filtered by how "surprising" a reference LM finds
    * each document): the corpus's own bigram table is the LM; a doc's
    * novelty is the fraction of its bigram TOKENS whose bigram is
    * rarer than the corpus MEAN bigram frequency. High novelty =
    * unique phrasing OR noise — either way the tail a curation pass
    * inspects first. Two recasts keep it bit-reproducible AND
    * non-degenerate at any scale: (1) the perplexity form needs
    * per-bigram log-probs (floating transcendentals summed per-doc —
    * not cross-engine exact), so rarity MASS replaces log-prob SUM;
    * (2) an absolute count cut (e.g. "seen ≥ 2 times") silently
    * saturates as the corpus grows (at sf0.1 every bigram of this
    * fixture repeats ≥ 3 times — measured), so the cut is the
    * corpus's own mean: `cnt · D < T` (T = total bigram tokens,
    * D = distinct bigrams) — an exact long compare, scale-free by
    * construction. novelty_e6 = (1e6 · rare) div total is one
    * truncating division of two exact longs.
    *
    * Plan shape (100 TB): explode → bigram count (partial-combining
    * groupBy on the high-cardinality bigram) → one shuffle join back
    * on bigram → per-doc rollup keyed on doc_id; (T, D) is a one-row
    * broadcast. No broadcast of the corpus-scale LM table and no
    * driver state; the production variant that thresholds the LM to
    * top-K bigrams and broadcasts it is a strict subset of this plan
    * (c10's two-level top-k builds exactly that table). */
  private val t15 = GraftQuery(
    "t15_lm_novelty",
    (s, dir) => {
      val bg = Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(shingles(tokens(col("text")), 2)).as("bigram"))
      val lm = bg.groupBy("bigram").agg(count(lit(1)).as("cnt"))
      val corpus = lm.agg(sum(col("cnt")).as("T"), count(lit(1)).as("D"))
      bg.join(lm, "bigram")
        .crossJoin(broadcast(corpus))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("cnt") * col("D") < col("T"), 1L).otherwise(0L))
            .as("n_rare"))
        .withColumn("novelty_e6",
          expr("(1000000 * n_rare) div n_bigrams"))
        // > half the doc's bigram mass is below-average-frequency:
        // flags ~1/4 of docs at sf0.01 and the >p90 tail at sf0.1
        .withColumn("flagged", col("novelty_e6") > lit(500000L))
        .select("doc_id", "n_bigrams", "n_rare", "novelty_e6", "flagged")
    },
    Some("""WITH bg AS (
      SELECT doc_id, unnest(list_transform(
        range(1, len(string_split(text,' '))),
        i -> array_to_string(list_slice(string_split(text,' '), i, i+1), ' ')))
        AS bigram
      FROM documents),
    lm AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY 1),
    corpus AS (SELECT CAST(SUM(cnt) AS BIGINT) AS T,
      CAST(COUNT(*) AS BIGINT) AS D FROM lm),
    per AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(CASE WHEN cnt * D < T THEN 1 ELSE 0 END) AS BIGINT)
          AS n_rare
      FROM bg JOIN lm USING (bigram), corpus GROUP BY 1)
    SELECT doc_id, n_bigrams, n_rare,
      (1000000 * n_rare) // n_bigrams AS novelty_e6,
      ((1000000 * n_rare) // n_bigrams) > 500000 AS flagged
    FROM per"""))

  /** t16 — cross-document boilerplate removal (the CCNet/RefinedWeb
    * line-dedup stage: drop text fragments repeated verbatim across
    * many documents — headers, footers, nav chrome — BEFORE any
    * quality scoring, since boilerplate inflates every downstream
    * statistic). The fixture's documents carry no newlines, so the
    * granule is the deterministic proxy real pipelines fall back to
    * on unstructured text: NON-overlapping 2-token segments (d10's
    * repeated-spans is the within-doc sibling; this is the cross-doc
    * one). Boilerplate = the top-20 segments by distinct-document
    * frequency (tiebreak on segment text) — the rank form, not a
    * count cut, because "remove the K most common boilerplate lines"
    * is how production cleaners are actually configured and the rank
    * is exercised at every corpus size. Output per doc: segment
    * counts, removals, and the cleaned text reassembled in original
    * segment order (trailing odd token excluded from segmentation —
    * identically in both engines).
    *
    * Plan shape (100 TB): segmentation is map-side; the doc-frequency
    * table is one partial-combining groupBy on the segment; top-20 is
    * a TakeOrderedAndProject (K rows cross the exchange, never the
    * table); the removal decision is a BROADCAST left join (20 rows);
    * reassembly is a per-doc groupBy on the high-cardinality doc_id
    * with sort_array on (seg_idx, segment) structs — no window, no
    * global sort, nothing driver-side. */
  private val t16 = GraftQuery(
    "t16_boilerplate",
    (s, dir) => {
      // Stepped segmentation (r19): windows at 0, 2, 4, … only — the
      // overlap-then-`pos % 2` form built and exploded 2× the rows to
      // immediately drop half. `pos` IS the segment index now
      // (ShinglesSpec pins the two forms equal; oracle unchanged).
      val segs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(shinglesEvery(tokens(col("text")), 2, 2)))
        .select(col("doc_id"),
          expr("CAST(pos AS BIGINT)").as("seg_idx"),
          col("col").as("segment"))
      val top = segs.groupBy("segment")
        .agg(countDistinct(col("doc_id")).as("dfd"))
        .orderBy(col("dfd").desc, col("segment")).limit(20)
        .select(col("segment"), lit(true).as("is_boiler"))
      segs.join(broadcast(top), Seq("segment"), "left")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_removed"),
          concat_ws(" ",
            transform(
              sort_array(collect_list(when(col("is_boiler").isNull,
                struct(col("seg_idx"), col("segment"))))),
              x => x("segment"))).as("clean_text"))
    },
    Some("""WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, unnest(range(len(t) // 2)) AS i, t FROM toks),
    segs AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        array_to_string(list_slice(t, 2*i+1, 2*i+2), ' ') AS segment
      FROM idx),
    top AS (
      SELECT segment FROM (
        SELECT segment, COUNT(DISTINCT doc_id) AS dfd
        FROM segs GROUP BY 1)
      QUALIFY row_number() OVER (ORDER BY dfd DESC, segment) <= 20),
    flagged AS (
      SELECT s.doc_id, s.seg_idx, s.segment,
        (t.segment IS NOT NULL) AS is_boiler
      FROM segs s LEFT JOIN top t ON s.segment = t.segment)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_segs,
      CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
        AS n_removed,
      COALESCE(string_agg(segment, ' ' ORDER BY seg_idx)
        FILTER (WHERE NOT is_boiler), '') AS clean_text
    FROM flagged GROUP BY doc_id"""))

  /** t17 — language-MIXTURE detection (the multilingual-curation gate
    * t02 can't express: t02 assigns ONE language per document, but
    * real web documents interleave languages, and pipelines like
    * CCNet/mC4 score documents by how much of the text the majority
    * language actually covers — heavy mixing routes a doc to
    * splitting or the discard pile). Granule: non-overlapping 5-token
    * segments; each segment votes via the t02 marker lexicons
    * (argmax with count-desc/lang-asc tiebreak; segments with zero
    * marker hits are not language-bearing and drop out identically in
    * both engines). Per doc: majority language over its
    * language-bearing segments, and mix_ratio_e6 = the fraction of
    * segments the majority does NOT cover — one exact truncating long
    * division. polyglot = majority covers less than half.
    *
    * Plan shape (100 TB): ONE corpus exchange total — the explicit
    * doc_id repartition clusters every later grain ((doc,seg,lang) →
    * (doc,seg) → (doc,lang) → doc), so all four groupBys reuse the
    * same partitioning (pinned in PlanAuditR11cSpec); the 20-row
    * marker lexicon broadcasts; every aggregate is partial-combining
    * and every frame after the first shrinks geometrically. */
  private val t17 = GraftQuery(
    "t17_polyglot",
    (s, dir) => {
      val m = s.createDataFrame(
        langMarkers.flatMap { case (l, ws) => ws.map(w => (l, w)) })
        .toDF("lang", "marker")
      // Stepped segmentation (r19): emit only the non-overlapping
      // 5-token windows instead of all overlaps + `pos % 5` — 5× less
      // window-concat work and exploded rows; `pos` IS seg_idx.
      val segtok = Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(shinglesEvery(tokens(col("text")), 5, 5)))
        .select(col("doc_id"),
          expr("CAST(pos AS BIGINT)").as("seg_idx"),
          explode(tokens(col("col"))).as("w"))
        .repartition(col("doc_id"))
      val votes = segtok.join(broadcast(m), col("w") === col("marker"))
        .groupBy("doc_id", "seg_idx", "lang")
        .agg(count(lit(1)).as("cnt"))
      val seglang = votes.groupBy("doc_id", "seg_idx")
        .agg(min(struct((-col("cnt")).as("nc"), col("lang").as("lang")))
          .as("v"))
        .select(col("doc_id"), col("v.lang").as("lang"))
      seglang.groupBy("doc_id", "lang").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum(col("cnt")).as("n_segs"),
          min(struct((-col("cnt")).as("nc"), col("lang").as("lang")))
            .as("mv"))
        .select(col("doc_id"), col("n_segs"),
          col("mv.lang").as("major_lang"),
          (-col("mv.nc")).as("n_major"))
        .withColumn("mix_ratio_e6",
          expr("(1000000 * (n_segs - n_major)) div n_segs"))
        .withColumn("polyglot", col("mix_ratio_e6") > lit(500000L))
    },
    Some(s"""WITH m(lang, marker) AS (VALUES ${langMarkers
      .flatMap { case (l, ws) => ws.map(w => s"('$l','$w')") }
      .mkString(", ")}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, unnest(range(len(t) // 5)) AS i, t FROM toks),
    segtok AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
        unnest(list_slice(t, 5*i+1, 5*i+5)) AS w FROM idx),
    votes AS (SELECT s.doc_id, s.seg_idx, m.lang, COUNT(*) AS cnt
      FROM segtok s JOIN m ON s.w = m.marker GROUP BY 1, 2, 3),
    seglang AS (SELECT doc_id, seg_idx, lang FROM votes
      QUALIFY row_number() OVER (PARTITION BY doc_id, seg_idx
        ORDER BY cnt DESC, lang) = 1),
    dv AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM seglang GROUP BY 1, 2),
    per AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_segs FROM dv
      GROUP BY 1),
    major AS (SELECT doc_id, lang AS major_lang, cnt AS n_major FROM dv
      QUALIFY row_number() OVER (PARTITION BY doc_id
        ORDER BY cnt DESC, lang) = 1)
    SELECT p.doc_id, p.n_segs, m.major_lang, m.n_major,
      (1000000 * (p.n_segs - m.n_major)) // p.n_segs AS mix_ratio_e6,
      ((1000000 * (p.n_segs - m.n_major)) // p.n_segs) > 500000
        AS polyglot
    FROM per p JOIN major m USING (doc_id)"""))

  /** t18 — token-entropy quality signal (the Gopher-family
    * repetitiveness gate t01's uniq_ratio only approximates: two docs
    * with the same distinct count differ sharply when one's mass
    * piles onto a few tokens). Shannon entropy in exact fixed point:
    * H = ln(n) − (Σ cᵢ·ln cᵢ)/n becomes `h_e6 = floor(1e6·ln n) −
    * (Σ cᵢ·floor(1e6·ln cᵢ)) div n` — one ln per DISTINCT (doc,
    * token) count, the c02 recipe, then exact long sums; the flag
    * compares against the doc's max possible entropy ln(distinct):
    * `100·h < 95·hmax` (flags ~13% of docs at both fixture SFs).
    *
    * Plan shape (100 TB): ONE corpus exchange — the doc_id
    * repartition (the t17 trick) clusters both the (doc, token) count
    * grain and the per-doc rollup; everything else is map-side
    * explode + partial-combining aggregates. */
  private val t18 = GraftQuery(
    "t18_token_entropy",
    (s, dir) => {
      val cnts = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
        .repartition(col("doc_id"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      cnts.groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_distinct"),
          sum(col("c") *
            floor(log(col("c").cast("double")) * 1e6).cast("long"))
            .as("sc"))
        .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
          (floor(log(col("n_tokens").cast("double")) * 1e6).cast("long")
            - expr("sc div n_tokens")).as("entropy_e6"),
          floor(log(col("n_distinct").cast("double")) * 1e6).cast("long")
            .as("max_entropy_e6"))
        .withColumn("repetitive",
          col("entropy_e6") * 100 < col("max_entropy_e6") * 95)
    },
    Some("""WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents),
    c AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM w GROUP BY 1, 2),
    per AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        CAST(COUNT(*) AS BIGINT) AS n_distinct,
        CAST(SUM(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT))
          AS BIGINT) AS sc
      FROM c GROUP BY 1)
    SELECT doc_id, n_tokens, n_distinct,
      CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        - sc // n_tokens AS entropy_e6,
      CAST(floor(ln(CAST(n_distinct AS DOUBLE)) * 1e6) AS BIGINT)
        AS max_entropy_e6,
      (CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
        - sc // n_tokens) * 100
        < CAST(floor(ln(CAST(n_distinct AS DOUBLE)) * 1e6) AS BIGINT) * 95
        AS repetitive
    FROM per"""))

  override val suite: Seq[GraftQuery] =
    Seq(t01, t02, t03, t04, t05, t06, t07, t08, t09, t10, t11, t12, t13,
      t14, t15, t16, t17, t18)

}
