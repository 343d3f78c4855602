package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text hashing / tokenization combinators (SURVEY.md §2.11, north-star
  * text-analysis + dedup ops). All pure Catalyst expression trees — no
  * UDFs — so they stay inside whole-stage codegen and push down.
  *
  * Cross-engine determinism: every hash bottoms out in md5 hex strings,
  * which DuckDB reproduces bit-for-bit; numeric hashes take a 15-hex-char
  * (60-bit) or 8-hex-char (32-bit) big-endian prefix so they fit a signed
  * long in both engines.
  */
object TextOps {

  /** Whitespace tokenizer (ref `seperate_tables.py:82` split idiom). */
  def tokens(c: Column): Column = split(c, " ")

  /** Deterministic 60-bit positive hash: first 15 hex chars of md5.
    * Routed through the codegen [[graft.expr.Md5Long]] (bit-identical
    * to `conv(substring(md5(x),1,15),16,10)` — parity pinned in spec —
    * but without the hex-string round-trip per call). */
  def md5Long60(c: Column): Column =
    call_function("graft_md5_long", c.cast("string"), lit(15))

  /** Deterministic 32-bit positive hash: first 8 hex chars of md5. */
  def md5Long32(c: Column): Column =
    call_function("graft_md5_long", c.cast("string"), lit(8))

  /** n-word shingles from a token array: positions 1..size-n+1. Docs
    * shorter than n tokens yield an empty array — without the guard,
    * sequence(1, size-n+1) would descend ([1,0]) and slice would throw
    * on its 0 start (DuckDB's range(1,0) is empty instead).
    *
    * Default path is the one-pass codegen [[graft.expr.Shingles]]
    * expression — the compositional form below is three nested
    * CodegenFallback higher-order functions, re-evaluated interpreted
    * per row, and was the dominant cost of every shingling query
    * (1.8 s of t04's 2.1 s at sf0.1). `ShinglesSpec` pins the two
    * forms element-for-element, nulls and short docs included. */
  def shingles(toks: Column, n: Int): Column =
    call_function("graft_shingles", toks, lit(n))

  /** [[shingles]] emitting only the windows at token positions 0,
    * step, 2·step, … — the non-overlapping-segmentation form
    * ([[graft.ops.Boilerplate]] uses step = n): element k of the
    * output is the window at position k·step, so a posexplode `pos`
    * IS the segment index. step = 1 ≡ [[shingles]]. */
  def shinglesEvery(toks: Column, n: Int, step: Int): Column =
    call_function("graft_shingles", toks, lit(n), lit(step))

  /** The non-overlapping `n`-token windows of `toks` minus those in
    * the `dict` array column, rejoined with ' ' — the compiled
    * single-pass form of [[graft.ops.Boilerplate.stripWith]]'s
    * removal ([[graft.expr.StripSegments]]). NULL/short inputs yield
    * ''. */
  def stripSegments(toks: Column, dict: Column, n: Int): Column =
    call_function("graft_strip_segments", toks, dict, lit(n))

  /** The original higher-order-function composition, kept as the
    * executable specification [[graft.expr.Shingles]] is pinned
    * against. */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Driver-side twin of [[md5Long60]] — same value as the engine
    * computes, used to pre-fold constant salts into literals so the
    * per-row plan hashes each shingle once instead of once per hash
    * function. The top 60 bits of the digest — the value of its first
    * 15 hex digits — are shifted in straight from the bytes: 0..6 whole,
    * then the high nibble of byte 7. */
  def md5Long60Jvm(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    (h << 4) | ((d(7) & 0xff) >>> 4)
  }

  /** Rolling polynomial fingerprint of a token array, mod 1e9+7
    * (ref: document fingerprinting north-star op). Fold keeps the
    * accumulator < 2^30 so acc*31 + h32 never overflows a long. */
  def fingerprint(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, w) => (acc * 31L + md5Long32(w)) % 1000000007L)

  /** Per-ROW 32-bit SimHash of a text column — the same signature the
    * relational d05 plan computes with a groupBy, folded entirely into
    * within-row array lambdas (one md5 per token, then 32 vote folds).
    * Being a pure projection, it composes into STREAMING plans where a
    * second stateful aggregation would be disallowed (one stateful op
    * per query) — see EventStreams.nearDupStream. DedupSuiteSpec pins
    * it equal to the batch d05 output. */
  def simhash32(text: Column): Column = {
    val hs = transform(tokens(text), w => md5Long32(w))
    val votes = (0 until 32).map { b =>
      aggregate(hs, lit(0L), (acc, h) =>
        acc + when(h.bitwiseAND(lit(1L << b)) =!= 0L, 1L).otherwise(-1L))
    }
    votes.zipWithIndex.map { case (v, b) =>
      when(v >= 0, lit(1L << b)).otherwise(0L)
    }.reduce(_ + _)
  }
}

/** Dense-vector combinators over ArrayType columns (SURVEY.md §2.11
  * V1-V7). Two tiers:
  *  - `*Q` quantized-integer forms: exact long arithmetic, bit-identical
  *    across engines — these back the DuckDB-oracle queries;
  *  - double forms: the production path (codegen'd lambda folds) used by
  *    the bench/knn library API where cross-engine bit-equality is not
  *    required.
  */
object VectorOps {

  /** Quantize a float/double vector to longs at `scale` (default 1e6).
    * round() is half-away-from-zero in both Spark and DuckDB. */
  def quantize(v: Column, scale: Double = 1e6): Column =
    transform(v, x => round(x.cast("double") * scale).cast("long"))

  /** Exact integer dot product of two quantized vectors. */
  def dotQ(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (s, x) => s + x)

  /** Exact integer sum of squares. */
  def sumSqQ(a: Column): Column = dotQ(a, a)

  /** Cosine similarity from quantized vectors (scale cancels). */
  def cosineQ(a: Column, b: Column): Column =
    dotQ(a, b).cast("double") /
      (sqrt(sumSqQ(a).cast("double")) * sqrt(sumSqQ(b).cast("double")))

  // ---- production double-precision forms (V2-V5) ----

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (s, x) => s + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0d), (s, x) => s + x))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))
}
