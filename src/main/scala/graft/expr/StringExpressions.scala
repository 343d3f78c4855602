package graft.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-normalization expression (north-star text cleaning: a
  * multilingual 100 TB corpus mixes NFC and NFD encodings of the SAME
  * visible text, so exact dedup / hashing / equality silently miss
  * matches unless ingest canonicalizes). Wraps `java.text.Normalizer`
  * (the JDK's implementation of Unicode NFC) — DuckDB's
  * `nfc_normalize` implements the identical Unicode algorithm, which
  * is what makes the t10 oracle pairing possible.
  *
  * Kept OUT of whole-stage-codegen hot-path concerns: the generated
  * code calls the same static method (string normalization is
  * table-driven; there is nothing to inline), so the expression still
  * composes inside codegen spans without breaking them. */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.nfc(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NfcNormalize {
  /** Static helper shared by eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: NFC is idempotent and most text is already NFC
    if (java.text.Normalizer.isNormalized(str,
        java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Duplicate-n-gram fraction of a token array in ONE traversal (the
  * Gopher/MassiveText repetition filters, t09): equivalent to
  * `(size(g) - size(array_distinct(g))) / size(g)` over
  * `g = shingles(toks, n)`, but without materializing the n-gram
  * array — Spark's higher-order functions are CodegenFallback, so the
  * compositional form re-allocates per row; this expression streams
  * the n-grams through one hash set inside codegen. `n` is baked in
  * (a literal in every call site), like [[graft.expr.Md5Long]]'s
  * nHex. */
case class DupFraction(child: Expression, n: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"n-gram size must be >= 1, got $n")
  override def inputTypes = Seq(org.apache.spark.sql.types.ArrayType(StringType))
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  // a null token array is an EMPTY document, not an unknown one: the
  // replaced when/otherwise relational form returned 0.0 there, and a
  // null-text doc must not silently vanish from t09's threshold filter
  override def nullable: Boolean = false
  override def prettyName: String = "graft_dup_frac"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0.0
    else DupFraction.dupFrac(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      double ${ev.value} = ${childGen.isNull} ? 0.0
        : graft.expr.DupFraction.dupFrac(${childGen.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object DupFraction {
  /** (n-gram count - distinct n-gram count) / n-gram count; 0.0 when
    * the array is shorter than n. N-grams compare as their
    * space-joined text — identical to `array_join(slice(toks,i,n)," ")`
    * in the relational form (null elements skipped WITH their
    * separator, exactly as array_join skips them), so results are
    * bit-identical on null-bearing token arrays too. */
  def dupFrac(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int): Double = {
    val total = arr.numElements() - n + 1
    if (total <= 0) return 0.0
    val seen = new java.util.HashSet[String](total * 2)
    val sb = new java.lang.StringBuilder
    var dups = 0
    var i = 0
    while (i < total) {
      sb.setLength(0)
      var appended = 0
      var j = 0
      while (j < n) {
        val u = arr.getUTF8String(i + j)
        if (u != null) {
          if (appended > 0) sb.append(' ')
          sb.append(u.toString)
          appended += 1
        }
        j += 1
      }
      if (!seen.add(sb.toString)) dups += 1
      i += 1
    }
    dups.toDouble / total
  }
}

/** One-pass repetition statistics of a token array (the t13 Gopher-
  * style gates): struct(top_uni = multiplicity of the most frequent
  * unigram — null tokens counting as one group, exactly like a groupBy
  * null group; top_bi / dup_bi = multiplicity of the most frequent
  * bigram and total bigram mass in bigrams occurring more than once).
  * Bigrams compare as their space-joined text with array_join's
  * null-skipping, identical to [[graft.functions.TextOps.shingles]] —
  * so the numbers are bit-identical to the relational explode→groupBy
  * form (RepetitionGatesSpec pins all three paths row-for-row).
  *
  * Scale rationale: these are per-document signals of in-row data.
  * The relational form shuffles the tokenized corpus twice; Spark's
  * `aggregate` higher-order fold is exchange-free but CodegenFallback
  * (per-element interpreted eval). This expression streams both n-gram
  * tallies through two open hash maps in ONE traversal inside codegen. */
case class RepetitionStats(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types._
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = StructType(Seq(
    StructField("top_uni", LongType, nullable = false),
    StructField("top_bi", LongType, nullable = false),
    StructField("dup_bi", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_rep_stats"

  override def nullSafeEval(input: Any): Any =
    RepetitionStats.stats(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expr.RepetitionStats.stats($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object RepetitionStats {
  /** Tally keys are UTF8String (valid HashMap keys — value equality /
    * hashCode over the bytes): unigram keys are views into the row's
    * array data, bigram keys are built by the SAME
    * `UTF8String.concatWs` null-skip join as [[Shingles.shingle]], so
    * the two expressions cannot drift apart on null semantics. Both
    * maps live only within one `stats` call, so the views never
    * outlast the row they point into. */
  def stats(arr: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val uni = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var nulls = 0L
    var i = 0
    while (i < n) {
      val u = arr.getUTF8String(i)
      if (u == null) nulls += 1
      else {
        val c = uni.get(u)
        if (c == null) uni.put(u, Array(1L)) else c(0) += 1
      }
      i += 1
    }
    var topUni = nulls
    val uit = uni.values().iterator()
    while (uit.hasNext) topUni = math.max(topUni, uit.next()(0))

    val nBi = n - 1
    var topBi = 0L
    var dupBi = 0L
    if (nBi > 0) {
      val bi = new java.util.HashMap[UTF8String, Array[Long]](nBi * 2)
      i = 0
      while (i < nBi) {
        val key = UTF8String.concatWs(Shingles.SEP,
          arr.getUTF8String(i), arr.getUTF8String(i + 1))
        val c = bi.get(key)
        if (c == null) bi.put(key, Array(1L)) else c(0) += 1
        i += 1
      }
      val bit = bi.values().iterator()
      while (bit.hasNext) {
        val c = bit.next()(0)
        if (c > topBi) topBi = c
        if (c > 1) dupBi += c
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](topUni, topBi, dupBi))
  }
}

/** Codegen n-gram shingling: the array of space-joined n-token
  * windows of a token array, bit-identical to the compositional form
  * `transform(sequence(1, size-n+1), i -> array_join(slice(toks,i,n),
  * " "))` with the `< n tokens -> empty array` guard (see
  * [[graft.functions.TextOps.shinglesHof]], the original). That form
  * is three nested CodegenFallback higher-order functions re-invoked
  * interpreted per row — measured 1.8 s of t04's 2.1 s at sf0.1. This
  * expression builds the window array in one pass with
  * `UTF8String.concatWs` (which skips null inputs exactly as
  * array_join skips null elements, with no separator for them).
  *
  * A null input array yields the EMPTY array, matching the original's
  * `when(size(toks) >= n, ...).otherwise(array())` — `size(null)` is
  * null, so the null-array case fell through to `otherwise` there.
  *
  * `step` (r19, guide §4 "make the per-task work cheap"): emit only
  * the windows starting at positions 0, step, 2·step, … — the
  * non-overlapping-segmentation consumers ([[graft.ops.Boilerplate]])
  * previously built ALL overlapping windows and filtered
  * `pos % step == 0` after a posexplode, paying n× the concat work
  * and step× the exploded rows for output they immediately dropped.
  * `step = 1` (the default) is bit-identical to the original; for any
  * step, element k of the output is the window at token position
  * k·step (so a posexplode `pos` IS the segment index). */
case class Shingles(child: Expression, n: Int, step: Int = 1)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(n >= 1, s"shingle size must be >= 1, got $n")
  require(step >= 1, s"shingle step must be >= 1, got $step")
  import org.apache.spark.sql.types._
  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_shingles"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) Shingles.EMPTY
    else Shingles.shingle(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n, step)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        ${childGen.isNull} ? graft.expr.Shingles.EMPTY()
          : graft.expr.Shingles.shingle(${childGen.value}, $n, $step);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object Shingles {
  private val empty: org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.empty[Any])
  /** Method (not field) so generated Java can reference it. */
  def EMPTY(): org.apache.spark.sql.catalyst.util.ArrayData = empty

  private[expr] val SEP = UTF8String.fromString(" ")

  def shingle(arr: org.apache.spark.sql.catalyst.util.ArrayData,
      n: Int, step: Int = 1): org.apache.spark.sql.catalyst.util.ArrayData = {
    val total = arr.numElements() - n + 1
    if (total <= 0) return empty
    // windows at positions 0, step, 2·step, … < total — for step = 1
    // this is every overlapping window, bit-identical to the original
    val count = (total + step - 1) / step
    val out = new Array[Any](count)
    val win = new Array[UTF8String](n)
    var k = 0
    while (k < count) {
      val i = k * step
      var j = 0
      while (j < n) { win(j) = arr.getUTF8String(i + j); j += 1 }
      // concatWs skips null inputs without a separator — exactly
      // array_join's null-element behavior
      out(k) = UTF8String.concatWs(SEP, win: _*)
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Single-pass PII scan — counts AND redaction for every
  * [[graft.ops.PiiScrub.patterns]] pattern in ONE traversal of the
  * text, vs the contract path's 8 sequential regex passes
  * (4 `regexp_count` + 4 chained `regexp_replace`, each allocating an
  * intermediate string). The four patterns are combined into one
  * alternation `(email)|(card)|(ip)|(phone)`; a single
  * `Matcher.find()` sweep tallies which branch matched and splices the
  * branch's replacement into one output buffer.
  *
  * SEMANTICS vs the sequential contract (why this is an A/B arm, not
  * the declared query — VERDICT r18 ruling): the sequential form
  * replaces ALL emails first, then cards on the modified text, etc.,
  * and counts each pattern independently on the original text. The
  * single-pass form resolves overlaps leftmost-first (alternation
  * order breaks same-start ties in contract order). The two agree
  * exactly when matches are pairwise disjoint — which the t12 fixture
  * satisfies (PiiScanSpec pins equality on the seeded corpus shapes
  * and adversarial near-overlaps) — but a phone ending where an email
  * begins redacts differently. The oracle-declared t07/t12 therefore
  * keep the 8-pass form; bench arm `x36_pii_singlepass` measures this
  * one (read x36 − t12 as the single-pass win).
  *
  * Returns struct(redacted, n_email, n_card, n_ip, n_phone). */
case class PiiScan(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  import org.apache.spark.sql.types._
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StructType(Seq(
    StructField("redacted", StringType, nullable = false),
    StructField("n_email", LongType, nullable = false),
    StructField("n_card", LongType, nullable = false),
    StructField("n_ip", LongType, nullable = false),
    StructField("n_phone", LongType, nullable = false)))
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pii_scan"

  /** Semantically deterministic, DELIBERATELY declared otherwise
    * (guide §4.4): a filter over the struct's fields gets pushed below
    * the projection with the scan INLINED PER FIELD — the first cut of
    * bench arm x36 evaluated the scan 5× per row (4 filter terms + 1
    * project, in its executed plan) and measured SLOWER than
    * the 8-pass form it replaces. Declaring it non-deterministic stops
    * the optimizer duplicating or reordering it, so the scan runs once
    * and the filter stays above the projection. The cost — other
    * predicates cannot push past it — is nil for its one caller, which
    * filters only on the scan's own outputs. */
  override lazy val deterministic: Boolean = false

  override def nullSafeEval(input: Any): Any =
    PiiScan.scan(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.PiiScan.scan($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object PiiScan {
  private val pats = graft.ops.PiiScrub.patterns
  /** One compiled alternation, branch k = contract pattern k (Java
    * alternation tries branches left-to-right at each position, so
    * same-start ties resolve in contract order). Pattern is
    * thread-safe; the Matcher below is per-call. */
  private val combined: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      pats.map { case (_, p, _) => s"($p)" }.mkString("|"))
  private val repl: Array[String] = pats.map(_._3).toArray

  /** Static helper shared by eval and generated code. */
  def scan(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val str = s.toString
    val m = combined.matcher(str)
    val counts = new Array[Long](repl.length)
    var sb: java.lang.StringBuilder = null
    var last = 0
    while (m.find()) {
      if (sb == null) sb = new java.lang.StringBuilder(str.length)
      var g = 1
      while (m.start(g) < 0) g += 1
      counts(g - 1) += 1L
      sb.append(str, last, m.start).append(repl(g - 1))
      last = m.end
    }
    val red =
      if (sb == null) s // no match: reuse the input bytes, no copy
      else UTF8String.fromString(sb.append(str, last, str.length).toString)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](red, counts(0), counts(1), counts(2), counts(3)))
  }
}

/** Codegen-native boilerplate removal — the inner loop of
  * [[graft.ops.Boilerplate.stripWith]] as ONE compiled pass: build
  * each non-overlapping `n`-token window (the [[Shingles]] step-form
  * windows, byte-identical strings) and keep it unless it is in the
  * broadcast dictionary array, joining the survivors with a single
  * space. Replaces the segment posexplode → K-row broadcast join →
  * per-doc groupBy + sort_array reassembly: no exploded rows, no
  * reassembly exchange, and — unlike the higher-order
  * `filter(..., array_contains)` form, which measured SLOWER than the
  * join it replaced (interpreted ArrayFilter lambda, O(K) contains
  * per window: sf1 x26 8.52 → 10.60 s steady; reverted in 156f9c3) —
  * the membership test is one hash lookup inside compiled code.
  *
  * NULL tokens (NULL text) and docs shorter than one window both
  * yield '' — exactly the short-doc repair the join form's union
  * emitted. A NULL dictionary array is an empty dictionary. Intended
  * for dictionaries in the tens-to-thousands (the set is rebuilt per
  * row — K inserts against windows·1 lookups; the same K a broadcast
  * join served).
  *
  * Semantically deterministic, DELIBERATELY declared otherwise (guide
  * §4.4, the [[PiiScan]] lesson): every caller filters the cleaned
  * text (`=!= ''`) right above this projection, and a pushed-down
  * filter would inline the whole strip a second time per row. */
case class StripSegments(toks: Expression, dict: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  require(n >= 1, s"segment size must be >= 1, got $n")
  import org.apache.spark.sql.types._
  override def left: Expression = toks
  override def right: Expression = dict
  override def inputTypes = Seq(ArrayType(StringType), ArrayType(StringType))
  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_strip_segments"
  override lazy val deterministic: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    StripSegments.strip(toks.eval(input), dict.eval(input), n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val l = toks.genCode(ctx)
    val r = dict.genCode(ctx)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      UTF8String ${ev.value} = graft.expr.StripSegments.strip(
        ${l.isNull} ? null : (Object) ${l.value},
        ${r.isNull} ? null : (Object) ${r.value}, $n);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(toks = newLeft, dict = newRight)
}

object StripSegments {
  /** Static helper shared by eval and generated code. */
  def strip(toksAny: Any, dictAny: Any, n: Int): UTF8String = {
    if (toksAny == null) return UTF8String.EMPTY_UTF8
    val toks = toksAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val total = toks.numElements() - n + 1
    if (total <= 0) return UTF8String.EMPTY_UTF8
    val set = new java.util.HashSet[UTF8String]()
    if (dictAny != null) {
      val d = dictAny.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      val m = d.numElements()
      while (i < m) {
        val u = d.getUTF8String(i)
        if (u != null) set.add(u)
        i += 1
      }
    }
    val count = (total + n - 1) / n
    val kept = new Array[UTF8String](count)
    val win = new Array[UTF8String](n)
    var k = 0
    var out = 0
    while (k < count) {
      val i = k * n
      var j = 0
      while (j < n) { win(j) = toks.getUTF8String(i + j); j += 1 }
      val seg = UTF8String.concatWs(Shingles.SEP, win: _*)
      if (!set.contains(seg)) { kept(out) = seg; out += 1 }
      k += 1
    }
    if (out == 0) UTF8String.EMPTY_UTF8
    else UTF8String.concatWs(Shingles.SEP,
      java.util.Arrays.copyOf(kept, out): _*)
  }
}
