package graft.expr

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ExpressionInfo, ImplicitCastInputTypes, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native codegen vector expressions — SURVEY.md §4 / §7.4: the hot-path
  * alternative to the `aggregate(zip_with(...))` lambda folds in
  * `graft.functions.VectorOps`. A lambda fold allocates a
  * per-element closure frame and boxes through HigherOrderFunction
  * machinery; these expressions compile to a flat primitive loop over
  * `ArrayData`, stay inside whole-stage codegen, and vectorize well.
  *
  * Registered as SQL functions (`graft_l2_distance`, `graft_dot`,
  * `graft_cosine`, `graft_l2_normalize`) via [[GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`) so they are usable from
  * both the Column API (`call_function`) and plain SQL.
  *
  * Null elements inside vectors are not expected (embedding columns are
  * `containsNull=false` in practice) and read as 0.0.
  */
abstract class BinaryVectorExpression extends BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  /** scalar combine step in generated Java: (acc, x, y) => new acc */
  protected def combineJava(acc: String, x: String, y: String): String
  protected def finishJava(acc: String): String
  protected def combine(acc: Double, x: Double, y: Double): Double
  protected def finish(acc: Double): Double

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (va, vb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc = combine(acc, va.getDouble(i), vb.getDouble(i))
      i += 1
    }
    finish(acc)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = $a.getDouble($i);
          double $y = $b.getDouble($i);
          $acc = ${combineJava(acc, x, y)};
        }
        ${ev.value} = ${finishJava(acc)};
      """
    })
}

/** Euclidean distance between two double vectors (V3; ref pgvector
  * `<->`, `generate_embeddings.py:441`). */
case class L2Distance(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "graft_l2_distance"
  protected def combineJava(acc: String, x: String, y: String): String =
    s"$acc + ($x - $y) * ($x - $y)"
  protected def finishJava(acc: String): String = s"java.lang.Math.sqrt($acc)"
  protected def combine(acc: Double, x: Double, y: Double): Double =
    acc + (x - y) * (x - y)
  protected def finish(acc: Double): Double = math.sqrt(acc)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** SQUARED Euclidean distance (no final sqrt) — for argmin/threshold
  * comparisons where the root is monotone overhead, and for exact
  * parity with driver-side squared-distance math (PQ codebook
  * assignment: a sqrt's rounding could re-order near-ties that the
  * squared values distinguish). */
case class SqDist(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "graft_sqdist"
  protected def combineJava(acc: String, x: String, y: String): String =
    s"$acc + ($x - $y) * ($x - $y)"
  protected def finishJava(acc: String): String = acc
  protected def combine(acc: Double, x: Double, y: Double): Double =
    acc + (x - y) * (x - y)
  protected def finish(acc: Double): Double = acc
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Dot product of two double vectors. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryVectorExpression {
  override def prettyName: String = "graft_dot"
  protected def combineJava(acc: String, x: String, y: String): String =
    s"$acc + $x * $y"
  protected def finishJava(acc: String): String = acc
  protected def combine(acc: Double, x: Double, y: Double): Double =
    acc + x * y
  protected def finish(acc: Double): Double = acc
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Cosine similarity; 0.0 when either vector has zero norm (matches the
  * reference's zero-vector embedding fallback, V1). */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (va, vb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = va.getDouble(i); val y = vb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $x = $a.getDouble($i);
          double $y = $b.getDouble($i);
          $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
        }
        ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
          : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** L2-normalize a double vector; zero vectors pass through unchanged
  * (V2; ref `generate_embeddings.py:267` + zero fallback). */
case class L2Normalize(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2_normalize"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val out = new Array[Double](n)
    var ss = 0.0
    var i = 0
    while (i < n) { val x = v.getDouble(i); ss += x * x; i += 1 }
    if (ss == 0.0) {
      i = 0; while (i < n) { out(i) = v.getDouble(i); i += 1 }
    } else {
      val inv = 1.0 / math.sqrt(ss)
      i = 0; while (i < n) { out(i) = v.getDouble(i) * inv; i += 1 }
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val ss = ctx.freshName("ss"); val inv = ctx.freshName("inv")
      val arr = ctx.freshName("arr")
      s"""
        int $n = $a.numElements();
        double[] $arr = new double[$n];
        double $ss = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $arr[$i] = $a.getDouble($i);
          $ss += $arr[$i] * $arr[$i];
        }
        if ($ss != 0.0) {
          double $inv = 1.0 / java.lang.Math.sqrt($ss);
          for (int $i = 0; $i < $n; $i++) { $arr[$i] *= $inv; }
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($arr);
      """
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Exact squared L2 distance over QUANTIZED (long) vectors — the
  * codegen twin of the `aggregate(zip_with(...))` integer fold the
  * oracle-paired kNN queries need for bit-exact cross-engine results
  * (doubles would round; the quantized longs stay exact < 2^53, so
  * DuckDB reproduces the sum bit-for-bit). Same flat primitive loop as
  * [[L2Distance]], ~20x the lambda fold's throughput in v03. */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sqdist_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (va, vb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = va.getLong(i) - vb.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $d = $a.getLong($i) - $b.getLong($i);
          $acc += $d * $d;
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** ADC (asymmetric distance computation) lookup-sum for
  * product-quantized codes: `codes` is the corpus row's per-subspace
  * code array (array<int>), `table` the query's FLAT lookup table
  * (array<double>, m * ncent row-major: entry j*ncent+c = distance
  * from the query's j-th subvector to centroid c of subspace j).
  * Result = Σ_j table[j][codes[j]] — the approximate squared L2
  * between query and the quantized corpus vector, computed without
  * ever touching the original vector. The hot loop is m lookups per
  * row (m = subspace count), flat in generated Java; this is what
  * makes a PQ scan memory-bound-cheap at 100 TB (m bytes + m loads
  * per corpus row vs d doubles + d FMAs). */
case class PqAdc(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes =
    Seq(ArrayType(IntegerType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc"

  // The table is FLAT (m * ncent doubles, row-major by subspace) with
  // ncent inferred per row as table.length / codes.length: a nested
  // array<array<double>> would cost a per-subspace getArray() view
  // allocation per corpus row (m allocations/row — more than the m
  // lookups themselves at m=32).
  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val table = b.asInstanceOf[ArrayData]
    val n = codes.numElements()
    if (n == 0) return 0.0
    // contract checks — interpreted path ONLY, a deliberate asymmetry:
    // the codegen hot loop (the 100 TB scan path) stays branch-free,
    // so a malformed hand-built table/code evaluated under whole-stage
    // codegen still misindexes silently. That trade is acceptable
    // because every in-repo producer (PqModel.lookupTable + encode,
    // uniformity REQUIREd at construction) satisfies the contract by
    // construction; the checks exist to catch hand-assembled inputs,
    // which surface through interpreted eval in tests/REPL use first.
    if (table.numElements() % n != 0)
      throw new IllegalArgumentException(
        s"graft_pq_adc: table length ${table.numElements()} is not a " +
          s"multiple of the code count $n (flat m*ncent layout expected)")
    val ncent = table.numElements() / n
    var acc = 0.0
    var j = 0
    while (j < n) {
      val c = codes.getInt(j)
      if (c < 0 || c >= ncent)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $c at subspace $j outside [0, $ncent)")
      acc += table.getDouble(j * ncent + c)
      j += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val nc = ctx.freshName("nc")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      s"""
        int $n = $a.numElements();
        int $nc = $n == 0 ? 0 : $b.numElements() / $n;
        double $acc = 0.0;
        for (int $j = 0; $j < $n; $j++) {
          $acc += $b.getDouble($j * $nc + $a.getInt($j));
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** ADC against a LITERAL table set — the multi-query scan form used by
  * [[graft.vector.ProductQuantizer.search]]. `tables` must be foldable
  * (array<array<double>>, one flat m*ncent table per query); it is
  * evaluated ONCE at plan time into a primitive `double[][]` that the
  * generated code reads through a reference — avoiding both failure
  * modes of the alternatives: a table DATA column copies m*ncent
  * doubles (16 KB at m=32/nc=64) into every corpus×queries join row,
  * and a GenericArrayData literal boxes every `getDouble` (one
  * Double unbox per lookup — half a billion on a 2M-row scan).
  * `qidx` selects the row's query table by position. */
case class PqAdcLit(codes: Expression, qidx: Expression, tables: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def first: Expression = codes
  override def second: Expression = qidx
  override def third: Expression = tables
  override def inputTypes = Seq(ArrayType(IntegerType), IntegerType,
    ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_adc_lit"

  @transient private lazy val mats: Array[Array[Double]] = {
    require(tables.foldable, "graft_pq_adc_lit: tables must be a literal")
    val arr = tables.eval().asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toDoubleArray())
  }

  override def nullSafeEval(c: Any, q: Any, unused: Any): Any = {
    val codes = c.asInstanceOf[ArrayData]
    val t = mats(q.asInstanceOf[Int])
    val n = codes.numElements()
    if (n == 0) return 0.0
    val nc = t.length / n
    var acc = 0.0
    var j = 0
    while (j < n) {
      acc += t(j * nc + codes.getInt(j))
      j += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcTables", mats, "double[][]")
    nullSafeCodeGen(ctx, ev, (c, q, _) => {
      val n = ctx.freshName("n")
      val nc = ctx.freshName("nc")
      val j = ctx.freshName("j")
      val acc = ctx.freshName("acc")
      val t = ctx.freshName("t")
      s"""
        double[] $t = $ref[$q];
        int $n = $c.numElements();
        int $nc = $n == 0 ? 0 : $t.length / $n;
        double $acc = 0.0;
        for (int $j = 0; $j < $n; $j++) {
          $acc += $t[$j * $nc + $c.getInt($j)];
        }
        ${ev.value} = $acc;
      """
    })
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(codes = f, qidx = s, tables = t)
}

/** Index of the nearest centroid (squared L2; ties → lowest index)
  * over a centroid MATRIX literal — the scalable cluster-assignment
  * primitive (IVF build, vector-dedup probe, SemanticDecontam at
  * large k). Why an expression and not composition: a per-centroid
  * struct-literal argmin (one `struct(l2, cell)` per centroid) builds
  * an nCells×dim-node expression TREE whose generated code
  * degenerates past a few dozen cells (measured: 160 cells × 64 dims
  * stalled a 2M-row assignment for 20+ min), and the join+aggregate
  * form OOMs carrying vectors as group keys through a sort-fallback
  * aggregate (measured at 8g). This is the PqEncode shape: the
  * matrix rides as ONE literal, the loop is flat generated code,
  * O(k·d) per row with no tree growth, zero shuffle. */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType),
    ArrayType(ArrayType(DoubleType)))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_centroid"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val k = cents.numElements()
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < k) {
      val cent = cents.getArray(c)
      val n = math.min(vec.numElements(), cent.numElements())
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getDouble(i) - cent.getDouble(i)
        d += x * x
        i += 1
      }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cents) => {
      val k = ctx.freshName("k")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val cent = ctx.freshName("cent")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      s"""
        int $k = $cents.numElements();
        int $best = 0;
        double $bestD = Double.MAX_VALUE;
        for (int $c = 0; $c < $k; $c++) {
          org.apache.spark.sql.catalyst.util.ArrayData $cent =
            $cents.getArray($c);
          int $n = java.lang.Math.min(
            $vec.numElements(), $cent.numElements());
          double $d = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = $vec.getDouble($i) - $cent.getDouble($i);
            $d += $x * $x;
          }
          if ($d < $bestD) { $bestD = $d; $best = $c; }
        }
        ${ev.value} = $best;
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Indices of the N nearest centroids, nearest first (squared L2;
  * ties → lowest index) — [[NearestCentroid]]'s multiprobe sibling,
  * the recall knob for blocked vector dedup
  * ([[graft.ops.VectorDedupIndex.probePairs]]' nprobe) and IVF probe
  * cell selection at large centroid counts (an `array_sort` over
  * per-centroid structs builds the same degenerate k×dim expression
  * tree as the argmin it replaced). One flat loop with an n-slot
  * insertion (n is small — 2..8 in practice), O(k·(d + n)) per row,
  * no tree growth, zero shuffle. Insertion is stable on equal
  * distances, so with the id-sorted matrix rows of
  * [[graft.vector.VectorSearch]]'s cell model ties go to the lowest
  * cell id; driver-side probes constant-fold this same expression. */
case class NearestCentroidK(first: Expression, second: Expression,
    third: Expression)
    extends TernaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType),
    ArrayType(ArrayType(DoubleType)), IntegerType)
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_nearest_centroid_k"

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val cents = b.asInstanceOf[ArrayData]
    val k = cents.numElements()
    val nn = math.max(0, math.min(c.asInstanceOf[Int], k))
    val bestD = Array.fill(nn)(Double.MaxValue)
    val bestI = new Array[Int](nn)
    var cIdx = 0
    while (cIdx < k) {
      val cent = cents.getArray(cIdx)
      val n = math.min(vec.numElements(), cent.numElements())
      var d = 0.0
      var i = 0
      while (i < n) {
        val x = vec.getDouble(i) - cent.getDouble(i)
        d += x * x
        i += 1
      }
      // strict < : an equal-distance later centroid never displaces
      // an earlier one — the (d, lowest index) tiebreak
      if (nn > 0 && d < bestD(nn - 1)) {
        var pos = nn - 1
        while (pos > 0 && d < bestD(pos - 1)) {
          bestD(pos) = bestD(pos - 1)
          bestI(pos) = bestI(pos - 1)
          pos -= 1
        }
        bestD(pos) = d
        bestI(pos) = cIdx
      }
      cIdx += 1
    }
    new GenericArrayData(bestI)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, cents, np) => {
      val k = ctx.freshName("k")
      val nn = ctx.freshName("nn")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val cent = ctx.freshName("cent")
      val bestD = ctx.freshName("bestD")
      val bestI = ctx.freshName("bestI")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val pos = ctx.freshName("pos")
      s"""
        int $k = $cents.numElements();
        int $nn = java.lang.Math.max(0, java.lang.Math.min($np, $k));
        double[] $bestD = new double[$nn];
        int[] $bestI = new int[$nn];
        java.util.Arrays.fill($bestD, Double.MAX_VALUE);
        for (int $c = 0; $c < $k; $c++) {
          org.apache.spark.sql.catalyst.util.ArrayData $cent =
            $cents.getArray($c);
          int $n = java.lang.Math.min(
            $vec.numElements(), $cent.numElements());
          double $d = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $x = $vec.getDouble($i) - $cent.getDouble($i);
            $d += $x * $x;
          }
          if ($nn > 0 && $d < $bestD[$nn - 1]) {
            int $pos = $nn - 1;
            while ($pos > 0 && $d < $bestD[$pos - 1]) {
              $bestD[$pos] = $bestD[$pos - 1];
              $bestI[$pos] = $bestI[$pos - 1];
              $pos--;
            }
            $bestD[$pos] = $d;
            $bestI[$pos] = $c;
          }
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($bestI);
      """
    })

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** PQ encode: nearest-centroid code per subspace. `left` is the vector
  * (array<double>), `right` the codebooks (array<array<array<double>>>,
  * [m][ncent][dsub]) — in practice a plan LITERAL, so the generated
  * code reads it from the references array, never from the row. One
  * flat triple loop replaces the m × ncent `struct(sqdist, idx)`
  * argmin composition, whose ~2k-node expression tree cost tens of
  * seconds of codegen at m=32/ncent=64. Ties (equal squared distance)
  * keep the lowest centroid index — matching the driver-side
  * `PqModel.encodeOne` exactly (same sequential double sums). */
case class PqEncode(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(DoubleType),
    ArrayType(ArrayType(ArrayType(DoubleType))))
  override def dataType: DataType =
    ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val vec = a.asInstanceOf[ArrayData]
    val books = b.asInstanceOf[ArrayData]
    val m = books.numElements()
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val book = books.getArray(j)
      val dsub = if (book.numElements() == 0) 0
        else book.getArray(0).numElements()
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < book.numElements()) {
        val cent = book.getArray(c)
        var d = 0.0
        var i = 0
        while (i < dsub) {
          val x = vec.getDouble(j * dsub + i) - cent.getDouble(i)
          d += x * x
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (vec, books) => {
      val m = ctx.freshName("m")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val book = ctx.freshName("book")
      val cent = ctx.freshName("cent")
      val dsub = ctx.freshName("dsub")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      s"""
        int $m = $books.numElements();
        int[] $out = new int[$m];
        for (int $j = 0; $j < $m; $j++) {
          org.apache.spark.sql.catalyst.util.ArrayData $book =
            $books.getArray($j);
          int $dsub = $book.numElements() == 0 ? 0
            : $book.getArray(0).numElements();
          int $best = 0;
          double $bestD = Double.MAX_VALUE;
          for (int $c = 0; $c < $book.numElements(); $c++) {
            org.apache.spark.sql.catalyst.util.ArrayData $cent =
              $book.getArray($c);
            double $d = 0.0;
            for (int $i = 0; $i < $dsub; $i++) {
              double $x = $vec.getDouble($j * $dsub + $i)
                - $cent.getDouble($i);
              $d += $x * $x;
            }
            if ($d < $bestD) { $bestD = $d; $best = $c; }
          }
          $out[$j] = $best;
        }
        ${ev.value} =
          new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Exact dot product over QUANTIZED (long) vectors — companion of
  * [[SqDistLong]], used for sign-bucket LSH where the HASH must be
  * bit-identical across engines (a double dot product's sign can flip
  * on summation order at the decision boundary; integer sums cannot). */
case class DotLong(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot_long"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val (va, vb) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += va.getLong(i) * vb.getLong(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        long $acc = 0L;
        for (int $i = 0; $i < $n; $i++) {
          $acc += $a.getLong($i) * $b.getLong($i);
        }
        ${ev.value} = $acc;
      """
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): Expression = copy(left = l, right = r)
}

/** Session extension registering the graft SQL functions — enabled via
  * `spark.sql.extensions=graft.expr.GraftExtensions` (see
  * `graft.GraftSession`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    def info(name: String, usage: String) =
      new ExpressionInfo("graft", null, name, usage, "")
    ext.injectFunction((FunctionIdentifier("graft_l2_distance"),
      info("graft_l2_distance", "_FUNC_(a, b) - Euclidean distance"),
      (es: Seq[Expression]) => L2Distance(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_dot"),
      info("graft_dot", "_FUNC_(a, b) - dot product"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "_FUNC_(a, b) - cosine similarity"),
      (es: Seq[Expression]) => CosineSimilarity(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_l2_normalize"),
      info("graft_l2_normalize", "_FUNC_(a) - L2 normalize"),
      (es: Seq[Expression]) => L2Normalize(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_sqdist_long"),
      info("graft_sqdist_long",
        "_FUNC_(a, b) - exact squared L2 over quantized long vectors"),
      (es: Seq[Expression]) => SqDistLong(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_dot_long"),
      info("graft_dot_long",
        "_FUNC_(a, b) - exact dot product over quantized long vectors"),
      (es: Seq[Expression]) => DotLong(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_sqdist"),
      info("graft_sqdist", "_FUNC_(a, b) - squared Euclidean distance"),
      (es: Seq[Expression]) => SqDist(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_bpe_encode"),
      info("graft_bpe_encode",
        "_FUNC_(text, merges) - greedy BPE subword tokenization"),
      (es: Seq[Expression]) => BpeEncode(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_pq_encode"),
      info("graft_pq_encode",
        "_FUNC_(vec, codebooks) - PQ nearest-centroid codes per subspace"),
      (es: Seq[Expression]) => PqEncode(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_nearest_centroid"),
      info("graft_nearest_centroid",
        "_FUNC_(vec, centroids) - index of the nearest centroid " +
          "(squared L2, ties to the lowest index)"),
      (es: Seq[Expression]) => NearestCentroid(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_nearest_centroid_k"),
      info("graft_nearest_centroid_k",
        "_FUNC_(vec, centroids, n) - indices of the n nearest " +
          "centroids, nearest first (squared L2, ties to the lowest)"),
      (es: Seq[Expression]) => NearestCentroidK(es(0), es(1), es(2))))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc_lit"),
      info("graft_pq_adc_lit",
        "_FUNC_(codes, qidx, tables) - ADC against literal query tables"),
      (es: Seq[Expression]) => PqAdcLit(es(0), es(1), es(2))))
    ext.injectFunction((FunctionIdentifier("graft_pq_adc"),
      info("graft_pq_adc",
        "_FUNC_(codes, table) - PQ asymmetric-distance lookup sum"),
      (es: Seq[Expression]) => PqAdc(es(0), es(1))))
    ext.injectFunction((FunctionIdentifier("graft_sortable_bits"),
      info("graft_sortable_bits",
        "_FUNC_(d) - order-preserving long bits of a double"),
      (es: Seq[Expression]) => DoubleSortableLong(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_sortable_double"),
      info("graft_sortable_double",
        "_FUNC_(l) - double restored from graft_sortable_bits"),
      (es: Seq[Expression]) => SortableLongDouble(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_nfc"),
      info("graft_nfc", "_FUNC_(s) - Unicode NFC normalization"),
      (es: Seq[Expression]) => NfcNormalize(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_shingles"),
      info("graft_shingles",
        "_FUNC_(toks, n[, step]) - space-joined n-token windows of a " +
          "token array at positions 0, step, 2*step, ... (step " +
          "defaults to 1 = every overlapping window); < n tokens " +
          "yields an empty array"),
      (es: Seq[Expression]) => {
        def intLit(e: Expression, name: String): Int = e match {
          case l if l.foldable => l.eval() match {
            case i: Int if i >= 1 => i
            case v: Long if v >= 1 && v <= Int.MaxValue => v.toInt
            case other => throw new IllegalArgumentException(
              s"graft_shingles: $name must be a positive int-range " +
                s"integer literal, got ${Option(other).getOrElse("NULL")}")
          }
          case _ => throw new IllegalArgumentException(
            s"graft_shingles: $name must be a foldable integer literal, " +
              "not a per-row column")
        }
        val step = if (es.size >= 3) intLit(es(2), "step") else 1
        Shingles(es(0), intLit(es(1), "n"), step)
      }))
    ext.injectFunction((FunctionIdentifier("graft_rep_stats"),
      info("graft_rep_stats",
        "_FUNC_(toks) - struct(top_uni, top_bi, dup_bi) repetition " +
          "tallies of a token array in one pass"),
      (es: Seq[Expression]) => RepetitionStats(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_pii_scan"),
      info("graft_pii_scan",
        "_FUNC_(text) - struct(redacted, n_email, n_card, n_ip, " +
          "n_phone): all PiiScrub patterns counted and redacted in " +
          "one pass (A/B twin of the sequential contract path)"),
      (es: Seq[Expression]) => PiiScan(es(0))))
    ext.injectFunction((FunctionIdentifier("graft_strip_segments"),
      info("graft_strip_segments",
        "_FUNC_(toks, dict, n) - the doc's non-overlapping n-token " +
          "windows minus those in the dict array, joined by ' ' " +
          "(Boilerplate.stripWith's removal pass, one compiled loop)"),
      (es: Seq[Expression]) => {
        val n = es(2) match {
          case e if e.foldable => e.eval() match {
            case i: Int if i >= 1 => i
            case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
            case other => throw new IllegalArgumentException(
              "graft_strip_segments: n must be a positive int-range " +
                s"integer literal, got ${Option(other).getOrElse("NULL")}")
          }
          case _ => throw new IllegalArgumentException(
            "graft_strip_segments: n must be a foldable integer " +
              "literal, not a per-row column")
        }
        StripSegments(es(0), es(1), n)
      }))
    ext.injectFunction((FunctionIdentifier("graft_dup_frac"),
      info("graft_dup_frac",
        "_FUNC_(toks, n) - duplicate n-gram fraction of a token array"),
      (es: Seq[Expression]) => {
        val n = es(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int if i >= 1 => i
            case l: Long if l >= 1 && l <= Int.MaxValue => l.toInt
            case other => throw new IllegalArgumentException(
              "graft_dup_frac: n must be a positive int-range integer " +
                s"literal, got ${Option(other).getOrElse("NULL")}")
          }
          case _ => throw new IllegalArgumentException(
            "graft_dup_frac: n must be a foldable integer literal, " +
              "not a per-row column")
        }
        DupFraction(es(0), n)
      }))
    ext.injectFunction((FunctionIdentifier("graft_md5_long"),
      info("graft_md5_long",
        "_FUNC_(s, nHex) - first nHex md5 hex nibbles as a long"),
      (es: Seq[Expression]) => {
        // nHex must be a foldable integer literal — Md5Long bakes it
        // into codegen, so a per-row column argument cannot work
        val nHex = es(1) match {
          case e if e.foldable => e.eval() match {
            case i: Int if i >= 1 && i <= 15 => i
            case l: Long if l >= 1 && l <= 15 => l.toInt
            case other => throw new IllegalArgumentException(
              "graft_md5_long: nHex must be an integer literal in " +
                s"[1,15], got ${Option(other).getOrElse("NULL")}")
          }
          case _ => throw new IllegalArgumentException(
            "graft_md5_long: nHex must be a foldable integer literal " +
              "in [1,15], not a per-row column")
        }
        Md5Long(es(0), nHex)
      }))
    // whole-operator kNN: ORDER BY <vector distance> LIMIT k →
    // KnnTopK (eval-once bounded heaps; see graft.plans.KnnTopK)
    ext.injectOptimizerRule(graft.plans.KnnTopKRewrite)
    // registered-index cell pruning on top of the KnnTopK rewrite
    ext.injectOptimizerRule(graft.plans.IvfPruneRule)
    ext.injectPlannerStrategy(graft.plans.KnnTopKStrategy)
    // EmbeddingPipeline.search: a leaf over a plan held per set of cached
    // inputs, narrowed to the columns the caller reads (see PreparedSearches)
    ext.injectOptimizerRule(graft.plans.PreparedSearchPrune)
    ext.injectPlannerStrategy(graft.plans.PreparedSearchStrategy)
    // a broadcast of cached data is built once and reused across queries
    // until that data is unpersisted (see BroadcastReuse)
    ext.injectQueryStagePrepRule(org.apache.spark.sql.graft.BroadcastReuseRule)
  }
}
