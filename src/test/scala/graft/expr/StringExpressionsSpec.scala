package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.TextOps.{shingles, tokens}

class StringExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_dup_frac equals the relational shingle/distinct form") {
    // real corpus text plus adversarial edges: shorter than n, exactly
    // n, all-identical tokens, interior repeats, and doubled/leading/
    // trailing spaces (the split yields empty tokens)
    val real = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(col("text"))
    val edges = Seq("a", "a b", "a b c", "a a a a a",
      "x y x y x y", "p q r p q r s", "a  b a  b", "a  b a  b a  b",
      "  ", "x  x  x", " lead and trail ", "", "a   a   a").toDF("text")
    val docs = real.unionByName(edges)
      .select(tokens(col("text")).as("toks"))
    for (k <- Seq(2, 3)) {
      val g = shingles(col("toks"), k)
      val relational = when(size(g) > 0,
        (size(g) - size(array_distinct(g))).cast("double") / size(g))
        .otherwise(0.0)
      val mism = docs
        .select(relational.as("want"),
          call_function("graft_dup_frac", col("toks"), lit(k)).as("got"))
        .filter(col("want") =!= col("got"))
        .count()
      assert(mism == 0, s"k=$k: $mism rows diverge")
    }
  }

  test("graft_dup_frac: null array is an empty doc (0.0), null elements " +
      "match array_join's skip semantics") {
    // null token array (null-text doc): the old when/otherwise form
    // returned 0.0 — the expression must too, on both eval paths, so
    // t09's threshold filter never silently drops null-text rows
    val df = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, null: Seq[String]),
      (3L, Seq("a", null, "a", null, "a", null))).toDF("id", "toks")
    val got = df.select(col("id"),
      call_function("graft_dup_frac", col("toks"), lit(2)).as("f"))
      .as[(Long, Double)].collect().toMap
    assert(got(2L) == 0.0)
    // null elements: array_join skips the null AND its separator, so
    // ("a",null)→"a", (null,"a")→"a", ("a","a")... here every 2-gram
    // of row 3 renders "a" → 4 dups / 5 grams
    val relational = df.filter(col("id") === 3)
      .select((size(shingles(col("toks"), 2)) -
        size(array_distinct(shingles(col("toks"), 2)))).cast("double")
        ./(size(shingles(col("toks"), 2))).as("want"))
      .as[Double].head()
    assert(got(3L) == relational, s"expr=${got(3L)} relational=$relational")
    // nullable=false: the column must not report nullable
    val schema = df.select(call_function("graft_dup_frac", col("toks"),
      lit(2)).as("f")).schema
    assert(!schema("f").nullable)
  }

  test("graft_dup_frac stays inside WholeStageCodegen") {
    val df = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(call_function("graft_dup_frac",
        tokens(col("text")), lit(2)).as("f"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fused = """\*\(\d+\) Project \[[^\n]*graft_dup_frac""".r
    assert(fused.findFirstIn(p).isDefined, p)
  }

  test("graft_dup_frac rejects a non-literal n") {
    val e = intercept[Exception] {
      graft.Tables(spark, "/root/testdata/sf0.001", "documents")
        .select(call_function("graft_dup_frac",
          tokens(col("text")), col("doc_id"))).collect()
    }
    assert(e.getMessage.contains("foldable"), e.getMessage)
  }
}
