package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Ops

/** Property-based invariants (SURVEY.md §5.2): dedup idempotence,
  * explode/implode round-trips, JSON round-trips, union counts, id
  * density — checked over generated data, not fixtures. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Seeded sampling stand-in for forAll (no scalatest-scalacheck
    * bridge in the offline cache): n deterministic draws per property. */
  private def forAll[A](gen: Gen[A], n: Int = 8)(f: A => Unit): Unit =
    (1 to n).foreach(i =>
      gen.apply(Gen.Parameters.default, Seed(42L + i)).foreach(f))

  private def whenever(c: Boolean)(f: => Unit): Unit = if (c) f

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private val rows = Gen.listOfN(60,
    Gen.zip(Gen.choose(0, 9), Gen.choose(0, 5), Gen.alphaNumStr.map(_.take(8))))

  test("dedupKeepFirst is idempotent and keeps one row per key") {
    forAll(rows) { data =>
      whenever(data.nonEmpty) {
        val df = data.toDF("k", "ord", "v")
        val once = Ops.dedupKeepFirstAgg(df, Seq("k"), Seq("ord", "v"))
        val twice = Ops.dedupKeepFirstAgg(once, Seq("k"), Seq("ord", "v"))
        val keys = df.select("k").distinct().count()
        assert(once.count() == keys)
        assert(twice.as[(Int, Int, String)].collect().toSet ==
          once.as[(Int, Int, String)].collect().toSet)
      }
    }
  }

  test("split/explode and collect/join round-trip token sequences") {
    forAll(Gen.listOfN(20, Gen.nonEmptyListOf(Gen.identifier.map(_.take(6))))) {
      texts =>
        val df = texts.zipWithIndex
          .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
          .toDF("id", "text")
        val back = df
          .select(col("id"), posexplode(split(col("text"), " "))
            .as(Seq("pos", "tok")))
          .groupBy("id")
          .agg(array_join(array_sort(
            collect_list(struct(col("pos"), col("tok")))).getField("tok"),
            " ").as("text2"))
          .join(df, "id")
          .filter(col("text") =!= col("text2"))
        assert(back.count() == 0)
    }
  }

  test("to_json/from_json round-trips structured rows") {
    forAll(Gen.listOfN(20,
      Gen.zip(Gen.choose(0L, 1000L), Gen.identifier.map(_.take(8))))) { data =>
      whenever(data.nonEmpty) {
        val df = data.toDF("n", "s")
        val rt = df
          .withColumn("j", to_json(struct(col("n"), col("s"))))
          .withColumn("back", from_json(col("j"),
            org.apache.spark.sql.types.DataType.fromDDL("n BIGINT, s STRING")))
          .filter(col("back.n") =!= col("n") || col("back.s") =!= col("s"))
        assert(rt.count() == 0)
      }
    }
  }

  test("unionByNameAll preserves total row count") {
    forAll(Gen.choose(1, 4), Gen.choose(1, 30)) { (parts, per) =>
      val dfs = (0 until parts).map(p =>
        (0 until per).map(i => (p, i)).toDF("p", "i"))
      assert(Ops.unionByNameAll(dfs).count() == parts.toLong * per)
    }
  }

  test("withDenseId yields a dense 1..N permutation at any partitioning") {
    forAll(Gen.choose(1, 200), Gen.choose(1, 8)) { (n, parts) =>
      val ids = Ops.withDenseId(
        spark.range(n.toLong).toDF("x").repartition(parts), "id", Seq("x"))
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == (1L to n))
    }
  }

  test("components: local union-find and distributed loop agree on " +
      "random graphs") {
    val edgeGen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 19L), Gen.choose(0L, 19L)))
    forAll(edgeGen, n = 5) { raw =>
      val edges = raw.filter { case (a, b) => a != b }
      whenever(edges.nonEmpty) {
        val pairs = edges.toDF("a_id", "b_id")
        val local = graft.ops.NearDedup.components(pairs)
          .as[(Long, Long)].collect().toMap
        val dist = graft.ops.NearDedup
          .components(pairs, smallGraphEdges = 0L)
          .as[(Long, Long)].collect().toMap
        assert(local == dist)
        // component labels are fixpoints: the label's own label is itself
        local.foreach { case (_, c) => assert(local(c) == c) }
      }
    }
  }

  test("grouped bounded-heap top-k equals the window on random data, " +
      "any k, both directions") {
    val gen = Gen.zip(
      Gen.listOfN(100, Gen.zip(Gen.choose(0, 4),
        Gen.choose(-1000L, 1000L), Gen.choose(0L, 40L))),
      Gen.choose(1, 12), Gen.oneOf(true, false))
    forAll(gen, n = 6) { case (data, k, desc) =>
      whenever(data.nonEmpty) {
        // distinct ids per group make the order total
        val df = data.zipWithIndex
          .map { case ((g, v, _), i) => (g, v, i.toLong) }
          .toDF("g", "v", "id")
        val order = if (desc) Seq(col("v").desc, col("id").asc)
          else Seq(col("v").asc, col("id").asc)
        val windowed = Ops.topKPerGroup(df, Seq("g"), order, k)
          .select("g", "v", "id", "rank")
          .as[(Int, Long, Long, Int)].collect().toSet
        val agg = Ops.topKPerGroupAgg(df, Seq("g"), col("v"), col("id"),
            k, "v", "id", "rank", descending = desc)
          .as[(Int, Long, Long, Int)].collect().toSet
        assert(agg == windowed, s"k=$k desc=$desc")
      }
    }
  }

  test("two-phase prefix sum equals the window form on random weights") {
    import org.apache.spark.sql.expressions.Window
    val gen = Gen.zip(
      Gen.listOfN(80, Gen.choose(0L, 50L)), Gen.choose(1, 9))
    forAll(gen, n = 5) { case (ws, parts) =>
      val df = ws.zipWithIndex.map { case (w, i) => (i.toLong, w) }
        .toDF("k", "w").repartition(parts)
      val got = graft.ops.Packing.withPrefixSum(df, "k", "w", "cum")
        .select("k", "cum").as[(Long, Long)].collect().toMap
      val want = df.withColumn("cum",
        coalesce(sum("w").over(Window.orderBy("k")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("k", "cum").as[(Long, Long)].collect().toMap
      assert(got == want)
    }
  }
}
