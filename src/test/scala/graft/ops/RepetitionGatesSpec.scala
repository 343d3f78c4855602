package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The fixture corpus passes every gate (t13's oracle shows 100%
  * keep), so the DROP branches are pinned here on constructed
  * repetitious documents. */
class RepetitionGatesSpec extends SparkSpec {
  import spark.implicits._

  private def gate(docs: (Long, Seq[String])*): Map[Long, (Boolean,
      Double, Double, Double)] =
    RepetitionGates.signals(docs.toSeq.toDF("id", "ws"), "id", "ws")
      .select("id", "keep", "top_uni_frac", "top_bi_frac", "dup_bi_frac")
      .as[(Long, Boolean, Double, Double, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap

  test("spam-shaped repetition fails; diverse text passes") {
    val out = gate(
      // 10x the same token: top_uni = 1.0, every bigram duplicated
      1L -> Seq.fill(10)("buy"),
      // diverse: 12 distinct tokens, all unigrams/bigrams unique
      2L -> Seq("a", "b", "c", "d", "e", "f", "g", "h", "i", "j", "k", "l"),
      // one dominant phrase repeated among filler: "cheap deal" x6
      3L -> (Seq.fill(6)(Seq("cheap", "deal")).flatten ++
        Seq("x1", "x2", "x3", "x4", "x5", "x6")))
    assert(!out(1L)._1, s"all-same-token doc kept: ${out(1L)}")
    assert(out(1L)._2 == 1.0 && out(1L)._4 == 1.0)
    assert(out(2L)._1, s"diverse doc dropped: ${out(2L)}")
    assert(out(2L)._3 == 1.0 / 11.0) // 11 unique bigrams, top = 1
    assert(!out(3L)._1, s"dominant-phrase doc kept: ${out(3L)}")
    // "cheap deal" occurs 6x among 17 bigrams
    assert(math.abs(out(3L)._3 - 6.0 / 17.0) < 1e-15)
  }

  test("sub-2-token docs drop out (no bigram signal), any partitioning") {
    val out = RepetitionGates.signals(
      Seq((1L, Seq("only")), (2L, Seq("two", "words")))
        .toDF("id", "ws").repartition(5), "id", "ws")
      .select("id").as[Long].collect().toSet
    assert(out == Set(2L))
  }

  test("keep is monotone in the thresholds (loosening never drops a " +
      "previously-kept doc)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("a", "b", "c", "d", "e")
    val docGen = Gen.choose(4, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(words)))
    (1 to 12).foreach { i =>
      docGen.apply(Gen.Parameters.default, Seed(23L + i)).foreach { ws =>
        val df = Seq((1L, ws)).toDF("id", "ws")
        def keep(t: RepetitionGates.Thresholds) =
          RepetitionGates.signals(df, "id", "ws", t)
            .select("keep").as[Boolean].collect().headOption
        val strict = keep(RepetitionGates.Thresholds(0.2, 0.1, 0.2))
        val loose = keep(RepetitionGates.Thresholds(0.9, 0.9, 0.9))
        // strict-kept implies loose-kept; both None only for <2 tokens
        assert(!strict.contains(true) || loose.contains(true),
          s"monotonicity violated for $ws")
      }
    }
  }

  test("codegen and exploded groupBy paths agree row-for-row") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val words = Vector("a", "b", "c", "a a", "", "bb")
    val docGen = Gen.choose(0, 24).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(words)))
    val docs = (1 to 40).flatMap(i =>
      docGen.apply(Gen.Parameters.default, Seed(91L + i))
        .map(ws => (i.toLong, ws)))
    val df = docs.toDF("id", "ws").repartition(7)
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "top_uni_frac", "top_bi_frac", "dup_bi_frac", "keep")
        .as[(Long, Double, Double, Double, Boolean)].collect().sorted.toSeq
    val codegen = rows(RepetitionGates.signals(df, "id", "ws"))
    val exploded = rows(RepetitionGates.signalsExploded(df, "id", "ws"))
    assert(codegen == exploded)
    assert(codegen.nonEmpty)
  }

  test("both paths agree on null-bearing token arrays (null " +
      "tokens count as one group, like a groupBy null group)") {
    val df = Seq(1L, 2L, 3L).toDF("id")
      .withColumn("ws",
        when(col("id") === 1,
          array(lit("a"), lit(null), lit("a"), lit(null), lit(null)))
          .when(col("id") === 2, array(lit(null).cast("string"), lit("b")))
          .otherwise(array(lit("x"), lit("x"), lit(null))))
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select("id", "top_uni_frac", "top_bi_frac", "dup_bi_frac", "keep")
        .as[(Long, Double, Double, Double, Boolean)].collect().sorted.toSeq
    val codegen = rows(RepetitionGates.signals(df, "id", "ws"))
    val exploded = rows(RepetitionGates.signalsExploded(df, "id", "ws"))
    assert(codegen == exploded, s"$codegen vs $exploded")
    // doc 1: nulls are the top unigram group (3 of 5)
    assert(codegen.head._2 == 3.0 / 5.0, codegen.head)
  }

  test("default path is exchange-free (pure projection)") {
    val df = Seq((1L, Seq("a", "b", "a"))).toDF("id", "ws")
    val plan = RepetitionGates.signals(df, "id", "ws")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("custom thresholds move the gate") {
    val strict = RepetitionGates.signals(
      Seq((1L, Seq("a", "b", "a", "c", "a", "d"))).toDF("id", "ws"),
      "id", "ws", RepetitionGates.Thresholds(topUnigram = 0.2))
      .select("keep").as[Boolean].head()
    assert(!strict) // top_uni 3/6 = 0.5 > 0.2
  }
}
