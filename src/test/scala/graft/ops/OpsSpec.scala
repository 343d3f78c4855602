package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("dedupKeepFirst keeps the row that sorts first per key") {
    // "n": a NULL order value sorts first. "c": 60 rows tie on ord, so
    // the payload (tag) breaks the tie — the same row at any partitioning
    val rows = Seq(("a", Some(2), "second"), ("a", Some(1), "first"),
      ("b", Some(9), "only"), ("n", Some(1), "one"), ("n", None, "null")) ++
      (0 until 60).map(i => ("c", Some(0), s"t${(i * 37) % 60}"))
    def kept(parts: Int) = Ops.dedupKeepFirstAgg(
      rows.toDF("k", "ord", "tag").repartition(parts), Seq("k"), Seq("ord"))
    val one = kept(1)
    assert(one.columns.toSeq == Seq("k", "ord", "tag"))
    assert(one.select("k", "tag").as[(String, String)].collect().toMap ==
      Map("a" -> "first", "b" -> "only", "n" -> "null", "c" -> "t0"))
    assert(kept(7).collect().toSet == one.collect().toSet)
  }

  test("topKPerGroup returns k ranked rows per group") {
    val df = (1 to 20).map(i => (i % 2, i)).toDF("g", "v")
    val out = Ops.topKPerGroup(df, Seq("g"), Seq(col("v").desc), 3)
    assert(out.count() == 6)
    assert(out.filter($"g" === 0).select("v").as[Int].collect().sorted
      .toSeq == Seq(16, 18, 20))
  }

  test("topKPerGroupAgg agrees with the window form, both directions") {
    val df = (1 to 500).map(i => (i % 5, (i * 7 % 501).toLong, i.toLong))
      .toDF("g", "v", "id")
    for (desc <- Seq(false, true)) {
      val order = if (desc) Seq(col("v").desc, col("id").asc)
        else Seq(col("v").asc, col("id").asc)
      val windowed = Ops.topKPerGroup(df, Seq("g"), order, 4)
        .select("g", "v", "id", "rank").as[(Int, Long, Long, Int)]
        .collect().toSet
      val agg = Ops.topKPerGroupAgg(df, Seq("g"), col("v"), col("id"), 4,
          "v", "id", "rank", descending = desc)
        .select("g", "v", "id", "rank").as[(Int, Long, Long, Int)]
        .collect().toSet
      assert(agg == windowed, s"descending=$desc")
    }
  }

  test("topKPerGroupAgg handles negative keys, ties, small groups, null keys") {
    val df = Seq((0, -5L, 1L), (0, -5L, 2L), (0, 3L, 3L), (0, Long.MinValue, 4L),
      (1, 7L, 5L))
      .toDF("g", "v", "id")
      .unionByName(Seq((1, Option.empty[Long], 6L)).toDF("g", "v", "id"))
    val out = Ops.topKPerGroupAgg(df, Seq("g"), col("v"), col("id"), 3,
        "v", "id", "rank")
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(out == Set((0, Long.MinValue, 4L, 1), (0, -5L, 1L, 2),
      (0, -5L, 2L, 3), (1, 7L, 5L, 1)))
    val desc = Ops.topKPerGroupAgg(df, Seq("g"), col("v"), col("id"), 2,
        "v", "id", "rank", descending = true)
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(desc == Set((0, 3L, 3L, 1), (0, -5L, 1L, 2), (1, 7L, 5L, 1)))
  }

  test("upsertByKey replaces same-key rows, keeps the rest, rejects drift") {
    val base = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30))
      .toDF("k", "tag", "v")
    val updates = Seq((2L, "B", 99), (4L, "d", 40)).toDF("k", "tag", "v")
    val merged = Ops.upsertByKey(base, updates, Seq("k"))
      .as[(Long, String, Int)].collect().sortBy(_._1).toSeq
    assert(merged == Seq((1L, "a", 10), (2L, "B", 99), (3L, "c", 30),
      (4L, "d", 40)))
    // idempotent on re-apply
    assert(Ops.upsertByKey(merged.toDF("k", "tag", "v"), updates, Seq("k"))
      .count() == 4)
    intercept[IllegalArgumentException] {
      Ops.upsertByKey(base, updates.drop("v"), Seq("k"))
    }
  }

  test("unionByNameAll tolerates column order and missing columns") {
    val a = Seq((1, "x")).toDF("id", "name")
    val b = Seq(("y", 2)).toDF("name", "id")
    val c = Seq(3).toDF("id")
    val out = Ops.unionByNameAll(Seq(a, b, c)).orderBy("id").collect()
    assert(out.map(_.getAs[Int]("id")).toSeq == Seq(1, 2, 3))
    assert(out(1).getAs[String]("name") == "y")
    assert(out(2).isNullAt(out(2).fieldIndex("name")))
  }

  test("saltedJoin equals plain inner join under heavy skew") {
    // 10k rows, 90% on one hot key
    val left = spark.range(10000)
      .select(when($"id" % 10 === 0, $"id" % 7).otherwise(0L).as("k"),
        $"id".as("v"))
    val right = (0L to 6L).map(k => (k, s"dim$k")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).agg(count(lit(1)), sum("v"))
      .as[(Long, Long)].head()
    val salted = Ops.saltedJoin(left, right, "k", saltN = 8)
      .agg(count(lit(1)), sum("v")).as[(Long, Long)].head()
    assert(salted == plain)
  }

  test("exceptByKey removes keyed rows") {
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val minus = Seq(2).toDF("id")
    assert(Ops.exceptByKey(df, minus, "id").select("id").as[Int]
      .collect().sorted.toSeq == Seq(1, 3))
  }

  test("duplicateRows finds only repeating tuples") {
    val df = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 1)).toDF("x", "y")
    val dups = Ops.duplicateRows(df).collect()
    assert(dups.length == 1)
    assert(dups(0).getAs[String]("x") == "a" &&
      dups(0).getAs[Int]("y") == 1 && dups(0).getAs[Long]("dup_count") == 2)
  }

  test("withDenseId assigns 1..N in sort order") {
    val df = Seq("c", "a", "b").toDF("v")
    val out = Ops.withDenseId(df, "id", Seq("v"))
      .as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("pointInIntervalJoin equals the naive theta join on random data") {
    val rnd = new scala.util.Random(11)
    val points = Seq.tabulate(400)(i =>
      (rnd.nextInt(6).toLong, rnd.nextInt(1000).toLong, i.toLong))
      .toDF("k", "t", "pid")
    val intervals = Seq.tabulate(120) { i =>
      val s = rnd.nextInt(1000).toLong
      (rnd.nextInt(8).toLong, s, s + rnd.nextInt(90).toLong, i.toLong)
    }.toDF("k", "s", "e", "iid")
    for (width <- Seq(1L, 50L, 64L, 5000L)) {
      val bucketed = Ops.pointInIntervalJoin(points, intervals,
        "k", "t", "s", "e", width)
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      val naive = points.join(intervals, Seq("k"))
        .filter($"t" >= $"s" && $"t" <= $"e")
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(bucketed == naive, s"divergence at bucketWidth=$width")
    }
  }

  test("asofJoin picks the latest right row at or before each left row") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"),
      (2L, 50L, "e3"), (3L, 7L, "e4"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 10L, "r@10"), (1L, 15L, "r@15"), (1L, 30L, "r@30"),
      (2L, 49L, "r@49"), (9L, 1L, "r-other"))
      .toDF("k", "t", "payload")
    val out = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("payload"))
      .select("ev", "payload").as[(String, String)].collect().toMap
    // e1 @10 matches r@10 (equal time inclusive); e2 @20 matches r@15
    // (skips the later r@30); e0 @5 precedes every right row -> null;
    // k=3 has no right rows at all -> null (ASOF LEFT JOIN)
    assert(out == Map("e1" -> "r@10", "e2" -> "r@15", "e0" -> null,
      "e3" -> "r@49", "e4" -> null))
  }

  test("asofJoin nearest shares ONE exchange across both carry windows") {
    // the two windows sort opposite ways but partition identically —
    // a second Exchange would mean the mirror window re-shuffled
    val left = Seq((1L, 10L, "a")).toDF("k", "t", "ev")
    val right = Seq((1L, 8L, "r")).toDF("k", "t", "payload")
    val df = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("payload"),
      direction = Ops.AsofNearest)
    df.collect()
    // count in the FINAL plan only — the AQE plan string repeats the
    // tree under "== Initial Plan ==", double-counting the exchange
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"nearest as-of re-shuffled:\n$plan")
    assert("windowspecdefinition".r.findAllIn(plan).size == 2,
      "nearest lost one of its carry windows")
  }

  test("asofJoinBy composites keys and matches the quadratic form") {
    val rnd = new scala.util.Random(5)
    val left = Seq.fill(200)((rnd.nextInt(4).toLong, rnd.nextInt(3),
        rnd.nextInt(60).toLong))
      .zipWithIndex.map { case ((k1, k2, t), i) => (k1, k2, t, i.toLong) }
      .toDF("k1", "k2", "t", "lid")
    val right = Seq.fill(120)((rnd.nextInt(5).toLong, rnd.nextInt(3),
        rnd.nextInt(60).toLong))
      .zipWithIndex.map { case ((k1, k2, t), i) => (k1, k2, t, i.toLong) }
      .groupBy(r => (r._1, r._2, r._3)).map(_._2.maxBy(_._4)).toSeq
      .toDF("g1", "g2", "rt", "rid")
    val fast = Ops.asofJoinBy(left, right, Seq("k1", "k2"),
        Seq("g1", "g2"), "t", "rt", Seq("rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    val rrows = right.as[(Long, Int, Long, Long)].collect()
    val slow = left.as[(Long, Int, Long, Long)].collect()
      .map { case (k1, k2, t, lid) =>
        val m = rrows.filter(r => r._1 == k1 && r._2 == k2 && r._3 <= t)
        lid -> (if (m.isEmpty) None
          else Some(m.maxBy(r => (r._3, r._4))._4))
      }.toMap
    assert(fast == slow)
  }

  test("asofJoin tolerance nulls out stale matches") {
    val left = Seq((1L, 10L, "near"), (1L, 100L, "far")).toDF("k", "t", "ev")
    val right = Seq((1L, 8L, "r@8")).toDF("k", "t", "payload")
    val out = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("payload"),
      tolerance = Some(lit(5L)))
      .select("ev", "payload").as[(String, String)].collect().toMap
    // t=10 is 2 ticks after r@8 (within 5); t=100 is 92 ticks (stale)
    assert(out == Map("near" -> "r@8", "far" -> null))
  }

  test("asofJoin matches the quadratic reference form in all directions") {
    val rnd = new scala.util.Random(42)
    val left = Seq.fill(300)((rnd.nextInt(8).toLong, rnd.nextInt(100).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("k", "t", "lid")
    val rightRows = Seq.fill(200)(
        (rnd.nextInt(10).toLong, rnd.nextInt(100).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      // unique (k, t) per the documented contract (caller pre-dedupes)
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq
    val right = rightRows.toDF("k", "t", "rid")
    val leftRows = left.as[(Long, Long, Long)].collect()
    def slow(dir: Ops.AsofDirection): Map[Long, Option[Long]] =
      leftRows.map { case (k, t, lid) =>
        val rs = rightRows.filter(_._1 == k)
        val bwd = rs.filter(_._2 <= t)
          .sortBy(r => (r._2, r._3)).lastOption
        val fwd = rs.filter(_._2 >= t)
          .sortBy(r => (r._2, -r._3)).headOption
        val m = dir match {
          case Ops.AsofBackward => bwd
          case Ops.AsofForward => fwd
          case Ops.AsofNearest => (bwd, fwd) match {
            case (Some(b), Some(f)) =>
              if (t - b._2 <= f._2 - t) Some(b) else Some(f)
            case (b, f) => b.orElse(f)
          }
        }
        lid -> m.map(_._3)
      }.toMap
    for (dir <- Seq(Ops.AsofBackward, Ops.AsofForward, Ops.AsofNearest)) {
      val fast = Ops.asofJoin(left, right, "k", "k", "t", "t", Seq("rid"),
          direction = dir)
        .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
      assert(fast == slow(dir), s"direction $dir diverged")
    }
  }

  test("asofJoin null keys/times never match, in any direction") {
    // doc contract: null LEFT key or time -> null payload (the row
    // stays, ASOF LEFT JOIN); null RIGHT key or time -> that right row
    // is unmatchable. Without the guards, null keys group together in
    // the carry window and a null right time sorts first in the asc
    // window, producing spurious matches.
    val left = Seq(
      (Option(1L), Option(10L), "ok"),
      (Option.empty[Long], Option(10L), "nullkey"),
      (Option(1L), Option.empty[Long], "nulltime"),
      (Option.empty[Long], Option.empty[Long], "nullboth"))
      .toDF("k", "t", "ev")
    val right = Seq(
      (Option(1L), Option(5L), "r@5"),
      (Option.empty[Long], Option(1L), "r-nullkey"),
      (Option(1L), Option.empty[Long], "r-nulltime"))
      .toDF("k", "t", "payload")
    for (dir <- Seq(Ops.AsofBackward, Ops.AsofForward, Ops.AsofNearest)) {
      val out = Ops.asofJoin(left, right, "k", "k", "t", "t",
          Seq("payload"), direction = dir)
        .select("ev", "payload").as[(String, String)].collect().toMap
      val expectOk = if (dir == Ops.AsofForward) null else "r@5"
      assert(out == Map("ok" -> expectOk, "nullkey" -> null,
        "nulltime" -> null, "nullboth" -> null),
        s"direction $dir null semantics diverged: $out")
    }
  }

  test("asofJoin duplicate right (key,time) rows tiebreak deterministically") {
    // doc contract: the LAST in (key, time, payload-struct) order wins
    // duplicates at the left's own time: equal times match inclusively
    // in every direction, so the same tiebreak is exercised by all three
    val left = Seq((1L, 5L, "e")).toDF("k", "t", "ev")
    val right = Seq((1L, 5L, "aaa"), (1L, 5L, "zzz"), (1L, 5L, "mmm"))
      .toDF("k", "t", "payload")
    for (dir <- Seq(Ops.AsofBackward, Ops.AsofForward, Ops.AsofNearest)) {
      // repartition shuffles the right side differently across runs of
      // the union; the window tiebreak must still pick "zzz"
      val out = Ops.asofJoin(left, right.repartition(7), "k", "k",
          "t", "t", Seq("payload"), direction = dir)
        .select("payload").as[String].collect().toSeq
      assert(out == Seq("zzz"), s"direction $dir picked $out")
    }
  }
}
