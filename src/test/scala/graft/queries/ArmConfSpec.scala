package graft.queries

import graft.{Arm, SparkEntry, SparkSpec}

/** The conf half of the arm lifecycle ([[graft.Arm.run]]): an arm's
  * declared confs hold while it runs, and afterwards the session's
  * explicit confs (`spark.conf.getAll`) are exactly what they were —
  * a key the session had set gets its value back, a key it had not
  * set is unset again — on every exit path. An A/B arm that leaked
  * broadcast-off, skew-join-off or 4 MB splits (or a stream arm its
  * 8 state partitions) into the next arm would skew every plan and
  * number after it in the same run. */
class ArmConfSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private val confArms = Seq("x09_bloom_join", "x10_bloom_off",
    "x17_stream_asof", "x18_stream_hh", "x21_stream_ssj",
    "x22_salted_join", "x23_salted_off", "x27_vector_dedup_probe",
    "x30_dedup_probe_np2")

  private def declaredHold(arm: graft.GraftQuery): Unit =
    for ((k, v) <- arm.confs)
      assert(spark.conf.get(k) == v, s"${arm.name}: $k is not $v in its run")

  test("every conf-declaring arm restores the session's confs exactly") {
    val before = spark.conf.getAll
    assert(before.contains("spark.sql.shuffle.partitions") &&
      !before.contains("spark.sql.files.maxPartitionBytes"),
      "precondition: the session sets one declared key and not another")
    val arms = confArms.map(SparkEntry.arms)
    assert(arms.exists(_.confs.contains("spark.sql.shuffle.partitions")) &&
      arms.exists(_.confs.contains("spark.sql.files.maxPartitionBytes")))
    assert(SparkEntry.arms.values.filter(_.confs.nonEmpty).map(_.name)
      .toSet == confArms.toSet, "the spec's arm list is out of date")
    for (arm <- arms) {
      Arm.run(spark, dir, arm) { df =>
        declaredHold(arm)
        df.collect()
      }
      assert(spark.conf.getAll == before,
        s"${arm.name} changed the session's confs")
    }
  }

  test("a throwing body still restores every declared conf") {
    val before = spark.conf.getAll
    for (arm <- confArms.map(SparkEntry.arms)) {
      val e = intercept[IllegalStateException] {
        Arm.run(spark, dir, arm) { _ =>
          declaredHold(arm)
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(spark.conf.getAll == before,
        s"${arm.name} changed the session's confs on a throw")
    }
  }
}
