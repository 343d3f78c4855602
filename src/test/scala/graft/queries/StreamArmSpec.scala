package graft.queries

import graft.SparkSpec

/** The streaming bench arms' session contract (r15): each arm pins
  * `spark.sql.shuffle.partitions` to the state-volume-sized value for
  * the duration of its stream (PERFORMANCE.md "x21 profile") and MUST
  * restore the caller's value on every exit path — a bench arm that
  * leaks an 8-partition conf into the next timed query would corrupt
  * every number after it in the same run. */
class StreamArmSpec extends SparkSpec {

  test("stream arms restore spark.sql.shuffle.partitions after running") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    assert(before != "8", "precondition: spec session must differ from " +
      "the arms' pinned state partitioning for this test to mean anything")
    for (arm <- Seq("x17_stream_asof", "x18_stream_hh", "x21_stream_ssj")) {
      val run = graft.SparkEntry.benchOnlyQueries(arm)
      val out = run(spark, "/root/testdata/sf0.001")
      assert(out.count() == 1, s"$arm should return its trivial frame")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == before,
        s"$arm leaked the stream's partition conf into the session")
    }
  }
}
