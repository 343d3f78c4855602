package graft

import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.internal.SQLConf

/** The session leaves join strategy, parquet codec and output
  * committer at Spark's stock values (the r18/r19 A/Bs kept stock), and
  * sizes the codegen cache (its A/B is cited in `GraftSession`).
  * Pinned as effective values, so a Spark or Hadoop upgrade that moves
  * one of these defaults fails here instead of silently changing every
  * plan and file the engine writes. */
class GraftSessionSpec extends SparkSpec {

  test("join strategy and parquet codec are Spark's stock values") {
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin") == "true")
    // a byte size: compare bytes, not the rendering ("0" vs "0b")
    assert(JavaUtils.byteStringAsBytes(spark.conf.get(
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) == 0L)
    assert(spark.conf.get("spark.sql.parquet.compression.codec") ==
      "snappy")
  }

  test("the codegen cache holds 4000 generated classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
    assert(SQLConf.get.codegenCacheMaxEntries == 4000)
  }

  test("the output committer is algorithm version 1") {
    // read the way FileOutputCommitter reads it, over the session's
    // Hadoop conf plus the mapred defaults
    val conf = new JobConf(spark.sparkContext.hadoopConfiguration)
    assert(conf.getInt(
      FileOutputCommitter.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION,
      FileOutputCommitter.FILEOUTPUTCOMMITTER_ALGORITHM_VERSION_DEFAULT)
      == 1)
  }
}
