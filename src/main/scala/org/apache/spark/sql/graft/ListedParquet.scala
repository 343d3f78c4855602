package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.HadoopFSUtils

/** A parquet relation over a listing made on the driver — the Spark
  * half of [[graft.io.Layout.readIndex]].
  *
  * `spark.read.parquet(root)` lists `root` itself: `DataSource` hands
  * every path it reads a fresh `FileStatusCache` client, and above
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` directories
  * per level the listing is a Spark job. Then a one-task job reads a
  * footer for the schema. Here the wanted leaf directories are listed
  * with Spark's serial lister (its hidden-file rules: `_temporary`
  * trees, `.crc` files, `_SUCCESS` and other `_`/`.` names are
  * skipped), and that listing is the relation's only cache entry,
  * under `root`: the `InMemoryFileIndex` built over `root` lists
  * nothing and infers its partitions from the listed files'
  * directories, exactly as from its own listing. The data schema comes
  * from the first listed file's footer, read on the driver. `root`
  * stays the relation's root path. Nothing outlives the relation: the
  * next read lists afresh. */
object ListedParquet {

  /** The parquet files under `path`: in the `leaves` directories
    * (relative to `path`; one that does not exist is skipped) or, when
    * `leaves` is `None` or none of them holds a file, in every
    * directory under `path`. */
  def read(spark: SparkSession, path: String, leaves: Option[Seq[String]])
      : DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val given = new Path(path)
    val root = given.getFileSystem(conf).makeQualified(given)
    // the lister InMemoryFileIndex lists with, held to the driver: the
    // threshold never admits a job (`listFiles` would do too, but builds
    // each LocatedFileStatus through the permission lookup, ~4 ms per
    // directory on a local file system)
    def filesUnder(dirs: Seq[Path]): Seq[FileStatus] =
      HadoopFSUtils.parallelListLeafFiles(spark.sparkContext, dirs, conf,
        null, spark.sessionState.conf.ignoreMissingFiles,
        spark.sessionState.conf.ignoreDataLocality, Int.MaxValue, 0)
        .flatMap(_._2)
    val wanted = filesUnder(leaves.getOrElse(Nil).map(new Path(root, _)))
    val files = if (wanted.nonEmpty) wanted else filesUnder(Seq(root))
    require(files.nonEmpty, s"no parquet data file under $path")
    val listing = files.toArray
    val cache = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        Option.when(p == root)(listing)
      override def putLeafFiles(p: Path, fs: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, cache)
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      footerSchema(spark, conf, files.head).asNullable, None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** The Spark schema a parquet file's footer records, as Spark's own
    * schema inference reads it: the schema Spark stored at write time,
    * else the parquet schema converted under the session's conf. */
  private def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): StructType = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf))
    val meta = try reader.getFooter.getFileMetaData finally reader.close()
    Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
  }
}
