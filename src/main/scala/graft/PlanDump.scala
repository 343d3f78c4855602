package graft

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named registry queries, one
  * `<outDir>/<query>_<suffix>.txt` per query. Usage:
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> <name>[,<name>...]"
  *
  * `all` as the name list dumps every registry query. Reads the data
  * dir from SPARK_GRAFT_SF_DIR (default sf0.1) so the plans carry the
  * same statistics the bench sees. Each arm is planned through
  * [[Arm.run]], under its own declared confs only.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: PlanDump <outDir> <suffix> <names|all>")
    val Array(outDir, suffix, nameArg) = args
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val registry = SparkEntry.arms
    val names =
      if (nameArg == "all") registry.keys.toSeq.sorted
      else nameArg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      registry.get(n) match {
        case None => System.err.println(s"[plandump] unknown query: $n")
        case Some(q) =>
          try Arm.run(spark, dir, q) { df =>
            // AQE rewrites (SMJ→SHJ, coalescing, skew splits) exist
            // only in the FINAL plan — execute first so the dump
            // shows what actually ran, not the initial estimate. Must
            // drive THIS DataFrame's own QueryExecution (a noop write
            // plans a separate command whose AQE result the df's
            // explain never sees): toRdd.foreach materializes every
            // row of the exact plan and flips isFinalPlan=true.
            if (sys.env.get("SPARK_GRAFT_PLAN_EXECUTED").contains("1"))
              df.queryExecution.toRdd.foreach(_ => ())
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
            java.nio.file.Files.write(
              java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            System.err.println(s"[plandump] wrote ${n}_$suffix.txt")
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[plandump] $n failed: ${e.getMessage}")
          }
      }
    }
    Arm.release(spark)
    spark.stop()
  }
}
