package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs; small core count + tiny shuffle
  * partitioning keeps unit runs fast. Each spec releases the arm memos
  * it built ([[Arm.release]]) so the next starts from baseline. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession =
    GraftSession.builder("4").getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit =
    try Arm.release(spark) finally super.afterAll()
}
