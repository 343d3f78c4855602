package graft.etl

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.GraftSession

/** Runnable end-to-end demo of the Bytesme parity pipeline: writes a
  * small raw fixture CSV, runs raw → standardize → dedup → mock →
  * normalize, prints the three output tables. Usage:
  * `sbt "runMain graft.etl.EtlDemo [rawGlob]"` — with no args it
  * generates its own fixture. */
object EtlDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(graft.GraftSession.cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val glob = args.headOption.getOrElse {
      val dir = Files.createTempDirectory("graft_etl_demo").toFile
      val csv =
        """product_name,product_brand,original_category,product_url,product_image_url,product_image_name,product_description,product_unit_price,product_stock_quantity
          |Bánh kem dâu,Bakery A,cakes,https://a/p/1,http://a/1.jpg|http://a/2.jpg,front|back,"Bánh kem tươi, nhiều lớp",50000,40
          |Bánh kem dâu,Bakery A,cakes,https://a/p/1,http://a/1.jpg,front,trùng lặp,50000,40
          |Trà sữa trân châu,Tea B,tra-sua,https://b/p/2,http://b/1.jpg,,Trà sữa đậm vị,0,10
          |Cà phê sữa,Coffee C,ca-phe-viet-nam,https://c/p/3,http://c/1.jpg,cup,Cà phê phin,30000,120
          |Hộp quà Tết,Gift D,khác,https://d/p/4,http://d/1.jpg,box,Quà tặng bánh kẹo,150000,15
          |""".stripMargin
      Files.writeString(
        new java.io.File(dir, "demo_products.csv").toPath, csv)
      dir.getAbsolutePath + "/*_products.csv"
    }

    val now = date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")
      .cast("timestamp")
    val (out, results) = Pipeline.endToEnd(spark, glob, seed = 42, now = now)

    println(s"stages: ${results.map(r => s"${r.name}=${r.status}").mkString(", ")}")
    println("== categories =="); out.categories.show(false)
    println("== products ==")
    out.products.select("product_id", "category_id", "product_code",
      "product_name", "product_unit_price").show(false)
    println("== product_images =="); out.images.show(false)
    spark.stop()
  }
}
