package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Source/sink format coverage beyond parquet: ORC, JSON lines, CSV —
  * the formats the reference's load/external-table surface speaks
  * (CSV load `export_svg.py:198`, hive-external `bigquery.py:76`). */
class FormatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val region =
    Tables.load(spark, "/root/testdata/sf0.001", "region")

  private def roundTrip(format: String): Unit = {
    val dir = SparkTestSession.tempDir(s"fmt_$format").toString
    region.write.mode("overwrite").format(format).save(dir)
    val back = spark.read.format(format)
      .option("inferSchema", "true").option("header", "true").load(dir)
    assert(back.count() == region.count(), format)
    assert(back.columns.sorted.toSeq == region.columns.sorted.toSeq, format)
  }

  test("ORC round-trip")(roundTrip("orc"))
  test("JSON-lines round-trip")(roundTrip("json"))

  test("CSV round-trip with header + explicit schema") {
    val dir = SparkTestSession.tempDir("fmt_csv").toString
    region.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema(region.schema)
      .option("header", "true").csv(dir)
    assert(back.orderBy("r_regionkey").collect().toSeq ==
      region.orderBy("r_regionkey").collect().toSeq)
  }

  test("compressed sinks: gzip csv and zstd parquet read back") {
    val dir1 = SparkTestSession.tempDir("fmt_gz").toString
    region.write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(dir1)
    assert(spark.read.schema(region.schema).option("header", "true")
      .csv(dir1).count() == region.count())
    val dir2 = SparkTestSession.tempDir("fmt_zstd").toString
    region.write.mode("overwrite").option("compression", "zstd").parquet(dir2)
    assert(spark.read.parquet(dir2).count() == region.count())
  }
}
