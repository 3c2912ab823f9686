package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.ZOrder
import org.apache.spark.sql.functions._

/** Z-order clustering: hand-computed interleave/bucket values and the
  * locality property the layout exists for — a 2-D box predicate
  * touches few z-clustered files while a single-key-sorted layout
  * reads everything for the other key. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("hand-computed bucket and Morton interleave") {
    val df = Seq((5L, 3L)).toDF("x", "y")
    // bx=0b101, by=0b011 -> bits: x0@0, y0@1, x1@2, y1@3, x2@4, y2@5
    // = 1 + 2 + 0 + 8 + 16 + 0 = 27
    val z = df.select(ZOrder.interleave2(col("x"), col("y"), 3)).head().getLong(0)
    assert(z == 27L)
    // identity bucket over an aligned range
    val b = Seq(0L, 7L, 15L).toDF("c")
      .select(ZOrder.bucket(col("c"), 0L, 15L, 4)).as[Long].collect().toSeq
    assert(b == Seq(0L, 7L, 15L))
    // coarser bucket: 0..15 into 4 buckets
    val b2 = Seq(0L, 7L, 12L, 15L).toDF("c")
      .select(ZOrder.bucket(col("c"), 0L, 15L, 2)).as[Long].collect().toSeq
    assert(b2 == Seq(0L, 1L, 3L, 3L))
    // max value never escapes the top bucket (the LEAST cap)
    val b3 = Seq(999999L).toDF("c")
      .select(ZOrder.bucket(col("c"), 0L, 999999L, 16)).head().getLong(0)
    assert(b3 == 65535L)
  }

  test("N-dim interleave: hand-computed 3-dim case, 2-dim equivalence, bit budget") {
    val df = Seq((1L, 1L, 1L)).toDF("a", "b", "c")
    // bit 0 of each dim -> positions 0,1,2 = 0b111 = 7
    assert(df.select(ZOrder.interleaveN(
      Seq(col("a"), col("b"), col("c")), 1)).head().getLong(0) == 7L)
    // a=0b10, b=0b01, c=0b11 over 2 bits:
    // k=0: a0=0@0, b0=1@1, c0=1@2; k=1: a1=1@3, b1=0@4, c1=1@5
    // = 2 + 4 + 8 + 32 = 46
    val df2 = Seq((2L, 1L, 3L)).toDF("a", "b", "c")
    assert(df2.select(ZOrder.interleaveN(
      Seq(col("a"), col("b"), col("c")), 2)).head().getLong(0) == 46L)
    // interleave2 IS the N=2 case
    val df3 = Seq((5L, 3L)).toDF("x", "y")
    assert(df3.select(ZOrder.interleaveN(Seq(col("x"), col("y")), 3))
      .head().getLong(0) == 27L)
    // 4 dims x 16 bits = 64 > 63: rejected
    intercept[IllegalArgumentException] {
      ZOrder.interleaveN(Seq(col("a"), col("b"), col("c"), col("a")), 16)
    }
  }

  test("locality: a 2-D box touches few z-files; a 1-key sort reads all") {
    val grid = (0 until 32).flatMap(x => (0 until 32).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val zDir = SparkTestSession.tempDir("graft_zorder").toString
    ZOrder.write(grid, "x", "y", zDir, numFiles = 16, bits = 5)

    val box = (r: org.apache.spark.sql.DataFrame) =>
      r.where(col("x") < 8 && col("y") < 8)
        .select(col("_metadata.file_path")).distinct().count()
    val zFiles = box(spark.read.parquet(zDir))
    // the box [0,8)^2 is z in [0,64) — one contiguous 1/16 of the
    // curve; range partitioning puts it in ~1 file (boundary sampling
    // can split it across a couple)
    assert(zFiles <= 3, s"z-ordered box query touched $zFiles files")
    assert(spark.read.parquet(zDir).count() == 1024)

    // same data sorted by x only: a y-box predicate hits EVERY file
    val xDir = SparkTestSession.tempDir("graft_xsort").toString
    grid.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(xDir)
    val xFiles = spark.read.parquet(xDir).where(col("y") < 8)
      .select(col("_metadata.file_path")).distinct().count()
    assert(xFiles == 16, s"x-sorted layout should touch all files, got $xFiles")
    assert(zFiles < xFiles)
  }
}
