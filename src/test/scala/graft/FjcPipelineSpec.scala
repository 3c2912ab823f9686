package graft

import org.apache.spark.sql.functions.{asc_nulls_first, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dims
import graft.pipeline.{FjcPipeline, Runner}

/** Golden end-to-end test of the medallion pipeline (SURVEY.md §5.2)
  * over the checked-in TSV fixture with planted sentinels, letter
  * junk, `m/d/yyyy` dates, unmapped decode keys, and a NUL byte. */
class FjcPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def fixturePath: String =
    getClass.getResource("/fjc_sample.tsv").getPath

  private lazy val qualityDf =
    FjcPipeline.quality(FjcPipeline.sanitize(
      FjcPipeline.readRaw(spark, fixturePath))).cache()

  test("raw read: 46 string columns, header skipped, 4 rows") {
    val raw = FjcPipeline.readRaw(spark, fixturePath)
    assert(raw.columns.length == 46)
    assert(raw.count() == 4)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
  }

  test("quality: 34 columns; clean row casts/parses correctly") {
    assert(qualityDf.columns.length == 34)
    val clean = qualityDf.where(qualityDf("DOCKET") === 12345L).collect()
    assert(clean.length == 1)
    val r = clean.head
    assert(r.getAs[Long]("CIRCUIT") == 3L)
    assert(r.getAs[String]("DISTRICT") == "01")
    assert(r.getAs[java.sql.Date]("FILEDATE").toString == "2021-02-07")
    assert(r.getAs[Long]("NOS") == 110L)
    assert(r.getAs[Long]("AMTREC") == 5000L)
  }

  test("quality: all-sentinel row is all NULL") {
    // the -8 row: every quality output must be NULL (dates: -8 unparseable)
    val nulls = qualityDf.where(qualityDf("CIRCUIT").isNull &&
      qualityDf("DISTRICT").isNull && qualityDf("FILEDATE").isNull &&
      qualityDf("STATUSCD").isNull && qualityDf("TAPEYEAR").isNull)
    assert(nulls.count() == 1)
  }

  test("quality: letter junk in TRANS* → NULL; AMTREC/JUDGMENT '0' → NULL") {
    val r = qualityDf.where(qualityDf("NOS") === 999L).collect().head
    assert(r.isNullAt(r.fieldIndex("TRANSOFF")))   // 'J'
    assert(r.isNullAt(r.fieldIndex("TRANSDOC")))   // 's' (lowercase)
    assert(r.isNullAt(r.fieldIndex("TRANSORG")))   // 'W'
    assert(r.isNullAt(r.fieldIndex("AMTREC")))     // '0' sentinel
    assert(r.isNullAt(r.fieldIndex("JUDGMENT")))   // '0' sentinel
  }

  test("sanitize: NUL byte replaced by space") {
    val r = qualityDf.where(qualityDf("DISP") === 99L).collect().head
    assert(r.getAs[String]("PLT") == "BAD NAME")
  }

  private lazy val builtDims =
    FjcPipeline.dims.map(_._1).zip(
      Dims.buildDims(FjcPipeline.trusted(qualityDf), FjcPipeline.dims.map(_._2))).toMap

  test("dims: decode + unmatched key → NULL; distinct sorted codes") {
    val disp = builtDims("DimDisp").collect()
    // codes present: 0, 13, 99 (1 appears via base fill on junk rows)
    val byCode = disp.map(r => (r.get(0), r.get(1))).toMap
    assert(byCode(13L) == "settled")
    assert(byCode(0L) == "transfer to another district")
    assert(byCode(99L) == null) // CASE-without-ELSE parity
    // ordered by code
    assert(disp.map(_.getAs[Long](0)).toSeq ==
      disp.map(_.getAs[Long](0)).toSeq.sorted)
  }

  test("dims: one-aggregate build equals the per-dim DISTINCT formulation for all 15") {
    // reference: the per-dim CTAS of `export_svg.py:270-701`, one scan per dim
    // (`SELECT DISTINCT col, CASE ... FROM t WHERE col IS NOT NULL ORDER BY col`)
    val trusted = FjcPipeline.trusted(qualityDf)
    FjcPipeline.dims.foreach { case (name, (codeCol, labelCol, mapping)) =>
      val want = trusted.select(col(codeCol)).where(col(codeCol).isNotNull).distinct()
        .withColumn(labelCol, Dims.decode(col(codeCol), mapping))
        .orderBy(asc_nulls_first(codeCol))
      val got = builtDims(name)
      assert(got.schema == want.schema, name)
      assert(got.columns.toSeq == Seq(codeCol, labelCol), name)
      assert(got.collect().toSeq == want.collect().toSeq, name)
      assert(got.rdd.getNumPartitions == 1, name)
    }
  }

  test("DECIMAL(18,2) half-up cent cast: floor(v*100+0.5)/100 lands on the exact cent") {
    // The q19 gate column now ships as DOUBLE (driver-canonicalization
    // parity); the DECIMAL(18,2) money-cast semantics are pinned HERE:
    // the explicit half-up formula must survive the decimal cast on
    // adversarial inputs, including x.xx499… and halfway cents where a
    // raw double→decimal cast rounds differently per engine.
    import org.apache.spark.sql.functions.{col, expr, floor, lit}
    import org.apache.spark.sql.types.DecimalType
    val vals = Seq(1.005, 2.675, 0.014999999, 12.345, -0.0, 99.994999, 7.0)
    val df = spark.createDataFrame(vals.map(Tuple1(_))).toDF("v")
      .select(col("v"),
        (floor(col("v") * 100 + lit(0.5)) / 100).cast(DecimalType(18, 2)).as("cents"))
    val got = df.collect().map(r => r.getDecimal(1).toPlainString).toSeq
    // reference: BigDecimal of floor(v*100+0.5)/100 at scale 2
    val want = vals.map { v =>
      java.math.BigDecimal.valueOf(math.floor(v * 100 + 0.5) / 100)
        .setScale(2, java.math.RoundingMode.HALF_UP).toPlainString
    }
    assert(got == want)
    assert(df.schema("cents").dataType == DecimalType(18, 2))
  }

  test("runAll writes raw/quality/trusted/15 dims as parquet") {
    val out = SparkTestSession.tempDir("fjc_wh").toString
    FjcPipeline.runAll(spark, fixturePath, out)
    assert(spark.read.parquet(s"$out/quality").count() == 4)
    assert(spark.read.parquet(s"$out/trusted").columns.length == 34)
    assert(new java.io.File(s"$out/dims").list().length == 15)
    assert(spark.read.parquet(s"$out/dims/DimCircuit").count() > 0)
    FjcPipeline.dims.foreach { case (name, _) =>
      val files = new java.io.File(s"$out/dims/$name").list().filter(_.endsWith(".parquet"))
      assert(files.length == 1, name)
    }
  }

  test("runAll: a failed dim write alerts with its step name and aborts the rest") {
    FaultInjectingFileSystem.register(spark)
    val out = "faulty://" + SparkTestSession.tempDir("fjc_wh_fail").toString
    var alerted = Seq.empty[String]
    FaultInjectingFileSystem.failRenameWhen = (_, dst) => dst.toString.contains("/dims/DimNos/")
    try {
      val e = intercept[Runner.StepFailed] {
        FjcPipeline.runAll(spark, fixturePath, out, onFailure = (name, _) => alerted :+= name)
      }
      assert(e.step == "dim_DimNos")
    } finally FaultInjectingFileSystem.reset()
    assert(alerted == Seq("dim_DimNos"))
    // dims before DimNos were written, none after it
    val written = new java.io.File(out.stripPrefix("faulty://") + "/dims").list().toSet
    assert(Set("DimCircuit", "DimJuris").subsetOf(written))
    assert(!written.contains("DimResidenc") && !written.contains("DimStatuscd"))
  }
}
