package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.sources.Tables

class SketchesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  test("CMS audit is partition-order independent (merge is commutative)") {
    val ev = Tables.load(spark, sfDir, "events")
    val a = Sketches.cmsAudit(ev, "event_type").collect().head
    val b = Sketches.cmsAudit(ev.repartition(7), "event_type").collect().head
    assert(a == b)
    assert(a.getLong(1) == 0L && a.getLong(2) == 0L)
  }

  test("Bloom audit: no false negatives regardless of partitioning") {
    val ev = Tables.load(spark, sfDir, "events")
    val a = Sketches.bloomAudit(ev, "event_type", 10000, 0.03).collect().head
    val b = Sketches.bloomAudit(ev.repartition(5), "event_type", 10000, 0.03)
      .collect().head
    assert(a.getLong(1) == 0L && b.getLong(1) == 0L)
    assert(a.getBoolean(2) && b.getBoolean(2))
  }

  test("quantile sketch: estimates bit-identical under ANY partitioning/order") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // mixed signs, zeros, heavy ties, ten orders of magnitude
    val rnd = new scala.util.Random(41)
    val vals = (0 until 5000).map { i =>
      if (i % 50 == 0) 0.0
      else {
        val m = math.exp(rnd.nextGaussian() * 4)
        if (rnd.nextBoolean()) m else -m
      }
    } ++ Seq.fill(300)(7.25)
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99)
    def est(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, qs).as("e"))
        .head.getSeq[Double](0)
    val base = vals.toDF("v")
    val a = est(base.repartition(1))
    val b = est(base.repartition(13))
    val c = est(base.orderBy($"v".desc).repartition(32, pmod($"v" * 31, lit(7))))
    assert(a == b && b == c, s"$a / $b / $c")
  }

  test("x104 grid invariance: declared estimates equal a qs-only sketch's answers") {
    // quantileSketchAuditBy builds ONE sketch and reads qs ++ a
    // 63-point boundary grid from it; the grid points must only READ
    // more quantiles, never change what the declared qs estimate. A
    // future change that lets the requested quantile list affect
    // sketch construction (e.g. adaptive alpha) would silently move
    // declared estimates — this pins `__est` = qs-only answers.
    import spark.implicits._
    val rnd = new scala.util.Random(271)
    val vals = (0 until 4000).map(_ => math.exp(rnd.nextGaussian() * 3)) ++
      Seq.fill(200)(42.0)
    val qs = Seq(0.5, 0.9, 0.99)
    val gridQs = (1 until 64).map(_.toDouble / 64)
    def est(ask: Seq[Double]): Seq[Double] =
      vals.toDF("v").repartition(7)
        .agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, ask).as("e"))
        .head.getSeq[Double](0)
    assert(est(qs ++ gridQs).take(qs.size) == est(qs))
  }

  test("quantile sketch: every estimate within declared relative error of exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(97)
    val vals = ((0 until 4000).map(_ => math.exp(rnd.nextGaussian() * 3)) ++
      (0 until 1000).map(_ => -math.exp(rnd.nextGaussian() * 2)) ++
      Seq.fill(100)(0.0)).toIndexedSeq
    val qs = Seq(0.05, 0.5, 0.9, 0.99)
    val alpha = 0.02
    val est = vals.toDF("v").repartition(9)
      .agg(graft.functions.QuantileSketch.quantiles($"v", alpha, qs).as("e"))
      .head.getSeq[Double](0)
    val sorted = vals.sorted
    qs.indices.foreach { i =>
      val rank = math.min(vals.size, math.max(1, math.ceil(qs(i) * vals.size).toInt))
      val exact = sorted(rank - 1)
      assert(math.abs(est(i) - exact) <= alpha * math.abs(exact) + 1e-12,
        s"q=${qs(i)} est=${est(i)} exact=$exact")
    }
    // the audit operator agrees with itself end-to-end
    val audit = Sketches.quantileSketchAudit(vals.toDF("v"), "v", alpha, qs)
      .collect().head
    assert(audit.getLong(0) == vals.size && audit.getBoolean(1))
  }

  test("quantile sketch: nulls skipped; empty input is NaN, zero-only exact") {
    import spark.implicits._
    val est = Seq[java.lang.Double](null, 5.0, null, 5.0).toDF("v")
      .agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, Seq(0.5)).as("e"))
      .head.getSeq[Double](0)
    assert(math.abs(est.head - 5.0) <= 0.05 + 1e-12)
    val empty = Seq.empty[Double].toDF("v")
      .agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, Seq(0.5)).as("e"))
      .head.getSeq[Double](0)
    assert(empty.head.isNaN)
    val zeros = Seq(0.0, 0.0, 0.0).toDF("v")
      .agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, Seq(0.1, 0.9)).as("e"))
      .head.getSeq[Double](0)
    assert(zeros == Seq(0.0, 0.0))
  }

  test("quantile sketch: non-finite values skipped on BOTH sketch and audit sides") {
    import spark.implicits._
    // ±Infinity has no log-bucket (bucketOf overflows) and NaN has no
    // order — both must be skipped like nulls, and the audit's exact
    // side must rank over the SAME finite population or high-q ranks
    // drift (NaN sorts last in Spark)
    val finite = (1 to 1000).map(_.toDouble)
    val dirty = finite ++ Seq(Double.PositiveInfinity, Double.NegativeInfinity,
      Double.NaN, Double.NaN)
    val qs = Seq(0.5, 0.99, 1.0)
    val est = dirty.toDF("v").repartition(7)
      .agg(graft.functions.QuantileSketch.quantiles($"v", 0.01, qs).as("e"))
      .head.getSeq[Double](0)
    qs.indices.foreach { i =>
      val exact = finite(math.max(1, math.ceil(qs(i) * finite.size).toInt) - 1)
      assert(math.abs(est(i) - exact) <= 0.01 * exact + 1e-12,
        s"q=${qs(i)} est=${est(i)} exact=$exact")
    }
    val audit = Sketches.quantileSketchAudit(dirty.toDF("v"), "v", 0.01, qs)
      .collect().head
    assert(audit.getLong(0) == finite.size.toLong,
      "audit population must exclude non-finite values")
    assert(audit.getBoolean(1))
  }

  test("grouped quantile audit: per-group ranks, finite population, known exacts") {
    import spark.implicits._
    // two groups with different distributions + dirt: the in-group
    // rank arithmetic must not leak across groups, and non-finite
    // values must be excluded from both sides per group
    val a = (1 to 1000).map(i => ("a", ((i * 37) % 1000 + 1).toDouble))
    val b = (1 to 400).map(i => ("b", ((i * 13) % 400 + 1) * 10.0))
    // a NULL group is a group: equality joins would silently drop it
    // from the audit (the struct-wrapped key keeps it in)
    val nul = (1 to 100).map(i =>
      (null.asInstanceOf[String], ((i * 7) % 100 + 1) * 100.0))
    val dirty = a ++ b ++ nul ++
      Seq(("a", Double.NaN), ("b", Double.PositiveInfinity))
    val got = Sketches.quantileSketchAuditBy(
        dirty.toDF("g", "v"), "v", "g", alpha = 0.01,
        qs = Seq(0.5, 0.99, 1.0))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map("a" -> ((1000L, true)), "b" -> ((400L, true)),
      (null: String) -> ((100L, true))), got.toString)
    // the guarantee is parameter-uniform: a much tighter alpha still
    // holds because sketch and audit share it by construction
    val strict = Sketches.quantileSketchAuditBy(
        a.toDF("g", "v"), "v", "g", alpha = 0.001, qs = Seq(0.5))
    assert(strict.collect().forall(_.getBoolean(2)))
    // and the exact side never sorts data at scale: the counting
    // selection's windows are keyed by (group[, bucket]) and see only
    // histogram rows / one bucket of one group (the x111 shape) —
    // what must never appear is a single-partition collapse or a
    // global range sort (the old rank-based design's shuffle)
    val plan = strict.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "grouped audit collapsed to one partition")
    assert(!plan.contains("Exchange rangepartitioning"),
      "grouped audit must not globally sort the data side")
  }

  test("quantile audit's exact side is distributed: no single-partition window") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the sketch never sorts — the audit's truth computation must not
    // reintroduce the global-window SinglePartition collapse the
    // sketch exists to avoid (it was 19 s of the sf5 run; at 100 TB it
    // does not finish)
    // (i*37 mod 2000)+1 permutes 1..2000 — shuffled but known ranks
    val df = (1 to 2000).map(i => ((i * 37) % 2000 + 1).toDouble).toDF("v")
    val sel = Sketches.exactValuesAtRanks(df, "v", Seq(1L, 1000L, 2000L))
    val plan = sel.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "exact rank-select collapsed to one partition")
    assert(!plan.contains("Window"),
      "exact rank-select must not use a window at all")
    val got = sel.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 1.0, 1000L -> 1000.0, 2000L -> 2000.0), got.toString)
  }

  test("HLL: merged slice sketches bit-equal the direct sketch; partition-invariant") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(20000)
      .select(($"id" % 7).as("slice"), ($"id" % 4831).as("k"))
    def blob(d: org.apache.spark.sql.DataFrame): Array[Byte] =
      d.agg(graft.functions.Hll.sketch($"k").as("s"))
        .head.getAs[Array[Byte]](0)
    val direct = blob(df)
    assert(java.util.Arrays.equals(direct, blob(df.repartition(17))))
    assert(java.util.Arrays.equals(direct,
      blob(df.orderBy($"k".desc).repartition(3))))
    // slice → merge ≡ direct, bit for bit
    val merged = df.groupBy($"slice")
      .agg(graft.functions.Hll.sketch($"k").as("s"))
      .agg(graft.functions.Hll.merge($"s").as("m"))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(direct, merged))
    // per-row cardinality over STORED sketch rows (the native expr)
    val perSlice = df.groupBy($"slice")
      .agg(graft.functions.Hll.sketch($"k").as("s"))
      .select(graft.functions.Hll.cardinality($"s").as("c"))
      .as[Long].collect()
    assert(perSlice.length == 7 && perSlice.forall(c => c > 2000 && c < 3400))
  }

  test("HLL: blobs round-trip through parquet storage; later roll-up still bit-equal") {
    // the actual storable-sketch lifecycle: per-slice sketches WRITTEN
    // to parquet, read back in a fresh scan, merged — must bit-equal
    // the direct sketch and estimate identically
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = spark.range(15000)
      .select(($"id" % 9).as("slice"), ($"id" % 3701).as("k"))
    val dir = SparkTestSession.tempDir("graft_hll_store").toString + "/s"
    df.groupBy($"slice").agg(graft.functions.Hll.sketch($"k").as("s"))
      .write.parquet(dir)
    val merged = spark.read.parquet(dir)
      .agg(graft.functions.Hll.merge($"s").as("m"))
      .head.getAs[Array[Byte]](0)
    val direct = df.agg(graft.functions.Hll.sketch($"k").as("s"))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct))
    // partial roll-up (a date-range slice of the stored sketches)
    // estimates its own union, within tolerance of its exact count
    val part = spark.read.parquet(dir).where($"slice" < 3)
      .agg(graft.functions.Hll.merge($"s").as("m"))
      .head.getAs[Array[Byte]](0)
    val exactPart = df.where($"slice" < 3).select($"k").distinct().count()
    val estPart = graft.functions.Hll.estimate(part)
    assert(math.abs(estPart - exactPart) <= 0.05 * exactPart,
      s"est=$estPart exact=$exactPart")
  }

  test("HLL: estimates within tolerance across cardinality regimes; nulls skipped") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 10k-25k is the classic raw-estimate BIAS BAND at p=12 (just
    // above 2.5·m) that Heule-style estimators patch with lookup
    // tables — the Ertl estimator must hold the tolerance there too
    for (n <- Seq(50L, 3000L, 11000L, 16000L, 24000L, 120000L)) {
      val est = graft.functions.Hll.estimate(
        spark.range(n).agg(graft.functions.Hll.sketch($"id").as("s"))
          .head.getAs[Array[Byte]](0))
      assert(math.abs(est - n) <= 0.05 * n, s"n=$n est=$est")
    }
    // shape validation: wrong-column / truncated blobs fail fast
    intercept[IllegalArgumentException] {
      graft.functions.Hll.estimate(new Array[Byte](100))
    }
    intercept[IllegalArgumentException] {
      val bad = new Array[Byte](4096); bad(0) = 120
      graft.functions.Hll.estimate(bad)
    }
    // a non-binary cardinality() input is rejected at ANALYSIS
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(3).select(graft.functions.Hll.cardinality($"id")).collect()
    }
    // all-NULL input estimates 0
    val z = Seq[Option[Long]](None, None).toDF("k")
      .agg(graft.functions.Hll.sketch($"k").as("s"))
      .head.getAs[Array[Byte]](0)
    assert(graft.functions.Hll.estimate(z) == 0L)
    // mixed-precision merge is rejected, not silently wrong
    intercept[Exception] {
      val a = spark.range(10).agg(graft.functions.Hll.sketch($"id", 10).as("s"))
      val b = spark.range(10).agg(graft.functions.Hll.sketch($"id", 12).as("s"))
      a.unionAll(b).agg(graft.functions.Hll.merge($"s", 12)).head
    }
    // the end-to-end audit agrees with itself
    val audit = Sketches.hllAudit(
      spark.range(9000).select(($"id" % 5).as("d"), ($"id" % 2113).as("u"))
        .toDF("d", "u"),
      "u", org.apache.spark.sql.functions.col("d"))
      .collect().head
    assert(audit.getLong(0) == 2113L && audit.getBoolean(1) && audit.getBoolean(2))
  }

  test("Bloom audit probes ride the key column's type (long keys non-vacuous)") {
    import spark.implicits._
    // string probes against a long-built filter never collide, so the
    // fp check used to be vacuous for numeric keys; typed probes make
    // it real while the anti-join keeps every probe genuinely absent
    val df = (1L to 500L).toDF("k")
    val r = Sketches.bloomAudit(df, "k", 500, 0.03).collect().head
    assert(r.getLong(0) == 500L)
    assert(r.getLong(1) == 0L)
    assert(r.getBoolean(2))
    // int keys: probes must stay within the type's range (an
    // out-of-range cast throws under ANSI mode)
    val di = (1 to 300).toDF("k")
    val ri = Sketches.bloomAudit(di, "k", 300, 0.03).collect().head
    assert(ri.getLong(0) == 300L)
    assert(ri.getLong(1) == 0L)
    assert(ri.getBoolean(2))
  }

  test("audits skip null keys (sketch aggregates never see them)") {
    import spark.implicits._
    val df = Seq(Some("a"), Some("a"), Some("b"), None).toDF("k")
    val cms = Sketches.cmsAudit(df, "k").collect().head
    assert(cms.getLong(0) == 2L) // a, b — null excluded
    assert(cms.getLong(1) == 0L && cms.getLong(2) == 0L)
    val bloom = Sketches.bloomAudit(df, "k", 100, 0.03).collect().head
    assert(bloom.getLong(0) == 2L && bloom.getLong(1) == 0L)
  }
}
