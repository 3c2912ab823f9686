package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-internal persists (Ranks, Intervals, Outliers,
  * Expectations fused frames) pin frames that back the RETURNED lazy
  * plan, so the operator cannot unpersist them itself — the
  * documented lifecycle contract is that long-lived sessions release
  * them via `spark.sqlContext.clearCache()` between measurements.
  * This spec pins BOTH halves of that
  * contract (round-14 verdict task 6):
  *  1. the operators' pins are registered with the SQL CacheManager
  *     (clearCache can see them — a raw rdd.persist would leak past
  *     it), and
  *  2. clearCache actually returns the session to zero persistent
  *     RDDs — no net cached-RDD growth across a run-then-clear
  *     cycle.
  */
class CacheLifecycleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("run-then-clearCache cycle leaves zero persistent RDDs") {
    val sc = spark.sparkContext
    spark.sqlContext.clearCache()
    assert(sc.getPersistentRDDs.isEmpty,
      s"dirty session before the cycle: ${sc.getPersistentRDDs.keys}")

    // every operator family that pins an internal frame, consumed the
    // way a long-lived session consumes it (full action through a
    // sink/collect)
    val df = (1 to 5000).map(i => (i.toLong % 97, i.toLong, i * 0.5))
      .toDF("k", "seq", "v")
    graft.operators.Ranks.globalRowNumber(df, Seq(col("v"), col("seq")))
      .write.format("noop").mode("overwrite").save()
    graft.operators.Intervals.mergeIslands(
      df.select(col("k"), col("seq").as("s"), (col("seq") + 2).as("e")),
      "k", "s", "e", Seq("seq"))
      .write.format("noop").mode("overwrite").save()
    graft.operators.Outliers.madOutliers(df, "k", "v")
      .write.format("noop").mode("overwrite").save()
    import graft.operators.Expectations._
    graft.operators.Expectations.audit(df,
      rowRules = Seq(NotNull("k")),
      uniqueKeys = Seq(Seq("k", "seq"), Seq("k")),
      refs = Seq(("k", df.select((col("k") % 97).as("rk")).distinct(), "rk")))
      .write.format("noop").mode("overwrite").save()

    assert(sc.getPersistentRDDs.nonEmpty,
      "expected the operators to have pinned internal frames " +
        "(did a persist move off the CacheManager path?)")
    spark.sqlContext.clearCache()
    assert(sc.getPersistentRDDs.isEmpty,
      s"clearCache left pinned RDDs behind: ${sc.getPersistentRDDs.keys}")
  }
}
