package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** Tables.load must absorb every physical shape `ts` has shipped in
  * across fixture generations (LONG of nanoseconds, TIMESTAMP_NTZ
  * micros — the current fixtures — and adjusted-to-UTC micros) and
  * hand every consumer session-zone TimestampType with identical
  * instants. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z

  private def loadStaged(write: String => Unit): (DataType, Long) = {
    val dir = SparkTestSession.tempDir("tables_ts").toString
    write(s"$dir/events.parquet")
    val df = Tables.load(spark, dir, "events")
    val dt = df.schema("ts").dataType
    val v = df.select(unix_micros(col("ts"))).as[Long].head()
    (dt, v)
  }

  test("ts as LONG nanoseconds → TimestampType, ns floored to µs") {
    val (dt, v) = loadStaged { path =>
      Seq(micros * 1000L + 789L).toDF("ts").write.parquet(path)
    }
    assert(dt == TimestampType && v == micros)
  }

  test("ts as TIMESTAMP_NTZ micros (current fixtures) → TimestampType in session zone") {
    val (dt, v) = loadStaged { path =>
      Seq(micros).toDF("us")
        .select(timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"))
        .write.parquet(path)
    }
    // session zone is UTC, so the naive wall clock IS the instant
    assert(dt == TimestampType && v == micros)
  }

  test("ts as adjusted-to-UTC micros → passes through unchanged") {
    val (dt, v) = loadStaged { path =>
      Seq(micros).toDF("us")
        .select(timestamp_micros(col("us")).as("ts"))
        .write.parquet(path)
    }
    assert(dt == TimestampType && v == micros)
  }

  test("tables without a ts column load untouched") {
    val dir = SparkTestSession.tempDir("tables_notts").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/region.parquet")
    val df = Tables.load(spark, dir, "region")
    assert(df.schema.map(_.name) == Seq("id", "name"))
    assert(df.count() == 1)
  }

  test("plan cache reuses per session and does not pin dropped sessions") {
    val dir = SparkTestSession.tempDir("tables_cache").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(s"$dir/region.parquet")

    // same session + table → the SAME resolved plan instance
    val a = Tables.load(spark, dir, "region")
    assert(Tables.load(spark, dir, "region") eq a)

    // a cloned session gets its own entry...
    // (helper scope so no stack-frame local keeps the clone alive)
    def makeClone(): java.lang.ref.WeakReference[org.apache.spark.sql.SparkSession] = {
      val clone = spark.newSession()
      val df = Tables.load(clone, dir, "region")
      assert(Tables.load(clone, dir, "region") eq df)
      assert(!(df eq a))
      new java.lang.ref.WeakReference(clone)
    }
    val ref = makeClone()

    // ...and once the caller drops the clone, the cache must not pin
    // it: the per-session plan map lives inside the session's own
    // object island (via listenerManager), the global map is weak
    var tries = 0
    while (ref.get != null && tries < 80) {
      System.gc(); System.runFinalization(); Thread.sleep(25); tries += 1
    }
    assert(ref.get == null,
      "dropped session still strongly reachable through Tables.load cache")

    // the long-lived session's cache survived the GC storm
    assert(Tables.load(spark, dir, "region") eq a)
  }
}
