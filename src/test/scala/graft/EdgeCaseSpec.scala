package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}

/** Degenerate-input behavior: empty frames, empty strings, k beyond
  * corpus, single-row groups — the inputs a 100 TB pipeline will
  * definitely contain somewhere. */
class EdgeCaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("text functions on empty and whitespace-only strings") {
    val r = Seq("", "   ", "\t\n").toDF("t")
      .select(
        Text.tokenCount($"t").as("n"),
        Text.fingerprint($"t").as("fp"),
        Text.simhash64($"t").as("sh"),
        Text.langId($"t").as("lang"),
        Text.qualityScore($"t").as("q"))
      .collect()
    r.foreach { row =>
      assert(row.getLong(0) == 0L)
      assert(row.getLong(1) == 0L) // empty chain = seed state
      assert(row.getString(3) == "und")
      assert(row.getDouble(4) >= 0.0 && row.getDouble(4) <= 1.0)
    }
  }

  test("charShingles on strings shorter than n → empty, jaccard 0") {
    val r = Seq(("ab", "abcdef")).toDF("a", "b")
      .select(Text.jaccard(
        Text.charShingles($"a", 5), Text.charShingles($"b", 5)).as("j"))
      .as[Double].head()
    assert(r == 0.0)
  }

  test("dedup operators on empty input return empty, not error") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.exact(empty, "text", "doc_id").count() == 0)
    assert(Dedup.byFingerprint(empty, "text", "doc_id").count() == 0)
    assert(Dedup.minhashLsh(empty, 0.5).count() == 0)
    assert(Dedup.simhashPairs(empty, 3).count() == 0)
  }

  test("knnBrute with k larger than corpus returns all neighbors ranked") {
    val vecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val r = Sim.knnBrute(vecs.where($"vec_id" === 0), vecs, k = 10)
    assert(r.count() == 2) // corpus minus self
    assert(r.select(max($"rnk")).as[Long].head() == 2L)
  }

  test("asOf with empty right side keeps all left rows with NULLs") {
    val left = Seq((1L, 10L, Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq.empty[(Long, Timestamp, Long)]
      .toDF("o_custkey", "o_orderdate", "o_orderkey")
    val r = AsOfJoin.asOf(left, right, "user_id", "o_custkey", "ts",
      "o_orderdate", Seq("o_orderkey"))
    assert(r.count() == 1)
    assert(r.select("o_orderkey").head().isNullAt(0))
  }

  test("sessionize: single event per user forms one session") {
    val df = Seq((7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.5))
      .toDF("user_id", "ts", "value")
    val r = Sessionize.sessions(df, "user_id", "ts")
      .select("n_events", "v").as[(Long, Double)].head()
    assert(r == ((1L, 1.5)))
  }

  test("decode rejects empty mapping; srp rejects planes > 63") {
    intercept[IllegalArgumentException] {
      graft.ops.Dims.decode(col("x"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.expressions.NativeSignatures.SrpSigExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(lit(1)), 64)
    }
  }

  test("KV upsert onto a fresh (nonexistent) kind bootstraps it") {
    val eng = new Engine(spark,
      kvRoot = SparkTestSession.tempDir("edge_kv").toString)
    eng.kvUpsert("fresh_kind", Seq((1L, "v")).toDF("key", "value"), "key")
    assert(eng.kvQuery("fresh_kind").count() == 1)
  }

  test("KV upsert bootstraps even when the kvRoot itself does not exist yet") {
    // missing PARENT dirs throw a different error class than missing
    // leaf paths in Spark's path resolution — the engine must probe,
    // not catch (this was caught by running Demo, not the specs)
    val eng = new Engine(spark, kvRoot =
      SparkTestSession.tempDir("edge_kv_root").toString + "/nested/kv")
    eng.kvUpsert("cfg", Seq((1L, "on")).toDF("key", "flag"), "key")
    assert(eng.kvQuery("cfg").count() == 1)
    eng.kvDelete("never_created", Seq(1L).toDF("key"), "key") // no-op, no error
  }

  test("round-3 native expressions are null-safe and handle degenerate inputs") {
    import graft.expressions.{NativeSignatures, NativeText}
    val row = Seq((Option.empty[String], Option.empty[Seq[Long]], Seq(1L, 2L)))
      .toDF("t", "sig_null", "sig")
      .select(
        NativeText.dupLineFrac($"t").as("dlf"),
        NativeText.chunksWithCounts($"t", 80, 60).as("cwc"),
        NativeSignatures.sigAgree($"sig_null", $"sig").as("agree"))
      .head()
    assert(row.isNullAt(0) && row.isNullAt(1) && row.isNullAt(2))
    // degenerate non-null shapes: sigAgree over empty arrays
    val vals2 = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("sig_a", "sig_b")
      .select(NativeSignatures.sigAgree($"sig_a", $"sig_b").as("zero")).head()
    assert(vals2.getLong(0) == 0L)
    val r2 = Seq(("", "\n\n  \n")).toDF("empty", "blanks")
      .select(
        NativeText.dupLineFrac($"empty").as("e"),
        NativeText.dupLineFrac($"blanks").as("b"),
        org.apache.spark.sql.functions.size(
          NativeText.chunksWithCounts($"empty", 80, 60)).as("n")).head()
    assert(r2.getDouble(0) == 0.0) // no lines -> 0
    assert(r2.getDouble(1) == 0.0) // whitespace-only lines -> 0
    assert(r2.getInt(2) == 0)      // empty doc -> no chunks
  }
}
