package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{KafkaLog, Messages}

class KafkaLogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshTopic(partitions: Int = 3): String = {
    val root = SparkTestSession.tempDir("kafka_log").toString
    KafkaLog.createTopic(root, "t", partitions)
    root
  }

  test("offsets are dense per partition and chain across produce calls") {
    val root = freshTopic()
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (s"k${i % 7}", s"v$i")).toDF("key", "value")
    KafkaLog.produce(batch(0, 40), root, "t", col("key"), col("value"))
    KafkaLog.produce(batch(40, 100), root, "t", col("key"), col("value"))
    val recs = KafkaLog.readEarliest(spark, root, "t")
    assert(recs.count() == 100)
    // no duplicate (partition, offset); per partition: 0..n-1 dense
    val perPart = recs.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"),
        max("offset").as("hi"), countDistinct("offset").as("d"))
      .collect()
    perPart.foreach { r =>
      val (n, lo, hi, d) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(lo == 0L && d == n && hi == n - 1, s"offsets not dense: $r")
    }
    // a key maps to exactly one partition (same-key ordering holds)
    val spread = recs.groupBy("key")
      .agg(countDistinct("partition").as("p")).where($"p" > 1).count()
    assert(spread == 0)
    // keys actually spread over more than one partition
    assert(recs.select("partition").distinct().count() > 1)
  }

  test("group poll redelivers until commit, then only new records") {
    val root = freshTopic()
    KafkaLog.produce(Seq(("a", "1"), ("b", "2"), ("c", "3")).toDF("key", "value"),
      root, "t", col("key"), col("value"))
    val g = "workers"
    // un-acked → redelivered on every poll
    assert(KafkaLog.poll(spark, root, "t", g).count() == 3)
    assert(KafkaLog.poll(spark, root, "t", g).count() == 3)
    val polled = KafkaLog.poll(spark, root, "t", g)
    KafkaLog.commitPolled(root, "t", g, polled)
    assert(KafkaLog.poll(spark, root, "t", g).count() == 0)
    // new batch after commit → only the new records
    KafkaLog.produce(Seq(("a", "4"), ("z", "5")).toDF("key", "value"),
      root, "t", col("key"), col("value"))
    val next = KafkaLog.poll(spark, root, "t", g)
    assert(next.count() == 2)
    assert(next.select("value").as[String].collect().toSet == Set("4", "5"))
    // a second group is independent: sees the full log
    assert(KafkaLog.poll(spark, root, "t", "other").count() == 5)
    // commits are monotonic: re-committing an old poll can't rewind
    KafkaLog.commit(root, "t", g, Map(0 -> 0L, 1 -> 0L, 2 -> 0L))
    assert(KafkaLog.poll(spark, root, "t", g).count() == 2)
  }

  test("concurrent producers never collide on offsets") {
    val root = freshTopic(partitions = 2)
    val dfs = (0 until 4).map { b =>
      (0 until 25).map(i => (s"k${i % 5}", s"b$b-$i")).toDF("key", "value")
    }
    // four producers racing for the same partitions
    val threads = dfs.map { d =>
      new Thread(() => KafkaLog.produce(d, root, "t", col("key"), col("value")))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val recs = KafkaLog.readEarliest(spark, root, "t")
    assert(recs.count() == 100)
    val dup = recs.groupBy("partition", "offset").count().where($"count" > 1).count()
    assert(dup == 0, "offset collision under concurrent produce")
    val dense = recs.groupBy("partition")
      .agg(count(lit(1)).as("n"), max("offset").as("hi")).collect()
    dense.foreach(r => assert(r.getLong(2) == r.getLong(1) - 1))
  }

  test("produce enforces the control-plane row bound per partition") {
    val root = freshTopic(partitions = 1)
    val big = (0 until 50).map(i => ("same-key", s"v$i")).toDF("key", "value")
    val e = intercept[Exception] {
      KafkaLog.produce(big, root, "t", col("key"), col("value"),
        maxRowsPerPartition = 10)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("control-plane")),
      s"guard did not trip: ${chain(e)}")
    // nothing half-written: the failed produce left no segment behind
    assert(KafkaLog.readEarliest(spark, root, "t").count() == 0)
  }

  test("TransferRequest round-trips through the partitioned bus") {
    val root = freshTopic(partitions = 4)
    val reqs = (1 to 30).map { i =>
      Messages.TransferRequest(
        s"sftp://legacy/f$i.csv", s"blob://lake/f$i.csv",
        i % 3 == 0, s"2024-05-${10 + i % 3}")
    }.toDS()
    Messages.producePartitioned(reqs, root, "t")
    val got = Messages.consumePartitioned(spark, root, "t", "g")
    assert(got.count() == 30)
    // decoded contract survives byte-for-byte
    val back = got.select("source_connection_string",
        "destination_connection_string", "remove_file", "event_date")
      .as[Messages.TransferRequest].collect().toSet
    assert(back == reqs.collect().toSet)
    // keyed by event_date: each day lives on exactly one partition
    val perDay = got.groupBy("event_date")
      .agg(countDistinct("partition").as("p")).where($"p" > 1).count()
    assert(perDay == 0)
    KafkaLog.commitPolled(root, "t", "g", got)
    assert(Messages.consumePartitioned(spark, root, "t", "g").count() == 0)
  }

  test("topic is a Structured Streaming source (exactly-once file tracking)") {
    val root = freshTopic(partitions = 2)
    KafkaLog.produce(Seq(("a", "1"), ("b", "2")).toDF("key", "value"),
      root, "t", col("key"), col("value"))
    val ckpt = SparkTestSession.tempDir("kafka_ckpt").toString
    val outDir = SparkTestSession.tempDir("kafka_sink").toString
    def runOnce(): Unit = {
      val q = KafkaLog.readStream(spark, root, "t")
        .writeStream.outputMode("append").format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(outDir).count() == 2)
    // second batch lands as NEW segment files; the restarted stream
    // (same checkpoint) must append only those — exactly once overall
    KafkaLog.produce(Seq(("c", "3"), ("d", "4"), ("e", "5")).toDF("key", "value"),
      root, "t", col("key"), col("value"))
    runOnce()
    val all = spark.read.parquet(outDir)
    assert(all.count() == 5)
    assert(all.select("value").as[String].collect().toSet ==
      Set("1", "2", "3", "4", "5"))
  }
}
