package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

import graft.catalog.{Catalog, KeyValue}
import graft.operators.Multimodal
import graft.pipeline.{Messages, Runner}
import graft.sources.Tables
import graft.streaming.EventStreams

/** End-to-end demo of the non-query library surface: catalog DDL +
  * writers, KV upsert, EP2 message round-trip, streaming (windowed,
  * session, stateful, sink), multimodal plumbing. Prints one summary
  * line per capability. Usage: runMain graft.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft_demo").toString
    val spark = Session.local("graft-demo",
      warehouseDir = Some(s"$tmp/warehouse"))
    import spark.implicits._

    // catalog: db + overwrite + partitioned write + tag + view
    Catalog.ensureDatabase(spark, "demo")
    Catalog.overwriteTable(Tables.load(spark, sfDir, "region"), "demo.region")
    Catalog.writePartitioned(
      Tables.load(spark, sfDir, "orders")
        .withColumn("day", to_date(col("o_orderdate"))),
      "demo.orders_by_day", Some("day"))
    Catalog.tagTable(spark, "demo.region", "zone", "trusted")
    Catalog.ensureView(spark, "demo.region_names",
      "SELECT r_name FROM demo.region")
    println(s"[demo] catalog: region=${spark.table("demo.region").count()} " +
      s"partitions=${spark.table("demo.orders_by_day").select("day").distinct().count()} " +
      s"tag=${Catalog.getTag(spark, "demo.region", "zone").orNull} " +
      s"view=${spark.table("demo.region_names").count()}")

    // partition pruning check on the partitioned table
    val pruned = spark.table("demo.orders_by_day")
      .where(col("day") === "1995-01-15")
    println(s"[demo] pruned scan rows=${pruned.count()} " +
      s"(plan prunes: ${pruned.queryExecution.executedPlan.toString.contains("day")})")

    // KV store
    val kv0 = Seq((1L, "a"), (2L, "b")).toDF("key", "val")
    KeyValue.save(KeyValue.upsert(kv0, Seq((2L, "B")).toDF("key", "val"), "key"),
      s"$tmp/kv")
    println(s"[demo] kv: ${KeyValue.load(spark, s"$tmp/kv")
      .orderBy("key").as[(Long, String)].collect().mkString(",")}")

    // EP2 messages
    val reqs = Seq(Messages.TransferRequest("ftps://h/in", "gs://b/out",
      remove_file = true, "2024-01-01")).toDS()
    Messages.publish(reqs, s"$tmp/topic")
    println(s"[demo] messages: ${Messages.subscribe(spark, s"$tmp/topic").count()} round-tripped")

    // streaming: stage events then run session agg stream to memory
    val staged = s"$tmp/events"
    Tables.load(spark, sfDir, "events").write.parquet(staged)
    val q = EventStreams.sessionAgg(EventStreams.readStream(spark, staged))
      .writeStream.outputMode("append").format("memory").queryName("demo_sess")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    println(s"[demo] streaming sessions closed=${spark.table("demo_sess").count()}")

    // stateful
    val snaps = EventStreams.runningTotals(
      Tables.load(spark, sfDir, "events").as[EventStreams.Event]).count()
    println(s"[demo] stateful user snapshots=$snaps")

    // multimodal
    val assets = Multimodal.syntheticAssets(spark, 30)
    val frames = Multimodal.sampleFrames(Multimodal.decodeFeatures(assets), 8)
    println(s"[demo] multimodal assets=30 sampled_frames=${frames.count()}")

    // Engine facade: client-parity surface in one object
    val engine = new Engine(spark, kvRoot = s"$tmp/engine_kv")
    engine.ensureDataset("engdemo")
    engine.sql("SELECT 1 AS one").createOrReplaceTempView("one_v")
    engine.uploadString("blob-contents", s"$tmp/blob.txt")
    engine.kvUpsert("cfg", Seq((1L, "on")).toDF("key", "flag"), "key")
    engine.tagFromTemplate("demo.region", Seq("classification" -> Seq("public")))
    println(s"[demo] engine: blob='${engine.downloadString(s"$tmp/blob.txt")}' " +
      s"kv=${engine.kvQuery("cfg").count()} " +
      s"tag=${engine.getTag("demo.region", "classification").orNull} " +
      s"pages=${engine.pages(engine.sql("SELECT * FROM demo.region"), 2).size}")

    // SQL-registered native expressions
    graft.expressions.Registry.register(spark)
    Tables.load(spark, sfDir, "documents").createOrReplaceTempView("documents")
    val sqlNative = engine.sql(
      """SELECT COUNT(DISTINCT graft_simhash64(graft_tokens(text))) AS n_sigs
         FROM documents""").as[Long].head()
    println(s"[demo] sql-native: distinct simhash sigs=$sqlNative")

    // runner with failure callback
    var alerted = ""
    try Runner.run(Seq(Runner.Step("ok", () => ())),
      onFailure = (n, _) => alerted = n)
    catch { case _: Throwable => () }
    println(s"[demo] runner: ok (alerts='$alerted')")

    spark.stop()
  }
}
