package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{coalesce, expr, lit, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Stage the events fixture as a µs-timestamp parquet dir that a
    * stream can tail (the raw fixture is ns, which the stream reader's
    * fixed schema can't take directly). */
  private lazy val stagedDir: String = {
    val dir = SparkTestSession.tempDir("events_stream").toString
    Tables.load(spark, sfDir, "events").write.mode("overwrite").parquet(dir)
    dir
  }

  test("ST1+ST2+ST4: windowed agg over a parquet stream matches batch") {
    val stream = EventStreams.readStream(spark, stagedDir)
    val q = EventStreams.windowedAgg(stream, "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("win_out").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    // append mode only emits watermark-closed windows; the final
    // window stays open, so compare against batch minus the last hour
    val got = spark.table("win_out")
    val batch = EventStreams.windowedAgg(Tables.load(spark, sfDir, "events"))
    assert(got.count() > 0)
    val gotMap = got.select("ws", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val batchMap = batch.select("ws", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    gotMap.foreach { case (k, n) => assert(batchMap(k) == n, k) }
  }

  test("ST3: streaming session windows agree with batch Sessionize") {
    val stream = EventStreams.readStream(spark, stagedDir)
    val q = EventStreams.sessionAgg(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_out").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("sess_out")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.nonEmpty)
    val batch = graft.operators.Sessionize
      .sessions(Tables.load(spark, sfDir, "events"), "user_id", "ts")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    got.foreach { case (k, n) => assert(batch(k) == n, k) }
  }

  test("ST4: session emission is invariant to micro-batch boundaries") {
    // stage four time-slice files with strictly increasing
    // modification times (FileStreamSource orders by mtime, not path)
    // so the watermark advances monotonically file-to-file and no
    // event is late by construction — then the emitted session set
    // must be IDENTICAL whether the source is consumed as one batch
    // or file-by-file with state carried across micro-batches
    val dir = SparkTestSession.tempDir("events_sorted").toString
    val ev = Tables.load(spark, sfDir, "events")
    val tsl = ev.select($"ts".cast("long").as("t"))
      .stat.approxQuantile("t", Array(0.25, 0.5, 0.75), 0.001).map(_.toLong)
    val bounds = (Long.MinValue +: tsl.toSeq) :+ Long.MaxValue
    // explicit mtimes (slice index, seconds apart) instead of sleeps:
    // deterministic order at zero wall-clock cost
    var slice = 0
    val t0 = System.currentTimeMillis()
    bounds.sliding(2).foreach { case Seq(lo, hi) =>
      val before = new java.io.File(dir).listFiles() match {
        case null => Set.empty[String]
        case fs => fs.map(_.getName).toSet
      }
      ev.where($"ts".cast("long") > lo && $"ts".cast("long") <= hi)
        .coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => assert(f.setLastModified(t0 + slice * 2000L)))
      slice += 1
    }

    def run(name: String, opts: Map[String, String]): Map[(Long, java.sql.Timestamp), Long] = {
      val q = EventStreams.sessionAgg(EventStreams.readStream(spark, dir, options = opts))
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).select("user_id", "session_start", "n_events")
        .as[(Long, java.sql.Timestamp, Long)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    }

    val oneShot = run("sess_one", Map.empty)
    val perFile = run("sess_multi", Map("maxFilesPerTrigger" -> "1"))
    assert(oneShot.nonEmpty)
    assert(perFile == oneShot)
  }

  test("ST4+: stateful session state survives a query restart from checkpoint") {
    // Two SEPARATE query instances share one checkpoint: run 1 sees
    // the early half of the stream and stops; run 2 starts fresh from
    // the checkpoint and sees the late half plus a far-future
    // sentinel (watermark passes every real event → all sessions
    // emit). Sessions that SPAN the restart boundary are the point:
    // they only come out right if run 2 reloads run 1's open-session
    // state from the state store instead of starting empty.
    val dir = SparkTestSession.tempDir("events_restart").toString
    val ev = Tables.load(spark, sfDir, "events")
    val mid = ev.select($"ts".cast("long").as("t"))
      .stat.approxQuantile("t", Array(0.5), 0.001).head.toLong
    val far = ev.agg(max($"ts") + expr("INTERVAL 240 HOURS")).head.getTimestamp(0)
    val t0 = System.currentTimeMillis()
    def stage(df: org.apache.spark.sql.DataFrame, slice: Int): Unit = {
      val before = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      df.coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => assert(f.setLastModified(t0 + slice * 2000L)))
    }
    val ckpt = SparkTestSession.tempDir("restart_ckpt").toString
    val sink = SparkTestSession.tempDir("restart_sink").toString
    def runOnce(): Unit = {
      val q = EventStreams.sessionAgg(EventStreams.readStream(spark, dir,
          options = Map("maxFilesPerTrigger" -> "1")))
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    stage(ev.where($"ts".cast("long") <= mid), 0)
    runOnce() // run 1: early half only, then the query instance is GONE
    stage(ev.where($"ts".cast("long") > mid), 1)
    stage(Seq((-1L, far, -1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props"), 2)
    runOnce() // run 2: fresh instance, same checkpoint — state reload

    val got = spark.read.parquet(sink).where($"user_id" >= 0)
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val batch = graft.operators.Sessionize
      .sessions(ev, "user_id", "ts")
      .select("user_id", "session_start", "n_events")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // sanity that the restart boundary actually cuts sessions: at
    // least one batch session must have events on both sides of mid
    val spanning = ev.groupBy($"user_id")
      .agg(max(expr(s"case when cast(ts as long) <= $mid then 1 else 0 end")).as("a"),
           max(expr(s"case when cast(ts as long) > $mid then 1 else 0 end")).as("b"))
      .where($"a" === 1 && $"b" === 1).count()
    assert(spanning > 0, "fixture never spans the restart boundary — test is vacuous")
    assert(got == batch,
      s"restarted stream sessions diverge from batch: got=${got.size} batch=${batch.size}")
  }

  test("stream-stream join state survives a query restart from checkpoint") {
    // The other stateful-store family (symmetric join state, vs the
    // session-window store above): run 1 consumes the early half of
    // the stream and exits; run 2 restarts from the checkpoint with
    // the late half. A (view ≤ mid, click > mid) pair within the
    // 60-minute window can only be emitted if run 2 reloaded run 1's
    // buffered view rows — and the exactly-once sink must not
    // re-emit run 1's pairs.
    val dir = SparkTestSession.tempDir("events_join_restart").toString
    val ev = Tables.load(spark, sfDir, "events")
    // cut the stream INSIDE the widest actual view→click pair, so at
    // least one pair is guaranteed to straddle the restart (a median
    // cut of the tiny fixture often lands between pairs)
    val widest = {
      val v = ev.where($"event_type" === "view")
        .select($"user_id".as("vu"), $"ts".as("vts"))
      val c = ev.where($"event_type" === "click")
        .select($"user_id".as("cu"), $"ts".as("cts"))
      v.join(c, $"vu" === $"cu" && $"cts" > $"vts" &&
          $"cts" <= $"vts" + expr("INTERVAL 60 MINUTES"))
        .select($"vts".cast("long").as("a"), $"cts".cast("long").as("b"))
        .orderBy(($"b" - $"a").desc).limit(1)
        .as[(Long, Long)].head()
    }
    assert(widest._2 - widest._1 >= 2, "no pair wide enough to cut")
    val mid = (widest._1 + widest._2) / 2
    val t0 = System.currentTimeMillis()
    def stage(df: org.apache.spark.sql.DataFrame, slice: Int): Unit = {
      val before = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).map(_.getName).toSet
      df.coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && !before(f.getName))
        .foreach(f => assert(f.setLastModified(t0 + slice * 2000L)))
    }
    val ckpt = SparkTestSession.tempDir("join_restart_ckpt").toString
    val sink = SparkTestSession.tempDir("join_restart_sink").toString
    def runOnce(): Unit = {
      val q = EventStreams.viewClickJoin(
          EventStreams.readStream(spark, dir,
            options = Map("maxFilesPerTrigger" -> "1")), 60)
        .writeStream.outputMode("append").format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(60000), "stream did not finish; sink is partial")
    }
    stage(ev.where($"ts".cast("long") <= mid), 0)
    runOnce()
    stage(ev.where($"ts".cast("long") > mid), 1)
    runOnce()

    val got = spark.read.parquet(sink)
      .select($"user_id", $"view_id", $"click_id")
      .as[(Long, Long, Long)].collect()
    assert(got.length == got.distinct.length,
      "restart re-emitted pairs — sink is not exactly-once")
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("click_ts"))
    val batchPairs = views.join(clicks,
        $"user_id" === $"cu" && $"click_ts" > $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 60 MINUTES"))
      .select($"user_id", $"view_id", $"click_id", $"view_ts", $"click_ts")
    // the interesting pairs straddle the restart cut
    val spanning = batchPairs
      .where($"view_ts".cast("long") <= mid && $"click_ts".cast("long") > mid)
      .count()
    assert(spanning > 0, "no view-click pair spans the restart cut — test is vacuous")
    val batch = batchPairs.select($"user_id", $"view_id", $"click_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(got.toSet == batch, {
      val missing = batch.diff(got.toSet); val extra = got.toSet.diff(batch)
      s"missing=${missing.take(5)} extra=${extra.take(5)}"
    })
  }

  test("stream-stream LEFT OUTER interval join equals the batch left join") {
    // outer (null) results emit only when a LATER batch advances the
    // watermark past view_ts + gap — under AvailableNow the query
    // stops after the last data batch, so a bounded replay must model
    // "time passes": stage the real events as one file, then a
    // far-future sentinel pair (user −1 view / user −2 click, so
    // both branch watermarks advance and the sentinels join nothing)
    // as a second file with a later mtime; maxFilesPerTrigger=1 makes
    // the sentinel batch evict ALL real view state and flush every
    // null. The result is then the COMPLETE batch left join.
    val dir = SparkTestSession.tempDir("events_lo").toString
    val ev = Tables.load(spark, sfDir, "events")
    ev.coalesce(1).write.mode("append").parquet(dir)
    def parquets = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val before = parquets.map(_.getName).toSet
    val far = ev.agg(max($"ts") + expr("INTERVAL 240 HOURS")).head.getTimestamp(0)
    Seq((-1L, far, -1L, "view", 0.0, "{}"), (-2L, far, -2L, "click", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir)
    // sentinel file strictly newer → deterministic file order, no sleep
    val maxBefore = parquets.filter(f => before(f.getName))
      .map(_.lastModified()).max
    parquets.filterNot(f => before(f.getName))
      .foreach(f => assert(f.setLastModified(maxBefore + 2000L)))
    val q = EventStreams.viewClickJoin(
        EventStreams.readStream(spark, dir,
          options = Map("maxFilesPerTrigger" -> "1")), 60,
        joinType = "left_outer")
      .writeStream.outputMode("append").format("memory")
      .queryName("lo_out").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream did not finish; sink is partial")
    val got = spark.table("lo_out").where($"user_id" >= 0)
      .select($"user_id", $"view_id", coalesce($"click_id", lit(-1L)))
      .as[(Long, Long, Long)].collect().toSet
    val views = ev.where($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("view_ts"))
    val clicks = ev.where($"event_type" === "click")
      .select($"user_id".as("cu"), $"event_id".as("click_id"), $"ts".as("click_ts"))
    val batch = views.join(clicks,
        $"user_id" === $"cu" && $"click_ts" > $"view_ts" &&
          $"click_ts" <= $"view_ts" + expr("INTERVAL 60 MINUTES"), "left")
      .select($"user_id", $"view_id", coalesce($"click_id", lit(-1L)))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.exists(_._3 == -1L), "fixture should contain unmatched views")
    assert(got == batch, {
      val missing = batch.diff(got); val extra = got.diff(batch)
      s"missing=${missing.take(5)} extra=${extra.take(5)}"
    })
  }

  test("stream-stream interval join equals the batch join, any batching") {
    def run(name: String, opts: Map[String, String]): Set[(Long, Long, Long)] = {
      val q = EventStreams.viewClickJoin(
          EventStreams.readStream(spark, stagedDir, options = opts), 60)
        .writeStream.outputMode("append").format("memory")
        .queryName(name).trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      spark.table(name).select("user_id", "view_id", "click_id")
        .as[(Long, Long, Long)].collect().toSet
    }
    val streamed = run("vc_one", Map.empty)
    val perFile = run("vc_multi", Map("maxFilesPerTrigger" -> "1"))
    val ev = Tables.load(spark, sfDir, "events")
    val batch = ev.as("v").join(ev.as("c"),
        $"v.user_id" === $"c.user_id" &&
          $"v.event_type" === "view" && $"c.event_type" === "click" &&
          $"c.ts" > $"v.ts" &&
          $"c.ts" <= $"v.ts" + org.apache.spark.sql.functions.expr("INTERVAL 60 MINUTES"))
      .select($"v.user_id", $"v.event_id", $"c.event_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "gate population must not be vacuous")
    assert(streamed == batch)
    assert(perFile == batch) // inner join emission is batching-invariant
  }

  test("ST5: flatMapGroupsWithState running totals") {
    import EventStreams._
    val events = Tables.load(spark, sfDir, "events").as[Event]
    // batch execution of the stateful operator: one snapshot per key
    val snaps = runningTotals(events).collect().map(s => s.user_id -> s).toMap
    val expect = Tables.load(spark, sfDir, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    expect.foreach { case (uid, n) => assert(snaps(uid).n == n, uid) }
  }

  test("ST5: max(struct(n,total)) selects the FINAL snapshot across micro-batches") {
    // Update-mode runningTotals emits one snapshot per key per batch;
    // the x42 gate reduces them with max(struct(n, total)), which is
    // only correct because n strictly grows per key. Drive the stream
    // file-by-file so intermediate snapshots really exist, then check
    // the reduction equals the batch aggregate.
    import EventStreams._
    import org.apache.spark.sql.functions._
    // the shared staged dir may be a single file (single-row-group
    // fixture): stage a 4-file copy so file-per-batch really yields
    // multiple batches with state carried across them
    val multiDir = SparkTestSession.tempDir("events_multi").toString
    Tables.load(spark, sfDir, "events").repartition(4)
      .write.mode("overwrite").parquet(multiDir)
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(multiDir).as[Event]
    val q = runningTotals(stream).toDF()
      .writeStream.outputMode("update").format("memory")
      .queryName("totals_multi")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream did not finish; sink is partial")
    val sink = spark.table("totals_multi")
    // intermediate snapshots must exist for the test to mean anything
    assert(sink.count() > sink.select("user_id").distinct().count())
    val reduced = sink.groupBy($"user_id")
      .agg(max(struct($"n", $"total")).as("last"))
      .select($"user_id", $"last.n".as("n"))
      .as[(Long, Long)].collect().toMap
    val expect = Tables.load(spark, sfDir, "events")
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(reduced == expect)
  }

  test("ST5: streaming funnel equals the batch funnel under per-file batching") {
    // levels are NOT monotone under out-of-order arrival, so the
    // final verdict is argmax n_seen (strictly growing). Drive the
    // stream 4 files at a time-scrambled layout so state really
    // carries chains across batches, then compare the reduced levels
    // to the batch operator.
    import EventStreams._
    import org.apache.spark.sql.functions._
    val multiDir = SparkTestSession.tempDir("events_funnel").toString
    // repartition scatters each user's events across files — batches
    // see them out of time order, the case the buffer+re-sort exists for
    Tables.load(spark, sfDir, "events").repartition(4)
      .write.mode("overwrite").parquet(multiDir)
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(multiDir).as[Event]
    val steps = Seq("view", "click", "purchase")
    val q = funnelLevels(stream, steps, windowSeconds = Some(7L * 86400))
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("funnel_multi")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(60000), "stream did not finish; sink is partial")
    val sink = spark.table("funnel_multi")
    assert(sink.count() > sink.select("user_id").distinct().count(),
      "no intermediate snapshots — the batching case was not exercised")
    val levels = sink.groupBy($"user_id")
      .agg(max(struct($"n_seen", $"level")).as("last"))
      .select($"user_id", $"last.level".as("level"))
      .as[(Long, Int)].collect().toMap
    val batch = graft.operators.Funnel.funnel(
        Tables.load(spark, sfDir, "events"), steps,
        windowSeconds = Some(7L * 86400))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    val streamCounts = (1 to 3).map(i =>
      (i, steps(i - 1), levels.values.count(_ >= i).toLong))
    assert(streamCounts == batch,
      s"stream $streamCounts must equal batch $batch")
  }

  test("ST5: bounded funnel — watermark evicts, timeout collapses, parity holds") {
    import EventStreams._
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_funnel_b").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00")
    def day(d: Int) = new java.sql.Timestamp(t0.getTime + d * 86400000L)
    // one file per slice, mtimes strictly ascending → one slice per
    // micro-batch, watermark advancing between them (30-min lateness)
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String)]] = Seq(
      Seq((1L, day(0), 1L, "view"), (2L, day(0), 3L, "click")),
      Seq((3L, day(1), 2L, "view"), (4L, day(1), 3L, "purchase")),
      Seq((5L, day(2), 1L, "click")),
      Seq((6L, day(3), 2L, "click")),
      Seq((7L, day(5), 1L, "purchase")),
      // far-future sentinel: advances the watermark past everything,
      // so EventTimeTimeout fires and collapses the quiet users' state
      Seq((8L, day(100), -1L, "view")),
      // post-collapse event: u3's never-started residue (click/
      // purchase never chained — no view) is REAPED at timeout, so
      // this late view must start a fresh, correctly-leveled chain
      Seq((9L, day(101), 3L, "view")))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
    val steps = Seq("view", "click", "purchase")
    val q = funnelLevelsBounded(stream, steps,
        windowSeconds = Some(7L * 86400), lateness = "30 minutes")
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("funnel_bounded")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val sink = spark.table("funnel_bounded")
    // parity: final per-user levels equal the batch operator over the
    // same events (sentinel excluded on both sides), reduced with the
    // operator's own restart-proof verdict selection
    val levels = EventStreams.boundedVerdicts(sink.where($"user_id" >= 0))
      .as[(Long, Int)].collect().toMap
    assert(levels == Map(1L -> 3, 2L -> 2, 3L -> 1), levels.toString)
    val batchEvents = slices.flatten.filter(_._3 >= 0)
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = graft.operators.Funnel.funnel(batchEvents, steps,
        windowSeconds = Some(7L * 86400))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    val streamCounts = (1 to 3).map(i =>
      (i, steps(i - 1), levels.values.count(_ >= i).toLong))
    assert(streamCounts == batch, s"stream $streamCounts vs batch $batch")
    // STATE BOUNDED: the buffer never holds history, only the events
    // the watermark has not yet passed (≤ 1 new + ≤ 1 straggler here)
    val maxBuf = sink.agg(max($"n_buffered")).head.getInt(0)
    assert(maxBuf <= 2, s"buffer grew past the lateness window: $maxBuf")
    // u3's post-collapse snapshot: the never-started residue row was
    // REAPED at timeout (clicks/purchases can never chain without a
    // view), so the late view starts a FRESH chain — n_seen restarts
    // at 1 with the new view buffered; boundedVerdicts still selects
    // this started chain over the earlier level-0 snapshots
    val u3 = sink.where($"user_id" === 3L && $"chain_start" =!= -1L)
      .select($"n_seen", $"level", $"n_buffered")
      .as[(Long, Int, Int)].collect().toSeq
    assert(u3 == Seq((1L, 1, 1)), u3.toString)
    // state ROWS bounded by the key population in every batch
    val stateRows = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.numRowsTotal).filter(_ > 0)
    assert(stateRows.nonEmpty && stateRows.forall(_ <= 4L),
      stateRows.mkString(","))
    // state rows FALL once chains provably close: u1 (complete) and
    // u2 (window passed) are REMOVED when the sentinel-advanced
    // watermark passes their window ends — only u3's restarted chain
    // and the sentinel user's open chain remain
    assert(stateRows.last < stateRows.max,
      s"closed chains were never evicted: ${stateRows.mkString(",")}")
    assert(stateRows.last <= 2L,
      s"expected only the open chains to survive: ${stateRows.mkString(",")}")
  }

  test("ST5: bounded step times equal the batch greedy chain; state rows fall") {
    import EventStreams._
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_steptimes_b").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00")
    def day(d: Int) = new java.sql.Timestamp(t0.getTime + d * 86400000L)
    // same slice discipline as the bounded-funnel test: one file per
    // micro-batch, watermark advancing between them
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String)]] = Seq(
      Seq((1L, day(0), 1L, "view"), (2L, day(0), 3L, "click")),
      Seq((3L, day(1), 2L, "view"), (4L, day(1), 3L, "purchase")),
      Seq((5L, day(2), 1L, "click")),
      Seq((6L, day(3), 2L, "click")),
      Seq((7L, day(5), 1L, "purchase")),
      Seq((8L, day(100), -1L, "view")))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
    val steps = Seq("view", "click", "purchase")
    val q = stepTimesBounded(stream, steps,
        windowSeconds = Some(7L * 86400), lateness = "30 minutes")
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("steptimes_bounded")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val sink = spark.table("steptimes_bounded")
    // parity: final per-user slot times equal the batch operator over
    // the same events (sentinel excluded on both sides)
    val got = EventStreams.stepTimesVerdicts(sink.where($"user_id" >= 0))
      .select($"user_id", $"slots")
      .as[(Long, Seq[Long])].collect().toMap
    val batchEvents = slices.flatten.filter(_._3 >= 0)
      .toDF("event_id", "ts", "user_id", "event_type")
    val want = graft.operators.Funnel.stepTimes(batchEvents, steps,
        windowSeconds = Some(7L * 86400))
      .select($"user_id",
        coalesce($"t1", lit(-1L)), coalesce($"t2", lit(-1L)),
        coalesce($"t3", lit(-1L)))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> Seq(r._2, r._3, r._4)).toMap
    assert(got == want, s"stream $got vs batch $want")
    // buffers stay inside the lateness window, state rows fall once
    // chains provably close (the bounded-funnel contract — shared
    // state machine, re-asserted on this projection)
    val maxBuf = sink.agg(max($"n_buffered")).head.getInt(0)
    assert(maxBuf <= 2, s"buffer grew past the lateness window: $maxBuf")
    val stateRows = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.numRowsTotal).filter(_ > 0)
    assert(stateRows.nonEmpty && stateRows.last < stateRows.max,
      s"closed chains were never evicted: ${stateRows.mkString(",")}")
  }

  test("ST5: bounded funnel restart after eviction — boundedVerdicts stays batch-exact") {
    // The eviction hazard the chain_start field exists for: a user
    // whose chain window closed (row REMOVED) returns with MORE
    // events than the first chain saw. n_seen restarts, the second
    // chain reaches a HIGHER level, and a bare argmax(n_seen) — or
    // argmax(level) — would report it. The batch operator anchors at
    // the FIRST step-0 event, so the correct verdict is chain 1's.
    import EventStreams._
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_funnel_restart").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00")
    def day(d: Double) = new java.sql.Timestamp(t0.getTime + (d * 86400000L).toLong)
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String)]] = Seq(
      Seq((1L, day(0), 1L, "view")),
      Seq((2L, day(1), 1L, "click")),
      // watermark sentinel past day 0+7d: u1's chain-1 window closes
      Seq((3L, day(20), -9L, "view")),
      // second sentinel so u1's timeout actually fires → row removed
      Seq((4L, day(25), -8L, "view")),
      // restart: 5 events (> chain 1's 2), completing a second chain
      Seq((5L, day(26), 1L, "view"), (6L, day(26.5), 1L, "view"),
          (7L, day(27), 1L, "click"), (8L, day(27.5), 1L, "purchase"),
          (9L, day(28), 1L, "view")))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
    val steps = Seq("view", "click", "purchase")
    val q = funnelLevelsBounded(stream, steps,
        windowSeconds = Some(7L * 86400), lateness = "30 minutes")
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("funnel_restart")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val sink = spark.table("funnel_restart").where($"user_id" === 1L)
    // both chains really emitted: chain 2 restarted n_seen below
    // chain 1's max AND reached a higher level — the corrupting shape
    val c1 = sink.where($"chain_start" === day(0).getTime * 1000L)
    val c2 = sink.where($"chain_start" === day(26).getTime * 1000L)
    assert(c1.count() > 0 && c2.count() > 0, "expected two distinct chains")
    assert(c2.agg(max($"level")).head.getInt(0) == 3)
    assert(c2.agg(max($"n_seen")).head.getLong(0) >
      c1.agg(max($"n_seen")).head.getLong(0),
      "fixture must make the restart chain bigger than chain 1")
    // the operator's reduction anchors at chain 1 — batch parity
    val verdict = EventStreams.boundedVerdicts(sink)
      .as[(Long, Int)].collect().toMap
    val batchEvents = slices.flatten.filter(_._3 > 0)
      .toDF("event_id", "ts", "user_id", "event_type")
    val batch = graft.operators.Funnel.funnel(batchEvents, steps,
        windowSeconds = Some(7L * 86400))
      .orderBy("step").as[(Int, String, Long)].collect().toSeq
    assert(verdict == Map(1L -> 2), verdict.toString)
    assert(batch.map(_._3) == Seq(1L, 1L, 0L), batch.toString)
    // and the naive reduction really would be wrong here (the
    // regression this test pins): max n_seen belongs to chain 2
    val naive = sink.groupBy($"user_id")
      .agg(max(struct($"n_seen", $"level")).as("last"))
      .select($"last.level").as[Int].head()
    assert(naive == 3, "fixture no longer exercises the hazard")
  }

  test("ST5: bounded funnel commits keep their checksums; a restart from the checkpoint gives the same verdicts") {
    // Session.local's file: filesystem (ForklessLocalFileSystem) only
    // stops Hadoop's chmod/readlink child processes: the state store's
    // Hadoop .crc sidecars and Spark's checkpoint checksum files must
    // still be written, and a query restarted from the checkpoint
    // must reload the state they protect.
    import EventStreams._
    import org.apache.spark.sql.DataFrame
    val dir = SparkTestSession.tempDir("events_funnel_ckpt").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00")
    def day(d: Int) = new java.sql.Timestamp(t0.getTime + d * 86400000L)
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String)]] = Seq(
      Seq((1L, day(0), 1L, "view"), (2L, day(0), 3L, "click")),
      Seq((3L, day(1), 2L, "view"), (4L, day(1), 3L, "purchase")),
      Seq((5L, day(2), 1L, "click")),
      Seq((6L, day(3), 2L, "click")),
      Seq((7L, day(5), 1L, "purchase")),
      Seq((8L, day(100), -1L, "view")),
      Seq((9L, day(101), 3L, "view")))
    def stage(rows: Seq[(Long, java.sql.Timestamp, Long, String)]): Unit = {
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val steps = Seq("view", "click", "purchase")
    def replay(ckpt: String, sink: String): Unit = {
      val stream = spark.readStream.schema(EventStreams.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
      val q = funnelLevelsBounded(stream, steps,
          windowSeconds = Some(7L * 86400), lateness = "30 minutes")
        .toDF().writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sink)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "stream did not finish")
    }
    def verdicts(sink: String): Map[Long, Int] =
      EventStreams.boundedVerdicts(spark.read.parquet(sink).where($"user_id" >= 0))
        .as[(Long, Int)].collect().toMap
    val ckpt = SparkTestSession.tempDir("funnel_ckpt").toString
    val sink = SparkTestSession.tempDir("funnel_ckpt_sink").resolve("out").toString
    slices.take(4).foreach(stage)
    replay(ckpt, sink) // run 1: four slices, then the query instance is gone
    slices.drop(4).foreach(stage)
    replay(ckpt, sink) // run 2: fresh instance, same checkpoint — state reload
    val onceCkpt = SparkTestSession.tempDir("funnel_once_ckpt").toString
    val onceSink = SparkTestSession.tempDir("funnel_once_sink").resolve("out").toString
    replay(onceCkpt, onceSink)
    assert(verdicts(sink) == Map(1L -> 3, 2L -> 2, 3L -> 1), verdicts(sink).toString)
    assert(verdicts(sink) == verdicts(onceSink))

    val files = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => java.nio.file.Paths.get(ckpt).relativize(p).toString).toSet
      finally walk.close()
    }
    // Hadoop's sidecar of `dir/name` is `dir/.name.crc`; Spark's
    // checkpoint checksum of a state file is `dir/name.crc`
    def sidecar(f: String): String = {
      val (d, n) = f.splitAt(f.lastIndexOf('/') + 1)
      s"$d.$n.crc"
    }
    val deltas = files.filter(f => f.startsWith("state/") && f.endsWith(".delta"))
    val logs = files.filter(_.matches("(offsets|commits)/\\d+"))
    assert(deltas.size >= 9 && logs.size >= 18, files.toSeq.sorted.mkString(", "))
    val missing = (deltas.toSeq.flatMap(d => Seq(sidecar(d), s"$d.crc", sidecar(s"$d.crc"))) ++
      logs.toSeq.map(sidecar)).filterNot(files)
    assert(missing.isEmpty, s"missing checksums: ${missing.sorted.mkString(", ")}")
  }

  /** The restart error of a checkpoint whose first batch ran `seqLayout`
    * (a stand-in keeping the state row in its earlier `Seq` layout) and
    * whose second batch runs `current`, the operator as it is now. */
  private def restartError[Out](name: String)(
      seqLayout: org.apache.spark.sql.Dataset[EventStreams.Event] => org.apache.spark.sql.Dataset[Out],
      current: org.apache.spark.sql.Dataset[EventStreams.Event] => org.apache.spark.sql.Dataset[Out])
      : Option[Throwable] = {
    val dir = SparkTestSession.tempDir(s"events_${name}_layout").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00").getTime
    def stage(id: Long, d: Int): Unit = {
      val before = graft.gates.GateSupport.listParquet(dir)
      Seq((id, new java.sql.Timestamp(t0 + d * 86400000L), 1L, "view"))
        .toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    def stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[EventStreams.Event]
    val ckpt = SparkTestSession.tempDir(s"${name}_layout_ckpt").toString
    def run(out: org.apache.spark.sql.Dataset[Out]) = {
      val q = out.toDF().writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try scala.util.Try(q.awaitTermination(120000)).failed.toOption.orElse(q.exception)
      finally q.stop()
    }
    stage(1L, 0)
    assert(run(seqLayout(stream.withWatermark("ts", "30 minutes"))).isEmpty)
    stage(2L, 1)
    run(current(stream))
  }

  // the bounded machines' state rows moved from Seqs to binary columns;
  // a checkpoint whose state rows hold the earlier layout must stop the
  // restarted query at Spark's state-schema check, not misread rows
  private def assertSchemaRejected(err: Option[Throwable]): Unit =
    assert(err.exists(_.getMessage.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE")),
      err.toString)

  test("ST5: a bounded funnel checkpoint in the Seq state layout fails loudly on restart") {
    import EventStreams._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    assertSchemaRejected(restartError[FunnelSnapshotB]("funnel")(
      _.groupByKey(_.user_id)
        .flatMapGroupsWithState[StreamingSpec.SeqFunnelChain, FunnelSnapshotB](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
          (uid: Long, batch: Iterator[Event], state: GroupState[StreamingSpec.SeqFunnelChain]) =>
            val n = batch.size
            state.update(StreamingSpec.SeqFunnelChain(Seq(-1L, -1L, -1L), n, Vector.empty))
            Iterator(FunnelSnapshotB(uid, n, 0, 0, -1L))
        },
      funnelLevelsBounded(_, Seq("view", "click", "purchase"),
        windowSeconds = Some(7L * 86400), lateness = "30 minutes")))
  }

  test("ST5: a bounded attribution checkpoint in the Seq state layout fails loudly on restart") {
    import EventStreams._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    assertSchemaRejected(restartError[AttribSnapshot]("attrib")(
      _.groupByKey(_.user_id)
        .flatMapGroupsWithState[StreamingSpec.SeqAttribState, AttribSnapshot](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
          (_: Long, batch: Iterator[Event], state: GroupState[StreamingSpec.SeqAttribState]) =>
            val tail = batch.map(e => (e.ts.getTime * 1000L, 0, e.event_type, 0.0, e.event_id))
            state.update(StreamingSpec.SeqAttribState(Long.MinValue, null, tail.toVector, 1L))
            Iterator.empty
        },
      lastTouchBounded(_, Seq("click", "view"), "purchase",
        lookbackSeconds = 7L * 86400, lateness = "30 minutes")))
  }

  test("ST5: a bounded retention checkpoint in the Seq state layout fails loudly on restart") {
    import EventStreams._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    assertSchemaRejected(restartError[RetentionSnapshot]("retention")(
      _.groupByKey(_.user_id)
        .flatMapGroupsWithState[StreamingSpec.SeqRetentionState, RetentionSnapshot](
          OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
          (_: Long, batch: Iterator[Event], state: GroupState[StreamingSpec.SeqRetentionState]) =>
            val first = batch.map(_.ts.getTime * 1000L).min
            state.update(StreamingSpec.SeqRetentionState(first, Vector(19783), 1L))
            Iterator.empty
        },
      retentionBounded(_, horizonWeeks = 52, lateness = "30 minutes")))
  }

  test("ST5: bounded streaming attribution equals the batch as-of; state rows fall") {
    import EventStreams._
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_attrib").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00")
    def day(d: Double) = new java.sql.Timestamp(t0.getTime + (d * 86400000L).toLong)
    // u1: same-ts channel tie (view vs click → MAX = view), purchase
    // in window; u2: touch 8.5 days stale → NULL; sentinels advance
    // the watermark so conversions finalize, touches expire, and
    // state rows are REMOVED
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double)]] = Seq(
      Seq((1L, day(0), 1L, "view", 0.0), (2L, day(0), 1L, "click", 0.0)),
      Seq((3L, day(1), 1L, "purchase", 10.0), (4L, day(0.5), 2L, "click", 0.0)),
      Seq((5L, day(9), 2L, "purchase", 5.0)),
      Seq((6L, day(30), -9L, "view", 0.0)),
      Seq((7L, day(40), -8L, "view", 0.0)))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
    val q = lastTouchBounded(stream, Seq("click", "view"), "purchase",
        lookbackSeconds = 7L * 86400, lateness = "30 minutes")
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("attrib_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val sink = spark.table("attrib_spec")
    // per-conversion verdicts: tie resolved to MAX channel; stale
    // touch → NULL
    val got = EventStreams.attributionVerdicts(sink)
      .where($"user_id" > 0)
      .select($"user_id", $"value", $"channel")
      .as[(Long, Double, String)].collect().toSet
    assert(got == Set((1L, 10.0, "view"), (2L, 5.0, null)), got.toString)
    // batch parity: same rollup as the x92 operator over the same rows
    val batchEvents = slices.flatten.filter(_._3 > 0)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.operators.Attribution.lastTouch(
        batchEvents.where($"event_type" === "purchase")
          .select($"user_id", $"ts", $"value"),
        batchEvents.where($"event_type".isin("click", "view"))
          .select($"user_id", $"ts", $"event_type".as("channel")),
        lookback = "7 days")
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val rollup = EventStreams.attributionVerdicts(sink)
      .where($"user_id" > 0)
      .groupBy($"channel")
      .agg(count(lit(1)).as("n"), sum($"value").as("rev"))
      .collect().map(r => Option(r.getString(0)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rollup == batch, s"stream $rollup vs batch $batch")
    // conversions really finalized (left the buffer)
    assert(sink.where($"is_final").count() >= 2)
    // state ROWS fall: u1/u2 removed once their last touch ages past
    // the lookback — only the sentinel users' rows can remain
    val stateRows = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.numRowsTotal).filter(_ > 0)
    assert(stateRows.nonEmpty && stateRows.last < stateRows.max,
      s"expired touch state never removed: ${stateRows.mkString(",")}")
    assert(stateRows.last <= 2L,
      s"expected only sentinel rows to survive: ${stateRows.mkString(",")}")
  }

  test("ST5: bounded streaming retention equals batch cohorts; state rows fall") {
    import EventStreams._
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_retention").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-04 10:00:00") // a Monday
    def day(d: Double) = new java.sql.Timestamp(t0.getTime + (d * 86400000L).toLong)
    // u1: cohort week0, active weeks {0,1,3}; u2: cohort week1,
    // active {1,2}. The first slice lands before any watermark, so
    // u1's week-0 snapshot is PROVISIONAL; later slices advance the
    // watermark past first-seen (finals flush) and the sentinels
    // advance it past the 4-week horizon (rows REMOVED).
    val slices: Seq[Seq[(Long, java.sql.Timestamp, Long, String, Double)]] = Seq(
      Seq((1L, day(0), 1L, "view", 0.0), (2L, day(0.2), 1L, "click", 0.0)),
      Seq((3L, day(7), 1L, "view", 0.0), (4L, day(8), 2L, "view", 0.0)),
      Seq((5L, day(15), 2L, "click", 0.0), (6L, day(21), 1L, "purchase", 3.0)),
      Seq((7L, day(300), -9L, "view", 0.0)),
      Seq((8L, day(301), -8L, "view", 0.0)))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val stream = spark.readStream.schema(EventStreams.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir).as[Event]
    val q = retentionBounded(stream, horizonWeeks = 4,
        lateness = "30 minutes")
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("retention_spec")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val sink = spark.table("retention_spec")
    // both snapshot kinds exercised
    assert(sink.where(!$"is_final").count() > 0, "no provisional snapshots")
    assert(sink.where($"is_final").count() > 0, "no final snapshots")
    // batch parity on the real users
    val got = EventStreams.retentionVerdicts(sink.where($"user_id" > 0))
      .select($"cohort_week".cast("string"), $"week_no", $"users")
      .as[(String, Int, Long)].collect().toSet
    val batchEvents = slices.flatten.filter(_._3 > 0)
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val batch = graft.operators.Funnel.retention(batchEvents)
      .select($"cohort_week".cast("string"), $"week_no", $"users")
      .as[(String, Int, Long)].collect().toSet
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got == Set(("2024-03-04", 0, 1L), ("2024-03-04", 1, 1L),
      ("2024-03-04", 3, 1L), ("2024-03-11", 0, 1L), ("2024-03-11", 1, 1L)))
    // state ROWS fall: u1/u2 reaped once the watermark cleared their
    // 4-week horizon — only the sentinel users' rows can remain
    val stateRows = q.recentProgress.flatMap(p => Option(p.stateOperators))
      .flatMap(_.toSeq).map(_.numRowsTotal).filter(_ > 0)
    assert(stateRows.nonEmpty && stateRows.last < stateRows.max,
      s"horizon-expired retention state never removed: ${stateRows.mkString(",")}")
    assert(stateRows.last <= 2L,
      s"expected only sentinel rows to survive: ${stateRows.mkString(",")}")
  }

  test("ST2+: streaming per-window HLL blobs — append mode evicts, blobs equal batch") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("events_hll").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:30:00")
    def ts(d: Int, u: Long) = (u, new java.sql.Timestamp(t0.getTime + d * 86400000L))
    // 3 real days with overlapping users, then a far-future sentinel
    // that closes every real window (append emits only closed windows)
    val slices = Seq(
      (1 to 40).map(i => ts(0, i % 7L)),
      (1 to 40).map(i => ts(1, i % 11L)),
      (1 to 40).map(i => ts(2, i % 5L)),
      Seq(ts(100, -1L)))
    slices.foreach { rows =>
      val before = graft.gates.GateSupport.listParquet(dir)
      rows.toDF("user_id", "ts")
        .select(lit(0L).as("event_id"), $"ts", $"user_id",
          lit("view").as("event_type"), lit(1.0).as("value"),
          lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    val q = EventStreams.distinctSketches(
        spark.readStream.schema(EventStreams.schema)
          .option("maxFilesPerTrigger", "1").parquet(dir),
        "ts", "1 day", "user_id", p = 10, watermark = "30 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("hll_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "stream did not finish")
    val got = spark.table("hll_stream")
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]](1)).toMap
    // only the 3 CLOSED windows emitted — the sentinel's stays open
    assert(got.size == 3, s"expected the 3 closed windows, got ${got.keySet}")
    // bit-identical to the batch sketches over the same rows
    val batch = EventStreams.distinctSketches(
        spark.read.parquet(dir).where($"user_id" >= 0),
        "ts", "1 day", "user_id", p = 10)
      .collect().map(r => r.getTimestamp(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(batch.keySet == got.keySet)
    got.foreach { case (w, blob) =>
      assert(java.util.Arrays.equals(blob, batch(w)), s"blob mismatch at $w")
    }
    // and the blobs are REAL sketches: exact small cardinalities
    assert(graft.functions.Hll.estimate(got(new java.sql.Timestamp(
      java.sql.Timestamp.valueOf("2024-03-01 00:00:00").getTime))) == 7L)
  }

  test("ST6: foreachBatch parquet sink") {
    val out = SparkTestSession.tempDir("sink_out").toString
    val ckpt = SparkTestSession.tempDir("sink_ckpt").toString
    val stream = EventStreams.readStream(spark, stagedDir)
    val q = EventStreams.sinkToParquet(
      stream.select($"event_id", $"event_type"), out, ckpt)
    q.processAllAvailable(); q.stop()
    assert(spark.read.parquet(out).count() ==
      Tables.load(spark, sfDir, "events").count())
  }

  test("ST5+: dropDuplicatesWithinWatermark dedups within the delay; state expires after") {
    import org.apache.spark.sql.types._
    val dir = SparkTestSession.tempDir("dedup_stream").toString
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val slices = Seq(
      Seq((1L, ts(0)), (2L, ts(0))), // first occurrences
      Seq((1L, ts(1))),              // dup of key 1 inside the 10-min window -> dropped
      Seq((3L, ts(60))),             // advances the watermark far past key 1's expiry
      Seq((1L, ts(61))))             // key 1 re-arrival after expiry -> re-emitted
    slices.foreach { rows =>
      rows.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(1100) // distinct mtimes -> deterministic file order
    }
    val schema = new StructType().add("user_id", LongType).add("ts", TimestampType)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id")
    val q = stream.writeStream.outputMode("append").format("memory")
      .queryName("dedup_wm").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("dedup_wm")
      .as[(Long, java.sql.Timestamp)].collect().toSeq
    val byKey = got.groupBy(_._1).view.mapValues(_.size).toMap
    assert(byKey(2L) == 1 && byKey(3L) == 1)
    // the API's guarantee is one-sided: duplicates WITHIN the delay
    // are dropped; re-arrivals beyond it may or may not be (state is
    // evicted lazily). Assert exactly the contract:
    assert(got.contains((1L, ts(0))), s"first occurrence must emit: $got")
    assert(!got.contains((1L, ts(1))), s"within-delay dup must drop: $got")
    assert(byKey(1L) <= 2)
  }

  test("streaming near-dup vs corpus equals the identical batch formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sfDir, "documents")
    val corpus = docs.where($"doc_id" < 30)
    val streamHalf = docs.where($"doc_id" >= 30)
    val dir = SparkTestSession.tempDir("docs_stream").toString
    streamHalf.coalesce(2).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = graft.streaming.StreamNearDup.vsCorpus(
      stream, corpus, threshold = 0.5,
      corpusCacheKey = Some("spec-neardup-corpus"))
      .writeStream.outputMode("append").format("memory")
      .queryName("neardup_out").trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("neardup_out")
      .select($"doc_id", $"corpus_id", $"jaccard").distinct()
      .as[(Long, Long, Double)].collect().toSet
    // batch reference: exact-Jaccard LSH pairs over the SAME split —
    // cross pairs only, same shingle/banding parameters
    val want = graft.operators.Dedup.lshExactPairs(docs, threshold = 0.5)
      .where(($"id_a" < 30) =!= ($"id_b" < 30))
      .select(
        when($"id_a" >= 30, $"id_a").otherwise($"id_b").as("doc_id"),
        when($"id_a" < 30, $"id_a").otherwise($"id_b").as("corpus_id"),
        $"jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"stream=${got.size} batch=${want.size}\n" +
      s"onlyStream=${got -- want}\nonlyBatch=${want -- got}")
    assert(got.nonEmpty, "fixture must contain cross near-dups")
  }
}

object StreamingSpec {
  /** The bounded machines' state rows before they moved to binary columns. */
  case class SeqFunnelChain(acc: Seq[Long], nPref: Long, tail: Seq[(Long, Int)])
  case class SeqAttribState(lastTs: Long, lastCh: String,
                            tail: Seq[(Long, Int, String, Double, Long)], seq: Long)
  case class SeqRetentionState(firstUs: Long, pendingWeeks: Seq[Int], seq: Long)
}
