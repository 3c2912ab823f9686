package graft.bench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.{Funnel, Sessionize}
import graft.streaming.EventStreams

/** `event_stream`: a closed-loop replay of the seeded, time-ordered
  * event files — one file per micro-batch (`maxFilesPerTrigger=1`), so
  * every data batch is one fixed-size request — through
  * `EventStreams.funnelLevelsBounded`, then `EventStreams.sessionAgg`.
  * A trailing far-future sentinel file (user -1) advances the session
  * watermark past every real session. Each replay starts from a fresh
  * checkpoint directory; its results must equal the batch
  * `Funnel.funnel` / `Sessionize.sessions` over the same events
  * (compared in [[settle]], after the timed replays).
  * Requests are the data micro-batches, timed by their progress reports.
  */
final class EventStream(spark: SparkSession, input: String, work: String) extends Workload {
  import spark.implicits._

  private val dir = s"$input/events"
  private val steps = Seq("view", "click", "purchase")
  private val window = Some(3600L)
  private lazy val expectedKv = Main.readKv(s"$input/expected.tsv")
  private lazy val perFile = expectedKv("rows_per_file").toLong
  /** Per replay: funnel step rows, session digest and session count. */
  private val results = scala.collection.mutable.Map.empty[Int, (Seq[String], String, Int)]

  private def rows(rs: Array[Row]): Seq[String] = rs.map(_.mkString("|")).toSeq.sorted

  private def sessionRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    rows(df.where(col("user_id") >= 0)
      .select(col("user_id"), col("session_start"), col("n_events"), round(col("v"), 2))
      .collect())

  private def digest(rs: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rs.mkString("\n").getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def prepare(): Map[String, Any] = Map(
    "input_rows" -> expectedKv("events").toLong,
    "input_bytes" -> new File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum,
    "files" -> expectedKv("files").toLong,
    "rows_per_file" -> perFile)

  /** The batch operators' result on the same events, computed after the
    * timed replays (so the cold replay really is the first work in the
    * JVM) and kept next to the input for later runs on the same seed. */
  private def batchExpected(): (Seq[String], String, Int) = {
    val cache = new File(s"$input/batch_expected.txt")
    if (!cache.exists) {
      val events = spark.read.schema(EventStreams.schema).parquet(dir).where(col("user_id") >= 0)
      val funnel = rows(Funnel.funnel(events, steps, window).collect())
      val sessions = sessionRows(Sessionize.sessions(events, "user_id", "ts"))
      val tmp = new File(cache.getPath + ".tmp")
      Main.write(tmp.getPath, Seq(funnel.mkString(";"), digest(sessions), sessions.size).mkString("\n"))
      tmp.renameTo(cache)
    }
    val Seq(f, d, n) = scala.io.Source.fromFile(cache, "UTF-8").getLines().take(3).toSeq
    (f.split(';').toSeq, d, n.toInt)
  }

  override def settle(iters: Seq[Iter]): Seq[Iter] = {
    val (fExp, sExp, nExp) = batchExpected()
    iters.map { it =>
      results.get(it.i) match {
        case Some((f, s, n)) if f != fExp || s != sExp =>
          it.copy(ok = false, failed = it.attempted, note = (it.note +
            s"; stream != batch: funnel ${f.mkString(",")} vs ${fExp.mkString(",")}, " +
            s"sessions $n rows vs $nExp").take(500))
        case _ => it
      }
    }
  }

  private def stream = spark.readStream.schema(EventStreams.schema)
    .option("maxFilesPerTrigger", "1").parquet(dir)

  private def finish(q: StreamingQuery): Seq[StreamingQueryProgress] =
    try {
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.toSeq
    } finally q.stop()

  def iteration(i: Int, ctx: Ctx): Iter = {
    val base = new File(s"$work/stream/it$i").getAbsolutePath
    val (fName, sName) = (s"perfbench_funnel_$i", s"perfbench_sessions_$i")
    try {
      val t0 = System.nanoTime()
      val (fp, sp) = ctx.span("streaming", "replay") {
        val fp = finish(EventStreams.funnelLevelsBounded(stream.as[EventStreams.Event], steps,
            window, lateness = "30 minutes").toDF()
          .writeStream.outputMode("update").format("memory").queryName(fName)
          .option("checkpointLocation", s"$base/funnel").trigger(Trigger.AvailableNow()).start())
        val sp = finish(EventStreams.sessionAgg(stream)
          .writeStream.outputMode("append").format("memory").queryName(sName)
          .option("checkpointLocation", s"$base/sessions").trigger(Trigger.AvailableNow()).start())
        (fp, sp)
      }
      // collect the results here; the comparison with the batch result is in settle
      ctx.span("bench", "check") {
        val funnel = rows(Funnel.stepCounts(EventStreams.boundedVerdicts(spark.table(fName)), steps).collect())
        val sessions = sessionRows(spark.table(sName))
        results(i) = (funnel, digest(sessions), sessions.size)
      }
      val jobS = (System.nanoTime() - t0) / 1e9
      val progress = fp ++ sp
      val data = progress.filter(_.numInputRows == perFile)
      val ops = data.map(p => p.durationMs.get("triggerExecution").toDouble)
      val extra = scala.collection.mutable.Map[String, Double](
        "events" -> data.map(_.numInputRows).sum.toDouble,
        "batches" -> progress.size.toDouble)
      if (ctx.tracer.enabled) {
        ctx.listener.drain(spark)
        extra ++= SessionCounters.counters(ctx.listener, jobS, spark)
        // a span per query under the replay, and one per micro-batch under it
        val replay = ctx.tracer.spans.find(s => s.run == i && s.name == "replay").map(_.id).getOrElse(0)
        for ((name, ps) <- Seq("funnel_query" -> fp, "session_query" -> sp) if ps.nonEmpty) {
          val iv = ps.map { p =>
            val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
            (start, start + p.durationMs.get("triggerExecution") * 1000000L)
          }
          val q = ctx.tracer.add(replay, "streaming", name, iv.map(_._1).min, iv.map(_._2).max)
          iv.foreach { case (a, b) => ctx.tracer.add(q, "streaming", "batch", a, b) }
        }
        def dur(k: String) = Main.median(data.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
          data.map(p => p.stateOperators.map(f).sum.toDouble)
        extra("add_batch_ms") = dur("addBatch")
        extra("planning_ms") = dur("queryPlanning")
        extra("wal_commit_ms") = dur("walCommit")
        extra("state_commit_ms") = Main.median(state(_.commitTimeMs))
        extra("state_rows") = Main.median(state(_.numRowsTotal))
        extra("state_bytes") = Main.median(state(_.memoryUsedBytes))
        extra("state_rows_removed") = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum.toDouble
      }
      Iter(i, ctx.tracer.enabled, jobS, ok = true, ops, data.size, 0, "", extra.toMap)
    } finally {
      spark.catalog.dropTempView(fName)
      spark.catalog.dropTempView(sName)
      Main.deleteTree(new File(base))
    }
  }

  def layers(traced: Seq[Iter]): Map[String, Double] = {
    def med(k: String) = Main.median(traced.flatMap(_.extra.get(k)))
    Seq("add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms", "state_rows",
      "state_bytes", "state_rows_removed").map(k => s"streaming.$k" -> med(k)).toMap ++
      Map("catalog.bytes_written" -> med("bytes_written")) ++ SessionCounters.layerMedians(traced)
  }
}
