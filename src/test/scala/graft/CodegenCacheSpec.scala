package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.streaming.EventStreams

/** A session compiles each generated class once: a repeat of the same
  * work finds every class in Spark's codegen cache. Compiles are
  * counted with `CodegenMetrics.METRIC_COMPILATION_TIME`, which Spark
  * updates only when it runs Janino (a cache miss). The dedup working
  * set is over Spark's default 100 cached classes, and each stream
  * runs in a cloned session, so these fail without `Session.local`'s
  * cache size or with artifact isolation on. */
class CodegenCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** A planted corpus and admission batch: chains of near duplicates
    * (each link four word substitutions from the one before, so
    * members a few links apart land near the threshold and take the
    * exact re-check), clusters of edited copies and exact replicas,
    * and singletons; the batch holds a chain, edits of resident chain
    * ends and clusters, exact copies and fresh docs. */
  private lazy val (corpus, batch) = {
    val rng = new scala.util.Random(17)
    val vocab = Vector.fill(4000)(
      Iterator.continually(('a' + rng.nextInt(26)).toChar).take(3 + rng.nextInt(6)).mkString)
    def word() = vocab(rng.nextInt(vocab.size))
    def doc() = Vector.fill(90 + rng.nextInt(90))(word())
    def edit(d: Vector[String], k: Int) =
      (0 until k).foldLeft(d)((w, _) => w.updated(rng.nextInt(w.size), word()))
    def chain() = Iterator.iterate(doc())(edit(_, 4)).take(6).toVector
    val chains = Vector.fill(5)(chain())
    val clusters = Vector.fill(20) { val b = doc(); Vector(b, edit(b, 2), edit(b, 2), b) }
    val resident = chains.flatten ++ clusters.flatten ++ Vector.fill(90)(doc())
    val incoming = chain() ++ chains.map(c => edit(c.last, 2)).take(2) ++
      clusters.take(2).map(c => edit(c.head, 2)) ++ clusters.slice(2, 4).map(_.head) ++
      Vector.fill(8)(doc())
    def frame(docs: Seq[Vector[String]], first: Long) =
      docs.zipWithIndex.map { case (d, i) => (first + i, d.mkString(" ")) }
        .toDF("doc_id", "text").localCheckpoint()
    (frame(resident, 1L), frame(incoming, 1001L))
  }

  test("a repeated dedup build and admission compiles no generated class") {
    def run(i: Int): Unit = {
      val key = s"codegen-cache-$i"
      try {
        val kept = Dedup.dedupNearDups(corpus, threshold = 0.5, cacheKey = Some(key))
          .localCheckpoint()
        assert(kept.count() == 5 + 20 + 90)
        val admitted = Dedup.dedupIncremental(batch, corpus, threshold = 0.5,
          corpusCacheKey = Some(key + "#reps")).select("doc_id").as[Long].collect()
        // the batch chain's min id and the fresh docs
        assert(admitted.length == 1 + 8, admitted.sorted.mkString(","))
      } finally Dedup.clearSignatureCache(key)
    }
    // the first repeat can still compile a few classes of a plan the
    // cold run did not make: 4-6 in 2 of 5 first warm iterations of the
    // corpus benchmark with AQE on, none in 8 with it off, none in any
    // later iteration. The third run compiles nothing.
    val first = compiles(run(0))
    run(1)
    assert(compiles(run(2)) == 0L, s"first run compiled $first classes")
  }

  /** Three time-ordered files of 300 events over 40 users, written
    * once; each replay reads them one file per micro-batch. */
  private lazy val eventsDir = {
    val dir = SparkTestSession.tempDir("codegen_events").toString
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 09:00:00").getTime
    val types = Seq("view", "view", "click", "purchase", "other")
    for (f <- 0 until 3) {
      val rng = new scala.util.Random(f)
      val before = graft.gates.GateSupport.listParquet(dir)
      (0 until 300).map { i =>
        (f * 1000L + i, new java.sql.Timestamp(t0 + (f * 300L + i) * 60000L),
          rng.nextInt(40).toLong, types(rng.nextInt(types.size)))
      }.toDF("event_id", "ts", "user_id", "event_type")
        .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
        .coalesce(1).write.mode("append").parquet(dir)
      graft.gates.GateSupport.bumpMtime(dir, before)
    }
    dir
  }

  private val steps = Seq("view", "click", "purchase")
  private val boundedMachines: Seq[(String, Dataset[EventStreams.Event] => DataFrame)] = Seq(
    "funnel" -> (EventStreams.funnelLevelsBounded(_, steps,
      windowSeconds = Some(86400L), lateness = "30 minutes").toDF()),
    "step-times" -> (EventStreams.stepTimesBounded(_, steps,
      windowSeconds = Some(86400L), lateness = "30 minutes").toDF()),
    "attribution" -> (EventStreams.lastTouchBounded(_, Seq("click", "view"), "purchase",
      lookbackSeconds = 86400L, lateness = "30 minutes").toDF()),
    "retention" -> (EventStreams.retentionBounded(_, horizonWeeks = 4,
      lateness = "30 minutes").toDF()))

  for (((name, machine), m) <- boundedMachines.zipWithIndex)
    test(s"a second bounded $name replay, fresh checkpoint, compiles no generated class") {
      def replay(i: Int): Long = {
        val stream = spark.readStream.schema(EventStreams.schema)
          .option("maxFilesPerTrigger", "1").parquet(eventsDir).as[EventStreams.Event]
        val q = machine(stream).writeStream.outputMode("update").format("memory")
          .queryName(s"codegen_bounded_${m}_$i")
          .option("checkpointLocation", SparkTestSession.tempDir(s"codegen_ckpt_${m}_$i").toString)
          .trigger(Trigger.AvailableNow()).start()
        try assert(q.awaitTermination(120000), "stream did not finish") finally q.stop()
        q.exception.foreach(e => throw e)
        assert(q.recentProgress.count(_.numInputRows > 0) == 3)
        spark.table(s"codegen_bounded_${m}_$i").count()
      }
      var rows = 0L
      val first = compiles { rows = replay(0) }
      assert(rows > 0)
      assert(compiles(assert(replay(1) == rows)) == 0L, s"first replay compiled $first classes")
    }
}
