package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One traced interval. `layer` is the module the span times a call
  * into (pipeline, ops, operators, streaming, ...); spans of one
  * iteration share `run`. Times are epoch nanoseconds. */
final case class Span(id: Int, parent: Int, run: Int, layer: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span store. Spans are recorded from the harness around the
  * calls it makes into each module, or rebuilt from Spark's own
  * listener events; nothing inside the library is instrumented. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private val stack = new java.util.ArrayDeque[Int]()
  var run = 0
  @volatile var enabled = false

  private def clock: Long = Tracer.epochNs()

  def add(parent: Int, layer: String, name: String, start: Long, end: Long): Int = synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, parent, run, layer, name, start, end)
    id
  }

  private def current: Int = if (stack.isEmpty) 0 else stack.peek()

  /** Time `body` as a span under the innermost open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val parent = current
    val id = synchronized { val i = nextId; nextId += 1; i }
    stack.push(id)
    val t0 = clock
    try body finally {
      stack.pop()
      synchronized { spans += Span(id, parent, run, layer, name, t0, clock) }
    }
  }

  /** Self time of each span: its duration minus the part of its
    * interval covered by the union of its children's intervals. */
  def selfTimes: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.dur - covered)
    }.toMap
  }

  def writeJsonl(path: String): Unit = {
    val self = selfTimes
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "run" -> s.run,
        "layer" -> s.layer, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_ns" -> self(s.id))))
    } finally w.close()
  }
}

object Tracer {
  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Monotonic epoch nanoseconds (wall-clock anchored once). */
  def epochNs(): Long = base + System.nanoTime()
}

/** One SQL execution as seen by the listener (epoch milliseconds).
  * `site` is the call site's stack (innermost frame first), which names
  * the library method that started the execution. */
final case class Exec(id: Long, startMs: Long, endMs: Long, plan: String, site: String)

/** Counters from Spark's public listener API for the `session` layer,
  * plus the SQL execution intervals the harness turns into spans and
  * request latencies. Reset per iteration with [[reset]]; read after
  * [[drain]] so every event of the iteration has been delivered. */
final class SessionListener extends SparkListener {
  /** Task counters are collected only while set (traced iterations). */
  @volatile var withTasks = false
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var runMs = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var spill = 0L
  @volatile var outputBytes = 0L
  private val stageTasks = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]
  private val execStart = scala.collection.mutable.Map.empty[Long, (Long, String, String)]
  val execs = ArrayBuffer.empty[Exec]
  private var markerJob = -1
  private val markerStages = scala.collection.mutable.Set.empty[Int]
  private val markerSeen = new java.util.concurrent.Semaphore(0)

  def reset(): Unit = synchronized {
    jobs = 0; tasks = 0; runMs = 0; cpuNs = 0; gcMs = 0
    shuffleWrite = 0; spill = 0; outputBytes = 0
    stageTasks.clear(); execs.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (Option(e.properties).exists(_.getProperty("spark.job.description") == "perfbench-marker")) {
      markerJob = e.jobId; markerStages ++= e.stageIds
    } else jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (synchronized(e.jobId == markerJob)) markerSeen.release()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (withTasks) synchronized {
    val m = e.taskMetrics
    if (m != null && !markerStages(e.stageId)) {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      outputBytes += m.outputMetrics.bytesWritten
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execStart(s.executionId) = (s.time, s.physicalPlanDescription, s.details) }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized {
        execStart.remove(s.executionId).foreach { case (t0, plan, site) =>
          execs += Exec(s.executionId, t0, s.time, plan, site)
        }
      }
    case _ =>
  }

  /** Max over mean task run time, as the median across stages with at
    * least two tasks (1.0 = perfectly even stages). */
  def taskSkew: Double = synchronized {
    val r = stageTasks.values.filter(_.size >= 2).map { ts =>
      val mean = ts.sum.toDouble / ts.size
      if (mean <= 0) 1.0 else ts.max / mean
    }.toSeq.sorted
    if (r.isEmpty) 1.0 else r(r.size / 2)
  }

  /** Run a one-task marker job and wait for its end event: the listener
    * queue is FIFO, so every earlier event has been delivered then. */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setJobDescription("perfbench-marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    if (!markerSeen.tryAcquire(30, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("listener events did not drain within 30 s")
  }
}

/** The `session` layer's counters for one iteration and their medians. */
object SessionCounters {
  def counters(l: SessionListener, wallS: Double, spark: SparkSession): Map[String, Double] = {
    val cores = spark.sparkContext.defaultParallelism
    Map(
      "jobs" -> l.jobs.toDouble,
      "tasks" -> l.tasks.toDouble,
      "task_busy_s" -> l.runMs / 1e3,
      "cpu_s" -> l.cpuNs / 1e9,
      "gc_s" -> l.gcMs / 1e3,
      "core_util" -> l.runMs / 1e3 / (wallS * cores),
      "shuffle_write_bytes" -> l.shuffleWrite.toDouble,
      "spill_bytes" -> l.spill.toDouble,
      "task_skew" -> l.taskSkew,
      "bytes_written" -> l.outputBytes.toDouble)
  }

  def layerMedians(traced: Seq[Iter]): Map[String, Double] =
    Seq("jobs", "tasks", "task_busy_s", "cpu_s", "gc_s", "core_util",
      "shuffle_write_bytes", "spill_bytes", "task_skew").map { k =>
      s"session.$k" -> Main.median(traced.flatMap(_.extra.get(k)))
    }.toMap
}
