package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One measured operation of a workload: an ELT run, a corpus build, or
  * a stream replay. `ops` are the latencies (ms) of the requests inside
  * it (table writes, admissions, micro-batches); `attempted`/`failed`
  * count operations for the failure fraction. */
final case class Iter(i: Int, traced: Boolean, jobS: Double, ok: Boolean,
                      ops: Seq[Double], attempted: Int, failed: Int, note: String,
                      extra: Map[String, Double])

/** What a workload body gets to record with. */
final class Ctx(val tracer: Tracer, val listener: SessionListener) {
  def span[T](layer: String, name: String)(body: => T): T =
    if (tracer.enabled) tracer.span(layer, name)(body) else body
}

trait Workload {
  /** Load or stage the generated inputs; runs before any timing.
    * Returns input facts for the environment record. */
  def prepare(): Map[String, Any]
  def iteration(i: Int, ctx: Ctx): Iter
  /** Per-layer metrics from the traced iterations. */
  def layers(traced: Seq[Iter]): Map[String, Double]
  /** Checks deferred until after the timed iterations. */
  def settle(iters: Seq[Iter]): Seq[Iter] = iters
}

/** Benchmark process: creates the session, runs one workload — a cold
  * iteration, then warm iterations until `--seconds` have passed (at
  * least two) — and writes one JSON result file. With `--trace 1` warm
  * iterations alternate between untraced and traced, so the result
  * carries both sides of the tracing-overhead difference.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = o("cores").toInt
    val work = o("work")
    val spark = graft.Session.local("perfbench", cores, Some(s"$work/spark-warehouse"))
    val readyMs = System.currentTimeMillis()
    try run(spark, o, readyMs, cores) finally spark.stop()
    // tells the launcher the session is down and the result complete
    write(o("out") + ".stopped", "")
  }

  def workload(spark: SparkSession, name: String, input: String, work: String): Workload =
    name match {
      case "fjc_elt" => new FjcElt(spark, input, work)
      case "corpus_curate" => new CorpusCurate(spark, input, work)
      case "event_stream" => new EventStream(spark, input, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))

  def readKv(path: String): Map[String, String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(_.contains('\t')).map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  private def run(spark: SparkSession, o: Map[String, String], readyMs: Long,
                  cores: Int): Unit = {
    val traceMode = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val work = o("work")
    val input = o("input")
    val tracer = new Tracer
    val listener = new SessionListener
    spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(tracer, listener)
    val wl = workload(spark, o("workload"), input, work)
    val inputFacts = wl.prepare()
    val preparedMs = System.currentTimeMillis()

    def once(i: Int, traced: Boolean): Iter = {
      // deliver every event of the previous iteration before the
      // counters are cleared and task collection is switched
      if (i > 0) listener.drain(spark)
      tracer.enabled = traced
      tracer.run = i
      listener.withTasks = traced
      listener.reset()
      val it = try wl.iteration(i, ctx) catch {
        case scala.util.control.NonFatal(e) =>
          Iter(i, traced, Double.NaN, ok = false, Nil, 1, 1,
            s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500), Map.empty)
      }
      tracer.enabled = false
      it.copy(traced = traced)
    }

    val iters = ArrayBuffer(once(0, traced = false))
    val minWarm = if (traceMode) 4 else 2
    val warmStart = System.nanoTime()
    var i = 1
    while (i <= minWarm || ((System.nanoTime() - warmStart) / 1e9 < seconds && i <= 500)) {
      iters += once(i, traced = traceMode && i % 2 == 0)
      i += 1
    }
    val settled = wl.settle(iters.toSeq)
    settled.filterNot(_.ok).foreach(it => System.err.println(s"[perfbench] iteration ${it.i} failed: ${it.note}"))

    val tracedIters = settled.filter(_.traced)
    val layers = if (traceMode) wl.layers(tracedIters) else Map.empty[String, Double]
    // self time never exceeds the span it belongs to, by construction of
    // selfTimes; the check guards that construction
    val self = tracer.selfTimes
    val selfOk = tracer.spans.forall(s => self(s.id) <= s.dur && self(s.id) >= 0)
    val selfByLayer = tracer.spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => self(s.id)).sum / 1e9 / math.max(1, tracedIters.size)
    }
    if (traceMode) tracer.writeJsonl(s"$work/spans.jsonl")
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "cores" -> cores,
      "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", ""),
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).filter(a => a.startsWith("-X")).mkString(" "),
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "spark" -> spark.version,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "seed" -> o("seed")) ++ inputFacts
    write(o("out"), Json.obj(Seq(
      "ready_ms" -> readyMs,
      "prepared_ms" -> preparedMs,
      "end_ms" -> System.currentTimeMillis(),
      "env" -> env,
      "iterations" -> settled.map(it => Map(
        "i" -> it.i, "traced" -> it.traced, "job_s" -> it.jobS, "ok" -> it.ok,
        "ops_ms" -> it.ops, "attempted" -> it.attempted, "failed" -> it.failed,
        "note" -> it.note, "extra" -> it.extra)),
      "layers" -> layers,
      "self_s_by_layer" -> selfByLayer,
      "self_ok" -> selfOk,
      "spans" -> tracer.spans.size,
      "peak_rss_mb" -> peakRssMb)))
  }
}

/** Class-data training run: one JVM runs the cold iteration of every
  * workload given, so that the classes they load can be archived when
  * it exits (`-XX:ArchiveClassesAtExit`, see perfbench/run.py). Its
  * timings and checks are not used.
  *
  * Arguments: --cores N --work DIR --workloads a,b,c --inputs dA,dB,dC
  */
object Train {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = o("work")
    val spark = graft.Session.local("perfbench", o("cores").toInt, Some(s"$work/spark-warehouse"))
    try {
      val listener = new SessionListener
      spark.sparkContext.addSparkListener(listener)
      val ctx = new Ctx(new Tracer, listener)
      o("workloads").split(',').zip(o("inputs").split(',')).foreach { case (name, input) =>
        val wl = Main.workload(spark, name, input, work)
        wl.prepare()
        wl.iteration(0, ctx)
      }
    } finally spark.stop()
  }
}
