package graft.bench

import java.io.File

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType}

import graft.pipeline.FjcPipeline

/** `fjc_elt`: `FjcPipeline.runAll` over the seeded TSV into a fresh
  * warehouse directory per iteration. The check compares the trusted
  * row count, every dim's row count and a per-column digest of the
  * quality zone with the DuckDB replay written next to the input.
  * Requests are the pipeline's table writes (three zones, fifteen
  * dims), timed by Spark's SQL execution events. */
final class FjcElt(spark: SparkSession, input: String, work: String) extends Workload {
  private val tsv = s"$input/fjc.tsv"
  private lazy val expected = Main.readKv(s"$input/expected.tsv")
  private val dimNames = FjcPipeline.dims.map(_._1)
  private val writeTarget = "InsertIntoHadoopFsRelationCommand"

  def prepare(): Map[String, Any] = Map(
    "input_rows" -> expected("trusted.rows").toLong,
    "input_bytes" -> new File(tsv).length)

  private def footerRows(dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
        try r.getRecordCount finally r.close()
      }.sum
  }

  private def parquetBytes(dir: File): Long =
    Option(dir.listFiles()).getOrElse(Array.empty).map { f =>
      if (f.isDirectory) parquetBytes(f) else if (f.getName.endsWith(".parquet")) f.length else 0L
    }.sum

  /** (mismatches, bytes written) for one warehouse directory. */
  private def check(wh: String): (Seq[String], Long) = {
    val got = scala.collection.mutable.Map.empty[String, String]
    got("trusted.rows") = footerRows(s"$wh/trusted").toString
    dimNames.foreach(d => got(s"dim.$d") = footerRows(s"$wh/dims/$d").toString)
    val q = spark.read.parquet(s"$wh/quality")
    val aggs = q.schema.fields.toSeq.flatMap { f =>
      val c = col(f.name)
      val s = f.dataType match {
        case LongType => sum(c)
        case DateType => sum(unix_date(c).cast("long"))
        case StringType => sum(length(c).cast("long"))
        case t => throw new IllegalStateException(s"unexpected quality type $t")
      }
      Seq(count(c).as(s"${f.name}__n"), s.as(s"${f.name}__s"))
    }
    val row = q.agg(aggs.head, aggs.tail: _*).head()
    row.schema.fieldNames.zipWithIndex.foreach { case (n, k) =>
      got("quality." + n.replace("__", ".")) = Option(row.get(k)).map(_.toString).getOrElse("null")
    }
    val bad = expected.toSeq.sortBy(_._1).collect {
      case (k, v) if got.getOrElse(k, "<missing>") != v => s"$k=${got.getOrElse(k, "<missing>")}!=$v"
    } ++ got.keys.filterNot(expected.contains).map(k => s"$k unexpected")
    (bad, parquetBytes(new File(wh)))
  }

  /** Output directory of a table write, from its physical plan. */
  private def target(plan: String, wh: String): Option[String] =
    if (!plan.contains(writeTarget)) None
    else {
      val marker = s"Arguments: file:$wh/"
      val at = plan.indexOf(marker)
      if (at < 0) None
      else Some(plan.substring(at + marker.length).takeWhile(ch => ch != ',' && !ch.isWhitespace))
    }

  def iteration(i: Int, ctx: Ctx): Iter = {
    val wh = new File(s"$work/fjc/it$i").getAbsolutePath
    try {
      val t0 = System.nanoTime()
      ctx.span("pipeline", "runAll") { FjcPipeline.runAll(spark, tsv, wh) }
      val (bad, outBytes) = ctx.span("bench", "check") { check(wh) }
      val jobS = (System.nanoTime() - t0) / 1e9
      ctx.listener.drain(spark)
      val writes = ctx.listener.synchronized(ctx.listener.execs.toList)
        .flatMap(e => target(e.plan, wh).map(t => (t, e)))
      val ops = writes.map { case (_, e) => (e.endMs - e.startMs).toDouble }
      val extra = scala.collection.mutable.Map[String, Double](
        "out_bytes" -> outBytes.toDouble, "writes" -> writes.size.toDouble)
      if (ctx.tracer.enabled) {
        val root = ctx.tracer.spans.find(s => s.run == i && s.name == "runAll").map(_.id).getOrElse(0)
        val ms = 1000000L
        def sp(layer: String, name: String, parent: Int, e: Exec): Int =
          ctx.tracer.add(parent, layer, name, e.startMs * ms, e.endMs * ms)
        def step(t: String): Option[Exec] = writes.find(_._1 == t).map(_._2)
        def secs(e: Option[Exec]) = e.map(x => (x.endMs - x.startMs) / 1e3).getOrElse(0.0)
        step("raw").foreach(sp("pipeline", "ingest_raw", root, _))
        step("quality").foreach(sp("ops", "quality_zone", root, _))
        step("trusted").foreach(sp("pipeline", "trusted_zone", root, _))
        val dims = writes.filter(_._1.startsWith("dims/")).map(_._2)
        if (dims.nonEmpty) {
          val (s0, s1) = (dims.map(_.startMs).min, dims.map(_.endMs).max)
          val stage = ctx.tracer.add(root, "ops", "dims_stage", s0 * ms, s1 * ms)
          dims.foreach(sp("ops", "dim", stage, _))
          extra("dims_stage_s") = (s1 - s0) / 1e3
          extra("dims_concurrency") = dims.map(e => e.endMs - e.startMs).sum.toDouble / math.max(1L, s1 - s0)
        }
        extra("ingest_raw_s") = secs(step("raw"))
        extra("quality_zone_s") = secs(step("quality"))
        extra("trusted_zone_s") = secs(step("trusted"))
        extra ++= SessionCounters.counters(ctx.listener, jobS, spark)
      }
      val ok = bad.isEmpty && writes.size == 3 + dimNames.size
      Iter(i, ctx.tracer.enabled, jobS, ok, ops, 1, if (ok) 0 else 1,
        if (ok) "" else s"${writes.size} writes seen; mismatches: ${bad.take(5).mkString("; ")}",
        extra.toMap)
    } finally Main.deleteTree(new File(wh))
  }

  def layers(traced: Seq[Iter]): Map[String, Double] = {
    def med(k: String) = Main.median(traced.flatMap(_.extra.get(k)))
    Map(
      "pipeline.ingest_raw_s" -> med("ingest_raw_s"),
      "ops.quality_zone_s" -> med("quality_zone_s"),
      "pipeline.trusted_zone_s" -> med("trusted_zone_s"),
      "ops.dims_stage_s" -> med("dims_stage_s"),
      "pipeline.dims_concurrency" -> med("dims_concurrency"),
      "catalog.bytes_written" -> med("bytes_written")) ++ SessionCounters.layerMedians(traced)
  }
}
