package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Curation, Dedup, Splits}

/** `corpus_curate`: the training-data build — `Curation.annotate` →
  * `Dedup.dedupNearDups` → `Splits.hashSplit` → token/chunk budget —
  * then an admission phase: `Dedup.dedupIncremental` admits a fixed new
  * batch against the signatures the build staged for the resident
  * corpus. Requests are the admissions.
  *
  * Cache hygiene: every iteration stages its signatures under a fresh
  * cache key and clears it at the end, so no build reads an earlier
  * iteration's signatures; only the admissions reuse them.
  *
  * Checks come from the planted structure: survivors are exactly the
  * min-id member of every planted cluster plus every singleton (digest
  * and one-survivor-per-cluster), split counts sum to the survivors,
  * and the admitted set matches its planted digest.
  *
  * Traced and untraced iterations run the same calls. The traced ones
  * split the `dedupNearDups` call into signature, pairs and components
  * spans after the fact, from the call sites of the SQL executions the
  * listener saw (see [[dedupPhases]]).
  */
final class CorpusCurate(spark: SparkSession, input: String, work: String) extends Workload {
  private val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private lazy val expected = Main.readKv(s"$input/expected.tsv")
  private lazy val docs = spark.read.parquet(s"$input/docs.parquet")
  private lazy val truth = spark.read.parquet(s"$input/truth.parquet")
  private lazy val batch = spark.read.parquet(s"$input/batch.parquet")

  def prepare(): Map[String, Any] = Map(
    "input_rows" -> expected("docs").toLong,
    "input_bytes" -> expected("text_bytes").toLong,
    "admission_batch_rows" -> expected("batch_rows").toLong)

  private def digest(ids: DataFrame): String = {
    val r = ids.agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      coalesce(sum(col("doc_id") * col("doc_id")), lit(0L))).head()
    s"${r.getLong(0)}/${r.getLong(1)}/${r.getLong(2)}"
  }

  private def digest(ids: Array[Long]): String =
    s"${ids.length}/${ids.sum}/${ids.map(x => x * x).sum}"

  def iteration(i: Int, ctx: Ctx): Iter = {
    val key = s"perfbench-build-$i"
    val repKey = Some(key + "#reps")
    try {
      val t0 = System.nanoTime()
      val curated = ctx.span("operators", "curation") {
        Curation.annotate(docs).where(col("keep")).select("doc_id", "text").localCheckpoint()
      }
      val deduped = ctx.span("operators", "dedup") {
        val out = ctx.span("operators", "dedup_build") {
          Dedup.dedupNearDups(curated, threshold = 0.5, cacheKey = Some(key))
        }
        ctx.span("operators", "dedup_antijoin") { out.localCheckpoint() }
      }
      val budget = ctx.span("operators", "split_budget") {
        Splits.hashSplit(deduped, "doc_id", splits, "v1")
          .select(col("split"), Text.tokenCount(col("text")).as("nt"))
          .withColumn("nc", when(col("nt") === 0, 0L).when(col("nt") <= 80, 1L)
            .otherwise(lit(1L) + ceil((col("nt") - 80).cast("double") / 60).cast("long")))
          .groupBy("split")
          .agg(count(lit(1)).as("n_docs"), sum("nc").cast("long").as("n_chunks"),
            sum("nt").cast("long").as("n_tokens"))
          .collect()
      }
      val bad = ctx.span("bench", "check") {
        val survivors = digest(deduped.select("doc_id"))
        val perCluster = deduped.join(truth, Seq("doc_id")).groupBy("cluster").count()
          .agg(count(lit(1)), max(col("count"))).head()
        val nDocs = budget.map(_.getAs[Long]("n_docs")).sum
        Seq(
          Option.when(survivors != expected("survivors"))(s"survivors $survivors != ${expected("survivors")}"),
          Option.when(perCluster.getLong(0) != expected("clusters").toLong || perCluster.getLong(1) != 1L)(
            s"clusters ${perCluster.getLong(0)} (max survivors ${perCluster.getLong(1)})"),
          Option.when(budget.length != splits.size || nDocs != survivors.takeWhile(_ != '/').toLong)(
            s"split docs $nDocs over ${budget.length} splits")).flatten
      }
      val jobS = (System.nanoTime() - t0) / 1e9
      // admission of the fixed new batch against the staged resident
      // signatures. Only warm iterations time it; the cold iteration
      // admits too, so the first timed admission finds the admission
      // path warmed up like the build
      val admitted = {
        val a0 = System.nanoTime()
        val ids = ctx.span("operators", "admit") {
          Dedup.dedupIncremental(batch, curated, threshold = 0.5, corpusCacheKey = repKey)
            .select("doc_id").collect().map(_.getLong(0))
        }
        val got = digest(ids)
        ((System.nanoTime() - a0) / 1e6,
          Option.when(got != expected("admit"))(s"admitted $got != ${expected("admit")}"))
      }
      val admits = if (i == 0) Nil else Seq(admitted)
      val iterS = (System.nanoTime() - t0) / 1e9
      val extra = scala.collection.mutable.Map[String, Double]()
      var probeBad = Seq.empty[String]
      if (ctx.tracer.enabled) {
        ctx.listener.drain(spark)
        extra ++= SessionCounters.counters(ctx.listener, iterS, spark)
        val missing = dedupPhases(ctx, i)
        val sp = ctx.tracer.spans.filter(_.run == i)
        def secs(n: String) = sp.filter(_.name == n).map(_.dur).sum / 1e9
        Seq("curation", "dedup_signature", "dedup_pairs", "dedup_cc").foreach(n => extra(n + "_s") = secs(n))
        extra("admit_s") = Main.median(admits.map(_._1 / 1e3))
        // outside the timed region: the candidate pairs behind the
        // verified ones, re-derived from the signatures the build staged
        // for its distinct-text representatives (the corpus frame passed
        // here is not read when the staged table is found)
        val probeMs = System.currentTimeMillis()
        val cand = Dedup.lshCandidates(curated, shingleSize = 5, cacheKey = repKey).count()
        val verified = Dedup.lshHybridPairs(curated, 0.5, shingleSize = 5, cacheKey = repKey).count()
        ctx.listener.drain(spark)
        val restaged = ctx.listener.synchronized(ctx.listener.execs.toList)
          .exists(e => e.startMs >= probeMs && phaseOf(e).contains("dedup_signature"))
        extra("dedup_candidates") = cand.toDouble
        extra("dedup_verify_yield") = if (cand == 0) 0.0 else verified.toDouble / cand
        probeBad = missing.map(p => s"no SQL execution of $p inside dedupNearDups").toSeq ++
          Option.when(restaged)("candidate probe did not find the staged signatures")
      }
      val allBad = bad ++ admitted._2 ++ probeBad
      Iter(i, ctx.tracer.enabled, jobS, allBad.isEmpty, admits.map(_._1), 1,
        if (allBad.isEmpty) 0 else 1, allBad.take(4).mkString("; "), extra.toMap)
    } finally Dedup.clearSignatureCache(key)
  }

  /** The dedup phase a SQL execution belongs to: the innermost
    * `Dedup` method on its call site that names one. */
  private def phaseOf(e: Exec): Option[String] =
    e.site.split('\n').iterator.filter(_.contains("graft.operators.Dedup")).flatMap { f =>
      if (f.contains("signatureTable")) Some("dedup_signature")
      else if (f.contains("hybridVerify") || f.contains("lshHybridPairs") || f.contains("bandCandidates"))
        Some("dedup_pairs")
      else if (f.contains("connectedComponents")) Some("dedup_cc")
      else None
    }.nextOption()

  /** Splits the `dedup_build` span of iteration `i` (the eager part of
    * `dedupNearDups`) into signature, pairs and components spans: each
    * phase runs from the start of its first SQL execution (the first
    * phase from the call itself) to the start of the next phase, so
    * driver-side work between executions counts to the phase it
    * belongs to. Returns the phases no execution was seen for. */
  private def dedupPhases(ctx: Ctx, i: Int): Set[String] = {
    val order = Seq("dedup_signature", "dedup_pairs", "dedup_cc")
    ctx.tracer.spans.find(s => s.run == i && s.name == "dedup_build") match {
      case None => order.toSet
      case Some(b) =>
        val ms = 1000000L
        val execs = ctx.listener.synchronized(ctx.listener.execs.toList)
          .filter(e => e.startMs * ms >= b.start - ms && e.endMs * ms <= b.end + ms)
        val first = execs.flatMap(e => phaseOf(e).map(_ -> e.startMs * ms))
          .groupBy(_._1).map { case (p, ts) => p -> ts.map(_._2).min }
        val seen = order.filter(first.contains)
        val starts = (b.start +: seen.drop(1).map(first)).map(t => math.min(math.max(t, b.start), b.end))
        val bounds = starts.zip(starts.drop(1) :+ b.end)
        seen.zip(bounds).foreach { case (p, (s0, s1)) =>
          ctx.tracer.add(b.id, "operators", p, s0, math.max(s0, s1))
        }
        order.filterNot(first.contains).toSet
    }
  }

  def layers(traced: Seq[Iter]): Map[String, Double] = {
    def med(k: String) = Main.median(traced.flatMap(_.extra.get(k)))
    Map(
      "operators.curation_s" -> med("curation_s"),
      "operators.dedup_signature_s" -> med("dedup_signature_s"),
      "operators.dedup_pairs_s" -> med("dedup_pairs_s"),
      "operators.dedup_cc_s" -> med("dedup_cc_s"),
      "operators.dedup_candidates" -> med("dedup_candidates"),
      "operators.dedup_verify_yield" -> med("dedup_verify_yield"),
      "operators.admit_s" -> med("admit_s"),
      "catalog.bytes_written" -> med("bytes_written")) ++ SessionCounters.layerMedians(traced)
  }
}
