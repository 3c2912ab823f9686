package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced through the `noop` sink (not `.count()`, which
  * would let Catalyst prune the projection/sort away and measure
  * nothing).
  *
  * Timing protocol: ADAPTIVE best-of-N. The full suite runs ~90
  * queries in one JVM, and single observations inside that context
  * transiently read 4-5× their isolated value (GC pause alignment,
  * neighbor-query heap pressure — BENCH_r03's x04, BENCH_r04's
  * x07-x10 band, both later replicated at 1× in isolation). Two
  * observations that agree within 30% are accepted (min reported —
  * the standard noise-floor estimator for deterministic work); while
  * they disagree the query re-runs, up to 4 observations, so a
  * transient must strike 3+ times in a row to survive into the
  * report. A System.gc() between queries keeps one query's garbage
  * from billing the next query's first observation.
  *
  * On top of that, TWO more full passes re-observe every query once
  * each on the now-fully-warm JVM and the report takes the per-query
  * minimum across all three passes. The adaptive protocol's
  * observations are CONSECUTIVE, so a minute-scale host-load window
  * (this box is shared) inflates all of them together and
  * agreement-within-30% happily accepts the inflated pair — two
  * same-session full-suite runs measured 78.5 vs 46.1 s total with
  * identical binary+config. Passes separated by a suite-length of
  * wall-clock decorrelate those windows per query at the cost of two
  * extra observations.
  *
  * NOISE VISIBILITY: the printed line also carries `spread_p50` /
  * `spread_p90` — per-query (max pass / min pass) quantiles — so a
  * round-over-round delta can be read against the measured host
  * weather instead of guessed at: a "regression" inside the spread
  * band is noise, not a plan change. The full per-query per-pass
  * observations land in BENCH_DETAIL.json (the stdout line must stay
  * under the harness's ~2000-char tail, the detail file has no such
  * limit).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Spill-aware shuffle sizing — the 100 TB rule applied at bench
    // SF: partitions ≈ on-disk input bytes / 4 MB (parquet text
    // decompresses ~4-8×, so one partition carries ~16-32 MB in
    // flight), floored at 8, capped at 4× cores. Core-count-sized
    // shuffles of kilobyte partitions are pure scheduling overhead:
    // interleaved in-JVM minima showed 20-25% total
    // savings at sf0.1 across floor, heavy, AND streaming families,
    // with no family regressing. At 100 TB the same rule (with a
    // cluster-scale cap) yields the thousands of partitions you'd
    // expect — the constant is the target partition payload, not the
    // partition count.
    def walkBytes(f: java.io.File): Long =
      if (f.isDirectory) { val c = f.listFiles(); if (c == null) 0L else c.map(walkBytes).sum }
      else f.length()
    val shufflePartitions = math.min(
      math.max(walkBytes(new java.io.File(sfDir)) / (4L << 20), 8L),
      4L * cpus.toInt).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Session.registerLateRules(spark)
    spark.sparkContext.setLogLevel("ERROR")

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }

    // optional subset (comma-separated names) for scale-up runs on
    // bigger-than-fixture data; default remains the full suite
    val subset = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.forall(_.contains(n)))

    // one throwaway query to absorb session/codegen init cost
    runOnce(names.head)

    def timeQuery(name: String): Double = {
      System.gc() // decorrelate: previous query's garbage, not ours
      var best = runOnce(name)
      var second = runOnce(name)
      if (best < 0 || second < 0) return -1.0
      if (second < best) { val t = best; best = second; second = t }
      var n = 2
      // re-run while the two best observations disagree by >30%
      while (n < 4 && second > best * 1.3) {
        val r = runOnce(name)
        if (r < 0) return -1.0
        if (r < best) { second = best; best = r }
        else if (r < second) second = r
        n += 1
      }
      best
    }

    val firstPass = names.map(name => name -> timeQuery(name))
    def rePass(): Seq[(String, Double)] = names.map { name =>
      System.gc()
      name -> runOnce(name)
    }
    val (secondPass, thirdPass) = (rePass().toMap, rePass().toMap)
    val passes = firstPass.map { case (name, t1) =>
      name -> Seq(t1, secondPass(name), thirdPass(name))
    }
    val results = passes.map { case (name, ts) =>
      val ok = ts.filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // host-weather summary: per-query max/min ratio across passes
    val spreads = passes.flatMap { case (_, ts) =>
      val ok = ts.filter(_ >= 0)
      if (ok.size < 2 || ok.min <= 0) None else Some(ok.max / ok.min)
    }.sorted
    def quantile(q: Double): Double =
      if (spreads.isEmpty) 1.0
      else spreads(math.min(spreads.size - 1, (q * spreads.size).toInt))
    // 3-decimal fixed formatting (locale-independent): millisecond
    // resolution is plenty, and the shorter line survives whatever
    // output buffer captures it without truncating mid-JSON
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // The harness retains only the LAST ~2000 chars of output
    // (BENCH_r02–r04 all show parsed:null with a mid-number tail), so
    // the line must FIT or the totals are lost. Full query names push
    // the line to ~2400 chars; the qNN/xNNb prefixes are unambiguous
    // (1:1 with SparkEntry.queries — checked here, full names kept on
    // any collision) and bring it to ~1250. The CORRECTNESS file
    // carries the same prefixes, so per-query cross-referencing holds.
    val prefix = "^([qx]\\d+[a-z]?)_".r
    def shortKey(n: String): String =
      prefix.findFirstMatchIn(n).map(_.group(1)).getOrElse(n)
    val useShort = results.map(r => shortKey(r._1)).distinct.size == results.size
    def queryJson(rs: Seq[(String, Double)]): String = rs.map { case (k, v) =>
      "\"" + (if (useShort) shortKey(k) else k) + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    def lineWith(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,""" +
        s""""passes":3,"spread_p50":${fmt(quantile(0.5))},""" +
        s""""spread_p90":${fmt(quantile(0.9))},$extra"sf":"$sfDir"}"""
    // full per-query map — only ever in the FILE channel: at 179
    // queries the map alone is ~2200 chars and the harness retains
    // only the LAST ~2000 chars of stdout (BENCH_r12 captured a
    // decapitated line → parsed:null), so the full line can never be
    // the stdout line again
    val fullLine = lineWith(queryJson(results), "")
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    // stdout gets a line that FITS the tail: headline q* map (~45
    // entries ≈ 650 chars) PLUS the top-20 x-queries by time (round-16
    // addition — additions only, nothing removed or renamed — so the
    // driver's per-query comparison sees the expensive x-suite, not
    // just the floor-dominated q-suite) + the x-family total + a
    // pointer to the full map; "value" stays the FULL-suite total so
    // round-over-round totals remain comparable. cpus and the chosen
    // shuffle-partition count ride along so the scaling heuristic can
    // read WHY c8≈c32 at small SFs (input-sized partitioning floors at
    // 8 — a data property, not an ignored $SPARK_GRAFT_CPUS).
    val xQueries = results.filterNot(_._1.startsWith("q"))
    val headline = results.filter(_._1.startsWith("q")) ++
      xQueries.filter(_._2 >= 0).sortBy(-_._2).take(20)
    val xTotal = xQueries.map(_._2).filter(_ >= 0).sum
    val line = lineWith(queryJson(headline),
      s""""x_total":${fmt(xTotal)},"n_queries":${results.size},""" +
        s""""cpus":$cpus,"shuffle_partitions":$shufflePartitions,""" +
        """"full_map":"BENCH_LAST.json",""")
    // Startup-vs-per-row split for the streaming gates: a Structured
    // Streaming gate pays a near-constant startup (state-store init,
    // micro-batch planning, source listing) that dominates at fixture
    // scale but is amortized at 100 TB — while the oracle replays the
    // same result as one batch SQL statement with none of that
    // machinery. Re-running each streaming gate on the tiny sf0.001
    // fixture in the same warm JVM isolates that constant (the data
    // term is microscopic there); `full − tiny` is the part that
    // actually scales with rows. Written to BENCH_DETAIL.json so
    // BASELINE.md ratios for these gates can be read against the
    // startup floor instead of as per-row cost.
    val streamingGateNames = Seq(
      "x13_stream_hourly", "x18_stream_sessions", "x28_stream_dedup",
      "x32_stream_enrich", "x42_stream_totals", "x47_stream_interval_join",
      "x47b_stream_outer_join", "x49b_kafka_stream")
    val tinyDir = "/root/testdata/sf0.001"
    val resultMap = results.toMap
    def runOnceAt(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val streamSplit =
      if (!new java.io.File(tinyDir).isDirectory) Seq.empty[(String, (Double, Double))]
      else streamingGateNames.filter(resultMap.contains).map { name =>
        System.gc()
        val obs = Seq(runOnceAt(name, tinyDir), runOnceAt(name, tinyDir)).filter(_ >= 0)
        val startup = if (obs.isEmpty) -1.0 else obs.min
        val full = resultMap(name)
        val perRows =
          if (startup >= 0 && full >= 0) math.max(0.0, full - startup) else -1.0
        name -> (startup, perRows)
      }
    val splitJson = streamSplit.map { case (name, (su, pr)) =>
      "\"" + name + "\":{\"startup_sec\":" + fmt(su) +
        ",\"data_sec\":" + fmt(pr) + "}"
    }.mkString("\"streaming_split\":{", ",", "}")
    // full per-pass observations — no length limit in a file; lets a
    // reader attribute any round-over-round delta to a specific pass
    // (pass-correlated inflation = host window, all-pass = plan)
    val detail = passes.map { case (name, ts) =>
      "\"" + name + "\":[" + ts.map(fmt).mkString(",") + "]"
    }.mkString("{\"passes\":{", ",", s"},$splitJson,\"sf\":\"$sfDir\"}\n")
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => () }
    // stop Spark BEFORE printing so no executor/shutdown log line can
    // land after the JSON — the line is the absolute last stdout line
    spark.stop()
    println(line)
  }
}
