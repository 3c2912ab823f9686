package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Ivf, Sim}
import graft.sources.Tables

/** Physical-plan assertions: the scale properties SCALE.md claims are
  * enforced here so a regression shows up as a red test, not a slow
  * cluster. (AQE finalizes some plans only after execution, so
  * assertions run on the executed plan string where needed.)
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def executedPlan(df: DataFrame): String = {
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  test("filter + projection push into the parquet scan") {
    val df = Tables.load(spark, sfDir, "lineitem")
      .where($"l_quantity" > 30)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$scan")
  }

  test("q05 star join broadcasts every dimension (no sort-merge join)") {
    val plan = executedPlan(SparkEntry.queries("q05_join_star")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join fell back to SMJ:\n$plan")
  }

  test("IVF assignment is map-only: no exchange between scan and centroid argmin") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val idx = Ivf.indexFor(s"plan-spec:$sfDir", emb, k = 4, iters = 1)
    val assigned = Ivf.assign(emb, idx)
    val plan = executedPlan(assigned)
    assert(plan.contains("nearest_centroid_native"), plan)
    assert(!plan.contains("Exchange"), s"assignment should be shuffle-free:\n$plan")
  }

  test("knnBrute: one shuffle total, corpus side never exchanged before scoring") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val knn = Sim.knnBrute(emb.where($"vec_id" < 3), emb, k = 2)
    val plan = executedPlan(knn)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly one shuffle: the ≤k-rows-per-partition partial top-k
    // aggregation; the scored corpus stream itself must not exchange
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
    assert(plan.contains("partial_topkbyscore") ||
      plan.toLowerCase.contains("objecthashaggregate"),
      s"no partial aggregation before the shuffle:\n$plan")
  }

  test("indexed IVF search prunes unprobed list partitions (DPP)") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val idx = Ivf.indexFor(s"plan-spec-dpp:$sfDir", emb, k = 8, iters = 1)
    val lists = SparkTestSession.tempDir("ivf_dpp").toString
    Ivf.writeLists(emb, idx, lists)
    val q = Ivf.searchIndexed(emb.where($"vec_id" < 2), lists, idx, k = 3, nprobe = 2)
    val plan = executedPlan(q)
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning on the lists scan:\n$plan")
  }

  test("native text signatures stay inside whole-stage codegen") {
    val df = Tables.load(spark, sfDir, "documents")
      .select(graft.functions.Text.simhash64($"text").as("sh"),
        graft.expressions.NativeText.charEntropy($"text").as("e"))
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    // the project with the native calls must sit under a WSCG node
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"projection not codegen'd:\n$plan")
  }

  test("dup-ngram repetition signal is native and codegen'd (x62 shape)") {
    val df = Tables.load(spark, sfDir, "documents")
      .select($"doc_id",
        graft.functions.Text.dupNgramCharFrac($"text", 2).as("dup2"),
        graft.functions.Text.dupNgramCharFrac($"text", 3).as("dup3"))
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("NativeText.dupNgramCharFracEval("), plan)
    assert("\\*\\(\\d+\\) Project".r.findFirstIn(plan).isDefined,
      s"dup-ngram projection not codegen'd:\n$plan")
    // map-only: no exchange anywhere in the per-doc signal scan
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("semantic decontamination: bench broadcast, corpus never shuffled before the filter") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select($"vec_id", transform($"embedding",
        x => x.cast("double")).as("embedding"))
    val bench = emb.where($"vec_id" < 10)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    val df = graft.operators.Decontaminate.semantic(emb, bench, threshold = 0.9)
    df.collect() // finalize the AQE plan
    val plan = df.queryExecution.executedPlan.toString
    // the bench side must arrive via broadcast (nested-loop by design:
    // the scan streams the big corpus once against the in-memory bench)
    assert(plan.contains("BroadcastNestedLoop"), plan)
    assert(!plan.contains("CartesianProduct"), s"shuffled cartesian:\n$plan")
    // the threshold predicate is FUSED into the join condition, so
    // non-contaminated pairs die inside the nested-loop scan and only
    // contaminated rows ever reach the (partial-aggregated) top-1
    assert("BroadcastNestedLoopJoin BuildRight, Cross, \\(round\\(cosine_sim_native".r
      .findFirstIn(plan).isDefined,
      s"threshold not fused into the join condition:\n$plan")
    assert(plan.contains("partial_topkbyscore"),
      s"top-1 must partial-aggregate before the exchange:\n$plan")
  }

  test("curation signals are fully native: single WSCG stage, no CodegenFallback HOFs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val annotated = graft.operators.Curation.annotate(docs)
      .select("doc_id", "n_tok", "entropy", "top_bigram_frac", "dup_line_frac")
    // collect() finalizes THIS frame's AQE plan (the fan-out exchange
    // makes it adaptive; a noop write would execute a separate QE)
    annotated.collect()
    val plan = annotated.queryExecution.executedPlan.toString
    assert(plan.contains("NativeText.dupLineFracEval("), plan)
    assert(plan.contains("NativeText.charEntropyEval("), plan)
    // the signal projection must live inside whole-stage codegen
    assert("\\*\\(\\d+\\) Project".r.findAllIn(plan).nonEmpty,
      s"curation projection not in WSCG:\n$plan")
  }

  test("chunking emits struct<chunk,n_tok> natively — no re-tokenize of chunk text") {
    val plan = executedPlan(SparkEntry.queries("x22_chunking")(spark, sfDir))
    assert(plan.contains("NativeText.chunksWithCountsEval("), plan)
    assert(!plan.contains("split("), s"chunk text must not be re-split for counts:\n$plan")
  }

  test("packing: one hash exchange on the group key, no global sort") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", ($"doc_id" % 3).as("grp"),
        graft.functions.Text.tokenCount($"text").as("nt"))
    val packed = graft.operators.Packing.contiguous(docs, "grp", "doc_id", "nt", 512L)
    packed.collect()
    val plan = packed.queryExecution.executedPlan.toString
    // the window partitions by group — a hash exchange, never a
    // rangepartitioning (that would be a global sort that can't shard)
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"packing must not globally sort:\n$plan")
  }

  test("sharded packing: window keyed by (group, shard), all shards populated") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", ($"doc_id" % 3).cast("string").as("grp"),
        graft.functions.Text.tokenCount($"text").as("nt"))
    val packed = graft.operators.Packing.contiguousSharded(
      docs, "grp", "doc_id", "nt", 512L, nShards = 16)
    packed.collect()
    val plan = packed.queryExecution.executedPlan.toString
    // the exchange must hash on BOTH group and shard — that is what
    // splits a dominant group's sort across tasks
    assert(plan.contains("Exchange hashpartitioning"), plan)
    assert("hashpartitioning\\(grp[^)]*_shard".r.findFirstIn(plan).isDefined,
      s"window not keyed by (group, shard):\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"sharded packing must not globally sort:\n$plan")
    // and the shards must actually spread the data: with 500 docs and
    // 16 equal hex ranges every shard should be non-empty
    val shardsUsed = packed.select((col("seq_id") % 16).as("s"))
      .distinct().count()
    assert(shardsUsed >= 12, s"only $shardsUsed shards populated")
  }

  test("incremental dedup: batch×corpus candidates come from an equi band join, never a cartesian") {
    // sf0.001 has 50 docs — corpus 30 / batch 20; shape, not volume.
    // Assert the candidate stage itself: dedupIncremental materializes
    // it eagerly inside hybridVerify, so the final frame's plan would
    // not show the band join. Cross (side 1) and intra (side 0)
    // candidates must both come out of ONE (band, bucket) equi-join.
    val docs = Tables.load(spark, sfDir, "documents")
    val bSig = graft.operators.Dedup.signatureTable(
      docs.where($"doc_id" >= 30), shingleSize = 5)
    val cSig = graft.operators.Dedup.signatureTable(
      docs.where($"doc_id" < 30), shingleSize = 5)
    val cand = graft.operators.Dedup.bandCandidates(Seq(bSig, cSig))
    val plan = executedPlan(cand).split("== Initial Plan ==").head
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"candidates must stay equi-join shaped:\n$plan")
    val joins = "(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin) \\[".r
      .findAllIn(plan).length
    assert(joins == 1, s"expected one band join, found $joins:\n$plan")
    assert("Join \\[band#\\d+L?, bucket#\\d+L?\\]".r.findFirstIn(plan).isDefined,
      s"band join not keyed on (band, bucket):\n$plan")
    val sides = cand.select("side").distinct().as[Int].collect().toSet
    assert(sides == Set(0, 1), s"candidate sides $sides")
  }

  /** Final executed plans of the Dataset actions `body` runs, in order
    * (eager checkpoints included). A sentinel action run afterwards
    * marks the point where every earlier one has been delivered (the
    * listener bus keeps their order). */
  private def plansOf(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val sentinel = s"plans-of-end-${System.nanoTime()}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains(sentinel)) drained.countDown()
        else { plans.add(plan.split("== Initial Plan ==").head); () }
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(lit(sentinel)).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      import scala.jdk.CollectionConverters._
      plans.asScala.toList
    } finally spark.listenerManager.unregister(listener)
  }

  /** Keys of the shuffle (non-broadcast) exchanges in `plan`. */
  private def shuffleKeys(plan: String): List[String] =
    "(?<!Broadcast)Exchange hashpartitioning\\((\\w+#\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toList

  test("incremental dedup: one fingerprint exchange for exact copies; under the cap the drop set is local") {
    // a corpus near-dup, an intra-batch near-dup pair and an exact
    // copy, so the corpus dups, the non-canonical ids and the exact
    // losers are all non-empty
    val a = "the quick brown fox jumps over the lazy dog while " +
      "the sun sets slowly behind the distant mountains of the west"
    val d = "observability dashboards aggregate latency percentiles " +
      "error rates and saturation metrics across distributed services for the oncall engineer"
    val dir = SparkTestSession.tempDir("plan_admit").toString
    Seq((100L, a)).toDF("doc_id", "text").write.parquet(s"$dir/corpus")
    Seq((1L, a.replace("slowly", "quickly")), (2L, d), (3L, d.replace("oncall", "platform")),
      (4L, d)).toDF("doc_id", "text").write.parquet(s"$dir/batch")
    var admitted: DataFrame = null
    val plans = plansOf {
      admitted = graft.operators.Dedup.dedupIncremental(spark.read.parquet(s"$dir/batch"),
        spark.read.parquet(s"$dir/corpus"), threshold = 0.5)
      assert(admitted.select("doc_id").as[Long].collect().toSeq == Seq(2L))
    }
    // the exact-copy groups come from ONE window over the batch rows:
    // over the whole admission, one exchange keyed on the raw-text
    // fingerprint, and no aggregate over it
    def fpKeys(p: String) = shuffleKeys(p).filter(k =>
      s"xxhash64\\(text#\\d+, 42\\) AS \\Q$k\\E".r.findFirstIn(p).isDefined)
    assert(plans.map(fpKeys(_).size).sum == 1,
      s"expected one fingerprint exchange:\n${plans.mkString("\n")}")
    // the plan that runs it (the window's checkpoint) shuffles nothing else
    val window = plans.find(fpKeys(_).nonEmpty).get
    assert(shuffleKeys(window).size == 1, s"expected one shuffle exchange:\n$window")
    plans.foreach(p => assert("Aggregate\\(keys=\\[[^\\]]*(xxhash64|_fp)".r.findFirstIn(p).isEmpty,
      s"exact-copy groups must not be aggregated:\n$p"))
    // ... and it runs before the result is returned: the final plan
    // reads the checkpointed groups and shuffles nothing
    val plan = executedPlan(admitted).split("== Initial Plan ==").head
    assert(shuffleKeys(plan).isEmpty, s"the final plan must not shuffle:\n$plan")
    // the near-dup drop set was built on the driver: a local relation,
    // and no shuffled join against the corpus dups
    assert("LocalTableScan \\[doc_id#".r.findFirstIn(plan).isDefined,
      s"drop set must be a local relation under the cap:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"no shuffled join expected under the cap:\n$plan")
  }

  test("semantic dedup pairs: equi-join on the cell id, never a cartesian") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val idx = graft.functions.Ivf.indexFor(s"plan-semdedup:$sfDir", emb, k = 4, iters = 1)
    val pairs = graft.operators.SemDedup.semanticPairs(
      emb, idx, threshold = 0.9, probes = 2)
    val plan = executedPlan(pairs)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"within-cell candidates must stay equi-join shaped:\n$plan")
    assert(plan.contains("cell"), plan)
  }

  test("weightedSample and epochs are map-only: filter over the scan, no exchange") {
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"source")
    val sampled = graft.operators.Mixing.weightedSample(
      docs, "source", "doc_id", Seq("src0" -> 0.5), defaultRate = 0.1)
    assert(!executedPlan(sampled).contains("Exchange"),
      s"sampling must not shuffle:\n${executedPlan(sampled)}")
    val rep = graft.operators.Mixing.epochs(
      docs, "source", "doc_id", Seq("src0" -> 2.5), defaultFactor = 1.0)
    assert(!executedPlan(rep).contains("Exchange"),
      s"epoch repetition must not shuffle:\n${executedPlan(rep)}")
  }

  test("stratifiedExact: ranks via range-rank, never a window (hot-stratum safe)") {
    val cust = Tables.load(spark, sfDir, "customer")
    val plan = executedPlan(graft.operators.Sampling.stratifiedExact(
      cust, "c_mktsegment", "c_custkey", n = 5, salt = "p"))
    assert(!plan.contains("Window"),
      s"stratified selection must not per-stratum window-sort:\n$plan")
    // the range-rank exchange itself is hidden behind globalRowNumber's
    // localCheckpoint (Scan ExistingRDD) — RanksSpec pins that shape
    assert(!plan.contains("Exchange SinglePartition"),
      s"single-task collapse:\n$plan")
  }

  test("Sampling.weightedSample: global top-n plans as TakeOrderedAndProject") {
    val part = Tables.load(spark, sfDir, "part")
    val plan = executedPlan(graft.operators.Sampling.weightedSample(
      part, "p_partkey", "p_retailprice", n = 20, salt = "p"))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-n fell back to a global sort:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort in a LIMIT plan:\n$plan")
  }

  test("madOutliers: no window, no single-partition collapse (x111 shape)") {
    val li = Tables.load(spark, sfDir, "lineitem")
    // Spark's injected runtime bloom-filter subquery builds its (tiny)
    // filter with a global agg — a SinglePartition exchange that is
    // NOT a data-path collapse; disable it so the assert sees only
    // the operator's own exchanges
    val key = "spark.sql.optimizer.runtime.bloomFilter.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val plan = executedPlan(graft.operators.Outliers.madOutliers(
        li, "l_returnflag", "l_extendedprice"))
      // the selection windows are keyed by (group[, bucket]) and see
      // only histogram rows / one bucket of one group — what must
      // never appear is a single-partition collapse or a global sort
      assert(!plan.contains("Exchange SinglePartition"),
        s"single-task collapse:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        s"global sort in the selection path:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("interval merge: no Window, no key shuffle — range scan + coverage agg only") {
    val li = Tables.load(spark, sfDir, "lineitem")
      .withColumn("s", to_date($"l_shipdate"))
      .withColumn("e", date_add(to_date($"l_shipdate"), $"l_linenumber"))
    // the island pass itself must be window-free and hash-shuffle-free:
    // its one exchange is the RANGE partition pinned inside the
    // persisted islands frame (a hot key spreads across partitions there), and
    // the boundary fix-up joins back via broadcast
    val islands = graft.operators.Intervals.mergeIslands(
      li, "l_suppkey", "s", "e", Seq("l_orderkey", "l_linenumber"))
    val iPlan = executedPlan(islands)
    assert(!iPlan.contains("Window"), s"island pass must not window:\n$iPlan")
    assert(!iPlan.contains("Exchange hashpartitioning"),
      s"island pass must not key-shuffle:\n$iPlan")
    assert(!iPlan.contains("Exchange SinglePartition"), iPlan)
    // coverage adds exactly the one islands-sized key aggregation
    val plan = executedPlan(graft.operators.Intervals.coverageByKey(
      li, "l_suppkey", "s", "e", Seq("l_orderkey", "l_linenumber")))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 shuffle, got $shuffles:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"), plan)
  }

  test("capPerDomain: partial top-k before the shuffle, broadcast semi join back") {
    val docs = Tables.load(spark, sfDir, "documents")
    val capped = graft.operators.Mixing.capPerDomain(docs, "source", "doc_id", 5)
    val plan = executedPlan(capped)
    // bounded-heap UDAF partial-aggregates map-side (ObjectHashAggregate
    // appears twice: partial + final), and the id fetch-back is a
    // broadcast semi join — the corpus is never window-sorted per domain
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
    assert(!plan.contains("Window"), s"cap must not window-sort the corpus:\n$plan")
  }

  test("sort-based percentiles: single hash exchange feeds the window pair") {
    val orders = Tables.load(spark, sfDir, "orders")
    val pct = graft.operators.Percentiles.exact(
      orders, "o_orderpriority", "o_totalprice", Seq("p50" -> 0.5))
    pct.collect()
    // count only the finalized section — the AQE string repeats the
    // exchange once more under "== Initial Plan =="
    val plan = pct.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, s"expected 1 hash exchange, got $shuffles:\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"no value-map aggregate buffer may appear:\n$plan")
  }

  test("tokenBudgetSharded: window keyed by (domain, shard) — hot domain spreads") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", $"source",
        graft.functions.Text.tokenCount($"text").as("nt"))
    val kept = graft.operators.Mixing.tokenBudgetSharded(
      docs, "source", "doc_id", "nt", Seq("src0" -> 100000L),
      defaultBudget = 100000L)
    kept.collect()
    val plan = kept.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the cumsum window's exchange must hash on BOTH the domain and
    // the hash-shard — that is what splits a hot domain's sort
    assert("hashpartitioning\\(source[^)]*__tb_shard".r.findFirstIn(plan).isDefined,
      s"window not keyed by (domain, shard):\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"sharded budget must not globally sort:\n$plan")
  }

  test("exactSharded percentiles: rank window keyed by (group, value shard)") {
    val orders = Tables.load(spark, sfDir, "orders")
    val pct = graft.operators.Percentiles.exactSharded(
      orders, "o_orderpriority", "o_totalprice", Seq("p50" -> 0.5), nShards = 8)
    pct.collect()
    val plan = pct.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("hashpartitioning\\(__g[^)]*__shard".r.findFirstIn(plan).isDefined,
      s"rank window not keyed by (group, shard):\n$plan")
    assert(!plan.contains("ObjectHashAggregate"),
      s"no value-map aggregate buffer may appear:\n$plan")
  }

  test("BM25 score: map-only tf, no token-level shuffle, 1-row broadcast stats") {
    val docs = Tables.load(spark, sfDir, "documents")
    val df = graft.operators.Bm25.score(docs, Seq("window", "column", "scan"))
    val plan = executedPlan(df)
    // the corpus must never be exploded into (doc, term) rows and
    // shuffled by key: the only exchanges allowed are the broadcast
    // of the 1-row stats frame and the stats aggregation's own
    // single-partition reduce — no hash-partitioned exchange of doc
    // rows, no Generate (explode) anywhere
    assert(!plan.contains("Generate"), s"token explode reappeared:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"stats not broadcast:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 0,
      s"token-level/doc-level hash shuffle in BM25 score ($hashExchanges):\n$plan")
  }

  test("centroidOutliers: one label agg with map-side partials, sums broadcast, corpus never shuffled") {
    val emb = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), (col("vec_id") % 4).as("label"), col("embedding"))
    val df = graft.functions.Sim.centroidOutliers(emb, minCos = 0.7)
    val plan = executedPlan(df)
    // per-label sums come back as a broadcast; the corpus side must
    // only be exchanged once — for the label aggregation itself,
    // which partial-aggregates to one row per label per partition
    assert(plan.contains("BroadcastExchange"), s"label sums not broadcast:\n$plan")
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashExchanges == 1,
      s"corpus-side shuffle beyond the label agg ($hashExchanges):\n$plan")
    // the partial marker specifically — a bare ObjectHashAggregate
    // also appears in complete-mode plans, so it proves nothing
    assert(plan.contains("partial_vectorsum"),
      s"no partial aggregation before the label shuffle:\n$plan")
  }

  test("fanOut is identity when the input already has enough partitions") {
    val target = spark.sparkContext.defaultParallelism
    val docs = Tables.load(spark, sfDir, "documents")
    val wide = docs.repartition(target)
    assert(graft.operators.Dedup.fanOut(wide) eq wide)
    // contract (environment-independent): under-parallel inputs are
    // widened to the default parallelism, others pass through
    val p0 = docs.rdd.getNumPartitions
    if (p0 < target)
      assert(graft.operators.Dedup.fanOut(docs).rdd.getNumPartitions == target)
    else
      assert(graft.operators.Dedup.fanOut(docs) eq docs)
  }

  test("LM scoring: native bigram stream, pair-keyed count, no cartesian") {
    val docs = Tables.load(spark, sfDir, "documents")
    val lm = graft.operators.LmScore.lmFor(s"plan-lm:$sfDir",
      docs.where($"doc_id" < 30))
    val plan = executedPlan(
      graft.operators.LmScore.scoreBits(docs.where($"doc_id" >= 30), lm))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"LM joins must stay equi-join shaped:\n$plan")
    assert(plan.contains("NativeText.wordBigramsEval("), plan)
    val trainPlan = lm.big.queryExecution.executedPlan.toString
    assert(trainPlan.contains("HashAggregate(keys=[a") ||
      trainPlan.contains("InMemory"), // persisted artifact may show as cached scan
      s"bigram counts must partial-aggregate on the pair key:\n$trainPlan")
  }

  test("IVF-PQ: map-only encode, broadcast probes, native ADC — never a cartesian") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val idx = Ivf.indexFor(s"plan-pq-ivf:$sfDir", emb, k = 4, iters = 1)
    val books = graft.functions.Pq.codebooksFor(
      s"plan-pq:$sfDir", emb, m = 4, ksub = 8, iters = 1)
    val coded = graft.functions.Pq.encodeLists(emb, idx, books)
    // encode is one native pass over the scan: no exchange in its plan
    val encPlan = coded.queryExecution.executedPlan.toString
    assert(!encPlan.contains("Exchange"),
      s"encodeLists must be map-only:\n$encPlan")
    assert(encPlan.contains("pq_encode_native")
      && encPlan.contains("nearest_centroid_native"), encPlan)
    val res = graft.functions.Pq.search(
      emb.where($"vec_id" < 5), coded, idx, books, k = 3, nprobe = 2)
    val plan = executedPlan(res)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"probe join must stay equi-join shaped:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("pq_adc_sim_native"), plan)
  }

  test("span dedup: hash-keyed window count + semi join, one doc-keyed sort — never a cartesian") {
    val docs = Tables.load(spark, sfDir, "documents")
    val plan = executedPlan(
      graft.operators.SpanDedup.duplicatedSpans(docs, k = 8))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"duplicated-window probe must stay equi-join shaped:\n$plan")
    // duplicated-window counts reduce through a partial aggregate on
    // the 64-bit window hash (map-side combine — NOT a raw window
    // count, which would have no partial reduction under a hot gram)
    assert(plan.contains("HashAggregate(keys=[gh1"), plan)
    // the window stream is a native expression over the scan — no
    // CodegenFallback HOF chain feeding the posexplode
    assert(plan.contains("NativeText.wordNgramHashPairsEval(")
      && plan.contains("NativeText.tokensEval("), plan)
    val rewrite = executedPlan(
      graft.operators.SpanDedup.dedupSpans(docs, k = 8))
    assert(!rewrite.contains("CartesianProduct") && !rewrite.contains("BroadcastNestedLoop"),
      s"span rewrite join must stay equi-join shaped:\n$rewrite")
    assert(rewrite.contains("NativeText.removeTokenRangesEval("), rewrite)
  }

  test("SemiAntiRightDedup: non-broadcastable anti/semi right sides dedup before the join") {
    val p = Tables.load(spark, sfDir, "part")
    val li = Tables.load(spark, sfDir, "lineitem")
    def anti = p.join(li, p("p_partkey") === li("l_partkey"), "left_anti")
      .select($"p_partkey")
    def semi = p.join(li, p("p_partkey") === li("l_partkey"), "left_semi")
      .select($"p_partkey")
    val threshold0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcasting disabled → every right side is "too big to
      // broadcast" → the rule must fire: a HashAggregate keyed on the
      // join key sits under the join's right (streamed fact) side
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      for ((df, tag) <- Seq((anti, "anti"), (semi, "semi"))) {
        val plan = executedPlan(df)
        assert(plan.contains("HashAggregate(keys=[l_partkey"),
          s"$tag right side not deduped before the join:\n$plan")
      }
      // rewrite is semantics-preserving: same rows as with the rule
      // guaranteed inert (tiny right side broadcasts)
      val dedupRows = anti.orderBy($"p_partkey").as[Long].collect().toSeq
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)
      val plainPlan = executedPlan(anti)
      assert(!plainPlan.contains("HashAggregate"),
        s"rule should leave broadcast-able right sides alone:\n$plainPlan")
      assert(anti.orderBy($"p_partkey").as[Long].collect().toSeq == dedupRows)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)
  }

  test("SemiAntiRightDedup: fires for SQL NOT EXISTS; skips non-equi and zero-column right sides") {
    val p = Tables.load(spark, sfDir, "part")
    val li = Tables.load(spark, sfDir, "lineitem")
    p.createOrReplaceTempView("sard_part")
    li.createOrReplaceTempView("sard_lineitem")
    val threshold0 = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // SQL NOT EXISTS becomes an anti join only in the late
      // RewriteSubquery batch — the extraOptimizations registration
      // (not the extension-injected copy) must catch it
      val sqlAnti = spark.sql(
        """SELECT p_partkey FROM sard_part p
           WHERE NOT EXISTS (SELECT 1 FROM sard_lineitem l
                             WHERE l.l_partkey = p.p_partkey)""")
      assert(executedPlan(sqlAnti).contains("HashAggregate(keys=[l_partkey"),
        s"SQL NOT EXISTS right side not deduped:\n${executedPlan(sqlAnti)}")
      // a non-equi right column in the condition would make the
      // aggregate partition on (key, qty) and force a SECOND right
      // exchange — the rule must decline
      val mixed = p.join(li,
        p("p_partkey") === li("l_partkey") && li("l_quantity") > p("p_size"),
        "left_semi")
      assert(!executedPlan(mixed).contains("HashAggregate"),
        s"non-equi right side must not be wrapped:\n${executedPlan(mixed)}")
      // zero right columns → grouping by nothing is a GLOBAL
      // aggregate that emits a row on empty input and flips the
      // existential — the rule must decline, and the empty-right
      // anti join must still return every left row
      val emptyRight = li.where($"l_partkey" < 0)
      val noCols = p.join(emptyRight, p("p_partkey") > 0, "left_anti")
      assert(!executedPlan(noCols).contains("HashAggregate"),
        s"zero-column right side must not be wrapped:\n${executedPlan(noCols)}")
      assert(noCols.count() == p.count(),
        "anti join against an empty right side must keep every left row")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold0)
      spark.catalog.dropTempView("sard_part")
      spark.catalog.dropTempView("sard_lineitem")
      ()
    }
  }

  test("robots verdicts: match fused into one equi join, one partial-agg groupBy, no window sort") {
    import spark.implicits._
    val urls = (1L to 2000L)
      .map(i => (i, s"https://h${i % 5}.com/p$i")).toDF("doc_id", "url")
    val rules = Seq(("h1.com", "disallow", "/p1"), ("h2.com", "allow", "/"))
      .toDF("host", "directive", "pattern")
    val plan = executedPlan(graft.operators.Robots.verdicts(urls, rules))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), s"longest-match must be an agg, not a window sort:\n$plan")
    assert(plan.contains("NativeRobots.robotsMatchEval("), s"match must be the native expr in the join:\n$plan")
    assert(plan.contains("partial_max"),
      s"THIS groupBy's longest-match max must map-side combine:\n$plan")
  }

  test("NB classifier scoring: broadcast label fan-out, never a cartesian") {
    import spark.implicits._
    val m = graft.operators.TextClassifier.train(
      Seq((1L, "a", "x y z"), (2L, "b", "p q r")).toDF("doc_id", "label", "text"))
    val docs = (1L to 500L).map(i => (i, s"x p doc $i")).toDF("doc_id", "text")
    val plan = executedPlan(graft.operators.TextClassifier.classify(docs, m))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"label fan-out must ride a broadcast:\n$plan")
    graft.operators.TextClassifier.clearModelCache()
  }

  test("z-order values: bucket+interleave stays whole-stage-codegen map arithmetic") {
    val li = Tables.load(spark, sfDir, "lineitem")
    val z = li.select(graft.catalog.ZOrder.zValue(li, "l_partkey", "l_suppkey", 16).as("z"))
    val plan = z.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), // the WSCG stage marker
      s"z arithmetic must stay in whole-stage codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"z computation must not shuffle:\n$plan")
  }

  test("temperature mixing: the applied plan is one map-only filter (sizes precomputed)") {
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"source")
    val kept = graft.operators.Mixing.temperatureSample(docs, "source", "doc_id", alpha = 0.5)
    val plan = kept.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"the keep predicate must be map-only:\n$plan")
    assert(!plan.contains("Join"), s"rates ride a literal when-chain, not a join:\n$plan")
  }

  test("funnel: step filter pushed to the scan, exactly one user-keyed shuffle") {
    val ev = Tables.load(spark, sfDir, "events")
    val f = graft.operators.Funnel.funnel(ev,
      Seq("view", "click", "purchase"), windowSeconds = Some(7L * 86400))
    val plan = executedPlan(f)
    // step-type filter reaches the parquet scan — a 100 TB event table
    // is read only for the funnel's event types
    assert(plan.contains("In(event_type"),
      s"step filter must push into the scan:\n$plan")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"funnel must shuffle once (by user), got $shuffles:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("retention: aggregations and join only — never a cartesian or broadcast loop") {
    val ev = Tables.load(spark, sfDir, "events")
    val plan = executedPlan(graft.operators.Funnel.retention(ev))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("DSIR weights: one gram pass (ReusedExchange), ratio table broadcasts") {
    val docs = Tables.load(spark, sfDir, "documents").select($"doc_id", $"text")
    val w = graft.operators.Dsir.importanceWeights(
      docs, docs.where($"doc_id" % 3 === 0))
    val plan = executedPlan(w)
    assert(plan.contains("BroadcastHashJoin"),
      s"the ≤4096-row ratio table must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
    // exactly ONE fused gram pass in the final plan — the weight
    // sum's; the histogram pass runs once inside the pinned joined-
    // histogram job. More means a consumer re-tokenizing a corpus.
    val gramPasses = "word_gram_buckets_native".r.findAllIn(plan).length
    assert(gramPasses == 1,
      s"expected 1 fused gram pass in the final plan, got $gramPasses:\n$plan")
  }

  test("entity pairs: blocked equi join with the native JW predicate fused, never all-pairs") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select($"doc_id", concat(lit("name "), $"doc_id").as("name"))
    val p = graft.operators.EntityResolution.pairs(
      docs, "doc_id", "name", threshold = 0.9)
    val plan = executedPlan(p)
    assert(plan.contains("NativeEditSim.jaroWinklerEval("),
      s"similarity must ride the join as the native expression:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"blocking must make this an equi join:\n$plan")
  }

  test("dims: all 15 code sets from ONE trusted-zone scan, partial collect_set before one exchange") {
    import graft.pipeline.FjcPipeline
    val trustedDir = SparkTestSession.tempDir("plan_trusted").toString
    FjcPipeline.quality(FjcPipeline.readRaw(spark, getClass.getResource("/fjc_sample.tsv").getPath))
      .write.mode("overwrite").parquet(trustedDir)
    val plan = executedPlan(graft.ops.Dims.codes(spark.read.parquet(trustedDir),
      FjcPipeline.dims.map(_._2._1)))
    assert("FileScan parquet".r.findAllIn(plan).length == 1, s"one scan expected:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1, s"one exchange expected:\n$plan")
    // map-side partials sit below (print after) the exchange
    assert(plan.indexOf("partial_collect_set") > plan.indexOf("Exchange SinglePartition"),
      s"collect_set must be partial before the exchange:\n$plan")
  }

  test("expectations: all row rules in ONE aggregate over one scan; annotate map-only") {
    import graft.operators.Expectations._
    val li = Tables.load(spark, sfDir, "lineitem")
    // audit() executes eagerly; assert on the row-rule aggregation's
    // building blocks instead: annotate (the same rule expressions)
    // must stay a single map-only projection over the scan
    val ann = graft.operators.Expectations.annotate(li, Seq(
      NotNull("l_orderkey"), InRange("l_quantity", 1, 25),
      OneOf("l_returnflag", Seq("A", "N"))))
    val plan = executedPlan(ann)
    // one narrow Project over the scan: no shuffle, no join, no
    // window (the HOF filter itself is non-codegen — inherent to
    // higher-order functions, not a plan defect)
    assert(!plan.contains("Exchange"),
      s"annotate must be map-only — no shuffle:\n$plan")
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("expectations: fused chain never shuffles on the superset key; ref anti join is shuffled-hash") {
    import graft.operators.Expectations._
    val li = Tables.load(spark, sfDir, "lineitem")
    val audit = graft.operators.Expectations.audit(li,
      rowRules = Seq(NotNull("l_orderkey")),
      uniqueKeys = Seq(Seq("l_orderkey", "l_linenumber"), Seq("l_orderkey")),
      refs = Seq(("l_orderkey", Tables.load(spark, sfDir, "orders"),
        "o_orderkey")))
    val plan = executedPlan(audit)
    // the x99 shape: unique(pk,seq) must NOT group the raw data on
    // the fine key — its distinct count rides the base-key exchange
    assert(!plan.matches("(?s).*hashpartitioning\\(l_orderkey#\\d+L?, l_linenumber.*"),
      s"fused audit shuffled on the superset key:\n$plan")
    // single distinct aggregate — never the multi-distinct Expand
    assert(!plan.contains("Expand"), s"Expand reappeared:\n$plan")
    // the reference side is hinted SHUFFLE_HASH: per-partition hash
    // build of a keys-sized column (no sorts, no driver-sized
    // broadcast of a PK column at scale)
    assert(plan.contains("ShuffledHashJoin"),
      s"ref anti join must be shuffled-hash:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ref anti join fell back to SMJ:\n$plan")
    // the grouped base frame materializes ONCE: both the uniques and
    // ref branches read the same persisted InMemoryRelation (column
    // pruning would otherwise specialize each branch's subplan and
    // re-shuffle the full data per branch)
    val cacheReads = "InMemoryTableScan".r.findAllIn(plan).length
    assert(cacheReads >= 2,
      s"expected the uniques + ref branches to read the shared cache:\n$plan")
  }

  test("scd2: one key join, history passthrough, never a cartesian") {
    val c = Tables.load(spark, sfDir, "customer")
    val dim = c.select($"c_custkey".as("k"), $"c_mktsegment".as("seg"))
      .withColumn("valid_from", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("valid_to", lit(null).cast("timestamp"))
    val updates = c.where($"c_custkey" % 3 === 0)
      .select($"c_custkey".as("k"), lit("S").as("seg"))
    val out = graft.operators.Scd.apply2(dim, updates, Seq("k"),
      "2024-06-01 00:00:00")
    val plan = executedPlan(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"scd must join on the key:\n$plan")
    assert(!plan.contains("Window"),
      s"scd must not sort per key — no window:\n$plan")
    // the delta side broadcasts: kept/closed/reopened come from ONE
    // map-side pass over the current rows (a full-outer formulation
    // would shuffle the whole dimension — Spark never broadcasts a
    // full-outer side)
    assert(plan.contains("BroadcastHashJoin"),
      s"the updates delta must broadcast:\n$plan")
  }
}
