package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Sim
import graft.operators.Dedup

class DedupSimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val loremA = "the quick brown fox jumps over the lazy dog while " +
    "the sun sets slowly behind the distant mountains of the west"
  private val loremA2 = loremA.replace("slowly", "quickly") // near-dup of A
  private val loremB = "functional programming with immutable data structures " +
    "enables safe parallel computation across many machines in a cluster"
  private val loremC = "columnar storage formats compress repeated values well and let " +
    "query engines skip row groups whose statistics rule out the predicate"
  private val loremD = "observability dashboards aggregate latency percentiles " +
    "error rates and saturation metrics across distributed services for the oncall engineer"

  private lazy val docs = Seq(
    (0L, loremA), (1L, loremA2), (2L, loremB), (3L, loremA))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id per identical text") {
    val kept = Dedup.exact(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(0L, 1L, 2L)) // doc 3 == doc 0
  }

  test("fingerprint dedup counts duplicates") {
    val r = Dedup.byFingerprint(docs, "text", "doc_id")
      .where($"n_dups" === 2).select("doc_id").as[Long].collect().toSeq
    assert(r == Seq(0L))
  }

  test("minhash LSH finds the planted near-dup pair and the exact dup") {
    val pairs = Dedup.minhashLsh(docs, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near dup
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // B unrelated
  }

  test("simhash pairs finds near-dups within hamming 3") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical → hamming 0
  }

  test("ngram jaccard all-pairs agrees with minhash verify stage") {
    val pairs = Dedup.ngramJaccardPairs(docs, threshold = 0.5, shingleSize = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L)) && pairs.contains((0L, 1L)))
  }

  test("connectedComponents: chain a-b, b-c merges into one cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    // driver union-find under the cap, and the distributed star
    assert(Dedup.connectedComponentsAdaptive(pairs).as[(Long, Long)].collect().toMap == want)
    assert(Dedup.connectedComponentsStar(pairs).as[(Long, Long)].collect().toMap == want)
  }

  test("connectedComponentsStar equals driver union-find on adversarial graph shapes") {
    val rnd = new scala.util.Random(13)
    // a 60-node chain (worst case for O(diameter) propagation), a
    // 40-leaf star rooted at the max id, and a random sparse graph
    val chain = (0L until 59L).map(i => (i, i + 1))
    val star = (100L until 140L).map(i => (i, 999L))
    val random = Seq.fill(80)((200L + rnd.nextInt(60), 200L + rnd.nextInt(60)))
      .filter(p => p._1 != p._2)
    val pairs = (chain ++ star ++ random).toDF("id_a", "id_b")
    val viaDriver = Dedup.connectedComponentsAdaptive(pairs)
      .as[(Long, Long)].collect().toMap
    val viaStar = Dedup.connectedComponentsStar(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaDriver)
    assert(viaStar(59L) == 0L) // chain fully collapsed to its min
    assert(viaStar(999L) == 100L)
  }

  test("connectedComponentsAdaptive: driver path equals distributed on both sides of the cap") {
    val rnd = new scala.util.Random(29)
    val chain = (0L until 40L).map(i => (i, i + 1))
    val random = Seq.fill(60)((100L + rnd.nextInt(50), 100L + rnd.nextInt(50)))
      .filter(p => p._1 != p._2)
    val pairs = (chain ++ random).toDF("id_a", "id_b")
    // under the cap: driver union-find
    val viaDriver = Dedup.connectedComponentsAdaptive(pairs)
      .as[(Long, Long)].collect().toMap
    assert((0L to 40L).forall(viaDriver(_) == 0L)) // chain fully merged
    // cap forced to 0: must fall through to the distributed path and
    // still agree
    val viaFallthrough = Dedup.withCcDriverCap(0)(Dedup.connectedComponentsAdaptive(pairs))
      .as[(Long, Long)].collect().toMap
    assert(viaFallthrough == viaDriver)
    // non-numeric ids: min is Spark's own ordering (lexicographic)
    val strPairs = Seq(("b", "a"), ("b", "c"), ("z", "y")).toDF("id_a", "id_b")
    val strComps = Dedup.connectedComponentsAdaptive(strPairs)
      .as[(String, String)].collect().toMap
    assert(strComps == Map("a" -> "a", "b" -> "a", "c" -> "a", "y" -> "y", "z" -> "y"))
    // empty pair set: empty labels, correct schema
    val empty = Dedup.connectedComponentsAdaptive(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    assert(empty.columns.toSeq == Seq("id", "component") && empty.count() == 0)
  }

  test("production dedup entry points: 100+-hop chain, distributed CC branch") {
    // 120 sliding-window docs: consecutive docs share 20 of 21
    // shingles (jaccard ≈ 0.91 ≥ 0.85), two-step share 19 of 23
    // (≈ 0.83 < 0.85) — so the verified pair graph is a 119-hop
    // chain, the worst case for O(diameter) propagation. A driver cap
    // of 0 forces the distributed branch that production hits at
    // corpus scale; exact components ⇒ a single survivor (min id).
    val words = (0 until 145).map(i => s"w$i")
    val chainDocs = (0 until 120)
      .map(i => (i.toLong, words.slice(i, i + 25).mkString(" ")))
      .toDF("doc_id", "text")
    val survivors = Dedup.withCcDriverCap(0)(Dedup.dedupNearDups(chainDocs, threshold = 0.85)
      .select("doc_id").as[Long].collect().sorted.toSeq)
    assert(survivors == Seq(0L))
    val emptyCorpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val admitted = Dedup.withCcDriverCap(0)(Dedup.dedupIncremental(chainDocs, emptyCorpus,
        threshold = 0.85)
      .select("doc_id").as[Long].collect().sorted.toSeq)
    assert(admitted == Seq(0L))
  }

  test("dedupNearDups keeps one representative per cluster + unpaired docs") {
    val survivors = Dedup.dedupNearDups(docs, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // cluster {0,1,3} (near-dups + exact dup) collapses to 0; 2 unpaired
    assert(survivors == Seq(0L, 2L))
  }

  test("dedupIncremental: corpus dups dropped, survivors clustered, short docs admitted") {
    val loremD2 = loremD.replace("oncall", "platform") // near-dup of D
    val corpus = Seq((100L, loremA), (101L, loremB)).toDF("doc_id", "text")
    val batch = Seq(
      (200L, loremA2), // near-dup of corpus 100 → dropped
      (201L, loremD),  // novel → admitted (cluster representative)
      (202L, loremD2), // intra-batch near-dup of 201 → dropped
      (203L, "tiny")   // below shingle size → no signature → admitted
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupIncremental(batch, corpus, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(201L, 203L))
  }

  test("dedupIncremental: a batch id equal to a corpus id stays on its own side") {
    val loremC2 = loremC.replace("compress", "encode")
    val loremD2 = loremD.replace("oncall", "platform")
    val corpus = Seq((5L, loremA), (8L, loremC)).toDF("doc_id", "text")
    val batch = Seq(
      (3L, loremD2), // intra-batch near-dup of batch 5 → canonical, admitted
      (5L, loremD),  // novel vs the corpus (corpus 5 is A) → clusters under 3
      (6L, loremA2), // near-dup of corpus 5 (not of batch 5) → dropped
      (8L, loremC2)  // near-dup of corpus 8, same id → dropped
    ).toDF("doc_id", "text")
    // keyed on id alone, (6, corpus 5) or (3, batch 5) would be checked
    // against the other side's text, and (8, corpus 8) would never pair
    val kept = Dedup.dedupIncremental(batch, corpus, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(3L))
  }

  test("dedupIncremental: a cluster whose min id is a corpus dup admits its next member") {
    // 25-word sliding windows: one step apart is above 0.85, two steps
    // apart below it, so corpus 100 ~ batch 1 ~ batch 2 ~ batch 3 is a
    // chain and only batch 1 is a corpus dup
    val words = (0 until 30).map(i => s"w$i")
    def window(i: Int) = words.slice(i, i + 25).mkString(" ")
    val corpus = Seq((100L, window(0))).toDF("doc_id", "text")
    val batch = Seq((1L, window(1)), (2L, window(2)), (3L, window(3)))
      .toDF("doc_id", "text")
    // survivors-then-cluster: {2, 3} cluster under 2; clustering the
    // whole batch first would put 2 under the dropped 1 and admit none
    val kept = Dedup.dedupIncremental(batch, corpus, threshold = 0.85)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L))
  }

  // exact copies in every role the batch-side pre-collapse must handle
  private lazy val replicaCorpus = Seq((100L, loremA), (101L, loremB)).toDF("doc_id", "text")
  private lazy val replicaBatch = Seq[(Option[Long], String)](
    (Some(10L), loremD), (Some(12L), loremD), (Some(15L), loremD), // novel: 10 admitted
    (Some(20L), loremA2), (Some(21L), loremA2), // rep 20 is a corpus near-dup: both drop
    (Some(30L), loremC), // clusters over 31 at 0.5
    (Some(31L), loremC.replace("compress", "encode")), // group {31, 35}: min id under 30
    (Some(35L), loremC.replace("compress", "encode")),
    (Some(40L), null), // no text: admitted
    (Some(41L), "tiny"), (Some(42L), "tiny"), // sub-shingle copies: both admitted
    (None, loremD) // no id: never a loser, admitted
  ).toDF("doc_id", "text")

  private def admittedIds(df: org.apache.spark.sql.DataFrame): Seq[Option[Long]] =
    df.select("doc_id").collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toSeq.sorted

  test("dedupIncremental: exact copies in the batch, driver and distributed drop sets agree") {
    val want = Seq(None, Some(10L), Some(30L), Some(40L), Some(41L), Some(42L))
    val viaDriver = admittedIds(
      Dedup.dedupIncremental(replicaBatch, replicaCorpus, threshold = 0.5))
    assert(viaDriver == want)
    // cap 0: the verified pairs exceed it, so the drop set is built by
    // the distributed anti-joins and components instead
    val distributed = Dedup.withCcDriverCap(0)(admittedIds(
      Dedup.dedupIncremental(replicaBatch, replicaCorpus, threshold = 0.5)))
    assert(distributed == viaDriver)
  }

  test("dedupIncremental: int batch ids against long corpus ids") {
    // the band union widens the batch ids of intra pairs to the corpus
    // id type; the drop set must still use the batch's own id type.
    // At 0.86 every non-identical candidate is in the near band
    // (0.86 + margin > 1), so the driver-side re-check looks up batch
    // ids of both sides by their widened keys: D~D' (Jaccard 0.852)
    // fails it, A2~corpus A (0.864) passes
    val batch = Seq((1, loremD), (2, loremD.replace("oncall", "platform")), (3, loremA2))
      .toDF("doc_id", "text")
    // caps: driver drop set; distributed anti-joins with driver
    // components (at 0.5: 2 verified pairs, 1 intra); distributed
    // throughout
    for ((threshold, want) <- Seq(0.5 -> Seq(1), 0.86 -> Seq(1, 2)); cap <- Seq(100000, 1, 0)) {
      Dedup.withCcDriverCap(cap) {
        val kept = Dedup.dedupIncremental(batch, replicaCorpus, threshold)
        assert(kept.schema("doc_id").dataType == org.apache.spark.sql.types.IntegerType)
        assert(kept.select("doc_id").as[Int].collect().sorted.toSeq == want,
          s"threshold $threshold cap $cap")
      }
    }
  }

  /** Spark jobs started by `body` on this thread, from a listener. A
    * sentinel job run afterwards marks the point where every earlier
    * job-start event has been delivered (the bus keeps their order). */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"job-count-${System.nanoTime()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => seen.incrementAndGet(); ()
          case g if g == group + "-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      body
      sc.setJobGroup(group + "-end", "job count sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      seen.get
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  test("dedupIncremental admits a batch in a bounded number of Spark jobs") {
    val jobs = jobsOf {
      Dedup.dedupIncremental(replicaBatch, replicaCorpus, threshold = 0.5)
        .select("doc_id").collect()
      ()
    }
    // 14 on this fixture; 15 with the exact-copy window run again by
    // the final anti-join, 25 with the exact-copy groups aggregated
    // twice and the drop set built by shuffled anti-joins
    assert(jobs <= 14, s"$jobs Spark jobs for one admission")
  }

  test("dedupNearDups builds and anti-joins in a bounded number of Spark jobs") {
    val jobs = jobsOf {
      Dedup.dedupNearDups(nearCorpus, threshold = 0.86).select("doc_id").collect()
      ()
    }
    // 20 on this fixture, whose near-threshold band holds every
    // non-identical candidate (0.86 + margin > 1); 26 with the near
    // sliver re-checked by a shuffled text fetch and shingle-set joins
    assert(jobs <= 20, s"$jobs Spark jobs for one build")
  }

  test("collectAtMost over a checkpointed frame: one job, over-cap detected") {
    val df = spark.range(0, 100, 1, 4).toDF("id").localCheckpoint()
    assert(df.rdd.getNumPartitions == 4)
    var under: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { under = Dedup.collectAtMost(df, 100) } == 1)
    assert(under.map(_.map(_.getLong(0)).sorted.toSeq).contains(0L until 100L))
    var over: Option[Array[org.apache.spark.sql.Row]] = Some(Array.empty)
    assert(jobsOf { over = Dedup.collectAtMost(df, 99) } == 1)
    assert(over.isEmpty)
    // a local relation is read from its plan, with no job at all
    assert(jobsOf { under = Dedup.collectAtMost(Seq(1L, 2L).toDF("id"), 100) } == 0)
    assert(under.map(_.map(_.getLong(0)).toSeq).contains(Seq(1L, 2L)))
    // a lazy input, also an RDD that is not checkpointed, is never
    // squeezed into one task: the limit reads it partition by
    // partition, in more than one job (the explode hides the row
    // count, which would otherwise let the optimizer drop the limit)
    val lazyRdd = spark.createDataFrame(spark.sparkContext.parallelize(0L until 100L, 4)
      .map(org.apache.spark.sql.Row(_)), df.schema)
    Seq(spark.range(0, 100, 1, 4).select(explode(array($"id")).as("id")), lazyRdd)
      .foreach { lazyDf =>
        assert(jobsOf { under = Dedup.collectAtMost(lazyDf, 100) } > 1)
        assert(under.map(_.map(_.getLong(0)).sorted.toSeq).contains(0L until 100L))
      }
  }

  test("dedupIncremental with an empty corpus equals dedupNearDups") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val inc = Dedup.dedupIncremental(docs, empty, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val full = Dedup.dedupNearDups(docs, threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(inc == full)
  }

  test("cosine: identical vectors → 1, orthogonal → 0") {
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f)))
      .toDF("a", "b")
      .select(round(Sim.cosine(Sim.asDouble($"a"), Sim.asDouble($"b")), 6).as("c"))
      .as[Double].collect().toSeq
    assert(df == Seq(1.0, 0.0))
  }

  test("knnBrute returns k nearest by cosine, excluding self") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0f, 1f)), (3L, Seq(1f, 0.05f)))
      .toDF("vec_id", "embedding")
    val r = Sim.knnBrute(vecs.where($"vec_id" === 0), vecs, k = 2)
      .select("neighbor_id", "rnk").as[(Long, Long)].collect().toSeq
    assert(r == Seq((3L, 1L), (1L, 2L))) // 3 is closer to [1,0] than 1
  }

  test("IVF search achieves good recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 25).flatMap { c =>
      val base = Array.fill(32)(rnd.nextGaussian().toFloat * 3f)
      (0 until 8).map { i =>
        val v = base.map(x => x + 0.1f * rnd.nextGaussian().toFloat)
        ((c * 8 + i).toLong, v.toSeq)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val queries = df.where($"vec_id" % 8 === 0) // one query per cluster
    val truth = graft.functions.Sim.knnBrute(queries, df, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val index = graft.functions.Ivf.train(df, k = 10, iters = 4)
    val got = graft.functions.Ivf.search(queries, df, index, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.85, s"recall $recall")

    // the persisted-lists artifact returns the identical result set
    val listsPath = SparkTestSession.tempDir("ivf_lists").toString
    graft.functions.Ivf.writeLists(df, index, listsPath)
    val viaArtifact = graft.functions.Ivf
      .searchIndexed(queries, listsPath, index, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(viaArtifact == got)
  }

  test("SRP near-dup achieves good recall vs brute force on clustered vectors") {
    // 20 clusters of 3 near-identical 64-dim vectors
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20).flatMap { c =>
      val base = Array.fill(64)(rnd.nextGaussian().toFloat)
      (0 until 3).map { i =>
        val v = base.map(x => x + 0.02f * rnd.nextGaussian().toFloat)
        ((c * 3 + i).toLong, v.toSeq)
      }
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Sim.nearDupPairs(df, threshold = 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // ground truth: within-cluster pairs have cosine ~0.999
    val truth = (0 until 20).flatMap { c =>
      val ids = (0 until 3).map(i => (c * 3 + i).toLong)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val recall = truth.count(got.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall")
    assert(got.forall(truth.contains), "no false positives at 0.98")
  }

  // clear dups (0, 1, 3), unrelated docs, and a partly overlapping
  // pair (4 vs 5, Jaccard 0.69)
  private lazy val nearCorpus = {
    val common = "shared middle segment with plenty of overlapping text content " +
      "that keeps the five gram sets partially aligned between the documents"
    Seq(
      (0L, loremA), (1L, loremA2), (2L, loremB), (3L, loremA),
      (4L, "unique prefix alpha beta gamma " + common),
      (5L, common + " unique suffix delta epsilon zeta"),
      (6L, "completely different content about distributed query engines and columnar storage")
    ).toDF("doc_id", "text")
  }

  test("lshHybridPairs matches lshExactPairs including near-threshold pairs") {
    def ids(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = ids(Dedup.lshExactPairs(nearCorpus, threshold = 0.5))
    // default margin: estimator for clear pairs, exact re-check near 0.5
    assert(ids(Dedup.lshHybridPairs(nearCorpus, threshold = 0.5)) == exact)
    // the near sliver re-checked on the driver (the default cap) and by
    // the distributed joins (cap 0). At 0.86 every non-identical
    // candidate is near (0.86 + margin > 1) and A~A2 (Jaccard 0.864)
    // passes, so the driver branch leaves a local relation in the plan,
    // the distributed one only checkpointed rows
    val exact86 = ids(Dedup.lshExactPairs(nearCorpus, threshold = 0.86))
    assert(exact86.contains((0L, 1L)))
    val sig = Dedup.signatureTable(nearCorpus, shingleSize = 5)
      .localCheckpoint()
    def verify(nearCap: Int) = Dedup.hybridVerify(Dedup.bandCandidates(Seq(sig)),
      Seq(sig -> nearCorpus), 0.86, 5, "doc_id", "text", nearCap)
    def hasLocal(df: org.apache.spark.sql.DataFrame) = df.queryExecution.optimizedPlan
      .exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val onDriver = verify(1000)
    assert(hasLocal(onDriver), "no near-threshold pair re-checked on the driver")
    assert(ids(onDriver) == exact86)
    val distributed = verify(0)
    assert(!hasLocal(distributed))
    assert(ids(distributed) == exact86)
    // degenerate margins: all-exact (margin 1) and all-estimator (margin 0)
    // must also agree on this corpus (clear pairs are clear by construction)
    assert(ids(Dedup.hybridVerify(Dedup.bandCandidates(Seq(sig)),
      Seq(sig -> nearCorpus), 0.5, 5, "doc_id", "text", margin = 1.0)) == exact)
    // high threshold: threshold + margin > 1 leaves no estimator
    // fast-accept, so identical texts ride the fingerprint
    // short-circuit — (0,3) must pair, near-dups must not, and the
    // result still matches the all-exact formulation
    val exactHi = ids(Dedup.lshExactPairs(nearCorpus, threshold = 0.9))
    assert(exactHi.contains((0L, 3L)) && !exactHi.contains((0L, 1L)))
    assert(ids(Dedup.lshHybridPairs(nearCorpus, threshold = 0.9)) == exactHi)
  }

  test("signatureTable: same cache key returns the same staged artifact") {
    val a = Dedup.signatureTable(docs, shingleSize = 5, cacheKey = Some("spec-sig-key"))
    val b = Dedup.signatureTable(docs, shingleSize = 5, cacheKey = Some("spec-sig-key"))
    assert(a eq b) // staged once, reused — the build-artifact contract
  }

  /** CacheManager entries added by `body` (negative: removed). The
    * count is `private[sql]` in Scala but a public JVM method. */
  private def cacheEntriesAdded(body: => Unit): Int = {
    val cm = spark.sharedState.cacheManager
    def entries = cm.getClass.getMethod("numCachedEntries").invoke(cm).asInstanceOf[Int]
    val before = entries
    body
    entries - before
  }

  test("uncached minhashLsh, lshHybridPairs and dedupIncremental leave no staged signatures") {
    // frames no other spec stages under a key: a persist of a plan that
    // is already cached would add no entry of its own
    val corpus = nearCorpus.where($"doc_id" =!= 6L)
    assert(cacheEntriesAdded(Dedup.minhashLsh(corpus, threshold = 0.5).collect()) == 0)
    assert(cacheEntriesAdded(Dedup.lshHybridPairs(corpus, threshold = 0.5).collect()) == 0)
    assert(cacheEntriesAdded(Dedup.dedupIncremental(replicaBatch.where($"doc_id" =!= 12L),
      replicaCorpus.where($"doc_id" =!= 7L), threshold = 0.5).collect()) == 0)
  }

  test("a keyed signatureTable stages one entry and clearSignatureCache releases it") {
    val key = "spec-staging-contract"
    val corpus = nearCorpus.where($"doc_id" =!= 5L)
    var staged: org.apache.spark.sql.DataFrame = null
    assert(cacheEntriesAdded {
      staged = Dedup.signatureTable(corpus, shingleSize = 5, cacheKey = Some(key))
    } == 1)
    // an uncached call over the same frame reads the staged table and
    // leaves it staged
    assert(cacheEntriesAdded(Dedup.minhashLsh(corpus, threshold = 0.5).collect()) == 0)
    assert(staged.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(cacheEntriesAdded(Dedup.clearSignatureCache(key)) == -1)
  }

  test("cosine similarity of a zero-norm vector is 0.0, never NaN") {
    val r = Seq((Seq(0f, 0f, 0f), Seq(1f, 2f, 3f))).toDF("a", "b")
      .select(graft.expressions.NativeVector.cosineSim($"a", $"b").as("c"))
      .as[Double].head()
    assert(r == 0.0)
  }

  test("Ivf.train survives a corpus with fewer distinct vectors than k") {
    val vecs = Seq.fill(5)(Seq(1f, 0f)) ++ Seq.fill(4)(Seq(0f, 1f)) ++
      Seq.fill(3)(Seq(1f, 1f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val idx = graft.functions.Ivf.train(df, k = 8, iters = 1)
    assert(idx.numLists == 3) // 3 distinct vectors -> 3 lists, no dup seeds
  }

  test("int8-quantized kNN preserves neighbor ranking (recall vs exact)") {
    // clustered corpus: each query's true neighbors are its
    // cluster-mates at cosine ~0.999, far above the ~0 background —
    // the regime where ANN/quantization recall is meaningful (random
    // gaussian corpora have near-tied rankings where any epsilon
    // reorders neighbors)
    val rnd2 = new scala.util.Random(11)
    val vecs = (0 until 15).flatMap { c =>
      val base = Array.fill(32)(rnd2.nextGaussian())
      (0 until 4).map { i =>
        ((c * 4 + i).toLong,
          base.map(x => (x + 0.01 * rnd2.nextGaussian()).toFloat).toSeq)
      }
    }
    val df = vecs.toDF("vec_id", "embedding")
    val deq = df.select($"vec_id", Sim.asDouble($"embedding").as("e"))
      .withColumn("sc", Sim.quantScale($"e"))
      .select($"vec_id", Sim.dequantize(Sim.quantize($"e", $"sc"), $"sc").as("embedding"))
    def topk(corpus: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      Sim.knnBrute(corpus.where($"vec_id" < 5), corpus, k = 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topk(df)
    val quant = topk(deq)
    // keys is a Set — map through an iterator so equal per-query
    // overlaps don't collapse before averaging
    val overlap = exact.keys.iterator.map(q =>
      (exact(q) & quant(q)).size.toDouble / exact(q).size).sum / exact.size
    assert(overlap >= 0.85, s"quantized recall $overlap")
  }
}
