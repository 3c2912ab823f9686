package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ivf, Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}
import graft.ops.{Dims, Quality}
import graft.sources.Tables

/** Dedup + similarity-search gates: exact/fingerprint/MinHash-LSH/
  * SimHash dedup, connected components, n-gram Jaccard, brute kNN,
  * SRP banding, IVF ANN, decontamination, skew salting.
  *
  * Split out of SparkEntry (one gate map per operator family); the
  * driver contract is still the combined SparkEntry.queries /
  * SparkEntry.oracleSql. Helpers and shared oracle CTEs live in
  * [[GateSupport]].
  */
private[graft] object DedupAnnGates {
  import GateSupport._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1 exact dedup: survivors (min doc_id per identical text)
    "x01_dedup_exact" -> ((s, d) =>
      Dedup.exact(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"))
        .orderBy(asc_nulls_first("doc_id"))),

    // X2 fingerprint dedup (whitespace/case-insensitive identity) —
    // xxhash64-based, rows-only check
    "x02_dedup_fingerprint" -> ((s, d) =>
      Dedup.byFingerprint(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_dups"))
        .orderBy(asc_nulls_first("doc_id"))),

    // X3 MinHash+LSH near-dup pairs (verified Jaccard) — rows-only
    "x03_minhash_lsh" -> ((s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), threshold = 0.4,
        cacheKey = Some(s"docs:$d"))
        .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))),

    // X3B MinHash-LSH TWIN VALUE AUDIT (the x10b move for the banding
    // path): over a corpus where every doc appears twice under ids
    // (i, i + 10^9), equal texts have identical shingle sets, hence
    // identical MinHash signatures, hence equal buckets in EVERY
    // band — so each eligible doc's twin pair MUST surface as a
    // candidate and verify at estimator Jaccard exactly 1.0. Any
    // banding slip (wrong slice bounds, bucket hash divergence,
    // dropped band) or estimator bias breaks a pinned boolean. The
    // oracle derives eligibility (length ≥ shingleSize) and the
    // expected twin count arithmetically; recall vs NEAR (not equal)
    // pairs stays x26's job. The audited population is a DETERMINISTIC
    // 10% id slice (doc_id % 10 = 0): the property is per-pair — every
    // sliced doc's twin must band together and verify at exactly 1.0 —
    // so a slice proves the banding/bucketing/estimator invariant just
    // as hard, and the audit stops re-running the full corpus pipeline
    // twice per close (5.9 s of sf1 bench mass for a floor-class gate,
    // round-14 verdict task 8).
    "x03b_minhash_twin_audit" -> ((s, d) => {
      val off = 1000000000L // far above any fixture doc_id
      val docs = t(s, d, "documents").where(col("text").isNotNull)
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val dup = docs.unionByName(
        docs.select((col("doc_id") + off).as("doc_id"), col("text")))
      val pairs = Dedup.minhashLsh(dup, threshold = 0.4)
      val eligible = docs.where(length(col("text")) >= 5)
        .agg(count(lit(1)).as("n_eligible"))
      val twins = pairs.where(col("id_b") === col("id_a") + off)
        .agg(count(lit(1)).as("n_twin_pairs"),
          min(col("jaccard")).as("min_j"))
      eligible.crossJoin(twins).select(col("n_eligible"),
        col("n_twin_pairs"),
        (col("n_twin_pairs") === col("n_eligible")).as("all_twins_paired"),
        (col("min_j") === 1.0).as("twin_jaccard_exact_one"))
    }),

    // X6B SRP-LSH TWIN VALUE AUDIT (same construction over vectors):
    // identical vectors have identical hyperplane signs, hence equal
    // buckets in every band, and exact cosine 1.0 (± an ulp, rounded
    // to 4 dp) — each eligible vector's twin pair must surface and
    // verify. Eligibility = non-NULL, nonzero-norm vectors (a zero
    // vector has no cosine with itself).
    // same deterministic 10% slice discipline as x03b (vec_id % 10)
    "x06b_srp_twin_audit" -> ((s, d) => {
      val off = 1000000000L
      val emb = t(s, d, "embeddings")
        .where(col("embedding").isNotNull)
        .where(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("embedding"))
      val dup = emb.unionByName(
        emb.select((col("vec_id") + off).as("vec_id"), col("embedding")))
      val pairs = Sim.nearDupPairs(dup, threshold = 0.4)
      val eligible = emb.where(aggregate(col("embedding"),
          lit(0.0), (acc, x) => acc + x * x) > 0.0)
        .agg(count(lit(1)).as("n_eligible"))
      val twins = pairs.where(col("id_b") === col("id_a") + off)
        .agg(count(lit(1)).as("n_twin_pairs"),
          min(col("sim")).as("min_sim"))
      eligible.crossJoin(twins).select(col("n_eligible"),
        col("n_twin_pairs"),
        (col("n_twin_pairs") === col("n_eligible")).as("all_twins_paired"),
        (col("min_sim") === 1.0).as("twin_cosine_exact_one"))
    }),

    // X4 SimHash pigeonhole pairing, full hash-match oracle: the real
    // banding+verify operator (Dedup.hammingPairs — the exact code
    // path simhashPairs rides) runs over engine-replayable synthetic
    // 64-bit signatures (16 clusters of 4, members 0-3 bit-flips from
    // the cluster base — pure integer arithmetic, identical in both
    // engines), and DuckDB recomputes the exact pair set with
    // bit_count(xor(a,b)) ≤ 3. Any pigeonhole miss OR any Hamming
    // disagreement breaks the hash match — the x27 synthetic-audit
    // pattern upgraded from containment to full equality. The
    // text→simhash64 step itself stays pinned by NativeEquivalence/
    // DedupSim specs and the x10 fingerprint gate.
    "x04_simhash_pairs" -> ((s, d) => {
      val sigSql =
        """((id div 4) * 2654435761 ^ shiftleft((id div 4) * 40503, 20))
           ^ IF(id % 4 > 0, shiftleft(1L, cast(((id div 4) * 7 + 5) % 62 + 1 as int)), 0L)
           ^ IF(id % 4 > 1, shiftleft(1L, cast(((id div 4) * 7 + 22) % 62 + 1 as int)), 0L)
           ^ IF(id % 4 > 2, shiftleft(1L, cast(((id div 4) * 7 + 39) % 62 + 1 as int)), 0L)"""
      val sigs = s.range(64).select(col("id"), expr(sigSql).as("sig"))
      Dedup.hammingPairs(sigs, maxHamming = 3)
        .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))
    }),

    // X5 brute-force cosine top-5 for query vectors vec_id < 10
    "x05_knn_cosine" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Sim.knnBrute(emb.where(col("vec_id") < 10), emb, k = 5)
        .orderBy(asc_nulls_first("query_id"), asc_nulls_first("rnk"))
    }),

    // X6 SRP-LSH approximate near-dup vector pairs — rows-only
    "x06_srp_neardup" -> ((s, d) =>
      Sim.nearDupPairs(t(s, d, "embeddings"), threshold = 0.4)
        .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))),

    // X10 document fingerprint + SimHash signatures — rows-only
    "x10_fingerprint" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          Text.fingerprint(col("text")).as("fp"),
          Text.simhash64(col("text")).as("simhash"))
        .orderBy(asc_nulls_first("doc_id"))),

    // X10B fingerprint/simhash FULL-VALUE audit (the x04 trick for
    // hashes SQL cannot recompute): pin the engine-derivable
    // properties instead of the hash values — over a corpus where
    // every text appears twice (the union forces duplicates, so
    // "functional" has teeth), equal texts must hash equal
    // (functional, both hashes) and distinct texts must get distinct
    // fingerprints (injective at corpus scale = the dedup-key
    // contract x02 rides on). The oracle recomputes every count and
    // pins all three booleans.
    "x10b_fingerprint_audit" -> ((s, d) => {
      val docs = t(s, d, "documents").where(col("text").isNotNull)
      val dup = docs.select(col("text"))
        .unionByName(docs.select(col("text")))
      val sigs = dup.select(col("text"),
        Text.fingerprint(col("text")).as("fp"),
        Text.simhash64(col("text")).as("sh"))
      val perText = sigs.groupBy(col("text"))
        .agg(countDistinct(col("fp")).as("nfp"),
          countDistinct(col("sh")).as("nsh"))
      val stats = sigs.agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_texts"),
        countDistinct(col("fp")).as("n_fps"))
      val func = perText.agg(max(col("nfp")).as("max_fp"),
        max(col("nsh")).as("max_sh"))
      stats.crossJoin(func).select(col("n_docs"), col("n_texts"),
        (col("max_fp") === 1).as("fp_functional"),
        (col("n_fps") === col("n_texts")).as("fp_injective"),
        (col("max_sh") === 1).as("sim_functional"))
    }),

    // X20 end-to-end near-dup dedup: LSH pairs → connected components
    // → one representative per cluster (rows-only; semantics pinned
    // by DedupSimSpec chain/cluster tests)
    "x20_dedup_pipeline" -> ((s, d) =>
      Dedup.dedupNearDups(t(s, d, "documents"), threshold = 0.5,
        cacheKey = Some(s"docs:$d"))
        .select(col("doc_id"))
        .orderBy(asc_nulls_first("doc_id"))),

    // X16 exact char-4-gram Jaccard over a bounded pair set — full
    // DuckDB oracle (shingle construction spelled out in SQL)
    "x16_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(
        t(s, d, "documents").where(col("doc_id") < 40 && length(col("text")) >= 4),
        threshold = 0.2, shingleSize = 4, shingler = Text.charShingles)
        .orderBy(asc_nulls_first("id_a"), asc_nulls_first("id_b"))),

    // X50 INCREMENTAL near-dup dedup: admit a new batch (doc_id in
    // [300, 800)) against the already-admitted corpus (doc_id < 300)
    // — drop batch docs with exact 5-gram Jaccard >= 0.5 vs ANY
    // corpus doc, then keep the min-id representative per surviving
    // intra-batch cluster. The oracle replays the exact all-pairs
    // formulation (cross-drop anti-join + the same recursive-CTE
    // components as x20); the hybrid verify matches it up to the
    // ~2e-10-per-pair bound documented on lshHybridPairs. The batch is
    // BOUNDED (like the x26/x27 audit populations) because the
    // oracle's all-pairs side is quadratic in it: at the driver's
    // sf0.01 correctness SF the bound is a no-op (documents end at
    // 500), while at sf0.1 an unbounded batch made the DuckDB replay
    // grind for an hour. The operator itself has no such bound — x20
    // covers the growing-corpus path.
    "x50_incremental_dedup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Dedup.dedupIncremental(
        docs.where(col("doc_id") >= 300 && col("doc_id") < 800),
        docs.where(col("doc_id") < 300),
        threshold = 0.5,
        corpusCacheKey = Some(s"inc_corpus:$d"))
        .select(col("doc_id"))
        .orderBy(asc_nulls_first("doc_id"))
    }),

    // X14 IVF approximate kNN (k-means coarse quantizer, nprobe=8),
    // recall-gated vs the exact top-k: the IVF result rows are
    // approximate, but recall@5 against knnBrute (itself hash-verified
    // by x05's oracle) is the design guarantee — emitted as a bounded
    // boolean the oracle pins TRUE next to the exact pair count it
    // recomputes in SQL. Both index halves are cached per dataset dir
    // as build artifacts: the trained quantizer AND the
    // hive-partitioned inverted lists — the search reads only the
    // probed lists' partitions (DPP pruning asserted in PlanSpec),
    // the shape that survives 100 TB.
    // Recall bound context (measured): the fixture
    // embeddings are RANDOM vectors — no cluster structure, IVF's
    // worst case — so recall@5 at nprobe=8/16 measures 0.78-0.86
    // across sf; the gate bound is missed ≤ 20 (recall ≥ 0.6) to hold
    // at every sf. x14b audits the design case (clustered vectors)
    // with a tight bound.
    "x14_ivf_knn" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = Ivf.indexFor(s"ivf16:$d", emb, k = 16, iters = 3)
      val lists = stageIvfLists(s, d, s"ivf16:$d", idx)
      val queries = emb.where(col("vec_id") < 10)
      val ivf = Ivf.searchIndexed(queries, lists, idx, k = 5, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Sim.knnBrute(queries, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallGate(exact, ivf, maxMissed = 20L)
    }),

    // X14b IVF recall on CLUSTERED vectors — the operator's design
    // case, over the x27-style deterministic synthetic corpus (12
    // clusters of 8, mate cosine ≈ 1): probing nprobe=4 of 12 cells
    // must recover ≥ 90% of the exact top-5 (which are all cluster
    // mates). Engine-replayable, so the oracle recomputes the exact
    // side and pins the bound.
    "x14b_ivf_clustered_recall" -> ((s, d) => {
      val synth = s.range(96)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            (((col("id") / 8).cast(LongType) * 31 + j * 7) % 13 - 6).cast(DoubleType)
              + ((col("id") * 13 + j * 5) % 7 - 3).cast(DoubleType) / 1024.0)
            .as("embedding"))
      val idx = Ivf.indexFor("ivf-synth12", synth, k = 12, iters = 3)
      val lists = stageIvfListsFor("ivf-synth12", synth, idx)
      val queries = synth.where(col("vec_id") < 10)
      val ivf = Ivf.searchIndexed(queries, lists, idx, k = 5, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Sim.knnBrute(queries, synth, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallGate(exact, ivf, maxMissed = 5L)
    }),

    // X26 LSH recall containment audit: every exact char-5-gram
    // Jaccard ≥ 0.9 pair (the banding's design point: 16 bands × 8
    // rows misses a j=0.9 pair w.p. ~1.2e-4) must appear in the LSH
    // candidate set. The approximate operator (x03) can't have an
    // equality oracle, but this containment CAN be gated exactly: the
    // oracle recomputes the exact pair count and pins missed = 0 —
    // recall enforced by the driver, not just ScalaTest. Bounded to
    // doc_id < 200 — wide enough that the sf0.01 gate population
    // actually CONTAINS j ≥ 0.9 pairs (3 of them; doc_id < 40 had
    // none, which made the audit vacuous), small enough that the
    // exact side stays crossJoin-safe.
    "x26_lsh_recall" -> ((s, d) => {
      val docs = t(s, d, "documents")
        .where(col("doc_id") < 200 && length(col("text")) >= 5)
      val exact = Dedup.ngramJaccardPairs(docs, threshold = 0.9, shingleSize = 5,
        shingler = Text.charShingles)
        .localCheckpoint() // read twice below (count + anti-join)
      val cand = Dedup.lshCandidates(docs, cacheKey = Some(s"docs200:$d"))
      exact.agg(count(lit(1)).cast(LongType).as("n_exact"))
        .crossJoin(
          exact.join(cand, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).cast(LongType).as("missed_pairs")))
    }),

    // X27 SRP recall containment audit (same idea for the vector
    // near-dup path). The embedding FIXTURE has no high-cosine pairs
    // at any scale factor (max pairwise cosine ≈ 0.46 — an audit over
    // it is vacuous), so the audit runs on deterministic clustered
    // vectors generated by pure integer/dyadic arithmetic on the row
    // index — identical doubles in both engines, clusters of 4 with
    // mate cosine ≥ 0.99999. Every exact cosine ≥ 0.999 pair must be
    // an SRP band-join candidate: at that threshold the 6-band ×
    // 10-bit banding misses a pair w.p. < 1e-5 (p = 1 − θ/π ≈ 0.986,
    // (1 − p^10)^6), the same margin class as x26.
    "x27_srp_recall" -> ((s, d) => {
      val synth = s.range(60)
        .select(col("id"),
          transform(sequence(lit(0), lit(15)), j =>
            (((col("id") / 4).cast(LongType) * 31 + j * 7) % 13 - 6).cast(DoubleType)
              + ((col("id") * 13 + j * 5) % 7 - 3).cast(DoubleType) / 1024.0)
            .as("v"))
      val exact = synth.select(col("id").as("id_a"), col("v").as("v_a"))
        .crossJoin(synth.select(col("id").as("id_b"), col("v").as("v_b")))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.expressions.NativeVector.cosineSim(col("v_a"), col("v_b")), 6)
            .as("sim"))
        .where(col("sim") >= 0.999)
        .localCheckpoint() // read twice below (count + anti-join)
      val cand = Sim.srpCandidates(synth, idCol = "id", vecCol = "v")
      exact.agg(count(lit(1)).cast(LongType).as("n_exact"))
        .crossJoin(
          exact.join(cand, Seq("id_a", "id_b"), "left_anti")
            .agg(count(lit(1)).cast(LongType).as("missed_pairs")))
    }),

    // X52 semantic dedup (SemDeDup, Abbas et al. 2023): k-means
    // cells → within-cell cosine ≥ 0.999 pairs → connected
    // components → min-id survivor per component. Runs on the x14b
    // deterministic clustered fixture (12 planted clusters of 8,
    // mate cosine ≈ 1, cross-cluster cosine far below threshold;
    // quantizer artifact shared with x14b via its cache key), so the
    // oracle can replay the EXACT all-pairs formulation: near-
    // identical mates land in the same probed cell (probes = 2
    // covers argmin ties at a cell boundary), so the cell-bounded
    // operator must EQUAL the exact survivors — a full hash oracle
    // on an approximate operator, not just containment.
    "x52_semantic_dedup" -> ((s, d) => {
      val synth = s.range(96)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            (((col("id") / 8).cast(LongType) * 31 + j * 7) % 13 - 6).cast(DoubleType)
              + ((col("id") * 13 + j * 5) % 7 - 3).cast(DoubleType) / 1024.0)
            .as("embedding"))
      graft.operators.SemDedup.semDedup(synth, k = 12, threshold = 0.999,
          probes = 2, indexKey = Some("ivf-synth12"))
        .select(col("vec_id"))
        .orderBy(asc_nulls_first("vec_id"))
    }),

    // X29 [skew] two-phase salted aggregation through the gate: the
    // hot-key mitigation (group on (key, salt) first, re-aggregate on
    // the key) must be result-invariant to salting — pinned against
    // the plain GROUP BY oracle.
    "x29_salted_agg" -> ((s, d) =>
      graft.operators.SkewJoin.saltedSumAgg(t(s, d, "events"), "user_id",
        salts = 8, Seq("value"))
        .select(col("user_id"), col("cnt").cast(LongType).as("cnt"),
          round(col("sum_value"), 2).as("sum_value"))
        .orderBy(asc_nulls_first("user_id"))),

    // X35 train/test decontamination: test-split documents whose
    // word 8-grams appear in any train-split document (the standard
    // pre-training overlap check). Split assignment and the n-gram
    // stream are both engine-replayable, so the oracle recomputes the
    // full overlap exactly.
    "x35_decontamination" -> ((s, d) => {
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val docs = graft.operators.Splits.hashSplit(
        t(s, d, "documents"), "doc_id", splits, "v1")
      graft.operators.Decontaminate.ngramOverlap(
        docs, "split", "train", "test", n = 8)
        .select(col("doc_id"), col("n_hits").cast(LongType).as("n_hits"))
        .orderBy(asc_nulls_first("doc_id"))
    }),

    // X90 GRADED decontamination (Lee et al. 2022): the overlap
    // FRACTION per test doc, not the binary hit count — one shared
    // 3-gram flags a doc under x35's rule; production thresholds on
    // the fraction. n = 3 so the fixture yields a wide fraction
    // distribution; every ≥3-token test doc is judged.
    "x90_decon_fraction" -> ((s, d) => {
      val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val docs = graft.operators.Splits.hashSplit(
        t(s, d, "documents"), "doc_id", splits, "v1")
      graft.operators.Decontaminate.overlapFraction(
        docs, "split", "train", "test", n = 3)
        .select(col("doc_id"), col("n_grams").cast(LongType).as("n_grams"),
          col("n_hits").cast(LongType).as("n_hits"), col("frac_e4"))
        .orderBy(asc_nulls_first("doc_id"))
    }),

    // X63 SEMANTIC decontamination: the embedding-space complement of
    // x35 — corpus vectors within cosine 0.9 of any benchmark vector
    // are contamination (n-grams miss paraphrased leaks). The gate's
    // benchmark is a deterministic "leak": every 25th corpus vector,
    // element-perturbed in DOUBLE arithmetic both engines replay
    // exactly; perturbed sources score ≈ 0.987-0.99 while the fixture
    // background tops out near 0.5, so the flagged set must be
    // EXACTLY the leaked sources with their known best match.
    "x63_semantic_decon" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val corpus = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("embedding"))
      val bench = emb.where(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, j) =>
            x.cast(DoubleType) + ((j % 7).cast(DoubleType) - 3.0) / 100.0)
            .as("embedding"))
      graft.operators.Decontaminate.semantic(corpus, bench, threshold = 0.9)
        .orderBy(asc_nulls_first("vec_id"))
    }),

    // X67 centroid-outlier filtering (the CLIP-score / noisy-label
    // screen): vectors whose cosine to their label's centroid
    // direction is below threshold are flagged. The fixture vectors
    // are INTEGER-VALUED doubles built by vec_id arithmetic — dots,
    // norms² and per-label sums all stay exactly-representable
    // integers, so the scores are bit-deterministic across engines
    // and summation orders (the reason centroidOutliers aggregates
    // the SUM direction, not the mean). Every 10th vector points at
    // another label's base direction: inliers score ≥ 0.96, planted
    // outliers ≤ -0.17, threshold 0.7 sits in the gap. FULL-value
    // oracle: vector synthesis, per-label element-wise sums, and the
    // cosine all replayed in SQL.
    "x67_centroid_outliers" -> ((s, d) => {
      val id = col("vec_id")
      val src = when(id % 10 === 7, (id % 4 + 2) % 4).otherwise(id % 4)
      val synth = t(s, d, "embeddings").select(id,
        (id % 4).as("label"),
        transform(sequence(lit(0), lit(15)), j =>
          ((((src * 37 + j * 11) % 17) - 8) * 8
            + ((id * 13 + j * 7) % 5) - 2).cast(DoubleType)).as("embedding"))
      graft.functions.Sim.centroidOutliers(synth, minCos = 0.7)
        .orderBy(asc_nulls_first("vec_id"))
    }),

    // X69 integer PageRank (domain-authority curation signal, Page
    // et al. 1999): 5 rounds over a deterministic link graph built by
    // doc_id arithmetic (every doc links once, every 3rd doc twice,
    // every 10th doc into the hub node 42 — parallel edges and
    // self-loops included as ordinary multiset edges). Ranks are
    // integer micro-units with floor division (damping = 17/20), so
    // the whole fixpoint iteration is exact integer arithmetic —
    // bit-identical across engines, summation orders, partitionings.
    // FULL-value oracle: the same iteration unrolled as chained CTEs
    // by Graph.pageRankSql (one source of truth for the spec).
    "x69_pagerank" -> ((s, d) => {
      val docs = t(s, d, "documents").select(col("doc_id"))
      val e1 = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + 13) % 500).as("dst"))
      val e2 = docs.where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("src"), ((col("doc_id") * 31 + 5) % 500).as("dst"))
      val e3 = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("src"), lit(42L).as("dst"))
      graft.operators.Graph.pageRank(e1.union(e2).union(e3), iters = 5)
        .select(col("node").cast(LongType).as("node"),
          col("rank").cast(LongType).as("rank"))
        .orderBy(asc_nulls_first("node"))
    }),

    // X54 IVF-PQ search on the clustered design case: candidates are
    // scored from m=4 one-byte codes + a stored norm (32× smaller
    // payload than the 16-double vectors), probing nprobe=4 of 12
    // cells. Every query's 7 mates sit at cosine ≈ 1 within ~0.001,
    // so WHICH 5 rank on top is a near-tie quantization legitimately
    // reorders; the gated property is membership — exactly k results
    // per query and zero cross-cluster neighbors (cluster separation
    // ≫ quantization error). Both facts are engine-replayable.
    "x54_pq_recall" -> ((s, d) => {
      val synth = s.range(96)
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), j =>
            (((col("id") / 8).cast(LongType) * 31 + j * 7) % 13 - 6).cast(DoubleType)
              + ((col("id") * 13 + j * 5) % 7 - 3).cast(DoubleType) / 1024.0)
            .as("embedding"))
      val idx = Ivf.indexFor("ivf-synth12", synth, k = 12, iters = 3)
      val books = graft.functions.Pq.codebooksFor(
        "pq-synth12", synth, m = 4, ksub = 16, iters = 3)
      val coded = graft.functions.Pq.encodeLists(synth, idx, books)
      val queries = synth.where(col("vec_id") < 10)
      graft.functions.Pq.search(queries, coded, idx, books, k = 5, nprobe = 4)
        .agg(count(lit(1)).cast(LongType).as("n_results"),
          (count(when((col("query_id") / 8).cast(LongType) =!=
            (col("neighbor_id") / 8).cast(LongType), 1)) === 0).as("all_mates"))
    }),

    // X54b PQ shortlist + exact rerank on the REAL embeddings fixture
    // (random 64-dim vectors — the hard case for quantization: all
    // cosines are weak near-ties). m=16 × ksub=256 codes (32× smaller
    // than the raw vectors) pick a 50-candidate shortlist per query
    // via ADC; only those rows fetch true vectors for the exact
    // top-5. Measured: the refined search misses exactly what
    // IVF-only misses (7/50 at sf0.01, 11/50 at sf0.1 — the probe
    // recall is the binding constraint, quantization loses nothing),
    // gated at x14's same maxMissed=20 bound.
    "x54b_pq_rerank" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val idx = Ivf.indexFor(s"ivf16:$d", emb, k = 16, iters = 3)
      val books = graft.functions.Pq.codebooksFor(
        s"pq16x256:$d", emb, m = 16, ksub = 256, iters = 3)
      val coded = graft.functions.Pq.encodeLists(emb, idx, books)
      val queries = emb.where(col("vec_id") < 10)
      val pq = graft.functions.Pq.searchRefined(
        queries, coded, emb, idx, books, k = 5, shortlist = 50, nprobe = 8)
        .select(col("query_id"), col("neighbor_id"))
      val exact = Sim.knnBrute(queries, emb, k = 5)
        .select(col("query_id"), col("neighbor_id"))
      recallGate(exact, pq, maxMissed = 20L)
    }),

    // X53 ExactSubstr span dedup (Lee et al. 2022): maximal spans of
    // ≥15 consecutive tokens whose exact sequence occurs ≥2 times in
    // the corpus. Window identity is a 64-bit chained xxhash —
    // collision-free at fixture scale — so the oracle's gram-string
    // join recomputes the identical span set.
    "x53_span_dedup" -> ((s, d) =>
      graft.operators.SpanDedup.duplicatedSpans(t(s, d, "documents"), k = 15)
        .select(col("doc_id"),
          col("span_start").cast(LongType).as("span_start"),
          col("span_end").cast(LongType).as("span_end"),
          col("span_ntok").cast(LongType).as("span_ntok"))
        .orderBy(asc_nulls_first("doc_id"), asc_nulls_first("span_start"))),

    // X53b the corpus rewrite: every duplicated span cut from every
    // document carrying it; kept_text is the surviving normalized
    // token stream (lowercase, single spaces — the x02 fingerprint
    // normalization contract), n_removed the dropped token count.
    "x53b_span_rewrite" -> ((s, d) =>
      graft.operators.SpanDedup.dedupSpans(t(s, d, "documents"), k = 15)
        .select(col("doc_id"), col("kept_text"), col("n_removed"))
        .orderBy(asc_nulls_first("doc_id"))),

    // X88 entity resolution (record linkage): blocked Jaro-Winkler
    // pairs + transitive closure — company-name variants synthesized
    // by doc_id arithmetic (8 bases × 4 spellings: exact, last char
    // dropped, ' inc' suffix, plural) must resolve to 8 entities.
    // The similarity is the native codegen'd [[NativeEditSim]]
    // expression; the oracle replays the SAME names, blocks, DuckDB's
    // own jaro_winkler_similarity quantized to e4, and the x20
    // recursive-CTE closure — so the Spark expression must agree with
    // an independent C++ implementation on every compared pair.
    "x88_entities" -> ((s, d) => {
      val base = when(col("doc_id") % 8 === 0, "acme corporation")
        .when(col("doc_id") % 8 === 1, "globex industries")
        .when(col("doc_id") % 8 === 2, "initech systems")
        .when(col("doc_id") % 8 === 3, "umbrella holdings")
        .when(col("doc_id") % 8 === 4, "stark enterprises")
        .when(col("doc_id") % 8 === 5, "wayne technologies")
        .when(col("doc_id") % 8 === 6, "hooli ventures")
        .otherwise("pied piper labs")
      val v = expr("CAST((doc_id div 8) % 4 AS INT)")
      val recs = t(s, d, "documents").select(col("doc_id"))
        .withColumn("__b", base)
        .withColumn("name",
          when(v === 0, col("__b"))
            .when(v === 1, expr("substring(__b, 1, length(__b) - 1)"))
            .when(v === 2, concat(col("__b"), lit(" inc")))
            .otherwise(concat(col("__b"), lit("s"))))
      graft.operators.EntityResolution.resolve(
          recs, "doc_id", "name", threshold = 0.9)
        .orderBy(asc_nulls_first("doc_id"))
    }),

    // X88b entity resolution at CORPUS-PROPORTIONAL entity count under
    // a maximally skewed block: every name starts 'st ' so the 2-char
    // prefix block holds the WHOLE corpus, and maxBlockSize=64 forces
    // the sorted-neighborhood escalation (per-record work = the
    // 8-neighbor window, never block²). Entities are doc_id/4 groups
    // keyed by an md5 stem — variants of a group sort adjacent (well
    // inside the window), while cross-group names bottom out near
    // jw ≈ 0.91 (measured ≤ 0.9064 even at 25k groups) against the
    // 0.94 threshold, so the windowed pair set and the oracle's FULL
    // block-pair set agree above threshold: the escalation provably
    // loses nothing here, at any sf.
    "x88b_entities_skewblock" -> ((s, d) => {
      val stem = concat(lit("st "),
        expr("substring(md5(CAST(doc_id div 4 AS STRING)), 1, 24)"))
      val v = expr("CAST(doc_id % 4 AS INT)")
      val recs = t(s, d, "documents").select(col("doc_id"))
        .withColumn("__b", stem)
        .withColumn("name",
          when(v === 0, col("__b"))
            .when(v === 1, expr("substring(__b, 1, length(__b) - 1)"))
            .when(v === 2, concat(col("__b"), lit(" inc")))
            .otherwise(concat(col("__b"), lit("s"))))
      graft.operators.EntityResolution.resolve(
          recs, "doc_id", "name", threshold = 0.94,
          maxBlockSize = 64, neighborWindow = 8)
        .orderBy(asc_nulls_first("doc_id"))
    }),
  )

  def oracleSql: Map[String, String] = Map(
    // same synthesized names, same 2-char blocks, DuckDB's own
    // jaro_winkler_similarity quantized to e4 at the 0.9 threshold,
    // x20's recursive-CTE transitive closure
    "x88_entities" ->
      """WITH RECURSIVE base AS (
           SELECT doc_id,
             CASE CAST(doc_id % 8 AS INT)
               WHEN 0 THEN 'acme corporation'
               WHEN 1 THEN 'globex industries'
               WHEN 2 THEN 'initech systems'
               WHEN 3 THEN 'umbrella holdings'
               WHEN 4 THEN 'stark enterprises'
               WHEN 5 THEN 'wayne technologies'
               WHEN 6 THEN 'hooli ventures'
               ELSE 'pied piper labs' END AS b
           FROM documents),
         names AS (
           SELECT doc_id,
             CASE CAST((doc_id // 8) % 4 AS INT)
               WHEN 0 THEN b
               WHEN 1 THEN substr(b, 1, length(b) - 1)
               WHEN 2 THEN b || ' inc'
               ELSE b || 's' END AS name
           FROM base),
         blk AS (SELECT doc_id, name,
                   substr(regexp_replace(name, '[^a-z0-9]', '', 'g'),
                          1, 2) AS k
                 FROM names),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM blk a JOIN blk b
             ON a.k = b.k AND a.doc_id < b.doc_id
           WHERE CAST(floor(jaro_winkler_similarity(a.name, b.name)
                            * 10000 + 0.5) AS BIGINT) >= 9000),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id)
         SELECT n.doc_id, COALESCE(comp.c, n.doc_id) AS entity_id
         FROM names n LEFT JOIN comp ON comp.id = n.doc_id
         ORDER BY doc_id NULLS FIRST""",
    // FULL block-pair replay (no window): the engine's escalated
    // sorted-neighborhood pair set must close to the same entities as
    // exhaustive in-block comparison — the recall proof for the skew
    // guard on this fixture. The ORACLE side is deliberately
    // quadratic (N²/2 DuckDB jaro_winkler calls) — the x20/x88
    // declared-quadratic replay class, runnable at the sf0.01 gate
    // scale only; the ENGINE side stays O(N·W) at every sf (exactness
    // at sf1 is checked structurally: entity_id = 4·(doc_id div 4))
    "x88b_entities_skewblock" ->
      """WITH RECURSIVE names AS (
           SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN b
               WHEN 1 THEN substr(b, 1, length(b) - 1)
               WHEN 2 THEN b || ' inc'
               ELSE b || 's' END AS name
           FROM (SELECT doc_id,
                   'st ' || substr(md5(CAST(doc_id // 4 AS VARCHAR)), 1, 24) AS b
                 FROM documents)),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM names a JOIN names b ON a.doc_id < b.doc_id
           WHERE CAST(floor(jaro_winkler_similarity(a.name, b.name)
                            * 10000 + 0.5) AS BIGINT) >= 9400),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id)
         SELECT n.doc_id, COALESCE(comp.c, n.doc_id) AS entity_id
         FROM names n LEFT JOIN comp ON comp.id = n.doc_id
         ORDER BY doc_id NULLS FIRST""",
    // every count recomputed; the booleans are pinned TRUE — any
    // functional/injective violation in the engine hashes flips one
    "x10b_fingerprint_audit" ->
      """WITH d AS (SELECT text FROM documents WHERE text IS NOT NULL)
         SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT text) AS BIGINT) AS n_texts,
                true AS fp_functional, true AS fp_injective,
                true AS sim_functional
         FROM d""",
    // twin audit: every shingle-eligible doc in the deterministic 10%
    // slice must band with its duplicate and verify at exactly 1
    "x03b_minhash_twin_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible,
                CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
                true AS all_twins_paired,
                true AS twin_jaccard_exact_one
         FROM documents WHERE text IS NOT NULL AND doc_id % 10 = 0
           AND length(text) >= 5""",
    // twin audit over vectors (same 10% slice): every nonzero sliced
    // vector's duplicate must band together and verify at cosine 1
    "x06b_srp_twin_audit" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_eligible,
                CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
                true AS all_twins_paired,
                true AS twin_cosine_exact_one
         FROM embeddings
         WHERE embedding IS NOT NULL AND vec_id % 10 = 0
           AND list_sum(list_transform(embedding, x -> x * x)) > 0""",
    "x16_ngram_jaccard" ->
      """WITH sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 2),
                    i -> substr(lower(text), CAST(i AS INT), 4))) AS s
           FROM documents WHERE doc_id < 40 AND length(text) >= 4),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
           FROM sh a, sh b WHERE a.id < b.id)
         SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2
         ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""",
    "x01_dedup_exact" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents
         GROUP BY text ORDER BY doc_id NULLS FIRST""",
    // fingerprint groups ≡ equality of the normalized token stream:
    // lowercase, collapse whitespace runs, trim (collision-free at
    // fixture scale by construction of the 64-bit hash chain)
    "x02_dedup_fingerprint" ->
      """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_dups
         FROM documents
         GROUP BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
         ORDER BY doc_id NULLS FIRST""",
    // all-pairs exact char-5-gram Jaccard ≥ 0.5 → recursive-CTE
    // connected components → survivors = docs that are not a non-min
    // member of any component (LSH recall at the fixture's j≥0.9 dup
    // pairs is ~1, so candidate banding loses nothing — verified here)
    "x20_dedup_pipeline" ->
      """WITH RECURSIVE sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 3),
                    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
           FROM documents WHERE length(text) >= 5),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM sh a, sh b WHERE a.id < b.id
             AND ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.5),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE c < id)
         ORDER BY doc_id NULLS FIRST""",
    "x05_knn_cosine" -> knnOracleSql,
    // exact all-pairs replay of the incremental dedup: cross-drop vs
    // the corpus, then x20's recursive-CTE components over survivors
    "x50_incremental_dedup" ->
      """WITH RECURSIVE sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 3),
                    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
           FROM documents WHERE length(text) >= 5),
         bsh AS (SELECT * FROM sh WHERE id >= 300 AND id < 800),
         csh AS (SELECT * FROM sh WHERE id < 300),
         cross_drop AS (
           SELECT DISTINCT b.id
           FROM bsh b, csh c
           WHERE ROUND(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
                       len(list_distinct(list_concat(b.s, c.s))), 4) >= 0.5),
         surv AS (SELECT * FROM bsh
                  WHERE id NOT IN (SELECT id FROM cross_drop)),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM surv a, surv b WHERE a.id < b.id
             AND ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                       len(list_distinct(list_concat(a.s, b.s))), 4) >= 0.5),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id)
         SELECT doc_id FROM documents
         WHERE doc_id >= 300 AND doc_id < 800
           AND doc_id NOT IN (SELECT id FROM cross_drop)
           AND doc_id NOT IN (SELECT id FROM comp WHERE c < id)
         ORDER BY doc_id NULLS FIRST""",
    // full-equality audit over synthetic signatures: DuckDB recomputes
    // the same deterministic sigs and the exact Hamming pair set
    "x04_simhash_pairs" ->
      """WITH g AS (SELECT unnest(range(64)) AS id),
         s AS (SELECT id,
           xor(xor(xor(
             xor((id // 4) * 2654435761, ((id // 4) * 40503) << 20),
             CASE WHEN id % 4 > 0 THEN 1::BIGINT << CAST(((id // 4) * 7 + 5) % 62 + 1 AS INT) ELSE 0 END),
             CASE WHEN id % 4 > 1 THEN 1::BIGINT << CAST(((id // 4) * 7 + 22) % 62 + 1 AS INT) ELSE 0 END),
             CASE WHEN id % 4 > 2 THEN 1::BIGINT << CAST(((id // 4) * 7 + 39) % 62 + 1 AS INT) ELSE 0 END) AS sig
          FROM g)
         SELECT a.id AS id_a, b.id AS id_b,
                CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         FROM s a, s b
         WHERE a.id < b.id AND bit_count(xor(a.sig, b.sig)) <= 3
         ORDER BY id_a NULLS FIRST, id_b NULLS FIRST""",
    // recall audit vs the exact top-k the x05 oracle already verifies:
    // oracle recomputes the exact pair count and pins the recall bound
    "x14_ivf_knn" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(list_inner_product(q.e, c.e) /
                        (sqrt(list_inner_product(q.e, q.e)) *
                         sqrt(list_inner_product(c.e, c.e))), 4) AS sim
           FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         topk AS (
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk FROM pairs) t
           WHERE rnk <= 5)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
         FROM topk""",
    "x14b_ivf_clustered_recall" ->
      """WITH g AS (SELECT unnest(range(96)) AS id),
         v AS (SELECT id, list_transform(range(16), j ->
                 CAST((id // 8) * 31 + j * 7 AS BIGINT) % 13 - 6 +
                 (CAST(id * 13 + j * 5 AS BIGINT) % 7 - 3) / 1024.0) AS e
               FROM g),
         pairs AS (
           SELECT q.id AS query_id, c.id AS neighbor_id,
                  ROUND(list_inner_product(q.e, c.e) /
                        (sqrt(list_inner_product(q.e, q.e)) *
                         sqrt(list_inner_product(c.e, c.e))), 4) AS sim
           FROM v q, v c WHERE q.id < 10 AND c.id <> q.id),
         topk AS (
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk FROM pairs) t
           WHERE rnk <= 5)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
         FROM topk""",
    // containment audits: the oracle recomputes the exact pair count
    // (the approximate operators' design target) and pins missed = 0
    "x26_lsh_recall" ->
      """WITH sh AS (
           SELECT doc_id AS id,
                  list_distinct(list_transform(range(1, length(text) - 3),
                    i -> substr(lower(text), CAST(i AS INT), 5))) AS s
           FROM documents WHERE doc_id < 200 AND length(text) >= 5),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
                        len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
           FROM sh a, sh b WHERE a.id < b.id)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                CAST(0 AS BIGINT) AS missed_pairs
         FROM pairs WHERE jaccard >= 0.9""",
    "x27_srp_recall" ->
      """WITH g AS (SELECT unnest(range(60)) AS id),
         v AS (SELECT id, list_transform(range(16), j ->
                 CAST((id // 4) * 31 + j * 7 AS BIGINT) % 13 - 6 +
                 (CAST(id * 13 + j * 5 AS BIGINT) % 7 - 3) / 1024.0) AS e
               FROM g),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b,
                  ROUND(list_inner_product(a.e, b.e) /
                        (sqrt(list_inner_product(a.e, a.e)) *
                         sqrt(list_inner_product(b.e, b.e))), 6) AS sim
           FROM v a, v b WHERE a.id < b.id)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
                CAST(0 AS BIGINT) AS missed_pairs
         FROM pairs WHERE sim >= 0.999""",
    // exact SemDeDup replay: all-pairs cosine (no cell approximation)
    // → recursive-CTE components → min-id survivors; equality with
    // the cell-bounded Spark result is the gate
    "x52_semantic_dedup" ->
      """WITH RECURSIVE g AS (SELECT unnest(range(96)) AS id),
         v AS (SELECT id, list_transform(range(16), j ->
                 CAST((id // 8) * 31 + j * 7 AS BIGINT) % 13 - 6 +
                 (CAST(id * 13 + j * 5 AS BIGINT) % 7 - 3) / 1024.0) AS e
               FROM g),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b
           FROM v a, v b WHERE a.id < b.id
             AND ROUND(list_inner_product(a.e, b.e) /
                       (sqrt(list_inner_product(a.e, a.e)) *
                        sqrt(list_inner_product(b.e, b.e))), 4) >= 0.999),
         e AS (SELECT id_a AS s, id_b AS r FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
         reach AS (
           SELECT s AS id, r FROM e
           UNION
           SELECT reach.id, e.r FROM reach JOIN e ON e.s = reach.r),
         comp AS (SELECT id, LEAST(id, MIN(r)) AS c FROM reach GROUP BY id)
         SELECT CAST(id AS BIGINT) AS vec_id FROM g
         WHERE id NOT IN (SELECT id FROM comp WHERE c < id)
         ORDER BY vec_id NULLS FIRST""",
    "x35_decontamination" -> {
      val splitExpr = graft.operators.Splits.splitSql(
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "v1")
      s"""WITH tk AS (
           SELECT doc_id, $splitExpr AS split,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS ts
           FROM documents),
         g AS (
           SELECT doc_id, split,
                  unnest(list_distinct(list_transform(range(1, len(ts) - 6),
                    i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' ' || ts[CAST(i AS INT) + 2] || ' ' || ts[CAST(i AS INT) + 3] || ' ' || ts[CAST(i AS INT) + 4] || ' ' || ts[CAST(i AS INT) + 5] || ' ' || ts[CAST(i AS INT) + 6] || ' ' || ts[CAST(i AS INT) + 7]))) AS gram
           FROM tk WHERE len(ts) >= 8),
         tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
         FROM g WHERE split = 'test' AND gram IN (SELECT gram FROM tr)
         GROUP BY doc_id ORDER BY doc_id NULLS FIRST"""
    },
    // x35's replay with a LEFT join so misses count the denominator,
    // and the same half-up e4 quantization of the fraction
    "x90_decon_fraction" -> {
      val splitExpr = graft.operators.Splits.splitSql(
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "v1")
      s"""WITH tk AS (
           SELECT doc_id, $splitExpr AS split,
                  list_filter(string_split_regex(lower(text), '\\s+'),
                              x -> x <> '') AS ts
           FROM documents),
         g AS (
           SELECT doc_id, split,
                  unnest(list_distinct(list_transform(range(1, len(ts) - 1),
                    i -> ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT) + 1] || ' ' || ts[CAST(i AS INT) + 2]))) AS gram
           FROM tk WHERE len(ts) >= 3),
         tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train')
         SELECT g.doc_id,
                CAST(COUNT(*) AS BIGINT) AS n_grams,
                CAST(COUNT(tr.gram) AS BIGINT) AS n_hits,
                CAST(floor(COUNT(tr.gram) * 10000.0 / COUNT(*) + 0.5)
                     AS BIGINT) AS frac_e4
         FROM g LEFT JOIN tr ON tr.gram = g.gram
         WHERE g.split = 'test'
         GROUP BY g.doc_id ORDER BY g.doc_id NULLS FIRST"""
    },
    // the same integer iteration unrolled as chained CTEs — generated
    // by the operator's own pageRankSql so spec and oracle can't drift
    "x69_pagerank" -> graft.operators.Graph.pageRankSql(
      """SELECT doc_id AS src, (doc_id * 7 + 13) % 500 AS dst FROM documents
         UNION ALL
         SELECT doc_id, (doc_id * 31 + 5) % 500 FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, 42 FROM documents WHERE doc_id % 10 = 0""", iters = 5),

    // exact replay of the outlier screen: same integer-valued vector
    // synthesis, per-label element-wise sums via (label, dim)
    // aggregation (exact — integer doubles sum exactly in any order),
    // cosine against the sum direction, threshold verdict
    "x67_centroid_outliers" ->
      """WITH v AS (
           SELECT vec_id, vec_id % 4 AS label,
             list_transform(range(16), j -> CAST(
               8 * (((CASE WHEN vec_id % 10 = 7 THEN (vec_id % 4 + 2) % 4
                           ELSE vec_id % 4 END) * 37 + j * 11) % 17 - 8)
               + ((vec_id * 13 + j * 7) % 5) - 2 AS DOUBLE)) AS e
           FROM embeddings),
         d AS (SELECT unnest(range(16)) AS j),
         c AS (SELECT label, j, SUM(e[CAST(j AS INT) + 1]) AS s
               FROM v, d GROUP BY label, j),
         cent AS (SELECT label, list(s ORDER BY j) AS ce FROM c GROUP BY label)
         SELECT v.vec_id, v.label,
           ROUND(list_inner_product(v.e, cent.ce) /
                 (sqrt(list_inner_product(v.e, v.e)) *
                  sqrt(list_inner_product(cent.ce, cent.ce))), 4) AS sim,
           (ROUND(list_inner_product(v.e, cent.ce) /
                 (sqrt(list_inner_product(v.e, v.e)) *
                  sqrt(list_inner_product(cent.ce, cent.ce))), 4) < 0.7) AS is_outlier
         FROM v JOIN cent USING (label)
         ORDER BY vec_id NULLS FIRST""",

    // exact replay of the semantic screen: same DOUBLE perturbation,
    // all-pairs cosine, threshold filter, best match by
    // (sim DESC, bench_id ASC) — the TopKAgg ordering
    "x63_semantic_decon" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         b AS (SELECT vec_id + 100000 AS bench_id,
                      list_transform(range(64), j -> e[CAST(j AS INT) + 1] +
                        (CAST(j % 7 AS DOUBLE) - 3) / 100.0) AS e
               FROM v WHERE vec_id % 25 = 0),
         scored AS (
           SELECT v.vec_id, b.bench_id,
                  ROUND(list_inner_product(v.e, b.e) /
                        (sqrt(list_inner_product(v.e, v.e)) *
                         sqrt(list_inner_product(b.e, b.e))), 4) AS sim
           FROM v, b),
         hits AS (SELECT * FROM scored WHERE sim >= 0.9),
         best AS (SELECT vec_id, bench_id, sim, ROW_NUMBER() OVER
                    (PARTITION BY vec_id ORDER BY sim DESC, bench_id) AS rn
                  FROM hits)
         SELECT vec_id, bench_id, sim FROM best WHERE rn = 1
         ORDER BY vec_id NULLS FIRST""",
    "x29_salted_agg" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
         ROUND(SUM(value), 2) AS sum_value
         FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST""",
    // same shape as the x14 oracle: n_exact recomputed from the data,
    // recall_ok is the pinned bound
    "x54b_pq_rerank" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         pairs AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROUND(list_inner_product(q.e, c.e) /
                        (sqrt(list_inner_product(q.e, q.e)) *
                         sqrt(list_inner_product(c.e, c.e))), 4) AS sim
           FROM v q, v c WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         topk AS (
           SELECT * FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY sim DESC, neighbor_id) AS rnk FROM pairs) t
           WHERE rnk <= 5)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
         FROM topk""",
    // the expected result count derives from the same generator
    // arithmetic (10 queries × k=5); all_mates is the pinned bound
    "x54_pq_recall" ->
      """WITH g AS (SELECT unnest(range(96)) AS id)
         SELECT CAST((SELECT COUNT(*) FROM g WHERE id < 10) * 5 AS BIGINT)
                  AS n_results,
                TRUE AS all_mates""",
    // duplicated 15-token windows by gram STRING (the engine's 64-bit
    // window hash is collision-free at fixture scale), merged to
    // maximal islands with the same gap rule (new island iff
    // pos > prev + 15)
    "x53_span_dedup" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '') AS ts
           FROM documents),
         w0 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(ts) - 13),
             i -> {'pos': i - 1,
                   'g': array_to_string(ts[CAST(i AS INT):CAST(i + 14 AS INT)], ' ')})) AS w
           FROM tk WHERE len(ts) >= 15),
         g AS (SELECT doc_id, w.pos AS pos, w.g AS g FROM w0),
         dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2),
         cov AS (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
         lagged AS (
           SELECT doc_id, pos,
                  LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           FROM cov),
         isl AS (
           SELECT doc_id, pos,
                  SUM(CASE WHEN prev IS NULL OR pos > prev + 15 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos) AS island
           FROM lagged)
         SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
                CAST(MAX(pos) + 15 AS BIGINT) AS span_end,
                CAST(MAX(pos) + 15 - MIN(pos) AS BIGINT) AS span_ntok
         FROM isl GROUP BY doc_id, island
         ORDER BY doc_id NULLS FIRST, span_start NULLS FIRST""",
    // rewrite: anti-join token positions against the k-expanded
    // duplicated-window cover, re-join survivors in position order
    "x53b_span_rewrite" ->
      """WITH tk AS (
           SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '') AS ts
           FROM documents),
         w0 AS (
           SELECT doc_id, unnest(list_transform(range(1, len(ts) - 13),
             i -> {'pos': i - 1,
                   'g': array_to_string(ts[CAST(i AS INT):CAST(i + 14 AS INT)], ' ')})) AS w
           FROM tk WHERE len(ts) >= 15),
         g AS (SELECT doc_id, w.pos AS pos, w.g AS g FROM w0),
         dup AS (SELECT g FROM g GROUP BY g HAVING COUNT(*) >= 2),
         cov AS (
           SELECT DISTINCT doc_id, pos + d AS p
           FROM (SELECT doc_id, pos FROM g WHERE g IN (SELECT g FROM dup)),
                (SELECT unnest(range(0, 15)) AS d)),
         tp AS (
           SELECT doc_id, u.pos AS pos, u.t AS tok
           FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts) + 1),
                   i -> {'pos': i - 1, 't': ts[CAST(i AS INT)]})) AS u
                 FROM tk)),
         res AS (
           SELECT tp.doc_id,
                  string_agg(CASE WHEN c.p IS NULL THEN tok END, ' '
                             ORDER BY tp.pos) AS kept_text,
                  SUM(CASE WHEN c.p IS NOT NULL THEN 1 ELSE 0 END) AS n_removed
           FROM tp LEFT JOIN cov c ON c.doc_id = tp.doc_id AND c.p = tp.pos
           GROUP BY tp.doc_id)
         SELECT k.doc_id, COALESCE(r.kept_text, '') AS kept_text,
                CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed
         FROM tk k LEFT JOIN res r ON r.doc_id = k.doc_id
         ORDER BY k.doc_id NULLS FIRST""",
  )
}
