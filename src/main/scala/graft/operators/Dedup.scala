package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.functions.Text

/** Deduplication operators for training-data pipelines (SURVEY.md
  * north-star extensions): exact, fingerprint, MinHash+LSH,
  * SimHash-bucketed, and n-gram-Jaccard near-dup.
  *
  * Scale design: every variant reduces to hash → groupBy/equi-join —
  * one shuffle keyed on something with bounded fan-in, never an
  * all-pairs product. Partial aggregation (map-side combine) collapses
  * duplicate mass before the exchange, so skew from a viral duplicate
  * is bounded by the distinct-key count per partition.
  */
object Dedup {

  /** The one MinHash-LSH design point every near-dup path runs: 16
    * bands × 8 rows = 128 hashes (a pair with Jaccard j collides in
    * some band w.p. 1-(1-j^8)^16; j = 0.8 w.p. ~0.96), and a 0.3
    * half-width of the near-threshold band the hybrid verify
    * re-checks exactly (divergence bound: see [[lshHybridPairs]]).
    * SimHash pairs band on 4 pigeonhole chunks of 16 bits. */
  private val Bands = 16
  private val RowsPerBand = 8
  private val NumHashes = Bands * RowsPerBand
  private val Margin = 0.3
  private val HammingChunks = 4

  /** Verified pair sets up to this many rows (100 000) are clustered
    * on the driver, larger ones by the distributed star components.
    * The cap picks the mechanism, never the result; specs reach the
    * distributed branch through [[withCcDriverCap]]. */
  private val ccDriverCap = new scala.util.DynamicVariable[Int](100000)

  private[graft] def withCcDriverCap[T](n: Int)(body: => T): T =
    ccDriverCap.withValue(n)(body)

  /** MinHash signature of a text column at the design point. */
  private[graft] def minhash(text: Column, shingleSize: Int): Column =
    graft.expressions.NativeSignatures.minhashText(text, shingleSize, NumHashes)

  /** Ensure CPU-bound signature work gets the cluster's parallelism:
    * a byte-small but compute-heavy input (one parquet row group of
    * dense text → one scan split) otherwise serializes the per-doc
    * shingle/hash work on a single core. No-op when the scan already
    * yields enough splits — the 100 TB case, where this repartition
    * would be a harmful corpus shuffle; here it moves only the
    * kilobyte-scale text once to unlock every core.
    *
    * CAVEAT: inspecting the partition count forces PHYSICAL PLANNING
    * of `df` on every call (the plan is then re-derived by whatever
    * the caller builds on top — Catalyst caches nothing across
    * frames). `toRdd` keeps that cost to planning alone (`df.rdd`
    * would additionally attach a Row-deserializing map stage);
    * measured ~ms on the gate inputs, and at cluster scale the
    * partition check short-circuits to the identity branch anyway. */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** Session-lifetime staged signature tables, keyed by a
    * caller-chosen corpus identity. Signatures are a dedup BUILD
    * ARTIFACT of a corpus snapshot (like the IVF quantizer + inverted
    * lists): at warehouse scale you write the signature table once
    * and reuse it across dedup runs, so repeat invocations against
    * the same corpus must not re-shingle and re-hash it.
    *
    * HARD PRECONDITION: a `cacheKey` asserts corpus identity — the
    * caller promises the underlying data for that key never changes
    * within the session. There is no data fingerprint behind it;
    * reusing a key after mutating the corpus returns stale
    * signatures. When a corpus snapshot is replaced, call
    * [[clearSignatureCache]] (optionally with the key prefix) to
    * unpersist and drop the stale artifacts. Cached frames otherwise
    * pin memory/disk for the session lifetime by design — that is
    * the artifact contract, not a leak. */
  private val sigCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Unpersist and drop staged signature tables whose cache key
    * starts with `prefix` (empty prefix = everything). Call when a
    * corpus snapshot a key referred to is replaced or no longer
    * needed. */
  def clearSignatureCache(prefix: String = ""): Unit = {
    import scala.jdk.CollectionConverters._
    sigCache.keySet().asScala.filter(_.startsWith(prefix)).toList.foreach { k =>
      Option(sigCache.remove(k)).foreach { df => df.unpersist(); () }
    }
  }

  /** MinHash signature table (id, sig) for `df`. With a `cacheKey`
    * the table is staged (persisted + materialized) once per key and
    * reused for the session lifetime; without one the caller owns
    * persist/unpersist of the returned lazy frame. */
  def signatureTable(df: DataFrame, shingleSize: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     cacheKey: Option[String] = None): DataFrame = {
    // fused shingle+minhash: hashes each char window in place instead
    // of materializing the distinct shingle array first (MinHash is
    // duplicate-invariant, so the signatures are bit-identical —
    // NativeEquivalenceSpec pins it); the signature build was the
    // dominant cost of every LSH dedup entry point (≈17 s of x20's
    // sf1 wall-clock before, ≈3 s after). `fp` is the raw-text
    // xxhash64: equal fp ⇒ identical text ⇒ Jaccard exactly 1, the
    // exact-duplicate short-circuit hybridVerify uses to skip the
    // shingle re-join for the dominant pair class of replica-heavy
    // corpora (P[false accept] = 2⁻⁶⁴ per pair, far below the
    // estimator's documented 2e-10 divergence bound).
    def build(): DataFrame = fanOut(df)
      .where(length(col(textCol)) >= shingleSize)
      .select(col(idCol).as("id"), minhash(col(textCol), shingleSize).as("sig"),
        xxhash64(col(textCol)).as("fp"))
    cacheKey match {
      case Some(k) =>
        sigCache.computeIfAbsent(s"$k|$shingleSize|$idCol|$textCol", _ => {
          val t = build().persist(StorageLevel.MEMORY_AND_DISK)
          t.count() // materialize the artifact eagerly
          t
        })
      case None => build()
    }
  }

  /** `body` over the signature table of `df`, persisted for the body's
    * duration only unless already staged (under `cacheKey`, or under
    * another key for the same plan, which an unpersist would release):
    * the body must return nothing that still reads it. */
  private def withSignatures[T](df: DataFrame, shingleSize: Int, idCol: String,
                                textCol: String, cacheKey: Option[String])
                               (body: DataFrame => T): T = {
    val sig = signatureTable(df, shingleSize, idCol, textCol, cacheKey)
    if (sig.storageLevel != StorageLevel.NONE) body(sig)
    else {
      sig.persist(StorageLevel.MEMORY_AND_DISK)
      try body(sig) finally { sig.unpersist(); () }
    }
  }

  /** Exact dedup: keep the lowest id per identical key column.
    * groupBy+min (not window row_number) — partial aggregation makes
    * this a single cheap shuffle of (key, id) pairs. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(min(col(idCol)).as(idCol))

  /** Exact-ish dedup via 64-bit token-stream fingerprint
    * ([[Text.fingerprint]]): whitespace/case-insensitive identity,
    * and the shuffle carries an 8-byte key instead of full documents —
    * the difference between shuffling 100 TB of text and 800 GB of
    * hashes. */
  def byFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), Text.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** MinHash+LSH near-dup candidate pairs, verified by the MinHash
    * Jaccard estimator.
    *
    * shingle → minhash(128) → band (16 slices of 8 rows, each hashed
    * to a bucket key) → equi-join on (band, bucket) → estimated
    * Jaccard ≥ threshold. The estimator (fraction of agreeing
    * signature components, std ≈ √(j(1-j)/k) ≈ 0.04 at k=128) replaces
    * exact shingle-set Jaccard in the verify stage so candidates are
    * checked from the already-staged 1 KB signatures instead of
    * re-shingling the corpus; use [[ngramJaccardPairs]] when exact
    * scores are required.
    *
    * The signature table (id + k longs — ~100× smaller than the
    * corpus) is persisted: it feeds both sides of the band join and
    * both verify lookups, and without staging Catalyst would recompute
    * the shingle scan for each of the four references. At warehouse
    * scale this staging is a signature table you'd write once and
    * reuse across dedup runs.
    */
  def minhashLsh(df: DataFrame, threshold: Double,
                 idCol: String = "doc_id", textCol: String = "text",
                 shingleSize: Int = 5,
                 cacheKey: Option[String] = None): DataFrame =
    withSignatures(df, shingleSize, idCol, textCol, cacheKey) { sig =>
      bandCandidates(Seq(sig))
        .join(sig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
        .join(sig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(graft.expressions.NativeSignatures.sigAgree(col("sig_a"), col("sig_b"))
            .cast("double") / NumHashes, 4)
            .as("jaccard"))
        .where(col("jaccard") >= threshold)
        // eager: materialize before the staged signatures are released
        .localCheckpoint()
    }

  /** (id, band, bucket) view of a signature table, plus the `carry`
    * columns: each signature sliced into the design point's bands,
    * each hashed to a bucket key. */
  private[graft] def bandedView(sig: DataFrame, carry: String*): DataFrame =
    sig.select((col("id") +: carry.map(col) :+
      posexplode(array((0 until Bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * RowsPerBand + 1, RowsPerBand))): _*))): _*)
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")

  /** LSH band join of the first (id, sig) table against the union of
    * all of `sigs`, each tagged with its position as `side`: ids-only
    * (id_a, id_b, side) candidate pairs from any shared (band, bucket)
    * key, all from ONE equi-join. id_a is always a side-0 id. Side-0
    * pairs are a self-join and keep id_a < id_b; every other side is a
    * distinct table, so all its shared keys count. Package-private so
    * PlanSpec can pin its equi-join shape. */
  private[graft] def bandCandidates(sigs: Seq[DataFrame]): DataFrame = {
    val views = sigs.map(bandedView(_))
    val tagged = views.zipWithIndex
      .map { case (v, i) => v.withColumn("side", lit(i)) }
      .reduce(_ union _)
    views.head.as("l").join(tagged.as("r"), Seq("band", "bucket"))
      .where(col("r.side") =!= 0 || col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"), col("r.side").as("side"))
      .dropDuplicates("id_a", "id_b", "side")
  }

  /** Ids-only MinHash-LSH candidate pairs (the band join before any
    * verification) — public so recall audits can check containment:
    * every exact-Jaccard pair above the banding's design threshold
    * must appear here. */
  def lshCandidates(df: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleSize: Int = 5,
                    cacheKey: Option[String] = None): DataFrame =
    bandCandidates(Seq(signatureTable(df, shingleSize, idCol, textCol, cacheKey))).drop("side")

  /** Near-dup pairs with EXACT shingle-set Jaccard verification:
    * candidates come from the same MinHash-LSH band join (ids only, no
    * cross product), but the verify stage joins the candidate pairs
    * back to their distinct-shingle sets and computes exact Jaccard —
    * deterministic scores, so downstream dedup is oracle-checkable
    * against an all-pairs exact-Jaccard reference at test scale. At
    * production scale the shingle-set re-join touches only candidate
    * rows (≪ corpus), so the extra cost over the estimator is bounded
    * by the candidate count. */
  def lshExactPairs(df: DataFrame, threshold: Double,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleSize: Int = 5): DataFrame = {
    val base = fanOut(df).where(length(col(textCol)) >= shingleSize)
      .select(col(idCol).as("id"), Text.charShingles(col(textCol), shingleSize).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sig = base.select(col("id"),
        graft.expressions.NativeSignatures.minhashSignature(col("sh"), NumHashes).as("sig"))
      bandCandidates(Seq(sig))
        .join(base.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
        .join(base.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"), Text.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .where(col("jaccard") >= threshold)
        // eager: materialize before the staged shingles are released
        // (repeat invocations otherwise accumulate cached blocks for
        // the session lifetime)
        .localCheckpoint()
    } finally { base.unpersist(); () }
  }

  /** Near-dup pairs with HYBRID verification: candidates from the LSH
    * band join are first scored with the MinHash Jaccard estimator
    * (computed from the already-staged signatures — no re-shingling);
    * only candidates whose estimate falls within the margin (0.3) of
    * the threshold get exact shingle-set Jaccard — on the driver over
    * their fetched texts while the sliver is small, by a shuffled
    * re-join otherwise (see [[hybridVerify]]).
    *
    * Divergence bound: a clear-margin candidate disagrees with exact
    * Jaccard only when the estimator errs by ≥ margin, which by
    * Hoeffding (k = 128 components, each in {0,1}) has
    * P ≤ 2·exp(−2·k·margin²) per pair — ≈ 2e−10 at margin 0.3, where
    * a margin of 0.2 would give only ≈ 7e−5; equivalently the
    * worst-case normal tail (σ = √(j(1−j)/k) ≤ 0.044 at j = 0.5) puts
    * margin 0.3 at ≈ 6.8σ vs 4.5σ for 0.2. Expected divergences over a
    * run are candidate_count × that bound, so they stay negligible
    * (≪ 1) up to ~10^9 candidate pairs where a 0.2 margin would
    * already expect divergences at ~10^4. The near-threshold band
    * (where the estimator could err) is always resolved exactly, so
    * survivors match [[lshExactPairs]] up to the stated per-pair bound
    * while the expensive exact re-check touches only the
    * near-threshold sliver of candidates. (For high thresholds,
    * `threshold + margin > 1` means no estimator fast-accepts at all —
    * every surviving pair is exact-verified, the safe direction.) */
  def lshHybridPairs(df: DataFrame, threshold: Double,
                     idCol: String = "doc_id", textCol: String = "text",
                     shingleSize: Int = 5,
                     cacheKey: Option[String] = None): DataFrame =
    hybridPairs(df, df, threshold, idCol, textCol, shingleSize, cacheKey).drop("side")

  /** [[lshHybridPairs]] with the side column kept, reading the near
    * sliver's texts from `src`, which must hold for every id of `df`
    * exactly the rows `df` holds (the dedup build passes the corpus
    * its exact-copy reps were picked from). Stages SIGNATURES only
    * (id + k longs, ~100× smaller than the corpus and ~1000× smaller
    * than staged shingle sets — persisting the shingle arrays was the
    * dominant cost of the all-exact variant). Shingles are recomputed
    * only for the near-threshold sliver of candidates. */
  private def hybridPairs(df: DataFrame, src: DataFrame, threshold: Double,
                          idCol: String, textCol: String, shingleSize: Int,
                          cacheKey: Option[String]): DataFrame =
    withSignatures(df, shingleSize, idCol, textCol, cacheKey) { sig =>
      hybridVerify(bandCandidates(Seq(sig)), Seq(sig -> src),
        threshold, shingleSize, idCol, textCol)
    }

  /** The near-threshold re-check runs on the driver for at most this
    * many (id, side) keys — at most half as many near pairs, whose
    * texts come back through an inlined IN-list (parquet row-group
    * pruning on the id column — the id-fetch shape of a production
    * document store) in one bounded collect. Above the cap the
    * re-check stays distributed: a broadcast semi-join fetch and
    * shuffled shingle-set joins. The near set is bounded by the
    * candidate count by construction, so the cap only picks the
    * mechanism, never the semantics. */
  private val NearFetchPushdownCap = 1000

  /** Hybrid verification of side-tagged candidate (id_a, id_b, side)
    * pairs — the verify core of [[lshHybridPairs]], [[dedupNearDups]]
    * and [[dedupIncremental]]. `sides(i)` is the (signature table,
    * source frame) pair behind side i: id_a is always a side-0 id, id_b
    * an id of side `side` (the [[bandCandidates]] layout), so the right
    * side is keyed by (id, side) and equal ids on different sides never
    * mix. The MinHash Jaccard estimator (read from the staged
    * signatures) resolves clear-margin candidates; only the
    * near-threshold sliver gets exact shingle-set Jaccard, over texts
    * fetched from each side's source. Up to `nearCap` near (id, side)
    * keys that happens on the driver (see [[NearFetchPushdownCap]];
    * `nearCap` and `margin` are arguments so specs can force the
    * distributed re-check and the all-exact verify). Divergence bound
    * vs all-exact: see [[lshHybridPairs]]. The result (id_a, id_b,
    * side) is a filter over the checkpointed scores, unioned with a
    * local relation of the exactly verified near pairs (above the cap:
    * one checkpoint of both), so it never reads the signature tables
    * or sources again and callers may unpersist them as soon as this
    * returns. */
  private[graft] def hybridVerify(cand: DataFrame, sides: Seq[(DataFrame, DataFrame)],
                                  threshold: Double, shingleSize: Int,
                                  idCol: String, textCol: String,
                                  nearCap: Int = NearFetchPushdownCap,
                                  margin: Double = Margin): DataFrame = {
    // `same_fp` = identical raw text (64-bit fingerprint equality) —
    // Jaccard is exactly 1 for those pairs, so they fast-accept at
    // any threshold without touching the shingle re-join. Replica-
    // heavy corpora (the realistic web-scale profile) are dominated
    // by this pair class, and at high thresholds (threshold + margin
    // > 1, where no estimator fast-accept exists) it is the ONLY
    // fast path.
    val sigB = sides.zipWithIndex.map { case ((sig, _), i) =>
      sig.select(col("id").as("id_b"), lit(i).as("side"), col("sig").as("sig_b"),
        col("fp").as("fp_b"))
    }.reduce(_ union _)
    val scored = cand
      .join(sides.head._1.select(col("id").as("id_a"), col("sig").as("sig_a"),
        col("fp").as("fp_a")), Seq("id_a"))
      .join(sigB, Seq("id_b", "side"))
      .select(col("id_a"), col("id_b"), col("side"),
        (graft.expressions.NativeSignatures.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / NumHashes)
          .as("est"),
        (col("fp_a") === col("fp_b")).as("same_fp"))
      // eager: both branches below read this (ids+estimate+flag only,
      // candidates ≪ corpus)
      .localCheckpoint()
    val clear = scored
      .where(col("same_fp") || col("est") >= threshold + margin)
      .select(col("id_a"), col("id_b"), col("side"))
    val near = scored
      .where(!col("same_fp") &&
        col("est") >= threshold - margin && col("est") < threshold + margin)
      .select(col("id_a"), col("id_b"), col("side"))
    // the near pairs (bounded by the candidate count) come back in ONE
    // bounded one-job collect over the checkpointed scores. Empty — the
    // common case, near-dups are either clearly dup or clearly not —
    // means nothing is re-shingled at all. Up to nearCap / 2 pairs
    // (at most nearCap ids) are re-checked on the driver; more pairs,
    // or more source rows than ids, take the distributed re-check
    val srcs = sides.map(_._2)
    val onDriver = collectAtMost(
      near.withColumn("key_a", col("id_a").cast(near.schema("id_b").dataType)), nearCap / 2)
    if (onDriver.exists(_.isEmpty)) clear
    else onDriver
      .flatMap(nearOnDriver(_, near.schema, srcs, nearCap, threshold, shingleSize, idCol, textCol))
      .map(clear.union)
      .getOrElse(clear.union(nearDistributed(near, srcs, threshold, shingleSize, idCol, textCol))
        .localCheckpoint())
  }

  /** The exactly verified subset of collected near (id_a, id_b, side)
    * pairs as a local relation, or None when the sources hold more than
    * `cap` rows for their ids (only possible with duplicate ids). The
    * texts come back in one bounded collect, each side pruned by an
    * inlined IN-list on its id column, so the parquet scan skips row
    * groups on the id column's min/max stats instead of reading the
    * whole text column. Jaccard is the same expression the distributed
    * path evaluates, over a local relation: the optimizer folds it on
    * the driver, so no job runs, and the scores are bit-identical. */
  private def nearOnDriver(pairs: Array[Row], nearSchema: StructType, srcs: Seq[DataFrame],
                           cap: Int, threshold: Double, shingleSize: Int,
                           idCol: String, textCol: String): Option[DataFrame] = {
    // pairs are (id_a, id_b, side, key_a): key_a is id_a in id_b's
    // type (the band union's widened id type), so every key of every
    // side compares in one type
    val keyType = nearSchema("id_b").dataType
    val keys = pairs.flatMap(r => Seq((r.get(3), 0), (r.get(1), r.getInt(2)))).distinct
    val fetch = srcs.zipWithIndex.flatMap { case (src, i) =>
      val ids = keys.collect { case (id, `i`) => id }
      Option.when(ids.nonEmpty)(src.where(col(idCol).isin(ids.toSeq: _*))
        .select(lit(i).as("side"), col(idCol).cast(keyType).as("id"), col(textCol).as("text")))
    }.reduce(_ union _)
    collectAtMost(fetch, cap).map { rows =>
      val texts = rows.toSeq.groupMap(r => (r.get(1), r.getInt(0)))(_.get(2))
      val joined = pairs.toSeq.flatMap { r =>
        for (a <- texts.getOrElse((r.get(3), 0), Nil);
             b <- texts.getOrElse((r.get(1), r.getInt(2)), Nil))
          yield Row(r.get(0), r.get(1), r.getInt(2), a, b)
      }
      val textType = fetch.schema("text").dataType
      import scala.jdk.CollectionConverters._
      val spark = fetch.sparkSession
      val verified = spark.createDataFrame(joined.asJava, nearSchema
          .add("text_a", textType).add("text_b", textType))
        .where(length(col("text_a")) >= shingleSize && length(col("text_b")) >= shingleSize &&
          Text.jaccard(Text.charShingles(col("text_a"), shingleSize),
            Text.charShingles(col("text_b"), shingleSize)) >= threshold)
        .select(col("id_a"), col("id_b"), col("side"))
      // read back once (no job: the folded plan is a local relation),
      // so no later plan carries the texts or folds the Jaccard again
      spark.createDataFrame(collectAtMost(verified, joined.length).get.toSeq.asJava, nearSchema)
    }
  }

  /** The exactly verified subset of the near (id_a, id_b, side) pairs,
    * distributed: each side's near ids are fetched by a broadcast
    * semi-join, shingled once and checkpointed, then joined back to
    * the pairs. */
  private def nearDistributed(near: DataFrame, srcs: Seq[DataFrame], threshold: Double,
                              shingleSize: Int, idCol: String, textCol: String): DataFrame = {
    val nearIds = near.select(col("id_a").as("id"), lit(0).as("side"))
      .union(near.select(col("id_b").as("id"), col("side")))
    val shingled = srcs.zipWithIndex.map { case (src, i) =>
      val ids = nearIds.where(col("side") === i).distinct()
      src.join(broadcast(ids), src(idCol) === ids("id"), "left_semi")
        .where(length(col(textCol)) >= shingleSize)
        .select(col(idCol).as("id"), lit(i).as("side"),
          Text.charShingles(col(textCol), shingleSize).as("sh"))
    }.reduce(_ union _).localCheckpoint()
    near
      .join(shingled.where(col("side") === 0)
        .select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("side"), col("sh").as("sh_b")),
        Seq("id_b", "side"))
      .where(Text.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("side"))
  }

  /** SimHash near-dup pairs: bucket by the signature split into
    * 4 pieces — two docs within Hamming distance < 4 must share at
    * least one piece (pigeonhole), so candidate generation is again an
    * equi-join; verify with exact Hamming ≤ maxHamming. */
  def simhashPairs(df: DataFrame, maxHamming: Int,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    hammingPairs(fanOut(df).select(col(idCol).as("id"), Text.simhash64(col(textCol)).as("sig")),
      maxHamming)

  /** Pigeonhole near-dup pairs over an arbitrary (id, 64-bit sig)
    * frame — the banding+verify core of [[simhashPairs]], exposed so
    * the pairing operator works over any 64-bit signature (and so the
    * gate can audit it on engine-replayable synthetic signatures with
    * an exact `bit_count(xor)` oracle). Exhaustive for
    * `maxHamming < 4`: two sigs within that distance must share an
    * identical 16-bit chunk, so the candidate equi-join misses nothing. */
  def hammingPairs(sigs: DataFrame, maxHamming: Int,
                   idCol: String = "id", sigCol: String = "sig"): DataFrame = {
    require(HammingChunks > maxHamming, s"pigeonhole recall needs maxHamming < $HammingChunks")
    val bits = 64 / HammingChunks
    val mask = (1L << bits) - 1
    val sig = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    val banded = sig.select(col("id"), col("sig"),
      posexplode(array((0 until HammingChunks).map(c =>
        shiftright(col("sig"), c * bits).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "piece")
    // signatures are single longs — cheap to carry through the band join
    val l = banded.select(col("chunk"), col("piece"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = banded.select(col("chunk"), col("piece"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "piece"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        Text.hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Adaptive connected components: a pair set under the driver cap
    * (the common case — near-dup pairs are bounded by the band join's
    * collision count, orders of magnitude below the corpus, and a
    * per-batch admission graph is smaller still) is solved with one
    * bounded collect + union-find, skipping the iterative join
    * rounds whose per-job latency dominates at small pair counts; a
    * larger set falls through to the distributed
    * [[connectedComponentsStar]] — O(log²n) rounds on ANY graph
    * shape, so chain-structured dup graphs (the shingled-text norm)
    * converge exactly where O(diameter) min-label propagation would
    * not. The cap picks the MECHANISM only — both paths return
    * (id, component = min id in cluster) for exactly the ids that
    * appear in `pairs`, and the driver path additionally comes back
    * as a local relation, so downstream anti-joins broadcast instead
    * of shuffling. */
  def connectedComponentsAdaptive(pairs: DataFrame): DataFrame = {
    collectAtMost(pairs.select(col("id_a"), col("id_b")), ccDriverCap.value) match {
      case None => connectedComponentsStar(pairs)
      case Some(capped) =>
        val idType = pairs.schema("id_a").dataType
        val roots = unionFind(capped.iterator.map(p => (p.get(0), p.get(1))), idType)
        import scala.jdk.CollectionConverters._
        pairs.sparkSession.createDataFrame(
          roots.toSeq.map { case (id, c) => Row(id, c) }.asJava,
          StructType(Seq(StructField("id", idType), StructField("component", idType))))
    }
  }

  /** The near-dup drop set of hybrid-verified (id_a, id_b, side) pairs
    * — the one tail of [[dedupNearDups]] and [[dedupIncremental]]:
    * every side-0 id verified against another side (a corpus dup, in
    * admission), plus every id that is not the min id of its cluster
    * under the side-0 pairs that touch no corpus dup. Up to the
    * driver cap (100 000) pairs come back in one single-task collect (the
    * [[hybridVerify]] result reads only checkpointed or local rows)
    * and the set is built on the driver by union-find: a local
    * relation, bounded by the same cap, that the final anti-join
    * broadcasts. Above the cap it stays distributed (shuffled
    * anti-joins, then [[connectedComponentsAdaptive]]). The cap picks
    * the mechanism, never the result. One column, `idCol`, of id_a's
    * type. */
  private def connectedComponentsDropSet(pairs: DataFrame, idCol: String): DataFrame = {
    val idType = pairs.schema("id_a").dataType
    // side-0 id_b are side-0 ids: cast back from the band union's
    // widened type so the union-find sees one id type
    val verified = pairs.select(col("id_a"),
      when(col("side") === 0, col("id_b")).cast(idType).as("id_b"), col("side"))
    collectAtMost(verified, ccDriverCap.value) match {
      case Some(rows) =>
        val corpusDups = rows.iterator.filter(_.getInt(2) != 0).map(_.get(0)).toSet
        val intra = rows.iterator
          .filter(r => r.getInt(2) == 0 && !corpusDups(r.get(0)) && !corpusDups(r.get(1)))
          .map(r => (r.get(0), r.get(1)))
        val nonCanonical = unionFind(intra, idType).collect { case (id, c) if id != c => id }
        import scala.jdk.CollectionConverters._
        pairs.sparkSession.createDataFrame(
          (corpusDups ++ nonCanonical).toSeq.map(Row(_)).asJava,
          StructType(Seq(StructField(idCol, idType))))
      case None =>
        val corpusDups = verified.where(col("side") =!= 0).select(col("id_a").as("id"))
        val intraPairs = verified.where(col("side") === 0)
          .join(corpusDups.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
          .join(corpusDups.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
        val nonCanonical = connectedComponentsAdaptive(intraPairs)
          .where(col("component") < col("id")).select(col("id"))
        corpusDups.union(nonCanonical).select(col("id").as(idCol))
    }
  }

  /** At most `cap` rows of `df` from one bounded collect, or None when
    * it holds more. A frame of already-materialized rows (filters,
    * projections and unions over checkpointed or local relations) is
    * read in ONE task under the limit (coalesce(1)): a plain
    * `limit(n).collect()` goes through `executeTake`'s scale-up, which
    * runs a second job whenever the first partition holds fewer than n
    * rows. Any other frame takes the plain limit, so no upstream stage
    * (a scan, a join, an aggregate) is ever squeezed into one task. A
    * frame that optimizes to a local relation is read from that plan
    * as it is, with no job and no second optimizer pass. */
  private[graft] def collectAtMost(df: DataFrame, cap: Int): Option[Array[Row]] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project, Union}
    val plan = df.queryExecution.optimizedPlan
    val materialized = plan.find {
      case r: org.apache.spark.sql.execution.LogicalRDD => !r.rdd.isCheckpointed
      case _: LocalRelation | _: Project | _: Filter | _: Union => false
      case _ => true
    }.isEmpty
    val bounded = plan match {
      case _: LocalRelation => df
      case _ if materialized => df.coalesce(1).limit(cap + 1)
      case _ => df.limit(cap + 1)
    }
    val rows = bounded.collect()
    Option.when(rows.length <= cap)(rows)
  }

  /** Driver union-find over collected (a, b) edges of `idType` ids:
    * every id that appears maps to the min id of its component, in
    * Spark's own ordering of `idType` (the distributed paths' `min()`). */
  private def unionFind(edges: Iterator[(Any, Any)],
                        idType: DataType): Map[Any, Any] = {
    // the interpreted ordering compares Catalyst-internal values
    // (e.g. UTF8String), but collect() hands back external ones
    // (java.lang.String) — convert at the comparison boundary.
    // Memoized per distinct id: compare runs once per union, and
    // re-converting the same root each time would allocate a fresh
    // UTF8String per comparison. (External compareTo is NOT a
    // substitute: String orders by UTF-16 code unit, UTF8String by
    // UTF-8 byte — they disagree above the BMP, and the min-id
    // labels must match the distributed path's `min()` exactly.)
    val ordInternal = org.apache.spark.sql.catalyst.util.TypeUtils
      .getInterpretedOrdering(idType)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(idType)
    val catalystOf = new java.util.HashMap[Any, Any]()
    def conv(x: Any): Any = {
      var c = catalystOf.get(x)
      if (c == null) { c = toCatalyst(x); catalystOf.put(x, c) }
      c
    }
    val ord = new Ordering[Any] {
      def compare(a: Any, b: Any): Int =
        ordInternal.compare(conv(a), conv(b))
    }
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (ord.lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    parent.keySet().asScala.toSeq.map(id => id -> find(id)).toMap
  }

  /** O(log² n) rounds means 25 covers any physically realizable graph. */
  private val StarMaxRounds = 25

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): converges in O(log² n) rounds on ANY graph shape,
    * where plain min-label propagation needs O(diameter) rounds — the
    * distributed path of [[connectedComponentsAdaptive]] above its
    * driver cap, where dup chains get long at corpus scale.
    *
    *  - large-star: every node's neighbors larger than the node's
    *    current minimum attach directly to that minimum;
    *  - small-star: each node's ≤-neighbors attach to the minimum.
    *
    * Implemented as the standard edge-rewriting fixpoint: keep edge
    * set E as (u,v) with u > v invariant; each round computes per-node
    * min neighbor m(u) and rewrites (u,v) → (v, m(u)); fixpoint when
    * no edge changes. Same interface/result contract as
    * [[connectedComponentsAdaptive]]: (id, component = min id in
    * cluster). Fails loudly if `StarMaxRounds` rounds do not reach
    * the fixpoint. */
  def connectedComponentsStar(pairs: DataFrame): DataFrame = {
    // Edge invariant: u > v (the component representative is the
    // smallest id). localCheckpoint (eager) per round: each star op
    // references the previous edge set twice, so an unbroken lineage
    // would double the logical plan every iteration.

    // large-star: per node x over the SYMMETRIC adjacency, attach
    // every strictly-larger neighbor w to m(x) = min(Γ(x) ∪ {x}).
    // Output (w, m) already satisfies w > m since w > x ≥ m.
    def largeStar(edges: DataFrame): DataFrame = {
      val adj = edges.select(col("u").as("x"), col("v").as("y"))
        .union(edges.select(col("v").as("x"), col("u").as("y")))
      val m = adj.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      adj.join(m, Seq("x"))
        .where(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // small-star: per node u, attach its ≤-neighbors (all v of (u,v)
    // under the invariant) AND u itself to m(u) = min of those.
    def smallStar(edges: DataFrame): DataFrame = {
      val m = edges.groupBy("u").agg(min(col("v")).as("m"))
      val attachV = edges.join(m, Seq("u"))
        .select(col("v").as("a"), col("m").as("b"))
      val attachU = m.select(col("u").as("a"), col("m").as("b"))
      attachV.union(attachU)
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    var edges = pairs.select(
      greatest(col("id_a"), col("id_b")).as("u"),
      least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var edgeCount = edges.count()
    var converged = false
    var i = 0
    while (!converged && i < StarMaxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // converged when a full L+S round leaves the edge set unchanged:
      // no new edges AND same cardinality (a shrinking set also has an
      // empty anti-join). Both checks are short jobs over checkpointed
      // sets — no recompute lineage.
      val diff = next.join(edges, Seq("u", "v"), "left_anti").count()
      val nextCount = next.count()
      edges = next
      converged = diff == 0 && nextCount == edgeCount
      edgeCount = nextCount
      i += 1
    }
    // fail loudly rather than ever emit under-merged components
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $StarMaxRounds rounds " +
        s"($edgeCount edges remaining)")
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
      .groupBy("id").agg(min("component").as("component"))
    val roots = labels.select(col("component")).distinct()
      .select(col("component").as("id"), col("component"))
    labels.unionByName(roots)
  }

  /** Full near-dup dedup: LSH candidates → hybrid-verified pairs
    * (estimator for clear-margin candidates, exact Jaccard near the
    * threshold — see [[lshHybridPairs]]) → components → keep the
    * min-id representative of each cluster (plus every unpaired
    * document). The survivor set matches the all-exact formulation
    * ([[lshExactPairs]]) up to the hybrid's ≈2e−10-per-pair
    * divergence bound (see [[lshHybridPairs]]), and is a
    * deterministic function of the data either way.
    *
    * The tail is admission's ([[dedupIncremental]] against an empty
    * corpus): the [[hybridVerify]] result (a filter over checkpointed
    * scores ∪ a local relation of the near sliver) comes back in one
    * single-task collect under the driver cap, the non-canonical ids
    * are found by driver union-find, and the returned frame is `df`
    * anti-joined with that local drop set and the exact-copy losers
    * (which scale with the corpus and stay distributed). Above the cap
    * the components run distributed. The returned frame is lazy; it
    * does not read the staged signatures. */
  def dedupNearDups(df: DataFrame, threshold: Double,
                    idCol: String = "doc_id", textCol: String = "text",
                    cacheKey: Option[String] = None,
                    shingleSize: Int = 5): DataFrame = {
    // EXACT-COPY PRE-COLLAPSE: replica-heavy corpora (the realistic
    // web profile; the sf1/sf5 scale fixtures are 10-50× exact
    // replicas) would otherwise pay signatures, banding, and CC once
    // per copy. Equal raw-text fingerprint ⇒ Jaccard exactly 1 ⇒ in
    // the all-exact formulation every exact group clusters with its
    // min-id member — so running LSH + CC over ONE representative
    // per distinct text (the group min) and dropping every
    // non-representative is OUTPUT-IDENTICAL: a component's min over
    // reps equals its min over all members (each rep IS its group's
    // min), and texts shorter than `shingleSize` never pair in
    // either formulation (they bypass the collapse and survive;
    // the SAME size is passed to the verify below, so the two
    // eligibility cutoffs cannot drift). Same 2^-64 fp-collision
    // assumption hybridVerify documents.
    //
    // Shuffle shape: text NEVER rides an exchange here. (_id, _fp) is
    // one projected text scan, ids-only thereafter (16 bytes/doc); the
    // group-min aggregate and the losers join are ids-only; rep ROWS
    // come from a second corpus scan semi-joined to the rep ids
    // (scanning again is strictly cheaper than shipping one document
    // per distinct fingerprint through the aggregation exchange, and
    // when the rep set is small — the replica-heavy case — AQE
    // broadcasts it and the fetch is map-only).
    // no fanOut here: one xxhash64 per row is scan-cheap, and the
    // fan-out repartition would shuffle the full text rows it exists
    // to avoid (the heavy signature math fans out inside
    // signatureTable, over the already-collapsed reps)
    val idFp = df
      .where(length(col(textCol)) >= shingleSize)
      .select(col(idCol).as("_id"), xxhash64(col(textCol)).as("_fp"))
    // Neither idFp nor groups is checkpointed: both are lazy, so each
    // of groups' two readers (the rep fetch and the losers join)
    // re-runs the projected scan and the ids-only aggregate.
    val groups = idFp.groupBy(col("_fp")).agg(min(col("_id")).as("_rep"))
    val reps = df
      .join(groups.select(col("_rep").as(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol), col(textCol))
    val exactLosers = idFp.join(groups, Seq("_fp"))
      .where(col("_id") =!= col("_rep"))
      .select(col("_id").as(idCol))
    // distinct-text reps get their own staged-signature key — the
    // unsuffixed key may already hold the full-corpus artifact for
    // other operators sharing it (dedupIncremental, StreamNearDup).
    // Near texts come from `df`: near ids are rep ids, and a rep id's
    // rows in `df` are its rows in `reps`, without re-running the groups
    val pairs = hybridPairs(reps, df, threshold, idCol, textCol, shingleSize,
      cacheKey.map(_ + "#reps"))
    df.join(connectedComponentsDropSet(pairs, idCol).union(exactLosers),
      Seq(idCol), "left_anti")
  }

  /** INCREMENTAL near-dup dedup: admit the rows of `batch` that are
    * near-dups of neither the already-admitted `corpus` nor the
    * canonical representative of their own intra-batch cluster — the
    * production shape for continuously-ingested training data, where
    * re-deduping the full corpus per arriving batch is unaffordable.
    *
    * Semantics (oracle-checkable, deterministic): (1) drop every
    * batch row whose exact shingle Jaccard with ANY corpus row is ≥
    * `threshold` (verified hybrid — estimator at clear margin, exact
    * near the threshold, see [[lshHybridPairs]] for the divergence
    * bound); (2) cluster the SURVIVORS by their intra-batch near-dup
    * pairs and keep the min-id representative per cluster.
    * Clustering runs over corpus-survivors, not the whole batch, so a
    * cluster whose representative was itself a corpus-dup does not
    * silently lose its remaining members. Batch ids are keys: with a
    * duplicate id the exact-copy representatives below (picked by a
    * filter on the group min, not by a semi-join on the id) and the
    * final anti-join by id need not agree on which rows drop.
    *
    * Scale shape: ONE window over the batch rows (one exchange keyed
    * on the raw-text fingerprint, bounded by the increment, run once
    * and checkpointed) finds the exact-copy groups. ONE candidate
    * pipeline follows: the batch-rep
    * band view is equi-joined on (band, bucket) against the union of
    * the batch and corpus band views, each row tagged with its side,
    * so the same join yields cross (batch × corpus) and intra (batch
    * × batch, id_a < id_b) candidates; one [[hybridVerify]] keyed by
    * (id, side) checks both; cross pairs name the corpus dups, and
    * intra pairs that touch none of them go to one components pass.
    * Verifying intra pairs of corpus dups and dropping them afterwards
    * gives the same pair set as verifying survivors only, since each
    * pair's verdict is independent of the others. The tail is shared
    * with [[dedupNearDups]]: the [[hybridVerify]] result (a filter
    * over checkpointed scores ∪ a local relation of the near sliver,
    * re-checked on the driver) comes back in one single-task collect
    * when it holds up to the driver cap's pairs, and the drop set is
    * built on the driver, so the final anti-join broadcasts a local
    * relation bounded by the same cap; above it the drop set stays
    * distributed (shuffled anti-joins, [[connectedComponentsAdaptive]]).
    * The cap picks the mechanism, never the result. The returned
    * frame is lazy, but it never re-runs the window: it reads the
    * batch, the checkpointed window output and the drop set. The
    * corpus is touched ONLY through its signature table (id + k
    * longs, ~100× smaller than the corpus text) — with
    * `corpusCacheKey` that artifact is staged once per
    * session, and at warehouse scale it is the signature table you'd
    * maintain as a persistent side output of admission (append each
    * batch's admitted signatures). Per-batch work scales with |batch|
    * · collision rate, never with |corpus|. Corpus text never rides
    * an exchange, and is re-read only for the near-threshold sliver
    * of cross candidates (pruned id fetch). */
  def dedupIncremental(batch: DataFrame, corpus: DataFrame, threshold: Double,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleSize: Int = 5,
                       corpusCacheKey: Option[String] = None): DataFrame = {
    // Batch-side EXACT-COPY PRE-COLLAPSE — the dedupNearDups argument
    // carried over to the bipartite shape (re-crawled batches are the
    // replica-heavy profile this operator exists for). A non-rep
    // member m with rep r (its group's min id) always drops: if r is
    // a corpus dup then m is too (identical text ⇒ identical Jaccard
    // vs every corpus doc — group verdicts are atomic), else m
    // clusters with r intra-batch at Jaccard exactly 1 and can never
    // be its component's canonical (m > r ≥ component min). So the
    // full pipeline runs over one representative per distinct text,
    // and dropping every non-representative is OUTPUT-IDENTICAL.
    // Sub-shingle-length texts bypass on both sides (no signature ⇒
    // never pair ⇒ always admitted, pre and post).
    // `_rep` is the group min id, null for a null or sub-shingle text.
    // Checkpointed: the batch signatures, the near-threshold text fetch
    // and the exact losers of the returned frame all read it, and each
    // read would otherwise re-run the window (a cache could not be
    // released before the caller consumes the returned frame). The
    // window's one exchange is sized to the parallelism the signature
    // work wants (fanOut's target), so the reps come out fanned out
    // and fanOut adds no second exchange.
    val tagged = batch
      .select(col(idCol), col(textCol), xxhash64(col(textCol)).as("_fp"))
      .repartition(batch.sparkSession.sparkContext.defaultParallelism, col("_fp"))
      .select(col(idCol), col(textCol),
        when(length(col(textCol)) >= shingleSize,
          min(col(idCol)).over(Window.partitionBy(col("_fp"))))
          .as("_rep"))
      .localCheckpoint()
    val batchReps = tagged.where(col(idCol) === col("_rep"))
      .select(col(idCol), col(textCol))
    // null-safe: a null id or a null `_rep` is no loser (admitted)
    val exactLosers = tagged.where(coalesce(col(idCol) =!= col("_rep"), lit(false)))
      .select(col(idCol))
    withSignatures(corpus, shingleSize, idCol, textCol, corpusCacheKey) { cSig =>
      val bSig = signatureTable(batchReps, shingleSize, idCol, textCol)
      // side 0 = batch reps, side 1 = corpus
      val pairs = hybridVerify(bandCandidates(Seq(bSig, cSig)),
        Seq(bSig -> batchReps, cSig -> corpus), threshold, shingleSize, idCol, textCol)
      batch.join(connectedComponentsDropSet(pairs, idCol).union(exactLosers),
        Seq(idCol), "left_anti")
    }
  }

  /** Exact n-gram Jaccard over a bounded pair set (for oracle-sized
    * verification and as the verify stage other variants reuse). The
    * all-pairs form exists for completeness/testing only — production
    * paths go through [[minhashLsh]]/[[simhashPairs]]. */
  def ngramJaccardPairs(df: DataFrame, threshold: Double, shingleSize: Int,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingler: (Column, Int) => Column = Text.wordShingles): DataFrame = {
    val sh = fanOut(df).select(col(idCol).as("id"),
      shingler(col(textCol), shingleSize).as("sh"))
      .where(size(col("sh")) > 0)
    val l = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.crossJoin(r)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), Text.jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }
}
