package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity functions and search operators over an
  * `array<float>` embedding column (SURVEY.md north-star extensions).
  *
  * Scalar math is pure higher-order-function column algebra (codegen,
  * no UDF). Search operators come in two shapes:
  *   - brute-force top-k: exact, broadcast the (small) query set so
  *     the corpus is scanned once with no shuffle of the corpus side;
  *   - SRP-LSH bucketed: approximate, prunes the pair space through a
  *     signed-random-projection signature so candidate generation is
  *     a bucket equi-join — the shape that survives 100 TB.
  */
object Sim {

  /** Cast float vector to double for stable, engine-portable math. */
  def asDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product (sequential left-to-right accumulation). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double vectors. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector.
    *
    * The query side is broadcast (queries are the small side by
    * construction); the corpus streams through once. Ranking goes
    * through the bounded-heap [[TopKAgg]] UDAF: map-side partial
    * aggregation reduces each partition to ≤k candidates per query
    * BEFORE the shuffle, so only numPartitions·k scored rows move —
    * the `row_number` window formulation shuffles and sorts every
    * (query × corpus) score. Ordering (sim desc, id asc) is identical,
    * so results match the window/DuckDB oracle exactly.
    *
    * Input contract: `vecCol` must be `array<float>` or
    * `array<double>` (the native cosine reads elements without a
    * widening cast; integer arrays should be cast via [[asDouble]]
    * first). Zero-norm vectors score 0.0 (see NativeVector guard).
    */
  def knnBrute(queries: DataFrame, corpus: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.expressions.NativeVector.cosineSim(col("qv"), col("cv")), 4).as("sim"))
    topKPerGroup(scored, "query_id", "neighbor_id", "sim", k)
  }

  /** Rank (groupCol, idCol, scoreCol) rows to the top-k per group via
    * the partial-aggregable UDAF; output matches the row_number window
    * shape: (group, id, score, rnk). */
  def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    val tk = TopKAgg.topK(k)
    scored.groupBy(groupCol)
      .agg(tk(col(idCol), col(scoreCol)).as("_topk"))
      .select(col(groupCol), posexplode(col("_topk")))
      .select(col(groupCol), col("col.id").as(idCol),
        col("col.score").as(scoreCol), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Centroid-outlier detection over a labeled embedding corpus (the
    * CLIP-score-filter / noisy-label-screen shape: vectors that do not
    * point the way their class points are mislabeled or junk).
    *
    * Per label, the centroid DIRECTION is the element-wise SUM of the
    * label's vectors ([[VectorSum]] — same direction as the mean under
    * cosine, but integer-valued inputs stay exactly representable, so
    * the scores are bit-deterministic across engines and summation
    * orders). Each vector is scored `cos(v, sum(label))` and flagged
    * `is_outlier = sim < minCos`.
    *
    * Scale shape: one partial-agg shuffle whose map side reduces every
    * partition to ONE row per label (dim doubles + a count), then the
    * per-label sums — |labels| rows, tiny by definition — broadcast
    * back over the corpus for a map-only score. The corpus itself is
    * never shuffled. Caveat: the flagged vector CONTRIBUTES to its own
    * label sum (the standard one-pass formulation; at corpus scale one
    * vector's contribution to a class sum is noise, and the oracle
    * replays the same formulation).
    */
  def centroidOutliers(df: DataFrame, minCos: Double,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       labelCol: String = "label"): DataFrame = {
    val vecs = df.select(col(idCol), col(labelCol),
      asDouble(col(vecCol)).as("_v"))
    val sums = vecs.groupBy(col(labelCol))
      .agg(VectorAgg.sumVec(col("_v")).as("_c"))
    vecs.join(broadcast(sums), Seq(labelCol))
      .select(col(idCol), col(labelCol),
        round(graft.expressions.NativeVector.cosineSim(col("_v"), col("_c")), 4)
          .as("sim"))
      .withColumn("is_outlier", col("sim") < minCos)
  }

  /** Symmetric per-vector int8 quantization scale: max|x| / 127.
    * Quantized embeddings cost 1 byte/dim instead of 4-8 — at 100 TB
    * of vectors that is the difference between an ANN index that fits
    * the cluster and one that doesn't. Half-up rounding is spelled out
    * as floor(x/s + 0.5) so the codes are engine-exact (the q19
    * pattern); reconstruction error is bounded by scale/2 per element.
    */
  def quantScale(v: Column): Column =
    aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0

  /** Quantize to integer codes in [-127, 127] (0 for zero vectors). */
  def quantize(v: Column, scale: Column): Column =
    transform(v, x => when(scale > 0, floor(x / scale + 0.5)).otherwise(lit(0.0)))

  /** Reconstruct approximate doubles from codes. */
  def dequantize(q: Column, scale: Column): Column =
    transform(q, x => x * scale)

  /** Signed-random-projection signature: `planes` pseudo-random
    * hyperplanes with deterministic SplitMix64-derived coefficients in
    * [-1, 1); bit p = sign of the projection. Similar vectors agree on
    * most bits. Native Catalyst expression — the planes×dim expression
    * tree it replaces measured 41 s at sf0.1. */
  def srpSignature(v: Column, planes: Int): Column =
    graft.expressions.NativeSignatures.srpSignature(v, planes)

  /** The SRP-LSH design point: 6 bands of 10 bits (a 60-plane
    * signature). */
  private val SrpBands = 6
  private val SrpBitsPerBand = 10

  /** Approximate near-duplicate pairs by SRP-LSH banding: vectors
    * sharing any signature band become candidates (equi-join on the
    * band key — shuffle, no cross product); candidates are verified
    * with exact cosine ≥ threshold.
    *
    * At scale the candidate join is the only shuffle and its key space
    * is 6 × 2^10 buckets.
    */
  def nearDupPairs(df: DataFrame, threshold: Double,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // Fully lazy by design: the vector projection is scan+cast, cheap
    // to recompute per branch, and a persisted/pre-materialized copy
    // measurably HURTS — once an InMemoryRelation is materialized its
    // (decompressed double-array) size disqualifies the verify joins
    // from broadcast, and an eager localCheckpoint re-stores the
    // result for nothing. Median-of-7 at sf0.1: lazy 0.49 s vs
    // staged+checkpoint 0.61 s (and the staged path pinned executor
    // memory for the session). Callers that genuinely reuse staged
    // artifacts should persist the INPUT themselves.
    val vecs = fanOut(df).select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    val cand = srpBandCandidates(vecs)
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(graft.expressions.NativeVector.cosineSim(col("v_a"), col("v_b")), 4).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Ids-only SRP-LSH candidate pairs over a staged (id, v) frame:
    * vectors sharing any signature band. */
  private def srpBandCandidates(vecs: DataFrame): DataFrame = {
    val withSig = vecs.withColumn("sig", srpSignature(col("v"), SrpBands * SrpBitsPerBand))
    val mask = (1L << SrpBitsPerBand) - 1
    // band on ids ONLY (vectors re-joined for verify) — and with
    // 2^10 = 1024 buckets per band the candidate set stays
    // near-linear instead of quadratic-within-16-buckets
    val banded = withSig.select(
      col("id"),
      posexplode(array((0 until SrpBands).map(b =>
        shiftright(col("sig"), b * SrpBitsPerBand).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
    banded.as("l").join(banded.as("r"), Seq("band", "bucket"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Public SRP candidate generation (the band join before cosine
    * verification) for recall audits: containment of the exact
    * high-cosine pair set in this candidate set is what the banding
    * design promises. */
  def srpCandidates(df: DataFrame,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    srpBandCandidates(fanOut(df).select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")))

  /** Same rationale and policy as the dedup side — one shared
    * implementation so the fan-out condition can't drift. */
  private def fanOut(df: DataFrame): DataFrame =
    graft.operators.Dedup.fanOut(df)
}
