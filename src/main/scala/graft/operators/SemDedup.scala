package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expressions.NativeVector
import graft.functions.{Ivf, IvfIndex, Sim}

/** Semantic deduplication over an embedding column — the SemDeDup
  * design (Abbas et al., "SemDeDup: Data-efficient learning at
  * web-scale through semantic deduplication", arXiv:2303.09540):
  * k-means-cluster the corpus embeddings, verify cosine similarity
  * only WITHIN each cluster, and keep one representative per group of
  * semantic duplicates. Complements the lexical near-dup path
  * ([[Dedup.minhashLsh]]) — it catches paraphrases and re-encodings
  * that share meaning but few shingles.
  *
  * Scale shape (the reason the paper clusters first): candidate
  * verification is corpus²/k in expectation instead of corpus², and
  * it is reached through an equi-join on the cell id — never a corpus
  * cross product. Assignment is one map-only pass (the same native
  * argmin expression as [[Ivf.assign]]); the trained quantizer is a
  * k×dim broadcast-sized artifact; clustering the resulting pair
  * graph reuses the adaptive/star connected components from the
  * lexical path, so long dup chains converge at any scale.
  *
  * Multi-probe (`probes` > 1) assigns each vector to its `probes`
  * nearest cells, recovering duplicate pairs that straddle a cell
  * boundary (the paper's known miss class) for `probes`× the
  * candidate volume — pairs are found if the two members share ANY
  * probed cell.
  */
object SemDedup {

  /** Within-cell semantic duplicate pairs: (id_a, id_b, sim) with
    * id_a < id_b and cosine ≥ `threshold`, where candidacy = the two
    * vectors share one of their `probes` nearest cells. Cosine is
    * rounded to 4 decimals (engine-portable, same as the lexical
    * pair operators). */
  def semanticPairs(df: DataFrame, index: IvfIndex, threshold: Double,
                    probes: Int = 1,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(probes >= 1, "probes must be >= 1")
    val vecs = df
      .select(col(idCol).as("id"), Sim.asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull)
    // cells on ids only; vectors re-joined for the verify, so the
    // band-style join moves (cell, id) rows, not embeddings
    val cells = vecs.select(col("id"),
        explode(NativeVector.nearestCentroids(col("v"), index.centroids, probes))
          .as("cell"))
    val cand = cells.as("l").join(cells.as("r"), Seq("cell"))
      .where(col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(vecs.select(col("id").as("id_a"), col("v").as("v_a")), Seq("id_a"))
      .join(vecs.select(col("id").as("id_b"), col("v").as("v_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(NativeVector.cosineSim(col("v_a"), col("v_b")), 4).as("sim"))
      .where(col("sim") >= threshold)
  }

  /** Cosine of each vector to its own (nearest) cell centroid:
    * (id, cell, cent_sim). The centroid table is k rows — broadcast
    * by construction. */
  private def centroidSim(vecs: DataFrame, index: IvfIndex): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val cents = index.centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "cent")
    vecs.select(col("id"),
        NativeVector.nearestCentroid(col("v"), index.centroids).as("cell"),
        col("v"))
      .join(broadcast(cents), Seq("cell"))
      .select(col("id"), col("cell"),
        round(NativeVector.cosineSim(col("v"), col("cent")), 6).as("cent_sim"))
  }

  /** Full semantic dedup: collapse exact-duplicate vectors → cluster
    * → within-cell pairs ≥ `threshold` over DISTINCT vectors →
    * connected components → one survivor per component (plus every
    * document in no duplicate group).
    *
    * The collapse is the replica-scale optimization: exact copies are
    * semantic duplicates by definition (cosine exactly 1, and
    * identical vectors always share cell assignments), so the
    * quadratic within-cell stage runs over distinct vectors only —
    * on a 50×-replicated corpus that is 2500× fewer candidate pairs
    * for a bit-identical survivor set. One groupBy on the vector
    * value (exact — no hashing) plus one re-join replace the
    * candidate flood.
    *
    * `keepFarthest = false` (default) keeps the min-id member —
    * deterministic and replayable by a relational oracle.
    * `keepFarthest = true` keeps the member LEAST similar to its cell
    * centroid (the paper's choice: retain the most atypical example
    * for diversity), ties broken by min id. (Exact copies share their
    * centroid similarity, so under both policies a collapsed group
    * is represented by its min id, exactly as uncollapsed.)
    *
    * `indexKey` stages the trained quantizer per corpus identity
    * (same artifact contract as [[Ivf.indexFor]]); without it the
    * quantizer is trained on every call. The quantizer trains on the
    * full frame (artifact identity unchanged by the collapse). */
  def semDedup(df: DataFrame, k: Int, threshold: Double,
               iters: Int = 3, probes: Int = 1,
               keepFarthest: Boolean = false,
               idCol: String = "vec_id", vecCol: String = "embedding",
               indexKey: Option[String] = None): DataFrame = {
    // cosine is ≤ 1 (round(·,4) included), so nothing can pair — and
    // the exact-copy collapse below would be WRONG here (identical
    // vectors are not duplicates under an unreachable threshold)
    if (threshold > 1.0) return df
    val index = indexKey match {
      case Some(key) => Ivf.indexFor(key, df, k, iters, vecCol)
      case None      => Ivf.train(df, k, iters, vecCol)
    }
    val vecs = df
      .select(col(idCol).as("gid"), Sim.asDouble(col(vecCol)).as("v"))
      .where(col("v").isNotNull)
    // one distinct row per vector VALUE; rid = min member id (float→
    // double widening is exact, so grouping the widened vectors
    // equals grouping the raw ones)
    val reps = vecs.groupBy("v").agg(min(col("gid")).as("rid"))
      .localCheckpoint() // read 2-3× below (pairs, labeling, policy)
    val pairs = semanticPairs(
      reps.select(col("rid").as("id"), col("v")), index, threshold, probes,
      idCol = "id", vecCol = "v")
    val comps = Dedup.connectedComponentsAdaptive(pairs)
    // every rep gets a duplicate-group label: its CC component when it
    // paired, else itself (exact copies of an isolated vector still
    // collapse to rid — they are cosine-1 duplicates of each other)
    val labeled = reps
      .join(comps.withColumnRenamed("id", "rid"), Seq("rid"), "left")
      .select(col("rid"), col("v"),
        coalesce(col("component"), col("rid")).as("comp"))
    val keep =
      if (!keepFarthest)
        // min rid per group == min member id (rid is already the min
        // of its copies)
        labeled.groupBy("comp").agg(min(col("rid")).as("keep_id"))
      else {
        // argmin (cent_sim, rid) per group; the centroid table join
        // is broadcast (k rows), the reduction partial-aggregates
        val cs = centroidSim(labeled.select(col("rid").as("id"), col("v")), index)
          .select(col("id").as("rid"), col("cent_sim"))
        labeled.join(cs, Seq("rid"))
          .groupBy("comp")
          .agg(min(struct(col("cent_sim"), col("rid"))).as("rep"))
          .select(col("comp"), col("rep.rid").as("keep_id"))
      }
    // expand back to member ids: a row is dropped iff its vector's
    // group keeps a different id; null-vector rows never enter `vecs`
    // and always survive (same as the pre-collapse behavior)
    val losers = vecs
      .join(labeled.select(col("v"), col("comp")), Seq("v"))
      .join(keep, Seq("comp"))
      .where(col("gid") =!= col("keep_id"))
      .select(col("gid").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
