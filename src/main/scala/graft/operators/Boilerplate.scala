package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CROSS-document boilerplate-line removal — the CCNet/RefinedWeb
  * curation step the within-doc rule ([[graft.expressions.NativeText.dedupLines]],
  * x55) cannot reach: navigation headers, cookie banners, unsubscribe
  * footers repeat VERBATIM across thousands of documents while
  * appearing once per document. A line whose exact text occurs in at
  * least `minDocs` distinct documents is boilerplate; the rewrite
  * drops every occurrence, keeping blank (space-only) lines as
  * structure. Line conventions are identical to x55's rule:
  * untrimmed exact-text match, split('\n', -1), survivors re-join
  * with '\n'.
  *
  * Scale design: phase 1 is one line-keyed aggregation with map-side
  * combine over per-doc DISTINCT lines (`array_distinct` before the
  * explode, so document frequency — not occurrence count — shuffles);
  * the surviving frequent set is Zipf-bounded and tiny relative to
  * the corpus (the `maxSet` require makes the bound explicit, the
  * same collect contract as the IVF centroid and BPE rank tables).
  * Phase 2 ships that set as a codegen reference object and rewrites
  * in ONE map-only pass — the corpus text is never shuffled.
  */
object Boilerplate {

  /** (line, n_docs) for every non-blank line appearing in ≥ minDocs
    * distinct documents. */
  def frequentLines(docs: DataFrame, minDocs: Long,
                    textCol: String = "text"): DataFrame =
    Dedup.fanOut(docs)
      .select(explode(array_distinct(split(col(textCol), "\n", -1))).as("line"))
      .where(trim(col("line"), " ") =!= "") // space-only = blank, kept out
      .groupBy(col("line"))
      .agg(count(lit(1)).as("n_docs")) // distinct per doc → doc frequency
      .where(col("n_docs") >= minDocs)

  /** Strip every corpus-frequent line from every document:
    * (idCol, kept_text, n_removed) — occurrences counted, blank lines
    * preserved, order kept. */
  def stripFrequentLines(docs: DataFrame, minDocs: Long,
                         idCol: String = "doc_id", textCol: String = "text",
                         maxSet: Int = 1000000): DataFrame = {
    // cap BEFORE the collect (the Dedup driver-cap convention): the
    // limit travels to the executors, so a runaway frequent set can
    // never reach the driver
    val freq = frequentLines(docs, minDocs, textCol)
      .select(col("line")).limit(maxSet + 1).collect().map(_.getString(0)).toSeq
    require(freq.length <= maxSet,
      s"frequent-line set exceeds maxSet=$maxSet — " +
        "raise minDocs or rewrite via the join formulation")
    docs.withColumn("_r",
        graft.expressions.NativeText.removeLines(col(textCol), freq))
      .select(col(idCol), col("_r.kept_text").as("kept_text"),
        col("_r.n_removed").as("n_removed"))
  }
}
