package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Document-curation verdict operator: combine the text-quality
  * signals (token count, entropy, repetition, punctuation, stopword
  * mass — the published Gopher/RefinedWeb-style rule family) into a
  * keep/drop decision with per-rule attribution.
  *
  * Pure column expressions over one scan — map-only, no shuffle; at
  * 100 TB this runs as a single pass with whole-stage codegen and the
  * drop reasons aggregate cheaply for curation dashboards.
  */
object Curation {

  // new fields appended (not inserted) so pre-existing positional
  // construction keeps its meaning
  case class Thresholds(
      minTokens: Long = 10,
      maxTokens: Long = 100000,
      minEntropy: Double = 1.5,
      maxTopBigramFrac: Double = 0.2,
      maxDupLineFrac: Double = 0.3,
      maxPunctRatio: Double = 0.25,
      maxDupNgramFrac: Double = 0.15,
      dupNgramN: Int = 3)

  /** Fraction of duplicate lines (1 - distinct/total) over non-blank
    * lines — native single-pass expression (the split/filter/
    * array_distinct HOF chain is CodegenFallback and was the last
    * interpreted stage in this projection). */
  def dupLineFrac(c: Column): Column =
    graft.expressions.NativeText.dupLineFrac(c)

  /** Annotate with signals, failed-rule list, and a keep flag.
    * (Dedup.fanOut first: signal math is CPU-bound per document, and a
    * one-row-group fixture scan would otherwise run it on one core —
    * no-op at scale where the scan supplies the parallelism.) */
  def annotate(df: DataFrame, textCol: String = "text",
               t: Thresholds = Thresholds()): DataFrame = {
    val ts = Text.tokens(col(textCol))
    val annotated = Dedup.fanOut(df)
      .withColumn("n_tok", size(ts).cast("long"))
      .withColumn("entropy", Text.charEntropy(col(textCol)))
      .withColumn("top_bigram_frac",
        graft.expressions.NativeText.topNgramFrac(ts, 2))
      // the OTHER Gopher repetition family: characters covered by
      // DUPLICATED n-grams (coverage union) — top-bigram catches one
      // dominating loop, this catches diffuse boilerplate repetition
      .withColumn("dup_ngram_frac",
        graft.expressions.NativeText.dupNgramFrac(ts, t.dupNgramN))
      .withColumn("dup_line_frac", dupLineFrac(col(textCol)))
      .withColumn("punct_ratio", Text.punctRatio(col(textCol)))
    val rules: Seq[(String, Column)] = Seq(
      "too_short" -> (col("n_tok") < t.minTokens),
      "too_long" -> (col("n_tok") > t.maxTokens),
      "low_entropy" -> (col("entropy") < t.minEntropy),
      "repetitive_ngrams" -> (col("top_bigram_frac") > t.maxTopBigramFrac),
      "duplicate_ngrams" -> (col("dup_ngram_frac") > t.maxDupNgramFrac),
      "duplicate_lines" -> (col("dup_line_frac") > t.maxDupLineFrac),
      "punct_noise" -> (col("punct_ratio") > t.maxPunctRatio))
    val reasons = filter(
      array(rules.map { case (name, cond) =>
        when(cond, lit(name)).otherwise(lit(null))
      }: _*),
      r => r.isNotNull)
    annotated
      .withColumn("drop_reasons", reasons)
      .withColumn("keep", size(col("drop_reasons")) === 0)
  }
}
