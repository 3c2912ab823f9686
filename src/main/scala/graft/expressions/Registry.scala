package graft.expressions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Text

/** SQL registration for the graft native expressions, so the ad-hoc
  * SQL surface (EP3) can call them directly:
  *
  * {{{
  * SELECT doc_id, graft_simhash64(graft_tokens(text)) FROM documents
  * }}}
  *
  * Two entry points:
  *  - [[Registry.register]] — add to an existing session.
  *  - [[GraftExtensions]] — `spark.sql.extensions=graft.expressions.GraftExtensions`
  *    for cluster-wide injection at session build time.
  */
object Registry {

  /** A SQL call's arguments, handed to the function's Column builder. */
  private final class Args(name: String, es: Seq[Expression]) {
    def apply(i: Int): Column = ColumnBridge.column(es(i))

    def int(i: Int): Int = es(i) match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"$name expects an integer literal, got $other")
    }

    def string(i: Int): String = es(i) match {
      case Literal(v: UTF8String, _) => v.toString
      case other => throw new IllegalArgumentException(
        s"$name expects a string literal, got $other")
    }
  }

  /** One SQL function: its name is the head of `usage`, and its builder
    * is the function's Column builder, so the method name, type and
    * nullability of each function are written once. */
  private def fn(usage: String)(build: Args => Column)
      : (String, Seq[Expression] => Expression, String) = {
    val name = usage.takeWhile(_ != '(')
    (name, es => ColumnBridge.expression(build(new Args(name, es))), usage)
  }

  /** name → (builder, usage) */
  val functions: Seq[(String, Seq[Expression] => Expression, String)] = Seq(
    fn("graft_tokens(str) - lowercased whitespace tokens")(a =>
      NativeText.tokens(a(0))),
    fn("graft_fingerprint(tokens) - 64-bit rolling token fingerprint")(a =>
      NativeText.fingerprint(a(0))),
    fn("graft_simhash64(tokens) - 64-bit SimHash signature")(a =>
      NativeSignatures.simhash64(a(0))),
    fn("graft_minhash(shingles, k) - k-component MinHash signature")(a =>
      NativeSignatures.minhashSignature(a(0), a.int(1))),
    fn("graft_minhash_text(str, n, k) - fused char-n-gram MinHash signature")(a =>
      NativeSignatures.minhashText(a(0), a.int(1), a.int(2))),
    fn("graft_char_shingles(str, n) - distinct lowercased char n-grams")(a =>
      NativeSignatures.charShingles(a(0), a.int(1))),
    fn("graft_srp_sig(vec, planes) - signed-random-projection signature")(a =>
      NativeSignatures.srpSignature(a(0), a.int(1))),
    fn("graft_char_entropy(str) - Shannon entropy (bits/char)")(a =>
      NativeText.charEntropy(a(0))),
    fn("graft_token_count(str) - fused whitespace token count")(a =>
      NativeText.tokenCount(a(0))),
    fn("graft_fingerprint_text(str) - fused 64-bit rolling token fingerprint")(a =>
      NativeText.fingerprintText(a(0))),
    fn("graft_simhash64_text(str) - fused 64-bit SimHash signature")(a =>
      NativeText.simhashText(a(0))),
    fn("graft_punct_ratio(str) - punctuation chars / total chars")(a =>
      NativeText.punctRatio(a(0))),
    fn("graft_lang_id(str) - fused best stopword-scored language code")(a =>
      NativeText.langScoreText(a(0), Text.stopwordSets)),
    fn("graft_parse_mdy(str) - strict m/d/yyyy text to DATE (NULL on junk)")(a =>
      NativeDates.parseMdy(a(0))),
    fn("graft_format_mdy(date) - DATE to MM/dd/yyyy text")(a =>
      NativeDates.formatMdy(a(0))),
    fn("graft_lang_score(tokens) - best stopword-scored language code")(a =>
      NativeText.langScore(a(0), Text.stopwordSets)),
    fn("graft_cosine(a, b) - cosine similarity of two float/double vectors")(a =>
      NativeVector.cosineSim(a(0), a(1))),
    fn("graft_intersect_count(a, b) - |a ∩ b| for distinct-element string arrays")(a =>
      NativeText.intersectCount(a(0), a(1))),
    fn("graft_chunks(str, size, step) - overlapping token-window chunks")(a =>
      NativeText.chunks(a(0), a.int(1), a.int(2))),
    fn("graft_dup_line_frac(str) - duplicate-line fraction over non-blank lines")(a =>
      NativeText.dupLineFrac(a(0))),
    fn("graft_sig_agree(a, b) - count of agreeing signature components")(a =>
      NativeSignatures.sigAgree(a(0), a(1))),
    fn("graft_chunks_with_counts(str, size, step) - chunks with per-window token counts")(a =>
      NativeText.chunksWithCounts(a(0), a.int(1), a.int(2))),
    fn("graft_subword_count(tokens) - BPE-ish subword count")(a =>
      NativeText.subwordCount(a(0))),
    fn("graft_top_ngram_frac(tokens, n) - share of the most frequent n-gram")(a =>
      NativeText.topNgramFrac(a(0), a.int(1))),
    fn("graft_dup_ngram_frac(tokens, n) - char fraction covered by duplicated n-grams")(a =>
      NativeText.dupNgramFrac(a(0), a.int(1))),
    fn("graft_dedup_lines(str) - drop repeated non-blank lines; struct<kept_text, n_removed>")(a =>
      NativeText.dedupLines(a(0))),
    fn("graft_html_extract(str) - HTML to text: strip comments/script/style/tags, decode XML entities, normalize whitespace")(a =>
      NativeText.htmlExtract(a(0))),
    fn("graft_nfc(str) - NFC Unicode normalization (canonical composition)")(a =>
      NativeText.nfc(a(0))),
    fn("graft_clean_text(str) - NFC + strip C0/DEL controls (keep \\n \\t) + collapse space/tab runs + trim edge spaces")(a =>
      NativeText.cleanText(a(0))),
    fn("graft_word_ngram_hashes(tokens, k) - 64-bit hash of every k-token window, in position order")(a =>
      NativeText.wordNgramHashes(a(0), a.int(1))),
    fn("graft_remove_token_ranges(tokens, starts, ends) - cut sorted disjoint token ranges; struct<kept_text, n_removed>")(a =>
      NativeText.removeTokenRanges(a(0), a(1), a(2))),
    fn("graft_normalize_url(str) - canonical URL: lowercase scheme/host, strip default port/fragment/tracking params, sort query, trim path slashes; NULL on malformed")(a =>
      NativeUrl.normalizeUrl(a(0))),
    fn("graft_url_host(str) - lowercased URL host (port stripped); NULL on malformed")(a =>
      NativeUrl.urlHost(a(0))),
    fn("graft_registrable_domain(host) - last 2 labels (3 over multi-part public suffixes)")(a =>
      NativeUrl.registrableDomain(a(0))),
    fn("graft_url_path_query(str) - path + query ('/a?q=1', fragment dropped, empty path -> '/'); NULL on malformed")(a =>
      NativeUrl.urlPathQuery(a(0))),
    fn("graft_robots_match(pathq, pattern) - RFC 9309 rule match: prefix semantics, '*' wildcard, trailing '$' anchor")(a =>
      NativeRobots.robotsMatch(a(0), a(1))),
    fn("graft_json_long(doc, field) - top-level integer JSON field or NULL")(a =>
      NativeJson.jsonGetLong(a(0), a.string(1))))

  /** Register all functions on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, builder, _) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}

/** `spark.sql.extensions`-compatible injector: the SQL function
  * surface plus the graft optimizer rules
  * ([[graft.plans.SemiAntiRightDedup]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Registry.functions.foreach { case (name, builder, usage) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
        builder))
    }
    ext.injectOptimizerRule(_ => graft.plans.SemiAntiRightDedup)
  }
}
