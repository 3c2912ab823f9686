package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data
  * pipelines (SURVEY.md north-star extensions): tokenization, token
  * counting, quality scoring, language ID, document fingerprinting.
  *
  * Everything is a pure `Column` expression built from Spark
  * built-ins and higher-order array functions — codegen-friendly, no
  * UDFs, so whole-stage codegen keeps the scan→project pipeline in
  * one stage at any scale.
  */
object Text {

  /** Whitespace tokenization, lowercased, empty tokens dropped.
    * Native expression (one pass; the split+filter HOF chain it
    * replaces is interpreted per element and blocks whole-stage
    * codegen for every text query built on it). */
  def tokens(c: Column): Column =
    graft.expressions.NativeText.tokens(c)

  /** Whitespace token count (BIGINT). Fused single-pass byte counter —
    * never materializes the token array (bit-identical to
    * `size(tokens(c))`; see NativeText.tokenCountEval). */
  def tokenCount(c: Column): Column =
    graft.expressions.NativeText.tokenCount(c)

  /** A BPE-ish proxy token count: word-piece segments of ≤4 chars.
    * ceil(len/4) summed per word — deterministic, cheap, and a decent
    * stand-in for subword tokenizers when budgeting at corpus scale.
    * Fused single-pass byte counter with an ASCII fast path — never
    * materializes the token array (bit-identical to the tokens-based
    * form; see NativeText.subwordCountTextEval). */
  def subwordCount(c: Column): Column =
    graft.expressions.NativeText.subwordCountText(c)

  /** Token-window document chunking (training-data prep): windows of
    * `size` whitespace tokens advancing by `size - overlap`; the last
    * window may be short. Case and token order preserved; chunk text
    * is canonical single-space joined. Map-only native expression. */
  def chunks(c: Column, size: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    graft.expressions.NativeText.chunks(c, size, size - overlap)
  }

  /** Sentence segmentation with a PORTABLE, regex-specified rule: a
    * sentence boundary is a run of `.!?` followed by one-or-more
    * spaces and then `A-Z` or `0-9`; the punctuation stays with the
    * left sentence, the separating spaces are dropped. Composed from
    * built-ins (regexp_replace marker + split, both codegen'd; the
    * empty-drop filter is a cheap HOF over the few resulting
    * sentences) — Spark's own `sentences()` uses
    * java.text.BreakIterator, whose locale-dependent output no other
    * engine can replay; this rule is the same RE2-portable pipeline
    * the oracle runs verbatim. Returns `array<string>` with empties
    * dropped. */
  def sentenceSplit(c: Column): Column =
    filter(
      split(regexp_replace(c, "([.!?]+) +([A-Z0-9])", "$1\u0001$2"),
        "\u0001"),
      s => length(s) > 0)

  /** [[chunks]] plus each window's token count, as
    * `array<struct<chunk string, n_tok bigint>>` — counts come from
    * the window construction itself, so downstream never re-tokenizes
    * the chunk text. */
  def chunksWithCounts(c: Column, size: Int, overlap: Int): Column = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    graft.expressions.NativeText.chunksWithCounts(c, size, size - overlap)
  }

  /** NFC Unicode normalization (canonical composition). Run this
    * BEFORE any exact/fingerprint dedup or n-gram signal: `Cafe` +
    * U+0301 and `Café` are the same text and must hash identically.
    * Map-only native expression with an ASCII fast path (no java
    * String materialized when the bytes are 7-bit). */
  def nfc(c: Column): Column =
    graft.expressions.NativeText.nfc(c)

  /** Ingest text normalization, one native pass: NFC compose, drop C0
    * control chars except newline/tab (CRLF → LF) and DEL, collapse
    * space/tab runs to one space (newlines survive as structure —
    * the x55/x64 line conventions), trim edge spaces. Equivalent to
    * `trim(regexp_replace(regexp_replace(nfc(s),
    * '[\\x00-\\x08\\x0B-\\x1F\\x7F]', ''), '[ \\t]+', ' '))` without
    * the three intermediate string copies. */
  def normalizeText(c: Column): Column =
    graft.expressions.NativeText.cleanText(c)

  /** HTML → text extraction (the ingest step before any text signal
    * on a web corpus): strip comments, script/style elements with
    * their content, every remaining tag (each becomes one space so
    * words never fuse), decode the XML entities (&amp; last — the
    * standard double-escape order), then [[normalizeText]]'s NFC +
    * control/whitespace cleanup. Deterministic and SQL-replayable by
    * construction; see NativeText.htmlExtractEval for the exact
    * regex-pipeline specification. */
  def htmlExtract(c: Column): Column =
    graft.expressions.NativeText.htmlExtract(c)

  /** Punctuation ratio: punctuation chars / total chars (0 for empty).
    * Single byte-pass native expression — the regexp_replace rewrite
    * it replaces copied the whole string per row (equivalence pinned
    * in NativeEquivalenceSpec). */
  def punctRatio(c: Column): Column =
    graft.expressions.NativeText.punctRatio(c)

  /** Ratio of tokens that are (English) stopwords — a classic
    * fluency/quality signal. Native hit counter (one hash lookup per
    * token; the filter-isin HOF it replaces scanned the word list per
    * token, interpreted). */
  def stopwordRatio(c: Column, stopwords: Seq[String] = enStopwords): Column =
    graft.expressions.NativeText.stopwordRatio(c, stopwords)

  /** Fraction of token characters covered by DUPLICATED n-grams —
    * the Gopher dup-n-gram repetition signal (coverage union: a
    * character counts once however many duplicated windows overlap
    * it). Complements [[graft.expressions.NativeText.topNgramFrac]]
    * (most-frequent-gram share): top catches one dominating loop,
    * dup catches diffuse boilerplate repetition. */
  def dupNgramCharFrac(c: Column, n: Int): Column =
    graft.expressions.NativeText.dupNgramFrac(tokens(c), n)

  /** Shannon entropy (bits/char) over code points — repetition /
    * binary-junk detector (native expression). */
  def charEntropy(c: Column): Column =
    graft.expressions.NativeText.charEntropy(c)

  /** Composite quality score in [0,1]: length sweet-spot, low
    * punctuation noise, some stopword mass. Heuristic; weights are
    * not tuned, the point is the shape (pure column math → codegen). */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lenScore = when(nTok >= 20 && nTok <= 5000, lit(1.0))
      .when(nTok > 0, nTok / 20.0).otherwise(lit(0.0))
    val punctScore = lit(1.0) - least(punctRatio(c) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatio(c) * 4.0, lit(1.0))
    round(least(lenScore, lit(1.0)) * 0.4 + punctScore * 0.3 + stopScore * 0.3, 4)
  }

  /** Language ID over a fixed candidate set by stopword-hit scoring,
    * with a CJK-character fast path. Returns the language code with
    * the most distinct stopword hits ('und' when nothing matches).
    *
    * Argmax without a UDF: build an array of (score, lang) structs and
    * take `array_max` — struct ordering compares score first, then
    * lang code as the deterministic tie-break. */
  def langId(c: Column): Column =
    when(c.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
      .otherwise(graft.expressions.NativeText.langScoreText(c, stopwordSets))

  /** 64-bit rolling fingerprint of the token stream (order-sensitive,
    * whitespace/case-normalized): h = xxhash64(h, token), i.e. a hash
    * chain rather than polynomial multiply — same identity semantics,
    * no overflow (ANSI-mode safe). Collision-unlikely content identity
    * for shuffle-cheap exact-ish dedup (two docs differing only in
    * whitespace/casing collide — by design). */
  def fingerprint(c: Column): Column =
    graft.expressions.NativeText.fingerprintText(c)

  /** SimHash-64 over tokens: per bit b, sum ±1 weighted by each
    * token's xxhash64 bit, take the sign bit. Near-identical docs land
    * within small Hamming distance. Backed by one native static call
    * ([[graft.expressions.NativeText.simhashTextEval]]) — the
    * equivalent higher-order-function formulation walks a 64-element
    * array per token through the interpreter and measured
    * ~9 s over 5M tokens at sf0.1; the native loop is ~50× cheaper. */
  def simhash64(c: Column): Column =
    graft.expressions.NativeText.simhashText(c)

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("long")

  /** Character n-gram shingles (distinct, lowercased), for Jaccard
    * similarity. Native static call — see
    * [[graft.expressions.NativeSignatures.charShinglesEval]]. */
  def charShingles(c: Column, n: Int): Column =
    graft.expressions.NativeSignatures.charShingles(c, n)

  /** Word n-gram shingles (distinct). */
  def wordShingles(c: Column, n: Int): Column =
    graft.expressions.NativeText.wordNgrams(tokens(c), n)

  /** Jaccard similarity of two (distinct-element) arrays — ONE fused
    * native evaluation (intersect pass + inclusion-exclusion union;
    * the previous composed form referenced intersectCount up to 3×
    * per site, all three paid inside join-condition trees where WSCG
    * subexpression elimination doesn't apply). coalesce preserves the
    * old 0.0-on-null-input behavior. */
  def jaccard(a: Column, b: Column): Column =
    coalesce(round(graft.expressions.NativeText.jaccardArrays(a, b), 4), lit(0.0))

  // --- PII scrubbing (training-data curation) ---
  // Patterns are RE2-compatible (no lookarounds/backrefs) so the same
  // strings run identically in Spark's Java regex and DuckDB/RE2 —
  // engine-portable by construction, like the rest of the suite.
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "(\\+?\\d{1,3}[-. ])?\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}\\b"

  /** Redact emails, IPv4 addresses, and phone-shaped numbers with
    * typed placeholders. Order matters: emails first (their dotted
    * domains could otherwise partially match), then IPs (dotted quads
    * would otherwise phone-match), then phones. Map-only; one
    * codegen'd `regexp_replace` chain. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailRe, "<EMAIL>"),
        ipv4Re, "<IP>"),
      phoneRe, "<PHONE>")

  /** Count of PII matches per kind, for curation reporting. */
  def piiCounts(c: Column): Column = struct(
    regexp_count(c, lit(emailRe)).as("emails"),
    regexp_count(regexp_replace(c, emailRe, ""), lit(ipv4Re)).as("ips"),
    regexp_count(
      regexp_replace(regexp_replace(c, emailRe, ""), ipv4Re, ""),
      lit(phoneRe)).as("phones"))

  val enStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was",
    "it", "that", "this", "for", "on", "with", "as", "by", "at", "be",
    "from", "not", "but", "they", "he", "she", "we", "you", "his", "her")

  /** Small per-language stopword sets (public common-word lists). */
  val stopwordSets: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
      "zu", "mit", "auf", "für", "von", "den", "im", "sich", "des", "dem"),
    "en" -> enStopwords,
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de", "que", "en",
      "un", "una", "por", "con", "para", "del", "se", "no", "al"),
    "fr" -> Seq("le", "la", "les", "et", "est", "de", "des", "un", "une",
      "du", "que", "qui", "dans", "pour", "pas", "sur", "au", "avec"))
}
