package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text expressions: tokenizer, rolling fingerprint, and
  * stopword language scoring. Same rationale as NativeSignatures —
  * the split/filter/aggregate higher-order chains these replace are
  * interpreted per element; these run one JVM pass per row and
  * codegen as a single static call.
  */
object NativeText {

  // --- static eval helpers (called from generated code) ---

  /** Half-up 4-dp rounding for non-negative signals — matches SQL
    * ROUND(x, 4) semantics by construction (math.rint is half-EVEN and
    * lands one ulp off on exactly-representable boundaries like
    * 2/64 = 0.03125). */
  private def round4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  def tokensEval(str: UTF8String): ArrayData = {
    val parts = str.toLowerCase.toString.split("\\s+")
    val out = new java.util.ArrayList[AnyRef](parts.length)
    var i = 0
    while (i < parts.length) {
      if (parts(i).nonEmpty) out.add(UTF8String.fromString(parts(i)))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Hash-chain fingerprint with the same chaining rule as SQL
    * `xxhash64(acc, token)`: seed 42, longs then strings. */
  def fingerprintEval(tokens: ArrayData): Long = {
    var h = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        h = XXH64.hashUTF8String(tokens.getUTF8String(i), XXH64.hashLong(h, 42L))
      }
      i += 1
    }
    h
  }

  /** Distinct-stopword-hit scoring over a fixed candidate set; returns
    * the best language code or "und". Tie-break: lexicographically
    * larger code (matches the array_max(struct(score, lang)) HOF
    * formulation this replaces). */
  def langScoreEval(tokens: ArrayData, langs: Array[String],
                    sets: Array[java.util.HashSet[String]]): UTF8String = {
    val nLangs = langs.length
    val hits = new Array[java.util.HashSet[String]](nLangs)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i).toString
        var l = 0
        while (l < nLangs) {
          if (sets(l).contains(t)) {
            if (hits(l) == null) hits(l) = new java.util.HashSet[String]()
            hits(l).add(t)
          }
          l += 1
        }
      }
      i += 1
    }
    var best = -1
    var bestScore = 0
    var l = 0
    while (l < nLangs) {
      val s = if (hits(l) == null) 0 else hits(l).size
      if (s > bestScore || (s == bestScore && s > 0 && best >= 0 &&
          langs(l).compareTo(langs(best)) > 0)) {
        best = l; bestScore = s
      }
      l += 1
    }
    if (bestScore > 0) UTF8String.fromString(langs(best))
    else UTF8String.fromString("und")
  }

  /** Fused rolling fingerprint: [[fingerprintEval]] without the token
    * array — lowercase once, hash-chain zero-copy token views over the
    * lowered bytes (same chaining rule, bit-identical: XXH64 reads the
    * same bytes whether sliced or copied). */
  def fingerprintTextEval(str: UTF8String): Long = {
    val lower = str.toLowerCase
    val bytes = lower.getBytes
    val n = bytes.length
    var h = 0L
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) i += 1
      else {
        val start = i
        while (i < n && {
          val c = bytes(i); !(c == 0x20 || (c >= 0x09 && c <= 0x0D))
        }) i += 1
        h = XXH64.hashUTF8String(
          UTF8String.fromBytes(bytes, start, i - start), XXH64.hashLong(h, 42L))
      }
    }
    h
  }

  /** Fused SimHash-64: NativeSignatures.simhashEval without the token
    * array — same per-token hash and bit-counter vote over zero-copy
    * token views. */
  def simhashTextEval(str: UTF8String): Long = {
    val lower = str.toLowerCase
    val bytes = lower.getBytes
    val n = bytes.length
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) i += 1
      else {
        val start = i
        while (i < n && {
          val c = bytes(i); !(c == 0x20 || (c >= 0x09 && c <= 0x0D))
        }) i += 1
        val h = XXH64.hashUTF8String(
          UTF8String.fromBytes(bytes, start, i - start), 42L)
        var bb = 0
        while (bb < 64) {
          if (((h >>> bb) & 1L) == 1L) counters(bb) += 1 else counters(bb) -= 1
          bb += 1
        }
      }
    }
    var sig = 0L
    var bb = 0
    while (bb < 64) { if (counters(bb) > 0) sig |= (1L << bb); bb += 1 }
    sig
  }

  /** Fused language scoring: [[langScoreEval]] without the token
    * array — lowercase once, walk byte-boundaries, probe zero-copy
    * token views against per-language UTF8String stopword sets,
    * tracking DISTINCT hit words per language (same scoring and
    * tie-break as the array form). */
  def langScoreTextEval(str: UTF8String, langs: Array[String],
                        sets: Array[java.util.HashSet[UTF8String]]): UTF8String = {
    val lower = str.toLowerCase
    val bytes = lower.getBytes
    val n = bytes.length
    val nLangs = langs.length
    val hits = new Array[java.util.HashSet[UTF8String]](nLangs)
    var i = 0
    while (i < n) {
      val b = bytes(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) i += 1
      else {
        val start = i
        while (i < n && {
          val c = bytes(i); !(c == 0x20 || (c >= 0x09 && c <= 0x0D))
        }) i += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        var l = 0
        while (l < nLangs) {
          if (sets(l).contains(tok)) {
            if (hits(l) == null) hits(l) = new java.util.HashSet[UTF8String]()
            hits(l).add(tok)
          }
          l += 1
        }
      }
    }
    var best = -1
    var bestScore = 0
    var l = 0
    while (l < nLangs) {
      val s = if (hits(l) == null) 0 else hits(l).size
      if (s > bestScore || (s == bestScore && s > 0 && best >= 0 &&
          langs(l).compareTo(langs(best)) > 0)) {
        best = l; bestScore = s
      }
      l += 1
    }
    if (bestScore > 0) UTF8String.fromString(langs(best))
    else UTF8String.fromString("und")
  }

  /** Single-pass whitespace token count over the RAW UTF-8 bytes — no
    * lowercase, no regex split, no per-token allocation. Boundaries
    * are Java-regex `\s` (ASCII 0x09–0x0D, 0x20; non-ASCII bytes are
    * negative and never whitespace), and lowercasing cannot move them
    * (no code point lowercases to or from whitespace), so the count is
    * bit-identical to `size(tokensEval(str))` on any input. */
  def tokenCountEval(str: UTF8String): Long = {
    val n = str.numBytes
    var i = 0
    var cnt = 0L
    var inTok = false
    while (i < n) {
      val b = str.getByte(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) inTok = false
      else if (!inTok) { cnt += 1; inTok = true }
      i += 1
    }
    cnt
  }

  /** Single-pass Σ ceil(codePoints(token)/4) directly over text bytes.
    * ASCII fast path counts on the raw bytes (ASCII lowercase is 1:1,
    * so counts are unchanged); the first non-ASCII byte bails to one
    * `toLowerCase` pass, because a few code points change code-point
    * COUNT under lowercasing (U+0130 İ → "i" + combining dot). Either
    * way the result is bit-identical to
    * `subwordCountEval(tokensEval(str))`. */
  def subwordCountTextEval(str: UTF8String): Long = {
    val fast = subwordWalk(str, bailOnNonAscii = true)
    if (fast >= 0L) fast else subwordWalk(str.toLowerCase, bailOnNonAscii = false)
  }

  /** Byte-walk for [[subwordCountTextEval]]: whitespace closes a token
    * (ASCII `\s` bytes only — multi-byte UTF-8 lead/continuation bytes
    * are ≥ 0x80 and never match); code points are counted as
    * non-continuation bytes. Returns -1 iff bailing on non-ASCII. */
  private def subwordWalk(str: UTF8String, bailOnNonAscii: Boolean): Long = {
    val n = str.numBytes
    var i = 0
    var total = 0L
    var chars = 0L
    while (i < n) {
      val b = str.getByte(i)
      if (bailOnNonAscii && b < 0) return -1L
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) {
        if (chars > 0) { total += (chars + 3) / 4; chars = 0 }
      } else if ((b & 0xC0) != 0x80) chars += 1
      i += 1
    }
    if (chars > 0) total += (chars + 3) / 4
    total
  }

  /** BPE-ish subword count: Σ ceil(len(token)/4) — matches the HOF
    * formulation it replaces (and the x09 DuckDB oracle) exactly. */
  def subwordCountEval(tokens: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val len = tokens.getUTF8String(i).numChars()
        total += (len + 3) / 4
      }
      i += 1
    }
    total
  }

  /** Shannon entropy (bits/char) of the code-point distribution —
    * low entropy flags repetitive/boilerplate text, high entropy flags
    * binary junk; both are standard corpus-quality filters. ASCII fast
    * path: counts land in a 128-slot array (no decode, no boxing); the
    * first non-ASCII byte falls back to the code-point HashMap walk.
    * Summation order differs between the paths (slot order vs bucket
    * order) but the 4-dp rounding absorbs the reordering ulps — the
    * same tolerance that already reconciles this signal against the
    * DuckDB oracle's own summation order. */
  def charEntropyEval(str: UTF8String): Double = {
    val n = str.numBytes
    if (n == 0) return 0.0
    val freq = new Array[Int](128)
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      val b = str.getByte(i)
      if (b < 0) ascii = false
      else { freq(b) += 1; i += 1 }
    }
    if (ascii) {
      var h = 0.0
      var c = 0
      while (c < 128) {
        if (freq(c) > 0) {
          val p = freq(c).toDouble / n
          h -= p * (math.log(p) / math.log(2))
        }
        c += 1
      }
      round4(h)
    } else charEntropySlow(str)
  }

  private[graft] def charEntropySlow(str: UTF8String): Double = {
    val s = str.toString
    val freq = new java.util.HashMap[Integer, Integer]()
    var i = 0
    var total = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      freq.merge(cp, 1, (a, b) => a + b)
      i += Character.charCount(cp)
      total += 1
    }
    var h = 0.0
    val it = freq.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / total
      h -= p * (math.log(p) / math.log(2))
    }
    round4(h)
  }

  private val PunctBytes: Array[Boolean] = {
    val a = new Array[Boolean](128)
    ".,!?;:'\"()[]{}-".foreach(c => a(c.toInt) = true)
    a
  }

  /** Punctuation ratio (punct chars / total chars, 4-dp, 0 for empty)
    * in ONE byte pass — the `[.,!?;:'"()\[\]{}-]` class is pure ASCII,
    * so membership is a byte-table probe and the char total is the
    * non-continuation-byte count; replaces a full-string
    * regexp_replace rewrite plus a length diff. */
  def punctRatioEval(str: UTF8String): Double = {
    val n = str.numBytes
    var i = 0
    var chars = 0L
    var punct = 0L
    while (i < n) {
      val b = str.getByte(i)
      if (b >= 0) { chars += 1; if (PunctBytes(b)) punct += 1 }
      else if ((b & 0xC0) != 0x80) chars += 1
      i += 1
    }
    if (chars == 0L) 0.0 else round4(punct.toDouble / chars)
  }

  /** Stopword-hit ratio (hit tokens / tokens, 4-dp, 0 for empty) in
    * one fused walk: lowercase once, then token slices are zero-copy
    * UTF8String views over the lowered bytes probed against a
    * UTF8String hash set — no token array, no per-token String
    * decode. Token boundaries are the same ASCII `\s` bytes as
    * [[tokenCountEval]], so hits/n match the tokens+wordHits
    * formulation exactly. */
  def stopwordRatioEval(str: UTF8String, set: java.util.HashSet[UTF8String]): Double = {
    val lower = str.toLowerCase
    val bytes = lower.getBytes
    val n = bytes.length
    var i = 0
    var nTok = 0L
    var hits = 0L
    while (i < n) {
      val b = bytes(i)
      if (b == 0x20 || (b >= 0x09 && b <= 0x0D)) i += 1
      else {
        val start = i
        while (i < n && {
          val c = bytes(i); !(c == 0x20 || (c >= 0x09 && c <= 0x0D))
        }) i += 1
        nTok += 1
        if (set.contains(UTF8String.fromBytes(bytes, start, i - start))) hits += 1
      }
    }
    if (nTok == 0L) 0.0 else round4(hits.toDouble / nTok)
  }

  /** Duplicate-line fraction: 1 − distinct/total over non-blank lines
    * (blank = whitespace-only; distinctness is on the UNtrimmed line,
    * matching the HOF chain and the DuckDB oracle it replaces). One
    * pass, one hash set — the split/filter/array_distinct HOF chain
    * is CodegenFallback and was the last interpreted stage in the
    * curation projection. */
  def dupLineFracEval(str: UTF8String): Double = {
    // blank = SPACE-only: SQL trim (Spark and DuckDB alike) strips
    // ' ' only, so a tab/CR-only line counts as content in both
    // engines — Java's String.trim (all chars <= U+0020) would not
    def spaceOnly(s: String): Boolean = {
      var i = 0
      while (i < s.length) { if (s.charAt(i) != ' ') return false; i += 1 }
      true
    }
    val lines = str.toString.split("\n", -1)
    val seen = new java.util.HashSet[String]()
    var total = 0
    var i = 0
    while (i < lines.length) {
      if (!spaceOnly(lines(i))) { total += 1; seen.add(lines(i)) }
      i += 1
    }
    if (total == 0) 0.0
    else round4(1.0 - seen.size.toDouble / total)
  }

  /** The [[dupLineFracEval]] signal as a REWRITE: drop every
    * non-blank line whose exact text already appeared earlier in the
    * document (the Gopher repetition rule applied, not just scored),
    * keeping blank (space-only) lines — they are structure, not
    * repetition. Returns struct<kept_text string, n_removed bigint>;
    * line order is preserved and the survivors re-join with '\n'.
    * Same space-only blank rule as the signal (SQL trim strips ' '
    * only). */
  private def spaceOnly(s: String): Boolean = {
    var i = 0
    while (i < s.length) { if (s.charAt(i) != ' ') return false; i += 1 }
    true
  }

  /** Shared line-rewrite core for the x55/x64 family: split('\n', -1),
    * drop every non-blank line `dropLine` says to (blank = space-only
    * lines are structure, always kept), preserve order, re-join with
    * '\n', count OCCURRENCES removed. A single definition so the two
    * rewrites can never diverge on line conventions. */
  private def rewriteLines(str: UTF8String, dropLine: String => Boolean)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val lines = str.toString.split("\n", -1)
    val sb = new java.lang.StringBuilder()
    var removed = 0L
    var first = true
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (!spaceOnly(l) && dropLine(l)) removed += 1
      else {
        if (!first) sb.append('\n')
        sb.append(l)
        first = false
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), removed))
  }

  def dedupLinesEval(str: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val seen = new java.util.HashSet[String]()
    rewriteLines(str, l => !seen.add(l))
  }

  /** NFC Unicode normalization (canonical composition — the form
    * every downstream exact/fingerprint dedup assumes, so that
    * `Cafe` + U+0301 and `Café` hash identically). ASCII fast path:
    * a string with no byte ≥ 0x80 is NFC by construction and is
    * returned as-is without materializing a java String; non-ASCII
    * already-normalized strings return the original UTF8String too
    * (isNormalized is a cheap quick-check pass). */
  def nfcEval(str: UTF8String): UTF8String = {
    val n = str.numBytes()
    var i = 0
    while (i < n) {
      if ((str.getByte(i) & 0x80) != 0) {
        val s = str.toString
        val normalized = nfcString(s)
        return if (normalized eq s) str else UTF8String.fromString(normalized)
      }
      i += 1
    }
    str
  }

  /** String-level NFC (returns the SAME instance when already
    * normalized, so callers can skip re-encoding). */
  private def nfcString(s: String): String =
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** Full text cleanup for ingest normalization, one walk after NFC:
    * drop C0 control chars except `\n` and `\t` (so `\r` goes — CRLF
    * becomes LF) and DEL (0x7F); collapse every maximal run of
    * spaces/tabs to ONE space (newlines survive as structure, the
    * x55/x64 line conventions); trim leading/trailing SPACES only
    * (the SQL `trim` default — a leading `\n` is structure, not
    * padding). Exactly equivalent to the regex pipeline
    * `trim(regexp_replace(regexp_replace(nfc(s),
    * '[\x00-\x08\x0B-\x1F\x7F]', ''), '[ \t]+', ' '))`: a dropped
    * control char between two space runs merges them, which the
    * single `pendingSpace` walk reproduces. */
  def cleanTextEval(str: UTF8String): UTF8String =
    UTF8String.fromString(cleanTextCore(str.toString))

  /** String-level core of [[cleanTextEval]], shared with
    * [[htmlExtractEval]] so the ingest hot path never round-trips
    * String → UTF8String → String between passes. */
  def cleanTextCore(s: String): String = {
    val s0 = nfcString(s)
    val n = s0.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s0.charAt(i)
      val drop = (c < 0x20 && c != '\n' && c != '\t') || c == 0x7f
      if (!drop) {
        if (c == ' ' || c == '\t') pendingSpace = true
        else {
          if (pendingSpace) { sb.append(' '); pendingSpace = false }
          sb.append(c)
        }
      }
      i += 1
    }
    if (pendingSpace) sb.append(' ')
    var a = 0
    var b = sb.length
    while (a < b && sb.charAt(a) == ' ') a += 1
    while (b > a && sb.charAt(b - 1) == ' ') b -= 1
    sb.substring(a, b)
  }

  /** Cross-document boilerplate REMOVAL (the CCNet/RefinedWeb step
    * that [[dedupLinesEval]]'s within-doc rule can't reach): drop
    * every non-blank line whose exact text is in the corpus-frequent
    * set, keeping blank (space-only) lines as structure. Same line
    * conventions as [[dedupLinesEval]]: untrimmed exact-text match,
    * split('\n', -1), survivors re-join with '\n', occurrences (not
    * distinct lines) counted in n_removed. The frequent set rides the
    * expression as a reference object, so the rewrite is map-only. */
  def removeLinesEval(str: UTF8String,
                      drop: java.util.HashSet[String]): org.apache.spark.sql.catalyst.InternalRow =
    rewriteLines(str, drop.contains)

  /** Fraction of the token stream covered by the single most frequent
    * n-gram (the Gopher-rules repetition signal): maxCount·n / total.
    * ~1.0 for looping text, small for natural prose. */
  def topNgramFracEval(tokens: ArrayData, n: Int): Double = {
    val total = tokens.numElements()
    if (total < n || total == 0) return 0.0
    val counts = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    var maxC = 0
    while (i <= total - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      val c = counts.merge(sb.toString, 1, (a, b) => a + b)
      if (c > maxC) maxC = c
      i += 1
    }
    round4(math.min(1.0, maxC.toDouble * n / total))
  }

  /** Fraction of token CHARACTERS covered by DUPLICATED n-grams —
    * the other Gopher repetition family (Rae et al. 2021, "fraction
    * of characters in duplicate n-grams", n ∈ 5..10; small n works
    * too): a token position is covered when ANY n-token window
    * containing it occurs ≥ 2 times in the document, and a covered
    * character counts ONCE no matter how many duplicated windows
    * overlap it (coverage union, not occurrence sum — the property
    * that keeps the signal ≤ 1 on looping text). Denominator = total
    * characters of all tokens (separators excluded — the same token
    * view the numerator sees), so the signal is whitespace-run
    * invariant like every other token signal here. */
  def dupNgramCharFracEval(tokens: ArrayData, n: Int): Double = {
    val total = tokens.numElements()
    if (total < n || total == 0) return 0.0
    val lens = new Array[Int](total)
    var totalChars = 0L
    var i = 0
    while (i < total) {
      if (!tokens.isNullAt(i)) lens(i) = tokens.getUTF8String(i).numChars()
      totalChars += lens(i)
      i += 1
    }
    if (totalChars == 0L) return 0.0
    // materialize each window's gram once (space-joined, the same key
    // shape as topNgramFracEval), count occurrences, then union the
    // covered positions of every duplicated window
    val grams = new Array[String](total - n + 1)
    val counts = new java.util.HashMap[String, Integer]()
    val sb = new java.lang.StringBuilder()
    i = 0
    while (i <= total - n) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      grams(i) = sb.toString
      counts.merge(grams(i), 1, (a, b) => a + b)
      i += 1
    }
    val covered = new Array[Boolean](total)
    i = 0
    while (i <= total - n) {
      if (counts.get(grams(i)) >= 2) {
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var cov = 0L
    i = 0
    while (i < total) {
      if (covered(i)) cov += lens(i)
      i += 1
    }
    round4(cov.toDouble / totalChars)
  }

  /** Fused Jaccard over two distinct-element string arrays: one
    * intersect pass + inclusion-exclusion union in a single
    * evaluation. The composed round(inter/union) column tree
    * references intersectCount up to 3× per site — and join-condition
    * trees (where verify thresholds get pushed) evaluate WITHOUT
    * whole-stage-codegen subexpression elimination, paying all three.
    * Unrounded; callers apply round(·, 4). */
  def jaccardArraysEval(a: ArrayData, b: ArrayData): Double = {
    val inter = intersectCountEval(a, b).toDouble
    val union = a.numElements() + b.numElements() - inter
    if (union > 0) inter / union else 0.0
  }

  /** |a ∩ b| for two string arrays via one hash set — O(n+m) versus
    * the quadratic-ish generic `array_intersect` path over large
    * shingle arrays, and a single static call so the verify projection
    * stays inside whole-stage codegen. Inputs are distinct-element
    * arrays (shingle sets), so the count needs no dedup pass. */
  def intersectCountEval(a: ArrayData, b: ArrayData): Long = {
    val (small, large) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val set = new java.util.HashSet[UTF8String](small.numElements() * 2)
    var i = 0
    val n = small.numElements()
    while (i < n) {
      if (!small.isNullAt(i)) set.add(small.getUTF8String(i))
      i += 1
    }
    var c = 0L
    var j = 0
    val m = large.numElements()
    while (j < m) {
      if (!large.isNullAt(j) && set.contains(large.getUTF8String(j))) c += 1
      j += 1
    }
    c
  }

  /** Count of tokens (occurrences, not distinct) present in a word
    * set — the stopword-hit counter. One hash lookup per token; the
    * `filter(ts, t.isin(...))` HOF it replaces is interpreted with a
    * linear scan of the word list per token and blocks whole-stage
    * codegen for the entire quality projection. */
  def wordHitsEval(tokens: ArrayData, set: java.util.HashSet[String]): Long = {
    var c = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i) && set.contains(tokens.getUTF8String(i).toString)) c += 1
      i += 1
    }
    c
  }

  /** Distinct word n-grams (space-joined) in first-occurrence order —
    * one pass with a LinkedHashSet, mirroring the
    * transform+slice+filter+array_distinct HOF chain it replaces. */
  def wordNgramsEval(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= cnt - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        // null slots degrade to "" like the sibling evals' guards —
        // tokens_native never emits them, but SQL-built arrays can
        if (!tokens.isNullAt(i + j)) sb.append(tokens.getUTF8String(i + j).toString)
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** Per-position 64-bit hashes of EVERY k-token window, in window
    * order (element i = hash of tokens[i, i+n)); NOT distinct —
    * span-level dedup needs every occurrence with its position,
    * unlike [[wordNgramsEval]]'s distinct stream. Each token is
    * xxhash64'd once (`seed`; the builder's default is 42), then each
    * window chains its k token-hashes through `XXH64.hashLong` —
    * O(tokens) string hashing plus O(tokens·k) long mixes, no
    * per-window string materialization. Positions, not gram text,
    * ride the shuffle: 8-byte keys regardless of gram length. */
  def wordNgramHashesEval(tokens: ArrayData, n: Int, seed: Long): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[Long])
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      th(i) = if (tokens.isNullAt(i)) 0L
        else XXH64.hashUTF8String(tokens.getUTF8String(i), seed)
      i += 1
    }
    val out = new Array[Long](cnt - n + 1)
    i = 0
    while (i <= cnt - n) {
      var h = 0L
      var j = 0
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Every ADJACENT token pair in order, WITH multiplicity —
    * `array<struct<a, b>>` of the document's bigram transitions (the
    * n-gram LM counting/scoring stream; [[wordNgramsEval]] is
    * distinct-per-doc and unusable for counts). */
  def wordBigramsEval(tokens: ArrayData): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < 2) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](cnt - 1)
    var i = 0
    while (i < cnt - 1) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](
          if (tokens.isNullAt(i)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i),
          if (tokens.isNullAt(i + 1)) UTF8String.EMPTY_UTF8 else tokens.getUTF8String(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[wordNgramHashesEval]] with TWO independent seed chains per
    * window, emitted together as `array<struct<h1, h2>>` in one
    * pass — a 128-bit window identity. One 64-bit hash is
    * collision-free at fixture scale but not at the 100 TB design
    * point (birthday math at 10^12-10^13 windows yields thousands of
    * colliding pairs, each of which would mark a unique span
    * duplicated and cut real text); two independent chains put the
    * collision probability back below ~10^-12 corpus-wide. */
  def wordNgramHashPairsEval(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    if (cnt < n) return new GenericArrayData(Array.empty[AnyRef])
    val ta = new Array[Long](cnt)
    val tb = new Array[Long](cnt)
    var i = 0
    while (i < cnt) {
      if (tokens.isNullAt(i)) { ta(i) = 0L; tb(i) = 0L }
      else {
        val t = tokens.getUTF8String(i)
        ta(i) = XXH64.hashUTF8String(t, 42L)
        tb(i) = XXH64.hashUTF8String(t, 0x9E3779B97F4A7C15L)
      }
      i += 1
    }
    val out = new Array[AnyRef](cnt - n + 1)
    i = 0
    while (i <= cnt - n) {
      var h1 = 0L
      var h2 = 0L
      var j = 0
      while (j < n) {
        h1 = XXH64.hashLong(ta(i + j), h1)
        h2 = XXH64.hashLong(tb(i + j), h2)
        j += 1
      }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h1, h2))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Drop the token index ranges `[starts(i), ends(i))` from the
    * token stream and re-join the survivors with single spaces;
    * returns `struct<kept_text string, n_removed bigint>`. Ranges
    * must be sorted ascending and disjoint (SpanDedup's merged
    * islands are, by construction); positions past the end of the
    * token array are ignored. One pass, one range pointer — no
    * per-token range scan. */
  def removeTokenRangesEval(tokens: ArrayData, starts: ArrayData,
      ends: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = tokens.numElements()
    val m = math.min(starts.numElements(), ends.numElements())
    val sb = new java.lang.StringBuilder()
    var removed = 0L
    var r = 0
    var i = 0
    while (i < n) {
      while (r < m && i >= ends.getInt(r)) r += 1
      if (r < m && i >= starts.getInt(r) && i < ends.getInt(r)) removed += 1
      else if (!tokens.isNullAt(i)) {
        if (sb.length > 0) sb.append(' ')
        sb.append(tokens.getUTF8String(i).toString)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromString(sb.toString), removed))
  }

  /** Token-window chunking for training-data prep: whitespace tokens
    * (case preserved), windows of `size` tokens advancing by `step`
    * (= size − overlap), last window may be short, windows stop once
    * the end of the document is covered. Chunk text is the tokens
    * re-joined with single spaces — canonical whitespace so chunk
    * token counts are recoverable downstream. */
  def chunksEval(str: UTF8String, size: Int, step: Int): ArrayData = {
    val parts = str.toString.split("\\s+").filter(_.nonEmpty)
    val n = parts.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[AnyRef]()
    var start = 0
    var done = false
    while (!done) {
      val end = math.min(start + size, n)
      out.add(UTF8String.fromString(parts.slice(start, end).mkString(" ")))
      if (end >= n) done = true else start += step
    }
    new GenericArrayData(out.toArray)
  }

  /** [[chunksEval]] variant that also emits each window's token count
    * as `struct<chunk string, n_tok bigint>` — the count is known for
    * free while the window is built, so consumers never re-tokenize
    * the chunk text to recover it (the x22 hot path). */
  def chunksWithCountsEval(str: UTF8String, size: Int, step: Int): ArrayData = {
    val parts = str.toString.split("\\s+").filter(_.nonEmpty)
    val n = parts.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[AnyRef]()
    var start = 0
    var done = false
    while (!done) {
      val end = math.min(start + size, n)
      out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](UTF8String.fromString(parts.slice(start, end).mkString(" ")),
          (end - start).toLong)))
      if (end >= n) done = true else start += step
    }
    new GenericArrayData(out.toArray)
  }

  // --- expressions that hold prepared state ---

  case class RemoveLinesExpr(child: Expression, lines: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = KeptText
    override def prettyName: String = "remove_lines_native"

    @transient private lazy val dropSet: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](lines.size * 2)
      lines.foreach(s.add)
      s
    }

    override def nullSafeEval(v: Any): Any =
      removeLinesEval(v.asInstanceOf[UTF8String], dropSet)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("dropLines", dropSet, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.removeLinesEval($c, $ref);")
    }

    override protected def withNewChildInternal(c: Expression): RemoveLinesExpr =
      copy(child = c)
  }

  private val bucketMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexDigits = "0123456789abcdef".toCharArray

  /** md5-hex-prefix buckets of the unigram+bigram bag, fused into ONE
    * native pass — bit-identical to
    * `substr(md5(salt || gram), 1, width)` over the unigram+bigram bag
    * (the HexBucket convention the oracles replay), but with no
    * per-gram string concat, no 32-char hex materialization, and one
    * thread-local MessageDigest — the gram stream is pure hash work,
    * and this makes it a single tight loop. NULL tokens produce no
    * bucket — matching the SQL convention, where a NULL gram hashes
    * to NULL and contributes nothing to the bag — and the two bigrams
    * touching a NULL token are skipped with it (`Text.tokens` never
    * emits null elements, so this path only matters for caller-built
    * arrays). Output order: all unigrams in token order, then all
    * bigrams in token order. */
  def wordGramBucketsEval(tokens: ArrayData, saltBytes: Array[Byte],
                          width: Int): ArrayData = {
    val n = tokens.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val md = bucketMd.get()
    val space = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def hexPrefix(digest: Array[Byte]): UTF8String = {
      val out = new Array[Byte](width)
      var i = 0
      while (i < width) {
        val b = digest(i / 2) & 0xff
        out(i) = hexDigits(if (i % 2 == 0) b >>> 4 else b & 0xf).toByte
        i += 1
      }
      UTF8String.fromBytes(out)
    }
    val unis = new java.util.ArrayList[AnyRef](n)
    val bis = new java.util.ArrayList[AnyRef](math.max(0, n - 1))
    var prev: Array[Byte] = null // null ⇔ no live left neighbor
    var i = 0
    while (i < n) {
      if (tokens.isNullAt(i)) prev = null
      else {
        val cur = tokens.getUTF8String(i).getBytes
        md.reset(); md.update(saltBytes); md.update(cur)
        unis.add(hexPrefix(md.digest()))
        if (prev != null) {
          md.reset(); md.update(saltBytes)
          md.update(prev); md.update(space); md.update(cur)
          bis.add(hexPrefix(md.digest()))
        }
        prev = cur
      }
      i += 1
    }
    val res = new Array[AnyRef](unis.size + bis.size)
    var j = 0
    var it = unis.iterator()
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    it = bis.iterator()
    while (it.hasNext) { res(j) = it.next(); j += 1 }
    new GenericArrayData(res)
  }

  case class WordGramBucketsExpr(child: Expression, salt: String, width: Int)
      extends UnaryExpression {
    require(width >= 1 && width <= 8, "bucket width must be 1..8 hex chars")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_gram_buckets_native"

    @transient private lazy val saltBytes = salt.getBytes(java.nio.charset.StandardCharsets.UTF_8)

    override def nullSafeEval(v: Any): Any =
      wordGramBucketsEval(v.asInstanceOf[ArrayData], saltBytes, width)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val saltRef = ctx.addReferenceObj("gramSalt", salt.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        "byte[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.wordGramBucketsEval($c, $saltRef, $width);")
    }

    override protected def withNewChildInternal(c: Expression): WordGramBucketsExpr =
      copy(child = c)
  }

  case class WordHitsExpr(child: Expression, words: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "word_hits_native"

    @transient private lazy val set: java.util.HashSet[String] = {
      val s = new java.util.HashSet[String]()
      words.foreach(s.add)
      s
    }

    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(wordHitsEval(v.asInstanceOf[ArrayData], set))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("wordSet", set, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.wordHitsEval($c, $setRef);")
    }

    override protected def withNewChildInternal(c: Expression): WordHitsExpr =
      copy(child = c)
  }

  // --- HTML extraction (the ingest step before every text signal) ---

  /** Remove every matched `open`…`close` block (replaced by one
    * space); an opener with no closer is left verbatim, mirroring the
    * regex `open.*?close` which simply fails to match there. */
  private def removeBlocks(s: String, open: String, close: String): String = {
    var from = s.indexOf(open)
    if (from < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (from >= 0) {
      val end = s.indexOf(close, from + open.length)
      if (end < 0) { sb.append(s, pos, s.length); return sb.toString }
      sb.append(s, pos, from).append(' ')
      pos = end + close.length
      from = s.indexOf(open, pos)
    }
    sb.append(s, pos, s.length)
    sb.toString
  }

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /** Remove `<name ...> … </name>` elements INCLUDING content
    * (script/style — their bodies are code, not text), replaced by one
    * space. Case-insensitive; the opener needs a word boundary after
    * the name and a closing `>` ( mirroring
    * `(?is)<name\b[^>]*>.*?</name>` ), the closer is the first
    * `</name>` after it; if either half is missing the regex fails to
    * match and everything is left for the generic tag strip. */
  private def removeElement(s: String, name: String): String = {
    val open = "<" + name
    val close = "</" + name + ">"
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    var i = 0
    while (i >= 0 && i <= s.length - open.length) {
      i = indexOfIgnoreCase(s, open, i)
      if (i >= 0) {
        val after = i + open.length
        val boundaryOk = after >= s.length || !isWordChar(s.charAt(after))
        val gt = if (boundaryOk) s.indexOf('>', after) else -1
        // [^>]* forbids a '<' restart? no — [^>] allows '<'; the first
        // '>' after the opener closes it, exactly like the scan
        val closeAt = if (gt < 0) -1 else indexOfIgnoreCase(s, close, gt + 1)
        if (gt >= 0 && closeAt >= 0) {
          sb.append(s, pos, i).append(' ')
          pos = closeAt + close.length
          i = pos
        } else if (gt >= 0 && closeAt < 0) {
          // no closer anywhere to the right: no later opener can match
          i = -1
        } else {
          i = i + 1
        }
      }
    }
    if (pos == 0) s else { sb.append(s, pos, s.length); sb.toString }
  }

  private def indexOfIgnoreCase(s: String, target: String, from: Int): Int = {
    val n = s.length - target.length
    var i = math.max(from, 0)
    while (i <= n) {
      if (s.regionMatches(true, i, target, 0, target.length)) return i
      i += 1
    }
    -1
  }

  /** `<[^>]*>` → one space; a `<` with no following `>` stays. */
  private def stripTags(s: String): String = {
    var lt = s.indexOf('<')
    if (lt < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var pos = 0
    while (lt >= 0) {
      val gt = s.indexOf('>', lt + 1)
      if (gt < 0) { sb.append(s, pos, s.length); return sb.toString }
      sb.append(s, pos, lt).append(' ')
      pos = gt + 1
      lt = s.indexOf('<', pos)
    }
    sb.append(s, pos, s.length)
    sb.toString
  }

  /** The five XML entities + nbsp, decoded as a SEQUENTIAL replace
    * chain with `&amp;` LAST (so `&amp;lt;` renders the literal text
    * `&lt;` — the standard double-escape behavior, and exactly the
    * oracle's nested replace() order). */
  private def decodeEntities(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", "\"")
      .replace("&#39;", "'").replace("&apos;", "'").replace("&nbsp;", " ")
      .replace("&amp;", "&")

  /** HTML → text extraction, specified as the regex pipeline the x68
    * oracle replays: strip comments, script/style elements (with
    * content), all remaining tags (each → one space so words never
    * fuse), decode the XML entities (&amp; last), then the
    * [[cleanTextEval]] normalization (NFC + controls + whitespace).
    * Not a browser — no nesting/CDATA/conditional-comment handling —
    * but deterministic, one allocation per pass, and exactly
    * reproducible in SQL, which a real extractor dependency is not. */
  def htmlExtractEval(str: UTF8String): UTF8String = {
    val s1 = removeBlocks(str.toString, "<!--", "-->")
    val s2 = removeElement(s1, "script")
    val s3 = removeElement(s2, "style")
    val s4 = stripTags(s3)
    UTF8String.fromString(cleanTextCore(decodeEntities(s4)))
  }

  case class StopwordRatioExpr(child: Expression, words: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "stopword_ratio_native"

    @transient private lazy val set: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String](words.length * 2)
      words.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }

    override def nullSafeEval(v: Any): Any =
      java.lang.Double.valueOf(stopwordRatioEval(v.asInstanceOf[UTF8String], set))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val setRef = ctx.addReferenceObj("stopwordSet", set, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.stopwordRatioEval($c, $setRef);")
    }

    override protected def withNewChildInternal(c: Expression): StopwordRatioExpr =
      copy(child = c)
  }

  case class LangScoreExpr(child: Expression,
                           stopwordSets: Seq[(String, Seq[String])])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "lang_score_native"

    @transient private lazy val langs: Array[String] =
      stopwordSets.map(_._1).toArray
    @transient private lazy val sets: Array[java.util.HashSet[String]] =
      stopwordSets.map { case (_, ws) =>
        val s = new java.util.HashSet[String]()
        ws.foreach(s.add)
        s
      }.toArray

    override def nullSafeEval(v: Any): Any =
      langScoreEval(v.asInstanceOf[ArrayData], langs, sets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val langsRef = ctx.addReferenceObj("langCodes", langs, "java.lang.String[]")
      val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.langScoreEval($c, $langsRef, $setsRef);")
    }

    override protected def withNewChildInternal(c: Expression): LangScoreExpr =
      copy(child = c)
  }

  case class LangScoreTextExpr(child: Expression,
                               stopwordSets: Seq[(String, Seq[String])])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "lang_score_text_native"

    @transient private lazy val langs: Array[String] =
      stopwordSets.map(_._1).toArray
    @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
      stopwordSets.map { case (_, ws) =>
        val s = new java.util.HashSet[UTF8String]()
        ws.foreach(w => s.add(UTF8String.fromString(w)))
        s
      }.toArray

    override def nullSafeEval(v: Any): Any =
      langScoreTextEval(v.asInstanceOf[UTF8String], langs, sets)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val langsRef = ctx.addReferenceObj("langCodes", langs, "java.lang.String[]")
      val setsRef = ctx.addReferenceObj("langSets", sets, "java.util.HashSet[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeText.langScoreTextEval($c, $langsRef, $setsRef);")
    }

    override protected def withNewChildInternal(c: Expression): LangScoreTextExpr =
      copy(child = c)
  }

  // --- Column-level entry points ---
  // A function whose *Eval needs nothing but its arguments is one
  // static call (ColumnBridge.staticCall); the classes above exist
  // only where an instance holds prepared state.

  private def call(fn: String, dataType: DataType)(args: Column*): Column =
    ColumnBridge.staticCall(this, fn, dataType)(args: _*)

  private def requireWindows(size: Int, step: Int): Unit =
    require(size > 0 && step > 0 && step <= size,
      "need 0 < step <= size (step = size - overlap)")

  private def requireNgram(n: Int): Unit =
    require(n > 0, "n-gram size must be positive")

  private val Strings = ArrayType(StringType, containsNull = false)

  private def structOf(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (name, t) => StructField(name, t, nullable = false) })

  private val KeptText = structOf("kept_text" -> StringType, "n_removed" -> LongType)

  def tokens(str: Column): Column = call("tokensEval", Strings)(str)

  def fingerprint(tokens: Column): Column = call("fingerprintEval", LongType)(tokens)

  def langScore(tokens: Column, sets: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangScoreExpr(ColumnBridge.expression(tokens), sets))

  def langScoreText(str: Column, sets: Seq[(String, Seq[String])]): Column =
    ColumnBridge.column(LangScoreTextExpr(ColumnBridge.expression(str), sets))

  def charEntropy(str: Column): Column = call("charEntropyEval", DoubleType)(str)

  def topNgramFrac(tokens: Column, n: Int): Column = {
    requireNgram(n)
    call("topNgramFracEval", DoubleType)(tokens, lit(n))
  }

  def dupNgramFrac(tokens: Column, n: Int): Column = {
    requireNgram(n)
    call("dupNgramCharFracEval", DoubleType)(tokens, lit(n))
  }

  def intersectCount(a: Column, b: Column): Column =
    call("intersectCountEval", LongType)(a, b)

  def jaccardArrays(a: Column, b: Column): Column =
    call("jaccardArraysEval", DoubleType)(a, b)

  def chunks(str: Column, size: Int, step: Int): Column = {
    requireWindows(size, step)
    call("chunksEval", Strings)(str, lit(size), lit(step))
  }

  def dupLineFrac(str: Column): Column = call("dupLineFracEval", DoubleType)(str)

  def dedupLines(str: Column): Column = call("dedupLinesEval", KeptText)(str)

  def nfc(str: Column): Column = call("nfcEval", StringType)(str)

  def htmlExtract(str: Column): Column = call("htmlExtractEval", StringType)(str)

  def cleanText(str: Column): Column = call("cleanTextEval", StringType)(str)

  def removeLines(str: Column, lines: Seq[String]): Column =
    ColumnBridge.column(RemoveLinesExpr(ColumnBridge.expression(str), lines))

  def chunksWithCounts(str: Column, size: Int, step: Int): Column = {
    requireWindows(size, step)
    call("chunksWithCountsEval", ArrayType(
      structOf("chunk" -> StringType, "n_tok" -> LongType), containsNull = false))(
      str, lit(size), lit(step))
  }

  def wordHits(tokens: Column, words: Seq[String]): Column =
    ColumnBridge.column(WordHitsExpr(ColumnBridge.expression(tokens), words))

  def wordNgrams(tokens: Column, n: Int): Column = {
    requireNgram(n)
    call("wordNgramsEval", Strings)(tokens, lit(n))
  }

  def wordGramBuckets(tokens: Column, salt: String, width: Int): Column =
    ColumnBridge.column(
      WordGramBucketsExpr(ColumnBridge.expression(tokens), salt, width))

  def wordNgramHashes(tokens: Column, n: Int, seed: Long = 42L): Column = {
    requireNgram(n)
    call("wordNgramHashesEval", ArrayType(LongType, containsNull = false))(
      tokens, lit(n), lit(seed))
  }

  def wordNgramHashPairs(tokens: Column, n: Int): Column = {
    requireNgram(n)
    call("wordNgramHashPairsEval", ArrayType(
      structOf("h1" -> LongType, "h2" -> LongType), containsNull = false))(tokens, lit(n))
  }

  def wordBigrams(tokens: Column): Column =
    call("wordBigramsEval", ArrayType(
      structOf("a" -> StringType, "b" -> StringType), containsNull = false))(tokens)

  def removeTokenRanges(tokens: Column, starts: Column, ends: Column): Column =
    call("removeTokenRangesEval", KeptText)(tokens, starts, ends)

  def subwordCount(tokens: Column): Column = call("subwordCountEval", LongType)(tokens)

  def tokenCount(str: Column): Column = call("tokenCountEval", LongType)(str)

  def punctRatio(str: Column): Column = call("punctRatioEval", DoubleType)(str)

  def fingerprintText(str: Column): Column = call("fingerprintTextEval", LongType)(str)

  def simhashText(str: Column): Column = call("simhashTextEval", LongType)(str)

  def stopwordRatio(str: Column, words: Seq[String]): Column =
    ColumnBridge.column(StopwordRatioExpr(ColumnBridge.expression(str), words))

  def subwordCountText(str: Column): Column =
    call("subwordCountTextEval", LongType)(str)
}
