package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native URL expressions for web-corpus curation — the first step of
  * every crawl pipeline (CCNet/RefinedWeb/Dolma all filter and dedup
  * by URL before touching the text). Map-only one-pass string walks;
  * the normalization is SPECIFIED as the regex/list pipeline the x66
  * oracle replays, so the two stay provably in sync:
  *
  *  - scheme and host lowercased; userinfo not handled (crawl URLs);
  *  - default ports stripped (http:80, https:443), others kept;
  *  - fragment dropped;
  *  - query params with tracking NAMES dropped (`utm_` prefix,
  *    `fbclid`, `gclid`, `msclkid`, `ref` — matched as `name=`),
  *    the rest sorted lexicographically and rejoined, empty query
  *    dropped entirely;
  *  - trailing `/` runs stripped from the path, empty path → `/`.
  *
  * Percent-encoding and IDN/punycode are passed through untouched —
  * at corpus scale a conservative normalizer that never rewrites
  * encodings beats an aggressive one that merges distinct resources.
  * Malformed input (no `scheme://`, empty host, non-numeric or
  * out-of-range port) returns NULL so junk never aliases a real URL.
  * Userinfo (`user[:pass]@host`) is split off at the last `@` before
  * any port parsing (so a `:` inside credentials is never mistaken
  * for a port) and preserved VERBATIM in the normalized form — RFC
  * 3986 userinfo is case-sensitive, only scheme and host case-fold.
  * Bracketed IPv6 with an explicit port keeps its host verbatim; a
  * portless `[::1]` reads its inner colon as a non-numeric port and
  * returns NULL — a conservative failure mode. Registrable-domain
  * extraction strips DNS absolute-form trailing dots first
  * (`example.net.` IS example.net — a blocklist must not be
  * bypassable by one appended dot) and refuses to invent a domain
  * from hosts with empty interior labels.
  */
object NativeUrl {

  /** Public-suffix rules in the publicsuffix.org algorithm's three
    * classes: exact multi-label suffixes, wildcard rules (`*.kh` —
    * every single label under the tail is a suffix), and exceptions
    * (`!www.ck` — cancels a wildcard; the matching name itself is
    * registrable). Single-label TLDs need no entry (the implicit `*`
    * default rule). Serializable and carried INSIDE the expression
    * tree, so a custom rule set ships to executors with the plan —
    * never through driver-global mutable state a cluster would not
    * see. */
  final case class SuffixRules(exact: Set[String], wildcard: Set[String],
                               exception: Set[String]) extends Serializable

  object SuffixRules {
    /** Parse the publicsuffix.org data-file format: one rule per
      * line, `//` comments and blanks skipped, `!` exceptions, `*.`
      * wildcards; the private-domain section parses the same way
      * (callers wanting ICANN-only should truncate the text first).
      * Feed this the full downloaded PSL for production crawls. */
    def parse(pslText: String): SuffixRules = {
      val exact = Set.newBuilder[String]
      val wild = Set.newBuilder[String]
      val exc = Set.newBuilder[String]
      pslText.linesIterator.foreach { raw =>
        // per the PSL spec, a rule is the line up to the first whitespace
        val line = raw.trim.takeWhile(c => !Character.isWhitespace(c))
          .toLowerCase(java.util.Locale.ROOT)
        if (line.nonEmpty && !line.startsWith("//")) {
          if (line.startsWith("!")) exc += line.substring(1)
          else if (line.startsWith("*.")) wild += line.substring(2)
          else if (line.contains(".")) exact += line
          // single-label rules are the implicit default — no entry
        }
      }
      SuffixRules(exact.result(), wild.result(), exc.result())
    }
  }

  /** Hand-built snapshot of the PSL's ICANN section's multi-label
    * rules for the widely-used ccTLD second-level registries — the
    * FALLBACK when the bundled resource is unavailable. The normal
    * default is [[defaultSuffixRules]], parsed from the bundled
    * `graft/psl_snapshot.dat` resource, which adds the PRIVATE
    * section (github.io, blogspot.*, *.compute.amazonaws.com, …) —
    * without it, every github.io site counts as ONE publisher in
    * domain caps and temperature mixing. */
  private[graft] val icannFallbackRules: SuffixRules = SuffixRules(
    exact = Set(
      // UK / IE
      "co.uk", "org.uk", "ac.uk", "gov.uk", "net.uk", "sch.uk",
      "me.uk", "ltd.uk", "plc.uk", "nhs.uk", "police.uk", "gov.ie",
      // Australia / NZ
      "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au",
      "id.au", "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz",
      "school.nz", "geek.nz", "gen.nz", "maori.nz", "iwi.nz",
      // Japan / Korea
      "co.jp", "or.jp", "ne.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
      "gr.jp", "lg.jp",
      "co.kr", "or.kr", "ne.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
      "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr",
      // China / Taiwan / HK / Macau / Singapore
      "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
      "mil.cn",
      "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "idv.tw",
      "game.tw", "club.tw", "ebiz.tw",
      "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
      "com.mo", "net.mo", "org.mo", "gov.mo", "edu.mo",
      "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
      // South / Southeast Asia
      "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in",
      "nic.in", "ac.in", "edu.in", "res.in", "gov.in", "mil.in",
      "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk", "fam.pk",
      "biz.pk", "web.pk", "gob.pk", "gok.pk", "gop.pk", "gos.pk",
      "com.lk", "net.lk", "org.lk", "gov.lk", "edu.lk", "sch.lk",
      "ac.lk",
      "co.th", "net.th", "or.th", "ac.th", "go.th", "in.th", "mi.th",
      "co.id", "net.id", "or.id", "ac.id", "go.id", "web.id",
      "sch.id", "mil.id", "biz.id", "my.id",
      "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my",
      "name.my",
      "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
      "mil.ph", "i.ph",
      "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn", "ac.vn",
      "biz.vn", "info.vn", "name.vn", "pro.vn", "int.vn", "health.vn",
      "com.la", "net.la", "org.la", "gov.la", "edu.la", "int.la",
      "per.la", "info.la",
      "com.mn", "gov.mn", "org.mn", "edu.mn",
      // Middle East / Central Asia
      "co.il", "org.il", "net.il", "ac.il", "gov.il", "muni.il",
      "idf.il", "k12.il",
      "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "mil.tr",
      "k12.tr", "av.tr", "bel.tr", "gen.tr", "web.tr",
      "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa",
      "pub.sa", "sch.sa",
      "co.ae", "net.ae", "org.ae", "gov.ae", "ac.ae", "sch.ae",
      "mil.ae",
      "com.jo", "net.jo", "org.jo", "gov.jo", "edu.jo", "sch.jo",
      "mil.jo", "name.jo",
      "com.lb", "net.lb", "org.lb", "gov.lb", "edu.lb",
      "com.kw", "net.kw", "org.kw", "gov.kw", "edu.kw", "ind.kw",
      "emb.kw",
      "com.qa", "net.qa", "org.qa", "gov.qa", "edu.qa", "mil.qa",
      "name.qa", "sch.qa",
      "com.om", "net.om", "org.om", "gov.om", "edu.om", "med.om",
      "pro.om", "co.om", "museum.om",
      "com.bh", "net.bh", "org.bh", "gov.bh", "edu.bh",
      "co.ir", "net.ir", "org.ir", "gov.ir", "ac.ir", "id.ir",
      "sch.ir",
      "com.kz", "net.kz", "org.kz", "gov.kz", "edu.kz", "mil.kz",
      "com.uz", "net.uz", "org.uz", "gov.uz", "co.uz",
      "com.ge", "net.ge", "org.ge", "gov.ge", "edu.ge", "mil.ge",
      "pvt.ge",
      "com.az", "net.az", "org.az", "gov.az", "edu.az", "mil.az",
      "int.az", "biz.az", "info.az", "name.az", "pro.az", "pp.az",
      "com.by", "of.by", "gov.by", "mil.by",
      // Americas
      "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
      "art.br", "blog.br", "eco.br",
      "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
      "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "mil.ar",
      "int.ar", "tur.ar", "musica.ar",
      "com.co", "net.co", "org.co", "gov.co", "edu.co", "mil.co",
      "nom.co",
      "com.ve", "net.ve", "org.ve", "gob.ve", "edu.ve", "mil.ve",
      "web.ve", "co.ve", "info.ve",
      "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe", "mil.pe",
      "nom.pe",
      "gob.cl", "gov.cl", "mil.cl",
      "com.ec", "net.ec", "org.ec", "gob.ec", "edu.ec", "mil.ec",
      "fin.ec", "med.ec", "pro.ec", "info.ec",
      "com.uy", "net.uy", "org.uy", "gub.uy", "edu.uy", "mil.uy",
      "com.py", "net.py", "org.py", "gov.py", "edu.py", "mil.py",
      "coop.py", "una.py",
      "com.bo", "net.bo", "org.bo", "gob.bo", "edu.bo", "mil.bo",
      "int.bo", "tv.bo", "web.bo",
      "co.cr", "or.cr", "ac.cr", "go.cr", "fi.cr", "ed.cr", "sa.cr",
      "com.gt", "net.gt", "org.gt", "gob.gt", "edu.gt", "mil.gt",
      "ind.gt",
      "com.do", "net.do", "org.do", "gob.do", "edu.do", "mil.do",
      "gov.do", "sld.do", "web.do", "art.do",
      "com.cu", "net.cu", "org.cu", "gov.cu", "edu.cu", "inf.cu",
      "ab.ca", "bc.ca", "mb.ca", "nb.ca", "nf.ca", "nl.ca", "ns.ca",
      "nt.ca", "nu.ca", "on.ca", "pe.ca", "qc.ca", "sk.ca", "yk.ca",
      "gc.ca",
      // Europe
      "ac.at", "co.at", "gv.at", "or.at", "ac.be", "pp.se",
      "com.gr", "net.gr", "org.gr", "gov.gr", "edu.gr",
      "com.pt", "net.pt", "org.pt", "gov.pt", "edu.pt", "publ.pt",
      "nome.pt", "int.pt",
      "com.ro", "org.ro", "nt.ro", "nom.ro", "info.ro", "rec.ro",
      "arts.ro", "firm.ro", "store.ro", "tm.ro", "www.ro",
      "co.hu", "org.hu", "gov.hu", "edu.hu", "info.hu", "priv.hu",
      "com.es", "nom.es", "org.es", "gob.es", "edu.es",
      "gov.it", "edu.it",
      "gouv.fr", "asso.fr", "com.fr", "nom.fr", "tm.fr", "avocat.fr",
      "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "mil.pl",
      "waw.pl", "wroc.pl",
      "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
      "ac.ru", "com.ru", "edu.ru", "gov.ru", "int.ru", "mil.ru",
      "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru",
      "com.hr", "co.rs", "org.rs", "edu.rs", "ac.rs", "gov.rs",
      "in.rs",
      "com.lv", "net.lv", "org.lv", "edu.lv", "gov.lv", "mil.lv",
      "gov.lt", "com.ee", "org.ee", "fie.ee", "pri.ee", "gov.ee",
      "riik.ee", "lib.ee", "med.ee", "edu.ee",
      "com.cy", "net.cy", "org.cy", "gov.cy", "ac.cy", "biz.cy",
      "ltd.cy", "name.cy", "press.cy", "pro.cy", "tm.cy",
      "com.mt", "net.mt", "org.mt", "edu.mt", "gov.mt",
      // Africa
      "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za",
      "web.za",
      "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng", "i.ng",
      "mil.ng", "mobi.ng", "name.ng", "sch.ng",
      "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
      "mobi.ke", "info.ke",
      "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "eun.eg",
      "mil.eg", "name.eg", "sci.eg",
      "co.ma", "net.ma", "org.ma", "gov.ma", "ac.ma", "press.ma",
      "com.tn", "net.tn", "org.tn", "gov.tn", "edu.tn", "ens.tn",
      "fin.tn", "nat.tn", "ind.tn", "info.tn", "intl.tn",
      "com.dz", "net.dz", "org.dz", "gov.dz", "edu.dz", "asso.dz",
      "pol.dz", "art.dz",
      "co.tz", "or.tz", "ne.tz", "ac.tz", "go.tz", "sc.tz", "me.tz",
      "mil.tz", "info.tz", "mobi.tz", "tv.tz",
      "co.ug", "or.ug", "ne.ug", "ac.ug", "go.ug", "sc.ug", "org.ug",
      "com.ug",
      "com.gh", "edu.gh", "gov.gh", "org.gh", "mil.gh",
      "co.zm", "co.zw", "org.zw", "gov.zw", "ac.zw",
      "com.et", "gov.et", "org.et", "edu.et", "net.et", "biz.et",
      "name.et", "info.et",
      // Oceania / other
      "com.fj", "net.fj", "org.fj", "gov.fj", "ac.fj", "biz.fj",
      "info.fj", "mil.fj", "name.fj", "pro.fj"),
    // entire ccTLDs where EVERY second-level label is a registry
    wildcard = Set("bd", "ck", "er", "fk", "jm", "kh", "mm", "np",
      "pg"),
    exception = Set("www.ck"))

  /** The default rule set: the bundled `graft/psl_snapshot.dat`
    * resource parsed through the [[SuffixRules.parse]] seam — the
    * ICANN snapshot PLUS a curated PRIVATE-section snapshot (hosted
    * platforms where each subdomain is an independent publisher:
    * github.io, blogspot.*, appspot.com, *.compute.amazonaws.com,
    * pages.dev, …). Still a SNAPSHOT of the living list: production
    * crawls should replace the resource (or pass
    * `SuffixRules.parse(<downloaded full PSL>)` explicitly) to track
    * publicsuffix.org. Falls back to [[icannFallbackRules]] if the
    * resource is missing from the classpath. */
  val defaultSuffixRules: SuffixRules = {
    // ANY failure — missing resource, truncated jar entry, broken
    // stream — degrades to the fallback: a throw here would escape
    // static init and kill every later touch of NativeUrl with
    // NoClassDefFoundError instead
    scala.util.Try {
      val in = getClass.getResourceAsStream("/graft/psl_snapshot.dat")
      try SuffixRules.parse(
        scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    }.getOrElse(icannFallbackRules)
  }

  /** Back-compat view: the exact multi-label suffixes of the default
    * rule set (tests and the x66 oracle splice iterate this). */
  def multiPartTlds: Set[String] = defaultSuffixRules.exact

  private val trackingNames: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("fbclid", "gclid", "msclkid", "ref").foreach(s.add)
    s
  }

  private def isTracking(param: String): Boolean = {
    val eq = param.indexOf('=')
    val name = if (eq < 0) param else param.substring(0, eq)
    name.startsWith("utm_") || trackingNames.contains(name)
  }

  private def validScheme(s: String): Boolean = {
    if (s.isEmpty) return false
    val c0 = s.charAt(0)
    if (c0 < 'a' || c0 > 'z') return false
    var i = 1
    while (i < s.length) {
      val c = s.charAt(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
        c == '+' || c == '.' || c == '-'
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Parsed URL parts; `userinfo` is "" when absent (it is preserved
    * VERBATIM — RFC 3986 userinfo is case-sensitive, so lowercasing
    * it would merge distinct resources); `port == -1` means none. */
  private final case class Parsed(scheme: String, userinfo: String,
                                  host: String, port: Int,
                                  path: String, query: String)

  private def parse(s: String): Parsed = {
    val sep = s.indexOf("://")
    if (sep <= 0) return null
    val scheme = s.substring(0, sep).toLowerCase(java.util.Locale.ROOT)
    if (!validScheme(scheme)) return null
    val rest = s.substring(sep + 3)
    var i = 0
    while (i < rest.length && rest.charAt(i) != '/' && rest.charAt(i) != '?' &&
      rest.charAt(i) != '#') i += 1
    val authority = rest.substring(0, i)
    if (authority.isEmpty) return null
    // userinfo@host:port — userinfo split FIRST (at the last '@'), so
    // a ':' inside user:pass is never mistaken for a port separator
    val at = authority.lastIndexOf('@')
    val userinfo = if (at >= 0) authority.substring(0, at) else ""
    val hostport = authority.substring(at + 1)
    val colon = hostport.lastIndexOf(':')
    var host = hostport
    var port = -1
    if (colon >= 0) {
      val p = hostport.substring(colon + 1)
      if (p.isEmpty || !p.forall(c => c >= '0' && c <= '9')) return null
      // bounds-checked parse: a silly-long digit run must map to
      // "malformed", not a NumberFormatException in the executor;
      // valid TCP ports are <= 65535
      var v = 0L
      var k = 0
      while (k < p.length && v <= 65535L) { v = v * 10 + (p.charAt(k) - '0'); k += 1 }
      if (v > 65535L) return null
      host = hostport.substring(0, colon)
      port = v.toInt
    }
    if (host.isEmpty) return null
    host = host.toLowerCase(java.util.Locale.ROOT)
    // path = up to '?' or '#'; query = between '?' and '#'
    var j = i
    while (j < rest.length && rest.charAt(j) != '?' && rest.charAt(j) != '#') j += 1
    val path = rest.substring(i, j)
    var query = ""
    if (j < rest.length && rest.charAt(j) == '?') {
      var k = j + 1
      while (k < rest.length && rest.charAt(k) != '#') k += 1
      query = rest.substring(j + 1, k)
    }
    Parsed(scheme, userinfo, host, port, path, query)
  }

  def normalizeUrlEval(str: UTF8String): UTF8String = {
    val p = parse(str.toString)
    if (p == null) return null
    val Parsed(scheme, userinfo, host, port, path, query) = p
    val sb = new java.lang.StringBuilder(str.numBytes())
    sb.append(scheme).append("://")
    if (userinfo.nonEmpty) sb.append(userinfo).append('@')
    sb.append(host)
    val default = (scheme == "http" && port == 80) ||
      (scheme == "https" && port == 443)
    if (port >= 0 && !default) sb.append(':').append(port)
    var pe = path.length
    while (pe > 0 && path.charAt(pe - 1) == '/') pe -= 1
    if (pe == 0) sb.append('/') else sb.append(path, 0, pe)
    if (query.nonEmpty) {
      val kept = new java.util.ArrayList[String]()
      query.split("&", -1).foreach { q =>
        if (q.nonEmpty && !isTracking(q)) kept.add(q)
      }
      if (!kept.isEmpty) {
        java.util.Collections.sort(kept)
        sb.append('?')
        var i = 0
        while (i < kept.size()) {
          if (i > 0) sb.append('&')
          sb.append(kept.get(i))
          i += 1
        }
      }
    }
    UTF8String.fromString(sb.toString)
  }

  def urlHostEval(str: UTF8String): UTF8String = {
    val p = parse(str.toString)
    if (p == null) null else UTF8String.fromString(p.host)
  }

  /** Path + query of a URL (`/a/b?q=1`), fragment excluded, empty
    * path → `/`. This is the string robots.txt rules match against
    * (RFC 9309 §2.2.2: the path and, if present, the query). NULL on
    * malformed — an unparseable URL gets no politeness verdict. */
  def urlPathQueryEval(str: UTF8String): UTF8String = {
    val p = parse(str.toString)
    if (p == null) return null
    val path = if (p.path.isEmpty) "/" else p.path
    UTF8String.fromString(
      if (p.query.isEmpty) path else path + "?" + p.query)
  }

  /** Registrable domain of a HOST under `rules`, by the published
    * publicsuffix.org algorithm: the public suffix is the LONGEST
    * matching rule (a wildcard `*.tld` matches one extra label; an
    * exception `!name` caps the suffix one label shorter; the
    * implicit default rule `*` makes every bare TLD a suffix), and
    * the registrable domain is the suffix plus one label. A host
    * that IS a public suffix — or a single label — returns itself. */
  def registrableDomainEval(host: UTF8String,
                            rules: SuffixRules): UTF8String = {
    var h = host.toString.toLowerCase(java.util.Locale.ROOT)
    // DNS absolute form: 'example.net.' IS example.net — trailing
    // dots must strip BEFORE label extraction or the registrable
    // domain comes out as the bogus 'net.' and a blocklisted domain
    // sails through Url.curate
    var e = h.length
    while (e > 0 && h.charAt(e - 1) == '.') e -= 1
    if (e < h.length) h = h.substring(0, e)
    if (h.isEmpty) return UTF8String.fromString(host.toString.toLowerCase(java.util.Locale.ROOT))
    val parts = h.split("\\.", -1)
    val n = parts.length
    // an interior empty label ('a..com') is not a valid DNS name —
    // return the (dot-stripped) host itself rather than inventing a
    // registrable domain from garbage
    if (parts.exists(_.isEmpty)) return UTF8String.fromString(h)
    if (n < 2) return UTF8String.fromString(h)
    // longest-match walk over the label suffixes, k = labels in the
    // candidate; bounded by the host's own label count (hosts are
    // short — this is a handful of hash probes per row)
    var suffixLen = 1 // the implicit default rule '*'
    var k = 1
    var cand = parts(n - 1)
    var excHit = -1
    while (k <= n) {
      if (rules.exception.contains(cand)) excHit = k
      if (rules.exact.contains(cand) && k > suffixLen) suffixLen = k
      if (k < n && rules.wildcard.contains(cand) && k + 1 > suffixLen)
        suffixLen = k + 1
      k += 1
      if (k <= n) cand = parts(n - k) + "." + cand
    }
    // an exception rule wins over every other match: the matching
    // name itself is registrable (suffix is one label shorter)
    if (excHit > 0) suffixLen = excHit - 1
    if (suffixLen >= n) return UTF8String.fromString(h) // host IS a suffix
    val d = new java.lang.StringBuilder
    var i = n - suffixLen - 1
    while (i < n) {
      if (i > n - suffixLen - 1) d.append('.')
      d.append(parts(i))
      i += 1
    }
    UTF8String.fromString(d.toString)
  }

  /** Default-rules entry point (the codegen target for the bare
    * `registrable_domain` SQL function). */
  def registrableDomainEval(host: UTF8String): UTF8String =
    registrableDomainEval(host, defaultSuffixRules)

  /** `rules` rides the expression tree (serialized with the plan) so
    * a full installed PSL reaches every executor — in codegen it
    * becomes a plan reference object, one hash-set probe per label. */
  case class RegistrableDomainExpr(
      child: Expression,
      rules: SuffixRules = NativeUrl.defaultSuffixRules)
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "registrable_domain_native"

    override def nullSafeEval(v: Any): Any =
      registrableDomainEval(v.asInstanceOf[UTF8String], rules)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val rulesRef = ctx.addReferenceObj("pslRules", rules,
        "graft.expressions.NativeUrl.SuffixRules")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.NativeUrl.registrableDomainEval($c, $rulesRef);")
    }

    override protected def withNewChildInternal(c: Expression): RegistrableDomainExpr =
      copy(child = c)
  }

  // each is NULL on a malformed URL, hence returnNullable
  def normalizeUrl(url: Column): Column =
    ColumnBridge.staticCall(this, "normalizeUrlEval", StringType, returnNullable = true)(url)

  def urlPathQuery(url: Column): Column =
    ColumnBridge.staticCall(this, "urlPathQueryEval", StringType, returnNullable = true)(url)

  def urlHost(url: Column): Column =
    ColumnBridge.staticCall(this, "urlHostEval", StringType, returnNullable = true)(url)

  def registrableDomain(host: Column): Column =
    ColumnBridge.column(RegistrableDomainExpr(ColumnBridge.expression(host)))

  /** Registrable domain under an explicit rule set — pass
    * `SuffixRules.parse(<full PSL text>)` for production crawls. */
  def registrableDomain(host: Column, rules: SuffixRules): Column =
    ColumnBridge.column(
      RegistrableDomainExpr(ColumnBridge.expression(host), rules))
}
