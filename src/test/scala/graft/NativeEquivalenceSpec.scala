package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.functions.Text

/** Randomized equivalence: each native expression must agree with the
  * (slower) Spark-built-in formulation it replaced, across generated
  * inputs including edge shapes (empty, single, duplicates, unicode).
  * Seeds are fixed — failures reproduce.
  */
class NativeEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val rnd = new scala.util.Random(97)
  private def randToken: String = {
    val alphabets = Seq("abc", "xyz", "日本語中文", "αβγ", "0123")
    val a = alphabets(rnd.nextInt(alphabets.length))
    (0 until 1 + rnd.nextInt(6)).map(_ => a(rnd.nextInt(a.length))).mkString
  }

  test("intersectCount equals size(array_intersect) on random distinct arrays") {
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(randToken).distinct
      val b = Seq.fill(rnd.nextInt(30))(randToken).distinct
      (a, b)
    } :+ ((Seq.empty[String], Seq.empty[String])) :+ ((Seq("x"), Seq.empty[String]))
    val df = rows.toDF("a", "b")
      .select(
        graft.expressions.NativeText.intersectCount($"a", $"b").as("native"),
        size(array_intersect($"a", $"b")).cast("long").as("builtin"))
    assert(df.where($"native" =!= $"builtin").count() == 0)
  }

  test("fused minhashText equals minhash over distinct char shingles") {
    // MinHash is duplicate-invariant, so the fused sliding-window path
    // (no distinct-set, no substring allocation) must be bit-identical
    // to the composed one — including multibyte text, mixed case,
    // heavy repetition, and below-shingle-size strings (the empty-set
    // sentinel signature)
    val texts = (0 until 200).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => randToken).mkString(" ")
    } ++ Seq("", "ab", "abcd", "ABBA ABBA ABBA", "日本語のテキスト断片",
      "aaaaaaaaaaaaaaaaaaaa", "αβγδ ΑΒΓΔ mixed Περίπτωση")
    for (n <- Seq(3, 5)) {
      val df = texts.toDF("t").select(
        graft.expressions.NativeSignatures.minhashText($"t", n, 32).as("fused"),
        graft.expressions.NativeSignatures.minhashSignature(
          Text.charShingles($"t", n), 32).as("composed"))
      assert(df.where(not($"fused" <=> $"composed")).count() == 0,
        s"fused/composed minhash disagree at shingle size $n")
    }
  }

  test("wordGramBuckets equals substr(md5(salt||gram),1,w) and skips null tokens") {
    // documented bit-identity: each bucket is the hex prefix of
    // md5(salt || gram) over the unigram+bigram bag; a NULL gram
    // yields NULL in SQL and therefore NO bucket, so a null token
    // contributes nothing and breaks the bigrams touching it
    val salt = "s1"
    val w = 3
    val rows: Seq[Seq[String]] = (0 until 60).map { _ =>
      (0 until rnd.nextInt(8)).map(_ =>
        if (rnd.nextInt(5) == 0) null else randToken)
    } ++ Seq(Seq(null), Seq(null, "a", null), Seq("a", null, "b"), Seq.empty)
    val df = rows.toDF("toks").select(
      $"toks",
      graft.expressions.NativeText.wordGramBuckets($"toks", salt, w).as("native"))
    // composed oracle: unigrams then bigrams, null grams filtered
    val composed = df.select($"native",
      concat(
        expr(s"transform(filter(toks, t -> t is not null), t -> substr(md5(concat('$salt', t)), 1, $w))"),
        expr(s"""filter(zip_with(
             slice(toks, 1, greatest(size(toks) - 1, 0)),
             slice(toks, 2, greatest(size(toks) - 1, 0)),
             (a, b) -> if(a is null or b is null, null,
                          substr(md5(concat('$salt', a, ' ', b)), 1, $w))),
             x -> x is not null)""")).as("oracle"))
    assert(composed.where(not($"native" <=> $"oracle")).count() == 0)
  }

  test("charShinglesEval equals the distinct code-point windows of the lowercased text") {
    // independent reference: code-point windows of the lowercased
    // string, distinct, in first-occurrence order
    def reference(t: String, n: Int): Seq[String] = {
      val cps = UTF8String.fromString(t).toLowerCase.toString.codePoints.toArray
      if (cps.length < n) Nil
      else cps.sliding(n).map(w => new String(w, 0, n)).toSeq.distinct
    }
    val texts = Seq(
      "the quick brown fox", // ASCII
      "naïve café über", // 2-byte
      "日本語のテキスト断片", // 3-byte
      "a😀b😀c🎉d", // 4-byte (surrogate pairs)
      "ÀÉÎÕÜ ΑΒΓΔ ЖЗИ", // uppercase non-ASCII
      "ab", "abc", "", // len < n, len == n, empty
      "abcabcabcabc", "😀😀😀😀😀") // repeated windows
    for (n <- Seq(1, 3, 5); t <- texts) {
      val got = graft.expressions.NativeSignatures
        .charShinglesEval(UTF8String.fromString(t), n)
        .toArray[UTF8String](StringType).map(_.toString).toSeq
      assert(got == reference(t, n), s"n=$n text=$t")
    }
    // through a query: each returned shingle owns its bytes, whatever
    // buffer backed the input row
    val rows = texts ++ (0 until 200).map(_ =>
      (0 until rnd.nextInt(12)).map(_ => randToken).mkString(" "))
    val got = rows.toDF("t").select(Text.charShingles($"t", 3)).as[Seq[String]]
      .collect().toSeq
    assert(got == rows.map(reference(_, 3)))
  }

  test("fused jaccardText equals jaccard over char-shingle arrays") {
    // the fused two-string form must be value-identical (after the
    // same round(·,4)) to the composed array formulation it replaces
    // in join-condition verify predicates — including multibyte text,
    // mixed case, short/empty strings, and identical inputs
    val rows = (0 until 200).map { _ =>
      val t1 = (0 until rnd.nextInt(12)).map(_ => randToken).mkString(" ")
      // half the rows are IDENTICAL pairs (jaccard exactly 1 — the
      // threshold-admission region), half reversed near/far pairs
      (t1, if (rnd.nextBoolean()) t1 else t1.reverse)
    } :+ (("", "")) :+ (("abcd", "")) :+ (("ab", "ab"))
    for (n <- Seq(3, 5)) {
      val df = rows.toDF("a", "b").select(
        round(graft.expressions.NativeSignatures.jaccardText($"a", $"b", n), 4)
          .as("fused"),
        round(Text.jaccard(Text.charShingles($"a", n),
          Text.charShingles($"b", n)), 4).as("composed"))
      assert(df.where($"fused" =!= $"composed").count() == 0, s"n=$n")
    }
  }

  test("fused jaccardArrays equals the composed intersect/union form") {
    val rows = (0 until 200).map { _ =>
      val a = Seq.fill(rnd.nextInt(30))(randToken).distinct
      val b = Seq.fill(rnd.nextInt(30))(randToken).distinct
      (a, b)
    } :+ ((Seq.empty[String], Seq.empty[String])) :+
      ((Seq("x"), Seq.empty[String])) :+ ((Seq("x", "y"), Seq("y", "x")))
    val inter = graft.expressions.NativeText.intersectCount($"a", $"b").cast("double")
    val union = (size($"a") + size($"b")).cast("double") - inter
    val df = rows.toDF("a", "b").select(
      Text.jaccard($"a", $"b").as("fused"),
      when(union > 0, round(inter / union, 4)).otherwise(lit(0.0)).as("composed"))
    assert(df.where($"fused" =!= $"composed").count() == 0)
  }

  test("fused token/subword counters equal the tokens-array formulation") {
    // The fused byte-walk counters never materialize the token array;
    // they must agree with size(tokens)/subwordCount(tokens) on random
    // multi-alphabet text plus the edge shapes that stress each
    // boundary: empty, whitespace-only, every ASCII \s char (incl
    // vertical tab 0x0B), leading/trailing runs, surrogate pairs
    // (1 code point, 4 UTF-8 bytes), and U+0130 İ whose lowercase is
    // TWO code points (the case that forces the non-ASCII slow path).
    val texts = (0 until 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => randToken)
        .mkString(Seq(" ", "  ", "\t", "\n", " \r ")(rnd.nextInt(5)))
    } ++ Seq("", " ", " \t\n\f\r ", "  lead", "trail  ",
      "one", "a b  c\td", "İSTANBUL İİİ mixİd", "𝕏 𝕐𝕐 emoji 🎉🎉🎉 pair",
      "ÀÉÎ ÕÜ ßẞ", "abcd", "日本語 中文\tαβγ")
    val df = texts.toDF("t").select(
      graft.expressions.NativeText.tokenCount($"t").as("tc_fused"),
      size(graft.expressions.NativeText.tokens($"t")).cast("long").as("tc_arr"),
      graft.expressions.NativeText.subwordCountText($"t").as("sc_fused"),
      graft.expressions.NativeText.subwordCount(
        graft.expressions.NativeText.tokens($"t")).as("sc_arr"))
    assert(df.where($"tc_fused" =!= $"tc_arr" || $"sc_fused" =!= $"sc_arr")
      .count() == 0)
  }

  test("native punct/stopword ratios equal the regexp/tokens formulations") {
    // punctRatio vs the regexp_replace length-diff; stopwordRatio vs
    // tokens+wordHits — across random text (multi-alphabet, so the
    // non-ASCII char-count path is exercised), punctuation-dense
    // strings, and stopword-heavy prose with mixed case/whitespace.
    val sw = Text.enStopwords
    val texts = (0 until 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ =>
        if (rnd.nextBoolean()) sw(rnd.nextInt(sw.length)) else randToken)
        .mkString(Seq(" ", "  ", "\t", ".. ", "?! ")(rnd.nextInt(5)))
    } ++ Seq("", ".,!?;:'\"()[]{}-", "the (quick) fox.", "THE The the",
      "日本語、句読点。", "a-b-c {d} [e]", "   ", "'''", "the\tand\nof")
    val oldPunct = {
      val len = length($"t").cast("double")
      val p = (len - length(regexp_replace($"t", "[.,!?;:'\"()\\[\\]{}-]", ""))).cast("double")
      when(len > 0, round(p / len, 4)).otherwise(lit(0.0))
    }
    val oldStop = {
      val ts = graft.expressions.NativeText.tokens($"t")
      val n = size(ts).cast("double")
      val hits = graft.expressions.NativeText.wordHits(ts, sw).cast("double")
      when(n > 0, round(hits / n, 4)).otherwise(lit(0.0))
    }
    val df = texts.toDF("t").select(
      graft.expressions.NativeText.punctRatio($"t").as("p_new"),
      oldPunct.as("p_old"),
      graft.expressions.NativeText.stopwordRatio($"t", sw).as("s_new"),
      oldStop.as("s_old"))
    assert(df.where($"p_new" =!= $"p_old" || $"s_new" =!= $"s_old").count() == 0)
  }

  test("fused fingerprint/simhash equal their token-array forms") {
    // bit-identity: XXH64 reads the same bytes from a zero-copy slice
    // as from a copied token, so chain and bit-vote results must match
    val texts = (0 until 300).map { _ =>
      (0 until rnd.nextInt(40)).map(_ => randToken).mkString(" ")
    } ++ Seq("", " ", "one", "The THE the", "a  b\tc", "日本語 中文 αβγ")
    val df = texts.toDF("t").select(
      graft.expressions.NativeText.fingerprintText($"t").as("fp_fused"),
      graft.expressions.NativeText.fingerprint(
        graft.expressions.NativeText.tokens($"t")).as("fp_arr"),
      graft.expressions.NativeText.simhashText($"t").as("sh_fused"),
      graft.expressions.NativeSignatures.simhash64(
        graft.expressions.NativeText.tokens($"t")).as("sh_arr"))
    assert(df.where($"fp_fused" =!= $"fp_arr" || $"sh_fused" =!= $"sh_arr")
      .count() == 0)
  }

  test("fused langScoreText equals langScore over the token array") {
    // same distinct-hit scoring and tie-break, without the token
    // array: agreement across mixed-language prose, ties, no-hit
    // text, case variation, and empty input
    val sets = Text.stopwordSets
    val words = sets.flatMap(_._2)
    val texts = (0 until 300).map { _ =>
      (0 until rnd.nextInt(30)).map(_ =>
        if (rnd.nextBoolean()) words(rnd.nextInt(words.length)) else randToken)
        .mkString(" ")
    } ++ Seq("", "the and of", "le la et", "der und die", "THE Le Der",
      "xyzzy plugh", "the le", "  the  ")
    val df = texts.toDF("t").select(
      graft.expressions.NativeText.langScoreText($"t", sets).as("fused"),
      graft.expressions.NativeText.langScore(
        graft.expressions.NativeText.tokens($"t"), sets).as("arr"))
    assert(df.where($"fused" =!= $"arr").count() == 0)
  }

  test("ascii fast-path charEntropy equals the code-point map walk") {
    // the ASCII path sums per-slot in code-point order vs the map's
    // bucket order; after 4-dp rounding both must agree on any
    // realistic input (non-ASCII strings route to the map walk anyway)
    import org.apache.spark.unsafe.types.UTF8String
    val texts = (0 until 2000).map { _ =>
      (0 until rnd.nextInt(60)).map(_ => randToken).mkString(" ")
    } ++ Seq("", "a", "aaaa", "abab", "The quick brown fox! 123.",
      "\u03b1\u03b2 mixed ascii \u03b1\u03b2", "\u0000\u0001binary\u0002", " ")
    texts.foreach { t =>
      val u = UTF8String.fromString(t)
      val fast = graft.expressions.NativeText.charEntropyEval(u)
      val slow = graft.expressions.NativeText.charEntropySlow(u)
      assert(fast == slow, s"entropy fast=$fast slow=$slow for ${t.take(40)}")
    }
  }

  test("native mdy format/parse equal date_format/try_to_timestamp") {
    // formatMdy vs date_format on random dates across 1600-2400
    // (pre-1970 negatives, leap centuries 1600/2000, non-leap 1900);
    // parseMdy vs try_to_timestamp on both well-formed and junk text.
    val days = (0 until 400).map(_ => -135140 + rnd.nextInt(292194)) ++ // 1600..2399
      Seq(0, -1, 10957, 11016, -25567) // epoch, 2000-01-01, leap edges
    val dfF = days.toDF("ed").select(date_add(lit(java.sql.Date.valueOf("1970-01-01")), $"ed").as("dt"))
      .select($"dt", ($"dt".cast("timestamp") + expr("INTERVAL 11 HOURS")).as("ts"))
      .select(
        graft.expressions.NativeDates.formatMdy($"dt").as("native"),
        date_format($"dt", "MM/dd/yyyy").as("builtin"),
        graft.expressions.NativeDates.formatMdy($"ts").as("native_ts"),
        date_format($"ts", "MM/dd/yyyy").as("builtin_ts"))
    assert(dfF.where(not($"native" <=> $"builtin") ||
      not($"native_ts" <=> $"builtin_ts")).count() == 0)

    val strs = days.map { ed =>
      val d = java.time.LocalDate.ofEpochDay(ed.toLong)
      s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
    } ++ Seq("02/29/2000", "2/29/1900", "2/30/2020", "13/01/2020", "0/5/2020",
      "1/0/2020", "12/31/9999", "1/1/0001", "-8", "", "1/2/92", "01/02/1992 ",
      " 1/2/1992", "1//1992", "a/b/cccc", "001/2/1992", "1/002/1992")
    val dfP = strs.toDF("s").select(
      graft.expressions.NativeDates.parseMdy($"s").as("native"),
      to_date(try_to_timestamp($"s", lit("M/d/yyyy"))).as("builtin"))
    assert(dfP.where(not($"native" <=> $"builtin")).count() == 0)
  }

  test("cosineSim equals the HOF dot/norm formulation on random vectors") {
    val rows = (0 until 200).map { _ =>
      val dim = 1 + rnd.nextInt(32)
      (Seq.fill(dim)(rnd.nextGaussian()), Seq.fill(dim)(rnd.nextGaussian()))
    }
    val df = rows.toDF("a", "b")
      .select(
        graft.expressions.NativeVector.cosineSim($"a", $"b").as("native"),
        (graft.functions.Sim.dot($"a", $"b") /
          (graft.functions.Sim.norm($"a") * graft.functions.Sim.norm($"b"))).as("hof"))
      .as[(Double, Double)].collect()
    df.foreach { case (n, h) =>
      assert(n == h || math.abs(n - h) < 1e-12, s"$n vs $h")
    }
  }

  test("chunks reassemble to the original token stream (overlap removed)") {
    val docs = (0 until 100).map { _ =>
      (0 until rnd.nextInt(300)).map(_ => randToken).mkString(" ")
    }
    for (doc <- docs; (size, overlap) <- Seq((7, 2), (80, 20), (3, 0))) {
      val step = size - overlap
      val chunks = Seq(doc).toDF("t")
        .select(Text.chunks($"t", size, overlap).as("c"))
        .as[Seq[String]].head()
      val toks = doc.split("\\s+").filter(_.nonEmpty).toSeq
      if (toks.isEmpty) assert(chunks.isEmpty)
      else {
        // stitch: first chunk whole, later chunks minus the
        // `overlap`-token prefix they share with their predecessor
        val stitched = chunks.zipWithIndex.flatMap { case (c, i) =>
          val ct = c.split(" ").toSeq
          if (i == 0) ct else ct.drop(overlap)
        }
        // every chunk except possibly the last has exactly `size` tokens
        chunks.dropRight(1).foreach(c => assert(c.split(" ").length == size))
        assert(stitched == toks, s"size=$size overlap=$overlap")
      }
    }
  }

  test("wordHits equals the filter+isin formulation on random token arrays") {
    val words = Text.enStopwords
    val rows = (0 until 200).map { _ =>
      Seq.fill(rnd.nextInt(50))(
        if (rnd.nextBoolean()) words(rnd.nextInt(words.length)) else randToken)
    }
    val df = rows.toDF("ts")
      .select(
        graft.expressions.NativeText.wordHits($"ts", words).as("native"),
        size(filter($"ts", t => t.isin(words.map(lit): _*))).cast("long").as("hof"))
    assert(df.where($"native" =!= $"hof").count() == 0)
  }

  test("dupLineFrac equals the HOF split/filter/array_distinct formulation") {
    def hof(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val lines = filter(split(c, "\n"), l => trim(l) =!= lit(""))
      val total = size(lines).cast("double")
      when(total > 0,
        round(lit(1.0) - size(array_distinct(lines)).cast("double") / total, 4))
        .otherwise(lit(0.0))
    }
    val docs = (0 until 200).map { _ =>
      val pool = Seq.fill(1 + rnd.nextInt(5))(randToken)
      (0 until rnd.nextInt(20)).map { _ =>
        rnd.nextInt(6) match {
          case 0 => "   "
          case 1 => "\t"    // NOT blank under SQL trim (space-only)
          case 2 => " \r "  // ditto — CRLF remnants count as content
          case _ => pool(rnd.nextInt(pool.length))
        }
      }.mkString("\n")
    } :+ "" :+ "\n\n" :+ "a\na\na" :+ "a\na\n\t\nb"
    val df = docs.toDF("t")
      .select(
        graft.expressions.NativeText.dupLineFrac($"t").as("native"),
        hof($"t").as("builtin"))
    assert(df.where($"native" =!= $"builtin").count() == 0)
  }

  test("searchSorted equals the HOF filter-count bucketing, boundary values included") {
    // the counting-selection family's bucketing: #bounds <= v, with
    // values drawn to hit exact boundary equality, between-bounds,
    // below-all and above-all cases; NULL stays NULL on both sides
    val bounds = (1 to 63).map(i => i * 0.5 - 16.0).toArray
    val boundsCol = array(bounds.map(lit(_)): _*)
    val vals: Seq[Option[Double]] =
      (0 until 500).map(_ => Some(rnd.nextGaussian() * 12)) ++
        bounds.map(Some(_)) ++
        Seq(Some(-1e9), Some(1e9), Some(-0.0), Some(0.0), None)
    val df = vals.toDF("v")
      .select(
        graft.expressions.NativeSelect.searchSorted($"v", bounds)
          .as("native"),
        when($"v".isNull, lit(null))
          .otherwise(size(filter(boundsCol, b => b <= $"v")))
          .as("builtin"))
    assert(df.where(!($"native" <=> $"builtin")).count() == 0)
  }

  test("radixBucket: monotone, equal values share a bucket, −0.0 ≡ 0.0") {
    // counting selection's entire contract on a bucketing: monotone
    // in the value and equal doubles (incl. the two zeros) bucket
    // together. Draw values across signs, magnitudes and exact dups.
    val base = (0 until 400).map(_ =>
      rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 4))
    val vals = (base ++ base.take(50) ++
      Seq(-0.0, 0.0, -1e300, 1e300, -1e-300, 1e-300)).sorted
    for (bits <- Seq(8, 18, 26)) {
      val shift = 64 - bits
      val buckets = vals.map(v =>
        graft.expressions.NativeSelect.radixBucketEval(v, shift))
      // ascending values → non-decreasing buckets
      buckets.zip(buckets.tail).foreach { case (a, b) =>
        assert(a <= b, s"bits=$bits not monotone: $a > $b")
      }
      // equal values → equal buckets (incl. −0.0 vs 0.0)
      vals.zip(buckets).groupBy(_._1).foreach { case (v, bs) =>
        assert(bs.map(_._2).distinct.size == 1, s"value $v split buckets")
      }
      assert(
        graft.expressions.NativeSelect.radixBucketEval(-0.0, shift) ==
          graft.expressions.NativeSelect.radixBucketEval(0.0, shift))
    }
    // the codegen'd expression equals the eval path
    val df = vals.toDF("v").select($"v",
      graft.expressions.NativeSelect.radixBucket($"v", 18).as("b"))
      .collect()
    df.foreach { r =>
      assert(r.getInt(1) ==
        graft.expressions.NativeSelect.radixBucketEval(r.getDouble(0), 46))
    }
  }

  test("quantize/dequantize: reconstruction error bounded by scale/2 on random vectors") {
    import graft.functions.Sim
    val rows = (0 until 200).map { _ =>
      val dim = 1 + rnd.nextInt(48)
      Seq.fill(dim)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(4) - 1))
    } :+ Seq(0.0, 0.0, 0.0) // zero vector: scale 0, codes 0, error 0
    val df = rows.toDF("v")
      .withColumn("sc", Sim.quantScale($"v"))
      .select($"sc",
        aggregate(
          zip_with($"v", Sim.dequantize(Sim.quantize($"v", $"sc"), $"sc"),
            (a, r) => abs(a - r)),
          lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"))
      .as[(Double, Double)].collect()
    df.foreach { case (sc, err) =>
      assert(err <= sc / 2 + 1e-12, s"err $err exceeds scale/2 (${sc / 2})")
    }
  }

  test("every static-call builder gives the same rows under codegen and interpreted") {
    import graft.expressions.{NativeDates, NativeEditSim, NativeRobots,
      NativeSignatures, NativeText, NativeUrl}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.{LocalTableScanExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.types._
    // NULL, empty, ASCII, 2/3/4-byte UTF-8, and junk that must give
    // NULL (an impossible date, a malformed URL)
    val texts = Seq[String](null, "", "The cat and THE dog. a b a b!",
      "x\ny\nx\n   \nx", "Café naïve — Ünïcode ß", "日本語 の テキスト 日本語 の",
      "emoji 😀 😀 𝄞 x 😀", "<p>A &amp; <b>B</b></p><script>1<2</script>",
      "Cafe\u0301 \u0001 a\t\tb  ", "2/29/2000", "2/30/2000", "12/31/1999",
      "HTTP://Ex.COM:80/a/?b=2&a=1&utm_source=x#f", "https://WWW.Ex.org:8443/p/q?z=1",
      "http://h.io:port/x", "/a/b")
    val patterns = Seq[String]("/a*b$", "", null, "*q", "/")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("t", StringType),
      StructField("u", StringType), StructField("d", DateType),
      StructField("p", StringType),
      StructField("starts", ArrayType(IntegerType)),
      StructField("ends", ArrayType(IntegerType))))
    val rows = texts.indices.map { i =>
      Row(i, texts(i), texts((i + 1) % texts.size),
        if (i % 4 == 0) null else java.sql.Date.valueOf(s"${1990 + i}-0${1 + i % 9}-1${i % 10}"),
        patterns(i % patterns.size),
        if (i % 3 == 0) null else Seq(i % 2), Seq(i % 2 + 2))
    }
    val t = $"t"
    val toks = NativeText.tokens(t)
    val builders: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "tokens" -> toks,
      "fingerprint" -> NativeText.fingerprint(toks),
      "charEntropy" -> NativeText.charEntropy(t),
      "topNgramFrac" -> NativeText.topNgramFrac(toks, 2),
      "dupNgramFrac" -> NativeText.dupNgramFrac(toks, 2),
      "intersectCount" -> NativeText.intersectCount(toks, NativeText.tokens($"u")),
      "jaccardArrays" -> NativeText.jaccardArrays(toks, NativeText.tokens($"u")),
      "chunks" -> NativeText.chunks(t, 3, 2),
      "dupLineFrac" -> NativeText.dupLineFrac(t),
      "dedupLines" -> NativeText.dedupLines(t),
      "nfc" -> NativeText.nfc(t),
      "htmlExtract" -> NativeText.htmlExtract(t),
      "cleanText" -> NativeText.cleanText(t),
      "chunksWithCounts" -> NativeText.chunksWithCounts(t, 3, 2),
      "wordNgrams" -> NativeText.wordNgrams(toks, 2),
      "wordNgramHashes" -> NativeText.wordNgramHashes(toks, 2),
      "wordNgramHashes seeded" -> NativeText.wordNgramHashes(toks, 2, 7L),
      "wordNgramHashPairs" -> NativeText.wordNgramHashPairs(toks, 2),
      "wordBigrams" -> NativeText.wordBigrams(toks),
      "removeTokenRanges" -> NativeText.removeTokenRanges(toks, $"starts", $"ends"),
      "subwordCount" -> NativeText.subwordCount(toks),
      "tokenCount" -> NativeText.tokenCount(t),
      "punctRatio" -> NativeText.punctRatio(t),
      "fingerprintText" -> NativeText.fingerprintText(t),
      "simhashText" -> NativeText.simhashText(t),
      "subwordCountText" -> NativeText.subwordCountText(t),
      "simhash64" -> NativeSignatures.simhash64(toks),
      "charShingles" -> NativeSignatures.charShingles(t, 3),
      "jaccardText" -> NativeSignatures.jaccardText(t, $"u", 3),
      "parseMdy" -> NativeDates.parseMdy(t),
      "formatMdy" -> NativeDates.formatMdy($"d"),
      "normalizeUrl" -> NativeUrl.normalizeUrl(t),
      "urlHost" -> NativeUrl.urlHost(t),
      "urlPathQuery" -> NativeUrl.urlPathQuery(t),
      "robotsMatch" -> NativeRobots.robotsMatch(t, $"p"),
      "jaroWinkler" -> NativeEditSim.jaroWinkler(t, $"u"))
    val staged = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .localCheckpoint()
    val local = spark.createDataFrame(rows.asJava, schema)
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val results = builders.map { case (name, c) =>
      val gen = staged.select($"id", c.as("v"))
      val genRows = gen.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      val genPlan = unwrap(gen.queryExecution.executedPlan)
      assert(genPlan.isInstanceOf[WholeStageCodegenExec] &&
        genPlan.toString.contains("static_invoke("), s"$name not codegen'd:\n$genPlan")
      val interp = local.select($"id", c.as("v"))
      val interpRows = interp.collect().map(r => r.getInt(0) -> r.get(1)).toMap
      val interpPlan = interp.queryExecution.executedPlan
      assert(interpPlan.isInstanceOf[LocalTableScanExec],
        s"$name not evaluated on the local relation:\n$interpPlan")
      assert(genRows.size == rows.size && genRows == interpRows,
        s"$name: codegen $genRows != interpreted $interpRows")
      name -> genRows
    }.toMap
    // NULL in gives NULL out; junk gives NULL where the function says so
    val nullRow = texts.indexOf(null)
    assert(results.values.forall(_(nullRow) == null))
    assert(results("parseMdy")(texts.indexOf("2/30/2000")) == null)
    assert(results("parseMdy")(texts.indexOf("2/29/2000")) ==
      java.sql.Date.valueOf("2000-02-29"))
    assert(results("normalizeUrl")(texts.indexOf("http://h.io:port/x")) == null)
    assert(results("urlHost")(texts.indexOf("http://h.io:port/x")) == null)
  }
}
