package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.Registry

/** The cluster deployment path: `spark.sql.extensions=
  * graft.expressions.GraftExtensions` injects every graft_* function
  * at session build time. `newSession()` rebuilds its function
  * registry from the extensions and does not carry the temp functions
  * that [[Registry.register]] adds to its parent, so a fresh session
  * checks the injection even when another spec registered the
  * functions on the shared session first (this spec does so itself).
  */
class ExtensionsSpec extends AnyFunSuite {
  lazy val fresh = {
    Registry.register(SparkTestSession.spark)
    SparkTestSession.spark.newSession()
  }

  test("every Registry function resolves on a session built from the extensions") {
    val missing = Registry.functions.map(_._1).filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not injected: $missing")
  }

  test("the injected functions answer the probe table through pure SQL") {
    val probes = Seq(
      "SELECT size(graft_tokens('a b c'))" -> "3",
      "SELECT graft_fingerprint(graft_tokens('a b c')) IS NOT NULL" -> "true",
      "SELECT graft_simhash64(graft_tokens('a b c')) IS NOT NULL" -> "true",
      "SELECT size(graft_minhash(graft_char_shingles('abcdef', 3), 8))" -> "8",
      "SELECT size(graft_char_shingles('abcd', 2))" -> "3",
      ("SELECT graft_minhash_text('AbcDef', 3, 8) = " +
        "graft_minhash(graft_char_shingles('AbcDef', 3), 8)") -> "true",
      "SELECT graft_srp_sig(array(1.0D, 2.0D), 8) IS NOT NULL" -> "true",
      "SELECT graft_char_entropy('aaaa')" -> "0.0",
      "SELECT graft_lang_score(graft_tokens('the cat and the dog'))" -> "en",
      "SELECT round(graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)), 2)" -> "1.0",
      "SELECT graft_intersect_count(array('a','b'), array('b','c'))" -> "1",
      "SELECT size(graft_chunks('a b c d e', 2, 2))" -> "3",
      "SELECT graft_dup_line_frac('x\ny\nx')" -> "0.3333",
      "SELECT graft_sig_agree(array(1L, 2L, 3L), array(1L, 9L, 3L))" -> "2",
      "SELECT graft_chunks_with_counts('a b c', 2, 2)[0].n_tok" -> "2",
      "SELECT graft_subword_count(graft_tokens('abcdefgh'))" -> "2",
      "SELECT graft_top_ngram_frac(graft_tokens('a b a b'), 2)" -> "1.0",
      "SELECT graft_dup_ngram_frac(graft_tokens('a b a b'), 2)" -> "1.0",
      "SELECT graft_json_long('{\"k\": 7}', 'k')" -> "7",
      "SELECT graft_token_count('a b  c')" -> "3",
      ("SELECT graft_fingerprint_text('A b C') = " +
        "graft_fingerprint(graft_tokens('A b C'))") -> "true",
      ("SELECT graft_simhash64_text('A b C') = " +
        "graft_simhash64(graft_tokens('A b C'))") -> "true",
      "SELECT graft_punct_ratio('ab.,')" -> "0.5",
      "SELECT graft_lang_id('the cat and the dog')" -> "en",
      "SELECT CAST(graft_parse_mdy('2/29/2000') AS STRING)" -> "2000-02-29",
      "SELECT graft_parse_mdy('2/30/2000') IS NULL" -> "true",
      "SELECT graft_format_mdy(DATE'1992-01-02')" -> "01/02/1992",
      "SELECT size(graft_word_ngram_hashes(graft_tokens('a b c d'), 3))" -> "2",
      "SELECT graft_dedup_lines('x\ny\nx').n_removed" -> "1",
      ("SELECT graft_remove_token_ranges(graft_tokens('a b c d e')," +
        " array(1), array(3)).kept_text") -> "a d e",
      "SELECT length(graft_nfc('Cafe\u0301'))" -> "4",
      "SELECT graft_clean_text(' a\u0001b  c\t ')" -> "ab c",
      ("SELECT graft_normalize_url(" +
        "'HTTP://Ex.COM:80/a/?b=2&a=1&utm_s=x#f')") -> "http://ex.com/a?a=1&b=2",
      "SELECT graft_url_host('https://WWW.Ex.org:8443/p')" -> "www.ex.org",
      "SELECT graft_registrable_domain('a.b.example.co.uk')" -> "example.co.uk",
      ("SELECT graft_html_extract(" +
        "'<p>A &amp; <b>B</b></p><script>1<2</script>')") -> "A & B",
      "SELECT graft_url_path_query('https://ex.com/a/b?q=1#f')" -> "/a/b?q=1",
      "SELECT graft_robots_match('/a/b', '/a*b$')" -> "true",
      "SELECT graft_robots_match('/a/bc', '/a*b$')" -> "false")
    val wrong = probes.flatMap { case (sql, want) =>
      val got = String.valueOf(fresh.sql(sql).head().get(0))
      if (got == want) None else Some(s"$sql => $got (want $want)")
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("a strictly typed function rejects a wrong input type instead of casting") {
    // SigAgreeExpr declares array<bigint> inputs through
    // ExpectsInputTypes, which rejects array<int>; a static call
    // (ImplicitCastInputTypes) would cast instead, which is why the
    // strictly typed functions stay expression classes
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      fresh.sql("SELECT graft_sig_agree(array(1, 2, 3), array(1, 9, 3))").collect()
    }
    assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
  }
}
