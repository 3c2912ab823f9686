package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt rule matching (RFC 9309) — the crawl-politeness
  * primitive behind [[graft.operators.Robots]]. A rule's path pattern
  * is matched against the URL's path+query:
  *
  *  - the pattern matches from the START of the path (prefix
  *    semantics);
  *  - `*` matches any byte sequence, including empty;
  *  - a TRAILING `$` anchors the match to the end of the path
  *    (a `$` anywhere else is a literal byte — the de-facto
  *    interpretation of the major crawlers);
  *  - the empty pattern matches everything (it is the empty prefix).
  *
  * One primitive pass with the classic greedy-star backtracking walk
  * (worst case O(n·m); robots patterns are tens of bytes). Prefix
  * semantics fall out of the same walk: a non-anchored pattern that
  * is fully consumed at any point matches. Matching is on raw bytes
  * of the UTF-8 strings — RFC 9309 matching is byte-wise, and the
  * oracle's regex replay agrees because both sides see identical
  * UTF-8.
  */
object NativeRobots {

  def robotsMatchEval(path: UTF8String, pattern: UTF8String): Boolean = {
    // raw UTF-8 bytes, as RFC 9309 specifies (no String decode; '*'
    // and '$' are ASCII so metacharacter tests are byte tests, and
    // UTF-8 self-synchronization makes literal byte matches align to
    // character boundaries)
    val s = path.getBytes
    val full = pattern.getBytes
    val anchored = full.nonEmpty && full(full.length - 1) == '$'.toByte
    val pat = full
    val n = s.length
    val m = if (anchored) full.length - 1 else full.length
    var i = 0
    var j = 0
    var star = -1
    var mark = 0
    while (i < n) {
      if (!anchored && j == m) return true // prefix fully consumed
      if (j < m && pat(j) == '*'.toByte) { star = j; mark = i; j += 1 }
      else if (j < m && pat(j) == s(i)) { i += 1; j += 1 }
      else if (star >= 0) { j = star + 1; mark += 1; i = mark }
      else return false
    }
    while (j < m && pat(j) == '*'.toByte) j += 1
    j == m // path exhausted: exact for anchored, still a prefix otherwise
  }

  def robotsMatch(path: Column, pattern: Column): Column =
    ColumnBridge.staticCall(this, "robotsMatchEval", BooleanType)(path, pattern)
}
