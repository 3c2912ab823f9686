package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the library's `.collect()` inventory to SCALE.md's "Driver
  * discipline" table. Every library collect must be bounded BY
  * CONSTRUCTION (a limit, a pigeonhole, a per-partition/per-domain
  * cardinality) — a new site means either a scale bug or a missing
  * row in the documented table; either way this spec fails until the
  * code and the doc agree again. */
class CollectInventorySpec extends AnyFunSuite {

  test("library .collect() sites match the SCALE.md bounded inventory exactly") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory,
      s"spec must run from the repo root; cwd=${new java.io.File(".").getAbsolutePath}")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // harness code is out of scope: gate queries and the verify/
    // explain mains materialize deliberately tiny audit frames
    val harnessDirs = Set("gates", "tools")
    val harnessFiles = Set("SparkEntry.scala", "Verify.scala")
    val counts = scalaFiles(root)
      .filterNot(f => harnessFiles.contains(f.getName) ||
        f.getPath.split(java.io.File.separatorChar)
          .exists(harnessDirs.contains))
      .map { f =>
        val src = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        // strip line comments and scaladoc bodies so prose mentioning
        // .collect() neither counts as a site nor masks one
        val code = src.linesIterator
          .filterNot(_.trim.startsWith("*"))
          .map(l => l.indexOf("//") match {
            case -1 => l
            case i  => l.take(i)
          })
          .mkString("\n")
        // all driver-materializing spellings: .collect(), paren-less
        // .collect (chained or line-final), .collectAsList() — but NOT
        // Scala collections' partial-function collect/collectFirst
        // (.collect { case … } / .collect(pf) / .collectFirst)
        val pat = java.util.regex.Pattern.compile(
          """\.collect(AsList)?(\(\))?(?!\w|\s*[({])""")
        val m = pat.matcher(code)
        var n = 0
        while (m.find()) n += 1
        val rel = f.getPath.replace(java.io.File.separatorChar, '/')
          .replaceFirst("^.*?src/main/scala/graft/", "")
        rel -> n
      }.filter(_._2 > 0).toMap
    // one entry per SCALE.md table row (counts per file); bounds are
    // documented there — update BOTH when adding a site
    val want = Map(
      "catalog/Catalog.scala" -> 2,
      "operators/EntityResolution.scala" -> 1,
      "operators/Boilerplate.scala" -> 1,
      "operators/Dedup.scala" -> 1,
      "operators/Sketches.scala" -> 2,
      "operators/Outliers.scala" -> 1,
      "operators/Intervals.scala" -> 1,
      "operators/Ranks.scala" -> 1,
      "operators/Mixing.scala" -> 1,
      "pipeline/KafkaLog.scala" -> 1,
      "sources/Warc.scala" -> 2,
      "functions/Ivf.scala" -> 2,
      "functions/Bpe.scala" -> 1,
      "functions/Pq.scala" -> 2)
    val extra = counts.toSet.diff(want.toSet)
    val missing = want.toSet.diff(counts.toSet)
    assert(counts == want,
      s"collect inventory drifted — undocumented: $extra; stale: $missing" +
        " (update SCALE.md 'Driver discipline' + this spec together," +
        " and argue the new site's bound)")
  }
}
