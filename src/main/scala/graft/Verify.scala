package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json for the DuckDB compare and verify_manifest.json
  * (gates attempted, gates that threw). Exits 1 if any gate threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir); an optional third arg filters
    // query names by comma-separated substrings for fast local iteration
    val (sfDir, outDir, nameFilter) = args match {
      case Array(s, o)    => (s, o, "")
      case Array(s, o, f) => (s, o, f)
    }
    val nameFilters = nameFilter.split(',').filter(_.nonEmpty).toSeq
    val spark = Session.local("verify")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        nameFilters.isEmpty || nameFilters.exists(name.contains) }
    val threw = attempted.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> String.valueOf(e.getMessage))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def obj(kvs: Iterable[(String, String)]): String =
      kvs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), obj(SparkEntry.oracleSql))
    // every gate attempted and every gate that threw, so a check can
    // fail a gate with no output dir instead of silently skipping it
    val manifest = s"""{"attempted": ${attempted.map(a => q(a._1)).mkString("[", ",", "]")}, """ +
      s""""threw": ${obj(threw)}}"""
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"), manifest)
    spark.stop()
    if (threw.nonEmpty) {
      System.err.println(s"[verify] ${threw.size} gate(s) threw: ${threw.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
