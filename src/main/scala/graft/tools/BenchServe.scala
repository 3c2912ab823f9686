package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved-close benchmark server (tools/close_bench.py drives
  * it): one long-lived Spark session that runs a named gate per stdin
  * line and answers `TIME <name> <sec>`. The python side alternates
  * each Spark observation with the SAME query's DuckDB observation,
  * so a minute-scale host-load window inflates both engines of a pair
  * together and per-(query,engine) minima stay comparable — the
  * interleaved in-JVM minima protocol promoted to how close artifacts
  * are made (round-12 verdict task: two consecutive close rounds
  * were polluted by ±35% host weather).
  *
  * Protocol: `LIST` → one `QUERY <name>` line per gate + `DONE`;
  * `GC` → System.gc() + `OK`; `<gate name>` → runs through the noop
  * sink, `TIME <name> <sec>` (−1 on error); `EXIT` → `BYE`.
  * Session config mirrors [[graft.Bench]] (input-sized shuffle
  * partitions, AQE on, UTC).
  */
object BenchServe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def walkBytes(f: java.io.File): Long =
      if (f.isDirectory) {
        val c = f.listFiles(); if (c == null) 0L else c.map(walkBytes).sum
      } else f.length()
    val shufflePartitions = math.min(
      math.max(walkBytes(new java.io.File(sfDir)) / (4L << 20), 8L),
      4L * cpus.toInt).toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.Session.registerLateRules(spark)
    spark.sparkContext.setLogLevel("ERROR")

    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(System.out,
        java.nio.charset.StandardCharsets.UTF_8), true)
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "EXIT") {
      line.trim match {
        case "" => ()
        case "LIST" =>
          graft.SparkEntry.queries.keys.toSeq.sorted
            .foreach(n => out.println(s"QUERY $n"))
          out.println("DONE")
        case "GC" =>
          // operator-internal persists (Ranks, Intervals, Outliers) are
          // per-call and never reused across runs — clear them so a
          // long close session doesn't accumulate dead cached RDDs
          spark.sqlContext.clearCache()
          System.gc(); out.println("OK")
        case name =>
          if (!graft.SparkEntry.queries.contains(name))
            out.println(s"TIME $name -1")
          else {
            val dt = runOnce(name)
            out.println(f"TIME $name $dt%.4f")
          }
      }
      line = in.readLine()
    }
    spark.stop()
    out.println("BYE")
  }
}
