package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Catalog

/** Fault injection for `Catalog.swapIn`, the one rewrite+swap every
  * parquet-directory maintenance call goes through: tmp-write →
  * `dir`→aside → tmp→`dir` → drop aside. The claim under test is that
  * a FAILED rename at either swap step leaves the table readable and
  * wholly-old (rollback), never mixed, never deleted — and leaks no
  * tmp/aside siblings — for every caller (`merge`, `deleteKeys`,
  * `compact`), and that a partitioned run settles every leaf before
  * it reports a failed one. Injection happens in a real Hadoop
  * FileSystem ([[FaultInjectingFileSystem]], `faulty://` scheme), so
  * Spark's parquet IO and committer run unmodified. */
class CatalogSwapFaultSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def faultyDir(prefix: String): String = {
    FaultInjectingFileSystem.register(spark)
    val real = SparkTestSession.tempDir(prefix).toString
    s"faulty://$real/t"
  }

  private def rows(dir: String): Seq[(Long, Double)] =
    spark.read.parquet(dir).as[(Long, Double)].collect().toSeq.sorted

  /** Siblings of `dir` left behind by a failed swap (tmp or aside). */
  private def strays(dir: String): Seq[String] = {
    val real = new java.io.File(new java.net.URI(dir).getPath)
    Option(real.getParentFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_ != real.getName).toSeq
  }

  private val original = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0))

  /** One swap caller: its sibling tag (`.<name>_<tag>_…`, aside
    * `.<name>_pre<tag>_…`), the call, the counts its stats must report
    * on the retry over `original`, and the rows it must leave. */
  private case class SwapCase(op: String, tag: String, run: String => Seq[Long],
                              counts: Seq[Long], after: Seq[(Long, Double)])

  private val swapCases = Seq(
    SwapCase("merge", "merge", { dir =>
      val s = Catalog.merge(spark, dir,
        Seq((2L, 99.0), (4L, 40.0)).toDF("k", "v"), Seq("k"))
      Seq(s.rowsBefore, s.rowsAfter)
    }, Seq(3L, 4L), Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0))),
    SwapCase("deleteKeys", "delete", { dir =>
      val s = Catalog.deleteKeys(spark, dir, Seq(2L, 5L).toDF("k"), Seq("k"))
      Seq(s.rowsBefore, s.rowsDeleted, s.leavesRewritten)
    }, Seq(3L, 1L, 1L), Seq((1L, 10.0), (3L, 30.0))),
    SwapCase("compact", "compact", { dir =>
      val s = Catalog.compact(spark, dir)
      Seq(s.filesBefore, s.filesAfter)
    }, Seq(3L, 1L), original))

  /** The two swap steps a rename can fail at, as fault predicates
    * over (src, dst) for a table dir and a caller's tag. */
  private val swapSteps = Seq[(String, String, (Path, String) => (Path, Path) => Boolean)](
    ("move-aside", "could not move",
      (_, tag) => (_, dst) => dst.getName.contains(s"_pre${tag}_")),
    ("swap-in", "could not swap",
      (dirP, tag) => (src, dst) =>
        src.getName.contains(s"_${tag}_") && dst.getName == dirP.getName))

  for (c <- swapCases; (step, message, fault) <- swapSteps)
    test(s"${c.op}: failed $step rolls back to wholly-old, no strays") {
      val dir = faultyDir(s"swap_${c.tag}_$step")
      original.toDF("k", "v").repartition(3).write.parquet(dir)
      try {
        FaultInjectingFileSystem.failRenameWhen = fault(new Path(dir), c.tag)
        val ex = intercept[java.io.IOException](c.run(dir))
        assert(ex.getMessage.contains(message))
      } finally FaultInjectingFileSystem.reset()
      // on swap-in the rollback path itself renames aside→dir — it
      // must have run
      assert(rows(dir) == original.sorted, "table must read back wholly-old")
      assert(strays(dir).isEmpty, s"leaked swap dirs: ${strays(dir)}")
      // and with the fault cleared the same call lands wholly-new
      assert(c.run(dir) == c.counts)
      assert(rows(dir) == c.after.sorted)
    }

  test("mergePartitioned: a failed leaf swap-in settles every leaf, then throws") {
    val faulty = faultyDir("swap_mp")
    val clean = SparkTestSession.tempDir("swap_mp_clean").toString + "/t"
    val target = Seq((1L, 10.0, "d1"), (2L, 20.0, "d2"), (3L, 30.0, "d3"),
      (4L, 40.0, "d4")).toDF("k", "v", "day")
    // touches d1, d2 and d3, opens d5; d4 is untouched
    val delta = Seq((1L, 11.0, "d1"), (2L, 22.0, "d2"), (9L, 90.0, "d2"),
      (3L, 33.0, "d3"), (5L, 50.0, "d5")).toDF("k", "v", "day")
    def merge(root: String) =
      Catalog.mergePartitioned(spark, root, delta, Seq("k"), Seq("day"))
    def leafRows(root: String, day: String): Seq[(Long, Double)] =
      spark.read.parquet(s"$root/day=$day").as[(Long, Double)].collect().toSeq.sorted
    def allRows(root: String): Seq[(Long, Double, String)] =
      spark.read.parquet(root).select($"k", $"v", $"day".cast("string"))
        .as[(Long, Double, String)].collect().toSeq.sorted
    def leafFiles(day: String): Map[String, (Long, Long)] =
      new java.io.File(new java.net.URI(s"$faulty/day=$day").getPath).listFiles()
        .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    for (root <- Seq(faulty, clean)) target.write.partitionBy("day").parquet(root)
    val noFault = merge(clean)
    val d4Before = leafFiles("d4")
    try {
      FaultInjectingFileSystem.failRenameWhen =
        (src, dst) => src.getName.contains("_merge_") && dst.getName == "day=d2"
      val ex = intercept[java.io.IOException](merge(faulty))
      assert(ex.getMessage.contains("could not swap"))
    } finally FaultInjectingFileSystem.reset()
    // the failing leaf reads back wholly-old; the runner waits for
    // every leaf before it rethrows, so each other touched leaf has
    // already landed wholly-new and no swap is still in flight
    assert(leafRows(faulty, "d2") == Seq((2L, 20.0)))
    assert(leafRows(faulty, "d1") == Seq((1L, 11.0)))
    assert(leafRows(faulty, "d3") == Seq((3L, 33.0)))
    assert(leafRows(faulty, "d5") == Seq((5L, 50.0)))
    assert(leafFiles("d4") == d4Before, "untouched leaf d4 was rewritten")
    val rootDirs = new java.io.File(new java.net.URI(faulty).getPath).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(rootDirs == Set("day=d1", "day=d2", "day=d3", "day=d4", "day=d5"),
      s"stray dirs left under the root: $rootDirs")
    // replaying the same delta without the fault converges
    merge(faulty)
    assert(allRows(faulty) == allRows(clean))
    assert(noFault == Catalog.MergeStats(3L, 5L), noFault.toString)
  }

  test("mergePartitioned: a failed new-leaf write leaves no partial leaf, replay converges") {
    val root = faultyDir("swap_mp_new")
    Seq((1L, 10.0, "d1")).toDF("k", "v", "day").write.partitionBy("day").parquet(root)
    val delta = Seq((1L, 11.0, "d1"), (5L, 50.0, "d5")).toDF("k", "v", "day")
    def merge() = Catalog.mergePartitioned(spark, root, delta, Seq("k"), Seq("day"))
    try {
      // every rename of the new leaf's output files fails, so its
      // write job fails
      FaultInjectingFileSystem.failRenameWhen =
        (src, _) => src.toString.contains("day=d5") && src.toString.contains("_temporary")
      intercept[Exception](merge())
    } finally FaultInjectingFileSystem.reset()
    val rootDir = new java.io.File(new java.net.URI(root).getPath)
    assert(rootDir.list().toSet == Set("_SUCCESS", "day=d1"),
      s"partial leaf or stray left under the root: ${rootDir.list().toSeq}")
    merge()
    assert(spark.read.parquet(root).select($"k", $"v", $"day".cast("string"))
      .as[(Long, Double, String)].collect().toSeq.sorted ==
      Seq((1L, 11.0, "d1"), (5L, 50.0, "d5")))
  }

  test("sanity: merge and compact succeed through faulty:// with no fault set") {
    val dir = faultyDir("swap_ok")
    original.toDF("k", "v").repartition(2).write.parquet(dir)
    val ms = Catalog.merge(spark, dir,
      Seq((1L, 11.0), (5L, 50.0)).toDF("k", "v"), Seq("k"))
    assert(ms.rowsBefore == 3 && ms.rowsAfter == 4)
    val cs = Catalog.compact(spark, dir)
    assert(cs.filesAfter == 1L)
    assert(rows(dir) == Seq((1L, 11.0), (2L, 20.0), (3L, 30.0), (5L, 50.0)))
  }
}
