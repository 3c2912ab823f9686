package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Versioned
import org.apache.spark.sql.functions._

/** Versioned tables: commit protocol, time travel, O(1) rollback,
  * optimistic-concurrency races, orphan invisibility, vacuum with
  * rollback aliases. */
class CatalogVersionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def freshRoot(): String =
    SparkTestSession.tempDir("graft_versioned").toString

  test("put / commit / readAt / rollback semantics") {
    val root = freshRoot()
    val v1 = Versioned.put(spark, (1L to 10L).toDF("id"), root)
    assert(v1 == 1L)
    val v2 = Versioned.commit(spark, root)(_.where(col("id") % 2 === 0))
    assert(v2 == 2L)
    assert(Versioned.read(spark, root).count() == 5)
    assert(Versioned.readAt(spark, root, 1).count() == 10) // time travel
    val v3 = Versioned.rollback(spark, root, 1)
    assert(v3 == 3L)
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq ==
      (1L to 10L))
    // rollback preserved history: v2 still readable
    assert(Versioned.readAt(spark, root, 2).count() == 5)
    assert(Versioned.history(spark, root).map(_.seq) == Seq(1L, 2L, 3L))
    // rollback copied no data: v3 aliases v1's dir
    val h = Versioned.history(spark, root)
    assert(h.head.dataDir == h.last.dataDir)
  }

  test("rollback of a rollback; unknown versions fail with clear errors") {
    val root = freshRoot()
    Versioned.put(spark, (1L to 4L).toDF("id"), root)            // v1
    Versioned.commit(spark, root)(_.where(col("id") <= 2))       // v2
    Versioned.rollback(spark, root, 1)                           // v3 = v1
    Versioned.rollback(spark, root, 2)                           // v4 = v2
    assert(Versioned.read(spark, root).count() == 2)
    Versioned.rollback(spark, root, 3)                           // v5 = v3 = v1
    assert(Versioned.read(spark, root).count() == 4)
    assert(Versioned.history(spark, root).map(_.seq) == (1L to 5L))
    intercept[IllegalArgumentException](Versioned.readAt(spark, root, 99))
    intercept[IllegalArgumentException](Versioned.rollback(spark, root, 99))
    intercept[IllegalStateException](
      Versioned.read(spark, freshRoot())) // no versions yet
  }

  test("concurrent puts land distinct sequential versions") {
    val root = freshRoot()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val seqs = Await.result(Future.sequence((1 to 4).map(i => Future {
      Versioned.put(spark, Seq(i.toLong).toDF("id"), root)
    })), 2.minutes).sorted
    assert(seqs == Seq(1L, 2L, 3L, 4L))
    // every committed version reads back exactly one row
    (1L to 4L).foreach(s =>
      assert(Versioned.readAt(spark, root, s).count() == 1))
    // no orphan data dirs: every dir is referenced
    val dirs = new java.io.File(root).list().filter(_.startsWith("data-")).toSet
    assert(dirs == Versioned.history(spark, root).map(_.dataDir).toSet)
  }

  test("a torn (empty) log entry never livelocks later commits") {
    val root = freshRoot()
    Versioned.put(spark, (1L to 3L).toDF("id"), root) // seq 1
    // crash artifact: an entry created but never written claims seq 2
    val torn = new java.io.File(new java.io.File(root, "_log"),
      "00000000000000000002.commit")
    assert(torn.createNewFile())
    // put must allocate PAST the torn sequence, not retry against it
    assert(Versioned.put(spark, Seq(9L).toDF("id"), root) == 3L)
    assert(Versioned.read(spark, root).as[Long].head() == 9L)
    // the torn entry is not a version: history skips it
    assert(Versioned.history(spark, root).map(_.seq) == Seq(1L, 3L))
    // commit() (read-modify-write) also rides past torn entries
    assert(Versioned.commit(spark, root)(_.withColumn("id", col("id") + 1)) == 4L)
    assert(Versioned.read(spark, root).as[Long].head() == 10L)
    // no orphan data dirs from any of it
    val dirs = new java.io.File(root).list().filter(_.startsWith("data-")).toSet
    assert(dirs == Versioned.history(spark, root).map(_.dataDir).toSet)
    // a torn NON-EMPTY entry (crash mid-fill on the no-hardlink
    // fallback: content present, completeness terminator missing) is
    // equally invisible — it must never surface as a commit naming a
    // half-written dir name — and its sequence number is still burned
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(root, "_log"),
        "00000000000000000007.commit").toPath,
      "data-000000000000000".getBytes) // no trailing \n
    assert(!Versioned.history(spark, root).map(_.seq).contains(7L))
    assert(Versioned.put(spark, Seq(7L).toDF("id"), root) == 8L)
  }

  test("legacy terminator-less entries stay readable when their data dir exists") {
    // the pre-terminator format wrote the bare data-dir name with no
    // trailing newline — an upgrade must NOT read every existing
    // versioned table as having zero commits. The dir-exists check is
    // what distinguishes a legacy (or torn-but-complete) entry from a
    // mid-name fragment.
    val root = freshRoot()
    Versioned.put(spark, (1L to 6L).toDF("id"), root) // seq 1, new format
    val h1 = Versioned.history(spark, root)
    // rewrite seq 1's entry in the LEGACY format: same content, no \n
    val entry = new java.io.File(new java.io.File(root, "_log"),
      "00000000000000000001.commit")
    java.nio.file.Files.write(entry.toPath, h1.head.dataDir.getBytes)
    assert(Versioned.history(spark, root).map(_.seq) == Seq(1L))
    assert(Versioned.read(spark, root).count() == 6)
    // commit() on top of a legacy entry works (the upgrade scenario)
    assert(Versioned.commit(spark, root)(_.where(col("id") <= 2)) == 2L)
    assert(Versioned.read(spark, root).count() == 2)
    assert(Versioned.readAt(spark, root, 1).count() == 6)
    // a terminator-less fragment naming a NONEXISTENT dir is still torn
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(root, "_log"),
        "00000000000000000005.commit").toPath,
      "data-00000000000000000005-ab".getBytes)
    assert(!Versioned.history(spark, root).map(_.seq).contains(5L))
  }

  test("orphans are invisible; vacuum collects them but honors aliases") {
    val root = freshRoot()
    Versioned.put(spark, (1L to 4L).toDF("id"), root)
    Versioned.commit(spark, root)(_.where(col("id") <= 2))
    Versioned.rollback(spark, root, 1) // seq 3 aliases seq 1's dir
    // simulate a crash between data write and log create: an orphan
    // dir with an already-taken sequence number
    val orphan = new java.io.File(root, "data-00000000000000000002-deadbeef")
    assert(orphan.mkdir())
    assert(Versioned.read(spark, root).count() == 4) // orphan invisible

    // the default retention never collects a fresh dir — an in-flight
    // writer whose sequence got concurrently taken is still mid-write
    assert(Versioned.vacuum(spark, root, keepLast = 2).isEmpty)

    // keepLast=2 keeps seq 2 and 3; seq 3 aliases seq 1's dir, so
    // THAT dir survives even though seq 1 itself is outside the window
    val deleted = Versioned.vacuum(spark, root, keepLast = 2, retentionMs = 0)
    assert(deleted == Seq("data-00000000000000000002-deadbeef"))
    assert(Versioned.read(spark, root).count() == 4)   // alias intact
    assert(Versioned.readAt(spark, root, 2).count() == 2)

    // dropping the window to 1 collects v2's dir; current still reads
    val deleted2 = Versioned.vacuum(spark, root, keepLast = 1, retentionMs = 0)
    assert(deleted2.size == 1 && deleted2.head.startsWith("data-00000000000000000002"))
    assert(Versioned.read(spark, root).count() == 4)
  }

  test("commit point is create-exclusive: a same-seq loser NEVER replaces the winner") {
    // local-FS rename(2) silently overwrites — exists()+rename() would
    // let both racing writers believe they won seq N. The publish
    // primitive must be one-winner (hard link / O_EXCL), with the
    // winner's CONTENT intact afterwards.
    val root = SparkTestSession.tempDir("graft_vexcl").toString
    val p = new org.apache.hadoop.fs.Path(root)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val first = Versioned.tryCreateLogEntry(f, p, 7L, "data-A")
    val second = Versioned.tryCreateLogEntry(f, p, 7L, "data-B")
    assert(first && !second, "exactly one writer of seq 7 may win")
    val h = Versioned.history(spark, root)
    assert(h == Seq(Versioned.Entry(7L, "data-A")),
      s"loser must not have replaced the winner's entry: $h")
    // many threads race the SAME sequence number: one winner, content preserved
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    val futures = (1 to 16).map { i =>
      pool.submit(new java.util.concurrent.Callable[(Boolean, Int)] {
        def call(): (Boolean, Int) =
          Versioned.tryCreateLogEntry(f, p, 9L, s"data-T$i") -> i
      })
    }
    val results = futures.map(_.get()).toList
    pool.shutdown()
    assert(results.count(_._1) == 1, s"exactly one winner expected: $results")
    val winner = results.find(_._1).get._2
    assert(Versioned.history(spark, root).find(_.seq == 9L)
      .map(_.dataDir).contains(s"data-T$winner"))
  }
}
