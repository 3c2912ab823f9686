package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.{Catalog, KeyValue}

class CatalogSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("ensureDatabase is idempotent") {
    Catalog.ensureDatabase(spark, "graft_test_db")
    Catalog.ensureDatabase(spark, "graft_test_db")
    assert(spark.catalog.databaseExists("graft_test_db"))
  }

  test("overwriteTable replaces content (WRITE_TRUNCATE parity)") {
    Catalog.overwriteTable(Seq(1, 2, 3).toDF("v"), "graft_t1")
    Catalog.overwriteTable(Seq(9).toDF("v"), "graft_t1")
    assert(spark.table("graft_t1").as[Int].collect().toSeq == Seq(9))
  }

  test("writePartitioned: field XOR ingest-time enforced") {
    intercept[IllegalArgumentException] {
      Catalog.writePartitioned(Seq((1, "a")).toDF("v", "day"),
        "graft_t2", Some("day"), byIngestTime = true)
    }
    Catalog.writePartitioned(
      Seq((1, "2024-01-01"), (2, "2024-01-02")).toDF("v", "day"),
      "graft_t2", Some("day"))
    // partition pruning applies on the partition column
    assert(spark.table("graft_t2").where($"day" === "2024-01-01").count() == 1)
    Catalog.writePartitioned(Seq(5).toDF("v"), "graft_t3", None, byIngestTime = true)
    assert(spark.table("graft_t3").columns.contains("_ingest_day"))
  }

  test("readExternal discovers hive partitions from k=v dirs") {
    val dir = SparkTestSession.tempDir("hive").toString
    Seq((1, "x")).toDF("v", "k").write.mode("overwrite").partitionBy("k").parquet(dir)
    val df = Catalog.readExternal(spark, "parquet", dir)
    assert(df.columns.contains("k"))
    assert(df.where($"k" === "x").count() == 1)
  }

  test("ctas replaces table content from SQL") {
    Catalog.overwriteTable(Seq(1, 2, 3).toDF("v"), "graft_src")
    Catalog.ctas(spark, "graft_ctas", "SELECT v * 10 AS v10 FROM graft_src WHERE v > 1")
    assert(spark.table("graft_ctas").as[Int].collect().sorted.toSeq == Seq(20, 30))
    Catalog.ctas(spark, "graft_ctas", "SELECT v AS v10 FROM graft_src") // replace
    assert(spark.table("graft_ctas").count() == 3)
  }

  test("view + table tag round-trip") {
    Catalog.overwriteTable(Seq(1).toDF("v"), "graft_t4")
    Catalog.ensureView(spark, "graft_v4", "SELECT v * 2 AS v2 FROM graft_t4")
    Catalog.ensureView(spark, "graft_v4", "SELECT v * 3 AS v3 FROM graft_t4") // no-op
    assert(spark.table("graft_v4").columns.toSeq == Seq("v2"))
    Catalog.tagTable(spark, "graft_t4", "data_classification", "public")
    assert(Catalog.getTag(spark, "graft_t4", "data_classification")
      .contains("public"))
  }

  test("KeyValue upsert/delete/query semantics") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("key", "val")
    val updates = Seq((2L, "B"), (3L, "c")).toDF("key", "val")
    val merged = KeyValue.upsert(existing, updates, "key")
    assert(merged.orderBy("key").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c")))
    val afterDelete = KeyValue.delete(merged, Seq(1L).toDF("key"), "key")
    assert(afterDelete.select("key").as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(KeyValue.queryByProperty(merged, "val", "B")
      .select("key").as[Long].collect().toSeq == Seq(2L))
  }

  test("KeyValue insertAutoKey allocates unique keys for keyless entities") {
    val existing = Seq((1L, "a")).toDF("key", "val")
    val inserts = Seq("x", "x", "y").toDF("val") // dup payloads still get distinct keys
    val after = KeyValue.insertAutoKey(existing, inserts, "key")
    assert(after.count() == 4)
    assert(after.select("key").distinct().count() == 4)
    assert(after.where($"key" === 1L).select("val").as[String].head() == "a")
    assert(after.where($"val" === "x").count() == 2)
  }

  test("KeyValue insertAutoKey: identical content across separate calls gets distinct keys") {
    val existing = Seq.empty[(Long, String)].toDF("key", "val")
    val once = KeyValue.insertAutoKey(existing, Seq("same").toDF("val"), "key")
    val twice = KeyValue.insertAutoKey(once, Seq("same").toDF("val"), "key")
    assert(twice.count() == 2)
    assert(twice.select("key").distinct().count() == 2) // per-call nonce, no positional collision
  }

  test("compact shrinks a fragmented parquet dir, preserving every row") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft_compact").toString + "/t"
    val df = spark.range(0, 10000).select($"id", ($"id" * 3).as("v"))
    df.repartition(25).write.parquet(dir)
    val stats = graft.catalog.Catalog.compact(spark, dir, targetFileBytes = 64L << 20)
    assert(stats.filesBefore == 25 && stats.filesAfter == 1, stats.toString)
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.agg(sum($"v")).head.getLong(0) == (0L until 10000L).map(_ * 3).sum)
    // and the dir holds exactly one data file — the swap left no litter
    val files = new java.io.File(dir).listFiles().map(_.getName)
    assert(files.count(_.endsWith(".parquet")) == 1, files.mkString(","))
  }

  test("merge: matched keys replaced whole-row, new keys inserted") {
    val dir = SparkTestSession.tempDir("graft_merge_spec").toString + "/t"
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v").write.parquet(dir)
    val upd = Seq((2L, null.asInstanceOf[String], 99.0), (9L, "i", 1.0))
      .toDF("k", "name", "v")
    val stats = Catalog.merge(spark, dir, upd, Seq("k"))
    assert(stats == Catalog.MergeStats(3L, 4L))
    val rows = spark.read.parquet(dir)
      .as[(Long, Option[String], Double)].collect().sortBy(_._1).toSeq
    // update-row-wins: key 2's intentional NULL name LANDS (a
    // coalesce-based merge would wrongly keep "b")
    assert(rows == Seq((1L, Some("a"), 10.0), (2L, None, 99.0),
      (3L, Some("c"), 30.0), (9L, Some("i"), 1.0)))
    // the swap left no litter beside the table dir
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(parent.toSeq == Seq("t"), parent.mkString(","))
  }

  test("merge rejects a mismatched update schema") {
    val dir = SparkTestSession.tempDir("graft_merge_bad").toString + "/t"
    Seq((1L, "a")).toDF("k", "name").write.parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Catalog.merge(spark, dir, Seq((1L, 2.0)).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("must match"))
  }

  test("merge rejects duplicate keys in the delta (BigQuery MERGE semantics)") {
    val dir = SparkTestSession.tempDir("graft_merge_dup").toString + "/t"
    Seq((1L, "a")).toDF("k", "name").write.parquet(dir)
    val dup = Seq((1L, "x"), (1L, "y")).toDF("k", "name")
    val e = intercept[IllegalArgumentException] {
      Catalog.merge(spark, dir, dup, Seq("k"))
    }
    assert(e.getMessage.contains("more than one row"))
    // the target was not touched
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
  }

  test("mergePartitioned rewrites only touched leaves, creates new ones") {
    val root = SparkTestSession.tempDir("graft_merge_part").toString + "/t"
    Seq((1L, "a", 10.0, "d1"), (2L, "b", 20.0, "d1"),
        (3L, "c", 30.0, "d2"), (4L, "d", 40.0, "d3"))
      .toDF("k", "name", "v", "day")
      .write.partitionBy("day").parquet(root)
    def leafFiles(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$root/day=$day")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    }
    val d2Before = leafFiles("d2")
    val d3Before = leafFiles("d3")
    assert(d2Before.nonEmpty && d3Before.nonEmpty)
    // delta: update k=1 (day=d1), insert k=9 (day=d1), open day=d9.
    // day=d2 and day=d3 are untouched and must stay byte-identical.
    val upd = Seq((1L, "A!", 11.0, "d1"), (9L, "i", 1.0, "d1"),
        (7L, "n", 7.0, "d9"))
      .toDF("k", "name", "v", "day")
    val stats = Catalog.mergePartitioned(spark, root, upd, Seq("k"), Seq("day"))
    assert(stats == Catalog.MergeStats(2L, 4L), stats.toString) // d1: 2→3, d9: 0→1
    assert(leafFiles("d2") == d2Before, "untouched leaf d2 was rewritten")
    assert(leafFiles("d3") == d3Before, "untouched leaf d3 was rewritten")
    val back = spark.read.parquet(root)
      .select($"k", $"name", $"v", $"day".cast("string"))
      .as[(Long, String, Double, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq(
      (1L, "A!", 11.0, "d1"), (2L, "b", 20.0, "d1"), (3L, "c", 30.0, "d2"),
      (4L, "d", 40.0, "d3"), (7L, "n", 7.0, "d9"), (9L, "i", 1.0, "d1")))
  }

  test("mergePartitioned identity is partition-scoped: keys do not migrate") {
    val root = SparkTestSession.tempDir("graft_merge_scope").toString + "/t"
    Seq((1L, "a", "d1")).toDF("k", "name", "day")
      .write.partitionBy("day").parquet(root)
    // same key under ANOTHER partition value: inserts there, leaves
    // d1's row alone — the partition-pruned MERGE contract
    val upd = Seq((1L, "other-day", "d2")).toDF("k", "name", "day")
    Catalog.mergePartitioned(spark, root, upd, Seq("k"), Seq("day"))
    val back = spark.read.parquet(root)
      .select($"k", $"name", $"day".cast("string"))
      .as[(Long, String, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(back == Seq((1L, "a", "d1"), (1L, "other-day", "d2")))
    // duplicate identity across the SAME partition is rejected
    val dup = Seq((5L, "x", "d1"), (5L, "y", "d1")).toDF("k", "name", "day")
    val e = intercept[IllegalArgumentException] {
      Catalog.mergePartitioned(spark, root, dup, Seq("k"), Seq("day"))
    }
    assert(e.getMessage.contains("more than one row"))
  }

  test("compact with clusterBy yields disjoint per-file key ranges") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft_cluster").toString + "/t"
    spark.range(0, 20000).select($"id", (rand(7) * 100).as("noise"))
      .repartition(30) // keys scattered across every file
      .write.parquet(dir)
    // tiny target → several output files, each owning a key range
    val stats = graft.catalog.Catalog.compact(spark, dir,
      targetFileBytes = 64L << 10, clusterBy = Seq("id"))
    assert(stats.filesAfter > 1, stats.toString)
    val ranges = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"id"), max($"id")).head
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(hi < lo, s"file ranges overlap: ${ranges.mkString(",")}")
      case _ =>
    }
    // min/max pruning works: a point filter reads one file's rows
    val pruned = spark.read.parquet(dir).where($"id" === 12345L)
    assert(pruned.count() == 1)
  }

  test("compactPartitioned compacts each k=v leaf, preserving partition values") {
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft_compactp").toString + "/t"
    val df = spark.range(0, 9000)
      .select($"id", ($"id" % 3).cast("string").as("k"), ($"id" * 7).as("v"))
    df.repartition(8).write.partitionBy("k").parquet(dir)
    val stats = graft.catalog.Catalog.compactPartitioned(spark, dir,
      targetFileBytes = 64L << 20)
    assert(stats.filesBefore == 24, stats.toString) // 8 files × 3 partitions
    assert(stats.filesAfter == 3, stats.toString)   // 1 per partition
    val back = spark.read.parquet(dir)
    assert(back.count() == 9000)
    // partition column still discovered from dir names, rows unmoved
    val perK = back.groupBy($"k").agg(sum($"v").as("s"), count(lit(1)).as("n"))
      // k reads back as int (hive partition-value inference)
      .collect().map(r => r.get(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    (0 until 3).foreach { k =>
      val ids = (0L until 9000L).filter(_ % 3 == k)
      assert(perK(k.toString) == ((ids.map(_ * 7).sum, ids.size.toLong)))
    }
    // partition pruning survives: one-partition scan
    assert(back.where($"k" === "1").count() == 3000)
    // flat dir degenerates to plain compact
    val flat = SparkTestSession.tempDir("graft_compactf").toString + "/t"
    spark.range(100).repartition(5).write.parquet(flat)
    val fstats = graft.catalog.Catalog.compactPartitioned(spark, flat)
    assert(fstats.filesBefore == 5 && fstats.filesAfter == 1, fstats.toString)
  }

  test("deleteKeys removes exactly the keyed rows; absent keys are no-ops") {
    val dir = SparkTestSession.tempDir("graft_del").toString + "/t"
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "v").write.parquet(dir)
    val stats = Catalog.deleteKeys(spark, dir,
      Seq(2L, 4L, 999L).toDF("k"), Seq("k"))
    assert(stats == Catalog.DeleteStats(4L, 2L, 1L), stats.toString)
    val back = spark.read.parquet(dir).as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "a"), (3L, "c")))
    // idempotent: replaying the same erasure list deletes nothing new
    val again = Catalog.deleteKeys(spark, dir,
      Seq(2L, 4L, 999L).toDF("k"), Seq("k"))
    assert(again.rowsDeleted == 0L)
  }

  test("deleteKeysPartitioned probes every leaf, rewrites only hit leaves") {
    val root = SparkTestSession.tempDir("graft_del_part").toString + "/t"
    Seq((1L, "a", "d1"), (2L, "b", "d1"),
        (3L, "c", "d2"), (4L, "d", "d3"))
      .toDF("k", "v", "day")
      .write.partitionBy("day").parquet(root)
    def leafFiles(day: String): Map[String, (Long, Long)] = {
      val d = new java.io.File(s"$root/day=$day")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.lastModified(), f.length())).toMap
    }
    val d2Before = leafFiles("d2")
    val d3Before = leafFiles("d3")
    // the erasure list does NOT say where key 1 lives; only day=d1
    // contains it, so d2/d3 must stay byte-identical
    val stats = Catalog.deleteKeysPartitioned(spark, root,
      Seq(1L, 999L).toDF("k"), Seq("k"))
    assert(stats == Catalog.DeleteStats(2L, 1L, 1L), stats.toString)
    assert(leafFiles("d2") == d2Before, "untouched leaf d2 was rewritten")
    assert(leafFiles("d3") == d3Before, "untouched leaf d3 was rewritten")
    val back = spark.read.parquet(root)
      .select($"k", $"v", $"day".cast("string"))
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((2L, "b", "d1"), (3L, "c", "d2"), (4L, "d", "d3")))
  }

  test("deleteKeysPartitioned accepts PARTITION columns as erasure keys") {
    // "delete tenant X" where tenant is the partition column — the
    // key is absent from the leaf FILES and must be matched against
    // the path. All-partition keys drop whole leaves; mixed keys
    // restrict the per-leaf erasure list by the path values.
    val root = SparkTestSession.tempDir("graft_del_pkey").toString + "/t"
    Seq((1L, "a", "t1"), (2L, "b", "t1"), (3L, "c", "t2"), (4L, "d", "t3"))
      .toDF("k", "v", "tenant")
      .write.partitionBy("tenant").parquet(root)
    // key IS the partition column: whole matching leaf goes
    val stats = Catalog.deleteKeysPartitioned(spark, root,
      Seq("t1", "t9").toDF("tenant"), Seq("tenant"))
    assert(stats == Catalog.DeleteStats(2L, 2L, 1L), stats.toString)
    assert(spark.read.parquet(root).select($"k").as[Long]
      .collect().sorted.toSeq == Seq(3L, 4L))
    // mixed keys: (k, tenant) — only the (4, t3) pair matches; the
    // (3, t3) pair names a k that lives under a DIFFERENT tenant and
    // must not delete anything
    val stats2 = Catalog.deleteKeysPartitioned(spark, root,
      Seq((4L, "t3"), (3L, "t3")).toDF("k", "tenant"), Seq("k", "tenant"))
    assert(stats2.rowsDeleted == 1L, stats2.toString)
    assert(spark.read.parquet(root).select($"k").as[Long]
      .collect().toSeq == Seq(3L))
  }

  test("deleteKeysPartitioned: whole-leaf drops prune empty ancestors; typed keys coerce") {
    // two-level layout: erasing every day under a tenant must not
    // leave an empty tenant=... dir that the NEXT run's leaf walk
    // reads as a parquet-less leaf (AnalysisException)
    val root = SparkTestSession.tempDir("graft_del_prune").toString + "/t"
    Seq((1L, 7, "d1"), (2L, 7, "d2"), (3L, 8, "d1"))
      .toDF("k", "tenant", "day")
      .write.partitionBy("tenant", "day").parquet(root)
    // the erasure frame carries tenant as DOUBLE against int=7 paths:
    // the string rendering ('7.0' vs '7') differs, the typed coercion
    // must still match — a representation mismatch is a silent
    // non-erasure otherwise
    val stats = Catalog.deleteKeysPartitioned(spark, root,
      Seq(7.0d).toDF("tenant"), Seq("tenant"))
    assert(stats == Catalog.DeleteStats(2L, 2L, 2L), stats.toString)
    assert(!new java.io.File(s"$root/tenant=7").exists(),
      "empty ancestor partition dir was left behind")
    // the next run over the same table walks cleanly
    val again = Catalog.deleteKeysPartitioned(spark, root,
      Seq(99.0d).toDF("tenant"), Seq("tenant"))
    assert(again.rowsDeleted == 0L)
    assert(spark.read.parquet(root).select($"k").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("deleteKeysPartitioned: NULL partition keys never match failed-cast leaves") {
    // the typed-coercion branch uses <=>, and try_cast of a
    // non-conforming path value yields NULL — without an isNotNull
    // guard a NULL erasure key would satisfy NULL <=> NULL against
    // EVERY leaf whose path value fails the cast, silently deleting
    // the wrong partitions wholesale. NULL keys must only match
    // __HIVE_DEFAULT_PARTITION__ leaves.
    val root = SparkTestSession.tempDir("graft_del_nullkey").toString + "/t"
    Seq((1L, "1"), (2L, "acme"), (3L, "zorg"))
      .toDF("k", "tenant")
      .write.partitionBy("tenant").parquet(root)
    // erasure frame types tenant as INT: 'acme'/'zorg' fail the cast
    val nullOnly: Seq[Option[Int]] = Seq(None)
    val stats = Catalog.deleteKeysPartitioned(spark, root,
      nullOnly.toDF("tenant"), Seq("tenant"))
    assert(stats.rowsDeleted == 0L, stats.toString)
    assert(spark.read.parquet(root).count() == 3L,
      "a NULL erasure key deleted a failed-cast partition")
    // mixed NULL + real key: only the typed match (tenant=1) goes
    val mixed: Seq[Option[Int]] = Seq(Some(1), None)
    val stats2 = Catalog.deleteKeysPartitioned(spark, root,
      mixed.toDF("tenant"), Seq("tenant"))
    assert(stats2.rowsDeleted == 1L, stats2.toString)
    assert(spark.read.parquet(root).select($"k").as[Long]
      .collect().sorted.toSeq == Seq(2L, 3L))
  }

  test("deleteKeysPartitioned on a FLAT directory degenerates to the flat erasure") {
    // a right-to-be-forgotten request must never silently no-op
    // because the table happened to be unpartitioned
    val dir = SparkTestSession.tempDir("graft_del_flat").toString + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(dir)
    val stats = Catalog.deleteKeysPartitioned(spark, dir,
      Seq(1L).toDF("k"), Seq("k"))
    assert(stats == Catalog.DeleteStats(2L, 1L, 1L), stats.toString)
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toSeq ==
      Seq((2L, "b")))
  }

  test("swap crash artifacts are hidden: no phantom partitions, walkers skip them") {
    val root = SparkTestSession.tempDir("graft_del_art").toString + "/t"
    Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("k", "v", "day")
      .write.partitionBy("day").parquet(root)
    // simulate a crash-between-renames artifact with the OLD visible
    // naming: it must neither read back as a partition nor be walked
    val artifact = new java.io.File(s"$root/.day=d1_predelete_123")
    Seq((9L, "ghost", "dX")).toDF("k", "v", "day")
      .write.parquet(artifact.toString + "/inner")
    // readers ignore dot-prefixed dirs — no phantom rows
    assert(spark.read.parquet(root).count() == 2)
    // the erasure walk ignores it too and converges normally
    val stats = Catalog.deleteKeysPartitioned(spark, root,
      Seq(2L).toDF("k"), Seq("k"))
    assert(stats.rowsDeleted == 1L)
    assert(spark.read.parquet(root)
      .select($"k").as[Long].collect().toSeq == Seq(1L))
    // and the new swap leaves no VISIBLE siblings behind
    val visible = new java.io.File(root).list()
      .filterNot(_.startsWith(".")).filterNot(_.startsWith("_")).sorted
    assert(visible.toSeq == Seq("day=d1", "day=d2"), visible.mkString(","))
  }
}
