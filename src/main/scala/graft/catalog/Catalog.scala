package graft.catalog

import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Catalog/DDL surface (SURVEY.md §2.1 S5–S8; ≙ the reference's
  * BigQuery client, `gcp-python-libs/bigquery.py`): idempotent
  * databases, truncate-semantics table writes, time-partitioned
  * writes with the reference's field-XOR-ingest-time validation,
  * hive-partitioned external reads, views, and metadata tags as
  * table properties (≙ `gcp-python-libs/datacatalog.py`).
  */
object Catalog {

  /** Get-or-create database (≙ `bigquery.py:17-22`). */
  def ensureDatabase(spark: SparkSession, name: String): Unit =
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$name`")

  /** Full-replace table write (≙ WRITE_TRUNCATE + CREATE_IF_NEEDED,
    * `export_svg.py:199-200`). */
  def overwriteTable(df: DataFrame, table: String): Unit =
    df.write.mode("overwrite").saveAsTable(table)

  /** CTAS (≙ `CREATE OR REPLACE TABLE ... AS SELECT`,
    * `export_svg.py:275` et al.). The v1 session catalog has no
    * REPLACE TABLE AS SELECT, so replace semantics go through the
    * writer: run the query, overwrite the table. */
  def ctas(spark: SparkSession, table: String, sql: String): Unit =
    spark.sql(sql).write.mode("overwrite").saveAsTable(table)

  /** Time-partitioned write (≙ `bigquery.py:32-54`): partition by a
    * data field XOR by ingest time (DAY granularity), never both —
    * the reference enforces this exclusivity (`bigquery.py:35-36`).
    * Ingest-time partitioning materializes an `_ingest_day` column
    * from the current timestamp (load-time partition analogue). */
  def writePartitioned(df: DataFrame, table: String,
                       partitionField: Option[String] = None,
                       byIngestTime: Boolean = false): Unit = {
    require(partitionField.isDefined != byIngestTime,
      "exactly one of partitionField / byIngestTime is required")
    import org.apache.spark.sql.functions._
    partitionField match {
      case Some(f) =>
        df.write.mode("overwrite").partitionBy(f).saveAsTable(table)
      case None =>
        df.withColumn("_ingest_day", date_trunc("DAY", current_timestamp()).cast("date"))
          .write.mode("overwrite").partitionBy("_ingest_day").saveAsTable(table)
    }
  }

  /** Bucketed write: pre-shuffles data into `buckets` files per the
    * key so equi-joins/aggregations between co-bucketed tables need no
    * exchange at read time — the co-located-join layout for repeated
    * large-large joins (SURVEY.md §4 scale stance; no reference
    * analogue, BigQuery clusters implicitly). */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Hive-partitioned external read (≙ `bigquery.py:66-85`,
    * `HivePartitioningOptions(mode="AUTO")`): Spark discovers `k=v`
    * partition directories natively. */
  def readExternal(spark: SparkSession, format: String, path: String): DataFrame =
    spark.read.format(format).load(path)

  /** Create-if-absent view over a SQL text (≙ `bigquery.py:56-64`). */
  def ensureView(spark: SparkSession, name: String, sql: String): Unit =
    spark.sql(s"CREATE VIEW IF NOT EXISTS `${name.replace(".", "`.`")}` AS $sql")

  /** Governance tag on a table (≙ datacatalog template tag,
    * `datacatalog.py:28-61`) → table property. */
  def tagTable(spark: SparkSession, table: String, key: String, value: String): Unit =
    spark.sql(s"ALTER TABLE `${table.replace(".", "`.`")}` " +
      s"SET TBLPROPERTIES ('$key' = '$value')")

  def getTag(spark: SparkSession, table: String, key: String): Option[String] = {
    import spark.implicits._
    spark.sql(s"SHOW TBLPROPERTIES `${table.replace(".", "`.`")}`")
      .where($"key" === key).select("value").as[String].collect().headOption
  }

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  /** Dot-prefixed sibling path for a swap's tmp/aside dir. The dot
    * matters twice: Spark/Hive readers IGNORE dot-prefixed paths, and
    * a swapped LEAF of a partitioned table ("day=d1") must never leave
    * a crash artifact whose name still parses as a partition
    * ("day=d1_premerge_123" would surface all the old rows under a
    * phantom partition value and get rewritten in place by a replay's
    * leaf walk — the hidden name keeps crash artifacts invisible to
    * readers AND to [[leafDirs]] until vacuumed). */
  private def hiddenSibling(dir: Path, tag: String): Path =
    new Path(dir.getParent, s".${dir.getName}_${tag}_${System.nanoTime()}")

  /** The one crash-safe replace of a parquet directory: `write` fills
    * the hidden tmp sibling `.<name>_<op>_…`, `live` moves aside to
    * `.<name>_pre<op>_…`, the tmp dir is renamed in, and only then is
    * the aside deleted — readers see the old directory or the new one,
    * never a mix, and the only copy is never deleted. Hadoop rename
    * signals failure by RETURNING FALSE, so both renames are checked:
    * a failed move-aside deletes the tmp dir; a failed swap-in renames
    * the original back first. A `live` that does not exist yet is
    * simply renamed into place. */
  private[graft] def swapIn(fs: FileSystem, live: Path, op: String)
                           (write: Path => Unit): Unit = {
    val tmp = hiddenSibling(live, op)
    try write(tmp) catch {
      case e: Throwable if NonFatal(e) => fs.delete(tmp, true); throw e
    }
    val existed = fs.exists(live)
    val aside = hiddenSibling(live, "pre" + op)
    if (existed && !fs.rename(live, aside)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"$op: could not move $live aside")
    }
    if (!fs.rename(tmp, live)) {
      if (existed) fs.rename(aside, live) // roll back to the original
      fs.delete(tmp, true)
      throw new java.io.IOException(s"$op: could not swap rewrite into $live")
    }
    if (existed) fs.delete(aside, true)
  }

  /** Leaf partition dirs of a hive layout: descends `k=v` subdirs and
    * skips hidden (dot/underscore) dirs — swap crash artifacts or
    * metadata, never partitions. A dir with no `k=v` subdirs is its
    * own (only) leaf. */
  private def leafDirs(fs: FileSystem, p: Path): Seq[Path] = {
    val sub = fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isDirectory && n.contains("=") && !n.startsWith(".") && !n.startsWith("_")
    }
    if (sub.isEmpty) Seq(p) else sub.toSeq.flatMap(d => leafDirs(fs, d.getPath))
  }

  /** Per-leaf maintenance runs at most this many leaf jobs at once;
    * each leaf job is itself distributed. */
  private val LeafPoolWidth = 8

  /** Runs `work` once per leaf on a bounded pool and waits for EVERY
    * leaf to settle before rethrowing the first failure (in leaf
    * order): a fail-fast wait would return while sibling rewrites are
    * still mutating partitions behind the caller's back (and racing
    * any cleanup the caller does on the root). */
  private def onEachLeaf[A, B](leaves: Seq[A])(work: A => B): Seq[B] =
    if (leaves.isEmpty) Nil
    else {
      val pool = Executors.newFixedThreadPool(math.min(LeafPoolWidth, leaves.size))
      try pool.invokeAll(leaves.map(l => (() => work(l)): Callable[B]).asJava)
        .asScala.toSeq.map { f =>
          try f.get() catch { case e: ExecutionException => throw e.getCause }
        }
      finally { pool.shutdown(); () }
    }

  /** Row counts around a [[merge]] run. */
  case class MergeStats(rowsBefore: Long, rowsAfter: Long)

  /** Keyed upsert (MERGE) into a parquet directory: an update row
    * whose key matches a target row REPLACES it (the whole row — an
    * intentional NULL in an update column lands, unlike a
    * coalesce-based merge); keys absent from the target are inserted.
    * The BigQuery-warehouse maintenance shape the reference's
    * truncate/CTAS family lacks: refresh a keyed table from a delta
    * without rewriting it from source.
    *
    * Implemented as ONE full-outer shuffle join on the key (AQE
    * broadcasts a small delta side on its own), written to a temp dir
    * and replaced by [[swapIn]] — readers see the old table or the
    * new one, never a mix. Preconditions: `updates` has the target's
    * exact column set, and at most one row per key (multi-row matches
    * are ambiguous — BigQuery MERGE errors on them; dedup upstream).
    *
    * Scale shape: cost is one join shuffle plus a full rewrite of the
    * table — correct for parquet, which has no row-level update. At
    * 100 TB you'd partition the table (e.g. by day) and merge only
    * the partitions the delta touches ([[mergePartitioned]]); this is
    * the per-partition primitive. [[MergeStats]] comes from `observe`
    * nodes INSIDE the rewrite job (CollectMetrics on the scan and on
    * the written frame), not from separate `count()` passes — at
    * warehouse scale two extra table scans for two longs is real
    * money. */
  def merge(spark: SparkSession, dir: String, updates: DataFrame,
            keyCols: Seq[String],
            checkDuplicateKeys: Boolean = true,
            schemaOpt: Option[StructType] = None): MergeStats = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val target = readDir(spark, dir, schemaOpt)
    require(updates.columns.sorted.sameElements(target.columns.sorted),
      s"merge: updates columns ${updates.columns.mkString(",")} must match " +
        s"target columns ${target.columns.mkString(",")}")
    if (checkDuplicateKeys) {
      // multi-row matches are ambiguous — BigQuery MERGE raises on
      // them; enforce instead of documenting. One pass over the DELTA
      // (small by contract), never over the target.
      val dups = updates.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
      require(dups == 0L,
        s"merge: updates contain more than one row for a (${keyCols.mkString(",")}) " +
          "key — multi-row matches are ambiguous; dedup the delta upstream")
    }
    val before = org.apache.spark.sql.Observation()
    val after = org.apache.spark.sql.Observation()
    // marker column: "this key had an update row" — update-row-wins
    // on every non-key column, no coalesce-per-column NULL hazard
    val marked = updates.withColumn("__upd", lit(true))
    val joined = target.observe(before, count(lit(1)).as("n"))
      .as("t").join(marked.as("u"), keyCols, "full_outer")
    val merged = joined.select(
      target.columns.map { c =>
        if (keyCols.contains(c)) col(c)
        else when(col("u.__upd").isNotNull, col(s"u.`$c`"))
          .otherwise(col(s"t.`$c`")).as(c)
      }: _*)
    swapIn(fsOf(spark, dir), new Path(dir), "merge") { tmp =>
      merged.observe(after, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(tmp.toString)
    }
    MergeStats(before.get("n").asInstanceOf[Long], after.get("n").asInstanceOf[Long])
  }

  /** Partition-scoped MERGE into a HIVE-PARTITIONED parquet layout
    * (the reference's DAY-partitioned tables, `bigquery.py:32-54`):
    * rewrite ONLY the leaf partitions the delta touches, leave every
    * other leaf byte-identical, create leaves for partition values the
    * target has never seen. This is the maintenance shape a daily
    * keyed refresh needs at any real size — the full-table [[merge]]
    * rewrites 100 TB to apply a 100 MB delta; this rewrites one day.
    *
    * `updates` must carry `partitionCols` as ordinary columns. The
    * merge identity is `partitionCols ++ keyCols`: a delta row matches
    * a target row only within its own partition, so a key NEVER
    * migrates partitions (the standard partition-pruned MERGE
    * semantic — the same contract as a BigQuery MERGE with a partition
    * filter). A delta row whose key exists under a different partition
    * value inserts a new row there and leaves the old partition's row
    * in place.
    *
    * Scale shape: one bounded `collect` of the touched partition-value
    * tuples (one row per touched leaf — the control-plane set), then
    * one [[merge]] job per leaf on the bounded leaf runner
    * ([[onEachLeaf]]). Each leaf swap is atomic, so a crash leaves
    * every leaf either fully merged or fully original and the run is
    * repeatable (the merge is idempotent: replaying the same delta
    * reproduces the same rows). */
  def mergePartitioned(spark: SparkSession, root: String, updates: DataFrame,
                       keyCols: Seq[String], partitionCols: Seq[String],
                       schemaOpt: Option[StructType] = None): MergeStats = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "mergePartitioned needs at least one key column")
    require(partitionCols.nonEmpty,
      "mergePartitioned needs partition columns; use merge for a flat table")
    partitionCols.foreach(pc => require(updates.columns.contains(pc),
      s"mergePartitioned: updates must carry partition column $pc"))
    val idCols = (partitionCols ++ keyCols).map(col)
    val dups = updates.groupBy(idCols: _*)
      .agg(count(lit(1)).as("__n")).where(col("__n") > 1).limit(1).count()
    require(dups == 0L,
      s"mergePartitioned: updates contain more than one row for a " +
        s"(${(partitionCols ++ keyCols).mkString(",")}) identity — dedup upstream")
    // one row per TOUCHED LEAF — bounded by the partition count, the
    // same control-plane cardinality compactPartitioned walks
    val touched = updates
      .select(partitionCols.map(c => col(c).cast("string").as(c)): _*)
      .distinct().collect()
    touched.foreach { r =>
      require(!r.anyNull, "mergePartitioned: null partition values are not supported")
    }
    val fs = fsOf(spark, root)
    def leafPath(r: org.apache.spark.sql.Row): String =
      root + "/" + partitionCols.zipWithIndex.map { case (c, i) =>
        s"$c=${ExternalCatalogUtils.escapePathName(r.getString(i))}"
      }.mkString("/")
    def leafDelta(r: org.apache.spark.sql.Row): DataFrame =
      updates.where(partitionCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("string") === lit(r.getString(i))
      }.reduce(_ && _)).drop(partitionCols: _*)
    val stats = onEachLeaf(touched.toSeq) { r =>
      val dir = leafPath(r)
      val delta = leafDelta(r)
      if (fs.exists(new Path(dir)))
        // identity already checked once over the whole delta
        merge(spark, dir, delta, keyCols, checkDuplicateKeys = false,
          schemaOpt = schemaOpt)
      else {
        // brand-new partition: the delta IS the leaf. Renamed in by
        // swapIn too: a failed direct write would leave an empty
        // visible leaf that every replay then fails to read
        val n = org.apache.spark.sql.Observation()
        swapIn(fs, new Path(dir), "merge") { tmp =>
          delta.observe(n, count(lit(1)).as("n")).write.parquet(tmp.toString)
        }
        MergeStats(0L, n.get("n").asInstanceOf[Long])
      }
    }
    MergeStats(stats.map(_.rowsBefore).sum, stats.map(_.rowsAfter).sum)
  }

  case class DeleteStats(rowsBefore: Long, rowsDeleted: Long,
                         leavesRewritten: Long)

  /** Keyed row DELETE from a parquet directory — the right-to-be-
    * forgotten / takedown maintenance shape: every target row whose
    * key appears in `keys` is removed, everything else is rewritten
    * byte-equal. One LEFT ANTI join on the key (the erasure list is
    * small by nature — AQE broadcasts it), written to a temp dir and
    * replaced by [[swapIn]]: readers see the old table or the new
    * one, never a mix. Row counts come from `observe` nodes inside the
    * one rewrite job, not extra scans. */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame,
                 keyCols: Seq[String],
                 schemaOpt: Option[StructType] = None): DeleteStats = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "deleteKeys needs at least one key column")
    val target = readDir(spark, dir, schemaOpt)
    keyCols.foreach(c => require(target.columns.contains(c),
      s"deleteKeys: target has no key column $c"))
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"deleteKeys: keys frame has no key column $c"))
    val before = org.apache.spark.sql.Observation()
    val after = org.apache.spark.sql.Observation()
    val kept = target.observe(before, count(lit(1)).as("n"))
      .join(keys.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
    swapIn(fsOf(spark, dir), new Path(dir), "delete") { tmp =>
      kept.observe(after, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(tmp.toString)
    }
    val b = before.get("n").asInstanceOf[Long]
    DeleteStats(b, b - after.get("n").asInstanceOf[Long], 1L)
  }

  /** [[deleteKeys]] over a HIVE-PARTITIONED layout when the erasure
    * list does NOT say which partitions hold the keys (the GDPR
    * reality: "delete user X" — X's rows may sit under any day).
    * Every leaf is PROBED with a cheap semi-join existence check and
    * only leaves that actually contain a key are rewritten; the rest
    * stay byte-identical (their files are never touched, so object
    * copies/etags survive). Each leaf swap is atomic and the
    * operation is idempotent — a crash mid-run leaves every leaf
    * either fully erased or fully original, and replaying the same
    * erasure list converges.
    *
    * Scale shape: the probe is one existence query per leaf with the
    * erasure keys broadcast (`LIMIT 1` short-circuits); leaves run on
    * the bounded leaf runner ([[onEachLeaf]]). The control-plane
    * state is one path per leaf. */
  def deleteKeysPartitioned(spark: SparkSession, root: String,
                            keys: DataFrame, keyCols: Seq[String],
                            schemaOpt: Option[StructType] = None): DeleteStats = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "deleteKeysPartitioned needs key columns")
    val fs = fsOf(spark, root)
    val rootP = new Path(root)
    val leafPaths = leafDirs(fs, rootP)
    // a FLAT directory (no k=v subdirs) degenerates to the flat
    // erasure — a right-to-be-forgotten request must never silently
    // no-op because the table happened to be unpartitioned
    if (leafPaths == Seq(rootP))
      return deleteKeys(spark, root, keys, keyCols, schemaOpt)
    // pin the (small) erasure list once; every probe job reuses it
    val keySet = keys.select(keyCols.map(col): _*).distinct().localCheckpoint()
    val rootUri = fs.makeQualified(rootP).toUri.getPath
    // hive k=v values parsed from a leaf's path relative to root —
    // partition columns are absent from the leaf FILES, so an erasure
    // key that is a partition column (tenant=..., a plausible GDPR
    // key) must be matched against the PATH, not the probed frame
    def leafPartValues(leaf: Path): Map[String, String] = {
      val rel = fs.makeQualified(leaf).toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      rel.split('/').toSeq.filter(_.contains('=')).map { seg =>
        val i = seg.indexOf('=')
        // the inverse of the escapePathName this file writes with —
        // NOT URLDecoder, which corrupts literal '+' into a space
        (ExternalCatalogUtils.unescapePathName(seg.take(i)),
         ExternalCatalogUtils.unescapePathName(seg.drop(i + 1)))
      }.toMap
    }
    val stats = onEachLeaf(leafPaths) { leaf =>
      val pv = leafPartValues(leaf)
      val partKeyCols = keyCols.filter(pv.contains)
      val dataKeyCols = keyCols.filterNot(pv.contains)
      // restrict the erasure list to rows whose partition-column
      // values match THIS leaf's path; a mismatched leaf is a
      // guaranteed non-hit with zero data scanned
      // match on BOTH representations: the key column rendered as
      // a string (exact path text) OR the path value coerced into
      // the key column's type (try_cast — never throws under ANSI).
      // A caller whose erasure frame carries tenant as DOUBLE
      // against a path 'tenant=1' must still match ('1.0' ≠ '1'
      // as text, but 1.0 <=> cast('1')), or the leaf is silently
      // skipped — a silent GDPR non-erasure. The typed branch only
      // applies when the path value actually CASTS: a failed
      // try_cast yields NULL, and NULL <=> NULL is TRUE, so
      // without the isNotNull guard a NULL erasure key would match
      // every leaf whose path value fails the cast — deleting
      // unrelated partitions. NULL keys match only the
      // __HIVE_DEFAULT_PARTITION__ branch above.
      val leafKeys = partKeyCols.foldLeft(keySet) { (df, c) =>
        val v = pv(c)
        if (v == "__HIVE_DEFAULT_PARTITION__") df.filter(col(c).isNull)
        else {
          val typed = lit(v).try_cast(keySet.schema(c).dataType)
          df.filter(col(c).cast("string") === lit(v) ||
            (typed.isNotNull && (col(c) <=> typed)))
        }
      }
      val anyKey = partKeyCols.isEmpty || leafKeys.limit(1).count() > 0
      if (!anyKey) DeleteStats(0L, 0L, 0L)
      else if (dataKeyCols.isEmpty) {
        // every key column is a partition column: the whole leaf
        // matches — drop the directory instead of rewriting it,
        // then prune now-empty ancestors (an empty partition dir
        // would crash the NEXT run's leaf walk as a bogus
        // parquet-less leaf)
        val n = readDir(spark, leaf.toString, schemaOpt).count()
        fs.delete(leaf, true)
        var parent = leaf.getParent
        try {
          while (parent != null &&
              fs.makeQualified(parent) != fs.makeQualified(rootP) &&
              fs.exists(parent) && fs.listStatus(parent).isEmpty) {
            // a concurrent sibling leaf may race this non-recursive
            // delete; a false return just stops the upward prune
            parent = if (fs.delete(parent, false)) parent.getParent else null
          }
        } catch {
          // exists→listStatus is not atomic either: a sibling leaf
          // can delete the shared ancestor between the two calls —
          // that just means it finished the prune first
          case _: java.io.FileNotFoundException => ()
        }
        DeleteStats(n, n, 1L)
      } else {
        val hit = readDir(spark, leaf.toString, schemaOpt)
          .join(broadcast(leafKeys.select(dataKeyCols.map(col): _*).distinct()),
            dataKeyCols, "left_semi")
          .limit(1).count() > 0
        if (hit) deleteKeys(spark, leaf.toString, leafKeys, dataKeyCols,
          schemaOpt)
        else DeleteStats(0L, 0L, 0L)
      }
    }
    DeleteStats(stats.map(_.rowsBefore).sum, stats.map(_.rowsDeleted).sum,
      stats.map(_.leavesRewritten).sum)
  }

  /** Before/after file counts and byte size of a [[compact]] run. */
  case class CompactStats(filesBefore: Long, filesAfter: Long, bytes: Long)

  /** Directory read with an optionally KNOWN data schema. Per-leaf
    * maintenance (compact/merge/delete over a partitioned layout) pays
    * one footer-INFERENCE Spark job per `spark.read.parquet(leaf)` —
    * measured 25-76 ms × #leaves at fixture scale, and a real
    * driver-side listing+footer round-trip at any scale. A caller that
    * KNOWS the table's uniform data schema (it just wrote it, or the
    * catalog pins it) passes it and the inference job disappears.
    * Deliberately OPT-IN, never auto-inferred from one leaf: under
    * per-partition schema evolution (later partitions carry added
    * columns — the x95 reality) a uniform schema taken from an old
    * leaf would silently DROP the newer columns in a rewrite. */
  private def readDir(spark: SparkSession, dir: String,
                      schemaOpt: Option[StructType]): DataFrame =
    schemaOpt.fold(spark.read)(spark.read.schema).parquet(dir)

  /** Small-file compaction of a parquet directory: rewrite to
    * ceil(bytes / targetFileBytes) files and replace the directory by
    * [[swapIn]]. Streaming sinks and per-batch appends accumulate
    * files far below scan-task size; at warehouse scale that degrades
    * both listing and task packing, and compaction is routine
    * maintenance. The rewrite is a distributed repartition — nothing
    * flows through the driver. */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Nil,
              schemaOpt: Option[StructType] = None): CompactStats = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val fs = fsOf(spark, dir)
    val dirP = new Path(dir)
    val listing = fs.listStatus(dirP)
    // flat dirs only: a hive-partitioned layout would list 0 bytes
    // here and the plain read would flatten the partition columns —
    // fail loudly instead of silently rewriting 1 TB into one file
    require(!listing.exists(_.isDirectory),
      s"compact supports flat parquet dirs; $dir has partition " +
        "subdirectories — compact each partition dir instead")
    val parts = listing.filter { s =>
      s.isFile && !s.getPath.getName.startsWith("_")
    }
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
    val src = readDir(spark, dir, schemaOpt)
    // clusterBy: range-partition + sort within files so each output
    // file owns a disjoint key range — parquet min/max stats then
    // prune point/range scans to one file (the BigQuery-clustering
    // analogue for a filesystem layout)
    //
    // No clustering: COALESCE, not repartition (round 16, §2.4) — the
    // unclustered rewrite only needs to pack many small files into
    // nOut bigger ones, and coalesce does that as a NARROW dependency
    // (each write task reads its share of input splits directly),
    // where repartition paid a full round-robin exchange of every
    // byte PLUS the local sort-before-repartition Spark inserts for
    // retry determinism. File sizes follow the scan's split packing
    // (maxPartitionBytes-balanced) instead of exact row counts —
    // the right trade for maintenance compaction. repartition stays
    // for the rare grow case (scan coarser than the target count).
    val laid =
      if (clusterBy.isEmpty) {
        if (src.rdd.getNumPartitions >= nOut) src.coalesce(nOut.toInt)
        else src.repartition(nOut.toInt)
      } else {
        import org.apache.spark.sql.functions.col
        val keys = clusterBy.map(col)
        src.repartitionByRange(nOut.toInt, keys: _*)
          .sortWithinPartitions(keys: _*)
      }
    swapIn(fs, dirP, "compact") { tmp =>
      laid.write.mode("overwrite").parquet(tmp.toString)
    }
    // observed, not requested: empty range partitions write no file
    val filesAfter = fs.listStatus(dirP).count { s =>
      s.isFile && !s.getPath.getName.startsWith("_")
    }
    CompactStats(parts.length.toLong, filesAfter.toLong, bytes)
  }

  /** Small-file compaction of a HIVE-PARTITIONED parquet layout (the
    * reference's DAY-partitioned tables, `bigquery.py:32-54`, are
    * exactly the layout that fragments under per-batch appends): walk
    * the `k=v` directory tree to its leaf partitions and run the same
    * crash-safe rewrite+swap ([[compact]]) on each, so partition
    * values — which live in the directory names, not the files — are
    * untouched and reads through the root keep discovering them.
    *
    * Scale shape: the driver submits per-partition rewrite jobs on
    * the bounded leaf runner ([[onEachLeaf]]); each rewrite is itself
    * distributed. A crash mid-run leaves every partition either fully
    * compacted or fully original (the per-partition swap is atomic),
    * so the operation is resumable by re-running — routine maintenance
    * semantics. A flat directory (no `k=v` subdirs) degenerates to a
    * single [[compact]]. */
  def compactPartitioned(spark: SparkSession, root: String,
                         targetFileBytes: Long = 128L << 20,
                         clusterBy: Seq[String] = Nil,
                         schemaOpt: Option[StructType] = None): CompactStats = {
    val rootP = new Path(root)
    val parts = leafDirs(fsOf(spark, root), rootP)
    if (parts == Seq(rootP))
      compact(spark, root, targetFileBytes, clusterBy, schemaOpt)
    else {
      val stats = onEachLeaf(parts)(p =>
        compact(spark, p.toString, targetFileBytes, clusterBy, schemaOpt))
      CompactStats(stats.map(_.filesBefore).sum, stats.map(_.filesAfter).sum,
        stats.map(_.bytes).sum)
    }
  }
}
