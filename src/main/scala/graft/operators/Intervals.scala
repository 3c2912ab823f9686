package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gaps-and-islands: merge overlapping-or-touching intervals per key
  * (validity windows, coverage spans, outage episodes).
  *
  * Semantics: intervals [s, e] with s ≤ e; two intervals belong to
  * the same island iff the later one starts at or before the running
  * maximum end of the earlier ones (touching merges; the running max
  * — not lag(e) — is what makes contained intervals correct:
  * [1,10],[2,3],[4,5] is ONE island even though [4,5] starts after
  * lag-end 3). NULL starts/ends are dropped (an interval with an
  * unknown endpoint has no merge semantics), and so are INVERTED
  * intervals (e < s) — enforcing the documented precondition instead
  * of letting a malformed row silently corrupt islands.
  *
  * Scale shape — RANGE partitioning, not a per-key window: the first
  * shipped form windowed over PARTITION BY key, which concentrates a
  * hot key on one task (the canonical skew hazard; flagged by the
  * round-12 review). Here the data is range-partitioned on the FULL
  * sort order (key, s, e, ties) — a hot key spreads over as many
  * partitions as its row share demands — and islands are built in ONE
  * streaming O(1)-state pass per partition. Cross-partition stitching
  * is exact and bounded:
  *
  *  1. one pass collects per-partition `(firstKey, lastKey,
  *     max e of lastKey)` — ≤ #partitions rows to the driver (the
  *     [[Ranks.globalRowNumber]] offset precedent);
  *  2. the driver chains those into an incoming `(key, prefix max e)`
  *     carry per partition — the running max a partition's first key
  *     inherits from ALL prior partitions, so island flags are
  *     globally correct even when one interval's end spans several
  *     partitions of later starts;
  *  3. the island pass emits local islands, marking the first island
  *     of a partition that CONTINUES the previous partition's chain;
  *  4. boundary islands (first-if-continuing, last-of-partition —
  *     ≤ 2/partition) come back to the driver, chains are folded, and
  *     the ≤ #partitions replacement rows are unioned over a
  *     broadcast anti join on the replaced ids.
  *
  * One exchange (the range shuffle), one in-partition sort, two scans
  * of the pinned (persisted) sorted frame, no Window, no
  * data-sized groupBy. Every driver collect is bounded by
  * #partitions, by construction.
  */
object Intervals {

  /** Natural ordering over Spark external column values — Date,
    * Timestamp, LocalDate, Instant, numbers and strings all implement
    * Comparable against their own type. */
  private val ext: Ordering[Any] = new Ordering[Any] {
    def compare(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }
  private def maxOf(a: Any, b: Any): Any = if (ext.compare(a, b) >= 0) a else b

  /** Key equality over external values. BinaryType keys surface as
    * `Array[Byte]`, whose `equals` is reference identity — value
    * compare those explicitly (equal binary keys must land in the same
    * island chain; `Objects.equals` would silently never merge them). */
  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
    case _ => java.util.Objects.equals(a, b)
  }

  /** Endpoint types whose external values are `Comparable` against
    * themselves (what [[ext]] relies on). Anything else — binary,
    * array, struct — must fail HERE, not as a mid-job
    * ClassCastException after the shuffle. */
  private def comparableEndpoint(dt: DataType): Boolean = dt match {
    case DateType | TimestampType | TimestampNTZType | StringType => true
    case _: NumericType => true
    case _ => false
  }

  /** Key types [[same]] compares by value. */
  private def supportedKey(dt: DataType): Boolean = dt match {
    case BinaryType | BooleanType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _: NumericType => true
    case _ => false
  }

  /** Endpoint codec: temporal endpoints ride the heavy passes as
    * plain integers (the external java.sql.Date/Timestamp conversion
    * does calendar math PER VALUE — measured ~2× on the sf1 scans) and
    * convert back only in the final islands-sized projection. The
    * mappings are exact and order-preserving. */
  private def codecFor(dt: DataType): (Column => Column, Column => Column) =
    dt match {
      case DateType => (unix_date _, date_from_unix_date _)
      case TimestampType => (unix_micros _, timestamp_micros _)
      case _ => (identity[Column] _, identity[Column] _)
    }

  /** One row per merged island: key, island_start, island_end,
    * n_merged (source intervals folded into it).
    *
    * `tieCols` is accepted for API stability but NOT sorted on:
    * islands are invariant under the order of equal (start, end) rows
    * (merging is confluent — islands are the connected components of
    * the interval union, reached from any merge order), so the total
    * order a window formulation needed is unnecessary here, and
    * narrower shuffle rows sort faster. */
  def mergeIslands(df: DataFrame, keyCol: String, startCol: String,
                   endCol: String, tieCols: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val k = col(keyCol); val s = col(startCol); val e = col(endCol)
    val keyType = df.schema(keyCol).dataType
    require(supportedKey(keyType),
      s"mergeIslands key '$keyCol' has type ${keyType.simpleString}; " +
        "supported: numeric, string, boolean, date, timestamp, binary")
    Seq(startCol, endCol).foreach { c =>
      val dt = df.schema(c).dataType
      require(comparableEndpoint(dt),
        s"mergeIslands endpoint '$c' has type ${dt.simpleString}; " +
          "supported: numeric, string, date, timestamp")
    }
    val (encS, decS) = codecFor(df.schema(startCol).dataType)
    val (encE, decE) = codecFor(df.schema(endCol).dataType)

    // pin the range partitioning ONCE (Ranks precedent): the stats
    // pass and the island pass are separate jobs, and a re-executed
    // range shuffle could sample different boundaries — pairing one
    // partitioning's carry with another's partitions. persist (not
    // localCheckpoint) so the FIRST pass both materializes the cache
    // and computes the stats in one job; a cache miss recomputes from
    // the already-written shuffle blocks, same boundaries.
    val encoded = df
      .where(s.isNotNull && e.isNotNull && s <= e)
      .select(k.as("__k"), encS(s).as("__s"), encE(e).as("__e"))
    val sType = encoded.schema("__s").dataType
    val eType = encoded.schema("__e").dataType

    // map-side PRE-MERGE (the partial-aggregate move): islands are the
    // connected components of the interval union, so merging any
    // locally-overlapping subset first is exact for ANY split of the
    // data — each input split sorts in-task and collapses its own
    // overlaps before anything shuffles. Overlap-heavy data (the whole
    // reason to run this operator) shrinks by the local overlap
    // factor; worst-case disjoint data passes through unchanged. The
    // in-task buffer holds one input split (the same rows the global
    // sort would buffer anyway — size splits via
    // spark.sql.files.maxPartitionBytes at scale).
    val preSchema = StructType(Seq(
      StructField("__k", keyType),
      StructField("__s", sType),
      StructField("__e", eType),
      StructField("__cnt", LongType, nullable = false)))
    // the in-task sort runs NATIVE (Tungsten sortWithinPartitions on
    // the scan partitions — no exchange); only the linear O(1)-state
    // merge leaves codegen
    val ordLocal = Seq(col("__k"), col("__s"), col("__e")).map(_.asc)
    val pre = encoded.sortWithinPartitions(ordLocal: _*)
      .mapPartitions { it =>
        new scala.collection.AbstractIterator[Row] {
          private var out: Row = _
          private var has = false
          private var curKey: Any = _
          private var ist: Any = _
          private var ien: Any = _
          private var cnt = 0L
          private var flushed = false
          private def advance(): Unit = {
            while (out == null && it.hasNext) {
              val r = it.next()
              val rk = r.get(0); val rs = r.get(1); val re = r.get(2)
              if (has && same(rk, curKey) && ext.compare(rs, ien) <= 0) {
                cnt += 1; ien = maxOf(ien, re)
              } else {
                if (has) out = Row(curKey, ist, ien, cnt)
                has = true; curKey = rk; ist = rs; ien = re; cnt = 1L
              }
            }
            if (out == null && !it.hasNext && has && !flushed) {
              out = Row(curKey, ist, ien, cnt); flushed = true
            }
          }
          def hasNext: Boolean = { if (out == null) advance(); out != null }
          def next(): Row = {
            if (!hasNext) throw new NoSuchElementException
            val r = out; out = null; r
          }
        }
      }(Encoders.row(preSchema))

    val ord: Seq[Column] = Seq(col("__k"), col("__s"), col("__e")).map(_.asc)
    // pin the PRE-MERGED frame through the range shuffle:
    // repartitionByRange SAMPLES its input for boundaries before the
    // shuffle map stage runs, and an unpinned `pre` would execute the
    // in-task sort + merge TWICE (once to be sampled, once to
    // shuffle). The sampling job fills this cache; the shuffle map
    // stage reads it; it is released right after the stats job below,
    // when the range shuffle's blocks (and the `sorted` cache) carry
    // every later recompute.
    val prePinned = pre
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sorted = prePinned
      .repartitionByRange(ord: _*)
      .sortWithinPartitions(ord: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // pass 1: (pid, firstKey, lastKey, max e among lastKey's rows) —
    // O(1) state per partition, ≤ #partitions rows collected
    val statsSchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("first_key", keyType),
      StructField("last_key", keyType),
      StructField("max_e", eType)))
    val stats = sorted.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val pid = TaskContext.getPartitionId()
        val f = it.next()
        val firstKey = f.get(0)
        var curKey = f.get(0)
        var maxE = f.get(2)
        while (it.hasNext) {
          val r = it.next()
          val rk = r.get(0)
          if (same(rk, curKey)) maxE = maxOf(maxE, r.get(2))
          else { curKey = rk; maxE = r.get(2) }
        }
        Iterator(Row(pid, firstKey, curKey, maxE))
      }
    }(Encoders.row(statsSchema)).collect().sortBy(_.getInt(0))
    // the stats job materialized `sorted`; recomputes now ride the
    // written shuffle blocks, so the pre-merge cache is dead weight
    prePinned.unpersist()

    // driver carry walk: incoming(p) = (key, prefix max e over all
    // prior partitions' rows of that key), defined only when the
    // previous non-empty partition ends on p's first key
    val incoming = Map.newBuilder[Int, (Any, Any)]
    var carry: Option[(Any, Any)] = None
    stats.foreach { r =>
      val pid = r.getInt(0); val fk = r.get(1); val lk = r.get(2)
      val me = r.get(3)
      carry match {
        case Some((ck, cme)) if same(ck, fk) =>
          incoming += pid -> (ck, cme)
          carry = Some((lk, if (same(fk, lk)) maxOf(cme, me) else me))
        case _ =>
          carry = Some((lk, me))
      }
    }
    val bcIn = spark.sparkContext.broadcast(incoming.result())

    // pass 2: one streaming island scan per partition. Running max
    // resets on key change AND on island break (rows after a break
    // all start — and therefore end — above the old max, so it can
    // never matter again); the incoming carry seeds the first key's
    // max so flags are globally exact.
    val islSchema = StructType(Seq(
      StructField("__k", keyType),
      StructField("island_start", sType),
      StructField("island_end", eType),
      StructField("n_merged", LongType, nullable = false),
      StructField("__pid", IntegerType, nullable = false),
      StructField("__idx", LongType, nullable = false),
      StructField("__cont", BooleanType, nullable = false),
      StructField("__last", BooleanType, nullable = false)))
    // boundary islands ride back on an accumulator DURING the
    // pinning job (one job instead of pin + collect); task
    // retries may duplicate entries, so the driver dedupes by
    // (pid, idx) — duplicates are bit-identical rows
    val bdryAcc = spark.sparkContext.collectionAccumulator[Row]("x109_bdry")
    val islands = sorted.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val in = bcIn.value.get(pid)
      new scala.collection.AbstractIterator[Row] {
        private var out: Row = _
        private var has = false
        private var curKey: Any = _
        private var ist: Any = _
        private var ien: Any = _
        private var runMax: Any = _
        private var cnt = 0L
        private var cont = false
        private var idx = 0L
        private var flushed = false
        private def close(last: Boolean): Row = {
          val r = Row(curKey, ist, ien, cnt, pid, idx, idx == 0L && cont, last)
          if ((idx == 0L && cont) || last) bdryAcc.add(r)
          idx += 1
          r
        }
        private def advance(): Unit = {
          while (out == null && it.hasNext) {
            val row = it.next()
            val rk = row.get(0); val rs = row.get(1); val re = row.get(2)
            val rc = row.getLong(3)
            if (!has) {
              has = true; curKey = rk; ist = rs; ien = re; cnt = rc
              val inHere = in.filter { case (ik, _) => same(ik, rk) }
              cont = inHere.exists { case (_, ime) => ext.compare(rs, ime) <= 0 }
              runMax = inHere.fold(re) { case (_, ime) => maxOf(ime, re) }
            } else if (same(rk, curKey) && ext.compare(rs, runMax) <= 0) {
              cnt += rc
              ien = maxOf(ien, re)
              runMax = maxOf(runMax, re)
            } else {
              out = close(last = false)
              curKey = rk; ist = rs; ien = re; cnt = rc; runMax = re
            }
          }
          if (out == null && !it.hasNext && has && !flushed) {
            out = close(last = true)
            flushed = true
          }
        }
        def hasNext: Boolean = { if (out == null) advance(); out != null }
        def next(): Row = {
          if (!hasNext) throw new NoSuchElementException
          val r = out; out = null; r
        }
      }
    // islands are consumed twice (boundary collect + final output);
    // pin the SMALL merged frame once and release the data-sized
    // sorted cache. persist + count, not localCheckpoint: the pin is a
    // CacheManager entry, so `clearCache()` releases it like every
    // other operator pin (an RDD checkpoint outlives it until the RDD
    // is garbage collected); a cache miss recomputes from the written
    // range-shuffle blocks, which give the same islands
    }(Encoders.row(islSchema))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    islands.count()
    sorted.unpersist()

    // fix-up: boundary islands only (≤ 2/partition), folded into
    // replacement chains on the driver
    import scala.jdk.CollectionConverters._
    val bdry = bdryAcc.value.asScala
      .map(r => (r.getInt(4), r.getLong(5)) -> r).toMap.values.toArray
      .sortBy(r => (r.getInt(4), r.getLong(5)))
    val replacements = Seq.newBuilder[Row]
    val replacedIds = Set.newBuilder[(Int, Long)]
    // open chain: (key, start, end, count, member ids)
    var open: Option[(Any, Any, Any, Long, List[(Int, Long)])] = None
    def finalizeOpen(): Unit = {
      open.foreach { case (ck, cs, ce, cc, mem) =>
        if (mem.size >= 2) {
          replacements += Row(ck, cs, ce, cc)
          replacedIds ++= mem
        }
      }
      open = None
    }
    bdry.groupBy(_.getInt(4)).toSeq.sortBy(_._1).foreach { case (pid, rows) =>
      val first = rows.head
      if (first.getBoolean(6)) {
        open match {
          case Some((ck, cs, ce, cc, mem)) =>
            require(same(ck, first.get(0)),
              "interval fix-up invariant: chain key mismatch")
            open = Some((ck, cs, maxOf(ce, first.get(2)),
              cc + first.getLong(3), (pid, first.getLong(5)) :: mem))
          case None => throw new IllegalStateException(
            "interval fix-up invariant: continuing island without a chain")
        }
      } else finalizeOpen()
      val last = rows.last
      if (!(last eq first) || !first.getBoolean(6)) {
        if (first.getBoolean(6)) finalizeOpen()
        open = Some((last.get(0), last.get(1), last.get(2),
          last.getLong(3), List((pid, last.getLong(5)))))
      }
    }
    finalizeOpen()

    val outSchema = StructType(Seq(
      StructField(keyCol, keyType),
      StructField("island_start", sType),
      StructField("island_end", eType),
      StructField("n_merged", LongType, nullable = false)))
    val replDf = spark.createDataFrame(
      java.util.Arrays.asList(replacements.result(): _*), outSchema)
    val replacedDf = broadcast(
      replacedIds.result().toSeq.toDF("__pid", "__idx"))
    islands.join(replacedDf, Seq("__pid", "__idx"), "left_anti")
      .select(col("__k").as(keyCol), col("island_start"),
        col("island_end"), col("n_merged"))
      .unionByName(replDf)
      // decode the temporal ordinals only here, on the islands-sized
      // result
      .select(col(keyCol), decS(col("island_start")).as("island_start"),
        decE(col("island_end")).as("island_end"), col("n_merged"))
  }

  /** Per-key coverage summary over the merged islands (DATE
    * endpoints): island count, total covered days (inclusive — a
    * one-day interval covers 1), first/last covered day. */
  def coverageByKey(df: DataFrame, keyCol: String, startCol: String,
                    endCol: String, tieCols: Seq[String]): DataFrame =
    mergeIslands(df, keyCol, startCol, endCol, tieCols)
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_islands"),
        sum(datediff(col("island_end"), col("island_start")) + 1)
          .as("covered_days"),
        min(col("island_start")).as("first_day"),
        max(col("island_end")).as("last_day"))
}
