package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale-safe global ranking. `row_number() OVER (ORDER BY …)` with
  * no PARTITION BY collapses the whole table into ONE task in Spark —
  * the canonical 100 TB scale killer (fine at sf0.1, dead at sf1000).
  * The distributed form is the two-level trick the sharded cumsum
  * operators already use:
  *
  *  1. `repartitionByRange` + in-partition sort on the rank order —
  *     partition p holds a contiguous, ordered slice;
  *  2. per-partition local indexes from
  *     `monotonically_increasing_id()` (documented layout: partition
  *     id in the upper bits, a per-partition sequential counter in the
  *     lower 33 — assigned downstream of the sort in the same stage,
  *     so it follows the sorted order);
  *  3. per-partition row counts → one bounded driver pass (≤
  *     #partitions rows, the Ivf-centroid precedent) → cumulative
  *     offsets broadcast back; global rank = offset + local index + 1.
  *
  * The order columns must form a TOTAL order (add a unique tiebreak);
  * ranks are then exact and independent of where the range sampler
  * happens to place partition boundaries.
  */
object Ranks {

  /** CONTRACT (load-bearing since the persist move): either `order`
    * is a total order, or the caller is tie-insensitive. persist pins
    * the partitioning but — unlike the old localCheckpoint — not the
    * bytes: on cache eviction a recompute replays the same shuffle
    * blocks with the same boundaries, yet `monotonically_increasing_id`
    * may renumber rows that compare EQUAL under `order` (the sort is
    * not stable across replays). With a total order the replay is
    * bit-identical; without one, two downstream actions could see tied
    * rows swap ranks. Every in-repo caller passes a unique tiebreak or
    * consumes ranks tie-insensitively (Outliers' deviation persist has
    * the same contract).
    *
    * Lifecycle: the cached frame backs the RETURNED plan, so it cannot
    * be unpersisted here; long-lived sessions release
    * accumulated caches via `spark.sqlContext.clearCache()` between
    * measurements. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
                      outCol: String = "rn"): DataFrame = {
    require(order.nonEmpty, "globalRowNumber needs at least one order column")
    val sorted = df.repartitionByRange(order: _*).sortWithinPartitions(order: _*)
    // persist PINS the partitioning: the counts collect below and the
    // caller's consumption of the result are separate Spark jobs, and
    // RangePartitioner's boundary sampling is seeded per physical
    // RDD — re-executing the range shuffle in each job could place
    // boundaries differently, pairing offsets from one partitioning
    // with local indexes from another (wrong ranks once partitions
    // outgrow the boundary sample — exactly the at-scale regime).
    // persist, not localCheckpoint (the round-13 Intervals move): the
    // counts collect both populates the cache AND reads the stats in
    // ONE job, where the eager checkpoint spent a separate data-sized
    // materialization pass first; a cache miss recomputes from the
    // already-written shuffle blocks — same boundaries, same order,
    // same local ids.
    val mid = sorted.withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one bounded collect: a count per non-empty partition
    val counts = mid.groupBy(col("__pid"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // each pid's offset = count-sum of all prior (lower-range) pids
    val running = counts.scanLeft(0L)(_ + _._2)
    val offRows = counts.indices.map(i => (counts(i)._1, running(i)))
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offRows.toDF("__pid", "__off")
    mid.join(broadcast(offDf), Seq("__pid"))
      .withColumn(outCol,
        col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1)
      .drop("__mid", "__pid", "__off")
  }

  /** Exact global NTILE(k) — SQL semantics (the first n mod k buckets
    * get ⌈n/k⌉ rows, the rest ⌊n/k⌋) WITHOUT the single-task window:
    * `ntile(k) OVER (ORDER BY …)` has no PARTITION BY, so Spark
    * collapses the whole table into one task — the same scale killer
    * [[globalRowNumber]] exists for. Equi-depth binning /
    * quantile-bucket feature transforms at corpus scale.
    *
    * Plan shape: BUCKETED TWO-LEVEL RANKS (the Percentiles
    * .exactSharded recipe, promoted to the operator in round 15)
    * whenever the leading order column has a monotone numeric proxy
    * and every order column is plain ascending-nulls-first — the
    * data is never globally sorted or ranked: one map-only bucketing
    * by SAMPLE-quantile boundaries, one exact (bucket) histogram
    * (broadcast, ≤ nBuckets+2 rows), then ONE full-data exchange on
    * the bucket where each task sorts ≈ n/nBuckets rows of one
    * bucket (`nBuckets` is the scale knob — size it so a bucket fits
    * one task); in-group rank = broadcast bucket offset + local
    * row_number, and the bin is plain SQL-ntile arithmetic over
    * (rank, n). Exactness is boundary-independent: equal leading
    * values share a bucket and ranks are recovered from exact
    * counts. Equal order tuples get an arbitrary-but-consistent
    * local numbering, so bins are always exactly SQL-sized and tie
    * PLACEMENT is the only freedom — the window ntile's own
    * contract. Orders the proxy can't serve (descending, nulls-last,
    * non-numeric head) fall back to the [[globalRowNumber]]
    * formulation. All longs stay < 2^53 so double intermediates are
    * exact. */
  def ntileExact(df: DataFrame, k: Int, order: Seq[Column],
                 outCol: String = "bin", nBuckets: Int = 64): DataFrame = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    boundaryNtile(df, k, lit(0L), order, outCol, nBuckets)
      .getOrElse {
        val ranked = globalRowNumber(df, order, "__ntile_rn")
        // ranked is cache-backed, so this count is a cheap second
        // read, not a recompute of the range shuffle
        val nFrame = ranked.agg(count(lit(1)).as("__ntile_total"))
        val n = col("__ntile_total"); val rn = col("__ntile_rn")
        val q = ((n - pmod(n, lit(k))) / k).cast("long") // n div k
        val r = pmod(n, lit(k))
        val cut = r * (q + 1)
        ranked.crossJoin(broadcast(nFrame))
          .withColumn(outCol,
            when(rn <= cut, ceil(rn / (q + 1)))
              // never selected when q = 0 (then cut = n ≥ rn) — CASE
              // branches are lazy, so the division cannot hit zero
              .otherwise(r + ceil((rn - cut) / q)))
          .drop("__ntile_rn", "__ntile_total")
      }
  }

  /** Per-group exact NTILE(k) — `ntile(k) OVER (PARTITION BY g ORDER
    * BY …)` semantics without the per-group single-task sort (the
    * x104 trap: few huge groups = few huge tasks). Same bucketed
    * two-level plan shape as [[ntileExact]] (see its scaladoc),
    * grouped: sort tasks hold ≈ n_g/nBuckets rows of one (group,
    * bucket), and the histogram offset frame is groups × buckets
    * sized — it must broadcast, the x104 convention. NULL groups bin
    * like any other (struct-wrapped key). Falls back to the
    * [[globalRowNumber]] formulation for orders the bucket path
    * can't serve. */
  def ntileExactBy(df: DataFrame, k: Int, groupCol: String,
                   order: Seq[Column], outCol: String = "bin",
                   nBuckets: Int = 64): DataFrame = {
    require(k >= 1, s"ntile k must be >= 1, got $k")
    boundaryNtile(df, k, struct(col(groupCol)), order, outCol, nBuckets)
      .getOrElse {
        val g = struct(col(groupCol)).as("__ntile_g")
        val ranked = globalRowNumber(df.withColumn("__ntile_g", g),
          col("__ntile_g") +: order, "__ntile_grn")
        val stats = ranked.groupBy(col("__ntile_g"))
          .agg(min(col("__ntile_grn")).as("__ntile_off"),
            count(lit(1)).as("__ntile_n"))
        val n = col("__ntile_n")
        val rn = col("__ntile_grn") - col("__ntile_off") + 1
        val q = ((n - pmod(n, lit(k))) / k).cast("long")
        val r = pmod(n, lit(k))
        val cut = r * (q + 1)
        ranked.join(stats, Seq("__ntile_g"))
          .withColumn(outCol,
            when(rn <= cut, ceil(rn / (q + 1)))
              .otherwise(r + ceil((rn - cut) / q)))
          .drop("__ntile_g", "__ntile_grn", "__ntile_off", "__ntile_n")
      }
  }

  /** The bucketed two-level ntile core shared by [[ntileExact]] (one
    * constant group) and [[ntileExactBy]]. None = this order can't
    * ride the bucket path (descending / nulls-last direction, or a
    * leading column with no monotone numeric proxy) — callers fall
    * back to the rank formulation. */
  private def boundaryNtile(df: DataFrame, k: Int, gExpr: Column,
      order: Seq[Column], outCol: String,
      nBuckets: Int): Option[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graft.ColumnBridge
    import org.apache.spark.sql.types._
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    // plain ascending-nulls-first value columns, or bail
    val plainOpt: Seq[Option[Column]] =
      order.map(ColumnBridge.ascNullsFirstValue)
    if (plainOpt.exists(_.isEmpty)) return None
    val plain = plainOpt.map(_.get)
    // monotone non-decreasing DOUBLE proxy of the leading order
    // column: boundaries only SIZE buckets (equal heads must share a
    // bucket; a lossy-but-monotone cast is fine), so long → double
    // rounding cannot affect exactness
    val headType = df.select(plain.head).schema.head.dataType
    val proxyOf: Column => Column = headType match {
      case _: NumericType => _.cast("double")
      case DateType => unix_date(_).cast("double")
      case TimestampType => unix_micros(_).cast("double")
      case _ => return None
    }
    if (k == 1) return Some(df.withColumn(outCol, lit(1L)))

    val pv = proxyOf(plain.head)
    // sampled GLOBAL boundaries (nulls/NaN excluded — they get their
    // own buckets below, matching Spark's nulls-first / NaN-greatest
    // double ordering). Boundaries only SIZE buckets — exactness is
    // boundary-independent — so they come from a cheap 2% SAMPLE
    // (fixed seed: plan-stable across reruns), not a full-accuracy
    // scan; a sample too small to yield bounds degrades to fewer
    // (worst case one) buckets, never to wrong bins
    val bounds = df.where(plain.head.isNotNull && !isnan(pv))
      .select(pv.as("__p")).sample(withReplacement = false, 0.02, 42L)
      .stat.approxQuantile("__p",
        (1 until nBuckets).map(_.toDouble / nBuckets).toArray, 0.01)
      .distinct.sorted
    // native binary-search bucketing (NativeSelect scaladoc): the
    // HOF filter-count ran interpreted on every pass over the data
    val bCol = when(plain.head.isNull, lit(-1))
      .when(isnan(pv), lit(Int.MaxValue))
      .otherwise(if (bounds.isEmpty) lit(0)
        else graft.expressions.NativeSelect.searchSorted(pv, bounds))
    // ONE scan and ONE full-data exchange total: the histogram
    // aggregates over the SAME hash(g, bucket) exchange the local
    // ranking sorts on — both subtrees share the repartition's
    // canonical plan, so ReuseExchange computes the shuffle once and
    // the hash(g, b) distribution satisfies the groupBy, the window,
    // and the broadcast join's streamed side alike (explicit
    // partition count: the N-less form's AQE advisory pass measured
    // 2x slower on the Expectations fused exchange)
    val exch = df.withColumn("__ntb_g", gExpr).withColumn("__ntb_b", bCol)
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col("__ntb_g"), col("__ntb_b"))

    // exact (group, bucket) histogram → per-group running offsets and
    // totals — a groups × buckets frame
    val wG = Window.partitionBy(col("__ntb_g")).orderBy(col("__ntb_b"))
    val hist = exch.groupBy(col("__ntb_g"), col("__ntb_b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__ntb_off", coalesce(
        sum(col("__c")).over(wG.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__ntb_n", sum(col("__c")).over(
        Window.partitionBy(col("__ntb_g"))))
      .select(col("__ntb_g"), col("__ntb_b"),
        col("__ntb_off"), col("__ntb_n"))

    // in-group rank = bucket offset (broadcast, groups × buckets
    // rows) + local rank within the (group, bucket): each sort task
    // holds ≈ n_g/nBuckets rows of one bucket, whatever the group
    // shape (the Percentiles.exactSharded recipe). Equal order
    // tuples get an arbitrary-but-consistent local numbering, so
    // bins are exactly SQL-sized and tie placement is the only
    // degree of freedom — the same contract as the window ntile
    // itself.
    val rnk = col("__ntb_off") +
      row_number().over(Window.partitionBy(col("__ntb_g"), col("__ntb_b"))
        .orderBy(plain: _*)).cast("long")
    // SQL ntile arithmetic over (in-group rank, group size)
    val n = col("__ntb_n")
    val q = ((n - pmod(n, lit(k))) / k).cast("long")
    val r = pmod(n, lit(k))
    val cut = r * (q + 1)
    Some(exch
      .join(broadcast(hist), Seq("__ntb_g", "__ntb_b"))
      .withColumn("__ntb_rnk", rnk)
      .withColumn(outCol,
        when(col("__ntb_rnk") <= cut, ceil(col("__ntb_rnk") / (q + 1)))
          // never selected when q = 0 (then cut = n ≥ rnk) — CASE
          // branches are lazy, so the division cannot hit zero
          .otherwise(r + ceil((col("__ntb_rnk") - cut) / q)))
      .drop("__ntb_g", "__ntb_b", "__ntb_off", "__ntb_n", "__ntb_rnk"))
  }
}
