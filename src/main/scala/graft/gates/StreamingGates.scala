package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Ivf, Sim, Text}
import graft.operators.{AsOfJoin, Dedup, Sessionize}
import graft.ops.{Dims, Quality}
import graft.sources.Tables

/** Streaming + temporal gates: windowed/session aggregation, stream
  * dedup/enrich/totals, stream-stream interval joins, as-of joins,
  * sessionization.
  *
  * Split out of SparkEntry (one gate map per operator family); the
  * driver contract is still the combined SparkEntry.queries /
  * SparkEntry.oracleSql. Helpers and shared oracle CTEs live in
  * [[GateSupport]].
  */
private[graft] object StreamingGates {
  import GateSupport._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // X11 as-of join: latest order at-or-before each event, per user
    "x11_asof_join" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.asOf(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_orderdate"))
        .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(asc_nulls_first("event_id"))
    }),

    // X11b forward as-of: earliest order at-or-after each event —
    // the direction that was previously only ScalaTest-covered
    // (DuckDB's ASOF expresses it with the <= inequality)
    "x11b_asof_forward" -> ((s, d) => {
      val e = t(s, d, "events").select(col("event_id"), col("user_id"), col("ts"))
      val o = t(s, d, "orders")
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max(col("o_orderkey")).as("o_orderkey"))
      AsOfJoin.asOf(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_orderdate"), direction = "forward")
        .select(col("event_id"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(asc_nulls_first("event_id"))
    }),

    // X12 sessionization (10-minute inactivity gap) via session_window
    "x12_sessionize" -> ((s, d) =>
      Sessionize.sessions(t(s, d, "events"), "user_id", "ts")
        .orderBy(asc_nulls_first("user_id"), asc_nulls_first("session_start"))),

    // X13 [ST1,ST2,ST6] REAL streaming path through the correctness
    // gate: events replayed as a parquet stream, complete-mode hourly
    // aggregate, memory sink — must equal the q18 batch oracle.
    "x13_stream_hourly" -> ((s, d) => {
      val staged = stageEvents(s, d)
      replayToMemory(s, staged, "x13_out", "complete") {
        s.readStream.schema(graft.streaming.EventStreams.schema)
          .parquet(staged)
          .groupBy(date_trunc("HOUR", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      }.orderBy(asc_nulls_first("h"), asc_nulls_first("event_type"))
    }),

    // X18 [ST3,ST4,ST5] STATEFUL streaming through the gate: session
    // windows in append mode — only watermark-closed sessions emit;
    // the oracle replicates the emission rule (session_last + gap <
    // max_ts - delay) on top of gaps-and-islands sessionization.
    "x18_stream_sessions" -> ((s, d) => {
      val staged = stageEvents(s, d)
      replayToMemory(s, staged, "x18_out", "append") {
        s.readStream.schema(graft.streaming.EventStreams.schema)
          .parquet(staged)
          .withWatermark("ts", "10 minutes")
          .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("v"))
          .select(col("user_id"), col("session_window.start").as("session_start"),
            col("n_events"), col("v"))
      }.orderBy(asc_nulls_first("user_id"), asc_nulls_first("session_start"))
    }),

    // X28 [ST5+] STREAMING DEDUP through the gate: first-occurrence
    // key dedup over the event stream — the streaming form of exact
    // dedup for incremental corpus ingestion (state = the distinct
    // key set, exactly what the batch operator would shuffle; grows
    // with key cardinality, not stream length). The emitted set is
    // deterministic regardless of arrival order, so the batch
    // DISTINCT oracle applies.
    // X56 [ST+] STREAMING near-dup admission vs a static corpus: docs
    // arrive on a stream (doc_id ≥ 300, the x50 split) and check for
    // near-duplicates in the existing corpus (doc_id < 300) through
    // two stateless stream-static joins — LSH band-key equi join
    // against the staged corpus signature artifact (shared with x50's
    // batch path via the same cache key), then the corpus text for
    // EXACT char-5-gram Jaccard verification. No state store, no
    // watermark: each doc is decided within its own micro-batch. A
    // pair seen in several bands emits once per band; the batch tail
    // distincts after the sink. Oracle = all cross pairs at exact
    // Jaccard ≥ 0.5, grouped per stream doc.
    "x56_stream_neardup" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val staged = stageStreamDocs(s, d)
      val corpus = docs.where(col("doc_id") < 300)
      replayToMemory(s, staged, "x56_out", "append") {
        graft.streaming.StreamNearDup.vsCorpus(
          s.readStream.schema(docs.schema).parquet(staged), corpus, threshold = 0.5,
          corpusCacheKey = Some(s"inc_corpus:$d"))
      }.select(col("doc_id"), col("corpus_id")).distinct()
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).cast(LongType).as("n_matches"))
        .orderBy(asc_nulls_first("doc_id"))
    }),

    "x28_stream_dedup" -> ((s, d) => {
      val staged = stageEvents(s, d)
      replayToMemory(s, staged, "x28_out", "append") {
        s.readStream.schema(graft.streaming.EventStreams.schema)
          .parquet(staged)
          .select(col("user_id"), col("event_type"))
          .dropDuplicates("user_id", "event_type")
      }.orderBy(asc_nulls_first("user_id"), asc_nulls_first("event_type"))
    }),

    // X32 [ST+] stream-static enrichment join: the event stream joins
    // a broadcast static dimension mid-stream (the standard streaming
    // enrichment shape — dim lookup per micro-batch, no stream-side
    // state), then aggregates per dimension label in complete mode.
    // Oracle = the identical batch join+aggregate.
    "x32_stream_enrich" -> ((s, d) => {
      val staged = stageEvents(s, d)
      val nation = t(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      replayToMemory(s, staged, "x32_out", "complete") {
        s.readStream.schema(graft.streaming.EventStreams.schema)
          .parquet(staged)
          .withColumn("nk", col("user_id") % 25)
          .join(broadcast(nation), col("nk") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("v"))
      }.orderBy(asc_nulls_first("n_name"))
    }),

    // X47 STREAM-STREAM interval join through the gate: views pair
    // with the same user's clicks within the following hour, both
    // sides watermarked so join state stays bounded. An inner
    // stream-stream join emits exactly the matching pairs, so the
    // batch join oracle applies regardless of micro-batch boundaries;
    // per-user id sums pin exact pair membership.
    "x47_stream_interval_join" -> ((s, d) => {
      val staged = stageEvents(s, d)
      replayToMemory(s, staged, "x47_out", "append") {
        graft.streaming.EventStreams.viewClickJoin(s.readStream
          .schema(graft.streaming.EventStreams.schema).parquet(staged), 60)
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("view_id")).cast(LongType).as("view_id_sum"),
          sum(col("click_id")).cast(LongType).as("click_id_sum"))
        .orderBy(asc_nulls_first("user_id"))
    }),

    // X47B stream-stream LEFT OUTER interval join: unmatched views
    // must ALSO emit (with a NULL click) — which only happens when a
    // later batch's watermark proves them unmatched, hence the
    // sentinel staging (see stageEventsWithSentinel). The aggregated
    // result must hash-match the complete batch left join replayed by
    // the oracle: unmatched counts included, so dropped-or-spurious
    // nulls cannot hide.
    "x47b_stream_outer_join" -> ((s, d) => {
      val staged = stageEventsWithSentinel(s, d)
      replayToMemory(s, staged, "x47b_out", "append") {
        val events = s.readStream
          .schema(graft.streaming.EventStreams.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
        graft.streaming.EventStreams.viewClickJoin(events, 60, joinType = "left_outer")
      }.where(col("user_id") >= 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L))
            .cast(LongType).as("n_unmatched"),
          sum(col("view_id")).cast(LongType).as("view_id_sum"),
          coalesce(sum(col("click_id")), lit(0L))
            .cast(LongType).as("click_id_sum"))
        .orderBy(asc_nulls_first("user_id"))
    }),

    // X42 [ST5] the custom keyed state machine through the gate:
    // flatMapGroupsWithState running per-user totals in Update mode.
    // Each snapshot's n strictly grows per user, so max(struct(n,
    // total)) picks the FINAL state even when multiple micro-batches
    // emit intermediate snapshots — the batch GROUP BY oracle applies
    // regardless of batch boundaries.
    "x42_stream_totals" -> ((s, d) => {
      val staged = stageEvents(s, d)
      replayToMemory(s, staged, "x42_out", "update") {
        graft.streaming.EventStreams.runningTotals(eventStream(s, staged)).toDF()
      }.groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("total"))).as("last"))
        .select(col("user_id"), col("last.n").as("n"),
          round(col("last.total"), 2).as("total"))
        .orderBy(asc_nulls_first("user_id"))
    }),

    // X96 [ST5] STREAMING funnel: the x85 greedy chain as a keyed
    // state machine over the replayed event stream. Levels are NOT
    // monotone under out-of-order arrival, so the final per-user
    // verdict is the snapshot with the highest n_seen (strictly
    // growing — the x42 selection trick); the per-step counts must
    // then equal the BATCH funnel oracle exactly, independent of
    // micro-batch boundaries.
    "x96_stream_funnel" -> ((s, d) => {
      val staged = stageEvents(s, d)
      val levels = replayToMemory(s, staged, "x96_out", "update") {
        graft.streaming.EventStreams.funnelLevels(eventStream(s, staged),
            Seq("view", "click", "purchase"),
            windowSeconds = Some(7L * 86400))
          .toDF()
      }.groupBy(col("user_id"))
        .agg(max(struct(col("n_seen"), col("level"))).as("last"))
        .select(col("user_id"), col("last.level").as("level"))
      // same reduction as the batch operator's — one shared helper,
      // zero rows count 0 (the oracle's COUNT(*) convention)
      graft.operators.Funnel.stepCounts(levels,
          Seq("view", "click", "purchase"))
        .orderBy(asc_nulls_first("step"))
    }),

    // X96b [ST5] the BOUNDED-STATE streaming funnel: same batch-funnel
    // oracle, but the stream replays time-ordered files one per
    // micro-batch so the 30-minute watermark advances between batches
    // and the state store actually EVICTS (prefix folds into the k
    // chain slots; EventTimeTimeout collapses quiet users). Every
    // event arrives in event-time order across batches, i.e. within
    // the lateness bound — the region where bounded mode is exact.
    // The gate also hard-fails if eviction never happened: with a
    // 30-minute window over a month of data, buffers must stay far
    // below the per-user event count.
    "x96b_stream_funnel_bounded" -> ((s, d) => {
      val staged = stageEventsTimeOrdered(s, d)
      val sink = replayToMemory(s, staged, "x96b_out", "update") {
        graft.streaming.EventStreams.funnelLevelsBounded(
            eventStream(s, staged, oneFilePerTrigger = true),
            Seq("view", "click", "purchase"),
            windowSeconds = Some(7L * 86400), lateness = "30 minutes")
          .toDF()
      }
      // eviction evidence: some snapshot must show a buffer smaller
      // than its chain's event count (a per-snapshot comparison — a
      // global max-vs-max would false-fail if the busiest user's
      // events all landed in one staged range-file)
      val evicted = sink.where(col("n_buffered") < col("n_seen")).count()
      require(evicted > 0L, "bounded funnel never evicted any buffer")
      // the operator's own reduction: earliest started chain, then
      // highest n_seen — restart-proof now that closed chains are
      // EVICTED from the state store (a returning user restarts
      // n_seen, so a bare argmax(n_seen) would no longer be sound)
      val levels = graft.streaming.EventStreams.boundedVerdicts(sink)
      graft.operators.Funnel.stepCounts(levels,
          Seq("view", "click", "purchase"))
        .orderBy(asc_nulls_first("step"))
    }),

    // X119 [ST5] bounded-state STREAMING last-touch attribution — the
    // x92 backward as-of as a keyed state machine: per-user state is
    // one (ts, channel) pair + the lateness-window buffer, conversions
    // finalize when the watermark passes them, and rows for users
    // whose last touch aged past the lookback are REMOVED. Verdicts
    // reduce per conversion (newest upd_seq) and roll up to the same
    // (channel, n, revenue) table the batch operator produces; the
    // oracle replays the identical as-of in SQL.
    "x119_stream_attribution" -> ((s, d) => {
      val staged = stageEventsTimeOrdered(s, d)
      val sink = replayToMemory(s, staged, "x119_out", "update") {
        graft.streaming.EventStreams.lastTouchBounded(
            eventStream(s, staged, oneFilePerTrigger = true),
            Seq("click", "view"), "purchase",
            lookbackSeconds = 7L * 86400, lateness = "30 minutes")
          .toDF()
      }
      // boundedness evidence: conversions really left the buffer
      require(sink.where(col("is_final")).count() > 0,
        "bounded attribution never finalized any conversion")
      graft.streaming.EventStreams.attributionVerdicts(sink)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_conversions"),
          round(sum(col("value")), 2).as("revenue"))
        .orderBy(asc_nulls_first("channel"))
    }),

    // X120 [ST5] bounded-state STREAMING retention cohorts — the x86
    // batch rollup as a keyed state machine: per-user state is the
    // first-seen timestamp plus only the not-yet-final activity weeks
    // (≤ ⌈lateness/1 week⌉ + 1 entries); a user's cohort finalizes
    // when the watermark passes their first event, the pending weeks
    // flush once, and the row is reaped when the watermark clears the
    // reporting horizon. Verdicts reduce per (user, week) by newest
    // upd_seq and roll up to the same (cohort_week, week_no, users)
    // curve the batch operator produces; the oracle replays x86's SQL
    // (the fixture spans ~5 weeks, far inside the 52-week horizon).
    "x120_stream_retention" -> ((s, d) => {
      val staged = stageEventsTimeOrdered(s, d)
      val sink = replayToMemory(s, staged, "x120_out", "update") {
        graft.streaming.EventStreams.retentionBounded(
            eventStream(s, staged, oneFilePerTrigger = true),
            horizonWeeks = 52, lateness = "30 minutes")
          .toDF()
      }
      // boundedness evidence: cohorts really finalized (pending
      // buffers flushed) and the provisional path was exercised
      require(sink.where(col("is_final")).count() > 0,
        "bounded retention never finalized any cohort week")
      graft.streaming.EventStreams.retentionVerdicts(sink)
        .orderBy(asc_nulls_first("cohort_week"), asc_nulls_first("week_no"))
    }),

    // X121 [ST5] bounded-state STREAMING conversion-lag percentiles —
    // x91's streaming twin and the last batch-analytics family member
    // to get a bounded-state mirror: the x96b greedy-chain state
    // machine (shared core — same eviction, reap, and exactness
    // region) snapshots the chain's SLOT TIMESTAMPS instead of their
    // count; verdicts reduce per user to the earliest chain's final
    // slots, adjacent-slot lags become the per-user time-to-convert,
    // and the same exact sort-based percentile operator produces the
    // p50/p90 table the batch gate ships. The oracle replays x91's
    // SQL verbatim — batch equality across micro-batch boundaries.
    "x121_stream_conversion_lag" -> ((s, d) => {
      val staged = stageEventsTimeOrdered(s, d)
      val sink = replayToMemory(s, staged, "x121_out", "update") {
        graft.streaming.EventStreams.stepTimesBounded(
            eventStream(s, staged, oneFilePerTrigger = true),
            Seq("view", "click", "purchase"),
            windowSeconds = Some(7L * 86400), lateness = "30 minutes")
          .toDF()
      }
      // boundedness evidence: buffers really folded into chain slots
      require(sink.where(col("n_buffered") < col("n_seen")).count() > 0,
        "bounded step-times never evicted any buffer")
      val slots = graft.streaming.EventStreams.stepTimesVerdicts(sink)
      val lags = Seq((0, "view->click"), (1, "click->purchase")).map {
        case (i, nm) =>
          slots.where(col("slots").getItem(i + 1) =!= -1L)
            .select(lit(nm).as("step_pair"),
              ((col("slots").getItem(i + 1) - col("slots").getItem(i))
                / 1000000.0).as("lag_s"))
      }.reduce(_ unionAll _)
      graft.operators.Percentiles.exact(lags, "step_pair", "lag_s",
          Seq("p50r" -> 0.5, "p90r" -> 0.9))
        .select(col("step_pair"), round(col("p50r"), 2).as("p50"),
          round(col("p90r"), 2).as("p90"), col("n_vals").as("n"))
        .orderBy(asc_nulls_first("step_pair"))
    }),

    // X106 [ST2 + A-family sketches] STREAMING storable HLL: per-day
    // user sketches built BY THE STREAM, compared bit-for-bit to the
    // batch sketches over the same table (same commutative byte-max
    // merge ⇒ identical blobs whatever the micro-batching), then
    // union-merged and checked against the exact distinct count —
    // the streaming half of x101's pre-aggregate-once/roll-up-forever
    // contract. One row (n_windows, stream_batch_bitequal,
    // merged_within_tol); the oracle recomputes the window count and
    // pins the deterministic flags.
    "x106_stream_hll" -> ((s, d) => {
      import s.implicits._
      val staged = stageEvents(s, d)
      val p = 12
      val stream = replayToMemory(s, staged, "x106_out", "complete") {
        graft.streaming.EventStreams.distinctSketches(
          s.readStream.schema(graft.streaming.EventStreams.schema).parquet(staged),
          "ts", "1 day", "user_id", p)
      }
      val events = t(s, d, "events")
      val batch = graft.streaming.EventStreams.distinctSketches(
        events, "ts", "1 day", "user_id", p)
        .withColumnRenamed("sketch", "bsketch")
      val joined = stream.join(batch, Seq("window_start"), "full_outer")
        .localCheckpoint()
      val bitEqual = joined.where(col("sketch").isNull ||
        col("bsketch").isNull || col("sketch") =!= col("bsketch"))
        .count() == 0L
      // merged sketch + exact distinct in ONE action (two aggregate
      // subtrees crossJoined — one job constant instead of two)
      val mx = stream
        .agg(graft.functions.Hll.merge(col("sketch"), p).as("m"))
        .crossJoin(events.agg(count_distinct(col("user_id")).as("x")))
        .head
      val merged = mx.getAs[Array[Byte]](0)
      val exact = mx.getLong(1)
      val est = graft.functions.Hll.estimate(merged)
      val within = math.abs(est - exact) <= 0.05 * exact
      Seq((joined.count(), bitEqual, within))
        .toDF("n_windows", "stream_batch_bitequal", "merged_within_tol")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "x11_asof_join" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, CAST(MAX(o_orderkey) AS BIGINT) AS o_orderkey
                    FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, o.o_orderkey, o.o_orderdate
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
         ORDER BY e.event_id NULLS FIRST""",
    "x11b_asof_forward" ->
      """WITH o AS (SELECT o_custkey, o_orderdate, CAST(MAX(o_orderkey) AS BIGINT) AS o_orderkey
                    FROM orders GROUP BY o_custkey, o_orderdate)
         SELECT e.event_id, o.o_orderkey, o.o_orderdate
         FROM events e ASOF LEFT JOIN o
           ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
         ORDER BY e.event_id NULLS FIRST""",
    "x18_stream_sessions" ->
      """WITH e AS (
           SELECT user_id, ts, value, event_id,
                  CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                       WHEN ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1
                       ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid FROM e),
         sess AS (
           SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_last,
                  CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 2) AS v
           FROM s GROUP BY user_id, sid)
         SELECT user_id, session_start, n_events, v FROM sess
         WHERE session_last + INTERVAL 10 MINUTE <
               (SELECT MAX(ts) - INTERVAL 10 MINUTE FROM events)
         ORDER BY user_id NULLS FIRST, session_start NULLS FIRST""",
    // exact cross-pair reference: every stream-half doc paired with
    // every corpus-half doc at exact 5-gram Jaccard ≥ 0.5 (rounded 4dp
    // like the engine's verify stage), counted per stream doc
    "x56_stream_neardup" ->
      """WITH sh AS (
           SELECT doc_id, list_distinct(list_transform(range(1, length(text) - 3),
             i -> substr(lower(text), CAST(i AS INT), 5))) AS s
           FROM documents WHERE length(text) >= 5),
         pairs AS (
           SELECT b.doc_id AS doc_id, c.doc_id AS corpus_id
           FROM sh b, sh c
           WHERE b.doc_id >= 300 AND c.doc_id < 300
             AND ROUND(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE) /
                       len(list_distinct(list_concat(b.s, c.s))), 4) >= 0.5)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
         FROM pairs GROUP BY doc_id ORDER BY doc_id NULLS FIRST""",
    "x28_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id NULLS FIRST, event_type NULLS FIRST""",
    "x32_stream_enrich" ->
      """SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(e.value), 2) AS v
         FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name NULLS FIRST""",
    "x42_stream_totals" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(SUM(value), 2) AS total
         FROM events GROUP BY user_id ORDER BY user_id NULLS FIRST""",
    // the BATCH funnel replay (identical to x85's oracle): the
    // streaming state machine must converge to it whatever the
    // micro-batch boundaries were
    "x96_stream_funnel" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                              JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS users
           UNION ALL
           SELECT CAST(2 AS INT), 'click',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
           UNION ALL
           SELECT CAST(3 AS INT), 'purchase',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
         ORDER BY step NULLS FIRST""",
    // identical batch replay: bounded mode must converge to the same
    // funnel whenever input arrives within the lateness bound (the
    // staging guarantees it — files replay in event-time order)
    "x96b_stream_funnel_bounded" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                              JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id)
         SELECT * FROM (
           SELECT CAST(1 AS INT) AS step, 'view' AS step_name,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS users
           UNION ALL
           SELECT CAST(2 AS INT), 'click',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2)
           UNION ALL
           SELECT CAST(3 AS INT), 'purchase',
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3))
         ORDER BY step NULLS FIRST""",
    // the x92 as-of replay over watermark-eligible (non-NULL ts)
    // conversions: same (user, ts) MAX-channel pre-collapse, inclusive
    // ASOF, 7-day staleness null-out
    "x119_stream_attribution" ->
      """WITH p AS (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase' AND ts IS NOT NULL),
         tch AS (SELECT user_id, ts, MAX(event_type) AS channel
                 FROM events WHERE event_type IN ('click', 'view')
                   AND ts IS NOT NULL
                 GROUP BY user_id, ts),
         j AS (SELECT p.value,
                      CASE WHEN tch.ts < p.ts - INTERVAL 7 DAY THEN NULL
                           ELSE tch.channel END AS channel
               FROM p ASOF LEFT JOIN tch
                 ON p.user_id = tch.user_id AND tch.ts <= p.ts)
         SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_conversions,
                ROUND(SUM(value), 2) AS revenue
         FROM j GROUP BY channel
         ORDER BY channel NULLS FIRST""",
    // x86's batch retention replay over watermark-eligible (non-NULL
    // ts) events; the 52-week gate horizon exceeds the fixture span,
    // so no week_no filter is needed
    "x120_stream_retention" ->
      """WITH f AS (SELECT user_id,
                           CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
                    FROM events WHERE ts IS NOT NULL GROUP BY user_id),
         a AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS week
               FROM events WHERE ts IS NOT NULL)
         SELECT f.cohort_week,
                CAST((a.week - f.cohort_week) // 7 AS INT) AS week_no,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS users
         FROM a JOIN f ON a.user_id = f.user_id
         GROUP BY 1, 2
         ORDER BY cohort_week NULLS FIRST, week_no NULLS FIRST""",
    // x91's batch SQL verbatim (the greedy chain + quantile_cont):
    // the streaming twin must land on the identical percentile table
    "x121_stream_conversion_lag" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
                     WHERE event_type = 'view' AND ts IS NOT NULL
                     GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                              JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                  AND epoch_us(e.ts) <= epoch_us(s1.t1) + 604800000000
                GROUP BY e.user_id),
         lags AS (
           SELECT 'view->click' AS step_pair,
                  (epoch_us(s2.t2) - epoch_us(s1.t1)) / 1000000.0 AS lag_s
           FROM s2 JOIN s1 ON s2.user_id = s1.user_id
           UNION ALL
           SELECT 'click->purchase',
                  (epoch_us(s3.t3) - epoch_us(s2.t2)) / 1000000.0
           FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
         SELECT step_pair,
                ROUND(quantile_cont(lag_s, 0.5), 2) AS p50,
                ROUND(quantile_cont(lag_s, 0.9), 2) AS p90,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lags GROUP BY step_pair
         ORDER BY step_pair NULLS FIRST""",
    // batch replay of the stream-stream interval join: inner joins
    // emit exactly the matching pairs, independent of batching
    "x47_stream_interval_join" ->
      """WITH p AS (
           SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
           FROM events v JOIN events c
             ON v.user_id = c.user_id
            AND v.event_type = 'view' AND c.event_type = 'click'
            AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                CAST(SUM(view_id) AS BIGINT) AS view_id_sum,
                CAST(SUM(click_id) AS BIGINT) AS click_id_sum
         FROM p GROUP BY user_id ORDER BY user_id NULLS FIRST""",
    "x47b_stream_outer_join" ->
      """WITH p AS (
           SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
           FROM (SELECT * FROM events WHERE event_type = 'view') v
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
             ON v.user_id = c.user_id
            AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 60 MINUTE)
         SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_unmatched,
                CAST(SUM(view_id) AS BIGINT) AS view_id_sum,
                CAST(COALESCE(SUM(click_id), 0) AS BIGINT) AS click_id_sum
         FROM p GROUP BY user_id ORDER BY user_id NULLS FIRST""",
    "x13_stream_hourly" ->
      """SELECT DATE_TRUNC('HOUR', ts) AS h, event_type,
         CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 2) AS v
         FROM events GROUP BY 1, 2
         ORDER BY h NULLS FIRST, event_type NULLS FIRST""",
    "x12_sessionize" ->
      """WITH e AS (
           SELECT user_id, ts, value, event_id,
                  CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                       WHEN ts - LAG(ts) OVER w >= INTERVAL 10 MINUTE THEN 1
                       ELSE 0 END AS brk
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS sid FROM e)
         SELECT user_id, MIN(ts) AS session_start,
                CAST(COUNT(*) AS BIGINT) AS n_events, ROUND(SUM(value), 2) AS v
         FROM s GROUP BY user_id, sid
         ORDER BY user_id NULLS FIRST, session_start NULLS FIRST""",
    // window count recomputed; the two sketch flags are deterministic
    // (fixed hash, commutative merge) and pinned true
    "x106_stream_hll" ->
      """SELECT CAST(COUNT(DISTINCT DATE_TRUNC('DAY', ts)) AS BIGINT)
                  AS n_windows,
                true AS stream_batch_bitequal, true AS merged_within_tol
         FROM events""",
  )
}
