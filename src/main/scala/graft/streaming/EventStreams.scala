package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table (SURVEY.md §2.8
  * ST1–ST6). The reference's only streaming-shaped flow is a Pub/Sub
  * command topic (`transfer_sercom_files.py:102-123`); the engine
  * generalizes to real event-time processing: windowed aggregation
  * with watermarks, session windows, custom state machines, and
  * batch/append sinks via foreachBatch.
  *
  * All operators keep state keyed and bounded (watermark evicts):
  * the shapes survive unbounded input on a real cluster.
  */
object EventStreams extends Serializable {

  /** The events fixture schema, ts as µs timestamp. */
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** ST1: stream ingest over a parquet/json directory. */
  def readStream(spark: SparkSession, dir: String,
                 format: String = "parquet",
                 options: Map[String, String] = Map.empty): DataFrame =
    spark.readStream.schema(schema).format(format).options(options).load(dir)

  /** ST2+ST4: tumbling (or sliding) window counts/sums with a
    * watermark for late-data eviction. */
  def windowedAgg(events: DataFrame, window_ : String = "1 hour",
                  slide: Option[String] = None,
                  watermark: String = "10 minutes"): DataFrame = {
    val win = slide.map(s => window(col("ts"), window_, s))
      .getOrElse(window(col("ts"), window_))
    events
      .withWatermark("ts", watermark)
      .groupBy(win.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("n"), col("v"))
  }

  /** ST3: session-window aggregation (same operator the batch
    * Sessionize uses — batch/stream parity by construction). */
  def sessionAgg(events: DataFrame, gap: String = "10 minutes",
                 watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("v"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("v"))

  /** ST-family extension: STREAM-STREAM interval join — each view
    * event pairs with the same user's click events in the following
    * `gapMinutes`. Both sides carry a watermark and the join
    * condition bounds event-time distance, so Spark can size and
    * evict the two join-state stores (state per side is bounded by
    * gap + watermark of traffic — the shape that survives unbounded
    * streams). Inner joins emit exactly the matching pairs, so the
    * result equals the batch join of the same condition — PROVIDED
    * every event arrives within `watermark` of the running max event
    * time. That is the standard watermark contract, not a free
    * equivalence: if input splits across micro-batches (e.g. many
    * files under AvailableNow with maxFilesPerTrigger) and a batch
    * carries events more than `watermark` older than event-time
    * already seen, the matching state has been evicted and those
    * pairs are dropped. Callers replaying bounded fixtures should
    * either keep the replay to one micro-batch (the x47 gate stages
    * a handful of files, well under the file source's per-trigger
    * cap, so eviction never fires mid-replay) or size `watermark` to
    * the fixture's full event-time span.
    *
    * `joinType = "left_outer"` additionally emits each unmatched view
    * with a NULL click — but only once the watermark passes
    * view_ts + gap (the row is only then provably unmatched), so the
    * outer result is complete exactly for the watermark-DECIDED
    * region: view_ts ≤ max event time − watermark − gap. Bounded
    * replays comparing against a batch left join must either filter
    * both sides to that region, or advance the watermark past the
    * whole real input with a trailing far-future sentinel batch and
    * filter only the sentinel rows out of the result (the x47b gate
    * does the latter: sentinel user_ids < 0, gate keeps
    * user_id >= 0). */
  def viewClickJoin(events: DataFrame, gapMinutes: Int,
                    watermark: String = "2 hours",
                    joinType: String = "inner"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    views.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") > col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $gapMinutes MINUTES"),
      joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)
  case class UserRunningState(n: Long, total: Double)
  case class UserSnapshot(user_id: Long, n: Long, total: Double)

  /** ST5: custom keyed state via flatMapGroupsWithState — running
    * per-user count/total emitted on every update (Update mode).
    * State is tiny and per-key; timeout hooks are where production
    * eviction policy would go. */
  def runningTotals(events: Dataset[Event]): Dataset[UserSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunningState, UserSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserRunningState]) =>
          val prev = state.getOption.getOrElse(UserRunningState(0L, 0.0))
          val (n, tot) = batch.foldLeft((prev.n, prev.total)) {
            case ((c, t), e) => (c + 1, t + e.value)
          }
          state.update(UserRunningState(n, tot))
          Iterator(UserSnapshot(uid, n, tot))
      }
  }

  /** Unbounded-mode state: the user's step events so far, sorted,
    * packed by [[packEvents]].
    *
    * Funnel state rows hold binary columns, not collections. Spark 4.1
    * deserializes every array or `Seq` field (primitive `Array[Long]`
    * too) through `MapObjects`, whose lambda variables get fresh ids
    * each time the state encoder is resolved, which is once per
    * micro-batch, so the state deserializer compiled again on every
    * batch (measured with `Array[Long]` fields: one class per batch). A
    * binary column reads with no lambda, and the class compiles once
    * per session. A checkpoint written with the earlier `Seq`
    * layout (`evs` here; `acc: Seq[Long]`, `tail: Seq[(Long, Int)]` in
    * [[FunnelChain]]) does not restart silently: Spark's state-schema
    * check rejects the new value schema when the restarted query plans
    * its first batch (pinned in `StreamingSpec`). */
  case class FunnelBuf(events: Array[Byte])
  case class FunnelSnapshot(user_id: Long, n_seen: Long, level: Int)
  /** Bounded-mode state: the greedy chain's slot timestamps for the
    * watermark-FROZEN prefix (`acc`, -1 = unfilled, packed by
    * [[packSlots]]), how many events that prefix folded (`nPref`), and
    * only the not-yet-frozen tail of raw events (`tail`, packed by
    * [[packEvents]]). Binary for the reason given at [[FunnelBuf]]. */
  case class FunnelChain(acc: Array[Byte], nPref: Long, tail: Array[Byte])
  /** Bounded-mode snapshot: adds the state-store buffer size at
    * emission time, so gates/specs can ASSERT the state stays bounded
    * instead of trusting it, and the chain's (tentative) start
    * timestamp in epoch micros — -1 until a step-0 event is seen.
    * `chain_start` is what makes the verdict reduction restart-proof:
    * once a chain's window provably closes, its state ROW is removed
    * from the store, so a user who returns afterwards begins a NEW
    * chain whose snapshots restart `n_seen` at zero — a bare
    * argmax(n_seen) could then pick the wrong chain. Reduce with
    * [[boundedVerdicts]] (earliest-started chain wins, then highest
    * n_seen within it), which equals the batch operator exactly. */
  case class FunnelSnapshotB(user_id: Long, n_seen: Long, level: Int,
                             n_buffered: Int, chain_start: Long)

  /** The per-user verdict reduction over a [[funnelLevelsBounded]]
    * snapshot sink → `(user_id, level)`. Selection: the snapshot from
    * the EARLIEST started chain (min chain_start; never-started
    * chains, chain_start = -1, sort last — their level is always 0),
    * tie-broken by highest n_seen (strictly growing within a chain).
    * The earliest chain is the one the batch operator computes — its
    * greedy fills slot 0 with the user's first step-0 event, and any
    * later (post-eviction restart) chain's events are out-of-window
    * for it — so the reduced levels equal
    * [[graft.operators.Funnel.funnel]] whenever every event arrives
    * within `lateness` of the running max event time. */
  def boundedVerdicts(snapshots: DataFrame): DataFrame =
    earliestChainVerdicts(snapshots, "level")

  /** `(user_id, payload)` of each user's snapshot from the earliest
    * started chain, then the highest n_seen — the selection of
    * [[boundedVerdicts]] and [[stepTimesVerdicts]]. */
  private def earliestChainVerdicts(snapshots: DataFrame, payload: String): DataFrame = {
    // -1 → MaxValue so never-started chains lose to any real chain;
    // negate so one max(struct) both minimizes the start and then
    // maximizes n_seen (chain_start ≥ 0 in bounded mode: pre-epoch
    // inputs are engine-dropped, so the negation cannot overflow)
    val key = when(col("chain_start") === -1L, Long.MaxValue)
      .otherwise(col("chain_start"))
    snapshots.groupBy(col("user_id"))
      .agg(max(struct((-key).as("nk"), col("n_seen"), col(payload))).as("last"))
      .select(col("user_id"), col(s"last.$payload").as(payload))
  }

  private def eventMicros(ts: Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** `(epoch micros, step)` events as a state column: 12 bytes each. */
  private def packEvents(evs: Iterable[(Long, Int)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(12 * evs.size)
    evs.foreach { case (t, s) => b.putLong(t).putInt(s) }
    b.array
  }

  private def unpackEvents(bytes: Array[Byte]): IndexedSeq[(Long, Int)] = {
    val b = java.nio.ByteBuffer.wrap(bytes)
    IndexedSeq.fill(bytes.length / 12)((b.getLong, b.getInt))
  }

  /** Chain slot timestamps as a state column: 8 bytes each. */
  private def packSlots(acc: Array[Long]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(8 * acc.length)
    acc.foreach(b.putLong)
    b.array
  }

  private def unpackSlots(bytes: Array[Byte]): Array[Long] = {
    val acc = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer.get(acc)
    acc
  }

  private def mergeSorted(a: Seq[(Long, Int)],
                          b: Array[(Long, Int)]): Seq[(Long, Int)] = {
    if (b.isEmpty) return a
    val out = Vector.newBuilder[(Long, Int)]
    val ord = implicitly[Ordering[(Long, Int)]]
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      if (ord.lteq(a(i), b(j))) { out += a(i); i += 1 }
      else { out += b(j); j += 1 }
    }
    while (i < a.length) { out += a(i); i += 1 }
    while (j < b.length) { out += b(j); j += 1 }
    out.result()
  }

  /** One greedy pass CONTINUED from an existing slot state: fills
    * empty chain slots from `evs` (must be sorted, and must sort
    * after every event already folded into `acc`). The per-event rule
    * is identical to the batch operator's. */
  private def greedyInto(acc: Array[Long], winUs: Option[Long],
                         evs: Iterable[(Long, Int)]): Unit =
    evs.foreach { case (t, s) =>
      val prevSet = s == 0 || acc(s - 1) != -1L
      val after = s == 0 || t > acc(s - 1)
      val inWin = winUs.forall(w => s == 0 || t <= acc(0) + w)
      if (acc(s) == -1L && prevSet && after && inWin) acc(s) = t
    }

  /** Streaming funnel levels — the x85 earliest-first greedy chain as
    * a keyed state machine (ST5): per user, state holds the step
    * events seen so far — only the funnel's event types ever enter
    * state, but that buffer GROWS with the user's step-event count
    * (late data can rewrite the whole chain, so no prefix is safely
    * discardable without a watermark); this mode is for bounded
    * replays wanting exactness under ARBITRARY disorder — production
    * streams use [[funnelLevelsBounded]], whose watermark makes
    * eviction sound. Each
    * micro-batch merges the (sorted) new events into the sorted
    * buffer and re-runs the greedy, emitting `(user, n_seen, level)`.
    * Events arrive in ANY
    * order across batches, and the chain level is NOT monotone under
    * out-of-order arrival (an earlier step-0 event can move the
    * window and LOWER the level), so the FINAL verdict is the
    * snapshot with the highest `n_seen` — strictly growing per user —
    * not the highest level. With all input consumed the final levels
    * equal the batch [[graft.operators.Funnel.funnel]] exactly,
    * whatever the batch boundaries were.
    *
    * Timestamps fold to epoch MICROS (millis + sub-milli nanos) so
    * the ordering and window arithmetic are bit-equal to the batch
    * operator's `unix_micros`. */
  def funnelLevels(events: Dataset[Event], steps: Seq[String],
                   windowSeconds: Option[Long] = None): Dataset[FunnelSnapshot] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.size
    val winUs = windowSeconds.map(_ * 1000000L)
    // eventMicros folds timestamps with floorDiv, not truncation:
    // pre-epoch (or corrupt) timestamps must fold exactly like
    // unix_micros or the sorted buffer and window arithmetic diverge
    // from the batch operator
    def greedy(evs: Seq[(Long, Int)]): Int = {
      val acc = Array.fill(k)(-1L)
      greedyInto(acc, winUs, evs)
      acc.count(_ != -1L)
    }
    events
      .filter(e => e.ts != null && e.event_type != null &&
        stepIdx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBuf, FunnelSnapshot](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelBuf]) =>
          val prev = state.getOption.fold(Seq.empty[(Long, Int)])(b => unpackEvents(b.events))
          // prev is sorted: sort only the new batch and MERGE — the
          // per-batch cost is O(buffer + batch log batch), not a full
          // re-sort of the history
          val add = batch.map(e =>
            (eventMicros(e.ts), stepIdx(e.event_type))).toArray.sorted
          val all = mergeSorted(prev, add)
          state.update(FunnelBuf(packEvents(all)))
          Iterator(FunnelSnapshot(uid, all.size.toLong, greedy(all)))
      }
  }

  /** [[funnelLevels]] with BOUNDED state — the production mode for
    * unbounded streams. A watermark (`lateness`) bounds how far behind
    * the running max event time input may arrive; anything older is
    * dropped by the engine (the standard watermark contract). That
    * bound is what makes eviction sound: once the watermark passes a
    * buffered event, no future input can sort before it, so its
    * greedy outcome is FINAL — the event folds into the frozen chain
    * slots (`FunnelChain.acc`: k timestamps) and leaves the buffer.
    * Per-user state is therefore k+1 longs plus only the events
    * inside the current lateness window, instead of the full per-user
    * history; `GroupStateTimeout.EventTimeTimeout` collapses the
    * buffer of users who go QUIET (no further events would otherwise
    * mean no further eviction), so idle users converge to the k+1-long
    * residue too. Results equal [[funnelLevels]] — and the batch
    * operator — exactly, whenever every event arrives within
    * `lateness` of the running max event time.
    *
    * State ROWS are bounded too, not just per-row size: with
    * `windowSeconds` set, once the watermark passes a started chain's
    * `t0 + window` with an empty buffer the chain is provably FINAL
    * (no admissible future event can fill another slot — anything the
    * watermark admits is out-of-window), and the row is REMOVED from
    * the state store. Without removal, state rows grow with the
    * ALL-TIME user population even though each row is k+1 longs. A
    * user who returns after removal starts a fresh chain — which is
    * why snapshots carry `chain_start` and consumers must reduce with
    * [[boundedVerdicts]], not a bare argmax(n_seen).
    *
    * Each snapshot carries `n_buffered` (the buffer size it left
    * behind) so callers can ASSERT boundedness.
    *
    * Engine-imposed limit: Spark's event-time watermark never goes
    * below epoch 0, so PRE-EPOCH timestamps are always-late in this
    * mode and are dropped by the engine's late-data filter — inputs
    * with pre-1970 event times need [[funnelLevels]] (which preserves
    * them exactly). */
  def funnelLevelsBounded(events: Dataset[Event], steps: Seq[String],
                          windowSeconds: Option[Long] = None,
                          lateness: String = "1 hour"): Dataset[FunnelSnapshotB] =
    chainCoreBounded(events, steps, windowSeconds, lateness)(
      (uid, nSeen, emitAcc, nBuf) => FunnelSnapshotB(uid, nSeen,
        emitAcc.count(_ != -1L), nBuf, emitAcc(0)))(
      org.apache.spark.sql.Encoders.product[FunnelSnapshotB])

  /** The shared bounded greedy-chain state machine behind
    * [[funnelLevelsBounded]] and [[stepTimesBounded]]: identical
    * state/eviction/reap semantics, parameterized only by what each
    * data-driven snapshot projects out of the greedy slot array. */
  private def chainCoreBounded[Out](events: Dataset[Event],
      steps: Seq[String], windowSeconds: Option[Long], lateness: String)(
      emit: (Long, Long, Array[Long], Int) => Out)(
      implicit outEnc: org.apache.spark.sql.Encoder[Out]): Dataset[Out] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.size
    val winUs = windowSeconds.map(_ * 1000000L)
    events
      .filter(e => e.ts != null && e.event_type != null &&
        stepIdx.contains(e.event_type))
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelChain, Out](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[FunnelChain]) =>
          // a state row with an empty buffer is REMOVABLE when no
          // admissible future event can change its chain:
          // (a) the chain NEVER started (acc all -1) — the residue is
          //     only the nPref count, and dropping it is verdict-sound:
          //     pre-step-0 events can never fill a slot (greedy needs
          //     t > acc(0)), and boundedVerdicts tolerates the n_seen
          //     restart (never-started snapshots carry chain_start =
          //     -1, level 0, and lose to any started chain) — without
          //     this, users who emit step events but never step 0
          //     would each leak a permanent row;
          // (b) the chain is COMPLETE (no -1 slot) — nothing left to
          //     fill, and any restart chain starts at ts ≥ watermark >
          //     every frozen slot time, so it loses the min-chain_start
          //     selection;
          // (c) the chain started and the watermark passed its window
          //     end — FINAL: anything the watermark still admits is
          //     out-of-window for every unfilled slot.
          // State rows therefore track OPEN chains, not the all-time
          // user population.
          def removable(acc: Array[Long], wmMs: Long): Boolean =
            acc(0) == -1L || !acc.contains(-1L) ||
              winUs.exists(w => wmMs > 0L && wmMs * 1000L > acc(0) + w)
          if (state.hasTimedOut) {
            // the watermark passed the timeout with no new data for
            // this user: every buffered event is final — fold the
            // whole tail. Nothing is emitted (n_seen/level are
            // unchanged since the last data-driven snapshot, whose
            // emitAcc already folded the buffer).
            val st = state.get
            val acc = unpackSlots(st.acc)
            val tail = unpackEvents(st.tail)
            greedyInto(acc, winUs, tail)
            val wmMs = state.getCurrentWatermarkMs()
            if (removable(acc, wmMs)) {
              state.remove()
            } else {
              state.update(
                FunnelChain(packSlots(acc), st.nPref + tail.size, Array.emptyByteArray))
              // chain started but window still open: re-arm at the
              // window end so the row self-removes when it closes
              // (timeout > watermark holds: not-removable ⇒ wm ≤ t0+w)
              if (winUs.isDefined)
                state.setTimeoutTimestamp(
                  Math.floorDiv(acc(0) + winUs.get, 1000L) + 1L)
            }
            Iterator.empty
          } else {
            val st = state.getOption.getOrElse(
              FunnelChain(packSlots(Array.fill(k)(-1L)), 0L, Array.emptyByteArray))
            val add = batch.map(e =>
              (eventMicros(e.ts), stepIdx(e.event_type))).toArray.sorted
            val all = mergeSorted(unpackEvents(st.tail), add)
            // events older than the watermark are final (no future
            // input can precede them) — fold them into the frozen
            // slots now; watermark 0 means "none yet", evict nothing
            val wmMs = state.getCurrentWatermarkMs()
            val cutoff = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
            val (evict, keep) = all.span(_._1 < cutoff)
            val acc = unpackSlots(st.acc)
            greedyInto(acc, winUs, evict)
            val emitAcc = acc.clone()
            greedyInto(emitAcc, winUs, keep)
            if (keep.isEmpty && removable(acc, wmMs)) {
              // nothing buffered and nothing a future event could
              // change: final snapshot below, no row left behind
              state.remove()
            } else {
              state.update(FunnelChain(packSlots(acc), st.nPref + evict.size, packEvents(keep)))
              if (keep.nonEmpty)
                // when the watermark passes the buffer's newest event
                // and no new data arrives, finish the fold via timeout
                state.setTimeoutTimestamp(
                  Math.floorDiv(keep.last._1, 1000L) + 1L)
              else if (winUs.isDefined)
                // empty buffer, started chain, open window: arm the
                // window end so the row is reaped even if the user
                // never returns (keep.isEmpty && !removable ⇒ chain
                // started, wm ≤ t0+w, so the timestamp is legal)
                state.setTimeoutTimestamp(
                  Math.floorDiv(acc(0) + winUs.get, 1000L) + 1L)
            }
            Iterator(emit(uid, st.nPref + all.size, emitAcc, keep.size))
          }
      }
  }

  case class StepTimesSnapshot(user_id: Long, slots: Seq[Long],
                               n_seen: Long, n_buffered: Int,
                               chain_start: Long)

  /** [[graft.operators.Funnel.stepTimes]] as a bounded-state stream —
    * the state machine is [[funnelLevelsBounded]]'s (same eviction,
    * same reaping, same exactness region: every event within
    * `lateness` of the running max event time); each snapshot carries
    * the greedy chain's SLOT TIMESTAMPS (epoch micros, −1 = unfilled)
    * instead of just their count, which is what conversion-lag
    * analysis needs (x91's streaming twin): the lag between adjacent
    * filled slots is the user's time-to-convert for that step pair.
    * Reduce a snapshot sink with [[stepTimesVerdicts]] before
    * consuming. */
  def stepTimesBounded(events: Dataset[Event], steps: Seq[String],
                       windowSeconds: Option[Long] = None,
                       lateness: String = "1 hour"): Dataset[StepTimesSnapshot] =
    chainCoreBounded(events, steps, windowSeconds, lateness)(
      (uid, nSeen, emitAcc, nBuf) => StepTimesSnapshot(uid, emitAcc.toSeq,
        nSeen, nBuf, emitAcc(0)))(
      org.apache.spark.sql.Encoders.product[StepTimesSnapshot])

  /** Per-user verdict reduction over a [[stepTimesBounded]] snapshot
    * sink → `(user_id, slots)`: same selection as [[boundedVerdicts]]
    * (earliest started chain — the one the batch operator computes —
    * then highest n_seen, strictly growing within a chain). */
  def stepTimesVerdicts(snapshots: DataFrame): DataFrame =
    earliestChainVerdicts(snapshots, "slots")

  // (ts micros, kind 0=touch 1=conversion, channel ("" on
  // conversions — tuple sort must not see null), value, event_id)
  private type AttribEv = (Long, Int, String, Double, Long)
  case class AttribState(lastTs: Long, lastCh: String,
                         tail: Seq[AttribEv], seq: Long)
  case class AttribSnapshot(user_id: Long, event_id: Long, ts: Long,
                            value: Double, channel: String,
                            upd_seq: Long, n_buffered: Int,
                            is_final: Boolean)

  /** ST5 bounded-state streaming LAST-TOUCH ATTRIBUTION — the x92
    * batch operator (backward as-of within a lookback) as a keyed
    * state machine. Per-user state is ONE (ts, channel) pair — the
    * latest finalized touch — plus only the events inside the current
    * lateness window; once the watermark passes an event its as-of
    * outcome is FINAL (no admissible future touch can sort before
    * it), so it folds into the pair and leaves the buffer.
    *
    * State ROWS are bounded too: a user whose buffer is empty and
    * whose last touch has aged past the lookback relative to the
    * watermark is REMOVED (any future conversion the watermark admits
    * has ts ≥ watermark, and crediting needs touch ≥ ts − lookback >
    * lastTs — impossible), and `EventTimeTimeout` reaps users who go
    * quiet. Snapshots for still-buffered conversions are PROVISIONAL
    * (a later in-window touch can still win); `upd_seq` grows per
    * invocation so [[attributionVerdicts]]' argmax keeps each
    * conversion's newest verdict. Equals the batch operator exactly
    * whenever every event arrives within `lateness` of the running
    * max event time (the x96b contract).
    *
    * Tie rules replicate x92/[[graft.operators.Attribution]]: touches
    * at the conversion's own timestamp count (inclusive as-of);
    * same-timestamp touches collapse to the MAX channel string;
    * conversions with no in-lookback touch get channel NULL. */
  def lastTouchBounded(events: Dataset[Event], touchTypes: Seq[String],
                       conversionType: String, lookbackSeconds: Long,
                       lateness: String = "1 hour"): Dataset[AttribSnapshot] = {
    import events.sparkSession.implicits._
    require(touchTypes.nonEmpty && !touchTypes.contains(conversionType),
      "touch types must be non-empty and distinct from the conversion type")
    val touchSet = touchTypes.toSet
    val lookUs = lookbackSeconds * 1000000L
    val ord = Ordering.Tuple3[Long, Int, String]
    events
      .filter(e => e.ts != null && e.event_type != null &&
        (touchSet.contains(e.event_type) || e.event_type == conversionType))
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, AttribSnapshot](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[AttribState]) =>
          // fold ONE final event into the committed last-touch pair,
          // returning the conversion verdict for kind-1 events
          def foldEv(lastTs: Long, lastCh: String, e: AttribEv)
              : (Long, String, Option[AttribSnapshot]) = e match {
            case (t, 0, ch, _, _) =>
              if (t > lastTs || (t == lastTs && (lastCh == null || ch > lastCh)))
                (t, ch, None)
              else (lastTs, lastCh, None)
            case (t, _, _, v, id) =>
              val credited =
                if (lastTs != Long.MinValue && lastTs >= t - lookUs) lastCh
                else null
              (lastTs, lastCh,
                Some(AttribSnapshot(uid, id, t, v, credited, 0L, 0, false)))
          }
          def foldAll(ts0: Long, ch0: String, evs: Iterable[AttribEv])
              : (Long, String, Seq[AttribSnapshot]) =
            evs.foldLeft((ts0, ch0, Seq.empty[AttribSnapshot])) {
              case ((lt, lc, acc), e) =>
                val (nt, nc, out) = foldEv(lt, lc, e)
                (nt, nc, acc ++ out)
            }
          def removable(lastTs: Long, wmMs: Long): Boolean =
            lastTs == Long.MinValue || (wmMs > 0L && wmMs * 1000L - lastTs > lookUs)
          val st = state.getOption.getOrElse(
            AttribState(Long.MinValue, null, Vector.empty, 0L))
          val seq = st.seq + 1
          if (state.hasTimedOut) {
            // watermark passed the timeout with no new data: the whole
            // buffer is final
            val (lt, lc, finals) = foldAll(st.lastTs, st.lastCh, st.tail)
            val wmMs = state.getCurrentWatermarkMs()
            if (removable(lt, wmMs)) state.remove()
            else {
              state.update(AttribState(lt, lc, Vector.empty, seq))
              // touch residue still creditable: reap at its expiry
              // (> watermark holds: not-removable ⇒ wm*1000 ≤ lt+look)
              state.setTimeoutTimestamp(
                Math.floorDiv(lt + lookUs, 1000L) + 1L)
            }
            finals.map(s => s.copy(upd_seq = seq, is_final = true)).iterator
          } else {
            val add = batch.map { e =>
              val t = eventMicros(e.ts)
              if (touchSet.contains(e.event_type))
                (t, 0, e.event_type, 0.0, e.event_id)
              else (t, 1, "", e.value, e.event_id)
            }.toVector
            val all = (st.tail ++ add)
              .sortBy(e => (e._1, e._2, e._3))(ord)
            val wmMs = state.getCurrentWatermarkMs()
            val cutoff = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
            val (evict, keep) = all.span(_._1 < cutoff)
            val (lt, lc, finals) = foldAll(st.lastTs, st.lastCh, evict)
            // provisional pass over the buffer (not committed)
            val (_, _, provisionals) = foldAll(lt, lc, keep)
            if (keep.isEmpty && removable(lt, wmMs)) state.remove()
            else {
              state.update(AttribState(lt, lc, keep, seq))
              if (keep.nonEmpty)
                state.setTimeoutTimestamp(
                  Math.floorDiv(keep.last._1, 1000L) + 1L)
              else
                state.setTimeoutTimestamp(
                  Math.floorDiv(lt + lookUs, 1000L) + 1L)
            }
            (finals.map(s =>
                s.copy(upd_seq = seq, n_buffered = keep.size, is_final = true)) ++
              provisionals.map(s =>
                s.copy(upd_seq = seq, n_buffered = keep.size))).iterator
          }
      }
  }

  /** Per-conversion verdict reduction over a [[lastTouchBounded]]
    * snapshot sink: each conversion keeps its NEWEST snapshot
    * (`upd_seq` grows per state invocation; the final one, when
    * emitted, always supersedes provisionals) →
    * `(user_id, ts, value, channel)`. */
  def attributionVerdicts(snapshots: DataFrame): DataFrame =
    snapshots.groupBy(col("event_id"))
      .agg(max(struct(col("upd_seq"), col("user_id"), col("ts"),
        col("value"), col("channel"))).as("last"))
      .select(col("last.user_id").as("user_id"), col("last.ts").as("ts"),
        col("last.value").as("value"), col("last.channel").as("channel"))

  case class RetentionState(firstUs: Long, pendingWeeks: Seq[Int], seq: Long)
  case class RetentionSnapshot(user_id: Long, week_day: Int,
                               cohort_day: Int, week_no: Int,
                               upd_seq: Long, is_final: Boolean)

  private val DayUs = 86400000000L
  /** Monday-start week truncation over epoch days (1970-01-01 is a
    * Thursday, whose Monday is day −3) — the same convention as
    * `date_trunc('week', …)` in Spark and DuckDB. */
  private def weekStartDay(us: Long): Int = {
    val d = Math.floorDiv(us, DayUs)
    (d - Math.floorMod(d + 3, 7)).toInt
  }

  /** ST5 bounded-state STREAMING RETENTION COHORTS — the x86 batch
    * operator ([[graft.operators.Funnel.retention]]) as a keyed state
    * machine: per-user state is the first-seen timestamp plus the
    * activity weeks whose cohort assignment is not yet final.
    *
    * Finality: a user's cohort week is min-over-events, so it is
    * FINAL once the watermark passes the first-seen timestamp (every
    * later admissible event has ts ≥ watermark ≥ first-seen and
    * cannot lower the min). Until then, activity weeks are emitted as
    * PROVISIONAL snapshots and buffered in `pendingWeeks`; the buffer
    * is bounded by construction at ⌈lateness/1 week⌉ + 1 entries
    * (pre-finality events all sit within the lateness window of the
    * first). After finality the buffer flushes once (via
    * EventTimeTimeout if no event triggers it) and stays empty — the
    * state row is one long from then on.
    *
    * State ROWS are bounded by `horizonWeeks`: the report covers
    * week_no 0..horizonWeeks (the standard retention-curve cutoff),
    * so once the watermark passes the horizon's end every reportable
    * week is final and the row is REMOVED. Batch-equality contract
    * (the x96b shape): equals [[graft.operators.Funnel.retention]]
    * restricted to week_no ≤ horizonWeeks whenever (a) every event
    * arrives within `lateness` of the running max event time and
    * (b) no user re-appears after being horizon-reaped (such a
    * return would register as a fresh cohort — out of contract,
    * exactly as beyond-lateness events are out of x96b's).
    *
    * Snapshots reduce via [[retentionVerdicts]]: newest `upd_seq` per
    * (user, week) — a final snapshot always supersedes provisionals,
    * including ones whose provisional cohort shifted. */
  def retentionBounded(events: Dataset[Event], horizonWeeks: Int = 52,
                       lateness: String = "1 hour")
      : Dataset[RetentionSnapshot] = {
    import events.sparkSession.implicits._
    require(horizonWeeks >= 0, s"horizonWeeks must be >= 0, got $horizonWeeks")
    events
      .filter(e => e.ts != null)
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionSnapshot](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[RetentionState]) =>
          def snap(cohortDay: Int, w: Int, seq: Long, fin: Boolean) =
            RetentionSnapshot(uid, w, cohortDay, (w - cohortDay) / 7, seq, fin)
          def horizonEndUs(cohortDay: Int): Long =
            (cohortDay + 7L * (horizonWeeks + 1)) * DayUs
          def inHorizon(cohortDay: Int)(w: Int): Boolean =
            (w - cohortDay) / 7 <= horizonWeeks
          val st = state.getOption.getOrElse(
            RetentionState(Long.MaxValue, Vector.empty, 0L))
          val seq = st.seq + 1
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
          if (state.hasTimedOut) {
            // watermark passed first-seen (flush finals) and/or the
            // horizon end (remove)
            val cohortDay = weekStartDay(st.firstUs)
            val out = st.pendingWeeks.filter(inHorizon(cohortDay))
              .map(w => snap(cohortDay, w, seq, fin = true))
            if (wmUs >= horizonEndUs(cohortDay)) state.remove()
            else {
              state.update(RetentionState(st.firstUs, Vector.empty, seq))
              state.setTimeoutTimestamp(
                Math.floorDiv(horizonEndUs(cohortDay), 1000L) + 1L)
            }
            out.iterator
          } else {
            val ts = batch.map(e => eventMicros(e.ts)).toVector
            if (ts.isEmpty) Iterator.empty
            else {
              val newFirst = math.min(st.firstUs, ts.min)
              val cohortDay = weekStartDay(newFirst)
              val weeks = ts.map(weekStartDay).distinct
              if (wmUs >= newFirst) {
                // cohort final: everything emits final, nothing buffers
                val out = (st.pendingWeeks ++ weeks).distinct
                  .filter(inHorizon(cohortDay))
                  .map(w => snap(cohortDay, w, seq, fin = true))
                if (wmUs >= horizonEndUs(cohortDay)) state.remove()
                else {
                  state.update(RetentionState(newFirst, Vector.empty, seq))
                  state.setTimeoutTimestamp(
                    Math.floorDiv(horizonEndUs(cohortDay), 1000L) + 1L)
                }
                out.iterator
              } else {
                // provisional: buffer, re-emit under the current
                // cohort, and arm the flush at first-seen (legal:
                // newFirst > wmUs here)
                val allW = (st.pendingWeeks ++ weeks).distinct
                state.update(RetentionState(newFirst, allW, seq))
                state.setTimeoutTimestamp(
                  Math.floorDiv(newFirst, 1000L) + 1L)
                allW.filter(inHorizon(cohortDay))
                  .map(w => snap(cohortDay, w, seq, fin = false)).iterator
              }
            }
          }
      }
  }

  /** Reduction over a [[retentionBounded]] snapshot sink: newest
    * snapshot per (user, activity week) — the absolute week is stable
    * even when a provisional cohort shifted — then the cohort-curve
    * rollup `(cohort_week, week_no, users)`, matching
    * [[graft.operators.Funnel.retention]]'s output shape. */
  def retentionVerdicts(snapshots: DataFrame): DataFrame =
    snapshots.groupBy(col("user_id"), col("week_day"))
      .agg(max(struct(col("upd_seq"), col("cohort_day"), col("week_no")))
        .as("last"))
      .groupBy(date_from_unix_date(col("last.cohort_day")).as("cohort_week"),
        col("last.week_no").as("week_no"))
      .agg(count_distinct(col("user_id")).as("users"))

  /** ST2 + storable sketches: per-window HyperLogLog blobs of a key
    * column — the streaming half of the pre-aggregate-once /
    * roll-up-forever pattern (x101): each window's blob lands in the
    * sink, later batch jobs union-merge them (`Hll.merge`) across any
    * slicing and the result is BIT-IDENTICAL to a direct sketch,
    * because the stream and batch aggregations run the same
    * commutative byte-max merge. With `append` output + the watermark
    * the state store holds only open windows (one 2^p-byte buffer
    * each); `complete` mode keeps all windows — replay/gate use.
    * Works identically on batch frames (window() is mode-agnostic). */
  def distinctSketches(events: DataFrame, timeCol: String,
                       windowLen: String, keyCol: String, p: Int = 12,
                       watermark: String = "10 minutes"): DataFrame =
    events.withWatermark(timeCol, watermark)
      .groupBy(window(col(timeCol), windowLen).as("w"))
      .agg(graft.functions.Hll.sketch(col(keyCol), p).as("sketch"))
      .select(col("w.start").as("window_start"), col("sketch"))

  /** ST6: drive a streaming frame into a sink via foreachBatch
    * (overwrite ≙ the reference's WRITE_TRUNCATE; append for deltas). */
  def sinkToParquet(df: DataFrame, outDir: String, checkpointDir: String,
                    mode: String = "append") =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode(mode).parquet(outDir)
      }
      .start()
}
