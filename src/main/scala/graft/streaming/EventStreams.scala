package graft.streaming

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
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
    * Every keyed state row in this object holds binary columns, not
    * collections. Spark 4.1 deserializes every array or `Seq` field
    * (primitive `Array[Long]` too) through `MapObjects`, whose lambda
    * variables get fresh ids each time the state encoder is resolved,
    * which is once per micro-batch, so the state deserializer compiled
    * again on every batch (measured with `Array[Long]` fields: one
    * class per batch). A binary column reads with no lambda, and the
    * class compiles once per session. A checkpoint written with an
    * earlier `Seq` layout (`evs` here; `acc`/`tail` in [[FunnelChain]],
    * `tail` in [[AttribState]], `pendingWeeks` in [[RetentionState]])
    * does not restart silently: Spark's state-schema check rejects the
    * new value schema when the restarted query plans its first batch
    * (pinned in `StreamingSpec`). */
  case class FunnelBuf(events: Array[Byte])
  case class FunnelSnapshot(user_id: Long, n_seen: Long, level: Int)
  /** Bounded-mode state: the greedy chain's slot timestamps for the
    * watermark-FROZEN prefix (`acc`, -1 = unfilled, packed by
    * [[packSlots]]), how many events that prefix folded (`nPref`), and
    * only the not-yet-frozen tail of raw events (`tail`, packed by
    * [[packEvents]]). */
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

  /** A state column: `xs` written one after another, big-endian. */
  private def pack[A](xs: Iterable[A])(put: (DataOutputStream, A) => Unit): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    xs.foreach(put(out, _))
    out.flush()
    bytes.toByteArray
  }

  private def unpack[A](bytes: Array[Byte])(get: DataInputStream => A): IndexedSeq[A] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val out = Vector.newBuilder[A]
    while (in.available() > 0) out += get(in)
    out.result()
  }

  /** `(epoch micros, step)` events as a state column: 12 bytes each. */
  private def packEvents(evs: Iterable[(Long, Int)]): Array[Byte] =
    pack(evs) { (o, e) => o.writeLong(e._1); o.writeInt(e._2) }

  private def unpackEvents(bytes: Array[Byte]): IndexedSeq[(Long, Int)] =
    unpack(bytes)(in => (in.readLong(), in.readInt()))

  /** Chain slot timestamps as a state column: 8 bytes each. */
  private def packSlots(acc: Array[Long]): Array[Byte] = pack(acc)(_.writeLong(_))

  private def unpackSlots(bytes: Array[Byte]): Array[Long] =
    unpack(bytes)(_.readLong()).toArray

  /** Merges sorted `b` into sorted `a`; on ties `a`'s events come first,
    * as in a stable sort of `a ++ b`. */
  private def mergeSorted[E](a: IndexedSeq[E], b: IndexedSeq[E])(
      ord: Ordering[E]): IndexedSeq[E] = {
    if (b.isEmpty) return a
    val out = Vector.newBuilder[E]
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
          val prev = state.getOption.fold(IndexedSeq.empty[(Long, Int)])(b => unpackEvents(b.events))
          // prev is sorted: sort only the new batch and MERGE — the
          // per-batch cost is O(buffer + batch log batch), not a full
          // re-sort of the history
          val add = batch.map(e =>
            (eventMicros(e.ts), stepIdx(e.event_type))).toVector.sorted
          val all = mergeSorted(prev, add)(Ordering[(Long, Int)])
          state.update(FunnelBuf(packEvents(all)))
          Iterator(FunnelSnapshot(uid, all.size.toLong, greedy(all)))
      }
  }

  /** What differs between the bounded keyed state machines;
    * [[boundedFold]] runs the watermark protocol around it. `E` is a
    * buffered event, `R` the residue its committed events fold into,
    * `S` the binary state row. */
  private abstract class BoundedMachine[E, R, S, Out] extends Serializable {
    def accepts(eventType: String): Boolean
    def encode(e: Event): E
    def micros(e: E): Long
    val order: Ordering[E]
    def empty: R
    def load(s: S): (R, IndexedSeq[E])
    def store(r: R, tail: Seq[E]): S
    /** `r` with the sorted `evs` folded in (they sort after every event
      * `r` holds), and the rows the fold emits. The `provisional` pass
      * runs over the events still buffered and its residue is
      * discarded; `nBuffered` is how many events the invocation leaves
      * in the buffer. */
    def fold(uid: Long, r: R, evs: Seq[E], nBuffered: Int,
             provisional: Boolean): (R, Seq[Out])
    /** True when, with an empty buffer, no event the watermark still
      * admits can change what `r` emits: the row can leave the store. */
    def removable(r: R, wmMs: Long): Boolean
    /** Epoch micros after which a kept, not removable `r` with an
      * empty buffer should be looked at again, if ever. */
    def expiryUs(r: R): Option[Long]
  }

  /** The watermark protocol of the bounded machines. A watermark
    * (`lateness`) bounds how far behind the running max event time
    * input may arrive; anything older is dropped by the engine. Each
    * invocation merges the user's new events into the sorted buffer and
    * splits it at the watermark: no future input can sort before an
    * event the watermark passed, so those are FINAL and fold into the
    * committed residue, and a provisional pass over the kept events
    * gives the rows that can still change. A row whose buffer is empty
    * and whose residue is removable leaves the state store; otherwise
    * the `EventTimeTimeout` is armed at the newest buffered event, or
    * else at the residue's expiry, so users who go quiet still fold and
    * get reaped. On timeout the whole buffer is final: it folds, and
    * the row is removed or stored with an empty buffer and its expiry
    * armed. */
  private def boundedFold[E, R, S: Encoder, Out: Encoder](events: Dataset[Event],
      lateness: String, m: BoundedMachine[E, R, S, Out]): Dataset[Out] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.ts != null && e.event_type != null && m.accepts(e.event_type))
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[S, Out](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[S]) =>
          val (r0, tail) = state.getOption.fold((m.empty, IndexedSeq.empty[E]))(m.load)
          val wmMs = state.getCurrentWatermarkMs()
          val (evict, keep) =
            if (state.hasTimedOut) (tail, IndexedSeq.empty[E])
            else {
              // the buffer is sorted: sort only the batch and merge
              val add = batch.map(m.encode).toVector.sorted(m.order)
              // watermark 0 means "none yet": evict nothing
              val cutoff = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
              mergeSorted(tail, add)(m.order).span(m.micros(_) < cutoff)
            }
          val (r, finals) = m.fold(uid, r0, evict, keep.size, provisional = false)
          val provisionals =
            if (state.hasTimedOut) Nil
            else m.fold(uid, r, keep, keep.size, provisional = true)._2
          if (keep.isEmpty && m.removable(r, wmMs)) state.remove()
          else {
            state.update(m.store(r, keep))
            // both lie past the watermark: kept events are at or after
            // the cutoff, and a residue that is not removable expires
            // after it
            keep.lastOption.map(m.micros).orElse(m.expiryUs(r))
              .foreach(armTimeout(state, _))
          }
          (finals ++ provisionals).iterator
      }
  }

  /** Arms the row's `EventTimeTimeout` to fire once the watermark
    * passes epoch micros `us`. */
  private def armTimeout(state: GroupState[_], us: Long): Unit =
    state.setTimeoutTimestamp(Math.floorDiv(us, 1000L) + 1L)

  /** [[funnelLevels]] with BOUNDED state — the production mode for
    * unbounded streams, on the watermark protocol of [[boundedFold]]:
    * an event the watermark passed has a FINAL greedy outcome and folds
    * into the frozen chain slots (`FunnelChain.acc`: k timestamps).
    * Per-user state is therefore k+1 longs plus only the events
    * inside the current lateness window, instead of the full per-user
    * history, and the timeout collapses the buffer of users who go
    * quiet, so idle users converge to the k+1-long residue too.
    * Results equal [[funnelLevels]] — and the batch operator —
    * exactly, whenever every event arrives within `lateness` of the
    * running max event time.
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

  /** A greedy chain's frozen slots and how many events they folded. */
  private case class Chain(acc: Array[Long], nPref: Long)

  /** The greedy-chain machine behind [[funnelLevelsBounded]] and
    * [[stepTimesBounded]]: identical state/eviction/reap semantics,
    * parameterized only by what each data-driven snapshot projects out
    * of the greedy slot array. A timeout emits nothing (n_seen and the
    * slots are unchanged since the last data-driven snapshot, whose
    * provisional pass already folded the buffer). */
  private def chainCoreBounded[Out](events: Dataset[Event],
      steps: Seq[String], windowSeconds: Option[Long], lateness: String)(
      emit: (Long, Long, Array[Long], Int) => Out)(
      implicit outEnc: Encoder[Out]): Dataset[Out] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      "funnel steps must be non-empty and distinct")
    val stepIdx = steps.zipWithIndex.toMap
    val k = steps.size
    val winUs = windowSeconds.map(_ * 1000000L)
    boundedFold(events, lateness, new BoundedMachine[(Long, Int), Chain, FunnelChain, Out] {
      def accepts(eventType: String) = stepIdx.contains(eventType)
      def encode(e: Event) = (eventMicros(e.ts), stepIdx(e.event_type))
      def micros(e: (Long, Int)) = e._1
      val order = Ordering[(Long, Int)]
      def empty = Chain(Array.fill(k)(-1L), 0L)
      def load(s: FunnelChain) = (Chain(unpackSlots(s.acc), s.nPref), unpackEvents(s.tail))
      def store(r: Chain, tail: Seq[(Long, Int)]) =
        FunnelChain(packSlots(r.acc), r.nPref, packEvents(tail))
      def fold(uid: Long, r: Chain, evs: Seq[(Long, Int)], nBuffered: Int,
               provisional: Boolean) = {
        val acc = r.acc.clone()
        greedyInto(acc, winUs, evs)
        val next = Chain(acc, r.nPref + evs.size)
        (next, if (provisional) Seq(emit(uid, next.nPref, acc, nBuffered)) else Nil)
      }
      // an empty-buffered residue is REMOVABLE when no admissible future
      // event can change its chain, so state rows track OPEN chains,
      // not the all-time user population:
      // (a) the chain NEVER started (acc all -1): pre-step-0 events can
      //     never fill a slot (greedy needs t > acc(0)), and
      //     boundedVerdicts tolerates the n_seen restart (never-started
      //     snapshots carry chain_start = -1, level 0, and lose to any
      //     started chain); without this, users who never emit step 0
      //     would each leak a permanent row;
      // (b) the chain is COMPLETE: nothing left to fill, and a restart
      //     chain starts at ts ≥ watermark > every frozen slot time, so
      //     it loses the min-chain_start selection;
      // (c) the watermark passed a started chain's window end: anything
      //     it still admits is out-of-window for every unfilled slot.
      def removable(r: Chain, wmMs: Long) =
        r.acc(0) == -1L || !r.acc.contains(-1L) ||
          winUs.exists(w => wmMs > 0L && wmMs * 1000L > r.acc(0) + w)
      // a started chain with an open window: reap it when the window
      // closes, even if the user never returns
      def expiryUs(r: Chain) = winUs.map(r.acc(0) + _)
    })
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
  /** Attribution state: the latest finalized touch, the buffered
    * events (packed by [[packAttrib]]) and the invocation count. */
  case class AttribState(lastTs: Long, lastCh: String,
                         tail: Array[Byte], seq: Long)
  case class AttribSnapshot(user_id: Long, event_id: Long, ts: Long,
                            value: Double, channel: String,
                            upd_seq: Long, n_buffered: Int,
                            is_final: Boolean)
  private case class LastTouch(ts: Long, ch: String, seq: Long)

  /** Attribution events as a state column; the channel is written by
    * `writeUTF`, which throws on a name over 65 535 bytes. */
  private def packAttrib(evs: Iterable[AttribEv]): Array[Byte] =
    pack(evs) { case (o, (t, kind, ch, v, id)) =>
      o.writeLong(t); o.writeInt(kind); o.writeUTF(ch); o.writeDouble(v); o.writeLong(id)
    }

  private def unpackAttrib(bytes: Array[Byte]): IndexedSeq[AttribEv] =
    unpack(bytes)(in => (in.readLong(), in.readInt(), in.readUTF(), in.readDouble(), in.readLong()))

  /** ST5 bounded-state streaming LAST-TOUCH ATTRIBUTION — the x92
    * batch operator (backward as-of within a lookback) as a keyed
    * state machine on the watermark protocol of [[boundedFold]].
    * Per-user state is ONE (ts, channel) pair — the latest finalized
    * touch — plus only the events inside the current lateness window;
    * once the watermark passes an event its as-of outcome is FINAL (no
    * admissible future touch can sort before it), so it folds into the
    * pair and leaves the buffer.
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
    boundedFold(events, lateness,
        new BoundedMachine[AttribEv, LastTouch, AttribState, AttribSnapshot] {
      def accepts(eventType: String) =
        touchSet.contains(eventType) || eventType == conversionType
      def encode(e: Event) = {
        val t = eventMicros(e.ts)
        if (touchSet.contains(e.event_type)) (t, 0, e.event_type, 0.0, e.event_id)
        else (t, 1, "", e.value, e.event_id)
      }
      def micros(e: AttribEv) = e._1
      val order = Ordering.by[AttribEv, (Long, Int, String)](e => (e._1, e._2, e._3))
      def empty = LastTouch(Long.MinValue, null, 0L)
      def load(s: AttribState) = (LastTouch(s.lastTs, s.lastCh, s.seq), unpackAttrib(s.tail))
      def store(r: LastTouch, tail: Seq[AttribEv]) =
        AttribState(r.ts, r.ch, packAttrib(tail), r.seq)
      // each invocation commits exactly once, so the committed fold
      // advances upd_seq; conversions emit their verdicts in order
      def fold(uid: Long, r: LastTouch, evs: Seq[AttribEv], nBuffered: Int,
               provisional: Boolean) = {
        val seq = if (provisional) r.seq else r.seq + 1
        var lastTs = r.ts
        var lastCh = r.ch
        val out = Vector.newBuilder[AttribSnapshot]
        evs.foreach {
          case (t, 0, ch, _, _) =>
            if (t > lastTs || (t == lastTs && (lastCh == null || ch > lastCh))) {
              lastTs = t
              lastCh = ch
            }
          case (t, _, _, v, id) =>
            val credited =
              if (lastTs != Long.MinValue && lastTs >= t - lookUs) lastCh else null
            out += AttribSnapshot(uid, id, t, v, credited, seq, nBuffered, !provisional)
        }
        (LastTouch(lastTs, lastCh, seq), out.result())
      }
      def removable(r: LastTouch, wmMs: Long) =
        r.ts == Long.MinValue || (wmMs > 0L && wmMs * 1000L - r.ts > lookUs)
      // the touch residue stays creditable until the lookback expires
      def expiryUs(r: LastTouch) = Some(r.ts + lookUs)
    })
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

  /** Retention state: first-seen time, the distinct activity weeks
    * (epoch days, packed 4 bytes each) whose cohort is not yet final,
    * and the invocation count. */
  case class RetentionState(firstUs: Long, pendingWeeks: Array[Byte], seq: Long)
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
    * state row is one long from then on. The buffer holds distinct
    * weeks and finality follows first-seen time, not each event's
    * own, so this machine keeps its own transitions rather than
    * [[boundedFold]]'s.
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
          val (first0, pending, seq0) = state.getOption.fold(
            (Long.MaxValue, IndexedSeq.empty[Int], 0L))(
            s => (s.firstUs, unpack(s.pendingWeeks)(_.readInt()), s.seq))
          val seq = seq0 + 1
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = if (wmMs > 0L) wmMs * 1000L else Long.MinValue
          // empty on timeout
          val ts = batch.map(e => eventMicros(e.ts)).toVector
          val first = ts.foldLeft(first0)(math.min)
          val cohortDay = weekStartDay(first)
          val weeks = (pending ++ ts.map(weekStartDay)).distinct
          val horizonEndUs = (cohortDay + 7L * (horizonWeeks + 1)) * DayUs
          // a timeout fires at first-seen (flush the finals) or at the
          // horizon end (remove); otherwise the cohort is final once the
          // watermark passes first-seen
          val cohortFinal = state.hasTimedOut || wmUs >= first
          if (!cohortFinal) {
            // provisional: buffer, re-emit under the current cohort, and
            // arm the flush at first-seen (legal: first > wmUs here)
            state.update(RetentionState(first, pack(weeks)(_.writeInt(_)), seq))
            armTimeout(state, first)
          } else if (wmUs >= horizonEndUs) state.remove()
          else {
            state.update(RetentionState(first, Array.emptyByteArray, seq))
            armTimeout(state, horizonEndUs)
          }
          weeks.filter(w => (w - cohortDay) / 7 <= horizonWeeks).map(w =>
            RetentionSnapshot(uid, w, cohortDay, (w - cohortDay) / 7, seq, cohortFinal))
            .iterator
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
