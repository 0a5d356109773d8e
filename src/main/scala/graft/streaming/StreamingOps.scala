package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

case class BandRow(doc_id: Long, band: Int, sig: String)
case class DocAnchor(doc_id: Long, anchor: Long)

case class FunnelEvent(user_id: Long, event_type: String, ts_ns: Long)
case class FunnelState(times: Seq[Long])
case class FunnelAdvance(user_id: Long, step_idx: Int, step: String,
                         t_ns: Long, lag_ns: Long)

case class ThrottleEvent(user_id: Long, event_type: String,
                         event_id: Long, ts_ns: Long)
case class ThrottleState(prevNs: Long)
case class ThrottleKept(user_id: Long, event_type: String, event_id: Long)

case class BalanceDelta(key: Long, seq: Long, delta: Long)
case class BalanceState(balance: Long, lastSeq: Long)
case class BalanceOut(key: Long, seq: Long, balance: Long)

case class LatenessEvent(user_id: Long, event_id: Long, ts_ns: Long)
case class LatenessState(maxNs: Long, lastId: Long)
case class LatenessOut(user_id: Long, event_id: Long, late: Long,
                       late_ns: Long)

case class SessionEvent(user_id: Long, event_id: Long, ts_ns: Long)
case class SessionRun(startNs: Long, endNs: Long, n: Long)
case class SessionState(maxTsNs: Long, runs: Seq[SessionRun])
case class SessionOut(user_id: Long, session_start_ns: Long,
                      session_end_ns: Long, n_events: Long)

/** Structured Streaming operators (additive — the reference is batch
  * only, SURVEY.md §2.8, but the `events` stream table makes the
  * streaming variants of the same computations natural).
  *
  * Both operators are the streaming duals of batch queries in
  * SparkEntry (q_events_window / q_events_sessionize), so batch output
  * doubles as the correctness oracle for a replayed stream.
  */
object StreamingOps {

  /** Watermarked tumbling-window counts per event type — the streaming
    * dual of q_events_window. Late events beyond the watermark are
    * dropped; state is bounded by (watermark horizon / window) ×
    * |event_type|, which is what makes this runnable forever at scale.
    */
  def windowedCounts(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           round(sum(col("value")), 6).as("sum_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState) — the streaming dual of
    * q_events_sessionize. Emits a session row when a gap exceeds
    * `gapNs`; state per user is O(1) (the open session's interval).
    * Pass ProcessingTimeTimeout in a long-running deployment to flush
    * idle users' open sessions (with NoTimeout, the default, open
    * sessions stay in state — which is also what lets a
    * drain-the-source test terminate).
    *
    * Late-data contract (the watermark-boundary corner, pinned by
    * StreamingSessionLateSpec): each microbatch is merged with the
    * PENDING session runs by an INTERVAL SWEEP — kept runs and the
    * batch's event points coalesce whenever they are within `gapNs`,
    * so an out-of-order event landing inside or within the gap of a
    * pending session EXTENDS it in both directions (a naive
    * `lastNs := e.ts` would walk the session's end backwards and
    * mis-split on the next event). A run is EMITTED only once no
    * event still in flight could bridge it: with `latenessNs` the
    * upstream disorder bound (the watermark), a future event's ts is
    * ≥ maxSeenTs − latenessNs, and bridging a run needs
    * ts ≤ run.end + gapNs — so a run closes exactly when
    * `run.end + gapNs < maxSeenTs − latenessNs`. Under that bound,
    * streaming output equals the batch gaps-and-islands result
    * EXACTLY; an event later than the declared bound is still never
    * dropped — it lands in (or becomes) a pending run and is emitted
    * as its own session row, it just can no longer re-open an
    * already-emitted one (append sinks are immutable).
    *
    * `latenessNs = 0` (default) is the eager in-order contract: a run
    * closes as soon as a later event leaves a gap behind it —
    * byte-compatible with the previous single-run formulation on
    * in-order streams. State per user is the runs inside the
    * `latenessNs + gapNs` horizon plus one — O(horizon / min event
    * spacing), the same bound any watermarked session operator
    * carries, NOT O(history).
    */
  def sessionize(events: Dataset[SessionEvent], gapNs: Long,
                 timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
                 latenessNs: Long = 0L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    require(gapNs > 0, s"session gap must be positive: $gapNs")
    require(latenessNs >= 0, s"lateness bound must be >= 0: $latenessNs")
    val useTimeout = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.toSeq.flatMap(_.runs)
              .map(r => SessionOut(userId, r.startNs, r.endNs, r.n))
            state.remove()
            out.iterator
          } else {
            val prev = state.getOption.getOrElse(SessionState(Long.MinValue, Nil))
            val evts = it.toSeq
            // interval sweep over (pending runs + event points)
            // ordered by start: adjacent items within gapNs coalesce
            val items = prev.runs.map(r => (r.startNs, r.endNs, r.n)) ++
              evts.sortBy(e => (e.ts_ns, e.event_id))
                .map(e => (e.ts_ns, e.ts_ns, 1L))
            val runs = items.sortBy(x => (x._1, x._2))
              .foldLeft(List.empty[(Long, Long, Long)]) {
                case ((hs, he, hn) :: t, (s, e, n)) if s - he <= gapNs =>
                  (hs, math.max(he, e), hn + n) :: t
                case (acc, r) => r :: acc
              }.reverse
              .map(r => SessionRun(r._1, r._2, r._3))
            if (runs.isEmpty) Iterator.empty
            else {
              val maxTs = math.max(prev.maxTsNs,
                evts.foldLeft(Long.MinValue)((m, e) => math.max(m, e.ts_ns)))
              // close runs no in-flight event can bridge; keep the rest
              val (closed, pending) = runs.partition(r =>
                r.endNs + gapNs < maxTs - latenessNs)
              state.update(SessionState(maxTs, pending))
              if (useTimeout) state.setTimeoutDuration("30 seconds")
              closed.map(r => SessionOut(userId, r.startNs, r.endNs, r.n))
                .iterator
            }
          }
      }
  }

  /** Live ordered-step funnel — the streaming dual of
    * [[graft.operators.Funnel]]. Per-user state is the prefix of step
    * times reached so far (≤ |steps| longs — bounded, unlike buffering
    * the event history); each microbatch advances the prefix through
    * its ts-sorted events and emits one FunnelAdvance per step crossed.
    *
    * Equality with the batch earliest-completion chain: processed in
    * timestamp order, "first step-k event strictly after t(k−1)" IS
    * "min step-k event strictly after t(k−1)", so per-user in-order
    * greedy ≡ batch greedy. Within a microbatch the group iterator is
    * sorted here; ACROSS microbatches the source must not split a
    * user's events out of time order (true of replay and of any
    * event-time-partitioned ingest; a late straggler beyond that needs
    * the batch query — same caveat as any streaming funnel).
    */
  def funnelAdvances(events: Dataset[FunnelEvent], steps: Seq[String])
      : Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "funnel needs at least one step")
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, it, state: GroupState[FunnelState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_type))
          var times = state.getOption.map(_.times).getOrElse(Seq.empty)
          val out = Seq.newBuilder[FunnelAdvance]
          sorted.foreach { e =>
            val k = times.length
            if (k < steps.length && e.event_type == steps(k) &&
                (k == 0 || e.ts_ns > times(k - 1))) {
              times = times :+ e.ts_ns
              out += FunnelAdvance(uid, k + 1, steps(k), e.ts_ns,
                                   e.ts_ns - times.head)
            }
          }
          if (times.nonEmpty) state.update(FunnelState(times))
          out.result().iterator
      }
  }

  /** Streaming throttle/debounce — the dual of q_throttle: keep an
    * event iff it is ≥ `gapNs` after its predecessor in the same
    * (user, type) stream, predecessor meaning the previous event
    * whether or not IT was kept (the lag-gap contract, which is what
    * makes the state O(1): just the previous timestamp). In-order
    * arrival per key gives exactly the batch window result.
    */
  def throttled(events: Dataset[ThrottleEvent], gapNs: Long)
      : Dataset[ThrottleKept] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[ThrottleState, ThrottleKept](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[ThrottleState]) =>
          val sorted = it.toSeq.sortBy(e => (e.ts_ns, e.event_id))
          var prev = state.getOption.map(_.prevNs)
          val out = Seq.newBuilder[ThrottleKept]
          sorted.foreach { e =>
            if (prev.forall(p => e.ts_ns - p >= gapNs))
              out += ThrottleKept(e.user_id, e.event_type, e.event_id)
            prev = Some(e.ts_ns)
          }
          prev.foreach(p => state.update(ThrottleState(p)))
          out.result().iterator
      }
  }

  /** Live out-of-order monitor — the streaming dual of
    * q_ooo_lateness: per arriving event, is its timestamp behind the
    * running max of earlier arrivals for the same user, and by how
    * much. Arrival order is the event_id sequence (enforced in-batch
    * by sort, across batches by `lastId`), so a replay emits exactly
    * the batch window result. State is O(1) per key: the running max
    * timestamp and the last applied id — this is the live feed a
    * watermark-tuning loop would consume.
    */
  def latenessMonitor(events: Dataset[LatenessEvent])
      : Dataset[LatenessOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LatenessState, LatenessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, it, state: GroupState[LatenessState]) =>
          val sorted = it.toSeq.sortBy(_.event_id)
          var st = state.getOption
            .getOrElse(LatenessState(Long.MinValue, Long.MinValue))
          val out = Seq.newBuilder[LatenessOut]
          sorted.foreach { e =>
            if (e.event_id > st.lastId) {
              val late = st.maxNs != Long.MinValue && e.ts_ns < st.maxNs
              out += LatenessOut(user, e.event_id,
                if (late) 1L else 0L,
                if (late) st.maxNs - e.ts_ns else 0L)
              st = LatenessState(math.max(st.maxNs, e.ts_ns), e.event_id)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Streaming floor-at-zero running balance — the live dual of
    * `Series.cappedBalance`: the batch form unrolls the recurrence
    * into two windows; the streaming form just RUNS the recurrence,
    * because per-key arrival order is exactly the sequential
    * dependency the batch identity removes. State is O(1) per key
    * (current balance + last applied seq for in-order enforcement).
    */
  def cappedBalanceStream(deltas: Dataset[BalanceDelta])
      : Dataset[BalanceOut] = {
    import deltas.sparkSession.implicits._
    deltas.groupByKey(_.key)
      .flatMapGroupsWithState[BalanceState, BalanceOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key, it, state: GroupState[BalanceState]) =>
          val sorted = it.toSeq.sortBy(_.seq)
          var st = state.getOption.getOrElse(BalanceState(0L, Long.MinValue))
          val out = Seq.newBuilder[BalanceOut]
          sorted.foreach { d =>
            if (d.seq > st.lastSeq) {
              st = BalanceState(math.max(0L, st.balance + d.delta), d.seq)
              out += BalanceOut(key, d.seq, st.balance)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Stream-static enrichment join: a streaming fact against a batch
    * dimension. Spark broadcasts (or re-plans per microbatch) the
    * static side; no state is kept, so this scales with the dimension
    * size, not the stream history — the standard shape for joining a
    * 100 TB/day event stream against reference data. */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame,
                       key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Watermarked streaming deduplication by event id: exactly-once
    * delivery over an at-least-once source. `dropDuplicates` keeps one
    * row per id with state bounded by the watermark horizon — without
    * the watermark the id set would grow forever; with it, a duplicate
    * arriving later than `watermark` after the original is the only
    * miss. The streaming dual of batch `dropDuplicates`/exact dedup. */
  def dedupByIdStream(events: DataFrame, idCol: String,
                      watermark: String): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicates(idCol, "ts")

  /** Ingest-time near-duplicate detection — the streaming dual of
    * batch MinHash LSH (`Dedup.lshCandidatePairs`): documents arrive
    * as a stream, `Dedup.bandSignatureRows` buckets them map-side (no
    * aggregation, so it runs on a streaming frame), and per-bucket
    * keyed state holds ONE long — the minimum doc id ever seen in that
    * bucket. Each arriving doc emits (doc_id, bucket-min) per band;
    * the doc's final anchor is the min across its emissions
    * (Update-mode sink + `min(anchor) GROUP BY doc_id`), and
    * `anchor < doc_id` marks a near-dup candidate of `anchor` — a new
    * corpus batch dedups against ALL history without rescanning it.
    *
    * Scale shape: state is |distinct band signatures| longs — the
    * inverted index a batch join would rebuild per run, kept
    * incrementally instead. In a long-running deployment wrap the
    * state store with RocksDB and add a timeout/TTL policy for buckets
    * cold longer than the dedup horizon (NoTimeout here keeps
    * drain-the-source tests deterministic).
    */
  def nearDupAnchors(bandRows: Dataset[BandRow]): Dataset[DocAnchor] = {
    import bandRows.sparkSession.implicits._
    bandRows.groupByKey(r => (r.band, r.sig))
      .flatMapGroupsWithState[Long, DocAnchor](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_, it, state: GroupState[Long]) =>
          val ids = it.map(_.doc_id).toArray
          val anchor = math.min(state.getOption.getOrElse(Long.MaxValue),
                                ids.min)
          state.update(anchor)
          ids.iterator.map(id => DocAnchor(id, anchor))
      }
  }

  /** Stream-stream interval join — click→purchase attribution: pair
    * each click with the same user's purchases landing within `maxGap`
    * AFTER it. The interval condition (`p.ts ∈ [c.ts, c.ts+maxGap]`)
    * plus both watermarks is what lets Structured Streaming bound the
    * join state: a buffered click is dropped once the purchase-side
    * watermark passes `c.ts + maxGap`, so state is O(events in the
    * gap window), never O(history). `withWatermark` is a no-op on
    * batch frames, so the SAME function is the batch query
    * (`q_attribution`) and its streaming dual — differentially
    * spec-tested (StreamingSpec).
    *
    * `gap_us` is integer µs arithmetic on the ts_ns column, not
    * timestamp subtraction, so the oracle reproduces it exactly.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      maxGap: String, watermark: String): DataFrame =
    attributionJoinTyped(clicks, purchases, maxGap, watermark, "inner")

  // one definition of the watermarks, interval condition, and output
  // shape: an edit reaching only one join type would silently break
  // the stream≡batch differentials both public forms are gated by
  private def attributionJoinTyped(clicks: DataFrame, purchases: DataFrame,
                                   maxGap: String, watermark: String,
                                   joinType: String): DataFrame = {
    val c = clicks.withWatermark("ts", watermark).alias("c")
    val p = purchases.withWatermark("ts", watermark).alias("p")
    c.join(p, expr(
        s"c.user_id = p.user_id AND p.ts >= c.ts" +
        s" AND p.ts <= c.ts + interval '$maxGap'"), joinType)
      .select(col("c.user_id").as("user_id"),
              col("c.event_id").as("click_id"),
              col("p.event_id").as("purchase_id"),
              expr("(p.ts_ns - c.ts_ns) div 1000").as("gap_us"))
  }

  /** LEFT OUTER stream-stream interval join — [[attributionJoin]]
    * plus the unconverted clicks: a click with no purchase in its gap
    * window is emitted with null purchase columns. The outer side is
    * the state-EVICTION shape inner joins never exercise: Structured
    * Streaming may only emit the null-padded row once the purchase
    * watermark has passed `c.ts + maxGap` (before that a match could
    * still arrive), so unmatched clicks surface with watermark delay —
    * the documented outer-join semantics, asserted by the streaming
    * differential rather than re-derived here. Batch (`withWatermark`
    * a no-op) emits them immediately; the spec proves stream ≡ batch
    * on the watermark-closed prefix. */
  def attributionJoinLeftOuter(clicks: DataFrame, purchases: DataFrame,
                               maxGap: String,
                               watermark: String): DataFrame =
    attributionJoinTyped(clicks, purchases, maxGap, watermark, "left_outer")

  /** File-stream reader for the events fixture — ts normalization is
    * shared with the batch loader (Tables.normalizeEvents), so both
    * paths track the fixture's actual encoding (nanos-long vs
    * timestamp[us]). The file source requires a DIRECTORY, so the
    * single fixture file is staged into a temp dir once. */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = java.nio.file.Paths.get(s"$sfDir/events.parquet")
    val dir = java.nio.file.Paths.get(
      s"/tmp/graft_stream_events/${sfDir.replaceAll("[^A-Za-z0-9.]", "_")}")
    java.nio.file.Files.createDirectories(dir)
    val dst = dir.resolve("events.parquet")
    // re-stage if the fixture changed (size differs) — a stale copy from
    // a prior run could carry a different ts encoding than the schema
    // read below, silently corrupting every streamed row
    if (!java.nio.file.Files.exists(dst) ||
        java.nio.file.Files.size(dst) != java.nio.file.Files.size(src))
      java.nio.file.Files.copy(src, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.Tables.normalizeEvents(
      spark.readStream.schema(schema).parquet(dir.toString))
  }
}
