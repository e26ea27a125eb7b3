package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

/** Streaming SCD2 — the always-on form of the batch q176
  * (`Advanced.stateHistory`): each user's event stream collapses into
  * state-run intervals ACROSS micro-batches, with one `ClosedRun`
  * emitted the moment a state CHANGES; the live (open) run is the
  * 28-byte typed state itself. A CDC consumer appending these rows
  * materializes the same history q176 computes by full recompute —
  * minus only the open tail, which by definition has no valid_to yet.
  *
  * Idempotency: state carries the last applied (ts, event_id); an event
  * at-or-before that watermark is a no-op, so replayed batches emit
  * nothing and count nothing twice (the Funnel strict-> rule, widened
  * to the composite key because equal-ts events are legal and ordered
  * by event_id — q176's exact tie rule). The same rule DROPS
  * out-of-order stragglers: this operator's contract is
  * arrival-order processing; a late-data-correct history is what the
  * batch q176 recompute is for.
  */
object StateTracker {

  final case class TrackEv(user_id: Long, event_type: String, ts: Timestamp,
      event_id: Long) extends ArrivalOrder.Event
  final case class TrackState(state: String, sinceMs: Long, n: Long,
      lastMs: Long, lastId: Long)
  final case class ClosedRun(user_id: Long, state: String,
      valid_from: Timestamp, valid_to: Timestamp, n_events: Long)
  /** [[runsEvicting]]'s output: a closed run plus HOW it closed —
    * "transition" (the q176 rule: the next event changed state) or
    * "idle" (event-time eviction closed the open tail; valid_to is the
    * run's LAST OBSERVED event, not a transition instant).
    */
  final case class RunOut(user_id: Long, state: String,
      valid_from: Timestamp, valid_to: Timestamp, n_events: Long,
      closed_by: String)

  /** State bound (r12 verdict #4): NoTimeout means every user ever
    * seen holds 28 bytes of state FOREVER — unbounded in |users| on an
    * always-on stream. That is the deliberate contract here: this form
    * matches the batch q176 exactly (an open run stays open until its
    * user transitions, however long the silence), so it fits bounded
    * user populations or finite replays; RocksDB state moves the growth
    * to disk but not away. For an unbounded population use
    * [[runsEvicting]], which closes idle runs by event-time timeout and
    * removes their state.
    */
  def runs(ds: Dataset[TrackEv]): Dataset[ClosedRun] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrackState, ClosedRun](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[TrackEv], state) =>
          ArrivalOrder.persistent(state)(transitions(_, evs)((st, t) =>
            ClosedRun(uid, st.state, new Timestamp(st.sinceMs),
              new Timestamp(t), st.n)))
      }
  }

  /** The one run fold of [[runs]] and [[runsEvicting]]: a same-state
    * event extends the run, another closes it (`close(run, t)`, t the
    * changing event's ms) and opens the next. */
  private def transitions[O](st: TrackState, evs: Iterator[TrackEv])(
      close: (TrackState, Long) => O): (TrackState, Seq[O]) = {
    val out = Seq.newBuilder[O]
    def open(e: TrackEv, t: Long) = TrackState(e.event_type, t, 1L, t, e.event_id)
    val after = ArrivalOrder.fold(st, evs, ArrivalOrder.Ms,
        (s: TrackState) => (s.lastMs, s.lastId))(open) { (s, e, t) =>
      if (e.event_type == s.state)
        s.copy(n = s.n + 1, lastMs = t, lastId = e.event_id)
      else { out += close(s, t); open(e, t) }
    }
    (after, out.result())
  }

  /** [[runs]] with an EVENT-TIME eviction story — the form whose state
    * is bounded by the ACTIVE population, not by every user ever seen:
    * when the stream's watermark passes a user's last event by
    * `idleMs`, the open run is emitted as a final row
    * (closed_by = "idle", valid_to = the run's last observed event)
    * and the user's state is REMOVED. Transition closes carry
    * closed_by = "transition" and match [[runs]] row for row.
    *
    * Contract notes:
    *  - `ds` MUST carry a watermark on `ts` (event-time timeouts key
    *    off it); without one Spark rejects the query.
    *  - An event arriving for an evicted user starts a FRESH run — the
    *    idempotency watermark (lastMs, lastId) is part of the evicted
    *    state, so a replay spanning an eviction can re-emit the tail.
    *    Exactly-once replay holds per the same arrival-order contract
    *    as [[runs]]; a late-data-correct history is the batch q176
    *    recompute's job.
    *  - State per live user is the same 28-byte TrackState; the
    *    timeout timestamp is lastMs + idleMs, re-armed on every event.
    */
  def runsEvicting(ds: Dataset[TrackEv], idleMs: Long): Dataset[RunOut] = {
    import ds.sparkSession.implicits._
    require(idleMs > 0, s"idleMs must be positive, got $idleMs")
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrackState, RunOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[TrackEv], state) =>
          ArrivalOrder.evicting(state, idleMs, (s: TrackState) => s.lastMs)(
            st => (None, Seq(RunOut(uid, st.state, new Timestamp(st.sinceMs),
              new Timestamp(st.lastMs), st.n, "idle"))))(
            transitions(_, evs)((st, t) => RunOut(uid, st.state,
              new Timestamp(st.sinceMs), new Timestamp(t), st.n,
              "transition")))
      }
  }

  /** Always-on file-source form of [[runsEvicting]] (the `track` CLI —
    * r13 verdict #5): watch a landing dir of parquet events
    * (user_id, event_type, ts, event_id — the [[TrackEv]] schema),
    * watermark on `ts`, and append every closed run — transition AND
    * idle — to `outDir/runs`, checkpoint at `outDir/_checkpoint`.
    * Default trigger AvailableNow: drain what's landed, then stop
    * (cron-friendly, the Incremental convention); pass a
    * processing-time trigger for a daemon.
    *
    * Choosing `idleMs` vs the watermark delay: the watermark delay is
    * the INGESTION-lag allowance — how out-of-order events may arrive
    * and still be applied (and it holds the eviction clock back by
    * exactly that much); `idleMs` is the BUSINESS rule for "this run
    * ended by silence". An idle close for a user fires once observed
    * event time advances past lastEvent + idleMs + delay, so pick
    * idleMs well above the delay — otherwise ingestion lag, not user
    * silence, decides when runs close.
    */
  def startTracking(spark: SparkSession, landingDir: String,
      outDir: String, idleMs: Long, watermarkDelay: String = "10 seconds",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val evs = MicroBatch.source(spark, landingDir,
        Encoders.product[TrackEv].schema)
      .withWatermark("ts", watermarkDelay)
      .as[TrackEv]
    MicroBatch.appendFiles(runsEvicting(evs, idleMs),
      s"$outDir/_checkpoint", trigger, s"$outDir/runs")
  }
}
