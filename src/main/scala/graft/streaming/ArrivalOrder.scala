package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.streaming.GroupState

/** The arrival-order rule of the typed-state monitors (StateTracker,
  * StreamingTrend, StreamingCusum and StreamingGeo's zone-visit,
  * resample and dark-gap monitors) and the idle-timeout protocol of the
  * evicting ones (StateTracker.runsEvicting,
  * StreamingTrend.levelsEvicting, StreamingCusum.alarms,
  * Sessions.gapAlerts).
  *
  * The rule: a key's events apply in `(ts, event_id)` order, and the
  * state keeps the last applied one as its mark. An event at or before
  * the mark is a replay (a batch re-run after a lost commit) or a
  * straggler and changes nothing, so a replay emits nothing twice
  * without any dedup state; a late-data-correct answer is the batch
  * recompute's job. Each monitor keeps its mark in its state's own
  * unit: ms, or floor-seconds for the resample and dark-gap monitors,
  * whose output is second-granular. Funnel keeps its own rule (a stage
  * time strictly after the last stage, no event id). MicroBatchSpec
  * keeps every other mark comparison, `(ts, event_id)` sort and timeout
  * call out of `streaming/`.
  */
private[streaming] object ArrivalOrder {

  /** An event's place in its key's stream. The event case classes mix
    * it in; their encoders read the constructor fields only. */
  trait Event {
    def ts: Timestamp
    def event_id: Long
  }

  /** A mark's unit, from an event's epoch ms. */
  val Ms: Long => Long = identity
  val Seconds: Long => Long = ms => Math.floorDiv(ms, 1000L)

  /** Fold one key's batch `evs` into `st` (null: no state yet) in
    * `(ts, event_id)` order. `at` is the state's unit and `mark` reads
    * the state's last applied (instant, event id) in it. The first event
    * seeds an absent state (`init`); each event strictly after the mark
    * goes through `step`; any other is skipped. Both get the event and
    * its instant in the state's unit. Returns the last state, which is
    * `st` itself when nothing applied. */
  def fold[E <: Event, S >: Null <: AnyRef](st: S, evs: Iterator[E],
      at: Long => Long, mark: S => (Long, Long))(init: (E, Long) => S)(
      step: (S, E, Long) => S): S = {
    var s = st
    evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
      val t = at(e.ts.getTime)
      if (s == null) s = init(e, t)
      else {
        val (lastT, lastId) = mark(s)
        if (t > lastT || (t == lastT && e.event_id > lastId))
          s = step(s, e, t)
      }
    }
    s
  }

  /** One call of a key's group function without a timeout: `batch`
    * maps the stored state (null: none) to the next state and the rows
    * to emit; a state that did not change is not written back. */
  def persistent[S >: Null <: AnyRef, O](state: GroupState[S])(
      batch: S => (S, Seq[O])): Iterator[O] = {
    val before = state.getOption.orNull
    val (after, rows) = batch(before)
    if (after ne before) state.update(after)
    rows.iterator
  }

  /** One call of a key's group function under an event-time idle
    * timeout. When the timeout fired, `timedOut` gives the final rows
    * and either a replacement state (kept without a timeout) or None
    * (the state is removed). Otherwise [[persistent]] runs `batch`, and a
    * state that is left is re-armed at its mark (ms) + `idleMs`. Spark
    * clears a key's timeout on every call that does not set it, so a
    * batch that applied nothing re-arms the same instant; one the
    * watermark already passed is re-armed at the watermark, since
    * Spark refuses an earlier timestamp, and fires on its next
    * advance. */
  def evicting[S >: Null <: AnyRef, O](state: GroupState[S], idleMs: Long,
      mark: S => Long)(timedOut: S => (Option[S], Seq[O]))(
      batch: S => (S, Seq[O])): Iterator[O] =
    if (state.hasTimedOut) {
      val (next, rows) = timedOut(state.get)
      next.fold(state.remove())(state.update)
      rows.iterator
    } else {
      val rows = persistent(state)(batch)
      state.getOption.foreach(s => state.setTimeoutTimestamp(
        math.max(mark(s) + idleMs, state.getCurrentWatermarkMs())))
      rows
    }
}
