package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Session-window operators: the streaming complement of the batch
  * gap-sessionization query (q43_sessionize in `queries.Advanced`).
  *
  * Two mechanisms, deliberately both:
  *  - `session_window` — Spark's native merging session windows;
  *    declarative, watermark-bounded state, works identically on a batch
  *    DataFrame and a stream. Prefer this wherever gap semantics fit.
  *  - `mapGroupsWithState` — the typed custom-state escape hatch
  *    (KeyValueGroupedDataset) for state machines session_window can't
  *    express. Per-key state lives in the state store, bounded by
  *    timeouts at scale; here a running per-user aggregate that
  *    accumulates across micro-batches.
  *
  * Boundary note: session_window merges an event only while it lands
  * STRICTLY before the previous event + gap (window end is exclusive);
  * the batch q43 keeps an event in-session also at exactly +gap. The
  * testdata's microsecond timestamps never hit the boundary, so the two
  * agree there (SessionsSpec pins it).
  */
object Sessions {

  /** Per-(user, session) event counts with 30-minute default gap.
    * Streaming inputs get a watermark so closed sessions leave the
    * state store — the property that lets this run forever.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark)
      else events
    src.groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("n_events"))
  }

  /** Batch rollup to the q43 output shape (sessions + events per user). */
  def sessionCountsPerUser(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    sessionCounts(events, gap)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))

  final case class Ev(user_id: Long, value: Double)
  final case class UserState(events: Long, total: Double)
  final case class UserTotals(user_id: Long, events: Long, total: Double)

  /** Running per-user totals via mapGroupsWithState: state persists in
    * the state store across micro-batches (update output mode). The
    * group function folds the batch's events into the prior state — a
    * shape session_window cannot express (it is an arbitrary reducer,
    * not a window).
    */
  def runningTotals(ds: Dataset[Ev]): Dataset[UserTotals] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[UserState, UserTotals](GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.events
          var t = prev.total
          evs.foreach { e => n += 1; t += e.value }
          state.update(UserState(n, t))
          UserTotals(uid, n, t)
      }
  }

  final case class Beat(user_id: Long, ts: java.sql.Timestamp)
  final case class BeatState(lastSeenMs: Long)
  final case class GapAlert(user_id: Long, last_seen: java.sql.Timestamp)

  /** Heartbeat / gap monitor — the ABSENCE detector: emit an alert for
    * every key whose event stream goes silent for `gapMs` of EVENT
    * time. Nothing window- or join-shaped can express "no data
    * arrived"; this is exactly what GroupState TIMEOUTS exist for:
    * each arriving beat re-arms an event-time timeout at
    * lastSeen + gapMs, and when the WATERMARK passes that instant with
    * no new beats, Spark invokes the group function as timed out
    * ([[ArrivalOrder.evicting]]) — the alert fires from the state
    * store, not from any row. State self-cleans on firing (remove()),
    * so silent keys cost nothing after their alert; live keys hold 8
    * bytes.
    * (Timeout semantics: firings happen in the first micro-batch whose
    * START watermark has passed the armed instant — Spark advances the
    * watermark between batches, the spec pins this.)
    */
  def gapAlerts(ds: Dataset[Beat], gapMs: Long,
      watermark: String = "5 minutes"): Dataset[GapAlert] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ds.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BeatState, GapAlert](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, beats: Iterator[Beat], state) =>
          ArrivalOrder.evicting(state, gapMs, (s: BeatState) => s.lastSeenMs)(
            st => (None,
              Seq(GapAlert(uid, new java.sql.Timestamp(st.lastSeenMs))))) {
            before =>
              val newest = beats.map(_.ts.getTime).max
              if (before != null && before.lastSeenMs >= newest) (before, Nil)
              else (BeatState(newest), Nil)
          }
      }
  }
}
