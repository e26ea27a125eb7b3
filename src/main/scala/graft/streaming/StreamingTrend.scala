package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

/** Always-on per-user EWMA — the streaming form of the batch q208
  * (`Advanced.ewmaTrend` / `functions.EwmaFold`): each user's level
  * E_t = alpha·x_t + (1−alpha)·E_{t−1} carried ACROSS micro-batches in
  * 32 bytes of typed state, one (user, n, level) snapshot emitted per
  * batch that applied events for that user.
  *
  * The recurrence applies element by element with NO reassociation, so
  * folding each batch from the stored seed performs the IDENTICAL
  * operation sequence as one long batch fold — streaming levels are
  * bit-equal to `ewmaTrend` on the union of applied events, whatever
  * the batch boundaries (StreamingTrendSpec pins this exactly). This is
  * the EwmaFold Scaladoc's unbounded-stream decomposition made code:
  * per-key state IS the affine carry, so per-user streams never need to
  * be collected whole — state is 32 bytes per live user regardless of
  * stream length.
  *
  * Idempotency and order: state carries the last applied (ts,
  * event_id); an event at-or-before that watermark is a no-op (replays
  * emit nothing twice) and out-of-order stragglers are DROPPED — the
  * StateTracker arrival-order contract; a late-data-correct level is
  * what the batch q208 recompute is for.
  */
object StreamingTrend {

  final case class TrendEv(user_id: Long, ts: Timestamp, event_id: Long,
      value: Double) extends ArrivalOrder.Event
  final case class TrendState(level: Double, n: Long, lastMs: Long,
      lastId: Long)
  /** One row per (batch, user) with applied events: the level AFTER
    * the batch. `closed_by` is null for live snapshots, "idle" for the
    * final row [[levelsEvicting]] emits when a user's state evicts. */
  final case class TrendOut(user_id: Long, n_events: Long, level: Double,
      closed_by: String)

  /** The batch's applied events folded into the level, and the one
    * live snapshot row when any applied. */
  private def fold(uid: Long, st: TrendState, evs: Iterator[TrendEv],
      alpha: Double): (TrendState, Seq[TrendOut]) = {
    val after = ArrivalOrder.fold(st, evs, ArrivalOrder.Ms,
        (s: TrendState) => (s.lastMs, s.lastId))(
        (e, t) => TrendState(e.value, 1L, t, e.event_id)) { (s, e, t) =>
      TrendState(alpha * e.value + (1.0 - alpha) * s.level, s.n + 1, t,
        e.event_id)
    }
    (after,
      if (after eq st) Nil else Seq(TrendOut(uid, after.n, after.level, null)))
  }

  /** Unbounded-|users| contract (the StateTracker `runs` convention):
    * every user ever seen holds 32 bytes of state forever — fits
    * bounded populations or finite replays; for an unbounded
    * population use [[levelsEvicting]]. */
  def levels(ds: Dataset[TrendEv], alpha: Double): Dataset[TrendOut] = {
    import ds.sparkSession.implicits._
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0,1], got $alpha")
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrendState, TrendOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[TrendEv], state) =>
          ArrivalOrder.persistent(state)(fold(uid, _, evs, alpha))
      }
  }

  /** [[levels]] with event-time eviction: when the watermark passes a
    * user's last event by `idleMs`, the final level is emitted with
    * closed_by = "idle" and the state is REMOVED — bounded by the
    * ACTIVE population. `ds` must carry a watermark on `ts`. An event
    * after eviction starts a fresh level (same caveat as
    * StateTracker.runsEvicting). */
  def levelsEvicting(ds: Dataset[TrendEv], alpha: Double, idleMs: Long)
      : Dataset[TrendOut] = {
    import ds.sparkSession.implicits._
    require(alpha > 0.0 && alpha <= 1.0, s"alpha in (0,1], got $alpha")
    require(idleMs > 0, s"idleMs must be positive, got $idleMs")
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[TrendState, TrendOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, evs: Iterator[TrendEv], state) =>
          ArrivalOrder.evicting(state, idleMs, (s: TrendState) => s.lastMs)(
            st => (None, Seq(TrendOut(uid, st.n, st.level, "idle"))))(
            fold(uid, _, evs, alpha))
      }
  }

  /** File-landing wiring ([[MicroBatch.appendFiles]], the
    * StateTracker.startTracking shape):
    * parquet drops under `landingDir` stream through [[levelsEvicting]]
    * into `outDir/levels`, exactly-once per file via the checkpoint.
    * `watermarkDelay` bounds how out-of-order arrivals may be and
    * should be well under `idleMs` (an eviction can't fire until the
    * watermark passes lastMs + idleMs). */
  def startLevels(spark: SparkSession, landingDir: String, outDir: String,
      alpha: Double, idleMs: Long, watermarkDelay: String = "10 seconds",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val evs = MicroBatch.source(spark, landingDir,
        Encoders.product[TrendEv].schema)
      .withWatermark("ts", watermarkDelay)
      .as[TrendEv]
    MicroBatch.appendFiles(levelsEvicting(evs, alpha, idleMs),
      s"$outDir/_checkpoint", trigger, s"$outDir/levels")
  }
}
