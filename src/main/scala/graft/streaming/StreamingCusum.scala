package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

/** Always-on CUSUM volume-drift monitor — the streaming form of the
  * batch q223 (`Frontier.cusumDaily`), run against a STORED baseline
  * instead of the stream's own mean (the textbook CUSUM-vs-target
  * deployment, and the StreamingDq artifact pattern: monitor alerts
  * and the offline report share one reference). The baseline carries
  * per type the RATIONAL expected daily rate as the exact integer pair
  * (sum_t, n_days) — q223's own quantities over a history window — so
  * the increment `S := max(0, S + n_days·x − sum_t)` is the identical
  * integer arithmetic, no float anywhere.
  *
  * Day-close semantics (arrival-order, the StateTracker contract): a
  * type's open day FINALIZES — one row emitted, S updated — when an
  * event of a LATER day arrives; skipped quiet days in between each
  * fold x = 0 (one decay row apiece, q223's dense-grid rule).
  * Stragglers into a finalized day and replays (at-or-before the
  * (ts, event_id) watermark) are no-ops; the late-data-correct
  * statistic is what the batch q223 recompute is for. Event-time idle
  * timeout finalizes the open day (closed_by = "idle") and leaves a
  * compact TOMBSTONE (dayCount = 0: the closed day plus the post-close
  * statistic) in place of the open state, so a type returning after an
  * idle gap resumes from the closed day with every quiet day in
  * between zero-folded — the stream stays consistent with the batch
  * q223 recompute across evictions instead of silently restarting at
  * S = 0. State stays one 5-field struct per type, bounded by the
  * BASELINE type population (the baseline gate already drops unknown
  * types). The one divergence the tombstone cannot heal: an event
  * arriving back INTO the idle-closed day (possible only when idleMs
  * is shorter than a day) is dropped, since the day's row is already
  * emitted — pick idleMs of at least one day to make idle closes
  * final only after the day can no longer receive on-time events.
  *
  * Types absent from the baseline are DROPPED (documented contract —
  * an unknown type has no target to drift from; extend the baseline
  * and replay to cover it).
  */
object StreamingCusum {

  final case class CusumEv(event_type: String, ts: Timestamp, event_id: Long)
      extends ArrivalOrder.Event
  /** Per-type baseline: expected daily rate sum_t / n_days, exact. */
  final case class CusumBase(event_type: String, sum_t: Long, n_days: Long)
  final case class CusumState(day: Long, dayCount: Long, s: Long,
      lastMs: Long, lastId: Long)
  /** One row per FINALIZED (type, day): the day's count, the CUSUM
    * statistic after folding it, and the alarm flag (S > sum_t, q223's
    * rule). closed_by is null for rollover-closed days, "idle" for the
    * open day an eviction finalizes. */
  final case class CusumOut(event_type: String, day: String, x: Long,
      cusum: Long, alarm: Boolean, closed_by: String)

  private val MsPerDay = 86400000L

  private def dayStr(day: Long): String =
    java.time.LocalDate.ofEpochDay(day).toString

  /** Fold a batch's events into the state, emitting finalized days. */
  private def fold(base: CusumBase, st: CusumState,
      evs: Iterator[CusumEv]): (CusumState, Seq[CusumOut]) = {
    val out = Seq.newBuilder[CusumOut]
    def close(day: Long, x: Long, cusum: Long): Long = {
      val next = math.max(0L, cusum + base.n_days * x - base.sum_t)
      out += CusumOut(base.event_type, dayStr(day), x, next,
        next > base.sum_t, null)
      next
    }
    // `cusum` after `s.day`, then every quiet day up to `day` zero-folded
    def rollTo(s: CusumState, cusum: Long, day: Long, t: Long, id: Long) = {
      var c = cusum
      var d = s.day + 1
      while (d < day) { c = close(d, 0L, c); d += 1 }
      CusumState(day, 1L, c, t, id)
    }
    val after = ArrivalOrder.fold(st, evs, ArrivalOrder.Ms,
        (s: CusumState) => (s.lastMs, s.lastId))(
        (e, t) => CusumState(Math.floorDiv(t, MsPerDay), 1L, 0L, t,
          e.event_id)) { (s, e, t) =>
      val day = Math.floorDiv(t, MsPerDay)
      // idle tombstone: s.day was finalized by the timeout (its row is
      // already emitted) and s.s is the post-close statistic. A LATER
      // day resumes with the quiet days zero-folded — the batch
      // dense-grid rule; an arrival back into the closed day is dropped
      // (see the Scaladoc idleMs contract).
      if (s.dayCount == 0L) {
        if (day > s.day) rollTo(s, s.s, day, t, e.event_id) else s
      }
      // day is a monotone function of ts, so t > lastMs implies
      // day >= s.day — an applied event never lands in a closed day
      else if (day == s.day)
        CusumState(day, s.dayCount + 1, s.s, t, e.event_id)
      else rollTo(s, close(s.day, s.dayCount, s.s), day, t, e.event_id)
    }
    (after, out.result())
  }

  /** The monitor as a typed stream transform. `baseline` is the small
    * per-type artifact (read it with [[readBaseline]]); `ds` must
    * carry a watermark on `ts` for the idle timeout. */
  def alarms(ds: Dataset[CusumEv], baseline: Map[String, CusumBase],
      idleMs: Long): Dataset[CusumOut] = {
    import ds.sparkSession.implicits._
    // The idle tombstone closes the open day when the timeout fires;
    // events for that day arriving later are replay-dropped by the
    // fold. An idleMs below one day therefore MEANS silent event
    // loss — machine-check the documented contract instead of
    // trusting the doc.
    require(idleMs >= MsPerDay,
      s"idleMs must be at least one day ($MsPerDay ms) — the idle " +
        s"tombstone closes the open day, so a shorter timeout silently " +
        s"drops events that arrive back into it; got $idleMs")
    require(baseline.nonEmpty, "empty CUSUM baseline")
    ds.groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()) {
        (tpe: String, evs: Iterator[CusumEv], state) =>
          baseline.get(tpe) match {
            case None => Iterator.empty // no target: dropped by contract
            case Some(base) =>
              ArrivalOrder.evicting(state, idleMs, (s: CusumState) => s.lastMs)(
                st =>
                  // keep a compact tombstone (dayCount = 0) instead of
                  // removing: a returning type resumes from the closed
                  // day with the quiet days zero-folded (see fold), so
                  // the stream matches the batch recompute across idle
                  // gaps. It keeps no timeout: it is final state until
                  // the type speaks again, bounded by |baseline|. A
                  // tombstone re-armed by a batch that applied nothing
                  // fires again and stays as it is.
                  if (st.dayCount == 0L) (Some(st), Nil)
                  else {
                    val next = math.max(0L,
                      st.s + base.n_days * st.dayCount - base.sum_t)
                    (Some(CusumState(st.day, 0L, next, st.lastMs, st.lastId)),
                      Seq(CusumOut(tpe, dayStr(st.day), st.dayCount, next,
                        next > base.sum_t, "idle")))
                  })(
                fold(base, _, evs))
          }
      }
  }

  /** Read the per-type baseline artifact (event_type, sum_t, n_days)
    * — |types|-sized, a bounded collect by contract. */
  def readBaseline(spark: SparkSession, path: String): Map[String, CusumBase] = {
    import spark.implicits._
    val m = spark.read.parquet(path)
      .select("event_type", "sum_t", "n_days")
      .as[CusumBase].collect()
      .map(b => b.event_type -> b).toMap
    require(m.nonEmpty, s"CUSUM baseline at $path is empty")
    m
  }

  /** File-landing wiring ([[MicroBatch.appendFiles]], the
    * StreamingTrend.startLevels shape):
    * parquet event drops under `landingDir` stream through [[alarms]]
    * into `outDir/cusum`, exactly-once per file via the checkpoint. */
  def start(spark: SparkSession, landingDir: String, baselinePath: String,
      outDir: String, idleMs: Long, watermarkDelay: String = "10 seconds",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val base = readBaseline(spark, baselinePath)
    val evs = MicroBatch.source(spark, landingDir,
        Encoders.product[CusumEv].schema)
      .withWatermark("ts", watermarkDelay)
      .as[CusumEv]
    MicroBatch.appendFiles(alarms(evs, base, idleMs),
      s"$outDir/_checkpoint", trigger, s"$outDir/cusum")
  }
}
