package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.queries.Geo

/** Always-on forms of the batch geo queries.
  *
  * Three band-join monitors — [[StreamingGeo.start]] (proximity, q264),
  * [[StreamingGeo.startDarkRendezvous]] (q283) and
  * [[StreamingGeo.startEpisodes]] (q269) — share one persisted (hour,
  * cell) position index and one per-batch step over it
  * (`PositionIndex.step`): span-bounded reads of earlier batches, the
  * hot/poison list counted from those same rows and collected to the
  * driver, THE q264 band join ([[Geo.bandedPairs]]) and the per-batch
  * index write. Per-batch cost is proportional to batch x index-cell
  * occupancy, never index². Zero streaming state for the
  * pairing — the index IS the state, compactable like any parquet
  * table ([[StreamingGeo.retainIndex]]); rendezvous and episodes add a
  * per-batch parquet snapshot (`last/`, `open/`).
  *
  * The typed-state monitors (zone visits, resampling, dark gaps) keep
  * a few bytes per vessel in Spark's state store under the
  * arrival-order rule ([[ArrivalOrder]]).
  */
object StreamingGeo {

  final case class GeoEv(event_id: Long, user_id: Long, ts: Timestamp)
      extends ArrivalOrder.Event

  /** One OPEN co-travel episode — the per-pair state of
    * [[startEpisodes]] (q269's always-on form), snapshotted to
    * parquet each micro-batch. */
  final case class EpState(u1: Long, u2: Long, start_hour: Long,
      end_hour: Long, n_hours: Long, min_m: Long, alerted: Boolean)

  /** [[startEpisodes]]'s per-pair fold output — `kind` routes rows to
    * the closed-episode log ("closed"), the convoy-alert log
    * ("alert", fired the moment an episode reaches minHours), or the
    * next open-state snapshot ("open"). */
  final case class EpOut(kind: String, u1: Long, u2: Long,
      start_hour: Long, end_hour: Long, n_hours: Long, min_m: Long,
      alerted: Boolean)

  /** [[startZoneVisits]]'s typed input: one fix with its codegen'd
    * zone attribution. */
  final case class ZoneEv(user_id: Long, event_id: Long, ts: Timestamp,
      zid: Long) extends ArrivalOrder.Event
  /** Per-vessel open-visit state: current zone (may be -1 = open
    * sea — leaving a zone must CLOSE the visit), enter instant, last
    * applied (ts, event_id) idempotency watermark, fix count. */
  final case class ZoneState(zid: Long, enterMs: Long, lastMs: Long,
      lastId: Long, n: Long)
  final case class ZoneVisit(user_id: Long, zone_id: Long,
      enter_ts: Timestamp, exit_ts: Timestamp, n_fixes: Long)

  /** Always-on GEOFENCE-BREACH monitor — q277's streaming form: each
    * fix is zone-attributed by the codegen'd projection (zero join,
    * zero broadcast — the zone registry compiles into the plan), and
    * a per-vessel typed state collapses consecutive same-zone fixes
    * into visits ACROSS micro-batches; the visit row ("entered
    * nw_harbor 02:10, left 05:40, 14 fixes") lands the moment the
    * vessel's next fix is in a DIFFERENT zone (or open sea) — the
    * batch q277 minus only each vessel's open tail, which by
    * definition has no exit yet (pinned in StreamingGeoSpec).
    *
    * The StateTracker discipline: arrival-order processing under the
    * (ts, event_id) idempotency watermark (replays and out-of-order
    * stragglers no-op; the late-data-correct history is the batch
    * q277 recompute), ~40 bytes of state per vessel ever seen —
    * bounded-fleet contract (see StateTracker.runsEvicting for the
    * event-time-eviction variant when the population is unbounded).
    *
    * ZONE-REGISTRY CONTRACT (pinned in StreamingGeoSpec): the `zones`
    * registry — literal or [[graft.queries.Geo.loadZones]]-loaded —
    * is compiled into the projection ONCE at query start and stays
    * FIXED for the monitor's lifetime; editing the zone file while
    * the query runs changes NOTHING until a stop/restart. This is
    * deliberate: a mid-run registry swap would make a visit's enter
    * and exit judge against DIFFERENT polygons, emitting rows no
    * batch recompute could reproduce — deterministic per-run zones
    * keep stream output replayable and auditable against the batch
    * q277 under the registry in force. Rolling out a geofence change
    * is a restart (the checkpoint + idempotency watermark make that
    * seamless); the batch q277 with the new registry is the
    * retroactive view.
    */
  def startZoneVisits(spark: SparkSession, landingDir: String,
      outDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Geo.Zones)
      : StreamingQuery = {
    import spark.implicits._
    val evs = geoSource(spark, landingDir)
    // the registry (literal or [[Geo.loadZones]]-loaded) compiles into
    // the projection at query START — still zero join, zero broadcast
    val zoned = Geo.positioned(evs)
      .select(col("user_id"), col("event_id"), col("ts"),
        Geo.zoneIdExpr(col("lon_e6"), col("lat_e6"), zones).as("zid"))
      .as[ZoneEv]
    MicroBatch.appendFiles(zoned.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZoneState, ZoneVisit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[ZoneEv], state) =>
          ArrivalOrder.persistent(state) { before =>
            val out = Seq.newBuilder[ZoneVisit]
            def enter(e: ZoneEv, t: Long) = ZoneState(e.zid, t, t, e.event_id, 1L)
            (ArrivalOrder.fold(before, fixes, ArrivalOrder.Ms,
                (s: ZoneState) => (s.lastMs, s.lastId))(enter) { (s, e, t) =>
              if (e.zid == s.zid)
                s.copy(lastMs = t, lastId = e.event_id, n = s.n + 1)
              else {
                if (s.zid != -1L)
                  out += ZoneVisit(uid, s.zid, new Timestamp(s.enterMs),
                    new Timestamp(s.lastMs), s.n)
                enter(e, t)
              }
            }, out.result())
          }
      }, s"$outDir/_checkpoint", trigger, s"$outDir/visits")
  }

  /** [[startResample]]'s typed input: one positioned fix. */
  final case class PosEv(user_id: Long, event_id: Long, ts: Timestamp,
      lat_e6: Long, lon_e6: Long) extends ArrivalOrder.Event
  /** Per-vessel resample state: the LAST fix (epoch seconds + id
    * idempotency watermark + position) — 32 bytes, one per vessel. */
  final case class FixState(lastT: Long, lastId: Long, la: Long, lo: Long)
  final case class GridFix(user_id: Long, t_grid: Long, lat_e6: Long,
      lon_e6: Long)

  /** Always-on trajectory RESAMPLING — q274's streaming form: as each
    * fix arrives, the leg from the vessel's PREVIOUS fix (carried in
    * 32 bytes of typed state, so legs straddling micro-batch
    * boundaries interpolate exactly like intra-batch ones) emits its
    * grid instants in the half-open (t1, t2] with the same half-up
    * exact-integer interpolation as the batch operator. Every leg is
    * complete the moment its later fix arrives, so — uniquely among
    * the streaming siblings — the stream's cumulative output equals
    * the batch q274 on the landed prefix EXACTLY, no open-tail
    * asymmetry (pinned in StreamingGeoSpec). Legs over `maxGapS`
    * emit nothing (a data gap is a gap). Arrival-order contract under
    * the (ts, event_id) watermark, the [[ArrivalOrder]] rule.
    *
    * Precondition of that equality: within one second, a vessel's
    * `event_id`s rise with `ts`. The mark is in whole seconds
    * ([[ArrivalOrder.Seconds]]) while `Geo.trackInterpolate` orders by
    * µs `ts`, so two fixes in one second whose ids run against time
    * make the stream drop the later fix and interpolate the next leg
    * from the earlier one. */
  def startResample(spark: SparkSession, landingDir: String,
      outDir: String, stepS: Long = 600L, maxGapS: Long = 21600L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stepS > 0 && maxGapS >= stepS,
      s"need 0 < stepS <= maxGapS, got stepS=$stepS maxGapS=$maxGapS")
    import spark.implicits._
    val evs = geoSource(spark, landingDir)
    def hup(lo: Long, hi: Long, num: Long, den: Long): Long =
      if (hi >= lo) lo + (2 * (hi - lo) * num + den) / (2 * den)
      else lo - (2 * (lo - hi) * num + den) / (2 * den)
    MicroBatch.appendFiles(Geo.positioned(evs).as[PosEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FixState, GridFix](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[PosEv], state) =>
          ArrivalOrder.persistent(state) { before =>
            val out = Seq.newBuilder[GridFix]
            def fix(e: PosEv, t: Long) = FixState(t, e.event_id, e.lat_e6, e.lon_e6)
            // t in floor-seconds = unix_timestamp
            (ArrivalOrder.fold(before, fixes, ArrivalOrder.Seconds,
                (s: FixState) => (s.lastT, s.lastId))(fix) { (s, e, t) =>
              val dt = t - s.lastT
              if (dt > 0 && dt <= maxGapS) {
                val gs = s.lastT - s.lastT % stepS + stepS
                val ge = t - t % stepS
                var g = gs
                while (g <= ge) {
                  out += GridFix(uid, g,
                    hup(s.la, e.lat_e6, g - s.lastT, dt),
                    hup(s.lo, e.lon_e6, g - s.lastT, dt))
                  g += stepS
                }
              }
              fix(e, t)
            }, out.result())
          }
      }, s"$outDir/_checkpoint", trigger, s"$outDir/grid")
  }

  /** [[startDarkGaps]]'s per-vessel state: the LAST fix's epoch
    * seconds + event id (idempotency watermark) — 16 bytes. */
  final case class GapState(lastT: Long, lastId: Long)
  final case class DarkGap(user_id: Long, gap_start: Timestamp,
      gap_end: Timestamp, gap_s: Long)

  /** Always-on DARK-GAP monitor — q280's streaming form: the
    * compliance alert fires the moment a vessel REAPPEARS after at
    * least `minGapS` seconds of silence (a true "went dark" alert —
    * before the next fix arrives there is nothing to measure, so
    * reappearance IS the earliest sound instant). Each vessel carries
    * 16 bytes of typed state (last fix time + id watermark); a gap is
    * complete the moment its later fix arrives, so — like
    * [[startResample]], and for the same reason — the stream's
    * cumulative output equals the batch q280's (user, gap_start,
    * gap_end, gap_s) on the landed prefix EXACTLY, no open-tail
    * asymmetry (pinned in StreamingGeoSpec). Distance/speed
    * enrichment stays the batch q280's job (state stays position-free
    * at 16 B; join the alert to q280 for the dark-leg displacement).
    * Gap endpoints are reconstructed from floor-second state, which
    * matches the batch q280's second-granular string render exactly
    * (sub-second fixes floor to their second in both forms).
    * Arrival-order contract under the (ts, event_id) watermark, the
    * [[ArrivalOrder]] rule. */
  def startDarkGaps(spark: SparkSession, landingDir: String,
      outDir: String, minGapS: Long = 21600L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(minGapS >= 1L, s"need minGapS >= 1, got $minGapS")
    import spark.implicits._
    val evs = geoSource(spark, landingDir)
    MicroBatch.appendFiles(evs.select(col("user_id"), col("event_id"), col("ts"))
      .as[GeoEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, DarkGap](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[GeoEv], state) =>
          ArrivalOrder.persistent(state) { before =>
            val out = Seq.newBuilder[DarkGap]
            (ArrivalOrder.fold(before, fixes, ArrivalOrder.Seconds,
                (s: GapState) => (s.lastT, s.lastId))(
                (e, t) => GapState(t, e.event_id)) { (s, e, t) =>
              if (t - s.lastT >= minGapS)
                out += DarkGap(uid, new Timestamp(s.lastT * 1000L),
                  new Timestamp(t * 1000L), t - s.lastT)
              GapState(t, e.event_id)
            }, out.result())
          }
      }, s"$outDir/_checkpoint", trigger, s"$outDir/gaps")
  }

  /** One representative point per (vessel, hour) with band cells —
    * THE q264 derivation ([[Geo.bandedPoints]]), shared so the batch
    * and streaming joins can never drift. */
  private def points(batch: DataFrame): DataFrame =
    Geo.bandedPoints(batch)

  /** The index columns of a [[points]] row. */
  private val PtNames = Seq("user_id", "hour", "lat_e6", "lon_e6", "cy", "cx")
  private val PtCols = PtNames.map(col)

  /** The landing dir of [[GeoEv]] parquet fixes every monitor here reads. */
  private def geoSource(spark: SparkSession, landingDir: String): DataFrame =
    MicroBatch.source(spark, landingDir, Encoders.product[GeoEv].schema)

  /** Hour-clustered index files: range-partition + sort by hour, so each
    * parquet file covers a narrow hour band and the monitors'
    * span-bounded index reads prune whole files by footer stats. */
  private def hourClustered(pts: DataFrame): DataFrame =
    pts.repartitionByRange(col("hour")).sortWithinPartitions(col("hour"))

  /** [min, max] of `df`'s `hour` column (None when `df` is empty), one
    * tiny aggregate (the hwm pattern). */
  private def hourSpan(df: DataFrame): Option[(Long, Long)] = {
    val r = df.agg(min(col("hour")), max(col("hour"))).head
    if (r.isNullAt(0)) None else Some((r.getLong(0), r.getLong(1)))
  }

  /** The persisted (hour, cell) position index under `outDir` that the
    * band-join monitors ([[start]], [[startDarkRendezvous]],
    * [[startEpisodes]]) keep: `index/batch=<id>` holds each batch's
    * [[points]], hour-clustered, written with overwrite, so a replayed
    * batch replaces its own partition. [[step]] is the one pass a
    * micro-batch makes over it. */
  private final class PositionIndex(outDir: String, radiusM: Long,
      hotOccupancy: Long, saltBuckets: Int, maxCellOccupancy: Long) {
    Geo.requireCellComplete(radiusM)
    private val indexDir = s"$outDir/index"

    /** One micro-batch's pass: `probe` (the batch's own points `pts`,
      * or rendezvous' gap endpoints) runs THE q264 band join
      * ([[Geo.bandedPairs]]: 3x3 probe replication, exact verify,
      * occupancy-salted hot cells) against the index, and `land` gets
      * the hits and the probe's hour span.
      *   - Earlier batches' index partitions are read only inside the
      *     probe's hour span: pairing matches EQUAL hours only, so
      *     per-batch cost is O(batch hour span), never O(stream age).
      *     `batch < id` keeps a replayed batch's own earlier write out.
      *   - The hot/poison list counts those same span-bounded rows plus
      *     the batch's own points per cell, so the over-cap guard
      *     (output-affecting: it is the OOM bound) sees a poison cell
      *     formed entirely within this batch, and salting sees a port
      *     formed there. It is collected to the driver (it is bounded by
      *     points/hotOccupancy, and a broadcast collects it anyway) and
      *     handed to the join as a local relation: an empty list plans
      *     the join's three hot-cell lookups away, a non-empty one
      *     broadcasts without a job.
      *   - With `withOwn` the batch's own points join the index side
      *     too (new-new pairs), and the hits are always Some. Without,
      *     pairing is strictly new-vs-earlier, and a first batch (no
      *     index yet) gets None and runs no join.
      *   - After `land`, the batch's index partition is written. */
    def step(b: MicroBatch.Batch, pts: DataFrame, probe: DataFrame,
        withOwn: Boolean, carryProbeCols: Seq[String] = Nil)(
        land: (Option[DataFrame], Option[(Long, Long)]) => Unit): Unit = {
      val spark = pts.sparkSession
      val span = hourSpan(probe)
      val own = pts.select(PtCols: _*)
      val store = b.store(indexDir, IndexSchema.toDDL)
      val earlier = store.earlier.map(_.filter(span match {
        case Some((lo, hi)) => col("hour").between(lo, hi)
        case None           => lit(false)
      }).select(PtCols: _*))
      val index =
        if (withOwn) Some(earlier.getOrElse(own.limit(0)).unionByName(own))
        else earlier
      val hits = index.map { idx =>
        val hot = Geo.hotCellList(if (withOwn) idx else idx.unionByName(own),
          hotOccupancy, maxCellOccupancy)
        Geo.bandedPairs(probe, idx, radiusM, hotOccupancy, saltBuckets,
          Some(spark.createDataFrame(hot.collect().toSeq.asJava, hot.schema)),
          maxCellOccupancy, carryProbeCols = carryProbeCols)
      }
      land(hits, span)
      store.write(hourClustered(pts))
    }
  }

  /** Always-on DARK RENDEZVOUS monitor — q283's streaming form: the
    * transshipment alert ("went dark next to X, reappeared next to
    * Y") fires at the micro-batch where the vessel REAPPEARS, not at
    * the nightly batch recompute. Composition of two judged streaming
    * pieces: gap completion from a per-vessel last-fix snapshot
    * ([[withSnapshot]] under `last/`, the [[startEpisodes]] open-state
    * pattern), and the endpoint proximity probe through the position
    * index ([[PositionIndex.step]], gap identity + endpoint zone carried
    * as inert probe payload — exactly the batch q283's shape).
    *
    * Per batch:
    *   - the raw batch is cached, so the landed files are scanned once
    *     (`numInputRows` counts each landed fix once);
    *   - ONE per-vessel window over (previous last fix ∪ batch fixes)
    *     puts each fix next to its predecessor and flags each vessel's
    *     newest fix; it is cached and feeds both the gaps and the next
    *     snapshot;
    *   - new gaps = legs at least `minGapS` long whose LATER fix is in
    *     this batch (intra-batch gaps included), two endpoint rows each
    *     ([[Geo.gapEndpoints]], the batch q283's derivation);
    *   - the endpoints probe the index step with the batch's own points
    *     on the index side (a reappearance hour's other vessels usually
    *     land in the SAME batch); a gap-start hour reaches back up to
    *     the gap's length, so size the [[retainIndex]] horizon to the
    *     longest gap you want endpoint-paired;
    *   - alerts land under `alerts/batch=<id>` in the batch q283's
    *     exact output shape ([[Geo.rendezvousAlerts]]), then the index
    *     step's index partition, then the new `last/` snapshot.
    * Persisted state is read with explicit schemas, so no read runs a
    * footer-inference job.
    *
    * Contracts (the startEpisodes rules): arrival-order processing
    * (the late-data-correct history is the batch q283), hour-aligned
    * landing for exact stream == batch equality (each (vessel, hour)'s
    * fixes within one batch — the per-batch representative caveat);
    * under those, cumulative alerts == `Geo.darkRendezvous` on the
    * landed prefix EXACTLY — gaps close on the reappearance fix, so
    * there is no open-tail asymmetry (pinned in StreamingGeoSpec). */
  def startDarkRendezvous(spark: SparkSession, landingDir: String,
      outDir: String, minGapS: Long = 21600L, radiusM: Long = 500L,
      trigger: Trigger = Trigger.AvailableNow(),
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Geo.Zones,
      hotOccupancy: Long = 1024L, saltBuckets: Int = 16,
      maxCellOccupancy: Long = Geo.DefaultMaxCellOccupancy): StreamingQuery = {
    require(minGapS >= 3600L,
      s"need minGapS >= 3600 (distinct endpoint hours), got $minGapS")
    val index = new PositionIndex(outDir, radiusM, hotOccupancy,
      saltBuckets, maxCellOccupancy)
    import spark.implicits._
    val lastDir = s"$outDir/last"
    MicroBatch.run(geoSource(spark, landingDir), s"$outDir/_checkpoint",
        trigger) { b =>
      val raw = b.pins.keep(b.df)
      val pts = b.pins.keep(points(raw))
      withSnapshot(b, lastDir) { read =>
        val prev: DataFrame = read match {
          case Some(p) => spark.read.schema(LastSchema).parquet(p)
          case None => Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF(LastSchema.fieldNames.toIndexedSeq: _*)
        }
        // gap legs over (previous last fix ∪ batch fixes) — the RAW
        // fix sequence (q283 gaps are fix-level, not hour-
        // representative); the same window flags each vessel's newest
        // fix for the next snapshot
        val bFix = Geo.positioned(raw)
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"),
            col("event_id"), col("lat_e6"), col("lon_e6"))
        val wu = Window.partitionBy(col("user_id"))
          .orderBy(col("t"), col("event_id"))
        val legs = b.pins.keep(prev.withColumn("from_state", lit(true))
          .unionByName(bFix.withColumn("from_state", lit(false)))
          .withColumn("pt", lag(col("t"), 1).over(wu))
          .withColumn("pla", lag(col("lat_e6"), 1).over(wu))
          .withColumn("plo", lag(col("lon_e6"), 1).over(wu))
          .withColumn("newest", lead(lit(true), 1).over(wu).isNull))
        // new gaps end at a batch fix
        val eps = Geo.gapEndpoints(legs.filter(!col("from_state")),
          minGapS, zones)
        index.step(b, pts, eps, withOwn = true,
            carryProbeCols = Seq("gap_start", "gap_end", "gap_s", "ep", "zid")) {
          (hits, _) =>
            b.write(Geo.rendezvousAlerts(hits.get, zones), s"$outDir/alerts")
        }
        b.write(legs.filter(col("newest"))
          .select(LastSchema.fieldNames.toIndexedSeq.map(col): _*), lastDir)
      }
    }
  }

  /** Column layout of the persisted per-batch state, given on every read
    * so a micro-batch never runs a footer-inference job to learn it:
    * the (hour, cell) position index (its [[MicroBatch.Store]] adds the
    * `batch` partition column) and the last-fix snapshot. */
  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))
  private val IndexSchema = longs(PtNames: _*)
  private val LastSchema = longs("user_id", "t", "event_id", "lat_e6", "lon_e6")

  /** Ids of the `<dir>/batch=<id>` state snapshots, ascending. */
  private def snapshotIds(fs: FileSystem, dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
  }

  /** A per-batch state snapshot under `dir` (`last/`, `open/`): `body`
    * gets the path of the newest `<dir>/batch=<id>` older than this
    * batch (None on the first), so a crash-replayed batch reads the
    * state from BEFORE itself and reproduces its own outputs; `body`
    * writes this batch's snapshot with `b.write`. Then every snapshot
    * older than the one read is deleted: the next batch reads this
    * batch's, and a replay of this batch reads the same one again, so
    * nothing older is ever read. State stays at two snapshots instead
    * of one per batch forever. */
  private def withSnapshot(b: MicroBatch.Batch, dir: String)(
      body: Option[String] => Unit): Unit = {
    val fs = b.fs(dir)
    val ids = snapshotIds(fs, dir)
    val read = ids.filter(_ < b.id).lastOption
    body(read.map(p => s"$dir/batch=$p"))
    ids.filter(i => read.exists(i < _))
      .foreach(i => fs.delete(new Path(s"$dir/batch=$i"), true))
  }

  /** Always-on proximity monitor — the streaming form of the batch
    * q264: each micro-batch's points probe the position index
    * ([[PositionIndex.step]]) for EARLIER vessels within the radius;
    * alerts land under `alerts/batch=<id>` as (u_new, u_old, hour, m).
    * Pairing is strictly new-vs-earlier (the batch's own points stay
    * off the index side), so within-batch pairs are the BATCH query's
    * job and every cross-batch pair alerts exactly once, when its later
    * endpoint arrives; the first batch lands an empty alert partition. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
      radiusM: Long = 500L,
      trigger: Trigger = Trigger.AvailableNow(),
      hotOccupancy: Long = 1024L, saltBuckets: Int = 16,
      maxCellOccupancy: Long = Geo.DefaultMaxCellOccupancy): StreamingQuery = {
    val index = new PositionIndex(outDir, radiusM, hotOccupancy,
      saltBuckets, maxCellOccupancy)
    MicroBatch.run(geoSource(spark, landingDir), s"$outDir/_checkpoint",
        trigger) { b =>
      // kept: the representative-point window otherwise replays for the
      // span aggregate, the hot-cell count, the band-join probe and the
      // index write (~4x per batch)
      val pts = b.pins.keep(points(b.df))
      index.step(b, pts, pts, withOwn = false) { (hits, _) =>
        val alerts = hits match {
          case Some(h) => h.filter(col("u1") =!= col("u2"))
            .select(col("u1").as("u_new"), col("u2").as("u_old"),
              col("hour"), col("m"))
            .distinct()
          // an empty alert partition, so readers see every batch
          case None => pts.limit(0)
            .select(col("user_id").as("u_new"),
              col("user_id").as("u_old"), col("hour"),
              lit(0L).as("m"))
        }
        b.write(alerts, s"$outDir/alerts")
      }
    }
  }

  /** Always-on CO-TRAVEL EPISODES — q269's streaming form: the convoy
    * alert fires the moment a pair's episode reaches `minHours`
    * encounter-hours, not at the nightly batch recompute.
    *
    * Per micro-batch: the batch's points pair against the position
    * index PLUS themselves ([[PositionIndex.step]] — every pair-hour
    * with at least one new endpoint, found exactly once), then each
    * pair's new hours fold into its OPEN episode by q269's
    * gaps-and-islands rule (gap > `maxGapHours` closes and restarts).
    * State is a parquet snapshot per batch ([[withSnapshot]] under
    * `open/`). Outputs: `closed/batch=<id>` (episodes that ended,
    * >= minHours only — q269's emission rule) and `alerts/batch=<id>`
    * (one row per episode at the moment it first reaches minHours).
    *
    * Contracts: arrival-order processing per pair (an hour at-or-
    * before the open episode's end drops — the StateTracker rule;
    * late-data-correct episodes are the batch q269's job), and
    * DETERMINISTIC eviction: once the stream's observed hour
    * high-water passes a pair's end_hour by more than maxGapHours, NO
    * in-order hour can ever extend that episode, so it closes (kept
    * iff >= minHours) and its state drops — open state is bounded by
    * the ACTIVE pair population, not every pair ever seen.
    * stream(closed ++ open >= minHours) == batch q269 on the landed
    * prefix (pinned in StreamingGeoSpec, incl. after a full replay)
    * — PROVIDED no (vessel, hour)'s fixes straddle micro-batches:
    * [[points]] picks each batch's own representative (min event_id
    * WITHIN the batch), so a straddling hour can contribute a
    * different representative than the global batch recompute and
    * pair-hours/min_m may diverge even with fully in-order arrival.
    * This is an in-order caveat, not a late-data one — feed the
    * stream on (vessel, hour)-aligned boundaries (the natural landing
    * cadence for hourly AIS drops) or accept the batch q269 recompute
    * as the authoritative history, its standing role here.
    */
  def startEpisodes(spark: SparkSession, landingDir: String,
      outDir: String, radiusM: Long = 500L, minHours: Long = 2L,
      maxGapHours: Long = 168L,
      trigger: Trigger = Trigger.AvailableNow(),
      hotOccupancy: Long = 1024L, saltBuckets: Int = 16,
      maxCellOccupancy: Long = Geo.DefaultMaxCellOccupancy): StreamingQuery = {
    val index = new PositionIndex(outDir, radiusM, hotOccupancy,
      saltBuckets, maxCellOccupancy)
    require(minHours >= 1L && maxGapHours >= 1L,
      s"need minHours/maxGapHours >= 1, got $minHours/$maxGapHours")
    import spark.implicits._
    val openDir = s"$outDir/open"
    MicroBatch.run(geoSource(spark, landingDir), s"$outDir/_checkpoint",
        trigger) { b =>
      // kept: the representative-point window otherwise replays for the
      // span aggregate, the hot-cell count, the index-union probe and
      // the index write
      val pts = b.pins.keep(points(b.df))
      // new-new pairs are this stream's job too — unlike the alert
      // stream, the episode fold needs EVERY pair-hour
      index.step(b, pts, pts, withOwn = true) { (hits, span) =>
        val ph = hits.get
          .filter(col("u1") =!= col("u2"))
          .select(least(col("u1"), col("u2")).as("u1"),
            greatest(col("u1"), col("u2")).as("u2"),
            col("hour"), col("m"))
          .groupBy(col("u1"), col("u2"), col("hour"))
          .agg(min(col("m")).as("m"))
        // the observed-hour high-water drives deterministic eviction —
        // the span aggregate's max, no extra pass
        val hwm: Option[Long] = span.map(_._2)
        withSnapshot(b, openDir) { read =>
          val open: Dataset[EpState] = read match {
            case Some(p) => spark.read.schema(Encoders.product[EpState].schema)
              .parquet(p).as[EpState]
            case None => spark.emptyDataset[EpState]
          }
          val folded = open.groupByKey(s => (s.u1, s.u2))
            .cogroup(ph.select(col("u1"), col("u2"), col("hour"), col("m"))
              .as[(Long, Long, Long, Long)]
              .groupByKey(r => (r._1, r._2))) {
              case ((u1, u2), states, hours) =>
                val out = Seq.newBuilder[EpOut]
                var st = states.toSeq.headOption.orNull
                def close(): Unit = {
                  if (st.n_hours >= minHours)
                    out += EpOut("closed", u1, u2, st.start_hour,
                      st.end_hour, st.n_hours, st.min_m, st.alerted)
                  st = null
                }
                hours.toSeq.sortBy(_._3).foreach { case (_, _, h, m) =>
                  if (st != null && h <= st.end_hour) {
                    // at-or-before the open end: replay/straggler no-op
                  } else {
                    if (st != null && h - st.end_hour > maxGapHours) close()
                    st =
                      if (st == null) EpState(u1, u2, h, h, 1L, m, false)
                      else st.copy(end_hour = h, n_hours = st.n_hours + 1L,
                        min_m = math.min(st.min_m, m))
                    if (st.n_hours >= minHours && !st.alerted) {
                      st = st.copy(alerted = true)
                      out += EpOut("alert", u1, u2, st.start_hour, h,
                        st.n_hours, st.min_m, true)
                    }
                  }
                }
                // deterministic eviction: nothing in-order can extend
                if (st != null && hwm.exists(_ - st.end_hour > maxGapHours))
                  close()
                if (st != null)
                  out += EpOut("open", u1, u2, st.start_hour, st.end_hour,
                    st.n_hours, st.min_m, st.alerted)
                out.result().iterator
            }
          // one computation, three routed sinks: keep the fold (sized by
          // the ACTIVE pair population, evicted past maxGapHours — never
          // collected to the driver) instead of replaying the band join
          // per sink
          val routed = b.pins.keep(folded)
          def land(kind: String, dir: String): Unit =
            b.write(routed.filter(_.kind == kind)
              .select(col("u1"), col("u2"), col("start_hour"),
                col("end_hour"), col("n_hours"), col("min_m"),
                col("alerted")), s"$outDir/$dir")
          land("closed", "closed")
          land("alert", "alerts")
          land("open", "open")
        }
      }
    }
  }

  /** Retention for the persisted position index ([[PositionIndex]]) —
    * the compaction the always-on monitors need so the table under
    * them stops growing without bound: drop every `index/batch=<id>`
    * whose NEWEST hour has fallen more than `horizonHours` behind the
    * stream's observed hour high-water (and the `occ/batch=<id>`
    * summary an outDir of the earlier layout keeps beside it).
    *
    * Safety contract: the index step reads only inside the batch's
    * hour span, so a dropped partition can only be missed by a batch
    * whose span still reaches back past the horizon — i.e. data
    * arriving later than `horizonHours` after its event hour. Size the
    * horizon to the late-data window you accept (for
    * [[startEpisodes]], at least `maxGapHours` so an episode that is
    * still extendable can always find its pairs); later-than-horizon
    * stragglers are the batch recompute's job, the same escape hatch
    * as everywhere else in this family. Decisions read only the
    * index's `hour` column (one parquet column, grouped by batch).
    *
    * The monitors prune their own superseded state snapshots
    * (`open/`, `last/`) as they go, and the closed/alerts OUTPUT logs
    * are never touched (they are the product, not state). Maintenance
    * op under the single-writer contract: run while the stream is
    * down, like compact/vacuum. Returns the dropped index batch ids. */
  def retainIndex(spark: SparkSession, outDir: String,
      horizonHours: Long): Seq[Long] = {
    require(horizonHours >= 1L, s"need horizonHours >= 1, got $horizonHours")
    val indexDir = s"$outDir/index"
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(indexDir))) return Seq.empty
    val byBatch = spark.read.schema(IndexSchema.add("batch", LongType))
      .parquet(indexDir)
      .groupBy(col("batch"))
      .agg(max(col("hour")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    if (byBatch.isEmpty) return Seq.empty
    val hwm = byBatch.map(_._2).max
    val drop = byBatch.filter(_._2 < hwm - horizonHours).map(_._1)
      .sorted.toSeq
    drop.foreach { b =>
      fs.delete(new Path(s"$indexDir/batch=$b"), true)
      fs.delete(new Path(s"$outDir/occ/batch=$b"), true)
    }
    drop
  }
}
