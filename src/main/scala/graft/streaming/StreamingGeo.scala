package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.etl.Writers
import graft.queries.Geo

/** Always-on proximity monitor — the streaming form of the batch q264
  * (`Geo.proximityPairs`): each micro-batch's positions probe a
  * PERSISTED (hour, cell) position index for earlier vessels within
  * the radius, then append their own points — live encounter detection
  * where the batch query is the retrospective report.
  *
  * The startFuzzy/startMedia discipline: pairing is strictly
  * new-vs-earlier (`batch < bid` on the index read), so within-batch
  * pairs are the BATCH query's job and every cross-batch pair alerts
  * exactly once — when its later endpoint arrives; both the alert
  * partition and the index partition land under `batch=<id>` with
  * overwrite, so a crash-replayed batch reproduces itself (its own
  * prior index write is excluded by the `batch < bid` filter).
  * Zero streaming state — the index IS the state, compactable like
  * any parquet table.
  *
  * Per-batch cost: the batch's points (one representative per
  * (vessel, hour), the q264 pick) against the index partitions via the
  * same 3x3 smallest-complete-cell band join — proportional to batch
  * x index-cell occupancy, never index². Hot (port) cells ride
  * [[Geo.bandedPairs]]' occupancy-aware salting, exactly as in the
  * batch form — one mega-cell-hour spreads over salt lanes instead of
  * one quadratic straggler task; hotness comes from INCREMENTAL
  * per-batch occupancy summaries (`occ/batch=<id>`, cell-grid-sized,
  * replay-idempotent) so finding ports costs a KB-scale summary read
  * per micro-batch, never a second full index scan.
  */
object StreamingGeo {

  final case class GeoEv(event_id: Long, user_id: Long, ts: Timestamp)

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
      zid: Long)
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
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    // the registry (literal or [[Geo.loadZones]]-loaded) compiles into
    // the projection at query START — still zero join, zero broadcast
    val zoned = Geo.positioned(evs)
      .select(col("user_id"), col("event_id"), col("ts"),
        Geo.zoneIdExpr(col("lon_e6"), col("lat_e6"), zones).as("zid"))
      .as[ZoneEv]
    zoned.groupByKey(_.user_id)
      .flatMapGroupsWithState[ZoneState, ZoneVisit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[ZoneEv], state) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[ZoneVisit]
          fixes.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            if (st == null)
              st = ZoneState(e.zid, t, t, e.event_id, 1L)
            else if (t > st.lastMs ||
                (t == st.lastMs && e.event_id > st.lastId)) {
              if (e.zid == st.zid)
                st = st.copy(lastMs = t, lastId = e.event_id, n = st.n + 1)
              else {
                if (st.zid != -1L)
                  out += ZoneVisit(uid, st.zid, new Timestamp(st.enterMs),
                    new Timestamp(st.lastMs), st.n)
                st = ZoneState(e.zid, t, t, e.event_id, 1L)
              }
            } // else: replay/straggler — no-op by the rule
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append")
      .trigger(trigger)
      .format("parquet")
      .option("path", s"$outDir/visits")
      .start()
  }

  /** [[startResample]]'s typed input: one positioned fix. */
  final case class PosEv(user_id: Long, event_id: Long, ts: Timestamp,
      lat_e6: Long, lon_e6: Long)
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
    * the (ts, event_id) watermark, the StateTracker rule. */
  def startResample(spark: SparkSession, landingDir: String,
      outDir: String, stepS: Long = 600L, maxGapS: Long = 21600L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(stepS > 0 && maxGapS >= stepS,
      s"need 0 < stepS <= maxGapS, got stepS=$stepS maxGapS=$maxGapS")
    import spark.implicits._
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    def hup(lo: Long, hi: Long, num: Long, den: Long): Long =
      if (hi >= lo) lo + (2 * (hi - lo) * num + den) / (2 * den)
      else lo - (2 * (lo - hi) * num + den) / (2 * den)
    Geo.positioned(evs).as[PosEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FixState, GridFix](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[PosEv], state) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[GridFix]
          fixes.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = Math.floorDiv(e.ts.getTime, 1000L) // = unix_timestamp
            if (st == null)
              st = FixState(t, e.event_id, e.lat_e6, e.lon_e6)
            else if (t > st.lastT ||
                (t == st.lastT && e.event_id > st.lastId)) {
              val dt = t - st.lastT
              if (dt > 0 && dt <= maxGapS) {
                val gs = st.lastT - st.lastT % stepS + stepS
                val ge = t - t % stepS
                var g = gs
                while (g <= ge) {
                  out += GridFix(uid, g,
                    hup(st.la, e.lat_e6, g - st.lastT, dt),
                    hup(st.lo, e.lon_e6, g - st.lastT, dt))
                  g += stepS
                }
              }
              st = FixState(t, e.event_id, e.lat_e6, e.lon_e6)
            } // else: replay/straggler — no-op by the rule
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append")
      .trigger(trigger)
      .format("parquet")
      .option("path", s"$outDir/grid")
      .start()
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
    * StateTracker rule. */
  def startDarkGaps(spark: SparkSession, landingDir: String,
      outDir: String, minGapS: Long = 21600L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(minGapS >= 1L, s"need minGapS >= 1, got $minGapS")
    import spark.implicits._
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    evs.select(col("user_id"), col("event_id"), col("ts"))
      .as[GeoEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapState, DarkGap](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (uid: Long, fixes: Iterator[GeoEv], state) =>
          var st = state.getOption.orNull
          val out = Seq.newBuilder[DarkGap]
          fixes.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = Math.floorDiv(e.ts.getTime, 1000L)
            if (st == null) st = GapState(t, e.event_id)
            else if (t > st.lastT ||
                (t == st.lastT && e.event_id > st.lastId)) {
              if (t - st.lastT >= minGapS)
                out += DarkGap(uid, new Timestamp(st.lastT * 1000L),
                  new Timestamp(t * 1000L), t - st.lastT)
              st = GapState(t, e.event_id)
            } // else: replay/straggler — no-op by the rule
          }
          if (st != null) state.update(st)
          out.result().iterator
      }
      .writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .outputMode("append")
      .trigger(trigger)
      .format("parquet")
      .option("path", s"$outDir/gaps")
      .start()
  }

  /** One representative point per (vessel, hour) with band cells —
    * THE q264 derivation ([[Geo.bandedPoints]]), shared so the batch
    * and streaming joins can never drift. */
  private def points(batch: DataFrame): DataFrame =
    Geo.bandedPoints(batch)

  /** Always-on DARK RENDEZVOUS monitor — q283's streaming form: the
    * transshipment alert ("went dark next to X, reappeared next to
    * Y") fires at the micro-batch where the vessel REAPPEARS, not at
    * the nightly batch recompute. Composition of two judged streaming
    * pieces: gap completion from a per-vessel last-fix SNAPSHOT (the
    * [[startEpisodes]] open-state pattern — fleet-sized parquet per
    * batch, replay reads the snapshot from before itself), and the
    * endpoint proximity probe through THE q264 band join against the
    * same persisted (hour, cell) position index the other monitors
    * keep ([[Geo.bandedPairs]], gap identity + endpoint zone carried
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
    *   - one tiny aggregate over the endpoints bounds the index/occ
    *     reads to the ENDPOINT hour span (a gap-start hour reaches back
    *     up to the gap's length — size the [[retainIndex]] horizon to
    *     the longest gap you want endpoint-paired);
    *   - alerts land under `alerts/batch=<id>` in the batch q283's
    *     exact output shape ([[Geo.rendezvousAlerts]]); index/occ
    *     partitions follow the [[start]] layout, so one outDir can
    *     serve this monitor and retention together;
    *   - the new `last/batch=<id>` snapshot lands, and every snapshot
    *     older than the one this batch read is deleted (a crash replay
    *     of this batch reads that one again).
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
    require(radiusM * 9 <= 5000L,
      s"radiusM=$radiusM exceeds the 5,000-µdeg cell's completeness bound")
    import spark.implicits._
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    evs.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val fs = new Path(outDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val indexDir = s"$outDir/index"
        val occDir = s"$outDir/occ"
        val lastDir = s"$outDir/last"
        val ptCols = Seq("user_id", "hour", "lat_e6", "lon_e6", "cy", "cx")
          .map(col)
        val cached = collection.mutable.Buffer.empty[DataFrame]
        def keep(df: DataFrame): DataFrame = {
          cached += df.persist(StorageLevel.MEMORY_AND_DISK); df
        }
        try {
          val raw = keep(batch)
          val pts = keep(points(raw))
          // previous per-vessel last-fix snapshot (newest id < bid —
          // a crash-replayed batch reads the state from BEFORE itself
          // and reproduces its own outputs, the open/ pattern)
          val lastIds = snapshotIds(fs, lastDir)
          val prevId = lastIds.filter(_ < bid).lastOption
          val prev: DataFrame = prevId match {
            case Some(p) =>
              spark.read.schema(LastSchema).parquet(s"$lastDir/batch=$p")
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
          val legs = keep(prev.withColumn("from_state", lit(true))
            .unionByName(bFix.withColumn("from_state", lit(false)))
            .withColumn("pt", lag(col("t"), 1).over(wu))
            .withColumn("pla", lag(col("lat_e6"), 1).over(wu))
            .withColumn("plo", lag(col("lon_e6"), 1).over(wu))
            .withColumn("newest", lead(lit(true), 1).over(wu).isNull))
          // new gaps end at a batch fix
          val eps = Geo.gapEndpoints(legs.filter(!col("from_state")),
            minGapS, zones)
          // index reads bounded to the ENDPOINT hour span (pairing
          // matches equal hours only); gap-start hours reach back, so
          // the span covers [oldest gap start, newest batch hour]
          val spanRow = eps.agg(min(col("hour")), max(col("hour"))).head
          def inSpan(c: Column): Column =
            if (spanRow.isNullAt(0)) lit(false)
            else c.between(spanRow.getLong(0), spanRow.getLong(1))
          val occBatch = pts.groupBy(col("hour"), col("cy"), col("cx"))
            .agg(count(lit(1)).as("n"))
          val earlier =
            if (fs.exists(new Path(indexDir)))
              spark.read.schema(IndexSchema).parquet(indexDir)
                .filter(col("batch") < bid && inSpan(col("hour")))
                .select(ptCols: _*)
            else pts.select(ptCols: _*).limit(0)
          // the batch's own reps join too: a reappearance hour's other
          // vessels usually land in the SAME batch (hour-aligned feed)
          val idxAll = earlier.unionByName(pts.select(ptCols: _*))
          val prevOcc =
            if (fs.exists(new Path(occDir)))
              spark.read.schema(OccSchema).parquet(occDir)
                .filter(col("batch") < bid && inSpan(col("hour")))
                .select(col("hour"), col("cy"), col("cx"), col("n"))
            else occBatch.limit(0)
          val hot = Some(prevOcc.unionByName(occBatch)
            .groupBy(col("hour"), col("cy"), col("cx"))
            .agg(sum(col("n")).as("occ"))
            .filter(col("occ") >
              math.min(hotOccupancy, maxCellOccupancy)))
          val hits = Geo.bandedPairs(eps, idxAll, radiusM, hotOccupancy,
            saltBuckets, hot, maxCellOccupancy,
            carryProbeCols = Seq("gap_start", "gap_end", "gap_s", "ep", "zid"))
          Geo.rendezvousAlerts(hits, zones)
            .write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$outDir/alerts/batch=$bid")
          // occ + index partitions, the start() layout (retention-
          // compatible); then the merged last-fix snapshot
          occBatch.write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$occDir/batch=$bid")
          pts.repartitionByRange(col("hour"))
            .sortWithinPartitions(col("hour"))
            .write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$indexDir/batch=$bid")
          legs.filter(col("newest"))
            .select(LastSchema.fieldNames.toIndexedSeq.map(col): _*)
            .write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$lastDir/batch=$bid")
          pruneSnapshots(fs, lastDir, lastIds, prevId)
        } finally { cached.foreach(_.unpersist()) }
        ()
      }
      .start()
  }

  /** Column layout of the persisted per-batch state, given on every read
    * so a micro-batch never runs a footer-inference job to learn it:
    * the (hour, cell) position index, its occupancy summaries (both
    * with their `batch` partition column) and the last-fix snapshot. */
  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))
  private val IndexSchema =
    longs("user_id", "hour", "lat_e6", "lon_e6", "cy", "cx", "batch")
  private val OccSchema = longs("hour", "cy", "cx", "n", "batch")
  private val LastSchema = longs("user_id", "t", "event_id", "lat_e6", "lon_e6")

  /** Ids of the `<dir>/batch=<id>` state snapshots, ascending. */
  private def snapshotIds(fs: FileSystem, dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
  }

  /** Once a micro-batch has written its own snapshot, drop every
    * snapshot older than `read`, the one it started from: the next
    * batch reads this batch's snapshot, and a crash replay of this
    * batch reads `read` again, so nothing older is ever read. Keeps
    * state at two snapshots instead of one per batch forever. */
  private def pruneSnapshots(fs: FileSystem, dir: String, ids: Seq[Long],
      read: Option[Long]): Unit =
    ids.filter(b => read.exists(b < _))
      .foreach(b => fs.delete(new Path(s"$dir/batch=$b"), true))

  def start(spark: SparkSession, landingDir: String, outDir: String,
      radiusM: Long = 500L,
      trigger: Trigger = Trigger.AvailableNow(),
      hotOccupancy: Long = 1024L, saltBuckets: Int = 16,
      maxCellOccupancy: Long = Geo.DefaultMaxCellOccupancy): StreamingQuery = {
    require(radiusM * 9 <= 5000L,
      s"radiusM=$radiusM exceeds the 5,000-µdeg cell's completeness bound")
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    evs.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val fs = new Path(outDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val indexDir = s"$outDir/index"
        val occDir = s"$outDir/occ"
        // persist: the representative-point window otherwise replays
        // for the span aggregate, the occ summary, the band-join probe
        // and the index write (~4x per batch — ADVICE r18); released
        // before the batch closure returns (zero-persisted-RDD-delta)
        val pts = points(batch).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the batch's hour span: pairing matches EQUAL hours only, so
          // index rows outside [min_hour, max_hour] cannot join — one
          // tiny aggregate (the hwm pattern) bounds every index/occ read
          // to the batch's span instead of the whole landed history,
          // keeping per-batch cost O(batch hour span), not O(stream age)
          val spanRow = pts.agg(min(col("hour")), max(col("hour"))).head
          val span: Option[(Long, Long)] =
            if (spanRow.isNullAt(0)) None
            else Some((spanRow.getLong(0), spanRow.getLong(1)))
          def inSpan(c: Column): Column = span match {
            case Some((lo, hi)) => c.between(lo, hi)
            case None           => lit(false)
          }
          // the batch's own per-cell occupancy — reused for the occ
          // write below AND unioned into the hot/poison summary, so a
          // poison (over-cap) cell formed ENTIRELY within this batch is
          // excluded immediately, not one batch late (the cap is the
          // OOM guard, which must see the current batch's points)
          val occBatch = pts.groupBy(col("hour"), col("cy"), col("cx"))
            .agg(count(lit(1)).as("n"))
          if (fs.exists(new Path(indexDir))) {
            val earlier = spark.read.schema(IndexSchema).parquet(indexDir)
              .filter(col("batch") < bid && inSpan(col("hour")))
            // hot (port) cells from the INCREMENTAL per-batch occupancy
            // summaries — cell-grid-sized reads, so finding ports never
            // re-scans the whole position index each micro-batch
            val prevOcc =
              if (fs.exists(new Path(occDir)))
                spark.read.schema(OccSchema).parquet(occDir)
                  .filter(col("batch") < bid && inSpan(col("hour")))
                  .select(col("hour"), col("cy"), col("cx"), col("n"))
              else occBatch.limit(0)
            val hot = Some(prevOcc.unionByName(occBatch)
              .groupBy(col("hour"), col("cy"), col("cx"))
              .agg(sum(col("n")).as("occ"))
              .filter(col("occ") >
                math.min(hotOccupancy, maxCellOccupancy)))
            // THE q264 band join ([[Geo.bandedPairs]]): 3x3 probe
            // replication, exact verify, and the occupancy-salted
            // hot-cell path — the port mega-cell spreads over salt
            // lanes here exactly as in the batch form
            Geo.bandedPairs(pts, earlier, radiusM, hotOccupancy,
                saltBuckets, hot, maxCellOccupancy)
              .filter(col("u1") =!= col("u2"))
              .select(col("u1").as("u_new"), col("u2").as("u_old"),
                col("hour"), col("m"))
              .distinct()
              .write.mode("overwrite")
              .option("compression", Writers.DefaultCompression)
              .parquet(s"$outDir/alerts/batch=$bid")
          } else
            // land an empty alert partition so readers see every batch
            pts.limit(0)
              .select(col("user_id").as("u_new"),
                col("user_id").as("u_old"), col("hour"),
                lit(0L).as("m"))
              .write.mode("overwrite")
              .option("compression", Writers.DefaultCompression)
              .parquet(s"$outDir/alerts/batch=$bid")
          // per-batch occupancy summary beside the index (batch=<id>
          // overwrite, replay-idempotent like everything else here)
          occBatch.write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$occDir/batch=$bid")
          // hour-clustered index files: range-partition + sort by hour
          // so each parquet file covers a narrow hour band and the
          // span-bounded reads above prune whole files by footer stats
          pts.repartitionByRange(col("hour"))
            .sortWithinPartitions(col("hour"))
            .write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$indexDir/batch=$bid")
        } finally { pts.unpersist(); () }
        ()
      }
      .start()
  }

  /** Always-on CO-TRAVEL EPISODES — q269's streaming form: the convoy
    * alert fires the moment a pair's episode reaches `minHours`
    * encounter-hours, not at the nightly batch recompute.
    *
    * Per micro-batch: the batch's points pair against the persisted
    * index PLUS themselves through THE q269 band join
    * ([[graft.queries.Geo.bandedPairs]] — every pair-hour with at
    * least one new endpoint, found exactly once), then each pair's
    * new hours fold into its OPEN episode by q269's gaps-and-islands
    * rule (gap > `maxGapHours` closes and restarts). State is a
    * parquet SNAPSHOT per batch (`open/batch=<id>`, overwrite —
    * replay-idempotent exactly like the index partitions; a replayed
    * batch reads the snapshot from BEFORE itself and reproduces its
    * own outputs bit for bit; older snapshots are deleted as soon as
    * nothing can read them). Outputs: `closed/batch=<id>` (episodes
    * that ended, >= minHours only — q269's emission rule) and
    * `alerts/batch=<id>` (one row per episode at the moment it first
    * reaches minHours).
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
    require(radiusM * 9 <= 5000L,
      s"radiusM=$radiusM exceeds the 5,000-µdeg cell's completeness bound")
    require(minHours >= 1L && maxGapHours >= 1L,
      s"need minHours/maxGapHours >= 1, got $minHours/$maxGapHours")
    import spark.implicits._
    val evs = spark.readStream
      .schema(Encoders.product[GeoEv].schema)
      .parquet(landingDir)
    evs.writeStream
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val fs = new Path(outDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val indexDir = s"$outDir/index"
        val occDir = s"$outDir/occ"
        // persist: the representative-point window otherwise replays for
        // the span aggregate, the index-union probe, the occ summary and
        // the index write (ADVICE r18, the start() fix applied here
        // too); released before the batch closure returns
        val pts = points(batch).persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val ptCols = Seq("user_id", "hour", "lat_e6", "lon_e6", "cy", "cx")
            .map(col)
          // batch hour span (one tiny aggregate): pairing matches EQUAL
          // hours only, so index/occ rows outside the span cannot join —
          // every persisted read below is bounded to the span, keeping
          // per-batch cost O(batch hour span) instead of O(stream age);
          // max doubles as the eviction high-water
          val spanRow = pts.agg(min(col("hour")), max(col("hour"))).head
          val span: Option[(Long, Long)] =
            if (spanRow.isNullAt(0)) None
            else Some((spanRow.getLong(0), spanRow.getLong(1)))
          def inSpan(c: Column): Column = span match {
            case Some((lo, hi)) => c.between(lo, hi)
            case None           => lit(false)
          }
          // index side: every earlier batch's points PLUS this batch's
          // own (new-new pairs are this stream's job too — unlike the
          // alert stream, the episode fold needs EVERY pair-hour)
          val idxAll =
            if (fs.exists(new Path(indexDir)))
              spark.read.schema(IndexSchema).parquet(indexDir)
                .filter(col("batch") < bid && inSpan(col("hour")))
                .select(ptCols: _*).unionByName(pts.select(ptCols: _*))
            else pts.select(ptCols: _*)
          // batch's own occupancy — reused for the occ write below and
          // unioned into the hot/poison summary so the over-cap guard
          // (output-affecting: it is the OOM bound) sees a poison cell
          // the moment it forms, including one formed entirely within
          // this batch; hotness (salting) gains the same freshness free
          val occBatch = pts.groupBy(col("hour"), col("cy"), col("cx"))
            .agg(count(lit(1)).as("n"))
          val prevOcc =
            if (fs.exists(new Path(occDir)))
              spark.read.schema(OccSchema).parquet(occDir)
                .filter(col("batch") < bid && inSpan(col("hour")))
                .select(col("hour"), col("cy"), col("cx"), col("n"))
            else occBatch.limit(0)
          val hot = Some(prevOcc.unionByName(occBatch)
            .groupBy(col("hour"), col("cy"), col("cx"))
            .agg(sum(col("n")).as("occ"))
            .filter(col("occ") >
              math.min(hotOccupancy, maxCellOccupancy)))
          val ph = Geo.bandedPairs(pts, idxAll, radiusM, hotOccupancy,
              saltBuckets, hot, maxCellOccupancy)
            .filter(col("u1") =!= col("u2"))
            .select(least(col("u1"), col("u2")).as("u1"),
              greatest(col("u1"), col("u2")).as("u2"),
              col("hour"), col("m"))
            .groupBy(col("u1"), col("u2"), col("hour"))
            .agg(min(col("m")).as("m"))
          // the observed-hour high-water drives deterministic eviction —
          // the span aggregate's max, no extra pass
          val hwm: Option[Long] = span.map(_._2)
          // open-episode snapshot from BEFORE this batch (max id < bid)
          val openDir = s"$outDir/open"
          val openIds = snapshotIds(fs, openDir)
          val prevId = openIds.filter(_ < bid).lastOption
          val open: Dataset[EpState] = prevId match {
            case Some(p) => spark.read.schema(Encoders.product[EpState].schema)
              .parquet(s"$openDir/batch=$p").as[EpState]
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
          // one computation, three routed sinks: cache the fold (sized
          // by the ACTIVE pair population, evicted past maxGapHours —
          // never collected to the driver) instead of replaying the
          // band join per sink, then release before the batch ends
          val routed = folded.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            def land(kind: String, dir: String): Unit =
              routed.filter(_.kind == kind)
                .select(col("u1"), col("u2"), col("start_hour"),
                  col("end_hour"), col("n_hours"), col("min_m"),
                  col("alerted"))
                .write.mode("overwrite")
                .option("compression", Writers.DefaultCompression)
                .parquet(s"$outDir/$dir/batch=$bid")
            land("closed", "closed")
            land("alert", "alerts")
            land("open", "open")
          } finally { routed.unpersist(); () }
          pruneSnapshots(fs, openDir, openIds, prevId)
          // per-batch occupancy + index append, the start() layout
          occBatch.write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$occDir/batch=$bid")
          pts.repartitionByRange(col("hour"))
            .sortWithinPartitions(col("hour"))
            .write.mode("overwrite")
            .option("compression", Writers.DefaultCompression)
            .parquet(s"$indexDir/batch=$bid")
        } finally { pts.unpersist(); () }
        ()
      }
      .start()
  }

  /** Retention for the persisted position index — the compaction the
    * always-on monitors need so the table under them stops growing
    * without bound: drop every `index/batch=<id>` (and its
    * `occ/batch=<id>` sibling) whose NEWEST hour has fallen more than
    * `horizonHours` behind the stream's observed hour high-water.
    *
    * Safety contract: the monitors' per-batch reads are bounded to the
    * batch's own hour span, so a dropped partition can only be missed
    * by a batch whose span still reaches back past the horizon — i.e.
    * data arriving later than `horizonHours` after its event hour.
    * Size the horizon to the late-data window you accept (for
    * [[startEpisodes]], at least `maxGapHours` so an episode that is
    * still extendable can always find its pairs); later-than-horizon
    * stragglers are the batch recompute's job, the same escape hatch
    * as everywhere else in this family. Decisions read ONLY the
    * cell-grid-sized occ summaries, never the index itself.
    *
    * The monitors prune their own superseded state snapshots
    * (`open/`, `last/`) as they go, and the closed/alerts OUTPUT logs
    * are never touched (they are the product, not state). Maintenance
    * op under the single-writer contract: run while the stream is
    * down, like compact/vacuum. Returns the dropped index batch ids. */
  def retainIndex(spark: SparkSession, outDir: String,
      horizonHours: Long): Seq[Long] = {
    require(horizonHours >= 1L, s"need horizonHours >= 1, got $horizonHours")
    val occDir = s"$outDir/occ"
    val fs = new Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(occDir))) return Seq.empty
    val byBatch = spark.read.schema(OccSchema).parquet(occDir)
      .groupBy(col("batch"))
      .agg(max(col("hour")))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    if (byBatch.isEmpty) return Seq.empty
    val hwm = byBatch.map(_._2).max
    val drop = byBatch.filter(_._2 < hwm - horizonHours).map(_._1)
      .sorted.toSeq
    drop.foreach { b =>
      fs.delete(new Path(s"$outDir/index/batch=$b"), true)
      fs.delete(new Path(s"$occDir/batch=$b"), true)
    }
    drop
  }
}
