package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{Pins, Tables}

/** Geo/trajectory operators — the domain family an AIS-scale position
  * pipeline needs (the reference ingests NOAA AIS vessel-traffic
  * archives; its notebooks stop at relational preprocessing, so these
  * are extensions in the SURVEY §2 "pipeline needs" sense): grid-cell
  * density, per-vessel track legs with impossible-speed audit, and
  * banded proximity-pair detection (the spatial sibling of LSH
  * banding).
  *
  * Positions: the testdata carries no coordinates, so each event gets
  * a DETERMINISTIC md5-derived position (the q59/q152/q242 addressing
  * rule — both engines derive identical integers): a per-user base
  * point in a 0.5°x0.5° operating box plus a per-event jitter of
  * ±0.005° (~±550 m), i.e. a vessel loitering near its base — enough
  * structure for legs and encounters to be non-degenerate while every
  * bit stays oracle-replayable.
  *
  * Float discipline (the q195/q210 rules): positions are EXACT INTEGER
  * microdegrees end-to-end — grid cells are integer division, leg
  * gates are cross-multiplied integers; the haversine is the ONE
  * terminal double block (identical expression tree both engines) and
  * every emitted distance re-grids to whole meters, which absorbs
  * libm ulp skew (the q178 precedent).
  */
object Geo {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  private val Dec = "decimal(38,0)"

  /** Deterministic position in integer MICRODEGREES: per-user base in
    * [0, 0.5e6) µdeg on each axis, per-event jitter in [-5000, 5000).
    */
  def positioned(events: DataFrame): DataFrame = {
    import Stats.h32
    events.select(col("event_id"), col("user_id"), col("ts"),
      (pmod(h32(col("user_id"), ":blat"), lit(500000L))
        + pmod(h32(col("event_id"), ":jlat"), lit(10000L)) - 5000L)
        .as("lat_e6"),
      (pmod(h32(col("user_id"), ":blon"), lit(500000L))
        + pmod(h32(col("event_id"), ":jlon"), lit(10000L)) - 5000L)
        .as("lon_e6"))
  }

  /** Haversine meters between two integer-µdeg points — the one
    * double block; callers re-grid the result to whole meters. */
  def haversineM(lat1: Column, lon1: Column, lat2: Column,
      lon2: Column): Column = {
    // deg->rad on the µdeg grid: 1e-6 * pi/180
    val k = lit(1.7453292519943295e-8)
    val dphi = (lat2 - lat1).cast("double") * k
    val dlam = (lon2 - lon1).cast("double") * k
    val p1 = lat1.cast("double") * k
    val p2 = lat2.cast("double") * k
    val h = sin(dphi / 2) * sin(dphi / 2) +
      cos(p1) * cos(p2) * sin(dlam / 2) * sin(dlam / 2)
    lit(2.0 * 6371000.0) * asin(sqrt(h))
  }

  /** Grid-cell density: 0.01° (10,000 µdeg) cells, positions per cell
    * + distinct vessels, top-20 hot cells. The pre-aggregation any
    * heat-map / traffic-lane readout runs; one map-side-combined
    * aggregate, integer cells, TakeOrdered finish. */
  def cellDensity(events: DataFrame, top: Int = 20): DataFrame =
    positioned(events)
      .select((col("lat_e6") + 5000L).divide(10000L).cast("long")
          .as("cell_y"),
        (col("lon_e6") + 5000L).divide(10000L).cast("long").as("cell_x"),
        col("user_id"))
      .groupBy(col("cell_y"), col("cell_x"))
      .agg(count(lit(1)).as("n_positions"),
        countDistinct(col("user_id")).as("n_vessels"))
      .orderBy(col("n_positions").desc, col("cell_y"), col("cell_x"))
      .limit(top)

  /** Per-vessel track report: consecutive-event legs (ordered by ts,
    * event_id within user), leg length in whole meters, and the
    * impossible-speed audit — a leg faster than `vmaxMps` is a
    * position error (the classic AIS data-quality gate). Per-user
    * totals: legs, EXACT integer total meters (each leg re-gridded to
    * whole meters BEFORE the sum — no order-dependent float
    * accumulation), impossible count. The window partitions on
    * user_id — bounded by the per-user stream (q43/q150 contract). */
  def trackReport(events: DataFrame, vmaxMps: Long = 20L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val legs = positioned(events)
      .withColumn("plat", lag(col("lat_e6"), 1).over(w))
      .withColumn("plon", lag(col("lon_e6"), 1).over(w))
      .withColumn("dt_s", unix_timestamp(col("ts"))
        - lag(unix_timestamp(col("ts")), 1).over(w))
      .filter(col("plat").isNotNull)
      .select(col("user_id"), col("dt_s"),
        round(haversineM(col("plat"), col("plon"),
          col("lat_e6"), col("lon_e6"))).cast("long").as("leg_m"))
      // impossible = meters > vmax * seconds, exact integers
      // cross-multiplied; a zero-dt repeat fix with any movement is
      // impossible by definition
      .withColumn("bad",
        when(col("leg_m") > lit(vmaxMps) * greatest(col("dt_s"), lit(0L)),
          1L).otherwise(0L))
    legs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_legs"),
        sum(col("leg_m").cast(Dec)).cast("long").as("total_m"),
        sum(col("bad")).as("n_impossible"))
      .orderBy(col("user_id"))
  }

  /** Proximity pairs — vessels within `radiusM` of each other in the
    * same hour: the spatial-banding shape (LSH's geo sibling). One
    * representative position per (vessel, hour) (min event_id — the
    * deterministic pick), each LEFT point replicated to its 3x3 cell
    * neighborhood, equi-join on (hour, cell), u1 < u2, then the exact
    * haversine verify on the integer-meter grid. Replicated matches
    * collapse via DISTINCT before the pair aggregate.
    *
    * Cell sizing is the knee: the 3x3 neighborhood is COMPLETE for
    * any pair within the radius iff one cell edge >= the radius (the
    * same guarantee banding gives Jaccard), and the within-cell pair
    * space grows QUADRATICALLY with cell occupancy — so the cell is
    * the SMALLEST complete one: 5,000 µdeg ≈ 556 m >= the 500 m
    * default radius — total candidate pairs scale as points²/cells,
    * so halving the cell edge cuts verify work ~4x (SCALE.md r16 (o);
    * the 10x-users peak task is the REPLICATED-POINT sort buffer,
    * sized by the shuffle-partition knob, not the pair space —
    * measured there under both cell sizes). Near-equator
    * contract: lon cells shrink by cos(lat); at real latitudes size
    * cells by radius / cos(maxLat). Hot cells (ports) are handled by
    * [[bandedPairs]]' occupancy-aware salting — a mega-port cell-hour
    * spreads over saltBuckets tasks instead of one quadratic
    * straggler (measured: GeoSkewRehearsal / SCALE.md r17).
    * Returns (u1, u2, n_hours, min_m). */
  /** One representative position per (vessel, hour) with the
    * 5,000-µdeg band cells — the SHARED derivation of the batch
    * proximity join (q264) and its streaming form ([[graft.streaming.
    * StreamingGeo]]); one definition so the two can never drift. */
  def bandedPoints(events: DataFrame): DataFrame =
    positioned(events)
      .withColumn("hour", floor(unix_timestamp(col("ts")) / 3600L))
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("user_id"), col("hour"))
        .orderBy(col("event_id"))))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("hour"), col("lat_e6"), col("lon_e6"),
        (col("lat_e6") + 5000L).divide(5000L).cast("long").as("cy"),
        (col("lon_e6") + 5000L).divide(5000L).cast("long").as("cx"))

  /** The band join's completeness condition: a 5,000-µdeg cell is
    * ≈ 556 m, so every pair within `radiusM` ≤ 555 m sits in the same
    * or a neighboring cell, where the 3x3 probe finds it. */
  private[graft] def requireCellComplete(radiusM: Long): Unit =
    require(radiusM * 9 <= 5000L,
      s"radiusM=$radiusM exceeds the 5,000-µdeg cell's completeness bound")

  /** The hot/poison cell list [[bandedPairs]] joins against: the
    * (hour, cy, cx) cells of `pts` holding more points than EITHER
    * threshold, as (hour, cy, cx, __hot, __poison) — at most
    * |pts|/min(hotOccupancy, maxCellOccupancy) rows. */
  private[graft] def hotCellList(pts: DataFrame, hotOccupancy: Long,
      maxCellOccupancy: Long): DataFrame =
    pts.groupBy(col("hour"), col("cy"), col("cx"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > math.min(hotOccupancy, maxCellOccupancy))
      .select(col("hour"), col("cy"), col("cx"),
        (col("occ") > hotOccupancy).as("__hot"),
        (col("occ") > maxCellOccupancy).as("__poison"))

  /** Banded pair candidates with the exact haversine verify — the ONE
    * join both the batch q264 and [[graft.streaming.StreamingGeo]]
    * run: `probe` points replicated to their 3x3 cell neighborhood,
    * equi-joined against `index` points on (hour, cell), every
    * candidate verified on the integer-meter grid.
    *
    * HOT-CELL (port) mitigation, occupancy-aware salting: index cells
    * holding more than `hotOccupancy` points get their points spread
    * over `saltBuckets` deterministic salt lanes (xxhash64 of the
    * vessel id — the salt never reaches the output, so no oracle
    * replayability constraint) and the probe side replicated across
    * the lanes for those cells only. The PAIR SET is identical —
    * every (probe, index) pair still meets in exactly one lane — but
    * a mega-cell-hour's occ² verify runs as `saltBuckets` tasks of
    * occ²/saltBuckets instead of one quadratic straggler, which is
    * the q184 skew class this join is otherwise exposed to at AIS
    * port density. Cold cells pay one broadcast-hash probe against
    * the (bounded, <= points/hotOccupancy rows) hot-cell list and
    * keep salt 0. Measured (GeoSkewRehearsal, SCALE.md r17): output
    * identical at every regime; <= 7% overhead at a 2,000-occupancy
    * port, ~0% at the production shape; at local reach the wall cost
    * is the legitimately quadratic pair OUTPUT (shuffle-balanced on
    * the pair hash by distinct/aggregate), while the lanes are the
    * cluster-scale insurance for the cores >> heavy-cell-hours
    * regime local[32] cannot exhibit.
    */
  private[graft] def bandedPairs(probe: DataFrame, index: DataFrame,
      radiusM: Long, hotOccupancy: Long = 1024L,
      saltBuckets: Int = 16,
      hotCells: Option[DataFrame] = None,
      maxCellOccupancy: Long = DefaultMaxCellOccupancy,
      carryProbePos: Boolean = false,
      carryProbeCols: Seq[String] = Nil): DataFrame = {
    // POISON-CELL guard (the q184 cap-and-report convention): a cell-
    // hour whose occupancy exceeds maxCellOccupancy is a data bug
    // (e.g. every malformed row at (0,0)) whose occ^2 pair OUTPUT no
    // salting can bound — its points are EXCLUDED from pairing on both
    // sides here and REPORTED by [[poisonCells]] (audit, don't
    // explode).
    // hot-cell source: `hotCells`, a caller-computed [[hotCellList]],
    // when available (StreamingGeo's index step collects it to the
    // driver and passes it as a local relation, so an empty list plans
    // the three joins away and a non-empty one broadcasts without a
    // job); otherwise derived from `index` here — one more replay of
    // the points subtree, which measured CHEAPER than materializing it
    // (SCALE.md r17 negative result). ONE bounded broadcast list —
    // cells above EITHER threshold, hot/poison flagged independently —
    // serves both the salt lanes and the poison drop.
    val hot = hotCells.getOrElse(
      hotCellList(index, hotOccupancy, maxCellOccupancy))
    val right = index.join(broadcast(hot), Seq("hour", "cy", "cx"), "left")
      .filter(!coalesce(col("__poison"), lit(false)))
      .select(col("user_id").as("u2"), col("hour"),
        col("lat_e6").as("la2"), col("lon_e6").as("lo2"),
        col("cy"), col("cx"),
        when(col("__hot"),
          pmod(xxhash64(col("user_id")), lit(saltBuckets.toLong)))
          .otherwise(0L).as("salt"))
    val probe9 = probe
      // poison drop on the HOME cell, before neighborhood replication —
      // the same broadcast(hot) as the other two joins, so the hot-cell
      // aggregate runs once and all three reuse its exchange
      .join(broadcast(hot), Seq("hour", "cy", "cx"), "left")
      .filter(!coalesce(col("__poison"), lit(false)))
      .drop("__hot", "__poison")
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(Seq(col("user_id").as("u1"), col("hour"),
        col("lat_e6").as("la1"), col("lon_e6").as("lo1"),
        (col("cy") + col("dy")).as("cy"),
        (col("cx") + col("dx")).as("cx")) ++
        carryProbeCols.map(col): _*)
      .join(broadcast(hot), Seq("hour", "cy", "cx"), "left")
      // a poison neighbor cell has an empty index side: probe it on
      // one lane instead of fanning saltBuckets lanes into nothing
      .withColumn("salt", explode(
        when(col("__hot") && !col("__poison"),
          sequence(lit(0L), lit(saltBuckets - 1L)))
          .otherwise(array(lit(0L)))))
      .drop("__hot", "__poison")
    // carryProbePos adds the probe's OWN position to the output —
    // functionally dependent on (u1, hour) (one representative per
    // vessel-hour), so it never changes a pair set, only rides along
    // for downstream zone attribution (q279); carryProbeCols rides
    // arbitrary probe payload the same way (q283 carries gap identity)
    val outCols = Seq(col("u1"), col("u2"), col("hour"),
      round(haversineM(col("la1"), col("lo1"),
        col("la2"), col("lo2"))).cast("long").as("m")) ++
      (if (carryProbePos) Seq(col("la1"), col("lo1")) else Nil) ++
      carryProbeCols.map(col)
    // shuffle_hash with the build on the INDEX side: sort-merge here
    // sorted the 9x-replicated probe side per task — a buffer that
    // grew LINEARLY with fleet size at fixed shuffle partitions
    // (measured r19: 1.33 GB at users 10x -> 3.39 GB at 30x, the
    // whole encounter family's envelope). The hash build is the
    // UN-replicated index side (one row per vessel-hour, /partitions)
    // and the replicated probe side now STREAMS — peak task drops to
    // the build map and stays bounded by |vessel-hours|/partitions,
    // the quantity the shuffle-partition knob scales with the cluster
    // (salt lanes + the poison cap already bound per-KEY concentration,
    // so no single build partition is occupancy-skewed).
    probe9.join(right.hint("shuffle_hash"), Seq("hour", "cy", "cx", "salt"))
      .select(outCols: _*)
      .filter(col("m") <= radiusM)
  }

  /** Far above any physically plausible port density (a 556 m cell
    * holding 65k distinct vessels in one hour is a data bug, not a
    * port — measured regimes top out ~2,000, SCALE.md r17) yet a hard
    * bound on the band join's occ² pair output. */
  val DefaultMaxCellOccupancy: Long = 65536L

  /** The poison-cell AUDIT — (hour, cy, cx, occ) for every cell-hour
    * whose occupancy exceeds `maxCellOccupancy`: exactly the cells
    * [[bandedPairs]] excludes from pairing. Empty on healthy data;
    * any row here is an upstream data bug (the q184
    * audit-don't-explode convention — report the skew, never let it
    * OOM the join). */
  def poisonCells(events: DataFrame,
      maxCellOccupancy: Long = DefaultMaxCellOccupancy): DataFrame =
    bandedPoints(events)
      .groupBy(col("hour"), col("cy"), col("cx"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxCellOccupancy)
      .orderBy(col("occ").desc, col("hour"), col("cy"), col("cx"))

  def proximityPairs(events: DataFrame, radiusM: Long = 500L,
      hotOccupancy: Long = 1024L, saltBuckets: Int = 16,
      maxCellOccupancy: Long = DefaultMaxCellOccupancy): DataFrame = {
    requireCellComplete(radiusM)
    // bandedPairs reads the windowed points three times (hot
    // aggregate, probe, index). A localCheckpoint here was MEASURED
    // SLOWER at the 10x users rehearsal (15.1 -> 20.9 s despite
    // halving shuffle bytes): materializing the corpus-sized frame as
    // deserialized blocks costs more than replaying the codegen'd
    // scan+window, so the replays stay (SCALE.md r17, negative
    // result).
    val pts = bandedPoints(events)
    val hits = bandedPairs(pts, pts, radiusM, hotOccupancy, saltBuckets,
        maxCellOccupancy = maxCellOccupancy)
      .filter(col("u1") < col("u2"))
      .distinct()
    hits.groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_hours"), min(col("m")).as("min_m"))
      .orderBy(col("u1"), col("u2"))
  }

  /** Co-travel episodes — vessel pairs within `radiusM` in at least
    * `minHours` encounter-hours whose successive encounters are at
    * most `maxGapHours` apart: the "moving together" signal (escort,
    * convoy, transshipment rendezvous) a bare pair count (q264)
    * dilutes, because scattered one-off encounters and a sustained
    * joint passage read the same there. The gap tolerance is the
    * session knob (q43's rule, in hours): AIS-style streams ping
    * sparsely, so strict consecutive-hour chaining (maxGapHours = 1)
    * is one setting, not the definition. Gaps-and-islands on the
    * banded pair-hours: break where the gap exceeds the tolerance,
    * run = running break count, one aggregate per (pair, run). The
    * corpus-sized work is exactly q264's band join; the island window
    * partitions by PAIR (corpus-parallel, bounded by the pair's
    * encounter-hour stream — the q43/q150 contract). Returns (u1, u2,
    * start_hour, end_hour, n_hours, min_m), episodes ordered within
    * pair. */
  def coTravel(events: DataFrame, radiusM: Long = 500L,
      minHours: Long = 2L, maxGapHours: Long = 168L): DataFrame = {
    requireCellComplete(radiusM)
    // no localCheckpoint: measured slower, see [[proximityPairs]]
    val pts = bandedPoints(events)
    val hits = bandedPairs(pts, pts, radiusM)
      .filter(col("u1") < col("u2"))
      .distinct()
    val w = Window.partitionBy(col("u1"), col("u2")).orderBy(col("hour"))
    hits
      .withColumn("brk",
        when(col("hour") - lag(col("hour"), 1).over(w) > maxGapHours, 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("u1"), col("u2"), col("run"))
      .agg(min(col("hour")).as("start_hour"),
        max(col("hour")).as("end_hour"),
        count(lit(1)).as("n_hours"), min(col("m")).as("min_m"))
      .filter(col("n_hours") >= minHours)
      .select(col("u1"), col("u2"), col("start_hour"), col("end_hour"),
        col("n_hours"), col("min_m"))
      .orderBy(col("u1"), col("u2"), col("start_hour"))
  }

  /** The SHARED stationary-run derivation under the whole stop family
    * (q265 stop report, q266 OD matrix, q268 dwell heatmap, q273 zone
    * attribution — one definition so the consumers can never drift):
    * per-user consecutive-fix legs (the q263 window), each flagged
    * moving (leg > `maxLegM` meters), run id = running count of moving
    * legs (gaps-and-islands, exact integer window over the per-user
    * stream — the q43/q150 bounded contract). Rows: (user_id,
    * event_id, ts, pts, peid, plat, plon, dt_s, leg_m, moving, run).
    */
  private def stationaryRuns(events: DataFrame, maxLegM: Long): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val legs = positioned(events)
      .withColumn("plat", lag(col("lat_e6"), 1).over(w))
      .withColumn("plon", lag(col("lon_e6"), 1).over(w))
      .withColumn("pts", lag(col("ts"), 1).over(w))
      .withColumn("peid", lag(col("event_id"), 1).over(w))
      .filter(col("plat").isNotNull)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("pts"), col("peid"), col("plat"), col("plon"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("pts"))).as("dt_s"),
        round(haversineM(col("plat"), col("plon"),
          col("lat_e6"), col("lon_e6"))).cast("long").as("leg_m"))
      .withColumn("moving", when(col("leg_m") > maxLegM, 1L).otherwise(0L))
    val w2 = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    legs.withColumn("run", sum(col("moving")).over(w2))
  }

  /** One row per qualifying STOP with its representative FIRST fix
    * (min (pts, peid) — the odMatrix/q268 convention): (user_id, run,
    * plat, plon, sts, peid, dw). */
  private def stopReps(events: DataFrame, maxLegM: Long,
      minDwellS: Long): DataFrame = {
    val runs = stationaryRuns(events, maxLegM).filter(col("moving") === 0)
    val wr = Window.partitionBy(col("user_id"), col("run"))
      .orderBy(col("pts"), col("peid"))
    runs
      .withColumn("rn", row_number().over(wr))
      .withColumn("dw", sum(col("dt_s")).over(
        Window.partitionBy(col("user_id"), col("run"))))
      .filter(col("rn") === 1 && col("dw") >= minDwellS)
      .select(col("user_id"), col("run"), col("plat"), col("plon"),
        col("pts").as("sts"), col("peid"), col("dw"))
  }

  /** Stop (dwell) detection — the port-call readout: a STOP is a
    * maximal run of consecutive stationary legs (leg <= `maxLegM`
    * meters), kept when its dwell reaches `minDwellS` seconds. The
    * gaps-and-islands shape (q103's runs) on top of q263's legs
    * ([[stationaryRuns]]), one aggregate per (user, run), every
    * duration an exact integer-second sum.
    * Returns (user_id, stop_start, stop_end, n_fixes, dwell_s),
    * timestamps rendered as strings (the engine-neutral hashing rule).
    */
  def stopReport(events: DataFrame, maxLegM: Long = 50L,
      minDwellS: Long = 1800L): DataFrame =
    stationaryRuns(events, maxLegM)
      .filter(col("moving") === 0)
      .groupBy(col("user_id"), col("run"))
      .agg(date_format(min(col("pts")), "yyyy-MM-dd HH:mm:ss")
          .as("stop_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("stop_end"),
        (count(lit(1)) + 1).as("n_fixes"),
        sum(col("dt_s")).cast("long").as("dwell_s"))
      .filter(col("dwell_s") >= minDwellS)
      .select(col("user_id"), col("stop_start"), col("stop_end"),
        col("n_fixes"), col("dwell_s"))
      .orderBy(col("user_id"), col("stop_start"))

  /** Origin-destination flow matrix — trips between consecutive STOPS
    * (q265's islands) per vessel, aggregated to 0.01° cell pairs: the
    * traffic-flow readout (q160's transition matrix in space). Each
    * stop's representative point is its FIRST fix (min (ts, event_id)
    * — deterministic); a trip is (stop k -> stop k+1) under the
    * per-user ordered frame; the matrix is one integer-cell aggregate
    * over |stops| rows. All the corpus-sized work is q265's leg
    * window; everything after rides the stop summary.
    */
  def odMatrix(events: DataFrame, maxLegM: Long = 200L,
      minDwellS: Long = 1800L): DataFrame = {
    val stops = stopReps(events, maxLegM, minDwellS)
      .select(col("user_id"), col("sts"), col("peid"),
        (col("plat") + 5000L).divide(10000L).cast("long").as("cy"),
        (col("plon") + 5000L).divide(10000L).cast("long").as("cx"))
    val ws = Window.partitionBy(col("user_id"))
      .orderBy(col("sts"), col("peid"))
    stops
      .withColumn("fcy", lag(col("cy"), 1).over(ws))
      .withColumn("fcx", lag(col("cx"), 1).over(ws))
      .filter(col("fcy").isNotNull)
      .groupBy(col("fcy").as("from_cy"), col("fcx").as("from_cx"),
        col("cy").as("to_cy"), col("cx").as("to_cx"))
      .agg(count(lit(1)).as("n_trips"))
      .orderBy(col("n_trips").desc, col("from_cy"), col("from_cx"),
        col("to_cy"), col("to_cx"))
  }

  /** Bounded ZONE registry — the geofence table (port basins,
    * anchorages, exclusion zones). Each zone is an ordered polygon of
    * (lon_e6, lat_e6) integer-µdeg vertices over the synthetic
    * operating box; at 100 TB this is exactly the broadcastable
    * dim-table shape (a few thousand zones x a few dozen vertices —
    * KBs against a corpus-sized point side). Literal constants so the
    * engine and the oracle derive the SAME edge table. */
  val Zones: Seq[(Long, String, Seq[(Long, Long)])] = Seq(
    (1L, "nw_harbor",
      Seq((0L, 300000L), (210000L, 330000L), (190000L, 505000L),
        (-5000L, 480000L))),
    (2L, "center_triangle",
      Seq((150000L, 150000L), (350000L, 180000L), (240000L, 380000L))),
    (3L, "se_basin",
      Seq((300000L, -5000L), (505000L, 20000L), (480000L, 230000L),
        (320000L, 200000L))),
    (4L, "inner_pentagon",
      Seq((50000L, 50000L), (120000L, 40000L), (140000L, 110000L),
        (90000L, 160000L), (30000L, 120000L))))

  /** Config-driven zone registry — real geofences arrive as DATA, not
    * compile-time constants: load (zone_id, zone_name, vertices) from
    * a JSON-lines file (`{"zone_id":1,"zone_name":"nw_harbor",
    * "vertices":[[lon_e6,lat_e6],...]}`) or a parquet table of the
    * same shape, validated and collected to the driver — the zone
    * table is the bounded broadcast-dim contract ([[Zones]]'s
    * Scaladoc), so a driver-side Seq IS its production form; every
    * consumer ([[zonesFor]], [[zoneIdExpr]], [[zoneStops]],
    * [[zoneVisits]], [[zoneTransitions]], the streaming
    * zone-visit monitor) takes the loaded registry through its
    * `zones` parameter and compiles the SAME plan as with the
    * literal (GeoSpec pins file-loaded == literal on q273/q277).
    * [[Zones]] stays as the oracle fixture. */
  def loadZones(spark: SparkSession,
      path: String): Seq[(Long, String, Seq[(Long, Long)])] = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("zone_id", LongType),
      StructField("zone_name", StringType),
      StructField("vertices", ArrayType(ArrayType(LongType)))))
    val df =
      if (path.endsWith(".json") || path.endsWith(".jsonl"))
        spark.read.schema(schema).json(path)
      else
        spark.read.parquet(path)
          .select(col("zone_id").cast("long"),
            col("zone_name").cast("string"),
            col("vertices").cast("array<array<long>>"))
    val zs = df.collect().map { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"zone file $path: every row needs zone_id, zone_name, vertices")
      val vs = r.getSeq[scala.collection.Seq[Any]](2).map { v =>
        // element nullability checked on the BOXED values: a JSON
        // vertex like [null, 5] would otherwise unbox null to 0L and
        // load a silently corrupt polygon
        require(v != null && v.length == 2 &&
          v(0) != null && v(1) != null,
          s"zone file $path: each vertex must be [lon_e6, lat_e6], " +
            "both non-null")
        (v(0).asInstanceOf[Long], v(1).asInstanceOf[Long])
      }.toSeq
      (r.getLong(0), r.getString(1), vs)
    }.sortBy(_._1).toSeq
    require(zs.nonEmpty, s"zone file $path holds no zones")
    zs.foreach { case (id, name, vs) =>
      require(id >= 0, s"zone $name: zone_id must be >= 0 (-1 is open sea)")
      require(vs.size >= 3, s"zone $id '$name': a polygon needs >= 3 " +
        s"vertices, got ${vs.size}")
    }
    require(zs.map(_._1).distinct.size == zs.size,
      s"zone file $path: duplicate zone_id")
    zs
  }

  /** Zones unrolled to directed edges (zone_id, zone_name, x1, y1,
    * x2, y2) — the broadcast side of the point-in-polygon join. */
  private def zoneEdges(spark: SparkSession,
      zones: Seq[(Long, String, Seq[(Long, Long)])]): DataFrame = {
    import spark.implicits._
    zones.flatMap { case (id, name, vs) =>
      (vs :+ vs.head).sliding(2).collect {
        case Seq((x1, y1), (x2, y2)) => (id, name, x1, y1, x2, y2)
      }
    }.toDF("zone_id", "zone_name", "x1", "y1", "x2", "y2")
  }

  /** The same edge table as a DuckDB VALUES list — generated from
    * [[Zones]] so the two engines can never drift. */
  private def zoneEdgesSql: String =
    Zones.flatMap { case (id, name, vs) =>
      (vs :+ vs.head).sliding(2).collect {
        case Seq((x1, y1), (x2, y2)) =>
          s"($id, '$name', $x1, $y1, $x2, $y2)"
      }
    }.mkString(", ")

  /** Point-in-polygon against the bounded zone table — EXACT integer
    * crossing-number (ray cast toward -x): edge (x1,y1)->(x2,y2)
    * crosses the horizontal ray of (px,py) iff it straddles py under
    * the strict-above rule ((y1 > py) != (y2 > py)) and px lies
    * STRICTLY left of the edge's x at height py, compared
    * cross-multiplied so no division (and no float) ever happens.
    * Pinned boundary convention (GeoSpec): a point on a LEFT or
    * BOTTOM edge — and the bottom-left vertex — is INSIDE; on a
    * RIGHT or TOP edge, OUTSIDE: the half-open rule that makes a
    * zone tiling PARTITION points (no double counting, no orphan on
    * shared borders).
    *
    * Returns the carried `keyCols` + (zone_id, zone_name), one row
    * per CONTAINING zone (points in no zone drop; overlapping zones
    * emit one row each). 100 TB shape: the edge table broadcasts;
    * crossing flags are map-side; the only shuffle is the parity
    * groupBy on the carried key — and when `points` is already a
    * bounded summary (q273's stops) the whole test is a footnote
    * next to the corpus scan. */
  def zonesFor(points: DataFrame, lonCol: String, latCol: String,
      keyCols: Seq[String],
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    val px = col(lonCol); val py = col(latCol)
    val num = (col("x2") - col("x1")) * (py - col("y1")) -
      (px - col("x1")) * (col("y2") - col("y1"))
    val crossing = when(((col("y1") > py) =!= (col("y2") > py)) &&
      when(col("y2") > col("y1"), num > 0).otherwise(num < 0), 1L)
      .otherwise(0L)
    points
      .crossJoin(broadcast(zoneEdges(points.sparkSession, zones)))
      .withColumn("__cr", crossing)
      .groupBy(keyCols.map(col) :+ col("zone_id") :+ col("zone_name"): _*)
      .agg(sum(col("__cr")).as("__ncr"))
      .filter(pmod(col("__ncr"), lit(2L)) === 1)
      .drop("__ncr")
  }

  /** Zone-attributed port calls — q265's stops point-in-polygon
    * joined against the zone table ([[zonesFor]]): per zone, stop
    * count, distinct vessels, exact total dwell seconds; stops inside
    * no zone roll up under (-1, 'open_sea') so the readout is total
    * (an overlapping-zone stop counts once per containing zone, by
    * contract). The corpus-sized work is the shared leg window
    * ([[stationaryRuns]]); the polygon test rides the bounded stop
    * summary against a broadcast edge table — no corpus-side shuffle
    * is added. The "which BASIN was the call in" readout the
    * reference's AIS domain wants from stop detection. */
  def zoneStops(events: DataFrame, maxLegM: Long = 200L,
      minDwellS: Long = 1800L,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    val reps = stopReps(events, maxLegM, minDwellS)
      .select(col("user_id"), col("plat"), col("plon"), col("dw"))
    // The zone attribution as ONE codegen'd
    // generator projection instead of the [[zonesFor]] broadcast-join
    // ray cast + parity aggregate + join back (guide §3: eliminate the
    // join outright — the registry is a literal, so each zone's
    // crossing parity compiles to a branch-free integer expression).
    // Semantics unchanged, including on OVERLAPPING registries: the
    // per-stop array holds one struct per CONTAINING zone (one output
    // row each, exactly zonesFor's contract), and an empty array rolls
    // up under (-1, 'open_sea'). Three exchanges (parity groupBy, join
    // back, final aggregate) become one (the final aggregate).
    val hits = array(zones.sortBy(_._1).map { case (id, nm, vs) =>
      when(zoneParity(col("plon"), col("plat"), vs),
        struct(lit(id).as("zone_id"), lit(nm).as("zone_name")))
    }: _*)
    val zoned = filter(hits, _.isNotNull)
    val openSea = array(struct(lit(-1L).as("zone_id"),
      lit("open_sea").as("zone_name")))
    reps
      .select(col("user_id"), col("dw"),
        explode(when(size(zoned) === 0, openSea).otherwise(zoned))
          .as("z"))
      .groupBy(col("z.zone_id").as("zone_id"),
        col("z.zone_name").as("zone_name"))
      .agg(count(lit(1)).as("n_stops"),
        countDistinct(col("user_id")).as("n_vessels"),
        sum(col("dw").cast(Dec)).cast("long").as("dwell_s"))
      .orderBy(col("zone_id"), col("zone_name"))
  }

  /** The zone test as ONE codegen'd PROJECTION — for per-ping (hot
    * path) attribution where even a broadcast join is overkill: the
    * zone registry is a literal constant, so each zone's crossing
    * parity compiles to a branch-free integer expression and the
    * attribution is `coalesce(when(in_1, 1) ... , -1)` — lowest
    * zone_id wins (the q275 tie rule), zero shuffle, zero join,
    * inside whole-stage codegen. Same exact integer ray cast and
    * boundary convention as [[zonesFor]]. */
  private[graft] def zoneIdExpr(px: Column, py: Column,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): Column =
    coalesce(zones.sortBy(_._1).map { case (id, _, vs) =>
      when(zoneParity(px, py, vs), lit(id)) } :+ lit(-1L): _*)

  /** One zone's crossing parity as a branch-free integer expression —
    * [[zoneIdExpr]]'s per-zone building block, shared by the
    * zero-join zone attributions (q273/q275/q277, streaming monitor):
    * the same exact integer ray cast and half-open boundary convention
    * as [[zonesFor]]. */
  private def zoneParity(px: Column, py: Column,
      vs: Seq[(Long, Long)]): Column =
    pmod((vs :+ vs.head).sliding(2).collect {
      case Seq((x1, y1), (x2, y2)) if y1 != y2 =>
        val straddle = (lit(y1) > py) =!= (lit(y2) > py)
        val num = lit(x2 - x1) * (py - lit(y1)) -
          (px - lit(x1)) * lit(y2 - y1)
        when(straddle && (if (y2 > y1) num > 0 else num < 0), 1L)
          .otherwise(0L)
    }.reduce(_ + _), lit(2L)) === 1

  /** [[zoneIdExpr]]'s DuckDB rendering, generated from the same
    * [[Zones]] constant — engines cannot drift. `px`/`py` are SQL
    * expressions for lon/lat in µdeg. */
  private def zoneIdSql(px: String, py: String): String = {
    def parity(vs: Seq[(Long, Long)]): String =
      "(" + (vs :+ vs.head).sliding(2).collect {
        case Seq((x1, y1), (x2, y2)) if y1 != y2 =>
          val cmp = if (y2 > y1) ">" else "<"
          s"CASE WHEN ($y1 > $py) <> ($y2 > $py) AND " +
            s"(${x2 - x1}) * ($py - $y1) - ($px - $x1) * (${y2 - y1}) " +
            s"$cmp 0 THEN 1 ELSE 0 END"
      }.mkString(" + ") + ") % 2 = 1"
    "CASE " + Zones.sortBy(_._1).map { case (id, _, vs) =>
      s"WHEN ${parity(vs)} THEN $id" }.mkString(" ") + " ELSE -1 END"
  }

  /** zone_id -> zone_name as DuckDB SQL, generated from [[Zones]]. */
  private def zoneNameSql(zid: String): String =
    "CASE " + Zones.sortBy(_._1).map { case (id, nm, _) =>
      s"WHEN $zid = $id THEN '$nm'" }.mkString(" ") +
      " ELSE 'open_sea' END"

  /** Zone VISITS — the geofence-breach readout ("vessel entered the
    * exclusion zone at T, left at T'"): every fix attributed to its
    * zone by the codegen'd [[zoneIdExpr]] (zero join), then
    * gaps-and-islands runs of consecutive same-zone fixes per vessel;
    * one row per IN-ZONE run with observed enter/exit fixes and the
    * fix count. Open-sea runs separate visits (leaving a zone ends
    * the visit) but do not emit. The per-vessel window is the
    * q43/q150 bounded contract; everything before it is a pure
    * projection. Returns (user_id, zone_id, enter_ts, exit_ts,
    * n_fixes), strings for hashing. */
  def zoneVisits(events: DataFrame,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pts = positioned(events)
      .withColumn("zid", zoneIdExpr(col("lon_e6"), col("lat_e6"), zones))
      .withColumn("chg",
        when(lag(col("zid"), 1).over(w).isNull ||
          lag(col("zid"), 1).over(w) =!= col("zid"), 1L).otherwise(0L))
      .withColumn("run", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    pts
      .filter(col("zid") =!= -1L)
      .groupBy(col("user_id"), col("run"), col("zid").as("zone_id"))
      .agg(date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("enter_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("exit_ts"),
        count(lit(1)).as("n_fixes"))
      .select(col("user_id"), col("zone_id"), col("enter_ts"),
        col("exit_ts"), col("n_fixes"))
      .orderBy(col("user_id"), col("enter_ts"), col("exit_ts"),
        col("zone_id"), col("n_fixes"))
  }

  /** FLEET (flotilla) detection — connected components over the
    * co-travel graph: vessels chained by shared episodes (q269's
    * gap-tolerant islands; `minHours` is the edge-strength knob, and
    * the default 1 makes every verified encounter an edge — fleet
    * detection wants the association graph, not only the sustained
    * passages). Components via the dedup family's large/small-star
    * CC ([[graft.llm.Dedup.connectedComponentsStar]] — O(log n)
    * rounds on ANY graph shape; a proximity graph CHAINS along
    * shipping lanes, so min-label propagation's diameter-rounds
    * budget is the wrong tool here — it overran at the 10× rehearsal,
    * exactly the high-diameter case its own error message names);
    * pair-graph-sized, never corpus-sized. Per fleet: member count,
    * edge count, episode count, exact total pair-hours. fleet_id is
    * the component's minimum vessel id (deterministic). */
  def fleets(events: DataFrame, radiusM: Long = 500L,
      minHours: Long = 1L, maxGapHours: Long = 168L): DataFrame = Pins { pins =>
    val eps = coTravel(events, radiusM, minHours, maxGapHours)
    // r20: materialize the pair summary ONCE — it feeds BOTH the CC
    // edge list and the per-fleet aggregate below, and as a lazy frame
    // the second consumer REPLAYED the whole band-join + islands
    // pipeline (the query's only corpus-sized work) at the final
    // action. The fleet grid lands before prs is released; the ORDER
    // goes on after (a checkpoint scan does not promise to preserve a
    // pre-checkpoint sort).
    val prs = pins.pin(eps.groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_episodes"),
        sum(col("n_hours").cast(Dec)).cast("long").as("hours")))
    val comps = graft.llm.Dedup.connectedComponentsStar(
      prs.select(col("u1").as("d1"), col("u2").as("d2")))
    val members = comps.groupBy(col("comp"))
      .agg(count(lit(1)).as("n_vessels"))
    val pairAgg = prs
      .join(comps.select(col("node").as("u1"), col("comp")), Seq("u1"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_episodes")).as("n_episodes"),
        sum(col("hours").cast(Dec)).cast("long").as("pair_hours"))
    pins.land(members.join(pairAgg, Seq("comp"))
      .select(col("comp").as("fleet_id"), col("n_vessels"),
        col("n_pairs"), col("n_episodes"), col("pair_hours")))
  }.orderBy(col("n_vessels").desc, col("fleet_id"))

  /** Zone-attributed co-travel — the WHERE to q269/q278's WHO: each
    * qualifying episode's encounter-hours land in the zone containing
    * the pair's representative position (the SMALLER vessel's
    * per-hour representative — deterministic, and functionally
    * dependent on (u1, hour), so carrying it through the band join
    * never changes a pair set), attributed by the codegen'd
    * [[zoneIdExpr]] projection (lowest zone_id on overlap, -1 =
    * open_sea keeps the readout total). Per zone: encounter-hours,
    * distinct pairs, distinct episodes, closest approach — the
    * analyst's "rendezvous in se_basin, 14 pair-hours" line. All
    * corpus-sized work is exactly q269's band join; the zone test is
    * a branch-free projection over the pair-hour summary, zero added
    * shuffle beyond the per-zone aggregate. Returns (zone_id,
    * zone_name, n_hours, n_pairs, n_episodes, min_m). */
  def episodeZones(events: DataFrame, radiusM: Long = 500L,
      minHours: Long = 2L, maxGapHours: Long = 168L,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    requireCellComplete(radiusM)
    val pts = bandedPoints(events)
    val hits = bandedPairs(pts, pts, radiusM, carryProbePos = true)
      .filter(col("u1") < col("u2"))
      .select(col("u1"), col("u2"), col("hour"), col("m"),
        col("la1"), col("lo1"))
      .distinct()
    val w = Window.partitionBy(col("u1"), col("u2")).orderBy(col("hour"))
    val runs = hits
      .withColumn("brk",
        when(col("hour") - lag(col("hour"), 1).over(w) > maxGapHours, 1L)
          .otherwise(0L))
      .withColumn("run", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("ep_hours", count(lit(1)).over(
        Window.partitionBy(col("u1"), col("u2"), col("run"))))
      .filter(col("ep_hours") >= minHours)
    val zname = coalesce(zones.sortBy(_._1).map { case (id, nm, _) =>
      when(col("zone_id") === id, lit(nm)) } :+ lit("open_sea"): _*)
    runs
      .withColumn("zone_id", zoneIdExpr(col("lo1"), col("la1"), zones))
      .withColumn("zone_name", zname)
      .groupBy(col("zone_id"), col("zone_name"))
      .agg(count(lit(1)).as("n_hours"),
        countDistinct(col("u1"), col("u2")).as("n_pairs"),
        countDistinct(col("u1"), col("u2"), col("run")).as("n_episodes"),
        min(col("m")).as("min_m"))
      .orderBy(col("zone_id"))
  }

  /** Zone-level transition matrix — q266's OD flow lifted from cells
    * to ZONES: trips between consecutive stops counted per
    * (from_zone -> to_zone), the "traffic between basins" readout.
    * A stop inside multiple (overlapping) zones attributes to its
    * LOWEST zone_id (deterministic tie rule); stops outside every
    * zone flow through the (-1, 'open_sea') bucket so transit via
    * unzoned water still shows. All corpus-sized work is the shared
    * leg window; transitions ride the |stops| summary. */
  def zoneTransitions(events: DataFrame, maxLegM: Long = 200L,
      minDwellS: Long = 1800L,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    // MIN(containing zone_id) with -1 fallback IS
    // [[zoneIdExpr]]'s lowest-id-wins contract verbatim, for ANY
    // registry — so the zonesFor broadcast-join ray cast + parity
    // aggregate + min + join back collapses to one branch-free
    // projection (guide §3: eliminate the join outright). Three
    // exchanges drop from the stop-summary path.
    val zs = stopReps(events, maxLegM, minDwellS)
      .select(col("user_id"), col("sts"), col("peid"),
        zoneIdExpr(col("plon"), col("plat"), zones).as("zid"))
    val ws = Window.partitionBy(col("user_id"))
      .orderBy(col("sts"), col("peid"))
    zs
      .withColumn("fzid", lag(col("zid"), 1).over(ws))
      .filter(col("fzid").isNotNull)
      .groupBy(col("fzid").as("from_zone_id"), col("zid").as("to_zone_id"))
      .agg(count(lit(1)).as("n_trips"))
      .orderBy(col("n_trips").desc, col("from_zone_id"), col("to_zone_id"))
  }

  /** Uniform-sampled density — [[cellDensity]]'s readout over the
    * RESAMPLED track ([[trackInterpolate]]'s regular grid) instead of
    * raw pings: a vessel pinging 10× as often no longer weighs 10× in
    * the heat map, so the density reads EXPOSURE (vessel-minutes),
    * not reporting cadence — the sampling-bias kill the interpolation
    * operator exists to feed. */
  def resampledDensity(events: DataFrame, stepS: Long = 600L,
      maxGapS: Long = 21600L, top: Int = 20): DataFrame =
    trackInterpolate(events, stepS, maxGapS)
      .select((col("lat_e6") + 5000L).divide(10000L).cast("long")
          .as("cell_y"),
        (col("lon_e6") + 5000L).divide(10000L).cast("long").as("cell_x"),
        col("user_id"))
      .groupBy(col("cell_y"), col("cell_x"))
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(col("user_id")).as("n_vessels"))
      .orderBy(col("n_samples").desc, col("cell_y"), col("cell_x"))
      .limit(top)

  /** Trajectory resampling — each vessel's sparse pings interpolated
    * onto the regular `stepS`-second grid: for every consecutive-fix
    * leg at most `maxGapS` seconds long, emit the grid instants in
    * the half-open (t1, t2] with positions LINEARLY interpolated in
    * exact integer µdeg — the half-up cross-multiplied rule
    * (HalfUpProps' pinned algebra), sign-split so every operand stays
    * nonnegative. Legs longer than `maxGapS` interpolate NOTHING (a
    * data gap is a gap, not a line), and the half-open interval makes
    * every grid instant belong to exactly one leg, so a resampled
    * track never double-emits. This is the uniform-sampling prep any
    * density/exposure/encounter readout needs before comparing
    * vessels with different ping cadences (the per-vessel window is
    * the q43/q150 bounded contract; the explode fan-out is bounded by
    * maxGapS/stepS per leg). Returns (user_id, t_grid, lat_e6,
    * lon_e6), epoch-second grid instants. */
  def trackInterpolate(events: DataFrame, stepS: Long = 600L,
      maxGapS: Long = 21600L): DataFrame = {
    require(stepS > 0 && maxGapS >= stepS,
      s"need 0 < stepS <= maxGapS, got stepS=$stepS maxGapS=$maxGapS")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val legs = positioned(events)
      .withColumn("plat", lag(col("lat_e6"), 1).over(w))
      .withColumn("plon", lag(col("lon_e6"), 1).over(w))
      .withColumn("pts", lag(col("ts"), 1).over(w))
      .filter(col("plat").isNotNull)
      .select(col("user_id"),
        unix_timestamp(col("pts")).as("t1"),
        unix_timestamp(col("ts")).as("t2"),
        col("plat").as("la1"), col("plon").as("lo1"),
        col("lat_e6").as("la2"), col("lon_e6").as("lo2"))
      .filter(col("t2") > col("t1") && col("t2") - col("t1") <= maxGapS)
      .withColumn("gs", col("t1") - pmod(col("t1"), lit(stepS)) + stepS)
      .withColumn("ge", col("t2") - pmod(col("t2"), lit(stepS)))
      .filter(col("gs") <= col("ge"))
    def interp(lo: String, hi: String): Column =
      when(col(hi) >= col(lo),
        col(lo) + expr(s"(2 * ($hi - $lo) * (g - t1) + (t2 - t1)) " +
          "div (2 * (t2 - t1))"))
        .otherwise(col(lo) - expr(
          s"(2 * ($lo - $hi) * (g - t1) + (t2 - t1)) div (2 * (t2 - t1))"))
    legs
      .withColumn("g", explode(sequence(col("gs"), col("ge"), lit(stepS))))
      .select(col("user_id"), col("g").as("t_grid"),
        interp("la1", "la2").as("lat_e6"),
        interp("lo1", "lo2").as("lon_e6"))
      .orderBy(col("user_id"), col("t_grid"))
  }

  /** Encounter HEATMAP — WHERE the q264 proximity encounters happen:
    * every verified pair-hour attributed to the 0.01° cell of the
    * smaller vessel's representative point (the q279 carry — a
    * functionally-dependent column, pair set untouched), per cell:
    * pair-hours, distinct pairs, closest approach.
    * The transshipment-hotspot readout — q262 counts PRESENCE, this
    * counts MEETINGS, and the two diverge exactly where vessels
    * cluster without interacting (a lane) vs meet (an anchorage).
    * Corpus-sized work is exactly q264's band join; the cell
    * aggregate rides the pair-hour summary. Top-`top` cells by
    * pair-hours (deterministic tie order). */
  def encounterHeatmap(events: DataFrame, radiusM: Long = 500L,
      top: Int = 20): DataFrame = {
    requireCellComplete(radiusM)
    val pts = bandedPoints(events)
    val hits = bandedPairs(pts, pts, radiusM, carryProbePos = true)
      .filter(col("u1") < col("u2"))
      .select(col("u1"), col("u2"), col("hour"), col("m"),
        col("la1"), col("lo1"))
      .distinct()
    hits
      .select(col("u1"), col("u2"), col("m"),
        (col("la1") + 5000L).divide(10000L).cast("long").as("cell_y"),
        (col("lo1") + 5000L).divide(10000L).cast("long").as("cell_x"))
      .groupBy(col("cell_y"), col("cell_x"))
      .agg(count(lit(1)).as("n_pair_hours"),
        countDistinct(col("u1"), col("u2")).as("n_pairs"),
        min(col("m")).as("min_m"))
      .orderBy(col("n_pair_hours").desc, col("cell_y"), col("cell_x"))
      .limit(top)
  }

  /** DARK-GAP (transponder-off) detection — the AIS compliance
    * audit: per vessel, every reporting gap of at least `minGapS`
    * seconds between consecutive fixes, with the distance covered
    * while dark and the implied average speed. A long gap plus a
    * large displacement is the "dark voyage" signal (fishing in a
    * closed area, transshipment at sea); a long gap with near-zero
    * displacement is usually just a moored vessel. One per-user
    * window over the corpus (the q43/q150 bounded contract), output
    * |gaps|-sized. Exact integers: meters from the shared re-gridded
    * haversine, speed in mm/s by the half-up cross-multiplied rule —
    * no terminal float ever hashes. Returns (user_id, gap_start,
    * gap_end, gap_s, leg_m, speed_mmps), ordered (user, gap_start).
    */
  def darkGaps(events: DataFrame, minGapS: Long = 21600L): DataFrame = {
    require(minGapS >= 1L, s"need minGapS >= 1, got $minGapS")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    positioned(events)
      .withColumn("plat", lag(col("lat_e6"), 1).over(w))
      .withColumn("plon", lag(col("lon_e6"), 1).over(w))
      .withColumn("pts", lag(col("ts"), 1).over(w))
      .filter(col("plat").isNotNull)
      .select(col("user_id"),
        col("pts"), col("ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("pts")))
          .as("gap_s"),
        round(haversineM(col("plat"), col("plon"),
          col("lat_e6"), col("lon_e6"))).cast("long").as("leg_m"))
      .filter(col("gap_s") >= minGapS)
      .select(col("user_id"),
        date_format(col("pts"), "yyyy-MM-dd HH:mm:ss").as("gap_start"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("gap_end"),
        col("gap_s"), col("leg_m"),
        // mm/s, half-up cross-multiplied (HalfUpProps' algebra)
        expr("(2 * 1000 * leg_m + gap_s) div (2 * gap_s)")
          .as("speed_mmps"))
      // full-column order: same-second gaps stay deterministic
      .orderBy(col("user_id"), col("gap_start"), col("gap_end"),
        col("gap_s"), col("leg_m"), col("speed_mmps"))
  }

  /** DARK RENDEZVOUS — the analyst's next question after [[darkGaps]]
    * (q280 says WHO went dark and how far they moved; the domain
    * signal for transshipment is a dark gap whose ENDPOINTS are near
    * another vessel): for every q280 gap, find vessels within
    * `radiusM` of the gap's start or end fix in that fix's hour — the
    * "went dark right next to X, reappeared next to Y" meetup audit.
    * Pure composition of two judged components: the q280 gap
    * derivation produces the (tiny) endpoint probe set, which rides
    * THE q264 band join ([[bandedPairs]], endpoint fixes probing the
    * per-(vessel, hour) representative index — hour-representative
    * proximity, q264's convention) with the gap identity carried
    * through as probe payload (functionally inert: it never changes a
    * pair set). Zone attribution is the codegen'd [[zoneIdExpr]]
    * projection on the ENDPOINT fix, applied on the |2·gaps|-sized
    * probe frame before the join — zero added corpus work.
    *
    * Per (gap, nearby vessel): how many endpoints were near (1 or 2),
    * the closest approach, and the zone of the closest endpoint
    * (tie → the start endpoint, deterministic). 100 TB shape: corpus
    * work is one per-user window (q280) + the band join with a
    * gap-endpoint-sized probe side; everything after is |hits|-sized.
    * `minGapS` >= 3600 keeps the two endpoint hours distinct, so each
    * endpoint contributes at most one hit per nearby vessel. Returns
    * (user_id, gap_start, gap_end, gap_s, nearby, n_ends, zone_id,
    * zone_name, min_m), ordered. */
  def darkRendezvous(events: DataFrame, minGapS: Long = 21600L,
      radiusM: Long = 500L,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    require(minGapS >= 3600L,
      s"need minGapS >= 3600 (distinct endpoint hours), got $minGapS")
    requireCellComplete(radiusM)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val legs = positioned(events)
      .withColumn("t", unix_timestamp(col("ts")))
      .withColumn("pt", lag(col("t"), 1).over(w))
      .withColumn("pla", lag(col("lat_e6"), 1).over(w))
      .withColumn("plo", lag(col("lon_e6"), 1).over(w))
    val hits = bandedPairs(gapEndpoints(legs, minGapS, zones),
      bandedPoints(events), radiusM,
      carryProbeCols = Seq("gap_start", "gap_end", "gap_s", "ep", "zid"))
    rendezvousAlerts(hits, zones)
      .orderBy(col("user_id"), col("gap_start"), col("gap_end"),
        col("nearby"), col("gap_s"), col("n_ends"), col("zone_id"),
        col("min_m"))
  }

  /** The probe side of q283 and of its always-on form
    * ([[graft.streaming.StreamingGeo.startDarkRendezvous]]): `legs`
    * holds fixes (`user_id`, `t` in epoch seconds, `lat_e6`, `lon_e6`)
    * next to their predecessor's (`pt`, `pla`, `plo`); every leg at
    * least `minGapS` long is a dark gap, and becomes two endpoint rows
    * (ep 0 = the gap start, 1 = the reappearance) with the endpoint's
    * hour, band cell and zone. Both endpoints come from ONE explode of
    * a two-struct array, so the legs subtree (a per-vessel window) is
    * evaluated once, not once per endpoint side. Returns (user_id,
    * gap_start, gap_end, gap_s, ep, hour, lat_e6, lon_e6, cy, cx, zid). */
  private[graft] def gapEndpoints(legs: DataFrame, minGapS: Long,
      zones: Seq[(Long, String, Seq[(Long, Long)])]): DataFrame = {
    def fmt(c: Column): Column =
      date_format(timestamp_seconds(c), "yyyy-MM-dd HH:mm:ss")
    legs
      .filter(col("pla").isNotNull && col("t") - col("pt") >= minGapS)
      .select(col("user_id"), fmt(col("pt")).as("gap_start"),
        fmt(col("t")).as("gap_end"), (col("t") - col("pt")).as("gap_s"),
        explode(array(
          struct(lit(0L).as("ep"), floor(col("pt") / 3600L).as("hour"),
            col("pla").as("lat_e6"), col("plo").as("lon_e6")),
          struct(lit(1L).as("ep"), floor(col("t") / 3600L).as("hour"),
            col("lat_e6"), col("lon_e6")))).as("e"))
      .select(col("user_id"), col("gap_start"), col("gap_end"),
        col("gap_s"), col("e.ep").as("ep"), col("e.hour").as("hour"),
        col("e.lat_e6").as("lat_e6"), col("e.lon_e6").as("lon_e6"))
      .withColumn("cy", (col("lat_e6") + 5000L).divide(5000L).cast("long"))
      .withColumn("cx", (col("lon_e6") + 5000L).divide(5000L).cast("long"))
      .withColumn("zid", zoneIdExpr(col("lon_e6"), col("lat_e6"), zones))
  }

  /** q283's roll-up of [[bandedPairs]] hits (endpoints from
    * [[gapEndpoints]] as the probe, their payload carried): per (gap,
    * nearby vessel), how many endpoints were near, the closest approach
    * and the zone of the closest endpoint. Shared with the streaming
    * form so the two emit the same rows. */
  private[graft] def rendezvousAlerts(hits: DataFrame,
      zones: Seq[(Long, String, Seq[(Long, Long)])]): DataFrame = {
    val zname = coalesce(zones.sortBy(_._1).map { case (id, nm, _) =>
      when(col("zone_id") === id, lit(nm)) } :+ lit("open_sea"): _*)
    hits
      .filter(col("u1") =!= col("u2"))
      .groupBy(col("u1").as("user_id"), col("gap_start"), col("gap_end"),
        col("gap_s"), col("u2").as("nearby"))
      // argmin on the lexicographic struct: closest approach wins, a
      // distance tie goes to the start endpoint (ep 0 < 1)
      .agg(count(lit(1)).as("n_ends"),
        min(struct(col("m"), col("ep"), col("zid"))).as("__am"))
      .withColumn("zone_id", col("__am").getField("zid"))
      .withColumn("zone_name", zname)
      .select(col("user_id"), col("gap_start"), col("gap_end"),
        col("gap_s"), col("nearby"), col("n_ends"), col("zone_id"),
        col("zone_name"), col("__am").getField("m").as("min_m"))
  }

  /** Zone EXPOSURE — vessel-time per zone, measured on the RESAMPLED
    * track: each q274 grid instant ([[trackInterpolate]]) represents
    * `stepS` seconds of presence and is zone-attributed by the
    * codegen'd projection, so the readout is actual time-in-zone
    * (the regulator's "how long was the fleet inside the exclusion
    * zone"), immune to reporting-cadence bias — the q276 rationale
    * applied to geofences. Per zone: grid samples, distinct vessels,
    * exact exposure seconds (samples × step; -1 open_sea keeps the
    * total). Corpus-sized work is the q274 leg window + bounded
    * explode; the zone test and aggregate ride the grid. */
  def zoneExposure(events: DataFrame, stepS: Long = 600L,
      maxGapS: Long = 21600L,
      zones: Seq[(Long, String, Seq[(Long, Long)])] = Zones): DataFrame = {
    val zname = coalesce(zones.sortBy(_._1).map { case (id, nm, _) =>
      when(col("zone_id") === id, lit(nm)) } :+ lit("open_sea"): _*)
    trackInterpolate(events, stepS, maxGapS)
      .withColumn("zone_id", zoneIdExpr(col("lon_e6"), col("lat_e6"),
        zones))
      .withColumn("zone_name", zname)
      .groupBy(col("zone_id"), col("zone_name"))
      .agg(count(lit(1)).as("n_samples"),
        countDistinct(col("user_id")).as("n_vessels"),
        (count(lit(1)) * stepS).as("exposure_s"))
      .orderBy(col("zone_id"))
  }

  // Shared oracle fragment: the position derivation in DuckDB.
  private val PosSql =
    """SELECT event_id, user_id, ts,
      |       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
      |         || ':blat'), 1, 8) AS BIGINT) % 500000
      |       + CAST('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)
      |         || ':jlat'), 1, 8) AS BIGINT) % 10000 - 5000 AS lat_e6,
      |       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
      |         || ':blon'), 1, 8) AS BIGINT) % 500000
      |       + CAST('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)
      |         || ':jlon'), 1, 8) AS BIGINT) % 10000 - 5000 AS lon_e6
      |FROM events""".stripMargin

  private val HavSql =
    """2.0 * 6371000.0 * ASIN(SQRT(
      |  SIN((la2 - la1) * 1.7453292519943295e-8 / 2)
      |    * SIN((la2 - la1) * 1.7453292519943295e-8 / 2)
      |  + COS(la1 * 1.7453292519943295e-8)
      |    * COS(la2 * 1.7453292519943295e-8)
      |    * SIN((lo2 - lo1) * 1.7453292519943295e-8 / 2)
      |    * SIN((lo2 - lo1) * 1.7453292519943295e-8 / 2)))""".stripMargin

  def defs: Seq[Q] = Seq(

    // GRID DENSITY — top-20 hottest 0.01° cells by position count.
    Q("q262_geo_density",
      (s, d) => cellDensity(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              cells AS (
                SELECT (lat_e6 + 5000) // 10000 AS cell_y,
                       (lon_e6 + 5000) // 10000 AS cell_x, user_id
                FROM pos)
              SELECT cell_y, cell_x,
                     CAST(COUNT(*) AS BIGINT) AS n_positions,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_vessels
              FROM cells GROUP BY 1, 2
              ORDER BY n_positions DESC, cell_y, cell_x
              LIMIT 20""")),

    // TRACK LEGS + IMPOSSIBLE-SPEED AUDIT — per vessel: legs, exact
    // integer total meters, legs faster than 20 m/s.
    Q("q263_track_report",
      (s, d) => trackReport(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              flagged AS (
                SELECT user_id, leg_m,
                       CASE WHEN leg_m > 20 * GREATEST(dt_s, 0)
                            THEN 1 ELSE 0 END AS bad
                FROM lm)
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_legs,
                     CAST(SUM(CAST(leg_m AS HUGEINT)) AS BIGINT)
                       AS total_m,
                     CAST(SUM(bad) AS BIGINT) AS n_impossible
              FROM flagged GROUP BY 1 ORDER BY user_id""")),

    // PROXIMITY PAIRS — vessels within 500 m in the same hour via the
    // 3x3 cell-neighborhood band join + exact haversine verify.
    // ORACLE SCOPE (here and q269/q278/q279/q283): the SQL does not model
    // the engine's maxCellOccupancy poison exclusion — the two agree
    // iff poisonCells(events) is EMPTY, which GeoSpec asserts for the
    // oracle datasets; a future mega-cell dataset fails that audit
    // loudly instead of surfacing as a mysterious hash mismatch.
    Q("q264_proximity_pairs",
      (s, d) => proximityPairs(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, hour, lat_e6 AS la1,
                       lon_e6 AS lo1, cy + dy.dy AS cy, cx + dx.dx AS cx
                FROM pts
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              hits AS (
                SELECT DISTINCT u1, u2, hour, m FROM (
                  SELECT l.u1, r.user_id AS u2, l.hour,
                         CAST(ROUND(2.0 * 6371000.0 * ASIN(SQRT(
                           SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           * SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           + COS(l.la1 * 1.7453292519943295e-8)
                             * COS(r.lat_e6 * 1.7453292519943295e-8)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2))))
                           AS BIGINT) AS m
                  FROM lft l JOIN pts r
                    ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                  WHERE l.u1 < r.user_id) p
                WHERE m <= 500)
              SELECT u1, u2, CAST(COUNT(*) AS BIGINT) AS n_hours,
                     MIN(m) AS min_m
              FROM hits GROUP BY 1, 2 ORDER BY u1, u2""")),

    // DWELL HEATMAP — total stopped seconds per 0.01° cell (each
    // q265 stop attributed to its representative fix's cell): the
    // "where do vessels actually sit" anchorage readout, one integer
    // aggregate over the stop summary.
    Q("q268_dwell_heatmap",
      (s, d) =>
        stopReps(t(s, d, "events"), 200L, 1800L)
          .select((col("plat") + 5000L).divide(10000L).cast("long")
              .as("cell_y"),
            (col("plon") + 5000L).divide(10000L).cast("long").as("cell_x"),
            col("dw"))
          .groupBy(col("cell_y"), col("cell_x"))
          .agg(count(lit(1)).as("n_stops"),
            sum(col("dw").cast("decimal(38,0)")).cast("long")
              .as("dwell_s"))
          .orderBy(col("dwell_s").desc, col("cell_y"), col("cell_x"))
          .limit(20),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id, event_id, ts,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts,
                       LAG(event_id) OVER w AS peid,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, event_id, ts, pts, peid, la1, lo1, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              fl AS (
                SELECT *, CASE WHEN leg_m > 200 THEN 1 ELSE 0 END
                       AS moving
                FROM lm),
              rn AS (
                SELECT *, SUM(moving) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM fl),
              st AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run
                         ORDER BY pts, peid) AS rn2,
                       SUM(dt_s) OVER (PARTITION BY user_id, run) AS dw
                FROM rn WHERE moving = 0),
              stops AS (
                SELECT (la1 + 5000) // 10000 AS cell_y,
                       (lo1 + 5000) // 10000 AS cell_x, dw
                FROM st WHERE rn2 = 1 AND dw >= 1800)
              SELECT cell_y, cell_x,
                     CAST(COUNT(*) AS BIGINT) AS n_stops,
                     CAST(SUM(CAST(dw AS HUGEINT)) AS BIGINT) AS dwell_s
              FROM stops GROUP BY 1, 2
              ORDER BY dwell_s DESC, cell_y, cell_x
              LIMIT 20""")),

    // STOP / DWELL DETECTION — maximal runs of consecutive stationary
    // legs (<= 200 m) with dwell >= 1800 s: the port-call readout.
    Q("q265_stop_report",
      (s, d) => stopReport(t(s, d, "events"), 200L, 1800L),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id, event_id, ts,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, event_id, ts, pts, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              fl AS (
                SELECT *, CASE WHEN leg_m > 200 THEN 1 ELSE 0 END
                       AS moving
                FROM lm),
              rn AS (
                SELECT *, SUM(moving) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM fl)
              SELECT user_id,
                     STRFTIME(MIN(pts), '%Y-%m-%d %H:%M:%S')
                       AS stop_start,
                     STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS stop_end,
                     CAST(COUNT(*) + 1 AS BIGINT) AS n_fixes,
                     CAST(SUM(dt_s) AS BIGINT) AS dwell_s
              FROM rn WHERE moving = 0
              GROUP BY user_id, run
              HAVING SUM(dt_s) >= 1800
              ORDER BY user_id, stop_start""")),

    // OD FLOW MATRIX — trips between consecutive stops, aggregated to
    // 0.01° cell pairs (q160's transition matrix in space).
    Q("q266_od_matrix",
      (s, d) => odMatrix(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id, event_id, ts,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts,
                       LAG(event_id) OVER w AS peid,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, event_id, ts, pts, peid, la1, lo1, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              fl AS (
                SELECT *, CASE WHEN leg_m > 200 THEN 1 ELSE 0 END
                       AS moving
                FROM lm),
              rn AS (
                SELECT *, SUM(moving) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM fl),
              st AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run
                         ORDER BY pts, peid) AS rn2,
                       SUM(dt_s) OVER (PARTITION BY user_id, run) AS dw
                FROM rn WHERE moving = 0),
              stops AS (
                SELECT user_id, pts AS sts, peid,
                       (la1 + 5000) // 10000 AS cy,
                       (lo1 + 5000) // 10000 AS cx
                FROM st WHERE rn2 = 1 AND dw >= 1800),
              trips AS (
                SELECT LAG(cy) OVER ws AS fcy, LAG(cx) OVER ws AS fcx,
                       cy, cx
                FROM stops
                WINDOW ws AS (PARTITION BY user_id ORDER BY sts, peid))
              SELECT fcy AS from_cy, fcx AS from_cx,
                     cy AS to_cy, cx AS to_cx,
                     CAST(COUNT(*) AS BIGINT) AS n_trips
              FROM trips WHERE fcy IS NOT NULL
              GROUP BY 1, 2, 3, 4
              ORDER BY n_trips DESC, from_cy, from_cx, to_cy, to_cx""")),

    // CO-TRAVEL episodes (see [[coTravel]]): q264's pair-hours run
    // through gap-tolerant gaps-and-islands — pairs within 500 m in
    // >= 2 encounters no more than a week apart, one row per episode.
    // The convoy/escort/rendezvous signal a scattered count dilutes.
    Q("q269_co_travel",
      (s, d) => coTravel(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, hour, lat_e6 AS la1,
                       lon_e6 AS lo1, cy + dy.dy AS cy, cx + dx.dx AS cx
                FROM pts
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              hits AS (
                SELECT DISTINCT u1, u2, hour, m FROM (
                  SELECT l.u1, r.user_id AS u2, l.hour,
                         CAST(ROUND(2.0 * 6371000.0 * ASIN(SQRT(
                           SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           * SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           + COS(l.la1 * 1.7453292519943295e-8)
                             * COS(r.lat_e6 * 1.7453292519943295e-8)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2))))
                           AS BIGINT) AS m
                  FROM lft l JOIN pts r
                    ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                  WHERE l.u1 < r.user_id) p
                WHERE m <= 500),
              lagged AS (
                SELECT u1, u2, hour, m,
                       LAG(hour) OVER (PARTITION BY u1, u2
                         ORDER BY hour) AS prev
                FROM hits),
              runs AS (
                SELECT u1, u2, hour, m,
                       SUM(CASE WHEN prev IS NOT NULL
                                 AND hour - prev > 168
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY u1, u2 ORDER BY hour
                               ROWS UNBOUNDED PRECEDING) AS run
                FROM lagged)
              SELECT u1, u2, MIN(hour) AS start_hour,
                     MAX(hour) AS end_hour,
                     CAST(COUNT(*) AS BIGINT) AS n_hours,
                     MIN(m) AS min_m
              FROM runs GROUP BY u1, u2, run
              HAVING COUNT(*) >= 2
              ORDER BY u1, u2, start_hour""")),

    // ZONE-ATTRIBUTED PORT CALLS — q265's stops point-in-polygon
    // joined (exact integer ray cast, left/bottom-edge-in convention)
    // against the bounded broadcast zone table; open-sea bucket keeps
    // the readout total.
    Q("q273_zone_stops",
      (s, d) => zoneStops(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id, event_id, ts,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts,
                       LAG(event_id) OVER w AS peid,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, event_id, ts, pts, peid, la1, lo1, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              fl AS (
                SELECT *, CASE WHEN leg_m > 200 THEN 1 ELSE 0 END
                       AS moving
                FROM lm),
              rn AS (
                SELECT *, SUM(moving) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM fl),
              st AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run
                         ORDER BY pts, peid) AS rn2,
                       SUM(dt_s) OVER (PARTITION BY user_id, run) AS dw
                FROM rn WHERE moving = 0),
              stops AS (
                SELECT user_id, run, la1, lo1, dw
                FROM st WHERE rn2 = 1 AND dw >= 1800),
              edges(zone_id, zone_name, x1, y1, x2, y2) AS (
                VALUES $zoneEdgesSql),
              par AS (
                SELECT s.user_id, s.run, e.zone_id, e.zone_name,
                       SUM(CASE WHEN (e.y1 > s.la1) <> (e.y2 > s.la1)
                                 AND ((e.y2 > e.y1
                                       AND (e.x2 - e.x1) * (s.la1 - e.y1)
                                         - (s.lo1 - e.x1) * (e.y2 - e.y1)
                                         > 0)
                                   OR (e.y2 < e.y1
                                       AND (e.x2 - e.x1) * (s.la1 - e.y1)
                                         - (s.lo1 - e.x1) * (e.y2 - e.y1)
                                         < 0))
                                THEN 1 ELSE 0 END) AS ncr
                FROM stops s CROSS JOIN edges e
                GROUP BY 1, 2, 3, 4),
              inside AS (
                SELECT user_id, run, zone_id, zone_name
                FROM par WHERE ncr % 2 = 1),
              attributed AS (
                SELECT s.user_id, s.dw,
                       CAST(COALESCE(i.zone_id, -1) AS BIGINT) AS zone_id,
                       COALESCE(i.zone_name, 'open_sea') AS zone_name
                FROM stops s LEFT JOIN inside i
                  ON i.user_id = s.user_id AND i.run = s.run)
              SELECT zone_id, zone_name,
                     CAST(COUNT(*) AS BIGINT) AS n_stops,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_vessels,
                     CAST(SUM(CAST(dw AS HUGEINT)) AS BIGINT) AS dwell_s
              FROM attributed GROUP BY 1, 2
              ORDER BY zone_id, zone_name""")),

    // TRACK RESAMPLING — sparse pings onto the 600 s grid by bounded
    // (<= 6 h) exact-integer linear interpolation; half-open (t1, t2]
    // so every grid instant is emitted exactly once.
    Q("q274_track_interp",
      (s, d) => trackInterpolate(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS t1,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t2
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              el AS (
                SELECT *, t1 - (t1 % 600) + 600 AS gs,
                       t2 - (t2 % 600) AS ge
                FROM legs
                WHERE la1 IS NOT NULL AND t2 > t1 AND t2 - t1 <= 21600),
              grid AS (
                SELECT user_id, la1, lo1, la2, lo2, t1, t2,
                       UNNEST(GENERATE_SERIES(gs, ge, 600)) AS g
                FROM el WHERE gs <= ge)
              SELECT user_id, g AS t_grid,
                     CAST(CASE WHEN la2 >= la1
                       THEN la1 + (2 * (la2 - la1) * (g - t1) + (t2 - t1))
                                  // (2 * (t2 - t1))
                       ELSE la1 - (2 * (la1 - la2) * (g - t1) + (t2 - t1))
                                  // (2 * (t2 - t1))
                       END AS BIGINT) AS lat_e6,
                     CAST(CASE WHEN lo2 >= lo1
                       THEN lo1 + (2 * (lo2 - lo1) * (g - t1) + (t2 - t1))
                                  // (2 * (t2 - t1))
                       ELSE lo1 - (2 * (lo1 - lo2) * (g - t1) + (t2 - t1))
                                  // (2 * (t2 - t1))
                       END AS BIGINT) AS lon_e6
              FROM grid
              ORDER BY user_id, t_grid""")),

    // ZONE TRANSITION MATRIX — q266's OD flow at ZONE level (lowest
    // zone_id wins on overlap; open-sea bucket -1 keeps transit
    // through unzoned water visible).
    Q("q275_zone_transitions",
      (s, d) => zoneTransitions(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id, event_id, ts,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts,
                       LAG(event_id) OVER w AS peid,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS dt_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              lm AS (
                SELECT user_id, event_id, ts, pts, peid, la1, lo1, dt_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs WHERE la1 IS NOT NULL),
              fl AS (
                SELECT *, CASE WHEN leg_m > 200 THEN 1 ELSE 0 END
                       AS moving
                FROM lm),
              rn AS (
                SELECT *, SUM(moving) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM fl),
              st AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, run
                         ORDER BY pts, peid) AS rn2,
                       SUM(dt_s) OVER (PARTITION BY user_id, run) AS dw
                FROM rn WHERE moving = 0),
              stops AS (
                SELECT user_id, run, la1, lo1, pts AS sts, peid
                FROM st WHERE rn2 = 1 AND dw >= 1800),
              edges(zone_id, zone_name, x1, y1, x2, y2) AS (
                VALUES $zoneEdgesSql),
              par AS (
                SELECT s.user_id, s.run, e.zone_id,
                       SUM(CASE WHEN (e.y1 > s.la1) <> (e.y2 > s.la1)
                                 AND ((e.y2 > e.y1
                                       AND (e.x2 - e.x1) * (s.la1 - e.y1)
                                         - (s.lo1 - e.x1) * (e.y2 - e.y1)
                                         > 0)
                                   OR (e.y2 < e.y1
                                       AND (e.x2 - e.x1) * (s.la1 - e.y1)
                                         - (s.lo1 - e.x1) * (e.y2 - e.y1)
                                         < 0))
                                THEN 1 ELSE 0 END) AS ncr
                FROM stops s CROSS JOIN edges e
                GROUP BY 1, 2, 3),
              zmin AS (
                SELECT user_id, run, MIN(zone_id) AS zid
                FROM par WHERE ncr % 2 = 1 GROUP BY 1, 2),
              zs AS (
                SELECT s.user_id, s.sts, s.peid,
                       CAST(COALESCE(z.zid, -1) AS BIGINT) AS zid
                FROM stops s LEFT JOIN zmin z
                  ON z.user_id = s.user_id AND z.run = s.run),
              tr AS (
                SELECT LAG(zid) OVER (PARTITION BY user_id
                         ORDER BY sts, peid) AS fzid, zid
                FROM zs)
              SELECT fzid AS from_zone_id, zid AS to_zone_id,
                     CAST(COUNT(*) AS BIGINT) AS n_trips
              FROM tr WHERE fzid IS NOT NULL
              GROUP BY 1, 2
              ORDER BY n_trips DESC, from_zone_id, to_zone_id""")),

    // UNIFORM-SAMPLED DENSITY — q262 over the q274 resampled grid:
    // density as EXPOSURE (vessel-minutes), not reporting cadence.
    Q("q276_resampled_density",
      (s, d) => resampledDensity(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS t1,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t2
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              el AS (
                SELECT *, t1 - (t1 % 600) + 600 AS gs,
                       t2 - (t2 % 600) AS ge
                FROM legs
                WHERE la1 IS NOT NULL AND t2 > t1 AND t2 - t1 <= 21600),
              grid AS (
                SELECT user_id, la1, lo1, la2, lo2, t1, t2,
                       UNNEST(GENERATE_SERIES(gs, ge, 600)) AS g
                FROM el WHERE gs <= ge),
              samp AS (
                SELECT user_id,
                       CAST(CASE WHEN la2 >= la1
                         THEN la1 + (2 * (la2 - la1) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         ELSE la1 - (2 * (la1 - la2) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         END AS BIGINT) AS lat_e6,
                       CAST(CASE WHEN lo2 >= lo1
                         THEN lo1 + (2 * (lo2 - lo1) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         ELSE lo1 - (2 * (lo1 - lo2) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         END AS BIGINT) AS lon_e6
                FROM grid),
              cells AS (
                SELECT (lat_e6 + 5000) // 10000 AS cell_y,
                       (lon_e6 + 5000) // 10000 AS cell_x, user_id
                FROM samp)
              SELECT cell_y, cell_x,
                     CAST(COUNT(*) AS BIGINT) AS n_samples,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_vessels
              FROM cells GROUP BY 1, 2
              ORDER BY n_samples DESC, cell_y, cell_x
              LIMIT 20""")),

    // ZONE VISITS — geofence-breach intervals: runs of consecutive
    // same-zone fixes per vessel via the codegen'd zone projection
    // (zero join), one row per in-zone run.
    Q("q277_zone_visits",
      (s, d) => zoneVisits(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              zp AS (
                SELECT user_id, event_id, ts,
                       ${zoneIdSql("lon_e6", "lat_e6")} AS zid
                FROM pos),
              ch AS (
                SELECT *, CASE WHEN LAG(zid) OVER w IS NULL
                               OR LAG(zid) OVER w <> zid
                               THEN 1 ELSE 0 END AS chg
                FROM zp
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              rn AS (
                SELECT *, SUM(chg) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run
                FROM ch)
              SELECT user_id, CAST(zid AS BIGINT) AS zone_id,
                     STRFTIME(MIN(ts), '%Y-%m-%d %H:%M:%S') AS enter_ts,
                     STRFTIME(MAX(ts), '%Y-%m-%d %H:%M:%S') AS exit_ts,
                     CAST(COUNT(*) AS BIGINT) AS n_fixes
              FROM rn WHERE zid <> -1
              GROUP BY user_id, run, zid
              ORDER BY user_id, enter_ts, exit_ts, zone_id, n_fixes""")),

    // FLEET DETECTION — connected components over the co-travel graph
    // (minHours=1: every verified encounter is an edge), per-fleet
    // membership/edge/episode/pair-hour totals; recursive-CTE CC
    // oracle (the q56/q74 convention on the geo pair graph).
    Q("q278_fleets",
      (s, d) => fleets(t(s, d, "events")),
      Some(s"""WITH RECURSIVE pos AS ($PosSql),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, hour, lat_e6 AS la1,
                       lon_e6 AS lo1, cy + dy.dy AS cy, cx + dx.dx AS cx
                FROM pts
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              hits AS (
                SELECT DISTINCT u1, u2, hour, m FROM (
                  SELECT l.u1, r.user_id AS u2, l.hour,
                         CAST(ROUND(2.0 * 6371000.0 * ASIN(SQRT(
                           SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           * SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           + COS(l.la1 * 1.7453292519943295e-8)
                             * COS(r.lat_e6 * 1.7453292519943295e-8)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2))))
                           AS BIGINT) AS m
                  FROM lft l JOIN pts r
                    ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                  WHERE l.u1 < r.user_id) p
                WHERE m <= 500),
              lagged AS (
                SELECT u1, u2, hour,
                       LAG(hour) OVER (PARTITION BY u1, u2
                         ORDER BY hour) AS prev
                FROM hits),
              runs AS (
                SELECT u1, u2, hour,
                       SUM(CASE WHEN prev IS NOT NULL
                                 AND hour - prev > 168
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY u1, u2 ORDER BY hour
                               ROWS UNBOUNDED PRECEDING) AS run
                FROM lagged),
              ep AS (
                SELECT u1, u2, CAST(COUNT(*) AS BIGINT) AS n_hours
                FROM runs GROUP BY u1, u2, run),
              prs AS (
                SELECT u1, u2, CAST(COUNT(*) AS BIGINT) AS n_episodes,
                       CAST(SUM(CAST(n_hours AS HUGEINT)) AS BIGINT)
                         AS hours
                FROM ep GROUP BY 1, 2),
              edges AS (
                SELECT u1 AS src, u2 AS dst FROM prs
                UNION ALL SELECT u2, u1 FROM prs),
              reach AS (
                SELECT src AS node, src AS label FROM edges
                UNION
                SELECT e.dst, r.label
                FROM reach r JOIN edges e ON e.src = r.node),
              comp AS (
                SELECT node, MIN(label) AS comp FROM reach GROUP BY 1),
              mem AS (
                SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_vessels
                FROM comp GROUP BY 1),
              pa AS (
                SELECT c.comp,
                       CAST(COUNT(*) AS BIGINT) AS n_pairs,
                       CAST(SUM(CAST(p.n_episodes AS HUGEINT)) AS BIGINT)
                         AS n_episodes,
                       CAST(SUM(CAST(p.hours AS HUGEINT)) AS BIGINT)
                         AS pair_hours
                FROM prs p JOIN comp c ON c.node = p.u1
                GROUP BY 1)
              SELECT mem.comp AS fleet_id, mem.n_vessels, pa.n_pairs,
                     pa.n_episodes, pa.pair_hours
              FROM mem JOIN pa ON pa.comp = mem.comp
              ORDER BY mem.n_vessels DESC, fleet_id""")),

    // EPISODE ZONES — q269's co-travel attributed to WHERE: each
    // qualifying episode's encounter-hours land in the zone of the
    // smaller vessel's representative point (codegen'd ray cast,
    // lowest zone_id on overlap, -1 open_sea). Per zone: hours,
    // distinct pairs, distinct episodes, closest approach.
    Q("q279_episode_zones",
      (s, d) => episodeZones(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, hour, lat_e6 AS la1,
                       lon_e6 AS lo1, cy + dy.dy AS cy, cx + dx.dx AS cx
                FROM pts
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              hits AS (
                SELECT DISTINCT u1, u2, hour, m, la1, lo1 FROM (
                  SELECT l.u1, r.user_id AS u2, l.hour, l.la1, l.lo1,
                         CAST(ROUND(2.0 * 6371000.0 * ASIN(SQRT(
                           SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           * SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           + COS(l.la1 * 1.7453292519943295e-8)
                             * COS(r.lat_e6 * 1.7453292519943295e-8)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2))))
                           AS BIGINT) AS m
                  FROM lft l JOIN pts r
                    ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                  WHERE l.u1 < r.user_id) p
                WHERE m <= 500),
              lagged AS (
                SELECT u1, u2, hour, m, la1, lo1,
                       LAG(hour) OVER (PARTITION BY u1, u2
                         ORDER BY hour) AS prev
                FROM hits),
              runs AS (
                SELECT u1, u2, hour, m, la1, lo1,
                       SUM(CASE WHEN prev IS NOT NULL
                                 AND hour - prev > 168
                                THEN 1 ELSE 0 END)
                         OVER (PARTITION BY u1, u2 ORDER BY hour
                               ROWS UNBOUNDED PRECEDING) AS run
                FROM lagged),
              qual AS (
                SELECT *, COUNT(*) OVER (PARTITION BY u1, u2, run)
                       AS ep_hours
                FROM runs),
              zoned AS (
                SELECT u1, u2, run, m,
                       ${zoneIdSql("lo1", "la1")} AS zid
                FROM qual WHERE ep_hours >= 2)
              SELECT CAST(zid AS BIGINT) AS zone_id,
                     ${zoneNameSql("zid")} AS zone_name,
                     CAST(COUNT(*) AS BIGINT) AS n_hours,
                     CAST(COUNT(DISTINCT (u1, u2)) AS BIGINT) AS n_pairs,
                     CAST(COUNT(DISTINCT (u1, u2, run)) AS BIGINT)
                       AS n_episodes,
                     MIN(m) AS min_m
              FROM zoned GROUP BY 1, 2
              ORDER BY zone_id""")),

    // ENCOUNTER HEATMAP — where the meetings happen: q264 pair-hours
    // per 0.01° cell of the smaller vessel's representative point;
    // presence (q262) vs meetings (this) separates lanes from
    // anchorages.
    Q("q282_encounter_heatmap",
      (s, d) => encounterHeatmap(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, hour, lat_e6 AS la1,
                       lon_e6 AS lo1, cy + dy.dy AS cy, cx + dx.dx AS cx
                FROM pts
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              hits AS (
                SELECT DISTINCT u1, u2, hour, m, la1, lo1 FROM (
                  SELECT l.u1, r.user_id AS u2, l.hour, l.la1, l.lo1,
                         CAST(ROUND(2.0 * 6371000.0 * ASIN(SQRT(
                           SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           * SIN((r.lat_e6 - l.la1)
                             * 1.7453292519943295e-8 / 2)
                           + COS(l.la1 * 1.7453292519943295e-8)
                             * COS(r.lat_e6 * 1.7453292519943295e-8)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2)
                             * SIN((r.lon_e6 - l.lo1)
                               * 1.7453292519943295e-8 / 2))))
                           AS BIGINT) AS m
                  FROM lft l JOIN pts r
                    ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                  WHERE l.u1 < r.user_id) p
                WHERE m <= 500),
              cells AS (
                SELECT u1, u2, m,
                       (la1 + 5000) // 10000 AS cell_y,
                       (lo1 + 5000) // 10000 AS cell_x
                FROM hits)
              SELECT cell_y, cell_x,
                     CAST(COUNT(*) AS BIGINT) AS n_pair_hours,
                     CAST(COUNT(DISTINCT (u1, u2)) AS BIGINT) AS n_pairs,
                     MIN(m) AS min_m
              FROM cells GROUP BY 1, 2
              ORDER BY n_pair_hours DESC, cell_y, cell_x
              LIMIT 20""")),

    // DARK GAPS — AIS transponder-off audit: reporting gaps >= 6 h
    // per vessel with dark-leg distance and implied speed (mm/s,
    // half-up integer) — long gap + large displacement = the dark-
    // voyage signal; long gap + no displacement = a moored vessel.
    Q("q280_dark_gaps",
      (s, d) => darkGaps(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(ts) OVER w AS pts, ts,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS gap_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              gaps AS (
                SELECT user_id,
                       STRFTIME(pts, '%Y-%m-%d %H:%M:%S') AS gap_start,
                       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
                       gap_s,
                       CAST(ROUND($HavSql) AS BIGINT) AS leg_m
                FROM legs
                WHERE la1 IS NOT NULL AND gap_s >= 21600)
              SELECT user_id, gap_start, gap_end, gap_s, leg_m,
                     (2 * 1000 * leg_m + gap_s) // (2 * gap_s)
                       AS speed_mmps
              FROM gaps
              ORDER BY user_id, gap_start, gap_end, gap_s, leg_m,
                       speed_mmps""")),

    // DARK RENDEZVOUS — q280's gap endpoints probing THE q264 band
    // join: vessels near where a dark gap started or ended, zone-
    // attributed at the closest endpoint. The transshipment-meetup
    // audit ("went dark next to X, reappeared next to Y").
    Q("q283_dark_rendezvous",
      (s, d) => darkRendezvous(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       LAG(lat_e6) OVER w AS sla,
                       LAG(lon_e6) OVER w AS slo,
                       lat_e6 AS ela, lon_e6 AS elo,
                       LAG(ts) OVER w AS pts, ts,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w
                         AS gap_s
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              gaps AS (
                SELECT user_id,
                       STRFTIME(pts, '%Y-%m-%d %H:%M:%S') AS gap_start,
                       STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS gap_end,
                       gap_s,
                       CAST(FLOOR(FLOOR(EPOCH(pts)) / 3600) AS BIGINT)
                         AS h1,
                       CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                         AS h2,
                       sla, slo, ela, elo
                FROM legs
                WHERE sla IS NOT NULL AND gap_s >= 21600),
              eps AS (
                SELECT user_id, gap_start, gap_end, gap_s, 0 AS ep,
                       h1 AS hour, sla AS la1, slo AS lo1,
                       ${zoneIdSql("slo", "sla")} AS zid
                FROM gaps
                UNION ALL
                SELECT user_id, gap_start, gap_end, gap_s, 1 AS ep,
                       h2 AS hour, ela AS la1, elo AS lo1,
                       ${zoneIdSql("elo", "ela")} AS zid
                FROM gaps),
              pts AS (
                SELECT user_id, hour, lat_e6, lon_e6,
                       (lat_e6 + 5000) // 5000 AS cy,
                       (lon_e6 + 5000) // 5000 AS cx
                FROM (
                  SELECT *,
                         CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           AS hour,
                         ROW_NUMBER() OVER (PARTITION BY user_id,
                           CAST(FLOOR(FLOOR(EPOCH(ts)) / 3600) AS BIGINT)
                           ORDER BY event_id) AS rn
                  FROM pos) x
                WHERE rn = 1),
              lft AS (
                SELECT user_id AS u1, gap_start, gap_end, gap_s, ep,
                       zid, hour, la1, lo1,
                       (la1 + 5000) // 5000 + dy.dy AS cy,
                       (lo1 + 5000) // 5000 + dx.dx AS cx
                FROM eps
                CROSS JOIN (VALUES (-1), (0), (1)) dy(dy)
                CROSS JOIN (VALUES (-1), (0), (1)) dx(dx)),
              raw AS (
                SELECT l.u1, l.gap_start, l.gap_end, l.gap_s, l.ep,
                       l.zid, r.user_id AS u2, l.la1, l.lo1,
                       r.lat_e6 AS la2, r.lon_e6 AS lo2
                FROM lft l JOIN pts r
                  ON r.hour = l.hour AND r.cy = l.cy AND r.cx = l.cx
                WHERE r.user_id <> l.u1),
              hh AS (
                SELECT * FROM (
                  SELECT u1, gap_start, gap_end, gap_s, ep, zid, u2,
                         CAST(ROUND($HavSql) AS BIGINT) AS m
                  FROM raw) p
                WHERE m <= 500),
              agg AS (
                SELECT u1, gap_start, gap_end, gap_s, u2,
                       CAST(COUNT(*) AS BIGINT) AS n_ends,
                       MIN(m) AS min_m
                FROM hh GROUP BY 1, 2, 3, 4, 5),
              best AS (
                SELECT u1, gap_start, gap_end, gap_s, u2, zid,
                       ROW_NUMBER() OVER (PARTITION BY u1, gap_start,
                         gap_end, gap_s, u2 ORDER BY m, ep) AS rn
                FROM hh)
              SELECT a.u1 AS user_id, a.gap_start, a.gap_end, a.gap_s,
                     a.u2 AS nearby, a.n_ends,
                     CAST(b.zid AS BIGINT) AS zone_id,
                     ${zoneNameSql("b.zid")} AS zone_name, a.min_m
              FROM agg a JOIN best b
                ON a.u1 = b.u1 AND a.gap_start = b.gap_start
                AND a.gap_end = b.gap_end AND a.gap_s = b.gap_s
                AND a.u2 = b.u2 AND b.rn = 1
              ORDER BY user_id, a.gap_start, a.gap_end, nearby,
                       a.gap_s, n_ends, zone_id, min_m""")),

    // ZONE EXPOSURE — time-in-zone on the q274 resampled grid: each
    // 600 s grid instant zone-attributed by the codegen'd ray cast;
    // per zone, samples / distinct vessels / exact exposure seconds.
    Q("q281_zone_exposure",
      (s, d) => zoneExposure(t(s, d, "events")),
      Some(s"""WITH pos AS ($PosSql),
              legs AS (
                SELECT user_id,
                       LAG(lat_e6) OVER w AS la1,
                       LAG(lon_e6) OVER w AS lo1,
                       lat_e6 AS la2, lon_e6 AS lo2,
                       LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS t1,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t2
                FROM pos
                WINDOW w AS (PARTITION BY user_id
                  ORDER BY ts, event_id)),
              el AS (
                SELECT *, t1 - (t1 % 600) + 600 AS gs,
                       t2 - (t2 % 600) AS ge
                FROM legs
                WHERE la1 IS NOT NULL AND t2 > t1 AND t2 - t1 <= 21600),
              grid AS (
                SELECT user_id, la1, lo1, la2, lo2, t1, t2,
                       UNNEST(GENERATE_SERIES(gs, ge, 600)) AS g
                FROM el WHERE gs <= ge),
              samp AS (
                SELECT user_id,
                       CAST(CASE WHEN la2 >= la1
                         THEN la1 + (2 * (la2 - la1) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         ELSE la1 - (2 * (la1 - la2) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         END AS BIGINT) AS lat_e6,
                       CAST(CASE WHEN lo2 >= lo1
                         THEN lo1 + (2 * (lo2 - lo1) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         ELSE lo1 - (2 * (lo1 - lo2) * (g - t1)
                                     + (t2 - t1)) // (2 * (t2 - t1))
                         END AS BIGINT) AS lon_e6
                FROM grid),
              zoned AS (
                SELECT user_id,
                       ${zoneIdSql("lon_e6", "lat_e6")} AS zid
                FROM samp)
              SELECT CAST(zid AS BIGINT) AS zone_id,
                     ${zoneNameSql("zid")} AS zone_name,
                     CAST(COUNT(*) AS BIGINT) AS n_samples,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT)
                       AS n_vessels,
                     CAST(COUNT(*) * 600 AS BIGINT) AS exposure_s
              FROM zoned GROUP BY 1, 2
              ORDER BY zone_id""")))
}
