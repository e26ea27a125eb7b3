package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.queries.{Geo, Stats}

/** Port-heavy (hot-cell) rehearsal for the banded proximity join
  * ([[graft.queries.Geo.proximityPairs]] / q264): the within-cell
  * verify is quadratic in cell-hour occupancy, and AIS port density is
  * exactly the adversarial regime the uniform ScaleRehearsal axes never
  * exercise.
  *
  * The regime: positions are md5-derived from ids (oracle-replayable),
  * so a "port" cannot be placed directly — instead vessel ids are
  * MINED: candidates whose md5 BASE point lands in the modal 0.005°
  * cell(s) become the port fleet (one ping per vessel-hour), on top of
  * a uniformly-spread background fleet of equal size. With `ports=1`
  * and the default fleet, >=50% of vessel-hours concentrate into one
  * ~3x3 cell block (the ±1-cell jitter spreads a base cell into its
  * neighborhood), which is the mega-port shape.
  *
  * Measured per escalation step: UNSALTED (hotOccupancy=MaxValue — the
  * pre-r16 behavior) vs SALTED (the default occupancy-aware lanes)
  * wall time, the max cell-hour occupancy, and a result checksum
  * proving the two paths emit identical pairs. Evidence rows land in
  * SCALE.md.
  *
  * Usage: runMain graft.tools.GeoSkewRehearsal [ports] [portVessels]
  *        [hours] [multSteps]
  */
object GeoSkewRehearsal {

  /** `runMain graft.tools.GeoSkewRehearsal poison [n] [cap]` — the
    * POISON-CELL regime the md5 miner cannot produce (it is a data
    * bug, not a port): `n` distinct vessels all at one coordinate in
    * one hour, i.e. an occ² pair space of n² that no salting bounds
    * (10^10 candidate pairs at the default n=100k — an OOM/never on
    * this heap). With `maxCellOccupancy = cap` the mega-cell is
    * EXCLUDED and REPORTED and the run completes in seconds; the
    * background fleet's pairs still emit. Evidence row for SCALE.md.
    */
  private def poisonMain(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val cap = args.drop(1).headOption.map(_.toLong).getOrElse(4096L)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    // the bug shape: every malformed row at (0,0); background spread
    val mega = spark.range(1L, n + 1L).toDF("user_id")
      .select(col("user_id"), lit(0L).as("hour"),
        lit(0L).as("lat_e6"), lit(0L).as("lon_e6"))
    // background in co-located buddy pairs (ids 2k/2k+1 share a
    // position) so the capped run provably still pairs SURVIVORS
    val bg = spark.range(1000000L, 1002000L).toDF("user_id")
      .select(col("user_id"), lit(0L).as("hour"),
        pmod(expr("user_id div 2") * 7919L, lit(500000L)).as("lat_e6"),
        pmod(expr("user_id div 2") * 104729L, lit(500000L)).as("lon_e6"))
    val pts = mega.unionByName(bg)
      .withColumn("cy", (col("lat_e6") + 5000L).divide(5000L).cast("long"))
      .withColumn("cx", (col("lon_e6") + 5000L).divide(5000L).cast("long"))
      .cache()
    val nPts = pts.count()
    val occ = pts.groupBy(col("hour"), col("cy"), col("cx"))
      .agg(count(lit(1)).as("occ"))
    val nPoison = occ.filter(col("occ") > cap).count()
    val t0 = System.nanoTime()
    val pairs = Geo.bandedPairs(pts, pts, 500L,
        maxCellOccupancy = cap)
      .filter(col("u1") < col("u2")).distinct().count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""[scale] {"tool":"geoskew","path":"poison-capped","mega_occ":$n,"points":$nPts,"cap":$cap,"poison_cells_reported":$nPoison,"surviving_pairs":$pairs,"sec":$sec%.2f,"uncapped_pair_space":${n.toLong * n}}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("poison")) return poisonMain(args.drop(1))
    val ports = args.headOption.map(_.toInt).getOrElse(1)
    val portVessels = args.drop(1).headOption.map(_.toInt).getOrElse(4000)
    val hours = args.drop(2).headOption.map(_.toInt).getOrElse(4)
    val multSteps = args.drop(3).headOption.map(_.toInt).getOrElse(2)

    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")

    // mine port vessel ids: base cell = the md5 base point's 5,000-µdeg
    // cell (jitter moves a point at most one cell off its base). The
    // ~10,000-cell base grid puts ~12k of the 120M candidates in the
    // modal cell — enough for a five-digit single-port fleet.
    val candidates = spark.range(1L, 120000000L).toDF("user_id")
      .select(col("user_id"),
        ((pmod(Stats.h32(col("user_id"), ":blat"), lit(500000L)) + 5000L)
          .divide(5000L)).cast("long").as("bcy"),
        ((pmod(Stats.h32(col("user_id"), ":blon"), lit(500000L)) + 5000L)
          .divide(5000L)).cast("long").as("bcx"))
    val modal = candidates.groupBy(col("bcy"), col("bcx"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bcy"), col("bcx"))
      .limit(ports)
    val portIds = candidates
      .join(broadcast(modal.select(col("bcy"), col("bcx"))),
        Seq("bcy", "bcx"), "left_semi")
      .select(col("user_id")).cache()
    val mined = portIds.count()
    println(s"[geoskew] mined $mined port vessel ids in $ports cell(s)")

    def fleet(nPort: Int): DataFrame = {
      require(mined >= nPort,
        s"only $mined port ids mined — raise the candidate range or ports")
      val port = portIds.limit(nPort)
      val bg = spark.range(1000000000L, 1000000000L + nPort)
        .toDF("user_id")
      port.union(bg)
        .crossJoin(spark.range(hours.toLong).toDF("h"))
        .select((col("user_id") * 1000L + col("h")).as("event_id"),
          col("user_id"),
          to_timestamp(from_unixtime(lit(1700000000L) + col("h") * 3600L))
            .as("ts"))
    }

    def checksum(df: DataFrame): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val r = df.agg(count(lit(1)),
          sum(xxhash64(concat_ws(",", col("u1"), col("u2"),
            col("n_hours"), col("min_m")))))
        .head
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }

    // SALTED runs first at every step and its line prints immediately:
    // past the knee the UNSALTED path OOMs the local heap and Spark's
    // uncaught-OOM handler kills the JVM, so the salted evidence must
    // already be on stdout — the crash line itself is the knee record.
    for (step <- 0 until multSteps) {
      val nPort = portVessels << step
      val evs = fleet(nPort).cache()
      val nEvents = evs.count()
      val maxOcc = Geo.bandedPoints(evs)
        .groupBy(col("hour"), col("cy"), col("cx"))
        .agg(count(lit(1)).as("occ"))
        .agg(max(col("occ"))).head.getLong(0)
      val (nS, hS, tS) = checksum(Geo.proximityPairs(evs, 500L))
      println(f"""[scale] {"tool":"geoskew","path":"salted","ports":$ports,"port_vessels":$nPort,"hours":$hours,"events":$nEvents,"max_cell_hour_occ":$maxOcc,"pairs":$nS,"salted_sec":$tS%.2f}""")
      println(s"[geoskew] attempting UNSALTED at occ=$maxOcc " +
        "(an OOM-exit here IS the straggler knee on this heap)...")
      val (nU, hU, tU) = checksum(Geo.proximityPairs(evs, 500L,
        hotOccupancy = Long.MaxValue))
      require(nU == nS && hU == hS,
        s"salted path diverged: unsalted=($nU,$hU) salted=($nS,$hS)")
      println(f"""[scale] {"tool":"geoskew","path":"unsalted","ports":$ports,"port_vessels":$nPort,"hours":$hours,"max_cell_hour_occ":$maxOcc,"pairs":$nU,"unsalted_sec":$tU%.2f,"identical":true}""")
      evs.unpersist()
    }
    spark.stop()
  }
}
