package graft

import java.sql.Timestamp

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingGeo
import graft.streaming.StreamingGeo.GeoEv

/** Always-on proximity monitor semantics: cross-batch alerts equal a
  * brute-force new-vs-earlier scan (banding completeness, the q264
  * guarantee, across the persisted index), within-batch pairs stay the
  * batch query's job, and a restart drains from the checkpoint without
  * duplicate alerts.
  */
class StreamingGeoSpec extends AnyFunSuite with TestSpark {

  private def h32(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    java.lang.Long.parseLong(hex, 16)
  }

  private def pos(eventId: Long, userId: Long): (Long, Long) = (
    h32(s"$userId:blat") % 500000 + h32(s"$eventId:jlat") % 10000 - 5000,
    h32(s"$userId:blon") % 500000 + h32(s"$eventId:jlon") % 10000 - 5000)

  private def hav(la1: Long, lo1: Long, la2: Long, lo2: Long): Double = {
    val k = 1.7453292519943295e-8
    val h = math.sin((la2 - la1) * k / 2) * math.sin((la2 - la1) * k / 2) +
      math.cos(la1 * k) * math.cos(la2 * k) *
        math.sin((lo2 - lo1) * k / 2) * math.sin((lo2 - lo1) * k / 2)
    2.0 * 6371000.0 * math.asin(math.sqrt(h))
  }

  private def ts(sec: Long): Timestamp =
    new Timestamp(1700000000000L + sec * 1000)

  test("cross-batch alerts == brute force against the prior index; " +
      "within-batch pairs silent; restart-safe (no duplicates)") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-geo-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-geo-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-geo-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit =
      StreamingGeo.start(spark, landing, out).awaitTermination()
    def alerts(): Set[(Long, Long, Long, Long)] =
      spark.read.parquet(s"$out/alerts").collect()
        .map(r => (r.getAs[Long]("u_new"), r.getAs[Long]("u_old"),
          r.getAs[Long]("hour"), r.getAs[Long]("m"))).toSet

    // wave 1: users 1-150 ping at hour 0; wave 2: users 151-300 at the
    // same hour — only NEW-vs-EARLIER pairs may alert
    val w1u = (1L to 150L)
    val w2u = (151L to 300L)
    land("w1.parquet", w1u.map(u => GeoEv(u * 10, u, ts(60))))
    drain()
    assert(alerts().isEmpty,
      "first batch has no earlier index — within-batch pairs are the " +
        "batch query's job")
    land("w2.parquet", w2u.map(u => GeoEv(u * 10, u, ts(120))))
    drain()
    val got = alerts()
    // brute force: every (new, old) pair within 500 m at hour 0
    val hourOf = math.floor((1700000000L + 60) / 3600.0).toLong
    val oldPts = w1u.map(u => (u, pos(u * 10, u)))
    val newPts = w2u.map(u => (u, pos(u * 10, u)))
    val expect = (for {
      (un, (la1, lo1)) <- newPts
      (uo, (la2, lo2)) <- oldPts
      m = math.round(hav(la1, lo1, la2, lo2)) if m <= 500L
    } yield (un, uo, hourOf, m)).toSet
    assert(expect.nonEmpty, "planted population produced no encounters")
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
    // restart with nothing new: no duplicate alerts, same partitions
    drain()
    assert(alerts() == got)
    val batches = new java.io.File(s"$out/alerts").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(batches.length == 2, batches.toSeq.toString)
    // the incremental occupancy summaries landed per batch
    val occ = new java.io.File(s"$out/occ").listFiles()
      .map(_.getName).filter(_.startsWith("batch=")).sorted
    assert(occ.length == 2, occ.toSeq.toString)
  }

  test("hot-cell salting engaged everywhere (hotOccupancy=0, lanes " +
      "from the occ summaries) alerts EXACTLY the unsalted pairs") {
    import spark.implicits._
    def run(outDir: String, hot: Long): Set[(Long, Long, Long, Long)] = {
      val landing = java.nio.file.Files
        .createTempDirectory("graft-geo-in2").toString
      def land(name: String, evs: Seq[GeoEv]): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-geo-wave2").toString
        evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(landing, name))
      }
      land("w1.parquet", (1L to 150L).map(u => GeoEv(u * 10, u, ts(60))))
      StreamingGeo.start(spark, landing, outDir,
        hotOccupancy = hot).awaitTermination()
      land("w2.parquet",
        (151L to 300L).map(u => GeoEv(u * 10, u, ts(120))))
      StreamingGeo.start(spark, landing, outDir,
        hotOccupancy = hot).awaitTermination()
      spark.read.parquet(s"$outDir/alerts").collect()
        .map(r => (r.getAs[Long]("u_new"), r.getAs[Long]("u_old"),
          r.getAs[Long]("hour"), r.getAs[Long]("m"))).toSet
    }
    val plain = run(java.nio.file.Files
      .createTempDirectory("graft-geo-o1").toString, Long.MaxValue)
    val salted = run(java.nio.file.Files
      .createTempDirectory("graft-geo-o2").toString, 0L)
    assert(plain.nonEmpty)
    assert(salted == plain,
      s"missing=${plain -- salted} extra=${salted -- plain}")
  }

  test("startEpisodes: incremental closed+open episodes == the batch " +
      "q269 on the landed prefix; convoy alerts fire at the " +
      "minHours-reaching batch; gap splits + eviction; one-shot " +
      "replay of the full landing set converges to the same state") {
    import spark.implicits._
    val users = (1L to 150L)
    // per-wave distinct event ids so the (vessel, hour) representative
    // never straddles batches
    def wave(k: Long, hour: Long): Seq[GeoEv] =
      users.map(u => GeoEv(u * 10 + k, u, ts(60 + hour * 3600)))
    val waves = Seq(wave(0L, 0L), wave(1L, 1L), wave(2L, 5L))

    def run(split: Boolean): (String,
        Set[(Long, Long, Long, Long, Long, Long)],
        Set[(Long, Long, Long)]) = {
      val landing = java.nio.file.Files
        .createTempDirectory("graft-ep-in").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft-ep-out").toString
      def land(name: String, evs: Seq[GeoEv]): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-ep-wave").toString
        evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(part.toPath,
          java.nio.file.Paths.get(landing, name))
      }
      def drain(): Unit = StreamingGeo.startEpisodes(spark, landing, out,
        500L, minHours = 2L, maxGapHours = 2L).awaitTermination()
      if (split) waves.zipWithIndex.foreach { case (w, i) =>
        land(s"w$i.parquet", w); drain()
      } else { waves.zipWithIndex.foreach { case (w, i) =>
        land(s"w$i.parquet", w) }; drain() }
      val openId = new java.io.File(s"$out/open").listFiles()
        .map(_.getName).filter(_.startsWith("batch="))
        .map(_.stripPrefix("batch=").toLong).max
      def eps(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2"),
          r.getAs[Long]("start_hour"), r.getAs[Long]("end_hour"),
          r.getAs[Long]("n_hours"), r.getAs[Long]("min_m"))).toSet
      val closed = eps(spark.read.parquet(s"$out/closed"))
      val open = eps(spark.read.parquet(s"$out/open/batch=$openId")
        .filter(org.apache.spark.sql.functions
          .col("n_hours") >= 2L))
      val alerts = spark.read.parquet(s"$out/alerts").collect()
        .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2"),
          r.getAs[Long]("end_hour"))).toSet
      (out, closed ++ open, alerts)
    }

    val (out, streamEps, alerts) = run(split = true)
    // batch reference on the full landed set
    val all = waves.flatten
      .map(e => (e.event_id, e.user_id, e.ts))
      .toDF("event_id", "user_id", "ts")
    val batchEps = graft.queries.Geo
      .coTravel(all, 500L, minHours = 2L, maxGapHours = 2L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(batchEps.nonEmpty, "planted population produced no episodes")
    assert(streamEps == batchEps,
      s"missing=${batchEps -- streamEps} extra=${streamEps -- batchEps}")
    // the hour-5 wave is 4 > maxGapHours past hour 1: every open
    // episode was gap-split or evicted-closed, none stays open >= 2
    val openId = new java.io.File(s"$out/open").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    val openRows = spark.read.parquet(s"$out/open/batch=$openId")
    assert(openRows.filter(org.apache.spark.sql.functions
      .col("n_hours") >= 2L).count() == 0)
    assert(openRows.count() > 0, "hour-5 singles should be open")
    // alerts: one per episode, at the batch where n_hours reached 2 —
    // i.e. exactly the >= 2-hour episodes, alerted at their 2nd hour
    assert(alerts == batchEps.map(e => (e._1, e._2, e._4)))
    // one-shot replay: all three waves in ONE batch -> same episodes
    val (_, oneShot, oneAlerts) = run(split = false)
    assert(oneShot == batchEps)
    assert(oneAlerts == alerts)
  }

  private def inZone(px: Long, py: Long, vs: Seq[(Long, Long)]): Boolean = {
    var cnt = 0
    (vs :+ vs.head).sliding(2).foreach {
      case Seq((x1, y1), (x2, y2)) =>
        if ((y1 > py) != (y2 > py)) {
          val num = (x2 - x1) * (py - y1) - (px - x1) * (y2 - y1)
          if (if (y2 > y1) num > 0 else num < 0) cnt += 1
        }
      case _ => ()
    }
    cnt % 2 == 1
  }

  test("startZoneVisits: cross-batch visit closes == an independent " +
      "zone-fold over the full landing set (batch q277 minus open " +
      "tails); re-drain emits nothing new") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-zv-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-zv-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-zv-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = StreamingGeo
      .startZoneVisits(spark, landing, out).awaitTermination()
    val users = (1L to 300L)
    // 2 waves x 2 fixes per user, strictly increasing event time
    land("w1.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10, u, ts(0)), GeoEv(u * 10 + 1, u, ts(600)))))
    drain()
    land("w2.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10 + 2, u, ts(1200)), GeoEv(u * 10 + 3, u, ts(1800)))))
    drain()
    val got = spark.read.parquet(s"$out/visits").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("zone_id"),
        r.getAs[Timestamp]("enter_ts").getTime,
        r.getAs[Timestamp]("exit_ts").getTime,
        r.getAs[Long]("n_fixes"))).toSet
    // independent fold: zone per fix via the local ray cast over the
    // SAME registry, closed visits only (open tails never emit)
    val expect = users.flatMap { u =>
      val zids = (0L to 3L).map { i =>
        val (la, lo) = pos(u * 10 + i, u)
        graft.queries.Geo.Zones
          .filter(z => inZone(lo, la, z._3)).map(_._1)
          .minOption.getOrElse(-1L)
      }
      val times = (0L to 3L).map(i => 1700000000000L + i * 600000L)
      val runs = collection.mutable.Buffer
        .empty[(Long, Long, Long, Long)] // zid, enter, last, n
      zids.zip(times).foreach { case (z, t) =>
        if (runs.nonEmpty && runs.last._1 == z) {
          val l = runs.last
          runs(runs.size - 1) = (l._1, l._2, t, l._4 + 1)
        } else runs += ((z, t, t, 1L))
      }
      runs.dropRight(1).filter(_._1 != -1L)
        .map { case (z, e, l, n) => (u, z, e, l, n) }
    }.toSet
    assert(expect.nonEmpty, "no closed in-zone visit — population vacuous")
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
    // no new files -> no new emission
    drain()
    assert(spark.read.parquet(s"$out/visits").count() == got.size)
  }

  test("zone-registry contract (VERDICT r18 #6): the registry is " +
      "fixed at query start — a geofence rollout is a RESTART with " +
      "the new registry, which judges NEW fixes only: an open visit " +
      "straddling the rollout closes under the OLD registry's zone " +
      "id, and emitted history is never rewritten") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-zc-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-zc-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-zc-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    val users = (1L to 300L)
    // rollout: same polygons, re-keyed ids/names — every in-zone fix
    // changes zid at the boundary, so straddling visits must close
    val zonesB = graft.queries.Geo.Zones.map { case (id, nm, vs) =>
      (id + 10L, s"${nm}_v2", vs) }
    land("w1.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10, u, ts(0)), GeoEv(u * 10 + 1, u, ts(600)))))
    StreamingGeo.startZoneVisits(spark, landing, out)
      .awaitTermination()
    val v1 = spark.read.parquet(s"$out/visits").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("zone_id"),
        r.getAs[Timestamp]("enter_ts").getTime,
        r.getAs[Timestamp]("exit_ts").getTime,
        r.getAs[Long]("n_fixes"))).toSet
    land("w2.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10 + 2, u, ts(1200)), GeoEv(u * 10 + 3, u, ts(1800)))))
    StreamingGeo.startZoneVisits(spark, landing, out, zones = zonesB)
      .awaitTermination()
    val got = spark.read.parquet(s"$out/visits").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("zone_id"),
        r.getAs[Timestamp]("enter_ts").getTime,
        r.getAs[Timestamp]("exit_ts").getTime,
        r.getAs[Long]("n_fixes"))).toSet
    // history intact: nothing emitted before the rollout is rewritten
    assert(v1.subsetOf(got), s"rollout rewrote history: ${v1 -- got}")
    // independent fold: wave-1 fixes judge under registry A, wave-2
    // under B; a zid change (including the A->B re-key) closes a run
    val expect = users.flatMap { u =>
      val zids = (0L to 3L).map { i =>
        val (la, lo) = pos(u * 10 + i, u)
        val reg = if (i <= 1) graft.queries.Geo.Zones else zonesB
        reg.filter(z => inZone(lo, la, z._3)).map(_._1)
          .minOption.getOrElse(-1L)
      }
      val times = (0L to 3L).map(i => 1700000000000L + i * 600000L)
      val runs = collection.mutable.Buffer
        .empty[(Long, Long, Long, Long)]
      zids.zip(times).foreach { case (z, t) =>
        if (runs.nonEmpty && runs.last._1 == z) {
          val l = runs.last
          runs(runs.size - 1) = (l._1, l._2, t, l._4 + 1)
        } else runs += ((z, t, t, 1L))
      }
      runs.dropRight(1).filter(_._1 != -1L)
        .map { case (z, e, l, n) => (u, z, e, l, n) }
    }.toSet
    assert(got == expect,
      s"missing=${expect -- got} extra=${got -- expect}")
    // the rollout actually exercised a straddle-close: at least one
    // OLD-id visit emitted by the wave-2 (registry-B) drain
    assert((got -- v1).exists(_._2 <= 4L),
      "no open visit straddled the rollout — plant vacuous")
  }

  test("hour-bounded index reads: a multi-hour batch still pairs " +
      "against the earlier index (alerts unchanged under the bound); " +
      "retainIndex drops partitions past the horizon and the stream " +
      "keeps draining against what remains") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-hb-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-hb-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-hb-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit =
      StreamingGeo.start(spark, landing, out).awaitTermination()
    def alerts(): Set[(Long, Long, Long, Long)] =
      spark.read.parquet(s"$out/alerts").collect()
        .map(r => (r.getAs[Long]("u_new"), r.getAs[Long]("u_old"),
          r.getAs[Long]("hour"), r.getAs[Long]("m"))).toSet
    val w1u = (1L to 150L); val w2u = (151L to 300L)
    // wave 1: hour 0 only; wave 2 SPANS hours 0 and 1 — the bounded
    // read [0, 1] must still cover the hour-0 index rows
    land("w1.parquet", w1u.map(u => GeoEv(u * 10, u, ts(60))))
    drain()
    land("w2.parquet", w2u.flatMap(u => Seq(
      GeoEv(u * 10, u, ts(120)), GeoEv(u * 10 + 1, u, ts(3720)))))
    drain()
    val hourOf = (1700000000L + 60) / 3600
    val expect = (for {
      (un, (la1, lo1)) <- w2u.map(u => (u, pos(u * 10, u)))
      (uo, (la2, lo2)) <- w1u.map(u => (u, pos(u * 10, u)))
      m = math.round(hav(la1, lo1, la2, lo2)) if m <= 500L
    } yield (un, uo, hourOf, m)).toSet
    assert(expect.nonEmpty, "planted population produced no encounters")
    assert(alerts() == expect,
      s"missing=${expect -- alerts()} extra=${alerts() -- expect}")
    // wave 3: hour 200 — span-bounded index read finds nothing there
    land("w3.parquet", w1u.map(u => GeoEv(u * 10 + 7, u,
      ts(200L * 3600 + 60))))
    drain()
    assert(alerts() == expect, "an empty-span batch must not alert")
    // retention: hwm=200, horizon=100 -> batches 0 and 1 (max hours
    // 0 and 1) drop; batch 2 (hour 200) stays
    val dropped = StreamingGeo.retainIndex(spark, out, 100L)
    assert(dropped == Seq(0L, 1L), dropped.toString)
    assert(!new java.io.File(s"$out/index/batch=0").exists())
    assert(!new java.io.File(s"$out/occ/batch=1").exists())
    assert(new java.io.File(s"$out/index/batch=2").exists())
    // the stream keeps pairing against the surviving index
    land("w4.parquet", w2u.map(u => GeoEv(u * 10 + 8, u,
      ts(200L * 3600 + 120))))
    drain()
    val h200 = (1700000000L + 200L * 3600 + 60) / 3600
    val expect200 = (for {
      (un, (la1, lo1)) <- w2u.map(u => (u, pos(u * 10 + 8, u)))
      (uo, (la2, lo2)) <- w1u.map(u => (u, pos(u * 10 + 7, u)))
      m = math.round(hav(la1, lo1, la2, lo2)) if m <= 500L
    } yield (un, uo, h200, m)).toSet
    assert(expect200.nonEmpty, "post-retention population vacuous")
    assert(alerts() == expect ++ expect200,
      s"missing=${(expect ++ expect200) -- alerts()}")
  }

  test("poison cell formed ENTIRELY within one micro-batch is " +
      "excluded that same batch: the hot/occupancy summary includes " +
      "the batch's own occupancy, so the OOM guard never lags") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-pc-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-pc-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-pc-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    // wave 1 (users 1-60, hour 0) seeds the occ store under the cap;
    // wave 2 (users 101-500, hour 1) forms its over-cap cells with NO
    // prior occupancy at hour 1 — a lagged summary would miss them
    val w1u = (1L to 60L); val w2u = (101L to 500L)
    def drain(): Unit = StreamingGeo.startEpisodes(spark, landing, out,
      500L, minHours = 1L, maxGapHours = 168L,
      maxCellOccupancy = 1L).awaitTermination()
    land("w1.parquet", w1u.map(u => GeoEv(u * 10, u, ts(60))))
    drain()
    land("w2.parquet", w2u.map(u => GeoEv(u * 10 + 1, u, ts(3720))))
    drain()
    // local occupancy at hour 1: cells with > 1 vessel are poison
    val pts2 = w2u.map { u =>
      val (la, lo) = pos(u * 10 + 1, u)
      (u, la, lo, (la + 5000) / 5000, (lo + 5000) / 5000)
    }
    val poison = pts2.groupBy(p => (p._4, p._5))
      .filter(_._2.size > 1).keySet
    val surv = pts2.filterNot(p => poison((p._4, p._5)))
    def brute(pts: Seq[(Long, Long, Long, Long, Long)], h: Long) = (for {
      (u1, a1, o1, _, _) <- pts; (u2, a2, o2, _, _) <- pts if u1 < u2
      m = math.round(hav(a1, o1, a2, o2)) if m <= 500L
    } yield (u1, u2, h, h, 1L, m)).toSet
    val h0 = (1700000000L + 60) / 3600; val h1 = h0 + 1
    val allPairs2 = brute(pts2, h1)
    val survPairs2 = brute(surv, h1)
    assert(allPairs2 != survPairs2,
      "no sub-500m pair inside a poison cell — the plant is vacuous")
    val pts1 = w1u.map { u =>
      val (la, lo) = pos(u * 10, u)
      (u, la, lo, (la + 5000) / 5000, (lo + 5000) / 5000)
    }
    val expect = brute(pts1, h0) ++ survPairs2
    val openId = new java.io.File(s"$out/open").listFiles()
      .map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).max
    val got = (spark.read.parquet(s"$out/open/batch=$openId").collect()
      ++ spark.read.parquet(s"$out/closed").collect())
      .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2"),
        r.getAs[Long]("start_hour"), r.getAs[Long]("end_hour"),
        r.getAs[Long]("n_hours"), r.getAs[Long]("min_m"))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("startEpisodes keeps only the two newest open-state snapshots " +
      "(closed/alerts logs untouched) and the episode stream " +
      "continues correctly after pruning") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-op-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-op-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-op-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = StreamingGeo.startEpisodes(spark, landing, out,
      500L, minHours = 2L, maxGapHours = 168L).awaitTermination()
    val users = (1L to 100L)
    def wave(k: Long, hour: Long): Seq[GeoEv] =
      users.map(u => GeoEv(u * 10 + k, u, ts(60 + hour * 3600)))
    def batches(sub: String): Seq[Long] = new java.io.File(s"$out/$sub")
      .listFiles().map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
    // each batch drops the snapshots older than the one it read
    val kept = (0 to 3).map { i =>
      land(s"w$i.parquet", wave(i.toLong, i.toLong)); drain()
      batches("open")
    }
    assert(kept == Seq(Seq(0L), Seq(0L, 1L), Seq(1L, 2L), Seq(2L, 3L)),
      kept.toString)
    // the output logs keep every batch's partition
    assert(batches("closed") == (0L to 3L) &&
      batches("alerts") == (0L to 3L))
    val openId = batches("open").max
    val got = (spark.read.parquet(s"$out/open/batch=$openId")
      .filter(org.apache.spark.sql.functions.col("n_hours") >= 2L)
      .collect()
      ++ spark.read.parquet(s"$out/closed").collect())
      .map(r => (r.getAs[Long]("u1"), r.getAs[Long]("u2"),
        r.getAs[Long]("start_hour"), r.getAs[Long]("end_hour"),
        r.getAs[Long]("n_hours"), r.getAs[Long]("min_m"))).toSet
    val all = (0L to 3L).flatMap(i => wave(i, i))
      .map(e => (e.event_id, e.user_id, e.ts))
      .toDF("event_id", "user_id", "ts")
    val batch = graft.queries.Geo
      .coTravel(all, 500L, minHours = 2L, maxGapHours = 168L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(batch.nonEmpty)
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
  }

  /** A dark-rendezvous feed for the tests below: `users` vessels, wave
    * `w` holding every vessel's fix at second 60 + 7,200·w, so with a
    * one-hour `minGapS` every wave after the first closes one dark gap
    * per vessel. `wave(w)` lands it; `drain()` runs the monitor to the
    * end of what has landed and returns the query. */
  private class RendezvousFeed(tag: String, users: Long = 300L) {
    import spark.implicits._
    val landing: String = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-in").toString
    val out: String = java.nio.file.Files
      .createTempDirectory(s"graft-$tag-out").toString
    var landed: Seq[GeoEv] = Nil
    def wave(w: Int): Seq[GeoEv] = {
      val evs = (1L to users).map(u => GeoEv(u * 1000 + w, u,
        ts(60 + w * 7200L)))
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-$tag-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, s"w$w.parquet"))
      landed ++= evs
      evs
    }
    def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = StreamingGeo.startDarkRendezvous(spark, landing, out,
        minGapS = 3600L)
      q.awaitTermination()
      q
    }
    def alerts(): Set[Seq[Any]] = spark.read.parquet(s"$out/alerts")
      .drop("batch").collect().map(_.toSeq).toSet
    def expected(): Set[Seq[Any]] = graft.queries.Geo
      .darkRendezvous(landed.map(e => (e.event_id, e.user_id, e.ts))
        .toDF("event_id", "user_id", "ts"), minGapS = 3600L)
      .collect().map(_.toSeq).toSet
    def snapshots(): Seq[Long] = new java.io.File(s"$out/last")
      .listFiles().map(_.getName).filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).sorted.toSeq
  }

  test("startDarkRendezvous keeps only the two newest last-fix " +
      "snapshots; replaying the last batch (its commit deleted) " +
      "reproduces identical alerts") {
    val f = new RendezvousFeed("drs")
    (0 until 5).foreach { w => f.wave(w); f.drain() }
    assert(f.snapshots() == Seq(3L, 4L), f.snapshots().toString)
    val before = f.alerts()
    assert(before.nonEmpty, "the feed produced no rendezvous — vacuous")
    assert(before == f.expected())
    // crash after batch 4's sink write, before its commit: the restart
    // re-runs batch 4 from snapshot 3
    val commits = new java.io.File(s"${f.out}/_checkpoint/commits")
    Seq("4", ".4.crc").foreach(n => new java.io.File(commits, n).delete())
    f.drain()
    assert(new java.io.File(commits, "4").exists(), "batch 4 not replayed")
    assert(f.alerts() == before)
    assert(f.snapshots() == Seq(3L, 4L), f.snapshots().toString)
  }

  test("startDarkRendezvous scans each micro-batch's input once: " +
      "numInputRows equals the fixes landed") {
    val f = new RendezvousFeed("drn")
    (0 until 2).foreach { w =>
      val n = f.wave(w).size.toLong
      val q = f.drain()
      assert(q.lastProgress.numInputRows == n,
        s"wave $w: ${q.lastProgress.numInputRows} input rows for $n fixes")
    }
  }

  test("startDarkRendezvous steady state: a micro-batch after the " +
      "first few compiles almost no new code (the codegen cache holds " +
      "a batch's classes)") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val f = new RendezvousFeed("drc")
    // one always-on query, as deployed: a wave lands, the query drains it
    val q = StreamingGeo.startDarkRendezvous(spark, f.landing, f.out,
      minGapS = 3600L, trigger = Trigger.ProcessingTime(0L))
    val compiles = try (0 until 5).map { w =>
      val c0 = compiled
      f.wave(w)
      // an idle trigger that listed the landing dir just before the wave
      // arrived can end processAllAvailable early: wait for the commit
      while (!new java.io.File(s"${f.out}/_checkpoint/commits/$w").exists())
        q.processAllAvailable()
      compiled - c0
    } finally q.stop()
    info(s"classes compiled per micro-batch: $compiles")
    assert(compiles.last < 25, s"compiles per micro-batch: $compiles")
  }

  test("startDarkGaps: cumulative stream output == batch q280 EXACTLY " +
      "on the landed prefix — gaps straddling micro-batches alert at " +
      "the reappearance fix, quiet legs stay silent, re-drain adds " +
      "nothing") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-dg-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-dg-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-dg-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = StreamingGeo
      .startDarkGaps(spark, landing, out).awaitTermination()
    val users = (1L to 80L)
    // wave 1 ends t=1800; wave 2 reappears at t=30000 — the DARK gap
    // (28,200 s >= 6 h) STRADDLES the batch boundary; the quiet
    // 1800 s and 600 s legs must stay silent
    land("w1.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10, u, ts(0)), GeoEv(u * 10 + 1, u, ts(1800)))))
    drain()
    assert(spark.read.parquet(s"$out/gaps").count() == 0L,
      "quiet legs must not alert")
    land("w2.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10 + 2, u, ts(30000)), GeoEv(u * 10 + 3, u, ts(30600)))))
    drain()
    val fmt = (t: Timestamp) => {
      val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      f.setTimeZone(java.util.TimeZone.getTimeZone("UTC")); f.format(t)
    }
    val got = spark.read.parquet(s"$out/gaps").collect()
      .map(r => (r.getAs[Long]("user_id"),
        fmt(r.getAs[Timestamp]("gap_start")),
        fmt(r.getAs[Timestamp]("gap_end")),
        r.getAs[Long]("gap_s"))).toSet
    val all = users.flatMap(u => Seq(
        (u * 10, u, ts(0)), (u * 10 + 1, u, ts(1800)),
        (u * 10 + 2, u, ts(30000)), (u * 10 + 3, u, ts(30600))))
      .toDF("event_id", "user_id", "ts")
    val batch = graft.queries.Geo.darkGaps(all).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSet
    assert(batch.size == users.size.toLong, "one dark gap per vessel")
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    // re-drain with nothing new: no duplicates
    drain()
    assert(spark.read.parquet(s"$out/gaps").count() == batch.size.toLong)
  }

  test("startDarkRendezvous: cumulative alerts == batch q283 EXACTLY " +
      "on the landed prefix (hour-aligned waves) — the meetup alert " +
      "fires at the reappearance batch, intra-batch gaps included, " +
      "re-drain adds nothing") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-dr-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-dr-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-dr-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = StreamingGeo
      .startDarkRendezvous(spark, landing, out).awaitTermination()
    // the q283 GeoSpec plant, split on the hour boundary: wave 1 =
    // every vessel's hour-0 fix; wave 2 = the hour-8 reappearances
    // (each vessel's ~30,000 s dark gap COMPLETES here) plus vessel
    // 1007 whose ENTIRE gap sits inside wave 2 (intra-batch case —
    // id picked so its hour-8 fix lands 271 m from vessel 210's rep,
    // python-precomputed per the planted-fixture rule)
    val users = (1L to 300L)
    val w1 = users.map(u => GeoEv(u * 100, u, ts((u % 5) * 60)))
    val w2 = users.flatMap(u => Seq(
      GeoEv(u * 100 + 1, u, ts(30000 + (u % 7) * 60)),
      GeoEv(u * 100 + 2, u, ts(30120 + (u % 7) * 60)))) ++ Seq(
      GeoEv(100001L, 1007L, ts(30000)), GeoEv(100002L, 1007L, ts(61000)))
    land("w1.parquet", w1)
    drain()
    assert(spark.read.parquet(s"$out/alerts").count() == 0L,
      "no gap has completed yet — wave 1 must not alert")
    land("w2.parquet", w2)
    drain()
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("gap_start"),
        r.getAs[String]("gap_end"), r.getAs[Long]("gap_s"),
        r.getAs[Long]("nearby"), r.getAs[Long]("n_ends"),
        r.getAs[Long]("zone_id"), r.getAs[String]("zone_name"),
        r.getAs[Long]("min_m"))).toSet
    val got = rows(spark.read.parquet(s"$out/alerts"))
    val all = (w1 ++ w2).map(e => (e.event_id, e.user_id, e.ts))
      .toDF("event_id", "user_id", "ts")
    val batch = rows(graft.queries.Geo.darkRendezvous(all))
    assert(batch.nonEmpty, "plant produced no rendezvous — vacuous")
    assert(batch.exists(t => t._1 == 1007L || t._5 == 1007L),
      "the intra-batch vessel never participated — plant vacuous")
    assert(got == batch,
      s"missing=${(batch -- got).take(3)} extra=${(got -- batch).take(3)}")
    // re-drain with nothing new: partitions overwrite, nothing doubles
    drain()
    assert(rows(spark.read.parquet(s"$out/alerts")) == batch)
  }

  test("startResample: cumulative stream output == batch q274 " +
      "EXACTLY on the landed prefix — cross-batch legs interpolate " +
      "through the carried state, gaps emit nothing") {
    import spark.implicits._
    val landing = java.nio.file.Files
      .createTempDirectory("graft-rs-in").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-rs-out").toString
    def land(name: String, evs: Seq[GeoEv]): Unit = {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-rs-wave").toString
      evs.toDS().coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(landing, name))
    }
    def drain(): Unit = StreamingGeo
      .startResample(spark, landing, out).awaitTermination()
    val users = (1L to 60L)
    // wave 1 ends at t=1800; wave 2 starts at t=3000 -> the
    // 1800->3000 leg STRADDLES the batch boundary; user 7 then gaps
    // 30,000 s (> 6 h) -> that leg must emit nothing
    land("w1.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10, u, ts(0)), GeoEv(u * 10 + 1, u, ts(1800)))))
    drain()
    land("w2.parquet", users.flatMap(u => Seq(
      GeoEv(u * 10 + 2, u, ts(3000)), GeoEv(u * 10 + 3, u, ts(33600)))))
    drain()
    val got = spark.read.parquet(s"$out/grid").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("t_grid"),
        r.getAs[Long]("lat_e6"), r.getAs[Long]("lon_e6"))).toSet
    val all = users.flatMap(u => Seq(
        (u * 10, u, ts(0)), (u * 10 + 1, u, ts(1800)),
        (u * 10 + 2, u, ts(3000)), (u * 10 + 3, u, ts(33600))))
      .toDF("event_id", "user_id", "ts")
    val batch = graft.queries.Geo.trackInterpolate(all).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty)
    // the straddling leg really emitted (an instant in (1800, 3000])
    assert(got.exists(g => g._2 > 1700000000L + 1800 &&
      g._2 <= 1700000000L + 3000),
      "no cross-batch leg instants — the straddle case is vacuous")
    // the 30,000 s gap leg emitted nothing
    assert(!got.exists(g => g._2 > 1700000000L + 3600 &&
      g._2 <= 1700000000L + 33600))
    assert(got == batch,
      s"missing=${(batch -- got).take(5)} extra=${(got -- batch).take(5)}")
  }
}
