package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{Advanced, Registry}

/** q208 EWMA / q210 OLS-slope trend semantics on planted streams, and
  * the q209 range-shard manifest's equi-depth + plan contracts.
  */
class TrendSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def events(rows: (Long, String, Long, Double)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t, u, v) =>
        Row(id, ts(t), u, v) }),
      schema)

  test("ewma: left fold in (ts, event_id) order, out-of-order input") {
    // user 1 planted OUT OF ORDER: time order is 10, 20, 30 ->
    // E = 10; .3*20+.7*10 = 13; .3*30+.7*13 = 18.1
    val df = events(
      (3L, "2024-01-01 00:00:03", 1L, 30.0),
      (1L, "2024-01-01 00:00:01", 1L, 10.0),
      (2L, "2024-01-01 00:00:02", 1L, 20.0),
      // user 2: same-ts tie broken by event_id (5 then 6): E = .3*9+.7*1
      (5L, "2024-01-01 00:00:01", 2L, 1.0),
      (6L, "2024-01-01 00:00:01", 2L, 9.0),
      // user 3: single event is its own average
      (7L, "2024-01-01 00:00:01", 3L, 4.25))
    val out = Advanced.ewmaTrend(df, 0.3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((3L, 18.1)))
    // .3*9+.7*1 = 3.3999999999999995 in IEEE, 3.4 after the 4-dp display
    assert(out(2L) == ((2L, 3.4)))
    assert(out(3L) == ((1L, 4.25)))
  }

  test("user trend: exact slope on a planted linear stream, NULL on " +
      "zero time variance") {
    // user 1: perfectly linear, +1.0 per minute -> 1440.0 per day
    // user 2: single event -> NULL (no variance)
    // user 3: two events in the SAME second -> denominator 0 -> NULL
    // user 4: flat values -> slope exactly 0
    val df = events(
      (1L, "2024-01-01 00:00:00", 1L, 1.0),
      (2L, "2024-01-01 00:01:00", 1L, 2.0),
      (3L, "2024-01-01 00:02:00", 1L, 3.0),
      (4L, "2024-01-01 00:00:00", 2L, 5.0),
      (5L, "2024-01-01 00:00:00", 3L, 1.0),
      (6L, "2024-01-01 00:00:00", 3L, 9.0),
      (7L, "2024-01-01 00:00:00", 4L, 7.5),
      (8L, "2024-01-01 06:00:00", 4L, 7.5))
    val rows = Advanced.userTrend(df).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
      .toMap
    assert(rows(1L) == ((3L, Some(1440.0))))
    assert(rows(2L) == ((1L, None)))
    assert(rows(3L) == ((2L, None)))
    assert(rows(4L) == ((2L, Some(0.0))))
  }

  test("last-touch attribution: credit, cold start, expiry, same-ts tie") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    def ev(rows: (Long, String, Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t, u, e) =>
          Row(id, ts(t), u, e) }),
        evSchema)
    val df = ev(
      // user 1: click then view then purchase -> view credited (latest)
      (1L, "2024-01-01 00:00:01", 1L, "click"),
      (2L, "2024-01-01 00:00:02", 1L, "view"),
      (3L, "2024-01-01 00:00:03", 1L, "purchase"),
      // user 2: cold purchase, nothing before -> none
      (4L, "2024-01-01 00:00:01", 2L, "purchase"),
      // user 3: touch 8 days before the purchase -> expired -> none
      (5L, "2024-01-01 00:00:00", 3L, "click"),
      (6L, "2024-01-09 00:00:01", 3L, "purchase"),
      // user 4: touch at the SAME ts as the purchase, lower event_id —
      // the (ts, event_id) frame ends 1 PRECEDING, so it still counts
      (7L, "2024-01-01 00:00:05", 4L, "signup"),
      (8L, "2024-01-01 00:00:05", 4L, "purchase"),
      // user 5: a purchase between touches never credits a purchase
      (9L, "2024-01-01 00:00:01", 5L, "click"),
      (10L, "2024-01-01 00:00:02", 5L, "purchase"),
      (11L, "2024-01-01 00:00:03", 5L, "purchase"))
    val out = Advanced.lastTouchAttribution(df, "purchase", 7).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // 6 purchases: view 1, none 2, signup 1, click 2 (user 5's both)
    assert(out("view") == ((1L, 0.1667)))
    assert(out("none") == ((2L, 0.3333)))
    assert(out("signup") == ((1L, 0.1667)))
    assert(out("click") == ((2L, 0.3333)))
  }

  test("linear attribution: equal split per journey, cold/expired to none, " +
      "trailing touches discarded") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    def ev(rows: (Long, String, Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t, u, e) =>
          Row(id, ts(t), u, e) }),
        evSchema)
    val df = ev(
      // user 1: click + view split the single conversion 0.5 / 0.5
      (1L, "2024-01-01 00:00:01", 1L, "click"),
      (2L, "2024-01-01 00:00:02", 1L, "view"),
      (3L, "2024-01-01 00:00:03", 1L, "purchase"),
      // user 2: cold conversion -> none
      (4L, "2024-01-01 00:00:01", 2L, "purchase"),
      // user 3: only touch is 8 days old -> expired -> none
      (5L, "2024-01-01 00:00:00", 3L, "click"),
      (6L, "2024-01-09 00:00:01", 3L, "purchase"),
      // user 4: two journeys, one touch each — credit never leaks
      // across the conversion boundary
      (7L, "2024-01-01 00:00:01", 4L, "click"),
      (8L, "2024-01-01 00:00:02", 4L, "purchase"),
      (9L, "2024-01-01 00:00:03", 4L, "view"),
      (10L, "2024-01-01 00:00:04", 4L, "purchase"),
      // user 5: the trailing click after the last conversion credits
      // nothing (open journey)
      (11L, "2024-01-01 00:00:01", 5L, "click"),
      (12L, "2024-01-01 00:00:02", 5L, "purchase"),
      (13L, "2024-01-01 00:00:03", 5L, "click"))
    val out = Advanced.linearAttribution(df, "purchase", 7).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 6 conversions: click 0.5+1+1 = 2.5, view 0.5+1 = 1.5, none 2
    assert(out("click") == ((2.5, 0.4167)))
    assert(out("view") == ((1.5, 0.25)))
    assert(out("none") == ((2.0, 0.3333)))
    assert(out.keySet == Set("click", "view", "none"))
  }

  test("time-decay attribution: fresh touch outweighs a half-life-old " +
      "one 2:1, cold conversion to none") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    def ev(rows: (Long, String, Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t, u, e) =>
          Row(id, ts(t), u, e) }),
        evSchema)
    val df = ev(
      // user 1: click age 0 days (w = 4), view age exactly 7 days
      // (one whole half-life -> w = 2): split 2/3 vs 1/3
      (1L, "2024-01-08 00:00:00", 1L, "view"),
      (2L, "2024-01-14 23:59:59", 1L, "click"),
      (3L, "2024-01-15 00:00:00", 1L, "purchase"),
      // user 2: cold conversion -> none
      (4L, "2024-01-01 00:00:01", 2L, "purchase"))
    val out = Advanced
      .timeDecayAttribution(df, "purchase", 7, halfLifeDays = 7)
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out("click") == ((0.6667, 0.3333)))
    assert(out("view") == ((0.3333, 0.1667)))
    assert(out("none") == ((1.0, 0.5)))
    assert(out.keySet == Set("click", "view", "none"))
  }

  test("position attribution: 40/20/40 U-shape, n=1 and n=2 specials, " +
      "cold to none") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    def ev(rows: (Long, String, Long, String)*) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (id, t, u, e) =>
          Row(id, ts(t), u, e) }),
        evSchema)
    val df = ev(
      // user 1: click, view, view, click -> ends 0.4 each (both
      // click), two middles 0.1 each (view): click 0.8, view 0.2
      (1L, "2024-01-01 00:00:01", 1L, "click"),
      (2L, "2024-01-01 00:00:02", 1L, "view"),
      (3L, "2024-01-01 00:00:03", 1L, "view"),
      (4L, "2024-01-01 00:00:04", 1L, "click"),
      (5L, "2024-01-01 00:00:05", 1L, "purchase"),
      // user 2: single touch takes everything
      (6L, "2024-01-01 00:00:01", 2L, "view"),
      (7L, "2024-01-01 00:00:02", 2L, "purchase"),
      // user 3: two touches split 0.5 / 0.5
      (8L, "2024-01-01 00:00:01", 3L, "click"),
      (9L, "2024-01-01 00:00:02", 3L, "view"),
      (10L, "2024-01-01 00:00:03", 3L, "purchase"),
      // user 4: cold -> none
      (11L, "2024-01-01 00:00:01", 4L, "purchase"))
    val out = Advanced.positionAttribution(df, "purchase", 7).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // 4 conversions: click 0.8+0.5 = 1.3, view 0.2+1+0.5 = 1.7, none 1
    assert(out("click") == ((1.3, 0.325)))
    assert(out("view") == ((1.7, 0.425)))
    assert(out("none") == ((1.0, 0.25)))
  }

  test("ab test: arms match an independent MD5 derivation, counts " +
      "conserve, z matches the hand formula") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    // independent ground-truth arm assignment (java MessageDigest,
    // not the Spark expression under test)
    def armOf(u: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$u:ab".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2
    }
    val users = (1L to 40L).toSeq
    val buyers = users.filter(_ % 3 == 0).toSet
    val rows = users.flatMap { u =>
      Seq((u * 10, ts("2024-01-01 00:00:01"), u, "view")) ++
        (if (buyers(u))
          Seq((u * 10 + 1, ts("2024-01-01 00:00:02"), u, "purchase"))
        else Nil)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (id, t, u, e) =>
        Row(id, t, u, e) }), evSchema)
    val r = Advanced.abTest(df, "purchase").collect().head
    val (na, nb) = (users.count(armOf(_) == 0).toLong,
      users.count(armOf(_) == 1).toLong)
    val (ca, cb) = (users.count(u => armOf(u) == 0 && buyers(u)).toLong,
      users.count(u => armOf(u) == 1 && buyers(u)).toLong)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((na, nb, ca, cb)))
    val (pa, pb) = (ca.toDouble / na, cb.toDouble / nb)
    val pool = (ca + cb).toDouble / (na + nb)
    // integer-exact half-up micro rates (no float in the engine path)
    def microRate(c: Long, n: Long): Long = (2000000L * c + n) / (2 * n)
    assert((r.getLong(4), r.getLong(5)) ==
      ((microRate(ca, na), microRate(cb, nb))))
    val zE9 = BigDecimal((pa - pb) / math.sqrt(pool * (1 - pool) *
      (1.0 / na + 1.0 / nb)) * 1e9)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    assert(r.getLong(6) == zE9)
    assert(r.getBoolean(7) == (math.abs(zE9) > 1960000000L))
  }

  test("ab test: a degenerate design (all users convert, pool = 1) " +
      "reads out z_e9 = 0 and not-significant — never a NaN") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    val rows = (1L to 12L).map { u =>
      Row(u, ts("2024-01-01 00:00:01"), u, "purchase") }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), evSchema)
    val r = Advanced.abTest(df, "purchase").collect().head
    assert(r.getLong(2) == r.getLong(0) && r.getLong(3) == r.getLong(1))
    assert((r.getLong(4), r.getLong(5)) == ((1000000L, 1000000L)))
    assert(r.getLong(6) == 0L && !r.getBoolean(7),
      s"degenerate readout must be exact zeros: $r")
  }

  test("cuped: perfect covariate erases the effect (theta 1, rho2 1), " +
      "zero-variance covariate degrades to the raw difference") {
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType)))
    def build(xy: Long => (Int, Int)) = {
      var id = 0L
      val rows = (1L to 40L).flatMap { u =>
        val (x, y) = xy(u)
        (1 to x).map { _ => id += 1
          Row(id, ts("2024-01-10 00:00:00"), u, "purchase") } ++
        (1 to y).map { _ => id += 1
          Row(id, ts("2024-01-20 00:00:00"), u, "purchase") } :+
        { id += 1; Row(id, ts("2024-01-10 00:00:01"), u, "view") }
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows), evSchema)
    }
    // y == x exactly: theta = 1, CUPED removes ALL apparent effect
    val perfect = Advanced
      .cuped(build(u => ((u % 5).toInt, (u % 5).toInt)),
        "purchase", "2024-01-16")
      .collect().head
    assert(perfect.getLong(0) == 40L)
    assert(perfect.getDouble(1) == 1.0)         // theta
    assert(perfect.getDouble(3) == 0.0)         // diff_cuped
    assert(perfect.getDouble(4) == 1.0)         // var_reduction
    // constant covariate: theta NULL, adjusted == raw, rho2 = 0
    val flat = Advanced
      .cuped(build(u => (1, (u % 3).toInt)), "purchase", "2024-01-16")
      .collect().head
    assert(flat.isNullAt(1))
    assert(flat.getDouble(3) == flat.getDouble(2))
    assert(flat.getDouble(4) == 0.0)
  }

  test("q209: shards are equi-depth, ranges monotone, corpus accounted") {
    val sf = "/root/testdata/sf0.001"
    val out = Registry.queries("q209_range_shards")(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSeq == (0L until 16L))
    val counts = out.map(_.getLong(1))
    assert(counts.max - counts.min <= 1,
      s"not equi-depth: ${counts.mkString(",")}")
    val total = graft.core.Tables.load(spark, sf, "documents").count()
    assert(counts.sum == total)
    // key ranges must be non-overlapping in shard order (boundaries may
    // touch: equal lengths split by the doc_id tiebreak)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(2),
        s"overlap: shard ${a.getLong(0)} hi=${a.getLong(3)} vs " +
          s"shard ${b.getLong(0)} lo=${b.getLong(2)}")
    }
  }

  test("q209 degenerate distribution: all-equal keys still shard exactly " +
      "by the tiebreak") {
    // the documented caveat case (one value -> one block): correctness
    // must hold — 33 same-length docs over 16 shards = 15 shards of 2
    // + one of 3, split purely by doc_id order
    val docs = spark.range(33).selectExpr("id AS doc_id",
      "repeat('x', 40) AS text")
    val tmp = java.nio.file.Files.createTempDirectory("graft-q209").toString
    docs.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    for (t <- graft.core.Tables.all if t != "documents")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
        java.nio.file.Paths.get(s"$tmp/$t.parquet"))
    val out = Registry.queries("q209_range_shards")(spark, tmp).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.map(_._2).sum == 33)
    assert(out.forall(r => r._3 == 40L && r._4 == 40L))
    // rank*16 div 33: ranks 0..32 -> shard sizes follow the exact
    // integer split (first shards 3 wide where floor boundaries cluster)
    val expected = (0L until 33L).groupBy(rk => rk * 16 / 33)
      .map { case (s, rks) => (s, rks.size.toLong) }
    assert(out.map(r => (r._1, r._2)).toMap == expected)
  }

  test("q209 plan: rank is block-partitioned, never a global corpus sort") {
    // the q193/q195 contract: the only unpartitioned window is the
    // 256-row block-summary offset pass, distinguished by its input —
    // a corpus-cardinality window would carry doc_id, the summary
    // window only (blk, bn)
    val df = Registry.queries("q209_range_shards")(
      spark, "/root/testdata/sf0.001")
    df.collect()
    val windows = windowExecs(df.queryExecution)
    assert(windows.nonEmpty, "no WindowExec seen")
    val bad = windows.filter(w => w.partitionSpec.isEmpty &&
      w.child.output.exists(_.name == "doc_id"))
    assert(bad.isEmpty, s"corpus-sized unpartitioned window: $bad")
  }

  test("holt trend: exactly-linear stream is tracked with zero lag, " +
      "constant stream pins zero trend, forecast extends the line") {
    // user 1: perfectly linear 10, 20, 30 -> Holt (any alpha/beta)
    // cannot track a ramp exactly from b1=0, but with alpha=1 the level
    // follows x exactly and trend converges; use alpha=1.0, beta=1.0:
    // l=10 b=0; l=20 b=10; l=30 b=10 -> forecast 40
    val lin = events(
      (1L, "2024-01-01 00:00:01", 1L, 10.0),
      (2L, "2024-01-01 00:00:02", 1L, 20.0),
      (3L, "2024-01-01 00:00:03", 1L, 30.0),
      // user 2: constant 5s -> level 5, trend 0 at ANY smoothing
      (4L, "2024-01-01 00:00:01", 2L, 5.0),
      (5L, "2024-01-01 00:00:02", 2L, 5.0),
      (6L, "2024-01-01 00:00:03", 2L, 5.0))
    val out = Advanced.holtTrend(lin, alpha = 1.0, beta = 1.0).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((3L, 30.0, 10.0, 40.0)))
    assert(out(2L) == ((3L, 5.0, 0.0, 5.0)))
    // out-of-order input folds in (ts, event_id) order like q208
    val ooo = events(
      (3L, "2024-01-01 00:00:03", 7L, 30.0),
      (1L, "2024-01-01 00:00:01", 7L, 10.0),
      (2L, "2024-01-01 00:00:02", 7L, 20.0))
    val o = Advanced.holtTrend(ooo, 1.0, 1.0).collect().head
    assert((o.getDouble(2), o.getDouble(3), o.getDouble(4)) ==
      ((30.0, 10.0, 40.0)))
  }
}
