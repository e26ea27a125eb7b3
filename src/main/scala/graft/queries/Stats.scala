package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.Tables

/** Statistical estimators a 100 TB curation/analytics engine needs
  * beyond point aggregates: a mergeable KMV distinct-count sketch
  * (the first HASH-CHECKED sketch in the registry — the Datasketches
  * HLL routes are accuracy-bounded only, this one is md5-addressed so
  * DuckDB replays every bit), a Kaplan-Meier survival curve with
  * right-censoring, a delete-one-block jackknife confidence interval
  * for the experimentation pack's lift estimate, and a closed-form
  * two-feature OLS fit via Cramer's rule on exact integer moments.
  *
  * Shared float discipline (the q195/q210 house rules): every
  * corpus-sized accumulation is an exact integer (Spark DECIMAL(38,0),
  * oracle HUGEINT); doubles appear in ONE terminal block per query and
  * round at 4-6 dp; where a float fold is unavoidable (the KM log-sum)
  * it runs over a SUMMARY-sized ordered frame, so both engines fold
  * the same few dozen terms in the same order and the terminal
  * rounding absorbs libm ulp skew (the q178 precedent).
  */
object Stats {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  private val Dec = "decimal(38,0)"

  /** md5-addressed 32-bit uniform hash of `c` under domain-separating
    * salt `salt` — the q59/q152/q242 addressing rule, so the oracle
    * derives identical integers. Range [0, 2^32). The one definition:
    * `Geo.positioned`'s positions, the ":ab" arms, the ":pack" shards
    * and the ":kmv" sketch all hash through it. */
  private[graft] def h32(c: Column, salt: String): Column =
    conv(substring(md5(concat(c.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast("long")

  /** Deterministic experiment arm (0/1) of a user id — q242's rule. */
  private[graft] def arm(u: Column): Column = pmod(h32(u, ":ab"), lit(2))

  /** THE ":kmv" member hash — shared with [[graft.etl.KmvStore]] so a
    * persisted sketch and the q247/q271 calibration queries can never
    * hash the same key differently. */
  private[graft] def kmvHash(c: Column): Column = h32(c, ":kmv")

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002) of
    * `keyCol` per `grpCol`: keep the k smallest distinct 32-bit md5
    * hashes; if more than k distinct hashes exist the estimate is
    * (k-1) / U(k) with U(k) = kth-smallest-hash / 2^32, else the
    * sketch is exact. Min-k sets merge associatively (min-k of a union
    * = min-k of the merged min-k sets), which is what makes this a
    * fixed-size, map-side-mergeable distinct counter at any scale —
    * and unlike HLL every bit is deterministic integer arithmetic, so
    * the estimate itself is oracle-checkable.
    *
    * Scale shape: ONE distinct projection on (grp, key) (map-side
    * combined — the shuffle carries distinct pairs, never raw rows),
    * hashes computed map-side after the collapse; the min-k selection
    * is `row_number <= k`, which [[graft.plans.TopKRewrite]] plans as
    * the bounded-heap TopKPerKey — at most k rows per (partition, grp)
    * ride the final exchange, never the distinct-key-sized set.
    * Returns (grp, n_exact, n_hashes, est, rel_err); n_exact is the
    * report's verification column (the production sketch path would
    * skip it).
    */
  def kmvReport(df: DataFrame, grpCol: Column, keyCol: Column,
      k: Int): DataFrame = {
    val dk = df.select(grpCol.as("grp"), keyCol.as("kid")).distinct()
      .select(col("grp"), col("kid"), h32(col("kid"), ":kmv").as("h"))
    val st = dk.groupBy(col("grp"))
      .agg(count(lit(1)).as("n_exact"), countDistinct(col("h")).as("nh"))
    val mins = dk.select(col("grp"), col("h")).distinct()
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("grp")).orderBy(col("h"))))
      .filter(col("rn") <= k)
      .groupBy(col("grp")).agg(max(col("h")).as("hk"))
    val raw = when(col("nh") > k,
      lit((k - 1).toDouble) * lit(4294967296.0) / col("hk").cast("double"))
      .otherwise(col("nh").cast("double"))
    st.join(mins, Seq("grp"))
      .select(col("grp"), col("n_exact").cast("long").as("n_exact"),
        col("nh").cast("long").as("n_hashes"),
        round(raw, 4).as("est"),
        round(abs(raw - col("n_exact").cast("double"))
          / col("n_exact").cast("double"), 4).as("rel_err"))
      .orderBy(col("grp"))
  }

  /** Kaplan-Meier survival curve of time-to-first-purchase (in whole
    * days since each user's first event), right-censored at the
    * stream's last observed timestamp for users who never purchase.
    * Standard KM conventions: at a time with both deaths and censored
    * exits, the censored are still at risk (removed after); S(t) =
    * prod over death times t_j <= t of (1 - d_j / n_j); one output row
    * per death time.
    *
    * Scale shape: the only corpus-sized work is ONE user-keyed
    * aggregate (first event ts + first purchase ts per user); the
    * (day, deaths, censored) grid is bounded by the observation span
    * in days, so the ordered unpartitioned window and the log-sum fold
    * both run over a SUMMARY-sized frame (the q193 exemption). The
    * survival product is exp(running sum of ln(1 - d/n)) — the one
    * float block — with n_j = d_j forced to exact 0 (no ln(0)).
    */
  def kaplanMeier(events: DataFrame): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    val per = events.groupBy(col("user_id")).agg(
      min(secs).as("f"),
      min(when(col("event_type") === "purchase", secs)).as("p"))
    val mx = events.agg(max(secs).as("mx"))
    val pu = per.crossJoin(broadcast(mx)).select(
      when(col("p").isNotNull, floor((col("p") - col("f")) / lit(86400.0)))
        .otherwise(floor((col("mx") - col("f")) / lit(86400.0)))
        .cast("long").as("day"),
      when(col("p").isNotNull, 1L).otherwise(0L).as("ev"))
    val grid = pu.groupBy(col("day")).agg(
      sum(col("ev")).as("d"), sum(lit(1L) - col("ev")).as("c"))
    val nTot = pu.agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("day"))
    val cum = grid.crossJoin(broadcast(nTot))
      .withColumn("removed", coalesce(
        sum(col("d") + col("c"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("n") - col("removed"))
      .withColumn("lnf", when(col("d") < col("n_risk"),
        log(lit(1.0) - col("d").cast("double") / col("n_risk").cast("double"))))
      .withColumn("zf", max(when(col("d") === col("n_risk"), 1).otherwise(0))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cln", sum(col("lnf"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.filter(col("d") > 0)
      .select(col("day"), col("n_risk").cast("long").as("n_risk"),
        col("d").cast("long").as("n_events"),
        col("c").cast("long").as("n_censored"),
        when(col("zf") === 1, lit(0.0))
          .otherwise(round(exp(coalesce(col("cln"), lit(0.0))), 6)).as("surv"))
      .orderBy(col("day"))
  }

  /** Delete-one-block jackknife CI for the A/B lift in mean per-user
    * purchase count (the q242 arms): users hash into B blocks
    * (md5 ":jk" addressing, independent of the ":ab" arm hash); for
    * each block, the lift recomputed WITHOUT that block's users gives
    * a leave-one-out estimate theta_(-b); the jackknife variance
    * (B-1)/B * sum (theta_(-b) - mean)^2 yields a normal-theory 95%
    * CI that is assumption-light about the per-user distribution
    * (Efron 1981). Requires B << users per arm (every leave-one-out
    * denominator stays positive).
    *
    * Float discipline: per-(arm, block) counts and sums are exact
    * DECIMAL; each theta_(-b) is ONE double expression over those
    * integers, immediately re-gridded to an exact e9 integer (the
    * q210 rule applied to pseudo-values), so the variance comes from
    * exact integer moments — no order-dependent float accumulation.
    * Scale shape: one user-keyed aggregate, then a 2B-cell aggregate;
    * the leave-one-out table is B rows (block scaffold keeps empty
    * blocks, whose theta_(-b) degenerates to the full estimate).
    */
  def jackknifeLift(events: DataFrame, spark: SparkSession,
      blocks: Int): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0))
        .cast(Dec).as("y"))
      .select(col("y"), arm(col("user_id")).as("a"),
        pmod(h32(col("user_id"), ":jk"), lit(blocks)).as("b"))
    val cell = per.groupBy(col("b")).agg(
      sum(when(col("a") === 0, 1).otherwise(0)).cast(Dec).as("na_b"),
      sum(when(col("a") === 0, col("y")).otherwise(0)).as("sa_b"),
      sum(when(col("a") === 1, 1).otherwise(0)).cast(Dec).as("nb_b"),
      sum(when(col("a") === 1, col("y")).otherwise(0)).as("sb_b"))
    val scaffold = spark.range(blocks).select(col("id").as("b"))
    val full = scaffold.join(broadcast(cell), Seq("b"), "left")
      .na.fill(0, Seq("na_b", "sa_b", "nb_b", "sb_b"))
    val tot = full.agg(
      sum(col("na_b")).as("na"), sum(col("sa_b")).as("sa"),
      sum(col("nb_b")).as("nb"), sum(col("sb_b")).as("sb"))
    def dd(c: String) = col(c).cast("double")
    val loo = full.crossJoin(broadcast(tot)).select(
      ((dd("sb") - dd("sb_b")) / (dd("nb") - dd("nb_b"))
        - (dd("sa") - dd("sa_b")) / (dd("na") - dd("na_b"))).as("th"))
      .select(round(col("th") * 1e9).cast(Dec).as("z"))
    val zm = loo.agg(count(lit(1)).as("nb2"), sum(col("z")).as("sz"),
      sum(col("z") * col("z")).as("sz2"))
    zm.crossJoin(broadcast(tot)).select(
      (dd("sb") / dd("nb") - dd("sa") / dd("na")).as("th"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      col("nb2").cast("long").as("n_blocks"),
      dd("sz").as("szd"), dd("sz2").as("sz2d"),
      col("nb2").cast("double").as("bd"))
      .select(col("n_a"), col("n_b"), col("n_blocks"),
        round(col("th"), 6).as("theta"),
        sqrt(greatest(lit(0.0), (col("bd") - 1) / col("bd")
          * (col("sz2d") - col("szd") * col("szd") / col("bd")) / 1e18))
          .as("se_raw"), col("th"))
      .select(col("n_a"), col("n_b"), col("n_blocks"), col("theta"),
        round(col("se_raw"), 6).as("se"),
        round(col("th") - lit(1.959964) * col("se_raw"), 6).as("lo"),
        round(col("th") + lit(1.959964) * col("se_raw"), 6).as("hi"))
  }

  /** Closed-form two-feature OLS via Cramer's rule: fit
    * y = b0 + b1*x1 + b2*x2 from the nine exact integer moment sums
    * (n, Sx1, Sx2, Sx1x1, Sx1x2, Sx2x2, Sy, Sx1y, Sx2y, Syy). All
    * features must be integer-valued (the q195 grid rule); every
    * cross-product fits a long before the DECIMAL accumulation, the
    * 3x3 solve and R^2 are one terminal double block over the nine
    * integers — both engines evaluate the identical expression tree
    * on identical integers, so the doubles agree bit-for-bit.
    *
    * Scale shape: ONE map-side-combined global aggregate; nothing
    * downstream exceeds one row. This is the normal-equations route —
    * exact for p=2 and embarrassingly scalable, where an iterative
    * fit (q110's logistic SGD) pays a pass per epoch.
    */
  def ols2(df: DataFrame, y: Column, x1: Column, x2: Column): DataFrame = {
    val base = df.select(y.cast("long").as("y"), x1.cast("long").as("x1"),
      x2.cast("long").as("x2"))
      .filter(col("y").isNotNull && col("x1").isNotNull && col("x2").isNotNull)
    val m = base.agg(
      count(lit(1)).cast(Dec).as("n"),
      sum(col("x1")).cast(Dec).as("sx1"), sum(col("x2")).cast(Dec).as("sx2"),
      sum(col("x1") * col("x1")).cast(Dec).as("s11"),
      sum(col("x1") * col("x2")).cast(Dec).as("s12"),
      sum(col("x2") * col("x2")).cast(Dec).as("s22"),
      sum(col("y")).cast(Dec).as("sy"),
      sum(col("x1") * col("y")).cast(Dec).as("s1y"),
      sum(col("x2") * col("y")).cast(Dec).as("s2y"),
      sum(col("y") * col("y")).cast(Dec).as("syy"))
    def d(c: String) = col(c).cast("double")
    val co = m.select(col("n").cast("long").as("n_rows"),
      d("n").as("a11"), d("sx1").as("a12"), d("sx2").as("a13"),
      d("s11").as("a22"), d("s12").as("a23"), d("s22").as("a33"),
      d("sy").as("by"), d("s1y").as("b1y"), d("s2y").as("b2y"),
      d("syy").as("syy"))
      .withColumn("m1", col("a22") * col("a33") - col("a23") * col("a23"))
      .withColumn("m2", col("a12") * col("a33") - col("a23") * col("a13"))
      .withColumn("m3", col("a12") * col("a23") - col("a22") * col("a13"))
      .withColumn("det", col("a11") * col("m1") - col("a12") * col("m2")
        + col("a13") * col("m3"))
      .withColumn("b0", (col("by") * col("m1")
        - col("a12") * (col("b1y") * col("a33") - col("a23") * col("b2y"))
        + col("a13") * (col("b1y") * col("a23") - col("a22") * col("b2y")))
        / col("det"))
      .withColumn("b1", (col("a11") * (col("b1y") * col("a33")
          - col("a23") * col("b2y"))
        - col("by") * col("m2")
        + col("a13") * (col("a12") * col("b2y") - col("b1y") * col("a13")))
        / col("det"))
      .withColumn("b2", (col("a11") * (col("a22") * col("b2y")
          - col("b1y") * col("a23"))
        - col("a12") * (col("a12") * col("b2y") - col("b1y") * col("a13"))
        + col("by") * col("m3"))
        / col("det"))
      .withColumn("rss", col("syy") - (col("b0") * col("by")
        + col("b1") * col("b1y") + col("b2") * col("b2y")))
      .withColumn("tss", col("syy") - col("by") * col("by") / col("a11"))
    co.select(col("n_rows"),
      round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
      round(col("b2"), 6).as("b2"),
      round(lit(1.0) - col("rss") / col("tss"), 6).as("r2"))
  }

  /** Two-sided normal tail probability 2*(1-Phi(|z|)) as a closed-form
    * elementary expression: p = erfc(|z|/sqrt(2)) via the
    * Abramowitz-Stegun 7.1.26 polynomial (|abs error| <= 1.5e-7, far
    * below the 1e-9 decision grid both engines share). Elementary ops
    * only (one exp), written in the IDENTICAL Horner association the
    * oracles mirror, so both engines produce the same double from the
    * same exact-integer z inputs.
    */
  private def pTwoSided(z: Column): Column = {
    val x = abs(z) * lit(0.7071067811865476)
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
    ((((lit(1.061405429) * tt - lit(1.453152027)) * tt
      + lit(1.421413741)) * tt - lit(0.284496736)) * tt
      + lit(0.254829592)) * tt * exp(-x * x)
  }

  /** Benjamini-Hochberg step-up FDR across the per-event-type A/B
    * conversion tests: for every event type, a pooled two-proportion
    * z-test of "did arm 1 users convert to this event type more often
    * than arm 0" (q242 arms), then the BH procedure at alpha=0.05
    * across the m simultaneous tests — rank p ascending, K = max{k :
    * p_k <= k*alpha/m}, reject ranks <= K. The multiple-comparisons
    * guard every metrics dashboard needs once it watches more than one
    * metric per experiment.
    *
    * Float discipline: conversion counts are exact integers from TWO
    * distinct-collapsed aggregates (users; user-type pairs); z and p
    * are one double block each (identical expression trees both
    * engines); the BH membership gate re-grids p to an exact e9
    * integer (the q210 rule) and compares cross-multiplied longs
    * (p9 * m <= k * alpha*1e9) — no float comparison gates a row.
    * Scale shape: corpus-sized work is the two distinct aggregates
    * (map-side combined); everything after is |event types| rows, so
    * the rank/threshold windows ride the q193 summary exemption; the
    * 1-row user-arm totals broadcast.
    */
  def bhFdr(events: DataFrame): DataFrame = {
    val users = events.select(col("user_id")).distinct()
      .select(arm(col("user_id")).as("a"))
    val tot = users.agg(
      sum(when(col("a") === 0, 1).otherwise(0)).cast(Dec).as("na"),
      sum(when(col("a") === 1, 1).otherwise(0)).cast(Dec).as("nb"))
    val conv = events.select(col("event_type"), col("user_id")).distinct()
      .select(col("event_type"), arm(col("user_id")).as("a"))
      .groupBy(col("event_type"))
      .agg(sum(when(col("a") === 0, 1).otherwise(0)).cast(Dec).as("xa"),
        sum(when(col("a") === 1, 1).otherwise(0)).cast(Dec).as("xb"))
    def dd(c: String) = col(c).cast("double")
    val tested = conv.crossJoin(broadcast(tot))
      .withColumn("pp",
        (dd("xa") + dd("xb")) / (dd("na") + dd("nb")))
      .withColumn("se", sqrt(col("pp") * (lit(1.0) - col("pp"))
        * (lit(1.0) / dd("na") + lit(1.0) / dd("nb"))))
      .withColumn("z", when(col("se") > 0,
        (dd("xb") / dd("nb") - dd("xa") / dd("na")) / col("se"))
        .otherwise(lit(0.0)))
      .withColumn("pv", when(col("se") > 0, pTwoSided(col("z")))
        .otherwise(lit(1.0)))
      .withColumn("p9", round(col("pv") * 1e9).cast("long"))
    val m = Window.partitionBy()
    val byP = Window.orderBy(col("p9"), col("event_type"))
    val ranked = tested
      .withColumn("mm", count(lit(1)).over(m))
      .withColumn("k", row_number().over(byP))
      .withColumn("ok", col("p9") * col("mm") <= col("k") * lit(50000000L))
      .withColumn("kmax", max(when(col("ok"), col("k")).otherwise(0L))
        .over(m))
    ranked.select(col("event_type"),
      col("xa").cast("long").as("x_a"), col("xb").cast("long").as("x_b"),
      round(col("z"), 4).as("z"), round(col("pv"), 6).as("p_value"),
      col("k").cast("long").as("rank"),
      (col("k") <= col("kmax")).as("significant"))
      .orderBy(col("rank"))
  }

  /** Always-valid sequential A/B monitor (mixture SPRT, Johari et al.
    * 2017): the day-by-day purchase-conversion readout a team watches
    * DURING an experiment without inflating false positives by
    * peeking. Per calendar day: cumulative users and converters per
    * q242 arm (a user enters at their first event day, converts at
    * their first purchase day), the mixture likelihood ratio ln Lambda
    * under tau^2 = 0.01 mixture variance and pooled-Bernoulli V_n, and
    * the always-valid p-value p_n = min(1, exp(-max_{n'<=n} ln
    * Lambda_{n'})) — monotone by construction, so "rejected" can never
    * un-reject on a later day.
    *
    * Scale shape: ONE user-keyed aggregate is the only corpus-sized
    * work; the day grid is bounded by the observation span, so the
    * cumulative/running-max windows ride the q193 summary exemption.
    * Float discipline: cumulative counts are exact integers; ln Lambda
    * is one double block per day (ln form — the raw Lambda would
    * overflow at strong effects); the rejection gate re-grids the
    * p-value to the exact e9 integer before comparing (q210 rule).
    */
  def msprt(events: DataFrame): DataFrame = {
    val secs = unix_timestamp(col("ts"))
    val per = events.groupBy(col("user_id")).agg(
      floor(min(secs) / 86400L).as("fd"),
      floor(min(when(col("event_type") === "purchase", secs)) / 86400L)
        .as("pd"))
      .select(col("fd"), col("pd"), arm(col("user_id")).as("a"))
    val du = per.groupBy(col("fd").as("day"), col("a"))
      .agg(count(lit(1)).cast(Dec).as("du"))
    val dc = per.filter(col("pd").isNotNull)
      .groupBy(col("pd").as("day"), col("a"))
      .agg(count(lit(1)).cast(Dec).as("dc"))
    val inc = du.join(dc, Seq("day", "a"), "full")
      .na.fill(0, Seq("du", "dc"))
      .groupBy(col("day")).agg(
        sum(when(col("a") === 0, col("du")).otherwise(0)).as("dua"),
        sum(when(col("a") === 1, col("du")).otherwise(0)).as("dub"),
        sum(when(col("a") === 0, col("dc")).otherwise(0)).as("dca"),
        sum(when(col("a") === 1, col("dc")).otherwise(0)).as("dcb"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = inc
      .withColumn("na", sum(col("dua")).over(w))
      .withColumn("nb", sum(col("dub")).over(w))
      .withColumn("xa", sum(col("dca")).over(w))
      .withColumn("xb", sum(col("dcb")).over(w))
    def dd(c: String) = col(c).cast("double")
    val tau2 = lit(0.01)
    val scored = cum
      .withColumn("pp", when(col("na") > 0 && col("nb") > 0,
        (dd("xa") + dd("xb")) / (dd("na") + dd("nb"))))
      .withColumn("vv", col("pp") * (lit(1.0) - col("pp"))
        * (lit(1.0) / dd("na") + lit(1.0) / dd("nb")))
      .withColumn("dl", dd("xb") / dd("nb") - dd("xa") / dd("na"))
      .withColumn("lnl", when(col("vv") > 0,
        lit(0.5) * log(col("vv") / (col("vv") + tau2))
          + col("dl") * col("dl") * tau2
          / (lit(2.0) * col("vv") * (col("vv") + tau2)))
        .otherwise(lit(0.0)))
      .withColumn("mx", max(col("lnl")).over(w))
      .withColumn("pav", least(lit(1.0), exp(-col("mx"))))
      .withColumn("p9", round(col("pav") * 1e9).cast("long"))
    scored.select(col("day").cast("long").as("day"),
      col("na").cast("long").as("n_a"), col("nb").cast("long").as("n_b"),
      col("xa").cast("long").as("x_a"), col("xb").cast("long").as("x_b"),
      round(col("lnl"), 4).as("llr"),
      round(col("pav"), 6).as("p_avs"),
      (col("p9") <= lit(50000000L)).as("rejected"))
      .orderBy(col("day"))
  }

  /** Pre-experiment power readout per event type: from the observed
    * per-user count distribution (exact integer moments over the SAME
    * distinct-user denominator every type shares — absent users count
    * zero, contributing nothing to the sums but everything to n), the
    * minimum detectable effect at 80% power / 5% two-sided alpha under
    * the q242 arm split, absolute and relative, plus the users-per-arm
    * needed to detect a 2% relative lift. The sizing table a team
    * consults BEFORE launching the q242/q243 experiments.
    *
    * Scale shape: one (type, user)-keyed aggregate plus one distinct
    * user-arm aggregate (both map-side combined); everything after is
    * |event types| rows against a broadcast 1-row total. Float
    * discipline: moments are exact DECIMAL; mean/variance/MDE is one
    * terminal double block; n_per_arm ceils to an exact long.
    */
  def powerMde(events: DataFrame): DataFrame = {
    val per = events.groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("c"))
    val mom = per.groupBy(col("event_type")).agg(
      sum(col("c")).cast(Dec).as("s1"),
      sum(col("c") * col("c")).cast(Dec).as("s2"))
    val users = events.select(col("user_id")).distinct()
      .select(arm(col("user_id")).as("a"))
    val tot = users.agg(count(lit(1)).cast(Dec).as("n"),
      sum(when(col("a") === 0, 1).otherwise(0)).cast(Dec).as("na"),
      sum(when(col("a") === 1, 1).otherwise(0)).cast(Dec).as("nb"))
    def dd(c: String) = col(c).cast("double")
    val zsum = lit(2.801585) // z_{0.025} + z_{0.20}: 1.959964 + 0.841621
    mom.crossJoin(broadcast(tot))
      .withColumn("mean", dd("s1") / dd("n"))
      .withColumn("vr", when(col("n") > 1,
        (dd("s2") - dd("s1") * dd("s1") / dd("n")) / (dd("n") - lit(1.0))))
      .withColumn("mde", zsum * sqrt(col("vr")
        * (lit(1.0) / dd("na") + lit(1.0) / dd("nb"))))
      .withColumn("nreq", when(col("mean") > 0,
        ceil(lit(2.0) * col("vr") * zsum * zsum
          / (lit(0.02) * col("mean") * lit(0.02) * col("mean")))))
      .select(col("event_type"), col("n").cast("long").as("n_users"),
        round(col("mean"), 6).as("mean"),
        round(sqrt(col("vr")), 6).as("sd"),
        round(col("mde"), 6).as("mde_abs"),
        round(col("mde") / col("mean"), 6).as("mde_rel"),
        col("nreq").cast("long").as("n_per_arm_2pct"))
      .orderBy(col("event_type"))
  }

  def defs: Seq[Q] = Seq(

    // KMV DISTINCT SKETCH REPORT — estimated vs exact distinct
    // l_orderkey per l_returnflag at k=64 (expected ~1/sqrt(62) ~ 13%
    // relative error). The first sketch whose ESTIMATE is
    // hash-checked: md5 addressing makes every minimum identical in
    // DuckDB, so the oracle replays the full sketch, not just bounds.
    Q("q247_kmv_distinct",
      (s, d) => kmvReport(t(s, d, "lineitem"), col("l_returnflag"),
        col("l_orderkey"), 64),
      Some("""WITH dk AS (
                SELECT DISTINCT l_returnflag AS grp, l_orderkey AS kid
                FROM lineitem),
              hs AS (
                SELECT grp, kid,
                       CAST('0x' || SUBSTR(MD5(CAST(kid AS VARCHAR)
                         || ':kmv'), 1, 8) AS BIGINT) AS h
                FROM dk),
              st AS (SELECT grp, COUNT(*) AS n_exact,
                            COUNT(DISTINCT h) AS nh
                     FROM hs GROUP BY 1),
              dh AS (SELECT DISTINCT grp, h FROM hs),
              rk AS (SELECT grp, h,
                            ROW_NUMBER() OVER (PARTITION BY grp
                              ORDER BY h) AS rn
                     FROM dh),
              mk AS (SELECT grp, MAX(h) AS hk FROM rk
                     WHERE rn <= 64 GROUP BY 1),
              es AS (
                SELECT st.grp, st.n_exact, st.nh,
                       CASE WHEN st.nh > 64
                            THEN 63.0 * 4294967296.0 / mk.hk
                            ELSE CAST(st.nh AS DOUBLE) END AS raw
                FROM st JOIN mk USING (grp))
              SELECT grp, CAST(n_exact AS BIGINT) AS n_exact,
                     CAST(nh AS BIGINT) AS n_hashes,
                     ROUND(raw, 4) AS est,
                     ROUND(ABS(raw - n_exact) / n_exact, 4) AS rel_err
              FROM es ORDER BY grp""")),

    // KAPLAN-MEIER SURVIVAL — time-to-first-purchase with
    // right-censoring at the last observed timestamp. One row per
    // death day: at-risk count, deaths, censored exits, S(t).
    Q("q248_kaplan_meier",
      (s, d) => kaplanMeier(t(s, d, "events")),
      Some("""WITH per AS (
                SELECT user_id,
                       MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS f,
                       MIN(CASE WHEN event_type = 'purchase'
                         THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END) AS p
                FROM events GROUP BY 1),
              mx AS (SELECT MAX(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) AS mx
                     FROM events),
              pu AS (
                SELECT CASE WHEN p IS NOT NULL
                         THEN CAST(FLOOR((p - f) / 86400.0) AS BIGINT)
                         ELSE CAST(FLOOR((mx - f) / 86400.0) AS BIGINT)
                       END AS day,
                       CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS ev
                FROM per CROSS JOIN mx),
              grid AS (
                SELECT day, CAST(SUM(ev) AS BIGINT) AS d,
                       CAST(SUM(1 - ev) AS BIGINT) AS c
                FROM pu GROUP BY 1),
              n AS (SELECT COUNT(*) AS n FROM pu),
              cum AS (
                SELECT day, d, c,
                       n.n - COALESCE(SUM(d + c) OVER (ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS n_risk
                FROM grid CROSS JOIN n),
              sv AS (
                SELECT day, d, c, n_risk,
                       SUM(CASE WHEN d < n_risk
                         THEN LN(1.0 - CAST(d AS DOUBLE) / n_risk)
                         END) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS cln,
                       MAX(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
                         OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                         AS zf
                FROM cum)
              SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
                     d AS n_events, c AS n_censored,
                     CASE WHEN zf = 1 THEN 0.0
                          ELSE ROUND(EXP(COALESCE(cln, 0.0)), 6)
                     END AS surv
              FROM sv WHERE d > 0 ORDER BY day""")),

    // BLOCK-JACKKNIFE CI — delete-one-block (B=32, md5 ":jk" blocks)
    // jackknife variance of the q242-arms lift in mean per-user
    // purchase count; 95% normal-theory interval.
    Q("q249_jackknife",
      (s, d) => jackknifeLift(t(s, d, "events"), s, 32),
      Some("""WITH per AS (
                SELECT CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS y,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS a,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':jk'), 1, 8) AS BIGINT) % 32 AS b
                FROM events GROUP BY user_id),
              cell AS (
                SELECT b,
                       CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na_b,
                       SUM(CASE WHEN a = 0 THEN y ELSE 0 END) AS sa_b,
                       CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS nb_b,
                       SUM(CASE WHEN a = 1 THEN y ELSE 0 END) AS sb_b
                FROM per GROUP BY b),
              fl AS (
                SELECT r.b, COALESCE(na_b, 0) AS na_b,
                       COALESCE(sa_b, 0) AS sa_b,
                       COALESCE(nb_b, 0) AS nb_b,
                       COALESCE(sb_b, 0) AS sb_b
                FROM range(0, 32) r(b) LEFT JOIN cell ON cell.b = r.b),
              tot AS (
                SELECT SUM(na_b) AS na, SUM(sa_b) AS sa,
                       SUM(nb_b) AS nb, SUM(sb_b) AS sb
                FROM fl),
              loo AS (
                SELECT CAST(ROUND(
                         ((CAST(sb AS DOUBLE) - CAST(sb_b AS DOUBLE))
                           / (CAST(nb AS DOUBLE) - CAST(nb_b AS DOUBLE))
                         - (CAST(sa AS DOUBLE) - CAST(sa_b AS DOUBLE))
                           / (CAST(na AS DOUBLE) - CAST(na_b AS DOUBLE)))
                         * 1e9) AS HUGEINT) AS z
                FROM fl CROSS JOIN tot),
              zm AS (
                SELECT COUNT(*) AS nb2, SUM(z) AS sz, SUM(z * z) AS sz2
                FROM loo),
              fin AS (
                SELECT CAST(na AS BIGINT) AS n_a,
                       CAST(nb AS BIGINT) AS n_b,
                       CAST(nb2 AS BIGINT) AS n_blocks,
                       CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)
                         - CAST(sa AS DOUBLE) / CAST(na AS DOUBLE) AS th,
                       SQRT(GREATEST(0.0,
                         (CAST(nb2 AS DOUBLE) - 1) / CAST(nb2 AS DOUBLE)
                         * (CAST(sz2 AS DOUBLE)
                           - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                             / CAST(nb2 AS DOUBLE)) / 1e18)) AS se_raw
                FROM zm CROSS JOIN tot)
              SELECT n_a, n_b, n_blocks, ROUND(th, 6) AS theta,
                     ROUND(se_raw, 6) AS se,
                     ROUND(th - 1.959964 * se_raw, 6) AS lo,
                     ROUND(th + 1.959964 * se_raw, 6) AS hi
              FROM fin""")),

    // CLOSED-FORM 2-FEATURE OLS — predict a document's stored n_chars
    // from its space count and digit count: the quality-model fit a
    // curation pipeline runs to spot documents whose declared length
    // disagrees with their content shape. Exact integer moments, one
    // Cramer solve, R^2.
    Q("q250_ols2",
      (s, d) => ols2(t(s, d, "documents"), col("n_chars"),
        length(col("text")) - length(regexp_replace(col("text"), " ", "")),
        length(col("text"))
          - length(regexp_replace(col("text"), "[0-9]", ""))),
      Some("""WITH base AS (
                SELECT CAST(n_chars AS BIGINT) AS y,
                       CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', ''))
                         AS BIGINT) AS x1,
                       CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                         '[0-9]', '', 'g')) AS BIGINT) AS x2
                FROM documents
                WHERE n_chars IS NOT NULL AND text IS NOT NULL),
              m AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(x1) AS HUGEINT) AS sx1,
                       CAST(SUM(x2) AS HUGEINT) AS sx2,
                       CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
                       CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
                       CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
                       CAST(SUM(y) AS HUGEINT) AS sy,
                       CAST(SUM(x1 * y) AS HUGEINT) AS s1y,
                       CAST(SUM(x2 * y) AS HUGEINT) AS s2y,
                       CAST(SUM(y * y) AS HUGEINT) AS syy
                FROM base),
              co AS (
                SELECT CAST(n AS BIGINT) AS n_rows,
                       CAST(n AS DOUBLE) AS a11, CAST(sx1 AS DOUBLE) AS a12,
                       CAST(sx2 AS DOUBLE) AS a13, CAST(s11 AS DOUBLE) AS a22,
                       CAST(s12 AS DOUBLE) AS a23, CAST(s22 AS DOUBLE) AS a33,
                       CAST(sy AS DOUBLE) AS by, CAST(s1y AS DOUBLE) AS b1y,
                       CAST(s2y AS DOUBLE) AS b2y, CAST(syy AS DOUBLE) AS syy
                FROM m),
              k1 AS (
                SELECT *, a22 * a33 - a23 * a23 AS m1,
                       a12 * a33 - a23 * a13 AS m2,
                       a12 * a23 - a22 * a13 AS m3
                FROM co),
              k2 AS (
                SELECT *, a11 * m1 - a12 * m2 + a13 * m3 AS det FROM k1),
              k3 AS (
                SELECT *,
                       (by * m1 - a12 * (b1y * a33 - a23 * b2y)
                         + a13 * (b1y * a23 - a22 * b2y)) / det AS b0,
                       (a11 * (b1y * a33 - a23 * b2y) - by * m2
                         + a13 * (a12 * b2y - b1y * a13)) / det AS b1,
                       (a11 * (a22 * b2y - b1y * a23)
                         - a12 * (a12 * b2y - b1y * a13)
                         + by * m3) / det AS b2
                FROM k2),
              k4 AS (
                SELECT *, syy - (b0 * by + b1 * b1y + b2 * b2y) AS rss,
                       syy - by * by / a11 AS tss
                FROM k3)
              SELECT n_rows, ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1,
                     ROUND(b2, 6) AS b2,
                     ROUND(1.0 - rss / tss, 6) AS r2
              FROM k4""")),

    // BENJAMINI-HOCHBERG FDR — per-event-type A/B conversion z-tests
    // under the q242 arms, then the BH step-up at alpha=0.05 across
    // the m simultaneous tests. p-values via the shared closed-form
    // normal tail (A&S 7.1.26); the step-up gate compares e9-regridded
    // integers cross-multiplied (q210 rule).
    Q("q257_bh_fdr",
      (s, d) => bhFdr(t(s, d, "events")),
      Some("""WITH ua AS (
                SELECT CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                  || ':ab'), 1, 8) AS BIGINT) % 2 AS a
                FROM (SELECT DISTINCT user_id FROM events)),
              tot AS (
                SELECT CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na,
                       CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS nb
                FROM ua),
              cv AS (
                SELECT event_type,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS a
                FROM (SELECT DISTINCT event_type, user_id FROM events)),
              conv AS (
                SELECT event_type,
                       CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS xa,
                       CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS xb
                FROM cv GROUP BY 1),
              t1 AS (
                SELECT event_type, xa, xb,
                       CAST(na AS DOUBLE) AS nad, CAST(nb AS DOUBLE) AS nbd,
                       CAST(xa AS DOUBLE) AS xad, CAST(xb AS DOUBLE) AS xbd,
                       (CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE))
                         / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS pp
                FROM conv CROSS JOIN tot),
              t2 AS (
                SELECT *, SQRT(pp * (1.0 - pp)
                  * (1.0 / nad + 1.0 / nbd)) AS se
                FROM t1),
              t3 AS (
                SELECT *, CASE WHEN se > 0
                  THEN (xbd / nbd - xad / nad) / se ELSE 0.0 END AS z
                FROM t2),
              t4 AS (SELECT *, ABS(z) * 0.7071067811865476 AS x FROM t3),
              t5 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * x) AS t FROM t4),
              t6 AS (
                SELECT *, CASE WHEN se > 0 THEN
                  ((((1.061405429 * t - 1.453152027) * t + 1.421413741)
                    * t - 0.284496736) * t + 0.254829592) * t
                    * EXP(-x * x)
                  ELSE 1.0 END AS pv
                FROM t5),
              t7 AS (
                SELECT *, CAST(ROUND(pv * 1e9) AS BIGINT) AS p9 FROM t6),
              rk AS (
                SELECT *, CAST(COUNT(*) OVER () AS BIGINT) AS mm,
                       CAST(ROW_NUMBER() OVER (ORDER BY p9, event_type)
                         AS BIGINT) AS k
                FROM t7),
              km AS (
                SELECT *, MAX(CASE WHEN p9 * mm <= k * 50000000
                  THEN k ELSE 0 END) OVER () AS kmax
                FROM rk)
              SELECT event_type, CAST(xa AS BIGINT) AS x_a,
                     CAST(xb AS BIGINT) AS x_b,
                     ROUND(z, 4) AS z, ROUND(pv, 6) AS p_value,
                     k AS rank, k <= kmax AS significant
              FROM km ORDER BY rank""")),

    // ALWAYS-VALID SEQUENTIAL MONITOR — day-by-day mSPRT on purchase
    // conversion under the q242 arms (tau^2 = 0.01): cumulative
    // users/converters per arm, ln of the mixture likelihood ratio,
    // always-valid p (monotone running max), rejection at alpha=0.05
    // on the e9 integer grid.
    Q("q258_msprt",
      (s, d) => msprt(t(s, d, "events")),
      Some("""WITH per AS (
                SELECT user_id,
                       CAST(FLOOR(MIN(CAST(FLOOR(EPOCH(ts)) AS BIGINT))
                         / 86400.0) AS BIGINT) AS fd,
                       CAST(FLOOR(MIN(CASE WHEN event_type = 'purchase'
                         THEN CAST(FLOOR(EPOCH(ts)) AS BIGINT) END)
                         / 86400.0) AS BIGINT) AS pd
                FROM events GROUP BY 1),
              pa AS (
                SELECT fd, pd,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS a
                FROM per),
              du AS (
                SELECT fd AS day, a, CAST(COUNT(*) AS HUGEINT) AS du
                FROM pa GROUP BY 1, 2),
              dc AS (
                SELECT pd AS day, a, CAST(COUNT(*) AS HUGEINT) AS dc
                FROM pa WHERE pd IS NOT NULL GROUP BY 1, 2),
              inc0 AS (
                SELECT day, a, COALESCE(du, 0) AS du, COALESCE(dc, 0) AS dc
                FROM du FULL JOIN dc USING (day, a)),
              inc AS (
                SELECT day,
                       SUM(CASE WHEN a = 0 THEN du ELSE 0 END) AS dua,
                       SUM(CASE WHEN a = 1 THEN du ELSE 0 END) AS dub,
                       SUM(CASE WHEN a = 0 THEN dc ELSE 0 END) AS dca,
                       SUM(CASE WHEN a = 1 THEN dc ELSE 0 END) AS dcb
                FROM inc0 GROUP BY 1),
              cum AS (
                SELECT day,
                       SUM(dua) OVER w AS na, SUM(dub) OVER w AS nb,
                       SUM(dca) OVER w AS xa, SUM(dcb) OVER w AS xb
                FROM inc
                WINDOW w AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
              s1 AS (
                SELECT *, CAST(na AS DOUBLE) AS nad,
                       CAST(nb AS DOUBLE) AS nbd,
                       CAST(xa AS DOUBLE) AS xad,
                       CAST(xb AS DOUBLE) AS xbd,
                       CASE WHEN na > 0 AND nb > 0 THEN
                         (CAST(xa AS DOUBLE) + CAST(xb AS DOUBLE))
                           / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                       END AS pp
                FROM cum),
              s2 AS (
                SELECT *, pp * (1.0 - pp)
                         * (1.0 / nad + 1.0 / nbd) AS vv,
                       xbd / nbd - xad / nad AS dl
                FROM s1),
              s3 AS (
                SELECT *, CASE WHEN vv > 0 THEN
                         0.5 * LN(vv / (vv + 0.01))
                         + dl * dl * 0.01
                           / (2.0 * vv * (vv + 0.01))
                       ELSE 0.0 END AS lnl
                FROM s2),
              s4 AS (
                SELECT *, MAX(lnl) OVER (ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS mx
                FROM s3),
              s5 AS (SELECT *, LEAST(1.0, EXP(-mx)) AS pav FROM s4)
              SELECT CAST(day AS BIGINT) AS day,
                     CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                     CAST(xa AS BIGINT) AS x_a, CAST(xb AS BIGINT) AS x_b,
                     ROUND(lnl, 4) AS llr, ROUND(pav, 6) AS p_avs,
                     CAST(ROUND(pav * 1e9) AS BIGINT) <= 50000000
                       AS rejected
              FROM s5 ORDER BY day""")),

    // POWER / MDE SIZING — per event type, the minimum detectable
    // effect at 80% power / 5% alpha from exact per-user count
    // moments, plus users-per-arm to detect a 2% relative lift.
    Q("q259_power_mde",
      (s, d) => powerMde(t(s, d, "events")),
      Some("""WITH per AS (
                SELECT event_type, user_id, COUNT(*) AS c
                FROM events GROUP BY 1, 2),
              mom AS (
                SELECT event_type, CAST(SUM(c) AS HUGEINT) AS s1,
                       CAST(SUM(c * c) AS HUGEINT) AS s2
                FROM per GROUP BY 1),
              ua AS (
                SELECT CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                  || ':ab'), 1, 8) AS BIGINT) % 2 AS a
                FROM (SELECT DISTINCT user_id FROM events)),
              tot AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na,
                       CAST(SUM(CASE WHEN a = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS nb
                FROM ua),
              j AS (
                SELECT event_type, n,
                       CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
                       CAST(n AS DOUBLE) AS nd, CAST(na AS DOUBLE) AS nad,
                       CAST(nb AS DOUBLE) AS nbd
                FROM mom CROSS JOIN tot),
              k1 AS (
                SELECT *, s1d / nd AS mean,
                       CASE WHEN n > 1 THEN
                         (s2d - s1d * s1d / nd) / (nd - 1.0)
                       END AS vr
                FROM j),
              k2 AS (
                SELECT *, 2.801585 * SQRT(vr
                  * (1.0 / nad + 1.0 / nbd)) AS mde
                FROM k1)
              SELECT event_type, CAST(n AS BIGINT) AS n_users,
                     ROUND(mean, 6) AS mean, ROUND(SQRT(vr), 6) AS sd,
                     ROUND(mde, 6) AS mde_abs,
                     ROUND(mde / mean, 6) AS mde_rel,
                     CAST(CASE WHEN mean > 0 THEN
                       CEIL(2.0 * vr * 2.801585 * 2.801585
                         / (0.02 * mean * 0.02 * mean)) END AS BIGINT)
                       AS n_per_arm_2pct
              FROM k2 ORDER BY event_type""")),

    // KMV SET-OPERATION sketches (see [[kmvOverlap]]): per
    // return-flag pair, union/intersection/Jaccard ESTIMATES of the
    // ORDER sets from the k smallest md5 hashes of the union — the
    // mergeable-audience-overlap readout (q247's distinct sketch
    // extended to set algebra), every emitted number an exact integer
    // by the half-up cross-multiplied DIV rule. Return-flag order
    // sets overlap PARTIALLY and their unions dwarf k, so both the
    // estimator branch and nontrivial Jaccards are exercised (the
    // event-type user sets are fully overlapping at sf0.01 — a
    // vacuous calibration).
    Q("q271_kmv_overlap",
      (s, d) => kmvOverlap(t(s, d, "lineitem"), col("l_returnflag"),
        col("l_orderkey"), k = 256),
      Some("""WITH uh AS (
                SELECT DISTINCT t, CAST('0x' || SUBSTR(MD5(
                         CAST(kid AS VARCHAR) || ':kmv'), 1, 8)
                         AS BIGINT) AS h
                FROM (SELECT DISTINCT l_returnflag AS t,
                             l_orderkey AS kid
                      FROM lineitem)),
              tp AS (SELECT DISTINCT t FROM uh),
              prs AS (SELECT a.t AS ta, b.t AS tb
                      FROM tp a JOIN tp b ON a.t < b.t),
              un AS (
                SELECT p.ta, p.tb, u.h,
                       MAX(CASE WHEN u.t = p.ta THEN 1 ELSE 0 END)
                         AS in_a,
                       MAX(CASE WHEN u.t = p.tb THEN 1 ELSE 0 END)
                         AS in_b
                FROM prs p JOIN uh u ON u.t IN (p.ta, p.tb)
                GROUP BY 1, 2, 3),
              ex AS (
                SELECT ta, tb,
                       CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter_hash,
                       CAST(COUNT(*) AS BIGINT) AS n_union_hash
                FROM un GROUP BY 1, 2),
              rk AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY ta, tb
                         ORDER BY h) AS rn
                FROM un),
              km AS (
                SELECT ta, tb, MAX(h) AS hk,
                       CAST(SUM(in_a * in_b) AS BIGINT) AS n_both,
                       CAST(COUNT(*) AS BIGINT) AS k_used
                FROM rk WHERE rn <= 256 GROUP BY 1, 2),
              est AS (
                SELECT km.ta, km.tb, km.k_used, km.n_both,
                       ex.n_union_hash, ex.n_inter_hash,
                       CASE WHEN ex.n_union_hash > 256
                            THEN (2 * 255 * 4294967296 + hk)
                                 // (2 * hk)
                            ELSE ex.n_union_hash END AS est_union
                FROM km JOIN ex USING (ta, tb))
              SELECT ta AS type_a, tb AS type_b, k_used, n_both,
                     n_union_hash, n_inter_hash, est_union,
                     (2 * 1000000 * n_both + k_used) // (2 * k_used)
                       AS jacc_e6,
                     (2 * n_both * est_union + k_used) // (2 * k_used)
                       AS est_inter
              FROM est ORDER BY type_a, type_b""")))

  /** KMV set-operation sketches over per-group distinct-key sets:
    * for every group pair, the k smallest md5 hashes of the pair's
    * UNION carry enough to estimate union size ((k−1)·2³² / h_k),
    * Jaccard (the fraction of the k minima present in both sets — the
    * standard KMV intersection estimator), and intersection size
    * (Jaccard × est_union). md5-derived hashes keep the sketch
    * oracle-replayable (the q247 convention), and every emitted value
    * is an exact INTEGER via the half-up cross-multiplied DIV rule —
    * no ROUND-of-double in the hashed output. Exact hash-level
    * union/intersection counts ride along so the estimates' error is
    * inspectable without a second query.
    *
    * Scale shape: ONE distinct on (type, user) is the corpus-sized
    * work; each distinct hash is then replicated to the ≤|groups|−1
    * pairs its group joins (groups are a bounded vocabulary, the pair
    * frame is a broadcast artifact), one map-side-combined aggregate
    * per (pair, hash), and the k-min rank runs per pair — |pairs|
    * parallel sorts of per-pair union sizes (q247's per-group k-min
    * shape). At 100 TB the sketches would be persisted per source and
    * MERGED (k-min sets union mergeably); this query is the
    * calibration form that proves the estimator.
    */
  def kmvOverlap(df: DataFrame, grpCol: Column, keyCol: Column,
      k: Int = 256): DataFrame = {
    // three consumers replay this distinct (the two group-list sides
    // and the pair-tag join). A localCheckpoint here was MEASURED
    // SLOWER at the rel 10x rehearsal (5.4 -> 13.4 s despite halving
    // shuffle bytes) — deserialized materialization loses to the
    // codegen'd replay (SCALE.md r17, negative result).
    val uh = df.select(grpCol.as("t"), keyCol.as("kid"))
      .distinct()
      .select(col("t"), h32(col("kid"), ":kmv").as("h"))
      .distinct()
    val tp = uh.select(col("t")).distinct()
    val prs = tp.select(col("t").as("ta"))
      .join(tp.select(col("t").as("tb")), col("ta") < col("tb"))
    val un = uh
      .join(broadcast(prs),
        col("t") === col("ta") || col("t") === col("tb"))
      .groupBy(col("ta"), col("tb"), col("h"))
      .agg(max(when(col("t") === col("ta"), 1L).otherwise(0L)).as("in_a"),
        max(when(col("t") === col("tb"), 1L).otherwise(0L)).as("in_b"))
    val ex = un.groupBy(col("ta"), col("tb"))
      .agg(sum(col("in_a") * col("in_b")).as("n_inter_hash"),
        count(lit(1)).as("n_union_hash"))
    val w = Window.partitionBy(col("ta"), col("tb")).orderBy(col("h"))
    val km = un.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy(col("ta"), col("tb"))
      .agg(max(col("h")).as("hk"),
        sum(col("in_a") * col("in_b")).as("n_both"),
        count(lit(1)).as("k_used"))
    km.join(ex, Seq("ta", "tb"))
      .withColumn("est_union",
        when(col("n_union_hash") > k,
          expr(s"(2 * ${k - 1} * 4294967296 + hk) div (2 * hk)"))
          .otherwise(col("n_union_hash")))
      .select(col("ta").as("type_a"), col("tb").as("type_b"),
        col("k_used"), col("n_both"), col("n_union_hash"),
        col("n_inter_hash"), col("est_union"),
        expr("(2 * 1000000 * n_both + k_used) div (2 * k_used)")
          .as("jacc_e6"),
        expr("(2 * n_both * est_union + k_used) div (2 * k_used)")
          .as("est_inter"))
      .orderBy(col("type_a"), col("type_b"))
  }
}
