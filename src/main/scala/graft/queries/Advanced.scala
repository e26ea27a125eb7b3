package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.etl.{Dq, Writers}
import graft.plans.Cumulative

/** Analytic operators beyond the reference's surface that a complete
  * engine needs: rollup with grouping flags, lag/lead deltas, filtered
  * aggregates, correlated scalar subqueries (Catalyst decorrelation),
  * an as-of join, and a time-range join.
  *
  * The as-of join is composed the scale-correct Spark way: union both
  * sides, ONE shuffle by key, and a running `last(..., ignoreNulls)`
  * window — never a per-row range probe. Cost is a single sort per key
  * group regardless of how many events each order precedes.
  */
object Advanced {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  /** q176's body on any (user_id, event_type, ts, event_id) frame —
    * exposed so the spec can plant edge-case sequences. */
  def stateHistory(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val flagged = events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        when(lag(col("event_type"), 1).over(w).isNull ||
          lag(col("event_type"), 1).over(w) =!= col("event_type"), 1)
          .otherwise(0).as("chg"))
      .withColumn("island", sum(col("chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val runs = flagged
      .groupBy(col("user_id"), col("island"))
      .agg(first(col("event_type")).as("state"),
        min(col("ts")).as("vf"),
        count(lit(1)).as("n_events"))
    val wi = Window.partitionBy(col("user_id")).orderBy(col("vf"))
    runs
      .withColumn("vt", lead(col("vf"), 1).over(wi))
      .select(col("user_id"), col("state"),
        date_format(col("vf"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
        date_format(col("vt"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
        col("n_events"))
  }

  /** q224's body on any (user_id, event_type, ts, event_id) frame —
    * the POINT-IN-TIME lookup join (the feature-store staple): each
    * `probeType` event joins the state run (from the OTHER events'
    * q176-style gaps-and-islands history) valid AT its instant —
    * state = the latest non-probe event at-or-before (ts, event_id),
    * `since` = that run's start. Events before any state emit NULLs
    * (the cold-start contract; an outer "unknown" default is one
    * coalesce away).
    *
    * Scale shape: the correct distributed form of an interval
    * containment join — NO range join anywhere. Runs get their
    * valid_from via per-user windows over the state subset; then ONE
    * union of both streams rides ONE user-keyed window whose running
    * `last(state struct, ignoreNulls)` carries the open run onto every
    * probe row. Everything keys on user_id: one exchange carries the
    * whole plan, and a probe row costs O(1) state regardless of how
    * many intervals precede it (the naive per-probe interval probe is
    * a range join that explodes on hot users). Same-instant rule:
    * the global (ts, event_id) order decides — a state event with a
    * smaller event_id at the same timestamp is already visible.
    */
  def statePitJoin(events: DataFrame, probeType: String): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val states = events.filter(col("event_type") =!= probeType)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(wU).isNull ||
          lag(col("event_type"), 1).over(wU) =!= col("event_type"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("chg")).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("vf", min(col("ts")).over(
        Window.partitionBy(col("user_id"), col("island"))))
    val tagged = states
      .select(col("user_id"), col("ts"), col("event_id"),
        struct(col("event_type").as("state"), col("vf").as("since"))
          .as("dim"),
        lit(null).cast("long").as("probe_id"))
      .unionByName(events.filter(col("event_type") === probeType)
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(null).cast("struct<state:string,since:timestamp>").as("dim"),
          col("event_id").as("probe_id")))
    tagged
      .withColumn("cur", last(col("dim"), ignoreNulls = true).over(
        wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("probe_id").isNotNull)
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
        col("cur.state").as("state"),
        date_format(col("cur.since"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("since"))
      .orderBy(col("event_id"))
  }

  /** q208's fold on any (user_id, ts, event_id, value) frame —
    * exposed so TrendSpec can plant out-of-order and tied sequences. */
  def ewmaTrend(events: DataFrame, alpha: Double): DataFrame = {
    val seq = sort_array(collect_list(
      struct(col("ts"), col("event_id"), col("value"))))
    events
      .groupBy(col("user_id"))
      .agg(seq.as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        round(graft.functions.Fns.ewma(
          transform(col("seq"), x => x.getField("value")), alpha), 4)
          .as("ewma"))
      .orderBy(col("user_id"))
  }

  /** q226's fold on any (user_id, ts, event_id, value) frame — exposed
    * so TrendSpec can plant linear and constant streams. Forecast is
    * the 1-step Holt projection level + trend. */
  def holtTrend(events: DataFrame, alpha: Double, beta: Double): DataFrame = {
    val seq = sort_array(collect_list(
      struct(col("ts"), col("event_id"), col("value"))))
    events
      .groupBy(col("user_id"))
      .agg(seq.as("seq"))
      .select(col("user_id"),
        size(col("seq")).cast("long").as("n_events"),
        graft.functions.Fns.holt(
          transform(col("seq"), x => x.getField("value")), alpha, beta)
          .as("h"))
      .select(col("user_id"), col("n_events"),
        round(col("h.level"), 4).as("level"),
        round(col("h.trend"), 4).as("trend"),
        round(col("h.level") + col("h.trend"), 4).as("forecast"))
      .orderBy(col("user_id"))
  }

  /** q245's body — walk-forward one-step Holt backtest per user (see
    * [[graft.functions.HoltBacktest]]): MAE of the standing l+b
    * forecast vs the naive carry-forward, and the skill ratio
    * 1 − Σ|err|/Σ|naive err| (positive = Holt beats "tomorrow equals
    * today"; NULL when the naive error is zero — a constant series has
    * nothing to beat). The fold returns EXACT error sums; the two
    * divisions are the only float block, 4-dp rounded. Same collect
    * shape as q226 — per-user arrays bounded by the stream contract.
    */
  def holtBacktestReport(events: DataFrame, alpha: Double,
      beta: Double): DataFrame = {
    val seq = sort_array(collect_list(
      struct(col("ts"), col("event_id"), col("value"))))
    events
      .groupBy(col("user_id"))
      .agg(seq.as("seq"))
      .select(col("user_id"),
        graft.functions.Fns.holtBacktest(
          transform(col("seq"), x => x.getField("value")), alpha, beta)
          .as("bt"))
      .filter(col("bt.n_forecasts") >= 1)
      // NO rounding: both engines run the identical fold order, so the
      // raw doubles are bit-equal — rounding would INTRODUCE the
      // cross-engine boundary risk (Spark rounds via the shortest
      // decimal string, DuckDB arithmetically; an error sum landing on
      // an exact .xxxx5 splits them — observed on the testdata).
      .select(col("user_id"),
        col("bt.n_forecasts").as("n_forecasts"),
        (col("bt.sum_abs_err") / col("bt.n_forecasts")).as("mae"),
        (col("bt.naive_abs_err") / col("bt.n_forecasts")).as("naive_mae"),
        when(col("bt.naive_abs_err") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) -
            col("bt.sum_abs_err") / col("bt.naive_abs_err"))
          .as("skill"))
      .orderBy(col("user_id"))
  }

  /** q210's closed form on any (user_id, ts, value) frame — exposed so
    * TrendSpec can plant exactly-linear and zero-variance streams. */
  def userTrend(events: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    val wU = Window.partitionBy(col("user_id"))
    val e = events
      .select(col("user_id"),
        // ts may surface NTZ from parquet; the session is UTC, so the
        // cast is the same instant DuckDB's epoch_us reads
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").as("sec"),
        expr("CAST(ROUND(value * 10000) AS BIGINT)").as("y4"))
      .withColumn("x", col("sec") - min(col("sec")).over(wU))
    val a = e.groupBy(col("user_id"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y4").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("y4")).as("sxy"),
        sum(col("x").cast(dec) * col("x")).as("sxx"))
    a.select(col("user_id"),
        col("n").cast("long").as("n_events"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx"))
                .cast("double") /
              10000.0 * 86400.0, 6)).as("slope_per_day"))
      .orderBy(col("user_id"))
  }

  /** q211's body on any (user_id, ts, event_id, event_type) frame —
    * exposed so TrendSpec can plant cold/expired/tied conversions. */
  def lastTouchAttribution(events: DataFrame, conversion: String,
      lookbackDays: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = events
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("lt",
        last(when(col("event_type") =!= conversion,
          struct(col("us").as("us"), col("event_type").as("et"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === conversion)
      .select(when(col("lt").isNull ||
          col("us") - col("lt.us") >
            lit(lookbackDays.toLong * 86400 * 1000000L),
          "none").otherwise(col("lt.et")).as("src"))
    touched.groupBy(col("src"))
      .agg(count(lit(1)).as("n_purchases"))
      .crossJoin(broadcast(touched.agg(count(lit(1)).as("total"))))
      .select(col("src"), col("n_purchases"),
        round(col("n_purchases").cast("double") / col("total"), 4)
          .as("share"))
      .orderBy(col("src"))
  }

  /** q212's body on any (user_id, ts, event_id, event_type) frame. */
  def linearAttribution(events: DataFrame, conversion: String,
      lookbackDays: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("j",
        count(when(col("event_type") === conversion, 1)).over(w))
    val conv = e.filter(col("event_type") === conversion)
      .select(col("user_id"), col("j"), col("us").as("conv_us"))
    val tch = e.filter(col("event_type") =!= conversion)
      .select(col("user_id"), col("j"), col("event_type").as("src"),
        col("us"))
      .join(conv, Seq("user_id", "j"))
      .filter(col("conv_us") - col("us") <=
          lit(lookbackDays.toLong * 86400 * 1000000L) &&
        col("conv_us") - col("us") >= 0)
    val perJ = tch.groupBy(col("user_id"), col("j"), col("src"))
      .agg(count(lit(1)).as("k"))
      .withColumn("n",
        sum(col("k")).over(Window.partitionBy(col("user_id"), col("j"))))
    val typed = perJ.groupBy(col("src"))
      .agg(sum(expr("CAST(ROUND(CAST(k AS DOUBLE) / n * 1000000) AS BIGINT)"))
        .as("c6"))
    val none = conv
      .join(tch.select(col("user_id"), col("j")).distinct(),
        Seq("user_id", "j"), "left_anti")
      .agg((count(lit(1)) * lit(1000000L)).as("c6"))
      .select(lit("none").as("src"), col("c6"))
    typed.unionByName(none)
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("n_conv"))))
      .select(col("src"),
        round(col("c6") / 1000000.0, 4).as("credit"),
        round(col("c6") / 1000000.0 / col("n_conv"), 4).as("share"))
      .orderBy(col("src"))
  }

  /** q239's body — TIME-DECAY attribution, the third standard model
    * beside last-touch (q211) and linear (q212): a touch's credit
    * halves for every `halfLifeDays` of age at conversion time. The
    * weights are INTEGER POWERS OF TWO — w = 1 << (maxK −
    * age_days/halfLifeDays), both divisions integer-floor — so the
    * per-journey normalization is the exact same e6-rounded integer
    * credit arithmetic as q212: no float pow anywhere, bit-identical
    * across engines and aggregation orders. Same journey framing as
    * q212 (j = prior-conversion count), same lookback gate, same
    * "none" bucket for journeys with no touch in window.
    */
  def timeDecayAttribution(events: DataFrame, conversion: String,
      lookbackDays: Int, halfLifeDays: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("j",
        count(when(col("event_type") === conversion, 1)).over(w))
    val conv = e.filter(col("event_type") === conversion)
      .select(col("user_id"), col("j"), col("us").as("conv_us"))
    val maxK = lookbackDays / halfLifeDays + 1
    val tch = e.filter(col("event_type") =!= conversion)
      .select(col("user_id"), col("j"), col("event_type").as("src"),
        col("us"))
      .join(conv, Seq("user_id", "j"))
      .filter(col("conv_us") - col("us") <=
          lit(lookbackDays.toLong * 86400 * 1000000L) &&
        col("conv_us") - col("us") >= 0)
      // age in WHOLE days, halvings in WHOLE half-lives — both
      // integer-floor divisions (div, not /: Column./ is double)
      .withColumn("wgt", expr(s"shiftleft(CAST(1 AS BIGINT), " +
        s"$maxK - CAST((conv_us - us) div 86400000000 " +
        s"div $halfLifeDays AS INT))"))
    val perJ = tch.groupBy(col("user_id"), col("j"), col("src"))
      .agg(sum(col("wgt")).as("kw"))
      .withColumn("n",
        sum(col("kw")).over(Window.partitionBy(col("user_id"), col("j"))))
    val typed = perJ.groupBy(col("src"))
      .agg(sum(expr("CAST(ROUND(CAST(kw AS DOUBLE) / n * 1000000) AS BIGINT)"))
        .as("c6"))
    val none = conv
      .join(tch.select(col("user_id"), col("j")).distinct(),
        Seq("user_id", "j"), "left_anti")
      .agg((count(lit(1)) * lit(1000000L)).as("c6"))
      .select(lit("none").as("src"), col("c6"))
    typed.unionByName(none)
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("n_conv"))))
      .select(col("src"),
        round(col("c6") / 1000000.0, 4).as("credit"),
        round(col("c6") / 1000000.0 / col("n_conv"), 4).as("share"))
      .orderBy(col("src"))
  }

  /** q240's body — POSITION-BASED (U-shaped 40/20/40) attribution, the
    * fourth standard model: first touch 40%, last touch 40%, the
    * middle 20% split evenly. Credits are e6 integers assigned per
    * touch BY POSITION (row_number over the journey's (ts, event_id)
    * order): n=1 → 1e6, n=2 → 5e5 each, else 4e5/4e5 ends +
    * round(2e5/(n−2)) middles — the only division is over the
    * journey's own touch count (positive half-up rounding, identical
    * in both engines). Per-journey windows are bounded by the
    * journey's touch count, never population-sized.
    */
  def positionAttribution(events: DataFrame, conversion: String,
      lookbackDays: Int): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val e = events
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .withColumn("j",
        count(when(col("event_type") === conversion, 1)).over(w))
    val conv = e.filter(col("event_type") === conversion)
      .select(col("user_id"), col("j"), col("us").as("conv_us"))
    val jw = Window.partitionBy(col("user_id"), col("j"))
    val tch = e.filter(col("event_type") =!= conversion)
      .select(col("user_id"), col("j"), col("event_type").as("src"),
        col("us"), col("event_id"))
      .join(conv, Seq("user_id", "j"))
      .filter(col("conv_us") - col("us") <=
          lit(lookbackDays.toLong * 86400 * 1000000L) &&
        col("conv_us") - col("us") >= 0)
      .withColumn("pos",
        row_number().over(jw.orderBy(col("us"), col("event_id"))))
      .withColumn("n", count(lit(1)).over(jw))
    val credited = tch.withColumn("c6",
      when(col("n") === 1, lit(1000000L))
        .when(col("n") === 2, lit(500000L))
        .when(col("pos") === 1 || col("pos") === col("n"), lit(400000L))
        .otherwise(expr(
          "CAST(ROUND(200000.0 / (n - 2)) AS BIGINT)")))
    val typed = credited.groupBy(col("src"))
      .agg(sum(col("c6")).as("c6"))
    val none = conv
      .join(tch.select(col("user_id"), col("j")).distinct(),
        Seq("user_id", "j"), "left_anti")
      .agg((count(lit(1)) * lit(1000000L)).as("c6"))
      .select(lit("none").as("src"), col("c6"))
    typed.unionByName(none)
      .crossJoin(broadcast(conv.agg(count(lit(1)).as("n_conv"))))
      .select(col("src"),
        round(col("c6") / 1000000.0, 4).as("credit"),
        round(col("c6") / 1000000.0 / col("n_conv"), 4).as("share"))
      .orderBy(col("src"))
  }

  /** q242's body — deterministic A/B experiment readout: users are
    * assigned to arms by the house md5 bucket (q59/q67 addressing,
    * ":ab" salt decorrelates from the split/mixture hashes — any
    * engine, any run, any subset assigns identically, which is what
    * makes an experiment re-readable), success = ≥1 `conversion`
    * event, and the two-proportion z-test runs on EXACT integer
    * counts. Two exchanges total: the per-user any-conversion
    * aggregate and the 4-counter global fold. Every hashed output is
    * an INTEGER (the q210/q257 discipline — r15's `ROUND(double, n)`
    * emission was the one cross-engine-unstable operation in the
    * repo and shipped a driver-red row): rates as exact half-up e6
    * micros by integer division, z on the e9 grid, and the
    * significance boolean derived from the e9 integer alone so both
    * engines gate on the identical value.
    */
  def abTest(events: DataFrame, conversion: String): DataFrame = {
    val per = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === conversion, 1).otherwise(0))
        .as("converted"))
      .select(col("converted"), Stats.arm(col("user_id")).as("arm"))
    val counts = per.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).as("n_a"),
      sum(when(col("arm") === 1, 1).otherwise(0)).as("n_b"),
      sum(when(col("arm") === 0, col("converted")).otherwise(0))
        .as("conv_a"),
      sum(when(col("arm") === 1, col("converted")).otherwise(0))
        .as("conv_b"))
    zFromCounts(counts)
  }

  /** The q242 readout from a 1-row (n_a, n_b, conv_a, conv_b) counts
    * frame — shared with the always-on monitor
    * ([[graft.streaming.StreamingAb]]), so a streaming alert
    * reproduces verbatim from the same counts.
    *
    * Output discipline (r16): `rate_a_e6`/`rate_b_e6` are EXACT
    * half-up micros by long division — no float touches them.
    * `z_e9` is the one float block (identical association in the
    * oracle SQL), regridded to an e9 long; a degenerate design
    * (empty arm, or pooled rate 0/1 ⇒ se = 0) yields z_e9 = 0
    * rather than a NaN whose rendering is engine-specific (the
    * r15 sf0.01 red: every user converted, so pool = 1).
    * `significant` compares the e9 INTEGER against 1_960_000_000
    * (the q210 rule) — no second rounding, no double in the gate,
    * and z exactly 1.96 on the grid is NOT significant in both
    * engines by the same strict inequality. */
  def zFromCounts(counts: DataFrame): DataFrame = {
    val zE9 = expr(
      """CASE WHEN n_a > 0 AND n_b > 0
           AND conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b
         THEN CAST(ROUND(
           ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
            / SQRT((CAST(conv_a + conv_b AS DOUBLE)
                    / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                   * (1.0 / CAST(n_a AS DOUBLE)
                      + 1.0 / CAST(n_b AS DOUBLE))))
           * 1e9) AS BIGINT)
         ELSE 0L END""")
    counts.select(col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      expr("COALESCE((2000000 * conv_a + n_a) DIV NULLIF(2 * n_a, 0), 0)")
        .as("rate_a_e6"),
      expr("COALESCE((2000000 * conv_b + n_b) DIV NULLIF(2 * n_b, 0), 0)")
        .as("rate_b_e6"),
      zE9.as("z_e9"),
      (abs(zE9) > lit(1960000000L)).as("significant"))
  }

  /** q243's body — CUPED variance reduction (Deng et al. 2013) over
    * the q242 experiment frame: per user, X = pre-period conversion
    * count (the covariate), Y = post-period conversion count (the
    * metric), arms from the same ":ab" md5 bucket. θ = cov(X,Y)/var(X)
    * pooled over all users, the adjusted effect is
    * (mean Y − θ·(mean X − mean X_pooled)) differenced across arms,
    * and the variance-reduction factor is ρ² — ALL of it computed from
    * seven exact DECIMAL(38,0) sums (n, Σx, Σy, Σxy, Σxx, Σyy per the
    * [[graft.queries.Frontier.pearsonExact]] discipline, plus the
    * per-arm triples) with one float block at the end, 6-dp rounded.
    * Two exchanges: the per-user pre/post aggregate and the global
    * fold. var(X) = 0 yields NULL θ (no covariate signal), keeping
    * the raw difference as the answer.
    */
  def cuped(events: DataFrame, conversion: String,
      boundary: String): DataFrame = {
    val dec = "decimal(38,0)"
    val per = events.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === conversion &&
          col("ts") < lit(boundary), 1).otherwise(0)).as("x"),
        sum(when(col("event_type") === conversion &&
          col("ts") >= lit(boundary), 1).otherwise(0)).as("y"))
      .select(col("x").cast(dec).as("x"), col("y").cast(dec).as("y"),
        Stats.arm(col("user_id")).as("arm"))
    val g = per.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("arm") === 0, 1).otherwise(0)).cast(dec).as("na"),
      sum(when(col("arm") === 0, col("x")).otherwise(0)).as("sxa"),
      sum(when(col("arm") === 0, col("y")).otherwise(0)).as("sya"),
      sum(when(col("arm") === 1, 1).otherwise(0)).cast(dec).as("nb"),
      sum(when(col("arm") === 1, col("x")).otherwise(0)).as("sxb"),
      sum(when(col("arm") === 1, col("y")).otherwise(0)).as("syb"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    val dxy = col("n") * col("sxy") - col("sx") * col("sy")
    val theta = when(dxx === 0, lit(null).cast("double"))
      .otherwise(dxy.cast("double") / dxx.cast("double"))
    val meanX = col("sx").cast("double") / col("n").cast("double")
    def m(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    val diffRaw = m("syb", "nb") - m("sya", "na")
    val adjA = m("sya", "na") -
      coalesce(theta, lit(0.0)) * (m("sxa", "na") - meanX)
    val adjB = m("syb", "nb") -
      coalesce(theta, lit(0.0)) * (m("sxb", "nb") - meanX)
    val rho2 = when(dxx === 0 || dyy === 0, lit(0.0))
      .otherwise((dxy.cast("double") * dxy.cast("double")) /
        (dxx.cast("double") * dyy.cast("double")))
    g.select(
      col("n").cast("long").as("n_users"),
      round(theta, 6).as("theta"),
      round(diffRaw, 6).as("diff_raw"),
      round(adjB - adjA, 6).as("diff_cuped"),
      round(rho2, 6).as("var_reduction"))
  }

  def defs: Seq[Q] = Seq(
    // ROLLUP with grouping() disambiguation (subtotal rows vs real null).
    Q("q39_rollup",
      (s, d) =>
        t(s, d, "orders")
          // grouping() must reference an attribute, not an inline alias
          .withColumn("yraw", year(col("o_orderdate")))
          .rollup(col("yraw"))
          .agg(count(lit(1)).as("n"),
            grouping(col("yraw")).cast("int").as("g"))
          .select(coalesce(col("yraw"), lit(-1)).cast("int").as("y"),
            col("g"), col("n"))
          .orderBy(col("y"), col("g")),
      Some("""SELECT COALESCE(CAST(YEAR(o_orderdate) AS INT), -1) AS y,
                     CAST(GROUPING(YEAR(o_orderdate)) AS INT) AS g,
                     COUNT(*) AS n
              FROM orders GROUP BY ROLLUP(YEAR(o_orderdate))
              ORDER BY y, g""")),

    // LAG with default: per-customer order-to-order price delta.
    Q("q40_lag_delta",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, d, "orders")
          .select(col("o_orderkey"),
            round(col("o_totalprice") - lag(col("o_totalprice"), 1, 0.0).over(w), 2)
              .as("diff"))
          .orderBy(col("o_orderkey"))
          .limit(200)
      },
      Some("""SELECT o_orderkey,
                     ROUND(o_totalprice - LAG(o_totalprice, 1, 0.0)
                           OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey), 2) AS diff
              FROM orders ORDER BY o_orderkey LIMIT 200""")),

    // Filtered aggregate (conditional count) per group.
    Q("q44_filtered_agg",
      (s, d) =>
        t(s, d, "orders")
          .groupBy(col("o_orderstatus"))
          .agg(
            count(when(col("o_totalprice") > 100000, 1)).as("big"),
            count(lit(1)).as("n"))
          .orderBy(col("o_orderstatus")),
      Some("""SELECT o_orderstatus,
                     COUNT(*) FILTER (WHERE o_totalprice > 100000) AS big,
                     COUNT(*) AS n
              FROM orders GROUP BY 1 ORDER BY 1""")),

    // Correlated scalar subquery -> Catalyst decorrelates to an
    // aggregate + left outer join (no per-row execution).
    Q("q45_scalar_subquery",
      (s, d) =>
        Engine.sql(s, d,
          """SELECT c_custkey,
                    (SELECT MAX(o_totalprice) FROM orders o
                     WHERE o.o_custkey = c.c_custkey) AS mx
             FROM customer c ORDER BY c_custkey LIMIT 100"""),
      Some("""SELECT c_custkey,
                     (SELECT MAX(o_totalprice) FROM orders o
                      WHERE o.o_custkey = c.c_custkey) AS mx
              FROM customer c ORDER BY c_custkey LIMIT 100""")),

    // As-of join: latest order date at or before each event, per user.
    // Union + single key shuffle + running last(ignoreNulls) — the
    // composition that survives 100 TB (no range probe, no explosion).
    Q("q46_asof_join",
      (s, d) => {
        val events = t(s, d, "events").select(
          col("user_id").as("k"), col("ts").cast("timestamp").as("t"),
          col("event_id"), lit(1).as("is_event"))
        val orders = t(s, d, "orders").select(
          col("o_custkey").as("k"), col("o_orderdate").cast("timestamp").as("t"),
          lit(null).cast("long").as("event_id"), lit(0).as("is_event"))
        // orders sort before events at the same instant (<= semantics)
        val w = Window.partitionBy(col("k"))
          .orderBy(col("t"), col("is_event"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events.unionByName(orders)
          .withColumn("asof_t",
            last(when(col("is_event") === 0, col("t")), ignoreNulls = true).over(w))
          .filter(col("is_event") === 1)
          .select(col("event_id"),
            date_format(col("asof_t"), "yyyy-MM-dd").as("asof"))
          .orderBy(col("event_id"))
          .limit(200)
      },
      Some("""SELECT event_id,
                     (SELECT STRFTIME(MAX(o_orderdate), '%Y-%m-%d') FROM orders o
                      WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts) AS asof
              FROM events e ORDER BY event_id LIMIT 200""")),

    // CUBE with per-dimension grouping flags (all 4 subtotal levels).
    Q("q41_cube",
      (s, d) =>
        t(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            grouping(col("o_orderstatus")).cast("int").as("gs"),
            grouping(col("o_orderpriority")).cast("int").as("gp"))
          .select(
            coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
            col("gs"), col("gp"), col("n"))
          .orderBy(col("status"), col("prio"), col("gs"), col("gp")),
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
                     COALESCE(o_orderpriority, 'ALL') AS prio,
                     CAST(GROUPING(o_orderstatus) AS INT) AS gs,
                     CAST(GROUPING(o_orderpriority) AS INT) AS gp,
                     COUNT(*) AS n
              FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
              ORDER BY status, prio, gs, gp""")),

    // Exact interpolated percentiles per group (Spark `percentile` and
    // DuckDB `quantile_cont` both interpolate at (n-1)*p — identical
    // values, unlike approx_percentile which is sketch-based).
    Q("q42_percentile",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
            round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
                     ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
                     ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50,
                     ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75
              FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Gap-based sessionization: a >30-minute silence starts a new
    // session. One shuffle by user, two window passes over the same
    // sort (lag -> flag, running sum -> session id) — the batch form of
    // the streaming session-window operator.
    Q("q43_sessionize",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSess = when(
          lag(col("ts"), 1).over(w).isNull ||
            col("ts") > lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTE"),
          1).otherwise(0)
        t(s, d, "events")
          .withColumn("ns", newSess)
          .withColumn("sess", sum(col("ns")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"))
          .agg(max(col("sess")).cast("long").as("n_sessions"),
            count(lit(1)).as("n_events"))
          .orderBy(col("user_id"))
      },
      Some("""WITH flagged AS (
                SELECT user_id,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              SELECT user_id,
                     CAST(SUM(ns) AS BIGINT) AS n_sessions,
                     COUNT(*) AS n_events
              FROM flagged GROUP BY user_id ORDER BY user_id""")),

    // TOP SESSION PATHS — the path-analysis readout one order up from
    // q160's first-order transition matrix: the most common ordered
    // event-type sequences (first 5 events) of gap-sessionized visits.
    // Same user-bounded windows as q43 (shared exchange, no skew: a
    // session prefix is ≤ 5 rows), path strings are ≤ 5 short tokens,
    // the final count groups on |distinct paths| keys with a
    // TakeOrdered finish.
    Q("q170_session_paths",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val newSess = when(
          lag(col("ts"), 1).over(w).isNull ||
            col("ts") > lag(col("ts"), 1).over(w) + expr("INTERVAL 30 MINUTE"),
          1).otherwise(0)
        val wSess = Window.partitionBy(col("user_id"), col("sess"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("ns", newSess)
          .withColumn("sess", sum(col("ns")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("rn", row_number().over(wSess))
          .filter(col("rn") <= 5)
          .groupBy(col("user_id"), col("sess"))
          .agg(concat_ws(">",
            transform(
              sort_array(collect_list(struct(col("rn"), col("event_type")))),
              x => x.getField("event_type"))).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""WITH flagged AS (
                SELECT user_id, event_id, ts, event_type,
                       CASE WHEN LAG(ts) OVER w IS NULL
                              OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS ns
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              sess AS (
                SELECT user_id, event_id, ts, event_type,
                       SUM(ns) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
                FROM flagged),
              ranked AS (
                SELECT user_id, sess, event_type,
                       ROW_NUMBER() OVER (PARTITION BY user_id, sess
                         ORDER BY ts, event_id) AS rn
                FROM sess),
              paths AS (
                SELECT user_id, sess,
                       STRING_AGG(event_type, '>' ORDER BY rn) AS path
                FROM ranked WHERE rn <= 5 GROUP BY user_id, sess)
              SELECT path, COUNT(*) AS n
              FROM paths GROUP BY path
              ORDER BY n DESC, path LIMIT 20""")),

    // PIVOT: order counts per year x status (explicit value list so the
    // output schema is static — the only pivot shape that scales, since
    // an inferred value list needs an extra pass over the data).
    Q("q48_pivot",
      (s, d) =>
        t(s, d, "orders")
          .withColumn("y", year(col("o_orderdate")).cast("int"))
          .groupBy(col("y"))
          .pivot("o_orderstatus", Seq("F", "O", "P"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("F", "O", "P"))
          .select(col("y"), col("F").as("n_f"), col("O").as("n_o"),
            col("P").as("n_p"))
          .orderBy(col("y")),
      Some("""SELECT CAST(YEAR(o_orderdate) AS INT) AS y,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                     COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
              FROM orders GROUP BY 1 ORDER BY 1""")),

    // Semi-structured JSON column: parse events.props with an explicit
    // schema (from_json — codegen'd Jackson parse, no UDF) and aggregate
    // the extracted field. At scale the parse is a map-side projection;
    // only the small per-type aggregate shuffles.
    Q("q51_json_extract",
      (s, d) =>
        t(s, d, "events")
          .select(col("event_type"),
            from_json(col("props"),
              org.apache.spark.sql.types.StructType.fromDDL("k INT"))
              .getField("k").as("k"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("k")).cast("long").as("sum_k"),
            max(col("k")).as("max_k"))
          .orderBy(col("event_type")),
      Some("""SELECT event_type, COUNT(*) AS n,
                     CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
                     MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
              FROM events GROUP BY 1 ORDER BY 1""")),

    // Equal-width histogram over a fixed range: pure arithmetic bucket
    // id + hash aggregate — the scalable form of distribution analysis
    // (no global sort, unlike ntile).
    Q("q52_histogram",
      (s, d) => {
        val lo = 800.0; val hi = 600000.0; val nb = 10
        val bucket = least(lit(nb - 1),
          greatest(lit(0),
            floor((col("o_totalprice") - lo) / ((hi - lo) / nb)).cast("int")))
        t(s, d, "orders")
          .select(bucket.as("bucket"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("bucket"))
      },
      Some("""SELECT LEAST(9, GREATEST(0,
                       CAST(FLOOR((o_totalprice - 800.0) / 59920.0) AS INT))) AS bucket,
                     COUNT(*) AS n
              FROM orders GROUP BY 1 ORDER BY 1""")),

    // Correlation / covariance aggregates per group (rounded — the
    // co-moment accumulation order differs across engines in the last
    // ulps).
    Q("q53_corr",
      (s, d) =>
        t(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("r"),
            round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cv"))
          .orderBy(col("l_returnflag")),
      Some("""SELECT l_returnflag,
                     ROUND(CORR(l_quantity, l_extendedprice), 4) AS r,
                     ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 2) AS cv
              FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // Time-range self join: same-user event pairs within one hour.
    Q("q47_range_join",
      (s, d) => {
        val e = t(s, d, "events")
        val a = e.select(col("user_id").as("k"), col("ts").as("ta"))
        val b = e.select(col("user_id").as("k"), col("ts").as("tb"))
        a.join(b,
          a("k") === b("k") && col("ta") < col("tb") &&
            col("tb") <= col("ta") + expr("INTERVAL 1 HOUR"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT COUNT(*) AS n FROM events a JOIN events b
              ON a.user_id = b.user_id AND a.ts < b.ts
             AND b.ts <= a.ts + INTERVAL 1 HOUR""")),

    // FUNNEL analysis: strictly-ordered first-occurrence chaining
    // (view -> click after it -> purchase after that) — the product-
    // analytics staple. Each stage is one user-keyed min-aggregate over
    // the filtered event stream joined to the previous stage's
    // timestamps (per-user groups bounded by that user's events; the
    // stage tables shrink monotonically). No windows over the full
    // stream, no per-row range probes.
    Q("q150_funnel",
      (s, d) => {
        val ev = t(s, d, "events")
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        val total = ev.agg(countDistinct(col("user_id")).as("n_users"))
        val c1 = s1.agg(count(lit(1)).as("n_view"))
        val c2 = s2.agg(count(lit(1)).as("n_click"))
        val c3 = s3.agg(count(lit(1)).as("n_purchase"))
        total.crossJoin(broadcast(c1)).crossJoin(broadcast(c2))
          .crossJoin(broadcast(c3))
          .select(col("n_users"), col("n_view"), col("n_click"),
            col("n_purchase"),
            round(col("n_click").cast("double") / col("n_view"), 4)
              .as("conv_click"),
            round(col("n_purchase").cast("double") / col("n_click"), 4)
              .as("conv_purchase"))
      },
      Some("""WITH s1 AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
              s2 AS (
                SELECT e.user_id, MIN(ts) AS t2 FROM events e
                JOIN s1 USING (user_id)
                WHERE event_type = 'click' AND ts > t1 GROUP BY 1),
              s3 AS (
                SELECT e.user_id, MIN(ts) AS t3 FROM events e
                JOIN s2 USING (user_id)
                WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1)
              SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
                     (SELECT COUNT(*) FROM s1) AS n_view,
                     (SELECT COUNT(*) FROM s2) AS n_click,
                     (SELECT COUNT(*) FROM s3) AS n_purchase,
                     ROUND((SELECT COUNT(*) FROM s2) / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE), 4) AS conv_click,
                     ROUND((SELECT COUNT(*) FROM s3) / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE), 4) AS conv_purchase""")),

    // COHORT RETENTION: users grouped by first-activity week, counted
    // in each later week they were active — the engagement matrix. One
    // distinct (user, week) projection; the cohort assignment is a
    // user-keyed min; offsets are integer-exact (trunc'd weeks differ
    // by day multiples of 7). Weeks render as strings (date-vs-
    // timestamp rendering differs across engines).
    Q("q151_cohort_retention",
      (s, d) => {
        val ev = t(s, d, "events")
        val weeks = ev.select(col("user_id"),
          date_trunc("week", col("ts")).as("w")).distinct()
        val cohort = weeks.groupBy(col("user_id"))
          .agg(min(col("w")).as("cw"))
        val sizes = cohort.groupBy(col("cw"))
          .agg(count(lit(1)).as("cohort_n"))
        weeks.join(cohort, "user_id")
          .select(col("cw"), expr("datediff(w, cw) div 7").as("week_offset"),
            col("user_id"))
          .groupBy(col("cw"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
          .join(broadcast(sizes), "cw")
          .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
            col("week_offset").cast("int").as("week_offset"),
            col("cohort_n"), col("n_active"),
            round(col("n_active").cast("double") / col("cohort_n"), 4)
              .as("retention"))
          .orderBy(col("cohort_week"), col("week_offset"))
      },
      Some("""WITH weeks AS (
                SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS w
                FROM events),
              cohort AS (
                SELECT user_id, MIN(w) AS cw FROM weeks GROUP BY 1),
              sizes AS (
                SELECT cw, COUNT(*) AS cohort_n FROM cohort GROUP BY 1)
              SELECT STRFTIME(a.cw, '%Y-%m-%d') AS cohort_week,
                     CAST(DATE_DIFF('day', a.cw, w.w) // 7 AS INT) AS week_offset,
                     sizes.cohort_n,
                     COUNT(*) AS n_active,
                     ROUND(COUNT(*) / CAST(sizes.cohort_n AS DOUBLE), 4) AS retention
              FROM weeks w
              JOIN cohort a USING (user_id)
              JOIN sizes ON sizes.cw = a.cw
              GROUP BY a.cw, week_offset, sizes.cohort_n
              ORDER BY cohort_week, week_offset""")),

    // Telemetry DUPLICATE-SUPPRESSION report: events repeating the same
    // (user, type) within 5 seconds of the PREVIOUS raw event are
    // duplicate clicks/retries — the dedup every event pipeline runs at
    // ingest. Lag rule on the user+type-bounded window (the standard
    // SQL idiom; chained duplicates each compare to their immediate
    // predecessor), |types| output rows. Same user-keyed exchange
    // discipline as the q43 family — no skew, window groups are
    // per-user-per-type.
    Q("q171_event_dedup",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("event_type"),
            (unix_timestamp(col("ts")) -
              lag(unix_timestamp(col("ts")), 1).over(w) <= 5)
              .as("dup"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("dup"), 1L).otherwise(0L)).as("n_suppressed"))
          .select(col("event_type"), col("n_events"), col("n_suppressed"),
            round(col("n_suppressed").cast("double") / col("n_events"), 4)
              .as("suppress_ratio"))
          .orderBy(col("event_type"))
      },
      Some("""WITH s AS (
                SELECT event_type,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER w AS gap
                FROM events
                WINDOW w AS (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id))
              SELECT event_type,
                     COUNT(*) AS n_events,
                     CAST(SUM(CASE WHEN gap <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_suppressed,
                     ROUND(SUM(CASE WHEN gap <= 5 THEN 1 ELSE 0 END)
                           / CAST(COUNT(*) AS DOUBLE), 4) AS suppress_ratio
              FROM s GROUP BY event_type ORDER BY event_type""")),

    // Weekly CHURN — the retention complement q151 doesn't report:
    // of the users active in week w, how many do NOT return in w+1.
    // Computed on the distinct (user, week) grid; the "returns next
    // week" probe is one anti join of the grid against itself shifted
    // 7 days; the last observed week is excluded (its next week is
    // unobservable, not churned).
    Q("q172_weekly_churn",
      (s, d) => {
        val weeks = t(s, d, "events")
          .select(col("user_id"), date_trunc("week", col("ts")).as("w"))
          .distinct()
        val nxt = weeks.select(col("user_id"),
          (col("w") - expr("INTERVAL 7 DAYS")).as("w"))
        val churned = weeks.join(nxt, Seq("user_id", "w"), "left_anti")
          .groupBy(col("w")).agg(count(lit(1)).as("n_churned"))
        val active = weeks.groupBy(col("w")).agg(count(lit(1)).as("n_active"))
        val last = weeks.agg(max(col("w")).as("wmax"))
        active.join(churned, Seq("w"), "left")
          .crossJoin(broadcast(last))
          .filter(col("w") < col("wmax"))
          .select(date_format(col("w"), "yyyy-MM-dd").as("week"),
            col("n_active"),
            coalesce(col("n_churned"), lit(0L)).as("n_churned"),
            round(coalesce(col("n_churned"), lit(0L)).cast("double")
              / col("n_active"), 4).as("churn_rate"))
          .orderBy(col("week"))
      },
      Some("""WITH weeks AS (
                SELECT DISTINCT user_id, DATE_TRUNC('week', ts) AS w
                FROM events),
              churned AS (
                SELECT a.w, COUNT(*) AS n_churned
                FROM weeks a
                WHERE NOT EXISTS (
                  SELECT 1 FROM weeks b
                  WHERE b.user_id = a.user_id
                    AND b.w = a.w + INTERVAL 7 DAY)
                GROUP BY a.w),
              active AS (
                SELECT w, COUNT(*) AS n_active FROM weeks GROUP BY w)
              SELECT STRFTIME(active.w, '%Y-%m-%d') AS week,
                     n_active,
                     CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned,
                     ROUND(COALESCE(n_churned, 0)
                           / CAST(n_active AS DOUBLE), 4) AS churn_rate
              FROM active LEFT JOIN churned USING (w)
              WHERE active.w < (SELECT MAX(w) FROM weeks)
              ORDER BY week""")),

    // EQUI-DEPTH histogram (the profiler complement to q52's equi-width
    // buckets): 8 buckets with VALUE-PINNED boundaries — thr_i is the
    // smallest price whose cumulative count satisfies 8·cum ≥ i·n, the
    // q102/q144 integer rule, ties landing low. The cumulative pass
    // runs on the VALUE GRID through Cumulative on ~60 price blocks, so
    // near-unique value columns can't funnel one task. The 7
    // thresholds fold into one broadcast array and bucket assignment is
    // a map-side HOF.
    Q("q153_equidepth_histogram",
      (s, d) => Dq.equidepthHistogram(t(s, d, "orders"), "o_totalprice",
        nb = 8, blockWidth = 10000),
      Some("""WITH grid AS (
                SELECT o_totalprice AS v, COUNT(*) AS cnt
                FROM orders GROUP BY 1),
              nn AS (SELECT SUM(cnt) AS n FROM grid),
              cum AS (
                SELECT v, SUM(cnt) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM grid),
              th AS (
                SELECT i, MIN(v) AS thr
                FROM cum CROSS JOIN nn
                CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (7)) AS t(i)
                WHERE cum * 8 >= i * n GROUP BY i),
              ta AS (SELECT LIST(thr ORDER BY thr) AS ts FROM th)
              SELECT CAST(LEN(list_filter(ts, x -> x < o_totalprice)) + 1 AS INT) AS bucket,
                     COUNT(*) AS n,
                     MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
              FROM orders CROSS JOIN ta GROUP BY 1 ORDER BY 1""")),

    // FORWARD as-of with tolerance: each event's user's NEXT order date
    // STRICTLY after the event, null past 7 days — q46's union+window
    // trick mirrored forward (orders sort before events at equal t, so
    // a 1-FOLLOWING window is exactly the strict > semantics; one
    // shuffle by key, no per-row range probe).
    Q("q154_asof_forward",
      (s, d) => {
        val events = t(s, d, "events").select(
          col("user_id").as("k"), col("ts").cast("timestamp").as("t"),
          col("event_id"), lit(1).as("is_event"))
        val orders = t(s, d, "orders").select(
          col("o_custkey").as("k"),
          col("o_orderdate").cast("timestamp").as("t"),
          lit(null).cast("long").as("event_id"), lit(0).as("is_event"))
        val w = Window.partitionBy(col("k"))
          .orderBy(col("t"), col("is_event"))
          .rowsBetween(1, Window.unboundedFollowing)
        events.unionByName(orders)
          .withColumn("next_t",
            first(when(col("is_event") === 0, col("t")), ignoreNulls = true)
              .over(w))
          .filter(col("is_event") === 1)
          .select(col("event_id"),
            date_format(
              when(col("next_t") <= col("t") + expr("INTERVAL 7 DAYS"),
                col("next_t")),
              "yyyy-MM-dd").as("next_order"))
          .orderBy(col("event_id"))
          .limit(200)
      },
      Some("""SELECT event_id,
                     (SELECT STRFTIME(MIN(o_orderdate), '%Y-%m-%d') FROM orders o
                      WHERE o.o_custkey = e.user_id AND o.o_orderdate > e.ts
                        AND o.o_orderdate <= e.ts + INTERVAL 7 DAY) AS next_order
              FROM events e ORDER BY event_id LIMIT 200""")),

    // GAP-FILL / resample: per-(user, event_type) weekly counts with
    // missing weeks emitted as explicit zeros — the time-series
    // densification every downstream charting/model join needs (a LEFT
    // join against a generated scaffold; absent-week rows simply don't
    // exist upstream, q24 can't express them). The scaffold is
    // output-sized by construction: distinct keys × the bounded
    // sequence of weeks (broadcast); the count join lands on the same
    // keys. The sf0.01 grid has 27 genuine zero cells.
    Q("q155_gapfill",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id") < 10)
          .select(col("user_id"), col("event_type"),
            date_trunc("week", col("ts")).as("w"))
        val counts = ev.groupBy(col("user_id"), col("event_type"), col("w"))
          .agg(count(lit(1)).as("n"))
        val weeks = ev.agg(min(col("w")).as("lo"), max(col("w")).as("hi"))
          .select(explode(expr("sequence(lo, hi, interval 7 days)")).as("w"))
        val keys = ev.select(col("user_id"), col("event_type")).distinct()
        keys.crossJoin(broadcast(weeks))
          .join(counts, Seq("user_id", "event_type", "w"), "left")
          .select(col("user_id"), col("event_type"),
            date_format(col("w"), "yyyy-MM-dd").as("week"),
            coalesce(col("n"), lit(0L)).as("n"))
          .orderBy(col("user_id"), col("event_type"), col("week"))
      },
      Some("""WITH e AS (
                SELECT user_id, event_type, DATE_TRUNC('week', ts) AS w
                FROM events WHERE user_id < 10),
              c AS (
                SELECT user_id, event_type, w, COUNT(*) AS n
                FROM e GROUP BY 1, 2, 3),
              r AS (SELECT MIN(w) AS lo, MAX(w) AS hi FROM e),
              wk AS (
                SELECT UNNEST(generate_series(lo, hi, INTERVAL 7 DAY)) AS w
                FROM r),
              k AS (SELECT DISTINCT user_id, event_type FROM e)
              SELECT k.user_id, k.event_type,
                     STRFTIME(wk.w, '%Y-%m-%d') AS week,
                     CAST(COALESCE(n, 0) AS BIGINT) AS n
              FROM k CROSS JOIN wk
              LEFT JOIN c ON c.user_id = k.user_id
                         AND c.event_type = k.event_type AND c.w = wk.w
              ORDER BY k.user_id, k.event_type, week""")),

    // Trailing TIME-RANGE moving average (RANGE frame, not ROWS): per
    // user, the mean event value over the trailing hour INCLUDING the
    // current event — the frame every rate/load monitor wants and a
    // ROWS frame can't express (rows-per-hour varies). Sums accumulate
    // in DECIMAL (the q21/q58 discipline) so the incremental
    // add/remove frame evaluation is exact, then ONE double division —
    // cross-engine float drift cannot enter. Window groups are bounded
    // per user.
    Q("q158_moving_avg",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("sec"))
          .rangeBetween(-3600L, 0L)
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            unix_timestamp(col("ts")).as("sec"),
            col("value").cast("decimal(18,6)").as("v"))
          .select(col("event_id"),
            round((sum(col("v")).over(w).cast("double") /
              count(lit(1)).over(w)), 4).as("avg_1h"))
          .orderBy(col("event_id"))
          .limit(200)
      },
      Some("""SELECT event_id,
                     ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
                           / COUNT(*) OVER w, 4) AS avg_1h
              FROM events
              WINDOW w AS (PARTITION BY user_id
                           ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                           RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
              ORDER BY event_id LIMIT 200""")),

    // SPEARMAN rank correlation per group (the monotone-association
    // complement to q53's Pearson — outlier-robust, catches nonlinear
    // monotone relations). Average tie ranks come off the VALUE GRID,
    // never a per-row window: rank(v) = cum-below + (ties+1)/2 — but
    // the grid of a CONTINUOUS column (price) is near row-cardinality
    // and the group key has only 3 values, so the cum-below is a
    // Cumulative per group on value blocks of `blockW`. Exact integer
    // arithmetic throughout + one double step; two grid joins pair the
    // ranks and one Pearson aggregate (rounded, the q53 convention)
    // finishes.
    Q("q159_spearman",
      (s, d) => {
        def avgRanks(rows: DataFrame, vcol: String, blockW: Int,
            out: String): DataFrame = {
          val grid = rows.groupBy(col("g"), col(vcol).as("v"))
            .agg(count(lit(1)).as("cnt"))
          Cumulative.running(
              grid.withColumn("blk", floor(col("v") / blockW).cast("long")),
              Seq("g"), "blk", Seq(col("v")), col("cnt"), Cumulative.Sum,
              inclusive = false, "below")
            .select(col("g"), col("v").as(vcol),
              (col("below") + (col("cnt") + 1) / 2.0).as(out))
        }
        val rows = t(s, d, "lineitem").select(col("l_returnflag").as("g"),
          col("l_quantity").as("x"), col("l_extendedprice").as("y"))
        rows
          .join(avgRanks(rows, "x", 5, "rx"), Seq("g", "x"))
          .join(avgRanks(rows, "y", 1000, "ry"), Seq("g", "y"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"),
            round(corr(col("rx"), col("ry")), 4).as("spearman"))
          .orderBy(col("g"))
      },
      Some("""WITH r AS (
                SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
                FROM lineitem),
              gx AS (SELECT g, x, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
              rx AS (
                SELECT g, x,
                       COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY x
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         + (cnt + 1) / 2.0 AS rx
                FROM gx),
              gy AS (SELECT g, y, COUNT(*) AS cnt FROM r GROUP BY 1, 2),
              ry AS (
                SELECT g, y,
                       COALESCE(SUM(cnt) OVER (PARTITION BY g ORDER BY y
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         + (cnt + 1) / 2.0 AS ry
                FROM gy)
              SELECT g, COUNT(*) AS n, ROUND(CORR(rx, ry), 4) AS spearman
              FROM r JOIN rx USING (g, x) JOIN ry USING (g, y)
              GROUP BY g ORDER BY g""")),

    // Event-type TRANSITION MATRIX (first-order Markov): P(next | cur)
    // from per-user event sequences — the navigation-flow readout.
    // One lead() per user-bounded window, one |types|²-key aggregate;
    // probabilities divide two exact counts.
    Q("q160_transition_matrix",
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("user_id"), col("event_type").as("cur"),
            lead(col("event_type"), 1).over(w).as("nxt"))
          .filter(col("nxt").isNotNull)
          .groupBy(col("cur"), col("nxt"))
          .agg(count(lit(1)).as("n"))
          .withColumn("p", round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy(col("cur"))), 4))
          .orderBy(col("cur"), col("nxt"))
      },
      Some("""WITH seq AS (
                SELECT event_type AS cur,
                       LEAD(event_type, 1) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS nxt
                FROM events),
              c AS (
                SELECT cur, nxt, COUNT(*) AS n FROM seq
                WHERE nxt IS NOT NULL GROUP BY 1, 2)
              SELECT cur, nxt, n,
                     ROUND(n / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE), 4) AS p
              FROM c ORDER BY cur, nxt""")),

    // BENFORD first-digit audit — the fabricated-data / unit-mixing
    // smell test finance and data-quality teams run on any value
    // column: observed leading-digit shares vs Benford's log10(1+1/d).
    // One 9-key aggregate; expected shares are literals.
    Q("q161_benford",
      (s, d) =>
        t(s, d, "orders")
          .select(substring(col("o_totalprice").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .filter(col("digit").between(1, 9))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .withColumn("share", round(col("n").cast("double") /
            sum(col("n")).over(Window.partitionBy()), 4))
          .withColumn("benford",
            round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
          .orderBy(col("digit")),
      Some("""WITH d AS (
                SELECT CAST(SUBSTR(CAST(o_totalprice AS VARCHAR), 1, 1) AS INT) AS digit
                FROM orders),
              c AS (
                SELECT digit, COUNT(*) AS n FROM d
                WHERE digit BETWEEN 1 AND 9 GROUP BY 1)
              SELECT digit, n,
                     ROUND(n / CAST(SUM(n) OVER () AS DOUBLE), 4) AS share,
                     ROUND(LOG10(1.0 + 1.0 / digit), 4) AS benford
              FROM c ORDER BY digit""")),

    // TPC-H Q3 shape: top-10 unshipped-order revenue — the classic
    // 3-table join + aggregate + TakeOrdered; the dim side (filtered
    // customers) broadcasts, lineitem never shuffles before the
    // revenue aggregate's partial combine.
    Q("q162_tpch_q3",
      (s, d) => {
        val cust = t(s, d, "customer")
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") < lit("1995-03-15"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        val li = t(s, d, "lineitem")
          .filter(col("l_shipdate") > lit("1995-03-15"))
          .select(col("l_orderkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("rev"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), Seq("c_custkey").map(c =>
            col("o_custkey") === col("c_custkey")).head)
          .groupBy(col("l_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))
          .agg(round(sum(col("rev")), 2).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey,
                     STRFTIME(o_orderdate, '%Y-%m-%d') AS o_date,
                     ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
              FROM lineitem
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < DATE '1995-03-15'
                AND l_shipdate > DATE '1995-03-15'
              GROUP BY l_orderkey, o_orderdate
              ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    // NULL-COMPLETENESS profile — the first data-quality report any
    // table gets: per column, row/null counts and the 4-dp null rate.
    // One map-side pass (sums of null flags), |columns| output rows.
    Q("q163_null_profile",
      (s, d) => Dq.nullProfile(t(s, d, "lineitem")),
      Some("""WITH n AS (SELECT COUNT(*) AS n_rows FROM lineitem),
              c AS (
                SELECT 'l_orderkey' AS col_name, CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null FROM lineitem
                UNION ALL SELECT 'l_partkey', CAST(SUM(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_suppkey', CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_linenumber', CAST(SUM(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_quantity', CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_extendedprice', CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_discount', CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_tax', CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_returnflag', CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_linestatus', CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
                UNION ALL SELECT 'l_shipdate', CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem)
              SELECT col_name, n_rows, n_null,
                     ROUND(n_null / CAST(n_rows AS DOUBLE), 4) AS null_rate
              FROM c CROSS JOIN n ORDER BY col_name""")),

    // PRIMARY-KEY uniqueness audit — constraint validation for a store
    // with no enforced constraints: per declared key, distinct-key and
    // violating-key counts. Map-side-combined aggregates on the key.
    Q("q164_pk_audit",
      (s, d) =>
        Dq.pkAudit(t(s, d, "orders"), "orders", Seq("o_orderkey"))
          .unionByName(
            Dq.pkAudit(t(s, d, "customer"), "customer", Seq("c_custkey")))
          .unionByName(Dq.pkAudit(t(s, d, "lineitem"), "lineitem",
            Seq("l_orderkey", "l_linenumber")))
          .orderBy(col("tbl")),
      Some("""SELECT * FROM (
                SELECT 'orders' AS tbl, 'o_orderkey' AS pk,
                       CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
                       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys
                FROM (SELECT o_orderkey, COUNT(*) AS cnt FROM orders GROUP BY 1)
                UNION ALL
                SELECT 'customer', 'c_custkey',
                       CAST(SUM(cnt) AS BIGINT), COUNT(*),
                       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                FROM (SELECT c_custkey, COUNT(*) AS cnt FROM customer GROUP BY 1)
                UNION ALL
                SELECT 'lineitem', 'l_orderkey,l_linenumber',
                       CAST(SUM(cnt) AS BIGINT), COUNT(*),
                       CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
                FROM (SELECT l_orderkey, l_linenumber, COUNT(*) AS cnt
                      FROM lineitem GROUP BY 1, 2))
              ORDER BY tbl""")),

    // SCD TYPE-2 STATE HISTORY build — turn an append-only event stream
    // into validity intervals: per user, consecutive runs of the same
    // event_type collapse to one row with [valid_from, valid_to) and the
    // run's event count; the live (latest) state has valid_to NULL. The
    // warehouse sibling of the latest-wins SCD1 upsert (Writers.upsert):
    // SCD1 keeps only current state, this keeps the full change history.
    //
    // Shape: gaps-and-islands — a lag-change flag, a running sum to
    // label islands, one aggregate per island, and a lead for the
    // interval close. All four steps window/group on user_id, so the
    // whole plan rides ONE user-keyed exchange (sorts reuse it); group
    // sizes are bounded by per-user event density, the q150/q160
    // convention (rehearsed flat at 10x density in SCALE.md).
    // Timestamps render as micro-precision strings (engine-neutral
    // hashing — the date_format/STRFTIME convention the as-of and
    // cohort queries use for dates, widened to '%f' micros here).
    Q("q176_state_history",
      (s, d) => stateHistory(t(s, d, "events"))
        .orderBy(col("user_id"), col("valid_from")),
      Some("""WITH r AS (
                SELECT user_id, event_type, ts,
                       CASE WHEN LAG(event_type) OVER w IS NULL
                              OR LAG(event_type) OVER w <> event_type
                            THEN 1 ELSE 0 END AS chg,
                       ROW_NUMBER() OVER w AS rn
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              i AS (
                SELECT user_id, event_type, ts,
                       SUM(chg) OVER (PARTITION BY user_id ORDER BY rn) AS island
                FROM r),
              g AS (
                SELECT user_id, island, MIN(event_type) AS state,
                       MIN(ts) AS vf, COUNT(*) AS n_events
                FROM i GROUP BY 1, 2)
              SELECT user_id, state,
                     STRFTIME(vf, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
                     STRFTIME(LEAD(vf) OVER (PARTITION BY user_id ORDER BY vf),
                              '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
                     n_events
              FROM g ORDER BY user_id, valid_from""")),

    // ROW-LEVEL snapshot diff (CDC) — the read-side audit of the SCD1
    // upsert: which keys were added, removed, or changed (and WHICH
    // columns) between two versions of a keyed table. The two versions
    // here are derived deterministically from orders (key%7 deletions /
    // key%11 insertions / +1 price on key%5) so both engines diff the
    // exact same snapshots; the operator itself (Dq.snapshotDiff) takes
    // any two frames + key, and `dq diff-rows` runs it on stored dirs.
    // One full-outer key join; per-column <=> flags ride map-side above
    // it; the unchanged bulk is filtered before any materialization.
    Q("q179_snapshot_diff",
      (s, d) => {
        val orders = t(s, d, "orders")
        val oldSnap = orders.filter(col("o_orderkey") % 7 =!= 0)
        val newSnap = orders.filter(col("o_orderkey") % 11 =!= 0)
          .withColumn("o_totalprice",
            when(col("o_orderkey") % 5 === 0, col("o_totalprice") + 1)
              .otherwise(col("o_totalprice")))
        Dq.snapshotDiff(oldSnap, newSnap, Seq("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH old_s AS (
                SELECT * FROM orders WHERE o_orderkey % 7 <> 0),
              new_s AS (
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1
                            ELSE o_totalprice END AS o_totalprice,
                       o_orderdate, o_orderpriority
                FROM orders WHERE o_orderkey % 11 <> 0),
              j AS (
                SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
                       CASE WHEN a.o_orderkey IS NULL THEN 'added'
                            WHEN b.o_orderkey IS NULL THEN 'removed'
                            ELSE 'changed' END AS change,
                       CASE WHEN a.o_orderkey IS NOT NULL
                             AND b.o_orderkey IS NOT NULL THEN
                         CONCAT_WS(',',
                           CASE WHEN a.o_custkey IS DISTINCT FROM b.o_custkey THEN 'o_custkey' END,
                           CASE WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus THEN 'o_orderstatus' END,
                           CASE WHEN a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'o_totalprice' END,
                           CASE WHEN a.o_orderdate IS DISTINCT FROM b.o_orderdate THEN 'o_orderdate' END,
                           CASE WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority THEN 'o_orderpriority' END)
                       ELSE '' END AS changed_cols
                FROM old_s a FULL OUTER JOIN new_s b USING (o_orderkey))
              SELECT o_orderkey, change, changed_cols FROM j
              WHERE change <> 'changed' OR changed_cols <> ''
              ORDER BY o_orderkey""")),

    // K-ANONYMITY audit over customer with quasi-identifiers
    // (nation, segment, account-balance band): the equivalence-class
    // size histogram, classes under k=5 flagged re-identifiable. The
    // band keeps the quasi space realistic (a raw balance is itself an
    // identifier; banded it behaves like ZIP-prefix generalization).
    Q("q182_k_anonymity",
      (s, d) => Dq.kAnonymity(
        t(s, d, "customer")
          .select(col("c_nationkey"), col("c_mktsegment"),
            floor(col("c_acctbal") / 1000).as("bal_band")),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 5)
        .orderBy(col("group_size")),
      Some("""WITH g AS (
                SELECT c_nationkey, c_mktsegment,
                       FLOOR(c_acctbal / 1000) AS bal_band,
                       COUNT(*) AS group_size
                FROM customer GROUP BY 1, 2, 3)
              SELECT group_size, COUNT(*) AS n_groups,
                     CAST(SUM(group_size) AS BIGINT) AS n_rows,
                     group_size < 5 AS risky
              FROM g GROUP BY group_size
              ORDER BY group_size""")),

    // EVENT-RATE SPIKE detection — hourly event counts per type scored
    // against their own trailing 24 activity-hours: the volume-anomaly
    // monitor ops runs on every ingest stream. The z-score is computed
    // from EXACT integer window sums (sum, sum of squares — the q144
    // discipline: never a float aggregate whose fold order engines can
    // disagree on), one float expression at the end, rounded 4 dp.
    // Frames are ROWS over activity hours (silent hours are absent
    // rows, not zeros — the gap-fill view is q155's job), full-frame
    // rows only, zero-variance frames excluded. Windows partition on
    // event_type: |types| bounded groups of |hours| rows each.
    Q("q183_event_spikes",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            floor(unix_timestamp(col("ts")) / 3600).as("hr"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
          .rowsBetween(-24, -1)
        hourly
          .select(col("event_type"), col("hr"), col("n"),
            sum(col("n")).over(w).as("s1"),
            sum(col("n") * col("n")).over(w).as("s2"),
            count(col("n")).over(w).as("m"))
          .filter(col("m") === 24)
          .withColumn("mu", col("s1").cast("double") / 24.0)
          .withColumn("varr",
            (col("s2").cast("double") - col("s1").cast("double") *
              col("s1").cast("double") / 24.0) / 24.0)
          .filter(col("varr") > 0)
          .withColumn("z", (col("n").cast("double") - col("mu")) /
            sqrt(col("varr")))
          .filter(abs(col("z")) >= 2)
          .select(col("event_type"), col("hr"), col("n"),
            round(col("mu"), 4).as("mu"), round(col("z"), 4).as("z"))
          .orderBy(col("event_type"), col("hr"))
      },
      Some("""WITH hourly AS (
                SELECT event_type,
                       FLOOR(CAST(FLOOR(EPOCH(ts)) AS BIGINT) / 3600) AS hr,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2),
              win AS (
                SELECT event_type, hr, n,
                       SUM(n) OVER w AS s1, SUM(n * n) OVER w AS s2,
                       COUNT(n) OVER w AS m
                FROM hourly
                WINDOW w AS (PARTITION BY event_type ORDER BY hr
                             ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
              scored AS (
                SELECT event_type, hr, n,
                       CAST(s1 AS DOUBLE) / 24.0 AS mu,
                       (CAST(s2 AS DOUBLE)
                         - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 24.0)
                         / 24.0 AS varr
                FROM win WHERE m = 24)
              SELECT event_type, CAST(hr AS BIGINT) AS hr, n,
                     ROUND(mu, 4) AS mu,
                     ROUND((CAST(n AS DOUBLE) - mu) / SQRT(varr), 4) AS z
              FROM scored
              WHERE varr > 0
                AND ABS((CAST(n AS DOUBLE) - mu) / SQRT(varr)) >= 2
              ORDER BY event_type, hr""")),

    // KEY-CONCENTRATION audit — the pre-join skew check: per declared
    // column, distinct-key count, the hottest key's share, and the
    // Herfindahl index Σ(n_k/N)² (1/distinct for uniform keys, →1 as
    // one key dominates). All from integer count aggregates (n_k², N²
    // exact), ONE shuffle per column on the key, O(1) output — no
    // ranking pass, which is what makes it affordable where a top-k
    // report isn't. The number that predicts whether a join on this
    // key needs the salted path (etl/Skew).
    Q("q184_key_concentration",
      (s, d) => {
        def conc(df: DataFrame, c: String): DataFrame =
          df.groupBy(col(c)).agg(count(lit(1)).as("nk"))
            .agg(count(lit(1)).as("n_keys"),
              sum(col("nk")).as("n_rows"),
              max(col("nk")).as("max_n"),
              sum(col("nk") * col("nk")).as("sumsq"))
            .select(lit(c).as("col_name"), col("n_keys"), col("n_rows"),
              round(col("max_n").cast("double") / col("n_rows"), 6)
                .as("max_share"),
              round(col("sumsq").cast("double") /
                (col("n_rows") * col("n_rows")), 6).as("hhi"))
        val li = t(s, d, "lineitem")
        conc(li, "l_orderkey")
          .unionByName(conc(li, "l_suppkey"))
          .unionByName(conc(t(s, d, "events"), "user_id"))
          .orderBy(col("col_name"))
      },
      Some("""WITH c1 AS (SELECT l_orderkey AS k, COUNT(*) AS nk
                          FROM lineitem GROUP BY 1),
              c2 AS (SELECT l_suppkey AS k, COUNT(*) AS nk
                     FROM lineitem GROUP BY 1),
              c3 AS (SELECT user_id AS k, COUNT(*) AS nk
                     FROM events GROUP BY 1),
              s AS (
                SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_keys,
                       CAST(SUM(nk) AS BIGINT) AS n_rows,
                       MAX(nk) AS max_n, SUM(nk * nk) AS sumsq FROM c1
                UNION ALL
                SELECT 'l_suppkey', COUNT(*), CAST(SUM(nk) AS BIGINT),
                       MAX(nk), SUM(nk * nk) FROM c2
                UNION ALL
                SELECT 'user_id', COUNT(*), CAST(SUM(nk) AS BIGINT),
                       MAX(nk), SUM(nk * nk) FROM c3)
              SELECT col_name, n_keys, n_rows,
                     ROUND(CAST(max_n AS DOUBLE) / n_rows, 6) AS max_share,
                     ROUND(CAST(sumsq AS DOUBLE) /
                       (CAST(n_rows AS DOUBLE) * n_rows), 6) AS hhi
              FROM s ORDER BY col_name""")),

    // DIFFERENTIAL-PRIVACY Laplace mechanism over released counts
    // (Dwork et al. 2006): per-nation customer counts + Laplace(Δ/ε)
    // noise, Δ=1 (one person moves one count), ε=1 → b=1. The noise
    // draw inverts the Laplace CDF on an md5-derived uniform (the
    // q59/q178 addressing rule), so the release is REPRODUCIBLE and
    // oracle-checkable — which also means this registers the
    // MECHANISM'S PLUMBING (sensitivity accounting, calibration, the
    // count rewrite), not a privacy guarantee: a deterministic seed
    // leaks; a deployment swaps the md5 uniform for a secure RNG (the
    // decodeStub convention). Map-side noise on an O(|nations|)
    // aggregate; the governance sibling of q182's k-anonymity.
    Q("q185_dp_noise",
      (s, d) => {
        val v = conv(substring(md5(concat(col("c_nationkey").cast("string"),
          lit(":dp"))), 1, 8), 16, 10).cast("long")
        val u = (v.cast("double") + lit(0.5)) / lit(4294967296.0)
        t(s, d, "customer")
          .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n"))
          .withColumn("noise",
            -signum(u - 0.5) * log(lit(1.0) - lit(2.0) * abs(u - 0.5)))
          .select(col("c_nationkey"), col("n"),
            round(col("n") + col("noise"), 4).as("n_noisy"))
          .orderBy(col("c_nationkey"))
      },
      Some("""WITH c AS (
                SELECT c_nationkey, COUNT(*) AS n
                FROM customer GROUP BY 1),
              u AS (
                SELECT c_nationkey, n,
                       (CAST('0x' || SUBSTR(MD5(CAST(c_nationkey AS VARCHAR)
                          || ':dp'), 1, 8) AS BIGINT) + 0.5)
                         / 4294967296.0 AS u
                FROM c)
              SELECT c_nationkey, n,
                     ROUND(n + (-SIGN(u - 0.5) * LN(1.0 - 2.0 * ABS(u - 0.5))), 4)
                       AS n_noisy
              FROM u ORDER BY c_nationkey""")),

    // CUMULATIVE DISTINCT USERS — the growth-curve staple ("how many
    // users have we EVER seen, by day"). A naive per-day COUNT(DISTINCT
    // user) over a growing window is quadratic; the scale shape is
    // first-seen reduction: one user-keyed min-date aggregate, a
    // |days|-row daily count, and a running sum over the BOUNDED day
    // grid (the q161 bounded-window convention — days, not rows).
    Q("q188_cumulative_users",
      (s, d) => {
        val daily = t(s, d, "events")
          .groupBy(col("user_id")).agg(min(to_date(col("ts"))).as("d"))
          .groupBy(col("d")).agg(count(lit(1)).as("new_users"))
        daily
          .withColumn("cum_users",
            sum(col("new_users")).over(Window.orderBy(col("d"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
            col("new_users"), col("cum_users"))
          .orderBy(col("day"))
      },
      Some("""WITH fs AS (
                SELECT user_id, MIN(CAST(ts AS DATE)) AS d
                FROM events GROUP BY 1),
              daily AS (SELECT d, COUNT(*) AS new_users FROM fs GROUP BY 1)
              SELECT STRFTIME(d, '%Y-%m-%d') AS day, new_users,
                     CAST(SUM(new_users) OVER (ORDER BY d
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
              FROM daily ORDER BY day""")),

    // REFERENTIAL-INTEGRITY audit — orphan foreign keys across the
    // schema's declared relationships: the constraint check a store
    // with no enforced constraints needs before anyone trusts a join.
    // Each relation is ONE left-anti join on the key (the plan a
    // NOT-EXISTS decorrelates to anyway) + a count; output is
    // |relations| rows. The dq-pack sibling of q164's intra-table key
    // audit, across tables.
    Q("q189_ri_audit",
      (s, d) => {
        def orphans(child: DataFrame, fk: String, parent: DataFrame,
            pk: String, rel: String): DataFrame = {
          val n = child.agg(count(lit(1)).as("n_child"))
          val o = child.join(parent.select(col(pk).as(fk)), Seq(fk),
            "left_anti").agg(count(lit(1)).as("n_orphan"))
          n.crossJoin(o).select(lit(rel).as("relation"), col("n_child"),
            col("n_orphan"))
        }
        orphans(t(s, d, "lineitem"), "l_orderkey", t(s, d, "orders"),
          "o_orderkey", "lineitem->orders")
          .unionByName(orphans(t(s, d, "orders"), "o_custkey",
            t(s, d, "customer"), "c_custkey", "orders->customer"))
          .unionByName(orphans(t(s, d, "customer"), "c_nationkey",
            t(s, d, "nation"), "n_nationkey", "customer->nation"))
          .unionByName(orphans(t(s, d, "lineitem"), "l_partkey",
            t(s, d, "part"), "p_partkey", "lineitem->part"))
          .unionByName(orphans(t(s, d, "lineitem"), "l_suppkey",
            t(s, d, "supplier"), "s_suppkey", "lineitem->supplier"))
          .orderBy(col("relation"))
      },
      Some("""SELECT * FROM (
                SELECT 'lineitem->orders' AS relation,
                       (SELECT COUNT(*) FROM lineitem) AS n_child,
                       (SELECT COUNT(*) FROM lineitem l
                        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_orderkey = l.l_orderkey)) AS n_orphan
                UNION ALL
                SELECT 'orders->customer',
                       (SELECT COUNT(*) FROM orders),
                       (SELECT COUNT(*) FROM orders o
                        WHERE NOT EXISTS (SELECT 1 FROM customer c
                          WHERE c.c_custkey = o.o_custkey))
                UNION ALL
                SELECT 'customer->nation',
                       (SELECT COUNT(*) FROM customer),
                       (SELECT COUNT(*) FROM customer c
                        WHERE NOT EXISTS (SELECT 1 FROM nation n
                          WHERE n.n_nationkey = c.c_nationkey))
                UNION ALL
                SELECT 'lineitem->part',
                       (SELECT COUNT(*) FROM lineitem),
                       (SELECT COUNT(*) FROM lineitem l
                        WHERE NOT EXISTS (SELECT 1 FROM part p
                          WHERE p.p_partkey = l.l_partkey))
                UNION ALL
                SELECT 'lineitem->supplier',
                       (SELECT COUNT(*) FROM lineitem),
                       (SELECT COUNT(*) FROM lineitem l
                        WHERE NOT EXISTS (SELECT 1 FROM supplier s
                          WHERE s.s_suppkey = l.l_suppkey)))
              ORDER BY relation""")),

    // INTER-ARRIVAL GAP PERCENTILES (p50/p90/p99 seconds between a
    // user's consecutive events of each type) — the latency-SLO readout
    // ops watches. Percentiles are VALUE-PINNED integers (smallest gap
    // with 100·cum >= p·n, ties low — the q102/q153 rule: no float
    // interpolation for engines to disagree on). The cumulative is a
    // Cumulative per event type on hour-width gap blocks, so a
    // near-unique second-resolution gap grid never sorts in one task.
    Q("q191_gap_percentiles",
      (s, d) => {
        val wg = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val gaps = t(s, d, "events")
          .select(col("event_type"),
            (unix_timestamp(col("ts")) -
              lag(unix_timestamp(col("ts")), 1).over(wg)).as("gap"))
          .filter(col("gap").isNotNull)
        val cum = Cumulative.running(
          gaps.groupBy(col("event_type"), col("gap"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("blk", floor(col("gap") / 3600).cast("long")),
          Seq("event_type"), "blk", Seq(col("gap")), col("cnt"),
          Cumulative.Sum, inclusive = true, "cum")
        val n = gaps.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        val ps = s.createDataFrame(Seq(Tuple1(50), Tuple1(90), Tuple1(99)))
          .toDF("p")
        cum.join(n, Seq("event_type"))
          .crossJoin(broadcast(ps))
          .filter(col("cum") * 100 >= col("p") * col("n"))
          .groupBy(col("event_type"), col("p"))
          .agg(min(col("gap")).as("gap_s"))
          .orderBy(col("event_type"), col("p"))
      },
      Some("""WITH g AS (
                SELECT event_type,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                         - LAG(CAST(FLOOR(EPOCH(ts)) AS BIGINT)) OVER (
                             PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS gap
                FROM events),
              g2 AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
              grid AS (SELECT event_type, gap, COUNT(*) AS cnt
                       FROM g2 GROUP BY 1, 2),
              cum AS (
                SELECT event_type, gap,
                       SUM(cnt) OVER (PARTITION BY event_type ORDER BY gap
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM grid),
              n AS (SELECT event_type, COUNT(*) AS n FROM g2 GROUP BY 1),
              p AS (SELECT UNNEST([50, 90, 99]) AS p)
              SELECT c.event_type, p.p, CAST(MIN(c.gap) AS BIGINT) AS gap_s
              FROM cum c JOIN n USING (event_type) CROSS JOIN p
              WHERE c.cum * 100 >= p.p * n.n
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // EVENT-TYPE CO-OCCURRENCE LIFT — market-basket association over
    // user behavior: for every type pair, how many users did BOTH, and
    // lift = P(a∧b)/(P(a)·P(b)) (1 = independent, >1 = affinity). The
    // "users who error also churn?" readout. The per-user item set is
    // |event types| (single digits), so the within-user pair join is
    // LINEAR in users with a constant fan-out — the one case where a
    // self-join per key is the scale-correct plan. Counts are
    // integers; lift is one float expression rounded 4 dp.
    Q("q192_event_lift",
      (s, d) => {
        val ut = t(s, d, "events")
          .select(col("user_id"), col("event_type")).distinct()
        val nUsers = ut.select(col("user_id")).distinct()
          .agg(count(lit(1)).as("n_users"))
        val nT = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
        val ab = ut.as("a")
          .join(ut.as("b"), col("a.user_id") === col("b.user_id") &&
            col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("ta"),
            col("b.event_type").as("tb"))
          .agg(count(lit(1)).as("n_ab"))
        ab
          .join(nT.select(col("event_type").as("ta"),
            col("n_t").as("n_a")), Seq("ta"))
          .join(nT.select(col("event_type").as("tb"),
            col("n_t").as("n_b")), Seq("tb"))
          .crossJoin(broadcast(nUsers))
          .select(col("ta"), col("tb"), col("n_ab"),
            round(col("n_ab").cast("double") * col("n_users") /
              (col("n_a") * col("n_b")), 4).as("lift"))
          .orderBy(col("ta"), col("tb"))
      },
      Some("""WITH ut AS (
                SELECT DISTINCT user_id, event_type FROM events),
              nu AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM ut),
              nt AS (SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY 1),
              ab AS (
                SELECT a.event_type AS ta, b.event_type AS tb,
                       COUNT(*) AS n_ab
                FROM ut a JOIN ut b
                  ON a.user_id = b.user_id
                 AND a.event_type < b.event_type
                GROUP BY 1, 2)
              SELECT ta, tb, n_ab,
                     ROUND(CAST(n_ab AS DOUBLE) * (SELECT n_users FROM nu)
                       / (na.n_t * nb.n_t), 4) AS lift
              FROM ab
              JOIN nt na ON na.event_type = ta
              JOIN nt nb ON nb.event_type = tb
              ORDER BY ta, tb""")),

    // PARETO / ABC ANALYSIS — supplier revenue concentration: revenue
    // per supplier, cumulative share in descending-revenue order, and
    // the classic ABC class (A carries the first 80% of revenue, B to
    // 95%, C the tail). Revenue accumulates in DECIMAL (the q58
    // discipline: per-value deterministic casts, order-independent
    // exact sums — a double groupBy SUM's fold order is not
    // reproducible), and the ABC boundaries compare decimals scaled by
    // integers (20·cum vs 16·total etc. would also work; spelled
    // 100-scale for readability), so classification never sits on a
    // float boundary. The supplier table is NOT bounded — it scales
    // with the corpus (TPC-H grows suppliers with SF: ~1e9 rows at
    // 100 TB), so the descending cumulative is an un-keyed Cumulative
    // on 256 uniform blocks of -rev (non-decreasing in the descending
    // order; equal revenues share a block), and regrouped DECIMAL
    // addition is bit-identical to the single-window form.
    Q("q193_pareto_abc",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .select(col("l_suppkey"),
            (col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
              .as("r"))
          .groupBy(col("l_suppkey")).agg(sum(col("r")).as("rev"))
        Cumulative.running(
            Cumulative.uniformBlocks(rev, Nil, -col("rev"), "blk"), Nil,
            "blk", Seq(col("rev").desc, col("l_suppkey")), col("rev"),
            Cumulative.Sum, inclusive = true, "cum")
          .crossJoin(broadcast(rev.agg(sum(col("rev")).as("total"))))
          .select(col("l_suppkey"),
            round(col("rev").cast("double"), 2).as("revenue"),
            round((col("cum") / col("total")).cast("double"), 6)
              .as("cum_share"),
            when(col("cum") * 100 <= col("total") * 80, "A")
              .when(col("cum") * 100 <= col("total") * 95, "B")
              .otherwise("C").as("abc"))
          .orderBy(col("cum_share"), col("l_suppkey"))
      },
      Some("""WITH rev AS (
                SELECT l_suppkey,
                       SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1 - l_discount AS DECIMAL(4,2))) AS rev
                FROM lineitem GROUP BY 1),
              c AS (
                SELECT l_suppkey, rev,
                       SUM(rev) OVER (ORDER BY rev DESC, l_suppkey
                         ROWS UNBOUNDED PRECEDING) AS cum,
                       (SELECT SUM(rev) FROM rev) AS total
                FROM rev)
              SELECT l_suppkey,
                     ROUND(CAST(rev AS DOUBLE), 2) AS revenue,
                     ROUND(CAST(cum / total AS DOUBLE), 6) AS cum_share,
                     CASE WHEN cum * 100 <= total * 80 THEN 'A'
                          WHEN cum * 100 <= total * 95 THEN 'B'
                          ELSE 'C' END AS abc
              FROM c ORDER BY cum_share, l_suppkey""")),

    // WINSORIZATION report — per return flag, the [p1, p99] clip of
    // l_extendedprice with how many rows each tail clipped and the
    // mean before/after: the outlier-robust feature-cleaning step
    // quantified. Everything rides INTEGER CENTS (ROUND(price·100) —
    // deterministic per value in both engines), so the percentile
    // bounds are the q102/q153 value-pinned rule, tail counts are
    // integer sums, and the means are exact integer sums with ONE
    // float division at the end. The cumulative is a Cumulative per
    // flag on 10^6-cent blocks — a near-unique cent grid never sorts in
    // one task.
    Q("q195_winsorize",
      (s, d) => {
        val base = t(s, d, "lineitem")
          .select(col("l_returnflag").as("g"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
        val grid = base.groupBy(col("g"), col("v"))
          .agg(count(lit(1)).as("cnt"))
        val cum = Cumulative.running(
          grid.withColumn("blk", floor(col("v") / 1000000).cast("long")),
          Seq("g"), "blk", Seq(col("v")), col("cnt"), Cumulative.Sum,
          inclusive = true, "cum")
        // n per flag from the GRID (Σ cnt — the
        // same integer by construction), not a second count over base:
        // the old base.groupBy(g) shuffled the corpus a second time
        // where the grid aggregate is value-grid-sized and its exchange
        // is already paid.
        val n = grid.groupBy(col("g")).agg(sum(col("cnt")).as("n"))
        // r20: BOTH percentile bounds from ONE conditional aggregate
        // over the cumulative grid — min(v WHERE cum ≥ p·n) per bound —
        // instead of two filter→groupBy branches that each replayed the
        // cum⋈n subtree and needed a second join downstream (same
        // integers: min over the null-padded conditional ≡ min over the
        // filtered rows).
        val bounds = cum.join(n, Seq("g"))
          .groupBy(col("g")).agg(
            min(when(col("cum") * 100 >= col("n"), col("v"))).as("lo"),
            min(when(col("cum") * 100 >= col("n") * 99, col("v"))).as("hi"))
        base.join(bounds, Seq("g"))
          .select(col("g"), col("v"), col("lo"), col("hi"),
            least(greatest(col("v"), col("lo")), col("hi")).as("w"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("n"),
            first(col("lo")).as("lo_c"), first(col("hi")).as("hi_c"),
            sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
            sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
            sum(col("v")).as("sv"), sum(col("w")).as("sw"))
          .select(col("g"), col("n"),
            round(col("lo_c").cast("double") / 100, 2).as("lo"),
            round(col("hi_c").cast("double") / 100, 2).as("hi"),
            col("n_lo"), col("n_hi"),
            round(col("sv").cast("double") / (col("n") * 100), 4)
              .as("mean_before"),
            round(col("sw").cast("double") / (col("n") * 100), 4)
              .as("mean_after"))
          .orderBy(col("g"))
      },
      Some("""WITH base AS (
                SELECT l_returnflag AS g,
                       CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v
                FROM lineitem),
              grid AS (SELECT g, v, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
              cum AS (
                SELECT g, v,
                       SUM(cnt) OVER (PARTITION BY g ORDER BY v
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM grid),
              n AS (SELECT g, COUNT(*) AS n FROM base GROUP BY 1),
              lo AS (SELECT c.g, MIN(v) AS lo FROM cum c JOIN n USING (g)
                     WHERE c.cum * 100 >= n.n GROUP BY 1),
              hi AS (SELECT c.g, MIN(v) AS hi FROM cum c JOIN n USING (g)
                     WHERE c.cum * 100 >= n.n * 99 GROUP BY 1),
              st AS (
                SELECT b.g, b.v, lo.lo, hi.hi,
                       LEAST(GREATEST(b.v, lo.lo), hi.hi) AS w
                FROM base b JOIN lo USING (g) JOIN hi USING (g))
              SELECT g, COUNT(*) AS n,
                     ROUND(CAST(MIN(lo) AS DOUBLE) / 100, 2) AS lo,
                     ROUND(CAST(MIN(hi) AS DOUBLE) / 100, 2) AS hi,
                     CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_lo,
                     CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_hi,
                     ROUND(CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 100), 4)
                       AS mean_before,
                     ROUND(CAST(SUM(w) AS DOUBLE) / (COUNT(*) * 100), 4)
                       AS mean_after
              FROM st GROUP BY g ORDER BY g""")),

    // FUNNEL CONVERSION LATENCY — per completed stage transition
    // (view→click, click→purchase under q150's strict chain), the
    // p50/p90 seconds-to-convert: the "how long does the funnel take"
    // number q150's counts leave out. Stage times are q150's exact
    // user-keyed min-aggregates; deltas are integer seconds; the
    // percentiles are VALUE-PINNED on the per-stage delta grid with a
    // Cumulative per stage on hour-width blocks, so the
    // user-cardinality delta grid never sorts in one task.
    Q("q196_funnel_latency",
      (s, d) => {
        val ev = t(s, d, "events")
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
        val s2 = ev.filter(col("event_type") === "click")
          .join(s1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
        val s3 = ev.filter(col("event_type") === "purchase")
          .join(s2, "user_id").filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        val d1 = s1.join(s2, "user_id")
          .select(lit("view->click").as("stage"),
            (unix_timestamp(col("t2")) - unix_timestamp(col("t1")))
              .as("secs"))
        val d2 = s2.join(s3, "user_id")
          .select(lit("click->purchase").as("stage"),
            (unix_timestamp(col("t3")) - unix_timestamp(col("t2")))
              .as("secs"))
        val deltas = d1.unionByName(d2)
        val cum = Cumulative.running(
          deltas.groupBy(col("stage"), col("secs"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("blk", floor(col("secs") / 3600).cast("long")),
          Seq("stage"), "blk", Seq(col("secs")), col("cnt"),
          Cumulative.Sum, inclusive = true, "cum")
        val n = deltas.groupBy(col("stage")).agg(count(lit(1)).as("n"))
        val ps = s.createDataFrame(Seq(Tuple1(50), Tuple1(90))).toDF("p")
        cum.join(n, Seq("stage"))
          .crossJoin(broadcast(ps))
          .filter(col("cum") * 100 >= col("p") * col("n"))
          .groupBy(col("stage"), col("p"))
          .agg(min(col("secs")).as("secs"))
          .orderBy(col("stage"), col("p"))
      },
      Some("""WITH s1 AS (
                SELECT user_id, MIN(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
              s2 AS (
                SELECT e.user_id, MIN(ts) AS t2 FROM events e
                JOIN s1 ON s1.user_id = e.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
              s3 AS (
                SELECT e.user_id, MIN(ts) AS t3 FROM events e
                JOIN s2 ON s2.user_id = e.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
              deltas AS (
                SELECT 'view->click' AS stage,
                       CAST(FLOOR(EPOCH(t2)) AS BIGINT)
                         - CAST(FLOOR(EPOCH(t1)) AS BIGINT) AS secs
                FROM s1 JOIN s2 USING (user_id)
                UNION ALL
                SELECT 'click->purchase',
                       CAST(FLOOR(EPOCH(t3)) AS BIGINT)
                         - CAST(FLOOR(EPOCH(t2)) AS BIGINT)
                FROM s2 JOIN s3 USING (user_id)),
              cum AS (
                SELECT stage, secs,
                       SUM(COUNT(*)) OVER (PARTITION BY stage ORDER BY secs
                         ROWS UNBOUNDED PRECEDING) AS cum
                FROM deltas GROUP BY stage, secs),
              n AS (SELECT stage, COUNT(*) AS n FROM deltas GROUP BY 1),
              p AS (SELECT UNNEST([50, 90]) AS p)
              SELECT c.stage, p.p, CAST(MIN(c.secs) AS BIGINT) AS secs
              FROM cum c JOIN n USING (stage) CROSS JOIN p
              WHERE c.cum * 100 >= p.p * n.n
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // TPC-H Q5 (local supplier volume), the classic 6-way join:
    // revenue by nation where the customer and the line's supplier sit
    // in the SAME nation, one region, one order-year. Scale shape: the
    // two true dimensions (region-filtered nation) ride ONE broadcast
    // into customer; lineitem⋈orders⋈customer⋈supplier are shuffle
    // joins on their keys (AQE may broadcast supplier at small SF —
    // correct either way); the c_nationkey = s_nationkey equality rides
    // the supplier join condition, costing no extra exchange; the final
    // aggregate lands on ≤ |nations| rows. Revenue accumulates in
    // DECIMAL (the q58/q193 discipline) so the sum is order-independent
    // and the oracle hash exact. Date window shifted to the testdata's
    // 1995-2001 order range (reference window 1994 is empty here).
    Q("q203_tpch_q5",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        val nat = t(s, d, "nation")
          .join(broadcast(t(s, d, "region")
            .filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val cust = t(s, d, "customer")
          .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1997-01-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), rev.as("r"))
        val sup = t(s, d, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          // decimal round BEFORE the double cast — see q205's note
          .agg(round(sum(col("r")), 2).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                       AS revenue
              FROM customer
              JOIN orders   ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              JOIN supplier ON l_suppkey = s_suppkey
                           AND c_nationkey = s_nationkey
              JOIN nation   ON c_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
              WHERE r_name = 'ASIA'
                AND o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1997-01-01'
              GROUP BY n_name
              ORDER BY revenue DESC, n_name""")),

    // TPC-H Q18 (large-volume customers): orders whose total quantity
    // clears 300, with their customer. Scale shape: the HAVING is a
    // map-side partial aggregate of lineitem BEFORE any join — the
    // join input shrinks to |qualifying orders|, never |lineitem|;
    // quantity accumulates in DECIMAL; ORDER BY is unique under the
    // LIMIT (totalprice DESC then orderkey — the oracle-LIMIT rule).
    Q("q204_tpch_q18",
      (s, d) => {
        val big = t(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty"))
          .filter(col("qty") > 300)
        t(s, d, "orders")
          .join(big, col("o_orderkey") === col("l_orderkey"))
          .join(t(s, d, "customer"),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
            round(col("o_totalprice").cast("double"), 2)
              .as("o_totalprice"),
            col("qty").cast("double").as("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)
      },
      Some("""WITH big AS (
                SELECT l_orderkey,
                       SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
                FROM lineitem GROUP BY l_orderkey
                HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
              SELECT c_name, c_custkey, o_orderkey,
                     STRFTIME(o_orderdate, '%Y-%m-%d') AS o_date,
                     ROUND(CAST(o_totalprice AS DOUBLE), 2) AS o_totalprice,
                     CAST(qty AS DOUBLE) AS total_qty
              FROM orders
              JOIN big ON o_orderkey = l_orderkey
              JOIN customer ON o_custkey = c_custkey
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // TPC-H Q10 (returned-item reporting): top customers by revenue
    // lost to returns in one quarter. Scale shape: the returnflag and
    // date filters push to the two fact scans BEFORE the joins; nation
    // broadcasts into customer; the group-by keys on c_custkey so the
    // aggregate exchange is customer-sized, and the top-20 is a
    // TakeOrdered, never a full sort. DECIMAL revenue; ORDER BY unique
    // under the LIMIT (revenue DESC then c_custkey).
    Q("q205_tpch_q10",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        val li = t(s, d, "lineitem")
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey"), rev.as("r"))
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
          .select(col("o_orderkey"), col("o_custkey"))
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("n_name"))
          // round while still DECIMAL (exact half-up in both engines),
          // THEN cast: rounding after the double cast is representation-
          // dependent (….595 stored as ….59499999 flips the last digit)
          .agg(round(sum(col("r")), 2).cast("double").as("revenue"))
          .select(col("c_custkey"), col("c_name"), col("revenue"),
            round(col("c_acctbal").cast("double"), 2).as("c_acctbal"),
            col("n_name"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                       AS revenue,
                     ROUND(CAST(c_acctbal AS DOUBLE), 2) AS c_acctbal,
                     n_name
              FROM customer
              JOIN nation ON c_nationkey = n_nationkey
              JOIN orders ON o_custkey = c_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              WHERE l_returnflag = 'R'
                AND o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1996-04-01'
              GROUP BY c_custkey, c_name, c_acctbal, n_name
              ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // Reshard-delta report: what fraction of the corpus MOVES when the
    // export grows 16 → 20 shards, under the two assignment policies —
    // mod-hash (q90's shuffledShards layout) vs rendezvous/HRW
    // (Writers.hrwShard). Per (policy, new_shard): population and how
    // many of its rows came from a different old shard. The mod rows
    // show ~3/4 of the corpus remapping and churn in EVERY shard; the
    // hrw rows show n_moved = 0 for every surviving shard (< 16) and
    // ~4/20 of the corpus total — the decision artifact for "can we
    // grow the shard count without rewriting the exported corpus".
    //
    // Scale shape: one doc_id-only columnar scan; both policies'
    // assignments are computed in the same map-side projection
    // (explode of a 2-element literal-keyed array — no second scan, no
    // join); the aggregate exchange carries ≤ |policies| × |new shards|
    // rows. At 100 TB the report costs one pass over one column.
    Q("q207_reshard_delta",
      (s, d) => Writers.reshardReport(t(s, d, "documents"), "doc_id",
        oldN = 16, newN = 20),
      Some("""WITH ids AS (SELECT doc_id FROM documents),
              mk AS (
                SELECT doc_id,
                       CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':shuf'), 1, 15) AS BIGINT) AS h
                FROM ids),
              modp AS (
                SELECT 'mod' AS policy,
                       CAST(h % 16 AS INT) AS old_shard,
                       CAST(h % 20 AS INT) AS new_shard
                FROM mk),
              w AS (
                SELECT i.doc_id, s.s,
                       MD5(CAST(i.doc_id AS VARCHAR) || ':hrw:'
                           || CAST(s.s AS VARCHAR)) AS wt
                FROM ids i CROSS JOIN
                     (SELECT UNNEST(range(20)) AS s) s),
              ho AS (
                SELECT doc_id, s AS old_shard FROM (
                  SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY wt DESC, s DESC) AS rn
                  FROM w WHERE s < 16) t WHERE rn = 1),
              hn AS (
                SELECT doc_id, s AS new_shard FROM (
                  SELECT doc_id, s, ROW_NUMBER() OVER (PARTITION BY doc_id
                    ORDER BY wt DESC, s DESC) AS rn
                  FROM w) t WHERE rn = 1),
              hrwp AS (
                SELECT 'hrw' AS policy,
                       CAST(ho.old_shard AS INT) AS old_shard,
                       CAST(hn.new_shard AS INT) AS new_shard
                FROM ho JOIN hn USING (doc_id)),
              u AS (SELECT * FROM modp UNION ALL SELECT * FROM hrwp)
              SELECT policy, new_shard, COUNT(*) AS n_docs,
                     CAST(SUM(CASE WHEN old_shard <> new_shard
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
              FROM u GROUP BY 1, 2 ORDER BY policy, new_shard""")),

    // Per-user EWMA trend (the codegen'd linear-recurrence scan, see
    // functions.EwmaFold): E_t = 0.3·x_t + 0.7·E_{t-1} over each
    // user's event stream ordered by (ts, event_id), reported as the
    // final smoothed value — the monitoring/trend feature a window
    // can't express without a per-row self-join (q158's trailing mean
    // weights uniformly; EWMA discounts geometrically). The oracle's
    // list_reduce replays the IDENTICAL left fold — same element
    // order, same (1.0 − 0.3) IEEE construction — so the doubles are
    // bit-equal before the display rounding (the q97/q190 parity law).
    //
    // Scale shape: one user-keyed exchange, then the fold is map-side
    // O(events-per-user) inside codegen; per-user streams are the
    // bounded-stream contract (q43/q150). For unbounded keys the
    // Scaladoc's affine block decomposition (q193's two-phase shape)
    // applies unchanged.
    Q("q208_ewma",
      (s, d) => ewmaTrend(t(s, d, "events"), 0.3),
      Some("""SELECT user_id, COUNT(*) AS n_events,
                     ROUND(list_reduce(list(value ORDER BY ts, event_id),
                       (acc, x) -> 0.3*x + (1.0 - 0.3)*acc), 4) AS ewma
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // EQUI-DEPTH RANGE-SHARD manifest — the boundary artifact for a
    // range-clustered layout: split the corpus into 16 equal-count
    // shards in (n_chars, doc_id) order and report each shard's row
    // count and key range. Written as a layout (repartitionByRange +
    // sortWithinPartitions), those [lo, hi] ranges are what parquet
    // min/max row-group skipping prunes on — the 1-D complement of the
    // Z-order layout (`Writers.zorderParquet`) and the hash layouts
    // (q90 mod, q207 HRW); THIS query is the exact-boundary decision
    // report Spark's sampling-based RangePartitioner can't give.
    //
    // Exact global rank without a global sort: a Cumulative rank on
    // 256 uniform blocks of n_chars (ties share a block). Shard
    // assignment is pure integer math (rank0 * 16 div N), so the
    // boundary rows can't straddle engines. Blocks are uniform over the
    // VALUE range, so a degenerate corpus whose keys concentrate in one
    // 1/256th slice concentrates that block's local sort — on real
    // length distributions the blocks spread; for a known-degenerate
    // key, block on a finer grid.
    Q("q209_range_shards",
      (s, d) => {
        val k = t(s, d, "documents")
          .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
        Cumulative.running(
            Cumulative.uniformBlocks(k, Nil, col("n_chars"), "blk"), Nil,
            "blk", Seq(col("n_chars"), col("doc_id")), lit(1L),
            Cumulative.Sum, inclusive = true, "rk")
          .crossJoin(broadcast(k.agg(count(lit(1)).as("n"))))
          .withColumn("shard", expr("(rk - 1) * 16 div n"))
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("n_chars")).as("lo_chars"),
            max(col("n_chars")).as("hi_chars"))
          .orderBy(col("shard"))
      },
      Some("""WITH k AS (
                SELECT doc_id, LENGTH(text) AS n_chars FROM documents),
              r AS (
                SELECT n_chars,
                       ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1
                         AS rk,
                       (SELECT COUNT(*) FROM k) AS n
                FROM k)
              SELECT rk * 16 // n AS shard, COUNT(*) AS n_docs,
                     MIN(n_chars) AS lo_chars, MAX(n_chars) AS hi_chars
              FROM r GROUP BY 1 ORDER BY 1""")),

    // PER-USER TREND SLOPE — the OLS slope of value over time for each
    // user's event stream, q208's least-squares sibling (EWMA gives
    // the smoothed level; this gives the direction and rate). Closed
    // form slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²) over x = seconds
    // since the user's first event (shift-invariant, keeps magnitudes
    // bounded), y = integer-e4 value (the q195 winsorize discipline).
    // EVERY accumulation is exact integer arithmetic — Spark rides
    // DECIMAL(38,0), the oracle HUGEINT; both are exact on these
    // magnitudes, so the single double division at the end sees
    // identical integers and the 6-dp rounding can't straddle engines
    // (a double Σxy would be fold-order-dependent and is why this
    // isn't corr()/regr_slope()). Zero-variance users (one event, or
    // all events in the same second) report NULL, not a 0/0.
    //
    // Scale shape: ONE user-keyed exchange carries the plan — the
    // window min and the groupBy share it; the five sums are map-side
    // partial aggregates; output is |users|.
    Q("q210_user_trend",
      (s, d) => userTrend(t(s, d, "events")),
      Some("""WITH e AS (
                SELECT user_id,
                       epoch_us(ts) // 1000000
                         - MIN(epoch_us(ts) // 1000000)
                             OVER (PARTITION BY user_id) AS x,
                       CAST(ROUND(value * 10000) AS BIGINT) AS y4
                FROM events),
              a AS (
                SELECT user_id, COUNT(*) AS n,
                       SUM(CAST(x AS HUGEINT)) AS sx,
                       SUM(CAST(y4 AS HUGEINT)) AS sy,
                       SUM(CAST(x AS HUGEINT) * y4) AS sxy,
                       SUM(CAST(x AS HUGEINT) * x) AS sxx
                FROM e GROUP BY 1)
              SELECT user_id, n AS n_events,
                     CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                          ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                                 / CAST(n * sxx - sx * sx AS DOUBLE)
                                 / 10000.0 * 86400.0, 6) END
                       AS slope_per_day
              FROM a ORDER BY user_id""")),

    // LAST-TOUCH ATTRIBUTION — each purchase credits the user's most
    // recent PRIOR non-purchase event within a 7-day lookback; the
    // report is purchases and share per credited source (plus "none"
    // for cold purchases — first action, or every touch expired). The
    // standard marketing attribution read-model the funnel (q150) and
    // lift (q192) reports don't give: those count co-occurrence, this
    // assigns each conversion to exactly ONE cause.
    //
    // Shape: the credited touch is a running `last(non-purchase
    // struct, ignoreNulls)` over the (ts, event_id)-ordered per-user
    // frame ending 1 PRECEDING — one user-keyed exchange, no self-join
    // (the naive per-purchase "latest prior event" probe is a range
    // self-join that explodes on hot users); the lookback compares
    // integer epoch micros. The share divides by a broadcast one-row
    // total (integers; one double division — engine-identical).
    Q("q211_attribution",
      (s, d) => lastTouchAttribution(t(s, d, "events"),
        conversion = "purchase", lookbackDays = 7),
      Some("""WITH a AS (
                SELECT event_type, us,
                       last_value(CASE WHEN event_type <> 'purchase'
                           THEN struct_pack(us := us, et := event_type)
                           END IGNORE NULLS)
                         OVER (PARTITION BY user_id
                               ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS lt
                FROM (SELECT user_id, ts, event_id, event_type,
                             epoch_us(ts) AS us FROM events)),
              p AS (
                SELECT CASE WHEN lt IS NULL
                              OR us - lt.us
                                 > CAST(7 AS BIGINT) * 86400 * 1000000
                            THEN 'none' ELSE lt.et END AS src
                FROM a WHERE event_type = 'purchase')
              SELECT src, COUNT(*) AS n_purchases,
                     ROUND(CAST(COUNT(*) AS DOUBLE)
                       / (SELECT COUNT(*) FROM p), 4) AS share
              FROM p GROUP BY 1 ORDER BY 1""")),

    // LINEAR MULTI-TOUCH ATTRIBUTION — q211's other standard model:
    // each conversion's credit splits EQUALLY across every touch in
    // its journey (the events since the previous conversion, within
    // the 7-day lookback); journeys with no eligible touch credit
    // "none". Journey segmentation is a running prior-conversion count
    // (the q103 gaps-and-islands discipline), so a touch joins exactly
    // ONE conversion — never a per-pair explosion. Credit fractions
    // ride integer e6 units: round(k/n·1e6) is deterministic per
    // journey in both engines and the cross-journey SUM is an exact
    // BIGINT — a double Σ(k/n) would be fold-order-dependent. The two
    // final divisions are mirrored left-to-right in the oracle.
    //
    // Scale shape: one user-keyed window, then every join/aggregate
    // keys on (user_id, journey) — journeys are conversion-bounded, so
    // group width is one journey's touches (the q43/q150 stream
    // contract); the 'none' branch is a left-anti on the same key.
    Q("q212_linear_attribution",
      (s, d) => linearAttribution(t(s, d, "events"),
        conversion = "purchase", lookbackDays = 7),
      Some("""WITH e AS (
                SELECT user_id, ts, event_id, event_type,
                       epoch_us(ts) AS us,
                       COUNT(*) FILTER (WHERE event_type = 'purchase')
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS j
                FROM events),
              conv AS (
                SELECT user_id, j, us AS conv_us FROM e
                WHERE event_type = 'purchase'),
              tch AS (
                SELECT t.user_id, t.j, t.event_type AS src
                FROM e t JOIN conv c
                  ON t.user_id = c.user_id AND t.j = c.j
                WHERE t.event_type <> 'purchase'
                  AND c.conv_us - t.us
                      <= CAST(7 AS BIGINT) * 86400 * 1000000
                  AND c.conv_us - t.us >= 0),
              per_j AS (
                SELECT user_id, j, src, COUNT(*) AS k,
                       SUM(COUNT(*)) OVER (PARTITION BY user_id, j) AS n
                FROM tch GROUP BY 1, 2, 3),
              credits AS (
                SELECT src,
                       SUM(CAST(ROUND(CAST(k AS DOUBLE) / n * 1000000)
                         AS BIGINT)) AS c6
                FROM per_j GROUP BY 1
                UNION ALL
                SELECT 'none' AS src, COUNT(*) * 1000000 AS c6
                FROM conv c WHERE NOT EXISTS (
                  SELECT 1 FROM tch t
                  WHERE t.user_id = c.user_id AND t.j = c.j))
              SELECT src, ROUND(c6 / 1000000.0, 4) AS credit,
                     ROUND(c6 / 1000000.0
                       / (SELECT COUNT(*) FROM conv), 4) AS share
              FROM credits ORDER BY 1""")),

    // TIME-DECAY attribution (see [[timeDecayAttribution]]): credit
    // halves per whole week of touch age — integer power-of-two
    // weights, e6-rounded integer credits, the q212 discipline.
    Q("q239_decay_attribution",
      (s, d) => timeDecayAttribution(t(s, d, "events"),
        conversion = "purchase", lookbackDays = 7, halfLifeDays = 7),
      Some("""WITH e AS (
                SELECT user_id, ts, event_id, event_type,
                       epoch_us(ts) AS us,
                       COUNT(*) FILTER (WHERE event_type = 'purchase')
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS j
                FROM events),
              conv AS (
                SELECT user_id, j, us AS conv_us FROM e
                WHERE event_type = 'purchase'),
              tch AS (
                SELECT t.user_id, t.j, t.event_type AS src,
                       (CAST(1 AS BIGINT) << CAST(
                         2 - (c.conv_us - t.us) // 86400000000 // 7
                         AS INT)) AS wgt
                FROM e t JOIN conv c
                  ON t.user_id = c.user_id AND t.j = c.j
                WHERE t.event_type <> 'purchase'
                  AND c.conv_us - t.us
                      <= CAST(7 AS BIGINT) * 86400 * 1000000
                  AND c.conv_us - t.us >= 0),
              per_j AS (
                SELECT user_id, j, src, SUM(wgt) AS kw,
                       SUM(SUM(wgt)) OVER (PARTITION BY user_id, j) AS n
                FROM tch GROUP BY 1, 2, 3),
              credits AS (
                SELECT src,
                       SUM(CAST(ROUND(CAST(kw AS DOUBLE) / n * 1000000)
                         AS BIGINT)) AS c6
                FROM per_j GROUP BY 1
                UNION ALL
                SELECT 'none' AS src, COUNT(*) * 1000000 AS c6
                FROM conv c WHERE NOT EXISTS (
                  SELECT 1 FROM tch t
                  WHERE t.user_id = c.user_id AND t.j = c.j))
              SELECT src, ROUND(c6 / 1000000.0, 4) AS credit,
                     ROUND(c6 / 1000000.0
                       / (SELECT COUNT(*) FROM conv), 4) AS share
              FROM credits ORDER BY 1""")),

    // POSITION-BASED (U-shaped 40/20/40) attribution (see
    // [[positionAttribution]]): first/last 40% each, middles split the
    // 20% — per-touch e6 credits by journey position.
    Q("q240_position_attribution",
      (s, d) => positionAttribution(t(s, d, "events"),
        conversion = "purchase", lookbackDays = 7),
      Some("""WITH e AS (
                SELECT user_id, ts, event_id, event_type,
                       epoch_us(ts) AS us,
                       COUNT(*) FILTER (WHERE event_type = 'purchase')
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS j
                FROM events),
              conv AS (
                SELECT user_id, j, us AS conv_us FROM e
                WHERE event_type = 'purchase'),
              tch AS (
                SELECT t.user_id, t.j, t.event_type AS src,
                       ROW_NUMBER() OVER (PARTITION BY t.user_id, t.j
                         ORDER BY t.us, t.event_id) AS pos,
                       COUNT(*) OVER (PARTITION BY t.user_id, t.j) AS n
                FROM e t JOIN conv c
                  ON t.user_id = c.user_id AND t.j = c.j
                WHERE t.event_type <> 'purchase'
                  AND c.conv_us - t.us
                      <= CAST(7 AS BIGINT) * 86400 * 1000000
                  AND c.conv_us - t.us >= 0),
              credited AS (
                SELECT src,
                       CASE WHEN n = 1 THEN 1000000
                            WHEN n = 2 THEN 500000
                            WHEN pos = 1 OR pos = n THEN 400000
                            ELSE CAST(ROUND(200000.0 / (n - 2)) AS BIGINT)
                       END AS c6
                FROM tch),
              credits AS (
                SELECT src, SUM(c6) AS c6 FROM credited GROUP BY 1
                UNION ALL
                SELECT 'none' AS src, COUNT(*) * 1000000 AS c6
                FROM conv c WHERE NOT EXISTS (
                  SELECT 1 FROM tch t
                  WHERE t.user_id = c.user_id AND t.j = c.j))
              SELECT src, ROUND(c6 / 1000000.0, 4) AS credit,
                     ROUND(c6 / 1000000.0
                       / (SELECT COUNT(*) FROM conv), 4) AS share
              FROM credits ORDER BY 1""")),

    // DIFFERENCE-IN-DIFFERENCES readout — the third leg of the
    // experimentation pack (q242 effect, q243 variance reduction, this
    // one PRE-EXISTING-BIAS correction): each arm's post-minus-pre
    // per-user conversion-count change, differenced across arms, so a
    // baseline imbalance the z-test would misread as an effect
    // subtracts out (parallel-trends assumption stated). Same per-user
    // pre/post frame and ":ab" arms as q243; four exact DECIMAL sums
    // + counts, one float block, no rounding hazards beyond the
    // terminal 6-dp.
    Q("q246_did",
      (s, d) => {
        val dec = "decimal(38,0)"
        val bnd = "2024-01-16"
        val per = t(s, d, "events").groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "purchase" &&
              col("ts") < lit(bnd), 1).otherwise(0)).cast(dec).as("x"),
            sum(when(col("event_type") === "purchase" &&
              col("ts") >= lit(bnd), 1).otherwise(0)).cast(dec).as("y"))
          .select(col("x"), col("y"), Stats.arm(col("user_id")).as("arm"))
        val g = per.agg(
          sum(when(col("arm") === 0, 1).otherwise(0)).cast(dec).as("na"),
          sum(when(col("arm") === 0, col("x")).otherwise(0)).as("sxa"),
          sum(when(col("arm") === 0, col("y")).otherwise(0)).as("sya"),
          sum(when(col("arm") === 1, 1).otherwise(0)).cast(dec).as("nb"),
          sum(when(col("arm") === 1, col("x")).otherwise(0)).as("sxb"),
          sum(when(col("arm") === 1, col("y")).otherwise(0)).as("syb"))
        def m(s0: String, n: String) =
          col(s0).cast("double") / col(n).cast("double")
        g.select(
          col("na").cast("long").as("n_a"),
          col("nb").cast("long").as("n_b"),
          round(m("sya", "na") - m("sxa", "na"), 6).as("delta_a"),
          round(m("syb", "nb") - m("sxb", "nb"), 6).as("delta_b"),
          round((m("syb", "nb") - m("sxb", "nb")) -
            (m("sya", "na") - m("sxa", "na")), 6).as("did"))
      },
      Some("""WITH per AS (
                SELECT user_id,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         AND ts < TIMESTAMP '2024-01-16'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-16'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS y,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS arm
                FROM events GROUP BY user_id),
              g AS (
                SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na,
                       SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sxa,
                       SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sya,
                       CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS nb,
                       SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sxb,
                       SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS syb
                FROM per)
              SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
                     ROUND(CAST(sya AS DOUBLE)/CAST(na AS DOUBLE)
                       - CAST(sxa AS DOUBLE)/CAST(na AS DOUBLE), 6)
                       AS delta_a,
                     ROUND(CAST(syb AS DOUBLE)/CAST(nb AS DOUBLE)
                       - CAST(sxb AS DOUBLE)/CAST(nb AS DOUBLE), 6)
                       AS delta_b,
                     ROUND((CAST(syb AS DOUBLE)/CAST(nb AS DOUBLE)
                       - CAST(sxb AS DOUBLE)/CAST(nb AS DOUBLE))
                       - (CAST(sya AS DOUBLE)/CAST(na AS DOUBLE)
                       - CAST(sxa AS DOUBLE)/CAST(na AS DOUBLE)), 6)
                       AS did
              FROM g""")),

    // CUPED variance-reduced experiment readout (see [[cuped]]):
    // exact DECIMAL moment sums, one float block, 6-dp rounding.
    Q("q243_cuped",
      (s, d) => cuped(t(s, d, "events"), conversion = "purchase",
        boundary = "2024-01-16"),
      Some("""WITH per AS (
                SELECT user_id,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         AND ts < TIMESTAMP '2024-01-16'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS x,
                       CAST(SUM(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-16'
                         THEN 1 ELSE 0 END) AS HUGEINT) AS y,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS arm
                FROM events GROUP BY user_id),
              g AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                       SUM(x) AS sx, SUM(y) AS sy,
                       SUM(x*y) AS sxy, SUM(x*x) AS sxx,
                       SUM(y*y) AS syy,
                       CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS na,
                       SUM(CASE WHEN arm = 0 THEN x ELSE 0 END) AS sxa,
                       SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) AS sya,
                       CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS HUGEINT) AS nb,
                       SUM(CASE WHEN arm = 1 THEN x ELSE 0 END) AS sxb,
                       SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) AS syb
                FROM per),
              f AS (
                SELECT CAST(n AS BIGINT) AS n_users,
                       CAST(n*sxx - sx*sx AS DOUBLE) AS dxx,
                       CAST(n*syy - sy*sy AS DOUBLE) AS dyy,
                       CAST(n*sxy - sx*sy AS DOUBLE) AS dxy,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
                       CAST(sya AS DOUBLE) / CAST(na AS DOUBLE) AS mya,
                       CAST(syb AS DOUBLE) / CAST(nb AS DOUBLE) AS myb,
                       CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) AS mxa,
                       CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) AS mxb
                FROM g)
              SELECT n_users,
                     ROUND(CASE WHEN dxx = 0 THEN NULL
                       ELSE dxy / dxx END, 6) AS theta,
                     ROUND(myb - mya, 6) AS diff_raw,
                     ROUND((myb - COALESCE(dxy / NULLIF(dxx, 0), 0)
                         * (mxb - mean_x))
                       - (mya - COALESCE(dxy / NULLIF(dxx, 0), 0)
                         * (mxa - mean_x)), 6) AS diff_cuped,
                     ROUND(CASE WHEN dxx = 0 OR dyy = 0 THEN 0
                       ELSE dxy * dxy / (dxx * dyy) END, 6)
                       AS var_reduction
              FROM f""")),

    // SAMPLE-RATIO-MISMATCH health check — the gate every experiment
    // readout must pass BEFORE its effect is believed (Fabijan et al.:
    // a biased assignment invalidates q242/q243 silently): chi-square
    // of the observed arm sizes against the designed 50/50 split,
    // alarming at the 0.001 level (chi2 > 10.828, 1 dof) — SRM checks
    // run strict because a true mismatch is a PLUMBING bug, not noise.
    // Exact integer counts; chi2 = (n_a - n_b)^2 / (n_a + n_b) for the
    // equal-split design (algebraic collapse of the two-cell formula).
    // NO float anywhere (r16): the alarm gates on the cross-multiplied
    // integer inequality d^2 * 1000 > 10828 * n (exactly chi2 > 10.828
    // — the 0.001 critical value is a 3-dp literal, so the comparison
    // is exact in integers), and chi2 is emitted as half-up micros by
    // integer division. DECIMAL(38,0)/HUGEINT intermediates keep
    // d^2 * 2e6 exact to ~1e15-user corpora. One exchange: the
    // per-user distinct before arm counting (assignment is per UNIT,
    // so event volume per user must not weight the ratio).
    Q("q244_srm",
      (s, d) => {
        val arms = t(s, d, "events")
          .select(col("user_id")).distinct()
          .select(Stats.arm(col("user_id")).as("arm"))
          .agg(
            sum(when(col("arm") === 0, 1).otherwise(0)).as("n_a"),
            sum(when(col("arm") === 1, 1).otherwise(0)).as("n_b"))
        arms.select(col("n_a"), col("n_b"),
          expr("""CAST(COALESCE(
              (2000000 * CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b)
                + (n_a + n_b))
              DIV NULLIF(2 * CAST(n_a + n_b AS DECIMAL(38,0)), 0), 0)
            AS BIGINT)""").as("chi2_e6"),
          expr("""CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000
            > 10828 * CAST(n_a + n_b AS DECIMAL(38,0))""")
            .as("srm_detected"))
      },
      Some("""WITH arms AS (
                SELECT CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS arm
                FROM (SELECT DISTINCT user_id FROM events)),
              c AS (
                SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b
                FROM arms)
              SELECT n_a, n_b,
                     CAST(COALESCE(
                         (2000000 * CAST(n_a - n_b AS HUGEINT)
                            * (n_a - n_b) + (n_a + n_b))
                         // NULLIF(2 * CAST(n_a + n_b AS HUGEINT), 0), 0)
                       AS BIGINT) AS chi2_e6,
                     CAST(n_a - n_b AS HUGEINT) * (n_a - n_b) * 1000
                       > 10828 * CAST(n_a + n_b AS HUGEINT)
                       AS srm_detected
              FROM c""")),

    // Deterministic A/B readout (see [[abTest]]): md5-bucket arms,
    // exact-count two-proportion z-test. All hashed columns are
    // INTEGERS or a boolean derived from one — exact e6 micro rates
    // by integer division, the z statistic e9-regridded, significance
    // gated on the e9 long (q210 rule); the r15 ROUND(double, n)
    // emission was driver-red because ROUND-of-double is the one
    // engine-version-unstable operation (and the sf0.01 design is
    // degenerate: pool = 1 made z NaN, whose rendering diverges).
    Q("q242_ab_test",
      (s, d) => abTest(t(s, d, "events"), conversion = "purchase"),
      Some("""WITH per AS (
                SELECT user_id,
                       MAX(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS converted,
                       CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                         || ':ab'), 1, 8) AS BIGINT) % 2 AS arm
                FROM events GROUP BY user_id),
              c AS (
                SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                       CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                       CAST(SUM(CASE WHEN arm = 0 THEN converted
                         ELSE 0 END) AS BIGINT) AS conv_a,
                       CAST(SUM(CASE WHEN arm = 1 THEN converted
                         ELSE 0 END) AS BIGINT) AS conv_b
                FROM per),
              z AS (
                SELECT *,
                       CASE WHEN n_a > 0 AND n_b > 0
                         AND conv_a + conv_b > 0
                         AND conv_a + conv_b < n_a + n_b
                       THEN CAST(ROUND(
                         ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(conv_b AS DOUBLE)
                             / CAST(n_b AS DOUBLE))
                          / SQRT((CAST(conv_a + conv_b AS DOUBLE)
                                  / CAST(n_a + n_b AS DOUBLE))
                                 * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                   / CAST(n_a + n_b AS DOUBLE))
                                 * (1.0 / CAST(n_a AS DOUBLE)
                                    + 1.0 / CAST(n_b AS DOUBLE))))
                         * 1e9) AS BIGINT)
                       ELSE 0 END AS z_e9
                FROM c)
              SELECT n_a, n_b, conv_a, conv_b,
                     CAST(COALESCE((2000000 * conv_a + n_a)
                       // NULLIF(2 * n_a, 0), 0) AS BIGINT) AS rate_a_e6,
                     CAST(COALESCE((2000000 * conv_b + n_b)
                       // NULLIF(2 * n_b, 0), 0) AS BIGINT) AS rate_b_e6,
                     z_e9, ABS(z_e9) > 1960000000 AS significant
              FROM z""")),

    // Point-in-time SCD2 lookup join (see [[statePitJoin]]): every
    // purchase joined to the state run (from the other events'
    // gaps-and-islands history) valid at its instant — the
    // training-data feature join that must NOT leak the future.
    Q("q224_pit_join",
      (s, d) => statePitJoin(t(s, d, "events"), probeType = "purchase"),
      Some("""WITH np AS (
                SELECT user_id, ts, event_id, event_type,
                       CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM
                         event_type THEN 1 ELSE 0 END AS chg
                FROM events WHERE event_type <> 'purchase'
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              isl AS (
                SELECT user_id, ts, event_id, event_type,
                       SUM(chg) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
                FROM np),
              runs AS (
                SELECT user_id, ts, event_id, event_type,
                       MIN(ts) OVER (PARTITION BY user_id, island) AS vf
                FROM isl),
              u AS (
                SELECT user_id, ts, event_id,
                       {'state': event_type, 'since': vf} AS dim,
                       CAST(NULL AS BIGINT) AS probe_id
                FROM runs
                UNION ALL
                SELECT user_id, ts, event_id, NULL AS dim,
                       event_id AS probe_id
                FROM events WHERE event_type = 'purchase'),
              c AS (
                SELECT *,
                       LAST_VALUE(dim IGNORE NULLS) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS cur
                FROM u)
              SELECT event_id, user_id,
                     STRFTIME(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
                     cur.state AS state,
                     STRFTIME(cur.since, '%Y-%m-%d %H:%M:%S.%f') AS since
              FROM c WHERE probe_id IS NOT NULL
              ORDER BY event_id""")),

    // Holt double-exponential trend per user (see [[holtTrend]] and
    // functions.HoltFold): final (level, trend) + the 1-step forecast —
    // q208's EWMA lags a trending stream by design; Holt's trend state
    // is the standard fix. Same per-user collected-stream shape as
    // q208 (one user-keyed exchange, native codegen'd fold map-side
    // after it); the oracle replays the recurrence as a recursive CTE
    // with the identical (1.0 - alpha) spelling, so the match is
    // bit-exact before the display rounding.
    Q("q226_holt_trend",
      (s, d) => holtTrend(t(s, d, "events"), alpha = 0.3, beta = 0.2),
      Some("""WITH RECURSIVE e AS (
                SELECT user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS rn
                FROM events),
              n AS (SELECT user_id, COUNT(*) AS n_events
                    FROM e GROUP BY 1),
              h AS (
                SELECT user_id, rn, value AS l, CAST(0 AS DOUBLE) AS b
                FROM e WHERE rn = 1
                UNION ALL
                SELECT e.user_id, e.rn,
                       0.3*e.value + (1.0 - 0.3)*(h.l + h.b),
                       0.2*((0.3*e.value + (1.0 - 0.3)*(h.l + h.b)) - h.l)
                         + (1.0 - 0.2)*h.b
                FROM h JOIN e
                  ON e.user_id = h.user_id AND e.rn = h.rn + 1)
              SELECT h.user_id, n.n_events,
                     ROUND(h.l, 4) AS level,
                     ROUND(h.b, 4) AS trend,
                     ROUND(h.l + h.b, 4) AS forecast
              FROM h JOIN n ON n.user_id = h.user_id
                           AND h.rn = n.n_events
              ORDER BY h.user_id""")),

    // Walk-forward Holt backtest (see [[holtBacktestReport]]): does the
    // q226 forecast beat naive carry-forward? Same fold, same
    // (1.0 - alpha) spelling, error sums carried through the
    // recursive-CTE replay.
    Q("q245_holt_backtest",
      (s, d) => holtBacktestReport(t(s, d, "events"),
        alpha = 0.3, beta = 0.2),
      Some("""WITH RECURSIVE e AS (
                SELECT user_id, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS rn
                FROM events),
              n AS (SELECT user_id, COUNT(*) AS n_events
                    FROM e GROUP BY 1),
              h AS (
                SELECT user_id, rn, value AS l, CAST(0 AS DOUBLE) AS b,
                       CAST(0 AS DOUBLE) AS serr,
                       CAST(0 AS DOUBLE) AS nerr,
                       value AS prev, CAST(0 AS BIGINT) AS nf
                FROM e WHERE rn = 1
                UNION ALL
                SELECT e.user_id, e.rn,
                       0.3*e.value + (1.0 - 0.3)*(h.l + h.b),
                       0.2*((0.3*e.value + (1.0 - 0.3)*(h.l + h.b)) - h.l)
                         + (1.0 - 0.2)*h.b,
                       h.serr + ABS(e.value - (h.l + h.b)),
                       h.nerr + ABS(e.value - h.prev),
                       e.value, h.nf + 1
                FROM h JOIN e
                  ON e.user_id = h.user_id AND e.rn = h.rn + 1)
              SELECT h.user_id, h.nf AS n_forecasts,
                     h.serr / h.nf AS mae,
                     h.nerr / h.nf AS naive_mae,
                     CASE WHEN h.nerr = 0 THEN NULL
                          ELSE 1.0 - h.serr / h.nerr END
                       AS skill
              FROM h JOIN n ON n.user_id = h.user_id
                           AND h.rn = n.n_events
              WHERE h.nf >= 1
              ORDER BY h.user_id"""))
  )
}
