package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.Tables
import graft.plans.Cumulative

/** Skew-safe cumulative window aggregation — the cure for q21's scale
  * hazard, same idea as [[Sessionize]] but for prefix sums: a running
  * total windowed by customer alone sorts EVERY row of a hot customer in
  * one task. The running total is a [[Cumulative]] per customer on time
  * blocks; sums accumulate in DECIMAL, so the regrouped addition is
  * bit-identical to the single-window form (SkewSpec pins equality;
  * q58's oracle is q21's SQL with the same decimal spelling).
  */
object ScaleWindows {

  /** Per-order running total of o_totalprice within o_custkey, ordered
    * by (o_orderdate, o_orderkey). `blockCol` must be non-decreasing in
    * that order (default: calendar month).
    */
  def runningSumAtScale(
      orders: DataFrame,
      blockCol: Column = year(col("o_orderdate")) * 12 + month(col("o_orderdate"))): DataFrame =
    Cumulative.running(
      orders.select(col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("v"),
        blockCol.as("__blk")),
      Seq("o_custkey"), "__blk", Seq(col("o_orderdate"), col("o_orderkey")),
      col("v"), Cumulative.Sum, inclusive = true, "running")
      .select(col("o_orderkey"), col("o_custkey"),
        col("running").cast("double").as("running"))

  def defs: Seq[Q] = Seq(
    // Same semantics as q21 (running total per customer), through the
    // two-phase operator; decimal accumulation on both sides makes the
    // comparison exact despite the different addition grouping.
    Q("q58_running_sum_scale",
      (s, d) =>
        runningSumAtScale(Tables.load(s, d, "orders"))
          .select(col("o_orderkey"), col("running"))
          .orderBy(col("o_orderkey"))
          .limit(100),
      Some("""SELECT o_orderkey,
                     CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                          PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS DOUBLE) AS running
              FROM orders ORDER BY o_orderkey LIMIT 100""")),

    // HOPPING (sliding) event-time windows via Spark's NATIVE
    // window() generator — 2-hour windows sliding every hour, so each
    // event lands in exactly two windows (the overlap smooths the
    // tumbling grid's edge artifacts; the traffic-trend readout).
    // Epoch-aligned starts make the oracle a 2-way explode on the
    // hour grid; counts are map-side-combined per (window, ...) and
    // only observed windows emit — identical to the explode plan the
    // rolling-distinct family (q219) uses, but through the built-in
    // generator Spark codegens. Window starts render as tz-free
    // strings (the engine-neutral hashing rule).
    Q("q272_hopping_windows",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        ev.groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
              .as("w_start"),
            col("n_events"), col("n_users"))
          .orderBy(col("w_start"))
      },
      Some("""WITH ev AS (
                SELECT user_id,
                       CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS t
                FROM events),
              wins AS (
                SELECT user_id, ((t // 3600) - k.k) * 3600 AS ws
                FROM ev CROSS JOIN (VALUES (0), (1)) k(k))
              SELECT STRFTIME(TIMESTAMP '1970-01-01'
                       + ws * INTERVAL 1 SECOND,
                       '%Y-%m-%d %H:%M:%S') AS w_start,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
              FROM wins GROUP BY ws ORDER BY w_start"""))
  )
}
