package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.core.{Pins, Tables}
import graft.plans.Cumulative

/** Decision-support frontier operators: the remaining classic TPC-H
  * subquery decorrelation shapes (EXISTS with a non-equi correlated
  * predicate, a correlated scalar average, a global scalar threshold
  * plus NOT EXISTS), a distributed 2-D skyline (Pareto frontier), the
  * ranked-window family (ntile / percent_rank / cume_dist), and exact
  * rolling-window distinct users.
  *
  * Shared scale discipline (the q193/q195 house rules): no global
  * single-task windows — the skyline and the global ranks run through
  * [[graft.plans.Cumulative]]; money accumulates in DECIMAL and rounds
  * BEFORE the double cast; comparisons that gate membership (the Q22
  * threshold) are exact cross-multiplied integers, never a float
  * average; the rolling-distinct explodes each user-day into its ≤W
  * windows instead of range-joining days against the corpus.
  */
object Frontier {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Tables.load(spark, sfDir, name)

  /** Per-group 2-D skyline (Pareto frontier): rows of `df` not
    * dominated within their `grp` group, MINIMIZING `mnCol` and
    * MAXIMIZING `mxCol`. `a` dominates `b` iff `a.mn <= b.mn` and
    * `a.mx >= b.mx` with at least one strict; exact duplicates
    * dominate neither way, so both survive (the NOT EXISTS contract).
    * Both axes must be integer-valued (the q195 grid rule — callers
    * pre-grid floats, e.g. ROUND(price*100) cents); NULL on either
    * axis drops the row.
    *
    * Scale shape: a row is on the frontier iff its `mx` (i) beats the
    * best `mx` among STRICTLY cheaper rows and (ii) equals the best
    * `mx` at its own price point. Both maxima come from a per-(grp,
    * mn) aggregate — one map-side-combined shuffle, |distinct prices|
    * rows — and the first is its exclusive running max through
    * [[Cumulative]], on 256 uniform price blocks per group (a group of
    * any width never sorts in one task); the final membership test is
    * a shuffle join back on (grp, mn) plus a map-side filter.
    */
  def skyline2d(df: DataFrame, grp: String, mnCol: Column,
      mxCol: Column): DataFrame = {
    val pts = df
      .withColumn("_mn", mnCol.cast("long"))
      .withColumn("_mx", mxCol.cast("long"))
      .filter(col("_mn").isNotNull && col("_mx").isNotNull)
    val g = pts.groupBy(col(grp), col("_mn"))
      .agg(max(col("_mx")).as("_m2"))
    // m1 = best mx among strictly cheaper rows; NULL when none exist
    val pre = Cumulative.running(
      Cumulative.uniformBlocks(g, Seq(grp), col("_mn"), "_blk"), Seq(grp),
      "_blk", Seq(col("_mn")), col("_m2"), Cumulative.Max,
      inclusive = false, "_m1")
      .select(col(grp), col("_mn"), col("_m2"),
        coalesce(col("_m1"), lit(Long.MinValue)).as("_m1"))
    pts.join(pre, Seq(grp, "_mn"))
      .filter(col("_mx") > col("_m1") && col("_mx") === col("_m2"))
      .drop("_mn", "_mx", "_m1", "_m2")
  }

  /** Exact rolling-`windowDays`-day distinct users per observed event
    * day. Each (user, day) pair is deduped once, EXPLODED into the
    * ≤`windowDays` window-end days it contributes to, clipped to days
    * that actually appear in the stream, and distinct-counted per
    * window — cost is `windowDays` × |user-days|, all equi-shuffles,
    * instead of the range join (days × corpus) whose probe side
    * re-reads every event `windowDays` times. `events` needs user_id
    * and ts.
    */
  def rollingDistinctUsers(events: DataFrame, windowDays: Int): DataFrame = {
    val ud = events
      .select(col("user_id"),
        to_date(expr("CAST(ts AS TIMESTAMP)")).as("day"))
      .distinct()
    val days = ud.select(col("day").as("w")).distinct()
    ud.withColumn("w",
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))))
      .join(broadcast(days), Seq("w"), "left_semi")
      .groupBy(col("w"))
      .agg(countDistinct(col("user_id")).as(s"users_${windowDays}d"))
      .select(date_format(col("w"), "yyyy-MM-dd").as("day"),
        col(s"users_${windowDays}d"))
      .orderBy(col("day"))
  }

  /** One-sided CUSUM drift detection over per-type daily event counts
    * (Page 1954): per event type, the running statistic
    * S_i = max(0, S_{i-1} + N·x_i − Σx) over the DENSE day grid (every
    * observed day × every type, zeros filled — a type going quiet must
    * keep decaying the statistic), alarming when S exceeds Σx. All
    * arithmetic is N-scaled INTEGERS (N·x − Σx is the deviation from
    * the type's own mean cross-multiplied by the day count), so the
    * sequential fold is exact — no float accumulation order anywhere.
    *
    * Scale: the grid is |types| × |days| — both bounded by contract
    * (dozens of types, the retention window of days), so the per-type
    * collected sequence is a bounded artifact like q208's per-user
    * streams, and the fold is ONE `aggregate` over ≤|days| elements
    * per type. The only corpus-sized work is the (type, day) count
    * aggregate: one map-side-combined shuffle of the raw stream.
    */
  def cusumDaily(events: DataFrame): DataFrame = {
    val counts = events
      .select(col("event_type"),
        to_date(expr("CAST(ts AS TIMESTAMP)")).as("day"))
      .groupBy(col("event_type"), col("day"))
      .agg(count(lit(1)).as("x"))
    val types = counts.select(col("event_type")).distinct()
    val days = counts.select(col("day")).distinct()
    val nDays = days.agg(count(lit(1)).as("n_days"))
    val grid = types.crossJoin(days)
      .join(counts, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val folded = grid
      .groupBy(col("event_type"))
      .agg(sum(col("x")).as("sum_t"),
        sort_array(collect_list(struct(col("day"), col("x")))).as("seq"))
      .crossJoin(broadcast(nDays))
      .withColumn("cs", expr(
        """aggregate(seq,
             named_struct('s', CAST(0 AS BIGINT),
               'out', CAST(array() AS array<struct<day:date,s:bigint>>)),
             (acc, e) -> named_struct(
               's', greatest(CAST(0 AS BIGINT),
                      acc.s + n_days * e.x - sum_t),
               'out', array_append(acc.out, named_struct(
                 'day', e.day,
                 's', greatest(CAST(0 AS BIGINT),
                        acc.s + n_days * e.x - sum_t)))),
             acc -> acc.out)"""))
    folded
      .select(col("event_type"), col("sum_t"), explode(col("cs")).as("e"))
      .select(col("event_type"),
        date_format(col("e.day"), "yyyy-MM-dd").as("day"),
        col("e.s").as("cusum"),
        (col("e.s") > col("sum_t")).as("alarm"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Exact GLOBAL dense row-rank (1..n by ascending (`xName`,
    * `idName`)) without a single-task sort: a [[Cumulative]] rank on
    * 256 uniform value blocks, so equal values share a block. Adds a
    * `rank` long column; both inputs must be non-null integral columns.
    */
  def blockRank(df: DataFrame, xName: String, idName: String): DataFrame =
    Cumulative.running(Cumulative.uniformBlocks(df, Nil, col(xName), "_rblk"),
      Nil, "_rblk", Seq(col(xName), col(idName)), lit(1L),
      Cumulative.Sum, inclusive = true, "rank")
      .drop("_rblk")

  /** q231's exact Gini fold on any (id, x4) frame with non-negative
    * DECIMAL(38,0) values — exposed for planted specs. Returns one row
    * (n DECIMAL-cast long, sx DECIMAL, gini double): G = (2·Σ rank·x −
    * (n+1)·Σx)/(n·Σx) over ascending (x4, id) ranks from
    * [[blockRank]], every sum exact DECIMAL(38,0), ONE double division.
    */
  def giniExact(rev: DataFrame): DataFrame = {
    val dec = "decimal(38,0)"
    blockRank(rev, "x4", "id")
      .select(col("x4"), col("rank").cast(dec).as("rank"))
      .agg(count(lit(1)).cast(dec).as("nD"),
        sum(col("x4")).as("sx"),
        sum(col("rank") * col("x4")).as("srx"))
      .select(col("nD").cast("long").as("n"), col("sx"),
        round((lit(2) * col("srx") - (col("nD") + 1) * col("sx"))
          .cast("double") /
          (col("nD") * col("sx")).cast("double"), 6).as("gini"))
  }

  /** q220's Pearson fold on any directed edge list with integer-valued
    * per-row x/y — exposed for [[graft.llm.Dedup.degreeAssortativity]]
    * and the spec's planted graphs. Sums accumulate in DECIMAL(38,0)
    * (exact; x,y and the counts are integers — fits through ~1e12
    * edges at degree ~1e6, the 100 TB envelope), with ONE double
    * division and sqrt at the end, so the statistic is bit-stable
    * under any aggregation order.
    */
  def pearsonExact(xy: DataFrame, x: Column, y: Column,
      outName: String): DataFrame = {
    val dec = "decimal(38,0)"
    val a = xy.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(x.cast(dec)).as("sx"),
      sum(y.cast(dec)).as("sy"),
      sum(x.cast(dec) * y.cast(dec)).as("sxy"),
      sum(x.cast(dec) * x.cast(dec)).as("sxx"),
      sum(y.cast(dec) * y.cast(dec)).as("syy"))
    val dxx = col("n") * col("sxx") - col("sx") * col("sx")
    val dyy = col("n") * col("syy") - col("sy") * col("sy")
    a.select(col("n").cast("long").as("n_edges"),
      when(dxx === 0 || dyy === 0, lit(null).cast("double"))
        .otherwise(round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt(dxx.cast("double") * dyy.cast("double")), 6))
        .as(outName))
  }

  def defs: Seq[Q] = Seq(
    // TPC-H Q4 shape — order-priority counts of orders with a LATE
    // line (shipped >60 days after the order date): a correlated
    // EXISTS whose predicate mixes an equi key with a non-equi
    // cross-table comparison. Declared as a left-semi join carrying
    // both conditions, so Catalyst keeps the equi part as the shuffle
    // key and evaluates the date comparison as join residual — the
    // decorrelated plan a SQL EXISTS compiles to, with the date-range
    // filter pushed to the orders scan.
    Q("q214_tpch_q4",
      (s, d) => {
        val ord = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01") &&
            col("o_orderdate") < lit("1996-04-01"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"))
        ord.join(li,
            col("l_orderkey") === col("o_orderkey") &&
              col("l_shipdate") >
                col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("order_count"))
          .orderBy(col("o_orderpriority"))
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS order_count
              FROM orders
              WHERE o_orderdate >= DATE '1996-01-01'
                AND o_orderdate < DATE '1996-04-01'
                AND EXISTS (
                  SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
              GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // TPC-H Q17 shape — revenue from small-quantity orders of one
    // brand's parts: lines whose quantity undercuts 20% of the part's
    // own average. The correlated scalar AVG decorrelates to a
    // per-part aggregate joined back; the brand filter semi-joins
    // lineitem against the ~|parts|/25 broadcast key list FIRST, so
    // both the aggregate and the probe run over the brand's slice,
    // never the whole fact table (partkey determines the part, so the
    // restricted per-part average equals the global one). Quantities
    // are integer-valued, so the average is an exact-integer division
    // and the 0.2× threshold compare is reproducible across engines;
    // revenue sums in DECIMAL and rounds before the double cast.
    Q("q215_tpch_q17",
      (s, d) => {
        val bp = t(s, d, "part")
          .filter(col("p_brand") === "Brand#23")
          .select(col("p_partkey"))
        val li = t(s, d, "lineitem")
          .join(broadcast(bp), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_quantity"),
            col("l_extendedprice"))
        val pavg = li.groupBy(col("l_partkey"))
          .agg(avg(col("l_quantity")).as("aq"))
        li.join(pavg, Seq("l_partkey"))
          .filter(col("l_quantity") < lit(0.2) * col("aq"))
          .agg(count(lit(1)).as("n_lines"),
            (round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
              .cast("double") / 7.0).as("avg_yearly"))
      },
      Some("""SELECT COUNT(*) AS n_lines,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))),
                       2) AS DOUBLE) / 7.0 AS avg_yearly
              FROM lineitem
              JOIN part ON p_partkey = l_partkey
              WHERE p_brand = 'Brand#23'
                AND l_quantity < (
                  SELECT 0.2 * AVG(l_quantity) FROM lineitem l2
                  WHERE l2.l_partkey = p_partkey)""")),

    // TPC-H Q22 shape — per market segment, the dormant rich: count
    // and balance of customers above the positive-balance average with
    // no order since 1999. The global-average gate compares EXACT
    // integers cross-multiplied (bal·n > total, both DECIMAL — a float
    // average threshold puts membership on a representation-dependent
    // boundary), the 1-row aggregate broadcasts, and the "no recent
    // order" is a left-anti join whose probe side is pre-filtered by
    // the pushed date predicate.
    Q("q216_tpch_q22",
      (s, d) => {
        val cust = t(s, d, "customer")
        val thr = cust.filter(col("c_acctbal") > 0)
          .agg(sum(col("c_acctbal").cast("decimal(18,2)")).as("s"),
            count(lit(1)).cast("decimal(18,0)").as("n"))
        val recent = t(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1999-01-01"))
          .select(col("o_custkey"))
        cust.crossJoin(broadcast(thr))
          .filter(col("c_acctbal").cast("decimal(18,2)") * col("n") >
            col("s"))
          .join(recent, col("o_custkey") === col("c_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("numcust"),
            round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
              .cast("double").as("totacctbal"))
          .orderBy(col("c_mktsegment"))
      },
      Some("""WITH t AS (
                SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s,
                       COUNT(*) AS n
                FROM customer WHERE c_acctbal > 0)
              SELECT c_mktsegment, COUNT(*) AS numcust,
                     CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2)
                       AS DOUBLE) AS totacctbal
              FROM customer, t
              WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n > s
                AND NOT EXISTS (
                  SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '1999-01-01')
              GROUP BY c_mktsegment
              ORDER BY c_mktsegment""")),

    // Per-brand price/size skyline: the parts no same-brand part beats
    // on BOTH cheapness and size — the catalog-curation frontier (see
    // [[skyline2d]] for the two-phase block shape). Price rides the
    // integer-cent grid; output ordered by (brand, price, partkey).
    Q("q217_skyline",
      (s, d) => skyline2d(t(s, d, "part"), "p_brand",
          expr("CAST(ROUND(p_retailprice * 100) AS BIGINT)"), col("p_size"))
        .select(col("p_brand"), col("p_partkey"),
          round(col("p_retailprice").cast("double"), 2).as("price"),
          col("p_size"))
        .orderBy(col("p_brand"), col("price"), col("p_partkey")),
      Some("""SELECT p_brand, p_partkey,
                     ROUND(CAST(p_retailprice AS DOUBLE), 2) AS price,
                     p_size
              FROM part a
              WHERE NOT EXISTS (
                SELECT 1 FROM part b
                WHERE b.p_brand = a.p_brand
                  AND b.p_retailprice <= a.p_retailprice
                  AND b.p_size >= a.p_size
                  AND (b.p_retailprice < a.p_retailprice
                       OR b.p_size > a.p_size))
              ORDER BY p_brand, price, p_partkey""")),

    // Ranked-window family — ntile(4) / percent_rank / cume_dist over
    // each customer's orders by price, aggregated to a (priority,
    // quartile) grid. The windows partition by o_custkey (corpus-many
    // parallel partitions, never a global sort); the ORDER BY includes
    // the unique orderkey so rank has no peer groups and all three
    // functions are deterministic. With no peers, percent_rank is the
    // exact rational (rn-1)/(n-1) and cume_dist is rn/n, so the micro
    // grids come from INTEGER arithmetic — half-up of a/b is
    // (2e6*a + b) DIV (2*b) — never from ROUND of a double product
    // (r15's `ROUND(1e6 * percent_rank())` was driver-red: the one
    // cross-engine-unstable operation), and the sums stay exact longs
    // (the q58 discipline).
    Q("q218_rank_family",
      (s, d) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val wp = Window.partitionBy(col("o_custkey"))
        t(s, d, "orders")
          .select(col("o_orderpriority"),
            ntile(4).over(w).as("quartile"),
            row_number().over(w).cast("long").as("rn"),
            count(lit(1)).over(wp).as("n"))
          .select(col("o_orderpriority"), col("quartile"),
            expr("COALESCE((2000000 * (rn - 1) + (n - 1)) " +
              "DIV NULLIF(2 * (n - 1), 0), 0)").as("pr6"),
            expr("(2000000 * rn + n) DIV (2 * n)").as("cd6"))
          .groupBy(col("o_orderpriority"), col("quartile"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("pr6")).as("sum_pr6"),
            sum(col("cd6")).as("sum_cd6"))
          .orderBy(col("o_orderpriority"), col("quartile"))
      },
      Some("""WITH r AS (
                SELECT o_orderpriority,
                       NTILE(4) OVER w AS quartile,
                       CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                       CAST(COUNT(*) OVER
                         (PARTITION BY o_custkey) AS BIGINT) AS n
                FROM orders
                WINDOW w AS (PARTITION BY o_custkey
                             ORDER BY o_totalprice DESC, o_orderkey)),
              m AS (
                SELECT o_orderpriority, quartile,
                       COALESCE((2000000 * (rn - 1) + (n - 1))
                         // NULLIF(2 * (n - 1), 0), 0) AS pr6,
                       (2000000 * rn + n) // (2 * n) AS cd6
                FROM r)
              SELECT o_orderpriority, quartile, COUNT(*) AS n_orders,
                     CAST(SUM(pr6) AS BIGINT) AS sum_pr6,
                     CAST(SUM(cd6) AS BIGINT) AS sum_cd6
              FROM m GROUP BY 1, 2 ORDER BY 1, 2""")),

    // Exact 7-day rolling distinct users per observed day (see
    // [[rollingDistinctUsers]] for the explode-vs-range-join shape).
    Q("q219_rolling_users",
      (s, d) => rollingDistinctUsers(t(s, d, "events"), windowDays = 7),
      Some("""WITH ud AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
              days AS (SELECT DISTINCT day FROM ud)
              SELECT STRFTIME(d.day, '%Y-%m-%d') AS day,
                     COUNT(DISTINCT u.user_id) AS users_7d
              FROM days d
              JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
              GROUP BY d.day ORDER BY day""")),

    // TPC-H Q14 (promo revenue share): one month's shipped revenue
    // split by whether the part is PROMO-typed. Shape: the date filter
    // pushes to the lineitem scan, the part dimension broadcasts, and
    // the conditional split is ONE aggregate with two CASE sums — not
    // two scans. DECIMAL sums round(2) BEFORE the double cast; the
    // share is one double division rounded 4 (the q205 discipline).
    Q("q227_tpch_q14",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-02-01"))
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"), col("p_type"))),
            col("l_partkey") === col("p_partkey"))
          .agg(
            round(sum(when(col("p_type") === "PROMO", rev)), 2)
              .cast("double").as("promo_revenue"),
            round(sum(rev), 2).cast("double").as("total_revenue"))
          .select(col("promo_revenue"), col("total_revenue"),
            round(lit(100.0) * col("promo_revenue") /
              col("total_revenue"), 4).as("promo_share"))
      },
      Some("""SELECT promo_revenue, total_revenue,
                     ROUND(100.0 * promo_revenue / total_revenue, 4)
                       AS promo_share
              FROM (
                SELECT CAST(ROUND(SUM(CASE WHEN p_type = 'PROMO' THEN
                         CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(4,2)) END), 2)
                       AS DOUBLE) AS promo_revenue,
                       CAST(ROUND(SUM(
                         CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(4,2))), 2)
                       AS DOUBLE) AS total_revenue
                FROM lineitem
                JOIN part ON p_partkey = l_partkey
                WHERE l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1996-02-01') t""")),

    // TPC-H Q19 shape (disjunctive multi-attribute predicates): revenue
    // from lines matching any of three (brand, size-range, qty-range)
    // triples — the OR-of-ANDs join residual that exercises predicate
    // normalization. Shape: the common `p_size >= 1` conjunct and the
    // partkey equi-key stay pushable; the dimension broadcasts; the
    // disjunction evaluates as ONE residual, never three scans.
    Q("q228_tpch_q19",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        val cond =
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 10) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 20) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 30) &&
            col("l_quantity").between(20, 30))
        t(s, d, "lineitem")
          .join(broadcast(t(s, d, "part")
            .select(col("p_partkey"), col("p_brand"), col("p_size"))),
            col("l_partkey") === col("p_partkey") && cond)
          .agg(count(lit(1)).as("n_lines"),
            round(sum(rev), 2).cast("double").as("revenue"))
      },
      Some("""SELECT COUNT(*) AS n_lines,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                       AS revenue
              FROM lineitem
              JOIN part ON p_partkey = l_partkey
              WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10
                     AND l_quantity BETWEEN 1 AND 11)
                 OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20
                     AND l_quantity BETWEEN 10 AND 20)
                 OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
                     AND l_quantity BETWEEN 20 AND 30)""")),

    // DAU/WAU stickiness — per observed day, the 1-day and trailing
    // 7-day distinct-user counts and their ratio (the growth-analytics
    // staple). Both counts are [[rollingDistinctUsers]] runs (window
    // 1 = plain DAU), joined on the |days|-sized grid; the ratio is
    // ONE double division rounded 4. Scale = two q219 envelopes plus
    // a summary-sized join.
    Q("q229_stickiness",
      (s, d) => {
        val ev = t(s, d, "events")
        val dau = rollingDistinctUsers(ev, 1)
          .withColumnRenamed("users_1d", "dau")
        val wau = rollingDistinctUsers(ev, 7)
          .withColumnRenamed("users_7d", "wau")
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            round(col("dau").cast("double") / col("wau"), 4)
              .as("stickiness"))
          .orderBy(col("day"))
      },
      Some("""WITH ud AS (
                SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                FROM events),
              days AS (SELECT DISTINCT day FROM ud),
              dau AS (
                SELECT d.day, COUNT(DISTINCT u.user_id) AS dau
                FROM days d JOIN ud u ON u.day = d.day
                GROUP BY d.day),
              wau AS (
                SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
                FROM days d
                JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
                GROUP BY d.day)
              SELECT STRFTIME(dau.day, '%Y-%m-%d') AS day, dau, wau,
                     ROUND(CAST(dau AS DOUBLE) / wau, 4) AS stickiness
              FROM dau JOIN wau ON wau.day = dau.day
              ORDER BY day""")),

    // Gini coefficient of supplier revenue — the single-number
    // concentration complement to q193's ABC classes: G =
    // (2·Σ rank·x − (n+1)·Σx) / (n·Σx) over ascending (revenue,
    // suppkey) ranks. Revenue rides exact e4-scaled integers (the
    // decimal(18,2)×(4,2) product has scale 4, so ×10000 is integral)
    // and every sum is DECIMAL(38,0) — the statistic has ONE double
    // division at the end. The global rank is [[blockRank]] — the
    // supplier population scales with the corpus and never sorts in
    // one task.
    Q("q231_gini",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .select(col("l_suppkey").as("id"),
            (col("l_extendedprice").cast("decimal(18,2)") *
              (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
              .as("r"))
          .groupBy(col("id"))
          .agg((sum(col("r")) * 10000).cast("decimal(38,0)").as("x4"))
        giniExact(rev)
          .select(col("n").as("n_suppliers"),
            round((col("sx") / 10000).cast("double"), 2)
              .as("total_revenue"),
            col("gini"))
      },
      Some("""WITH rev AS (
                SELECT l_suppkey,
                       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                         * CAST(1.0 - l_discount AS DECIMAL(4,2)))
                         * 10000 AS HUGEINT) AS x4
                FROM lineitem GROUP BY 1),
              rk AS (
                SELECT x4,
                       CAST(ROW_NUMBER() OVER (ORDER BY x4, l_suppkey)
                         AS HUGEINT) AS rank
                FROM rev),
              s AS (
                SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x4) AS sx,
                       SUM(rank * x4) AS srx
                FROM rk)
              SELECT CAST(n AS BIGINT) AS n_suppliers,
                     ROUND(CAST(sx AS DOUBLE) / 10000, 2)
                       AS total_revenue,
                     ROUND(CAST(2*srx - (n+1)*sx AS DOUBLE) /
                       CAST(n*sx AS DOUBLE), 6) AS gini
              FROM s""")),

    // TPC-H Q7 shape (volume shipping): revenue between two trading
    // nations, per (supplier nation, customer nation, ship year),
    // counting BOTH directions of the pair. Shape: both nation dims
    // broadcast into their fact sides BEFORE the big join, so the
    // direction disjunction evaluates over two pre-tagged slim inputs;
    // the fact-fact join keys on orderkey; the aggregate exchange
    // carries a 2×|years| grid.
    Q("q232_tpch_q7",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        val supp = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name").as("supp_nation"))),
            col("s_nationkey") === col("n_nationkey"))
          .filter(col("supp_nation").isin("NATION_1", "NATION_2"))
          .select(col("s_suppkey"), col("supp_nation"))
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name").as("cust_nation"))),
            col("c_nationkey") === col("n_nationkey"))
          .filter(col("cust_nation").isin("NATION_1", "NATION_2"))
          .select(col("c_custkey"), col("cust_nation"))
        t(s, d, "lineitem")
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(t(s, d, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).as("l_year"))
          .agg(round(sum(rev), 2).cast("double").as("revenue"))
          .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      },
      Some("""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                     CAST(YEAR(l_shipdate) AS INT) AS l_year,
                     CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(4,2))), 2) AS DOUBLE)
                       AS revenue
              FROM lineitem
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation sn ON sn.n_nationkey = s_nationkey
              JOIN orders ON o_orderkey = l_orderkey
              JOIN customer ON c_custkey = o_custkey
              JOIN nation cn ON cn.n_nationkey = c_nationkey
              WHERE sn.n_name IN ('NATION_1', 'NATION_2')
                AND cn.n_name IN ('NATION_1', 'NATION_2')
                AND sn.n_name <> cn.n_name
              GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // TPC-H Q8 shape (national market share): NATION_3 suppliers'
    // revenue share within ASIA customers' orders, per order year.
    // Shape: the share is ONE aggregate with a conditional numerator
    // (never two scans); region/nation broadcast; DECIMAL sums round
    // BEFORE the double cast, one double division per year row.
    Q("q233_tpch_q8",
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(4,2)"))
        val cust = t(s, d, "customer")
          .join(broadcast(t(s, d, "nation")
            .join(broadcast(t(s, d, "region")
              .filter(col("r_name") === "ASIA")),
              col("n_regionkey") === col("r_regionkey"))
            .select(col("n_nationkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"))
        val supp = t(s, d, "supplier")
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name").as("sn"))),
            col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("sn"))
        t(s, d, "lineitem")
          .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).as("o_year"))
          .agg(
            round(sum(when(col("sn") === "NATION_3", rev)), 2)
              .cast("double").as("nation_revenue"),
            round(sum(rev), 2).cast("double").as("total_revenue"))
          .select(col("o_year"),
            coalesce(col("nation_revenue"), lit(0.0)).as("nation_revenue"),
            col("total_revenue"),
            round(coalesce(col("nation_revenue"), lit(0.0)) /
              col("total_revenue"), 4).as("mkt_share"))
          .orderBy(col("o_year"))
      },
      Some("""WITH asiac AS (
                SELECT c_custkey FROM customer
                JOIN nation ON n_nationkey = c_nationkey
                JOIN region ON r_regionkey = n_regionkey
                WHERE r_name = 'ASIA'),
              base AS (
                SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
                       sn.n_name AS sn,
                       CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(4,2)) AS r
                FROM lineitem
                JOIN orders ON o_orderkey = l_orderkey
                JOIN supplier ON s_suppkey = l_suppkey
                JOIN nation sn ON sn.n_nationkey = s_nationkey
                WHERE o_custkey IN (SELECT c_custkey FROM asiac)),
              agg AS (
                SELECT o_year,
                       CAST(ROUND(SUM(CASE WHEN sn = 'NATION_3'
                         THEN r END), 2) AS DOUBLE) AS nation_revenue,
                       CAST(ROUND(SUM(r), 2) AS DOUBLE) AS total_revenue
                FROM base GROUP BY 1)
              SELECT o_year,
                     COALESCE(nation_revenue, 0.0) AS nation_revenue,
                     total_revenue,
                     ROUND(COALESCE(nation_revenue, 0.0) / total_revenue,
                       4) AS mkt_share
              FROM agg ORDER BY o_year""")),

    // TPC-H Q13 shape (customer order-count distribution): how many
    // customers placed exactly k qualifying orders, INCLUDING the
    // zero-order customers the outer join preserves. Scale shape:
    // orders pre-aggregate to one (custkey, count) row per customer
    // BEFORE the outer join (map-side combined), so the join carries
    // |customers| + |buying customers| slim rows, never raw orders;
    // both exchanges hash on custkey; the distribution re-aggregate
    // is ≤|distinct k| rows.
    Q("q234_tpch_q13",
      (s, d) => {
        val oc = t(s, d, "orders")
          .filter(col("o_orderpriority") =!= "1-URGENT")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("c_count"))
        t(s, d, "customer").select(col("c_custkey"))
          .join(oc, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(coalesce(col("c_count"), lit(0L)).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))
          .orderBy(col("custdist").desc, col("c_count").desc)
      },
      Some("""SELECT c_count, COUNT(*) AS custdist
              FROM (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT OUTER JOIN orders
                  ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey) c_orders
              GROUP BY c_count
              ORDER BY custdist DESC, c_count DESC""")),

    // TPC-H Q15 shape (top supplier): supplier(s) whose quarterly
    // revenue EQUALS the global maximum — the scalar-subquery-on-an-
    // aggregate shape. The equality gate compares the rounded DECIMAL
    // revenues (exact, reproducible across engines — the q195 house
    // rule), never a float. Scale shape: one map-side-combined
    // aggregate to |suppliers| rows, a 1-row global max broadcast back
    // over it, and the ~1-row winner set broadcast into the supplier
    // dim probe — the fact table is scanned once, date-pruned.
    Q("q235_tpch_q15",
      (s, d) => {
        val rev = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1996-04-01"))
          .groupBy(col("l_suppkey"))
          .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1.0) - col("l_discount")).cast("decimal(4,2)")), 2)
            .as("total_revenue"))
        val mx = rev.agg(max(col("total_revenue")).as("mx"))
        val winners = rev.join(broadcast(mx),
          col("total_revenue") === col("mx"))
        t(s, d, "supplier")
          .join(broadcast(winners), col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"),
            col("total_revenue").cast("double").as("total_revenue"))
          .orderBy(col("s_suppkey"))
      },
      Some("""WITH rev AS (
                SELECT l_suppkey,
                       ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                         CAST(1.0 - l_discount AS DECIMAL(4,2))), 2)
                         AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= DATE '1996-01-01'
                  AND l_shipdate < DATE '1996-04-01'
                GROUP BY 1)
              SELECT s_suppkey, s_name,
                     CAST(total_revenue AS DOUBLE) AS total_revenue
              FROM rev JOIN supplier ON s_suppkey = l_suppkey
              WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
              ORDER BY s_suppkey""")),

    // TPC-H Q21 shape (suppliers who kept orders waiting): on finished
    // multi-supplier orders, charge the UNIQUE supplier whose last
    // ship date is the order's latest — the classic EXISTS (another
    // supplier participated) + NOT EXISTS (no other supplier shipped
    // as late) double-correlated shape, with l_shipdate standing in
    // for the receipt/commit columns the test schema omits. Scale
    // shape: the correlated pair decorrelates to ONE per-order window
    // over the ≤|suppliers-per-order| (orderkey, suppkey, last-ship)
    // rows (bounded by order width, never population-sized), after a
    // map-side-combined (orderkey, suppkey) pre-aggregate; the 'F'
    // status gate is a semi join on the order key; numwait
    // re-aggregates to |suppliers| rows before the dim probe.
    Q("q236_tpch_q21",
      (s, d) => {
        // ONE fact exchange for the whole per-order stage: hash on
        // l_orderkey alone satisfies the (orderkey, suppkey)
        // aggregate's ClusteredDistribution (subset rule), the
        // per-order window, the charged re-aggregate AND the semi
        // join's left side — without it Catalyst plans two fact-sized
        // exchanges (agg on the pair, window on the order key),
        // measured ~2x the shuffle bytes at the 10x rehearsal.
        val os = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
          .repartition(col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("l_suppkey"))
          .agg(max(col("l_shipdate")).as("sd"))
        val w = Window.partitionBy(col("l_orderkey"))
        val charged = os
          .withColumn("s_cnt", count(lit(1)).over(w))
          .withColumn("mx", max(col("sd")).over(w))
          .filter(col("s_cnt") >= 2 && col("sd") === col("mx"))
          .groupBy(col("l_orderkey"))
          .agg(count(lit(1)).as("last_cnt"),
            max(col("l_suppkey")).as("l_suppkey"))
          .filter(col("last_cnt") === 1)
        val fOrders = t(s, d, "orders")
          .filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"))
        charged
          .join(fOrders, col("l_orderkey") === col("o_orderkey"),
            "left_semi")
          .groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(t(s, d, "supplier"),
            col("s_suppkey") === col("l_suppkey"))
          .select(col("s_suppkey"), col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_suppkey"))
      },
      Some("""WITH os AS (
                SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS sd
                FROM lineitem GROUP BY 1, 2)
              SELECT s_suppkey, s_name, COUNT(*) AS numwait
              FROM os o1
              JOIN supplier ON s_suppkey = o1.l_suppkey
              WHERE o1.l_orderkey IN (
                  SELECT o_orderkey FROM orders
                  WHERE o_orderstatus = 'F')
                AND EXISTS (
                  SELECT 1 FROM os o2
                  WHERE o2.l_orderkey = o1.l_orderkey
                    AND o2.l_suppkey <> o1.l_suppkey)
                AND NOT EXISTS (
                  SELECT 1 FROM os o3
                  WHERE o3.l_orderkey = o1.l_orderkey
                    AND o3.l_suppkey <> o1.l_suppkey
                    AND o3.sd >= o1.sd)
              GROUP BY 1, 2
              ORDER BY numwait DESC, s_suppkey""")),

    // TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    // counts per (brand, type, size) over the lineitem-derived
    // part-supplier relation, EXCLUDING complaint suppliers via true
    // NOT IN — the null-aware anti join, the one subquery shape q19's
    // EXISTS pair deliberately does not cover (NOT IN returns zero
    // rows if the subquery yields a NULL; NOT EXISTS doesn't). The
    // join condition is written as the exact
    // `Or(EqualTo, IsNull(EqualTo))` pattern Spark's
    // ExtractSingleColumnNullAwareAntiJoin recognizes, so it plans as
    // a broadcast null-aware anti join over the tiny exclusion list —
    // never the nested-loop fallback (plan-pinned in FrontierSpec).
    // Scale shape: the (partkey, suppkey) distinct is the one
    // fact-sized exchange; the part-dim probe shuffles on partkey with
    // the brand/size filters pushed to the part scan; countDistinct
    // re-aggregates on the small (brand, type, size) grid.
    Q("q238_tpch_q16",
      (s, d) => {
        val ps = t(s, d, "lineitem")
          .select(col("l_partkey"), col("l_suppkey")).distinct()
        val excl = t(s, d, "supplier")
          .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
        val eq = col("l_suppkey") === col("s_suppkey")
        val clean = ps.join(excl, eq || eq.isNull, "left_anti")
        val dims = t(s, d, "part")
          .filter(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 33))
          .select(col("p_partkey"), col("p_brand"), col("p_type"),
            col("p_size"))
        clean.join(dims, col("p_partkey") === col("l_partkey"))
          .groupBy(col("p_brand"), col("p_type"), col("p_size"))
          .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
          .orderBy(col("supplier_cnt").desc, col("p_brand"),
            col("p_type"), col("p_size"))
      },
      Some("""SELECT p_brand, p_type, p_size,
                     COUNT(DISTINCT l_suppkey) AS supplier_cnt
              FROM (SELECT DISTINCT l_partkey, l_suppkey
                    FROM lineitem) ps
              JOIN part ON p_partkey = l_partkey
              WHERE p_brand <> 'Brand#1'
                AND p_size IN (1, 4, 9, 14, 19, 24, 28, 33)
                AND l_suppkey NOT IN (
                  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
              GROUP BY 1, 2, 3
              ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")),

    // RFM SEGMENTATION — the classic customer-base partition by
    // recency/frequency/monetary quintiles (scores 1-5 each, 555 =
    // champions): per customer, days since last order, order count,
    // and lifetime spend in exact DECIMAL cents, each ranked GLOBALLY
    // by the two-phase [[blockRank]] (no single-task sort at any
    // customer population) and bucketed by the exact NTILE(5) integer
    // formula — first (n mod 5) buckets take one extra row, matching
    // SQL NTILE bit-for-bit so the quintile boundaries are
    // reproducible across engines (FrontierSpec pins the formula
    // against Spark's own ntile). One orders scan, one custkey
    // aggregate; each rank adds a fact-slim exchange of (cid, metric)
    // rows plus a ≤256-row broadcast window; output is the ≤125-cell
    // segment grid.
    Q("q241_rfm",
      (s, d) => Pins { pins =>
        val refd = t(s, d, "orders")
          .agg(max(col("o_orderdate")).as("refd"))
        val per = pins.pin(t(s, d, "orders")
          .groupBy(col("o_custkey"))
          .agg(max(col("o_orderdate")).as("last_o"),
            count(lit(1)).as("f"),
            sum(col("o_totalprice").cast("decimal(18,2)")).as("mdec"))
          .crossJoin(broadcast(refd))
          .select(col("o_custkey").as("cid"),
            datediff(col("refd"), col("last_o")).cast("long").as("r_days"),
            col("f"), (col("mdec") * 100).cast("long").as("m_cents")))
        // `per` is the |customers|-row frame, pinned ONCE: each
        // blockRank's bounds aggregate and window pass would otherwise
        // re-execute the orders scan+aggregate — measured 2x wall at
        // the 10x ord rehearsal
        val ranked = Seq(("r_days", "r_rank"), ("f", "f_rank"),
          ("m_cents", "m_rank")).foldLeft(per) { case (df, (m, out)) =>
            blockRank(df, m, "cid").withColumnRenamed("rank", out)
          }
        // exact SQL NTILE(5) from the global rank: base = n div 5,
        // the first (n mod 5) buckets hold base+1 rows
        def nt(rank: String): Column = expr(
          s"CASE WHEN $rank <= (n % 5) * (n DIV 5 + 1) " +
          s"THEN ($rank - 1) DIV (n DIV 5 + 1) + 1 " +
          s"ELSE (n % 5) + ($rank - 1 - (n % 5) * (n DIV 5 + 1)) " +
          s"DIV (n DIV 5) + 1 END")
        val grid = ranked
          .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
          .select((lit(6) - nt("r_rank")).cast("int").as("r_score"),
            nt("f_rank").cast("int").as("f_score"),
            nt("m_rank").cast("int").as("m_score"))
          .groupBy(col("r_score"), col("f_score"), col("m_score"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy(col("r_score"), col("f_score"), col("m_score"))
        pins.land(grid) // the ≤125-cell grid
      },
      Some("""WITH per AS (
                SELECT o_custkey AS cid, MAX(o_orderdate) AS last_o,
                       COUNT(*) AS f,
                       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100
                         AS BIGINT) AS m_cents
                FROM orders GROUP BY 1),
              per2 AS (
                SELECT cid,
                       DATE_DIFF('day', CAST(last_o AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE)
                          FROM orders)) AS r_days,
                       f, m_cents
                FROM per),
              q AS (
                SELECT NTILE(5) OVER (ORDER BY r_days, cid) AS rq,
                       NTILE(5) OVER (ORDER BY f, cid) AS fq,
                       NTILE(5) OVER (ORDER BY m_cents, cid) AS mq
                FROM per2)
              SELECT CAST(6 - rq AS INT) AS r_score,
                     CAST(fq AS INT) AS f_score,
                     CAST(mq AS INT) AS m_score,
                     COUNT(*) AS n_customers
              FROM q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // CUSUM drift detection on per-type daily volumes (see
    // [[cusumDaily]]): exact N-scaled integer fold, alarm when the
    // cumulative excess over the type's own mean exceeds one total.
    Q("q223_cusum",
      (s, d) => cusumDaily(t(s, d, "events")),
      Some("""WITH RECURSIVE counts AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       COUNT(*) AS x
                FROM events GROUP BY 1, 2),
              days AS (SELECT DISTINCT day FROM counts),
              nd AS (SELECT COUNT(*) AS n_days FROM days),
              grid AS (
                SELECT t.event_type, d.day, COALESCE(c.x, 0) AS x
                FROM (SELECT DISTINCT event_type FROM counts) t
                CROSS JOIN days d
                LEFT JOIN counts c
                  ON c.event_type = t.event_type AND c.day = d.day),
              tot AS (
                SELECT event_type, SUM(x) AS sum_t
                FROM grid GROUP BY 1),
              g2 AS (
                SELECT g.event_type, g.day, g.x,
                       ROW_NUMBER() OVER (PARTITION BY g.event_type
                         ORDER BY g.day) AS rn,
                       tot.sum_t, nd.n_days
                FROM grid g
                JOIN tot USING (event_type) CROSS JOIN nd),
              c AS (
                SELECT event_type, day, x, rn, sum_t, n_days,
                       GREATEST(0, n_days * x - sum_t) AS s
                FROM g2 WHERE rn = 1
                UNION ALL
                SELECT g.event_type, g.day, g.x, g.rn, g.sum_t, g.n_days,
                       GREATEST(0, c.s + g.n_days * g.x - g.sum_t)
                FROM c JOIN g2 g
                  ON g.event_type = c.event_type AND g.rn = c.rn + 1)
              SELECT event_type, STRFTIME(day, '%Y-%m-%d') AS day,
                     CAST(s AS BIGINT) AS cusum, s > sum_t AS alarm
              FROM c ORDER BY event_type, day""")),

    // TPC-H Q2 shape — min-cost supplier per part: for every part of
    // one brand, the supplier(s) selling it at that part's minimum
    // price. The classic correlated-scalar-MIN decorrelation shape,
    // written the scale-correct way: ONE per-part min aggregate
    // joined back (what Catalyst decorrelates the subquery into),
    // never a per-row re-scan. Price rides the integer-cent grid so
    // "equals the min" is an exact comparison, not a float boundary;
    // the brand dimension (~1/25 of parts) broadcasts into the fact
    // scan, and DISTINCT collapses repeat (part, supplier) lines
    // before the supplier dimension join.
    Q("q251_tpch_q2",
      (s, d) => {
        val bp = t(s, d, "part").filter(col("p_brand") === "Brand#1")
          .select(col("p_partkey"))
        val li = t(s, d, "lineitem")
          .join(broadcast(bp), col("l_partkey") === col("p_partkey"))
          .select(col("l_partkey"), col("l_suppkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
        val mn = li.groupBy(col("l_partkey")).agg(min(col("cents")).as("mn"))
        li.join(mn, Seq("l_partkey")).filter(col("cents") === col("mn"))
          .select(col("l_partkey"), col("l_suppkey"), col("mn")).distinct()
          .join(broadcast(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("l_partkey").as("p_partkey"), col("s_name"),
            round(col("mn") / 100.0, 2).as("price"))
          .orderBy(col("p_partkey"), col("s_name"))
      },
      Some("""WITH li AS (
                SELECT l_partkey, l_suppkey,
                       CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
                FROM lineitem JOIN part ON p_partkey = l_partkey
                WHERE p_brand = 'Brand#1')
              SELECT DISTINCT li.l_partkey AS p_partkey, s_name,
                     ROUND(cents / 100.0, 2) AS price
              FROM li JOIN supplier ON s_suppkey = li.l_suppkey
              WHERE cents = (SELECT MIN(cents) FROM li l2
                             WHERE l2.l_partkey = li.l_partkey)
              ORDER BY p_partkey, s_name""")),

    // TPC-H Q11 shape — important stock: parts whose total line value
    // exceeds 1/1000 of the global total. The HAVING-against-a-global-
    // scalar shape with the q216 exact-integer gate: membership
    // compares v * 1000 > total in DECIMAL cents cross-multiplied —
    // a float fraction threshold puts parts sitting on the boundary
    // at the mercy of representation. One map-side-combined per-part
    // aggregate; the 1-row total broadcasts.
    Q("q252_tpch_q11",
      (s, d) => {
        val per = t(s, d, "lineitem")
          .select(col("l_partkey"),
            round(col("l_extendedprice") * 100).cast("long").as("cents"))
          .groupBy(col("l_partkey"))
          .agg(sum(col("cents").cast("decimal(38,0)")).as("v"))
        val tot = per.agg(sum(col("v")).as("tot"))
        per.crossJoin(broadcast(tot))
          .filter(col("v") * 1000 > col("tot"))
          .select(col("l_partkey").as("p_partkey"),
            round(col("v").cast("double") / 100, 2).as("value"))
          .orderBy(col("value").desc, col("p_partkey"))
      },
      Some("""WITH per AS (
                SELECT l_partkey,
                       SUM(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                         AS HUGEINT)) AS v
                FROM lineitem GROUP BY 1),
              tot AS (SELECT SUM(v) AS tot FROM per)
              SELECT l_partkey AS p_partkey,
                     ROUND(CAST(v AS DOUBLE) / 100, 2) AS value
              FROM per CROSS JOIN tot
              WHERE v * 1000 > tot
              ORDER BY value DESC, p_partkey""")),

    // TPC-H Q20 shape — concentrated suppliers: suppliers who shipped
    // more than 30% of some part's total quantity, with how many such
    // parts each has. The nested correlated-threshold semi-join chain,
    // re-expressed as two stacked aggregates over ONE (supp, part)
    // exchange: the per-part total is a second aggregate OVER THE
    // (supp, part) PARTIALS (summary-sized), not a second scan of the
    // fact table; the 30% gate is exact integers cross-multiplied
    // (10*sq > 3*tq — quantities are integer-valued by contract).
    Q("q253_tpch_q20",
      (s, d) => {
        val sp = t(s, d, "lineitem")
          .select(col("l_suppkey"), col("l_partkey"),
            col("l_quantity").cast("long").as("q"))
          .groupBy(col("l_suppkey"), col("l_partkey"))
          .agg(sum(col("q").cast("decimal(38,0)")).as("sq"))
        val pt = sp.groupBy(col("l_partkey")).agg(sum(col("sq")).as("tq"))
        sp.join(pt, Seq("l_partkey"))
          .filter(col("sq") * 10 > col("tq") * 3)
          .groupBy(col("l_suppkey")).agg(count(lit(1)).as("n_parts"))
          .join(broadcast(t(s, d, "supplier")),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("n_parts"))
          .orderBy(col("s_name"))
      },
      Some("""WITH sp AS (
                SELECT l_suppkey, l_partkey,
                       SUM(CAST(CAST(l_quantity AS BIGINT) AS HUGEINT)) AS sq
                FROM lineitem GROUP BY 1, 2),
              pt AS (SELECT l_partkey, SUM(sq) AS tq FROM sp GROUP BY 1)
              SELECT s_name, COUNT(*) AS n_parts
              FROM sp JOIN pt USING (l_partkey)
              JOIN supplier ON s_suppkey = l_suppkey
              WHERE sq * 10 > tq * 3
              GROUP BY s_name
              ORDER BY s_name""")),

    // TPC-H Q9 shape — product-type profit by nation and year:
    // discounted revenue of lines for one part family, attributed to
    // the supplier's nation and the order year. Per-line amount lands
    // on the integer-cent grid BEFORE aggregation (ROUND of the same
    // double product in both engines), then sums exactly in DECIMAL.
    // The part family (LIKE filter, broadcast) prunes the fact scan
    // first; supplier->nation are broadcast dims; the one genuine
    // fact-fact shuffle is lineitem-orders on the order key, which
    // AQE sizes at runtime.
    Q("q254_tpch_q9",
      (s, d) => {
        val pr = t(s, d, "part").filter(col("p_name").like("%red%"))
          .select(col("p_partkey"))
        val li = t(s, d, "lineitem")
          .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
          .select(col("l_orderkey"), col("l_suppkey"),
            round(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * 100).cast("long").as("amt"))
        val sn = li
          .join(broadcast(t(s, d, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(t(s, d, "nation")
            .select(col("n_nationkey"), col("n_name"))),
            col("s_nationkey") === col("n_nationkey"))
        sn.join(t(s, d, "orders")
            .select(col("o_orderkey"), year(col("o_orderdate")).as("o_year")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("n_name"), col("o_year"))
          .agg(round(sum(col("amt").cast("decimal(38,0)")).cast("double")
            / 100, 2).as("profit"))
          .select(col("n_name").as("nation"), col("o_year"), col("profit"))
          .orderBy(col("nation"), col("o_year").desc)
      },
      Some("""SELECT n_name AS nation,
                     EXTRACT(YEAR FROM o_orderdate) AS o_year,
                     ROUND(CAST(SUM(CAST(CAST(ROUND(l_extendedprice
                       * (1.0 - l_discount) * 100) AS BIGINT) AS HUGEINT))
                       AS DOUBLE) / 100, 2) AS profit
              FROM lineitem
              JOIN part ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
              JOIN nation ON n_nationkey = s_nationkey
              JOIN orders ON o_orderkey = l_orderkey
              WHERE p_name LIKE '%red%'
              GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
              ORDER BY nation, o_year DESC""")),

    // SEASONAL DECOMPOSITION — classical seasonal-means decomposition
    // of the daily event-count series per type: trend = centered 7-day
    // moving average, seasonal = per-day-of-week mean of the detrended
    // series, residual = observed - trend - seasonal. The time-series
    // readout behind "is Tuesday always like this, or is something
    // drifting" — CUSUM's (q223) explanatory sibling.
    //
    // Exact-arithmetic shape (the q195/q210 discipline): counts are
    // integers; the centered MA stays an INTEGER 7-row frame sum, and
    // the detrended value is d = 7*x - trend_sum — exact integers all
    // the way through the per-(type, dow) seasonal aggregate; doubles
    // appear only in the terminal /7 divisions, identically associated
    // in both engines. Day-of-week is epoch-day mod 7 (calendar-
    // function-free, engine-neutral). Scale shape: ONE corpus-sized
    // (type, day) count aggregate; the dense grid, the ordered frame
    // windows, and the dow join are all |types|x|days| summary work
    // (the q193 exemption); edges without a full 7-frame emit NULL
    // trend/residual rather than a biased average.
    Q("q261_seasonal_decompose",
      (s, d) => {
        val counts = t(s, d, "events")
          .select(col("event_type"),
            to_date(expr("CAST(ts AS TIMESTAMP)")).as("day"))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("x"))
        val types = counts.select(col("event_type")).distinct()
        val days = counts.select(col("day")).distinct()
        val grid = types.crossJoin(days)
          .join(counts, Seq("event_type", "day"), "left")
          .select(col("event_type"), col("day"),
            coalesce(col("x"), lit(0L)).as("x"),
            pmod(datediff(col("day"), lit("1970-01-01").cast("date")),
              lit(7)).cast("int").as("dow"))
        val w = Window.partitionBy(col("event_type"))
          .orderBy(col("day")).rowsBetween(-3, 3)
        val framed = grid
          .withColumn("tsum", sum(col("x")).over(w))
          .withColumn("fn", count(lit(1)).over(w))
          .withColumn("dd", when(col("fn") === 7,
            lit(7L) * col("x") - col("tsum")))
        val seas = framed.filter(col("dd").isNotNull)
          .groupBy(col("event_type"), col("dow"))
          .agg(sum(col("dd")).cast("decimal(38,0)").as("snum"),
            count(lit(1)).as("sden"))
        framed.join(seas, Seq("event_type", "dow"), "left")
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("x"),
            round(when(col("fn") === 7,
              col("tsum").cast("double") / 7.0), 4).as("trend"),
            round(col("snum").cast("double")
              / (lit(7.0) * col("sden").cast("double")), 4).as("seasonal"),
            round(when(col("dd").isNotNull,
              col("dd").cast("double") / 7.0
                - col("snum").cast("double")
                  / (lit(7.0) * col("sden").cast("double"))), 4)
              .as("residual"))
          .orderBy(col("event_type"), col("day"))
      },
      Some("""WITH counts AS (
                SELECT event_type, CAST(ts AS DATE) AS day,
                       CAST(COUNT(*) AS BIGINT) AS x
                FROM events GROUP BY 1, 2),
              grid AS (
                SELECT t.event_type, dy.day, COALESCE(c.x, 0) AS x,
                       CAST((dy.day - DATE '1970-01-01') % 7 AS INT)
                         AS dow
                FROM (SELECT DISTINCT event_type FROM counts) t
                CROSS JOIN (SELECT DISTINCT day FROM counts) dy
                LEFT JOIN counts c
                  ON c.event_type = t.event_type AND c.day = dy.day),
              framed AS (
                SELECT *,
                       SUM(x) OVER w AS tsum,
                       COUNT(*) OVER w AS fn
                FROM grid
                WINDOW w AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
              dd AS (
                SELECT *, CASE WHEN fn = 7 THEN 7 * x - tsum END AS dd
                FROM framed),
              seas AS (
                SELECT event_type, dow,
                       CAST(SUM(dd) AS HUGEINT) AS snum,
                       COUNT(*) AS sden
                FROM dd WHERE dd IS NOT NULL GROUP BY 1, 2)
              SELECT d.event_type, STRFTIME(d.day, '%Y-%m-%d') AS day,
                     d.x,
                     ROUND(CASE WHEN fn = 7
                       THEN CAST(tsum AS DOUBLE) / 7.0 END, 4) AS trend,
                     ROUND(CAST(snum AS DOUBLE)
                       / (7.0 * CAST(sden AS DOUBLE)), 4) AS seasonal,
                     ROUND(CASE WHEN dd IS NOT NULL
                       THEN CAST(dd AS DOUBLE) / 7.0
                         - CAST(snum AS DOUBLE)
                           / (7.0 * CAST(sden AS DOUBLE)) END, 4)
                       AS residual
              FROM dd d LEFT JOIN seas
                ON seas.event_type = d.event_type AND seas.dow = d.dow
              ORDER BY d.event_type, day""")),

    // TPC-H Q6 — forecasting revenue change: the pure scan-aggregate.
    // One year of shipments, a discount band, a quantity cap; revenue
    // = sum(extendedprice * discount). The whole query is a single
    // map-side-combined global aggregate behind three pushable
    // predicates — shipdate range, discount band, quantity cap all
    // reach the parquet scan as PushedFilters, so at 100 TB the scan
    // reads only row groups whose min/max straddle the year. Per-line
    // revenue lands on the integer-cent grid (ROUND of the identical
    // double product in both engines) and accumulates in DECIMAL;
    // nothing downstream of the scan exceeds one row. Completes the
    // 22/22 TPC-H shape coverage together with q256.
    Q("q255_tpch_q6",
      (s, d) =>
        t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_discount") >= 0.05 && col("l_discount") <= 0.07
            && col("l_quantity") < 24)
          .select(round(col("l_extendedprice") * col("l_discount") * 100)
            .cast("long").as("cents"))
          .agg(round(sum(col("cents").cast("decimal(38,0)")).cast("double")
            / 100, 2).as("revenue"),
            count(lit(1)).as("n_lines")),
      Some("""SELECT ROUND(CAST(SUM(CAST(CAST(ROUND(l_extendedprice
                       * l_discount * 100) AS BIGINT) AS HUGEINT))
                       AS DOUBLE) / 100, 2) AS revenue,
                     COUNT(*) AS n_lines
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'
                AND l_discount BETWEEN 0.05 AND 0.07
                AND l_quantity < 24""")),

    // TPC-H Q12 shape — shipping-priority audit: for each of two
    // "ship classes" (l_returnflag A/R standing in for the reference
    // schema's l_shipmode, which this star lacks), how many LATE lines
    // (shipped > 60 days after the order date) belong to
    // critical-priority orders vs the rest, over one shipment year.
    // The one genuine fact-fact shuffle is lineitem⋈orders on the
    // order key — both sides pre-projected to the join key + one
    // column, the lineitem side pre-filtered by the pushable
    // shipdate/flag predicates, AQE sizing the exchange at runtime;
    // the late gate is exact integer day arithmetic (datediff), and
    // the conditional counts are one map-side-combined aggregate over
    // a 2-value dimension.
    Q("q256_tpch_q12",
      (s, d) => {
        val li = t(s, d, "lineitem")
          .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
            && col("l_shipdate") < lit("1997-01-01").cast("timestamp")
            && col("l_returnflag").isin("A", "R"))
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_shipdate"))
        li.join(t(s, d, "orders")
            .select(col("o_orderkey"), col("o_orderdate"),
              col("o_orderpriority")),
            col("l_orderkey") === col("o_orderkey"))
          .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
          .groupBy(col("l_returnflag"))
          .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              1L).otherwise(0L)).as("high_line_count"),
            sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
              0L).otherwise(1L)).as("low_line_count"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
                     CAST(SUM(CASE WHEN o_orderpriority IN
                       ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                       AS BIGINT) AS high_line_count,
                     CAST(SUM(CASE WHEN o_orderpriority IN
                       ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
                       AS BIGINT) AS low_line_count
              FROM lineitem JOIN orders ON o_orderkey = l_orderkey
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate <  TIMESTAMP '1997-01-01'
                AND l_returnflag IN ('A', 'R')
                AND DATE_DIFF('day', o_orderdate, l_shipdate) > 60
              GROUP BY l_returnflag
              ORDER BY l_returnflag""")),

    // MARKET-BASKET association rules (see [[marketBasket]]): part
    // pairs co-purchased in >= minSupport orders, ranked by
    // exact-integer e6 lift — the co-occurrence readout behind "also
    // bought" recommenders and cross-sell audits.
    Q("q270_market_basket",
      (s, d) => marketBasket(t(s, d, "lineitem")),
      Some("""WITH op AS (
                SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                FROM lineitem),
              n AS (
                SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders
                FROM op),
              pn AS (
                SELECT part, CAST(COUNT(*) AS BIGINT) AS np
                FROM op GROUP BY 1),
              pairs AS (
                SELECT a.part AS part_a, b.part AS part_b,
                       CAST(COUNT(*) AS BIGINT) AS n_ab
                FROM op a JOIN op b
                  ON a.okey = b.okey AND a.part < b.part
                GROUP BY 1, 2
                HAVING COUNT(*) >= 2)
              SELECT part_a, part_b, na.np AS n_a, nb.np AS n_b, n_ab,
                     CAST((2 * 1000000 * CAST(n_ab AS HUGEINT)
                             * (SELECT n_orders FROM n)
                           + CAST(na.np AS HUGEINT) * nb.np)
                          // (2 * CAST(na.np AS HUGEINT) * nb.np)
                       AS BIGINT) AS lift_e6
              FROM pairs
              JOIN pn na ON na.part = part_a
              JOIN pn nb ON nb.part = part_b
              ORDER BY lift_e6 DESC, part_a, part_b
              LIMIT 50"""))
  )

  /** Market-basket association rules over order lines: for part pairs
    * co-occurring in at least `minSupport` orders, the exact-integer
    * e6-grid lift n_ab·N / (n_a·n_b) (HALF-UP by the cross-multiplied
    * (2·num + den) DIV (2·den) rule — the q210/q257 discipline: no
    * ROUND-of-double anywhere in the hashed output), top-`topK` by
    * (lift, pair) under a TOTAL order.
    *
    * 100 TB shape: the pair space is Σ_orders |basket|² — baskets are
    * BOUNDED by contract (carts, not corpora), so it grows linearly
    * with orders. One shuffle on the order key feeds the self-join
    * (both sides the same exchange — Catalyst reuses it), the pair
    * aggregate is map-side-combined on (part_a, part_b), the per-part
    * order counts ride a summary-sized join, and the global order
    * count is a broadcast 1-row artifact. minSupport prunes the pair
    * tail BEFORE the lift join; TakeOrdered finishes the top-k.
    */
  def marketBasket(lineitem: DataFrame, minSupport: Long = 2L,
      topK: Int = 50): DataFrame = {
    // five consumers replay this distinct (self-join a/b, the counts
    // behind n_a/n_b, the global order count). A localCheckpoint was
    // MEASURED SLOWER at the rel 10x rehearsal (10.2 -> 17.5 s
    // despite a third less shuffle): materializing the corpus-sized
    // frame as deserialized blocks costs more than replaying the
    // codegen'd scan+distinct, so the replays stay (SCALE.md r17,
    // negative result).
    val op = lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("part"))
      .distinct()
    val total = op.agg(countDistinct(col("okey")).as("n_orders"))
    val pn = op.groupBy(col("part")).agg(count(lit(1)).as("np"))
    val pairs = op.as("a")
      .join(op.as("b"),
        col("a.okey") === col("b.okey") && col("a.part") < col("b.part"))
      .groupBy(col("a.part").as("part_a"), col("b.part").as("part_b"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(pn.select(col("part").as("part_a"), col("np").as("n_a")),
        Seq("part_a"))
      .join(pn.select(col("part").as("part_b"), col("np").as("n_b")),
        Seq("part_b"))
      .crossJoin(broadcast(total))
      .select(col("part_a"), col("part_b"), col("n_a"), col("n_b"),
        col("n_ab"),
        expr("""CAST((2 * 1000000 * CAST(n_ab AS DECIMAL(38,0)) * n_orders
                 + CAST(n_a AS DECIMAL(38,0)) * n_b)
                DIV (2 * CAST(n_a AS DECIMAL(38,0)) * n_b)
                AS BIGINT)""").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("part_a"), col("part_b"))
      .limit(topK)
  }
}
