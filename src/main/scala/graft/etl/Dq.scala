package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.Cumulative

/** One-command data-quality pack: the classic table-audit set
  * (null-completeness, distinct cardinality, numeric moments, Benford
  * first-digit shares, equi-depth histograms, primary-key uniqueness)
  * over ANY table, written as one parquet report per check — the `dq`
  * CLI the way `diagnose` packs the dedup reports.
  *
  * Scale shape: every check is either a single map-side-combined
  * aggregate over the table (null/distinct/moments — |columns| output
  * rows), a 9-key-per-column aggregate (Benford), or the q153
  * value-grid cumulative (equi-depth) — nothing here shuffles more than
  * the value grid, and no unpartitioned window ever sees more than the
  * 9-row digit set.
  */
object Dq {

  private def isAtomic(t: DataType): Boolean = t match {
    case _: ArrayType | _: MapType | _: StructType | _: BinaryType => false
    case _ => true
  }

  private def isNumeric(t: DataType): Boolean = t match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
        _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  /** Per-column row/null counts and the 4-dp null rate — one map-side
    * pass (sums of null flags), |columns| output rows. The q163 shape,
    * table-generic.
    */
  def nullProfile(df: DataFrame): DataFrame = {
    val cols = df.columns.toSeq
    val aggs = cols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c"))
    val counts = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    counts.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          col(s"n_$c").as("n_null"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"),
        col("kv.n_rows").as("n_rows"), col("kv.n_null").as("n_null"),
        round(col("kv.n_null").cast("double") / col("kv.n_rows"), 4)
          .as("null_rate"))
      .orderBy(col("col_name"))
  }

  /** Per-column distinct counts and the distinct/row ratio (the q09
    * report, every atomic column at once). Exact by default; `approx`
    * switches to HLL (approx_count_distinct) for the 100 TB profile
    * run, where |columns| exact distinct aggregations would each carry
    * a full shuffle of their value set.
    */
  def distinctProfile(df: DataFrame, approx: Boolean = false): DataFrame = {
    val cols = df.schema.fields.filter(f => isAtomic(f.dataType))
      .map(_.name).toSeq
    val aggs = cols.map { c =>
      val d = if (approx) approx_count_distinct(col(c))
        else count_distinct(col(c))
      d.as(s"d_$c")
    }
    val counts = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    counts.select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col("n_rows"),
          col(s"d_$c").as("n_distinct"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"),
        col("kv.n_rows").as("n_rows"),
        col("kv.n_distinct").as("n_distinct"),
        round(col("kv.n_distinct").cast("double") / col("kv.n_rows"), 4)
          .as("distinct_ratio"))
      .orderBy(col("col_name"))
  }

  /** Per-numeric-column non-null count, min, max, mean, stddev — one
    * map-side-combined aggregate, |numeric columns| output rows (the
    * q08/q18 global min/max report plus moments).
    */
  def numericProfile(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.filter(f => isNumeric(f.dataType))
      .map(_.name).toSeq
    require(cols.nonEmpty, "numericProfile: table has no numeric columns")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"c_$c"),
      min(col(c)).cast("double").as(s"mn_$c"),
      max(col(c)).cast("double").as(s"mx_$c"),
      avg(col(c)).as(s"av_$c"),
      stddev_samp(col(c)).as(s"sd_$c")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("col_name"), col(s"c_$c").as("n_nonnull"),
          col(s"mn_$c").as("mn"), col(s"mx_$c").as("mx"),
          round(col(s"av_$c"), 4).as("mean"),
          round(col(s"sd_$c"), 4).as("stddev"))): _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"),
        col("kv.n_nonnull").as("n_nonnull"), col("kv.mn").as("mn"),
        col("kv.mx").as("mx"), col("kv.mean").as("mean"),
        col("kv.stddev").as("stddev"))
      .orderBy(col("col_name"))
  }

  /** Benford first-digit audit across the given columns (default: all
    * numeric) — observed leading-digit shares vs log10(1 + 1/d), the
    * q161 report per column. One 9-key aggregate per column; the share
    * window sees 9 rows.
    */
  def benford(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cols =
      if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => isNumeric(f.dataType))
        .map(_.name).toSeq
    require(cols.nonEmpty, "benford: no numeric columns")
    cols.map { c =>
      df.select(substring(col(c).cast("string"), 1, 1).cast("int")
          .as("digit"))
        .filter(col("digit").between(1, 9))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n").cast("double") /
          sum(col("n")).over(Window.partitionBy()), 4))
        .withColumn("benford",
          round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
        .select(lit(c).as("col_name"), col("digit"), col("n"),
          col("share"), col("benford"))
    }.reduce(_.unionByName(_)).orderBy(col("col_name"), col("digit"))
  }

  /** Equi-depth histogram over the non-null values of one column (nulls
    * are `nullProfile`'s to count): `nb` buckets with VALUE-PINNED
    * boundaries — thr_i is the smallest value whose cumulative count
    * satisfies nb·cum >= i·n (ties land low). The cumulative runs on the
    * VALUE GRID through [[Cumulative]], on value blocks of `blockWidth`
    * (q153 uses 10000 for o_totalprice); when <= 0 it is derived as
    * range/256 from one min/max aggregate, so <= 257 blocks.
    */
  def equidepthHistogram(df: DataFrame, c: String, nb: Int = 8,
      blockWidth: Double = 0.0): DataFrame = {
    val s = df.sparkSession
    val vals = df.select(col(c).as("v")).filter(col("v").isNotNull)
    val width =
      if (blockWidth > 0) blockWidth
      else {
        val r = vals.agg(min(col("v")).cast("double"),
          max(col("v")).cast("double")).head()
        if (r.isNullAt(0)) 1.0
        else math.max((r.getDouble(1) - r.getDouble(0)) / 256.0, 1e-9)
      }
    val grid = vals.groupBy(col("v")).agg(count(lit(1)).as("cnt"))
    val cum = Cumulative.running(
      grid.withColumn("blk", floor(col("v").cast("double") / width)),
      Nil, "blk", Seq(col("v")), col("cnt"), Cumulative.Sum,
      inclusive = true, "cum")
    val n1 = grid.agg(sum(col("cnt")).as("n"))
    val thrArr = cum.crossJoin(broadcast(n1))
      .crossJoin(broadcast(s.range(1, nb).toDF("i")))
      .filter(col("cum") * nb >= col("i") * col("n"))
      .groupBy(col("i")).agg(min(col("v")).as("thr"))
      .agg(sort_array(collect_list(col("thr"))).as("ts"))
    vals.crossJoin(broadcast(thrArr))
      .select(
        (size(filter(col("ts"), x => x < col("v"))) + 1)
          .cast("int").as("bucket"),
        col("v"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("lo"), max(col("v")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Primary-key uniqueness audit: distinct-key and violating-key
    * counts for one declared key (the q164 report, table-generic).
    * Map-side-combined aggregates on the key.
    */
  def pkAudit(df: DataFrame, tbl: String, keys: Seq[String]): DataFrame = {
    val perKey = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
    perKey.agg(
      lit(tbl).as("tbl"),
      lit(keys.mkString(",")).as("pk"),
      sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"),
      sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_keys"))
  }

  /** One (col_name, metric, v) row per profiled statistic of a stored
    * dq run — the melt both sides of a drift comparison share.
    */
  /** (col_name, metric, v) long form of the three core profiles. */
  private def reshape(np: DataFrame, dp: DataFrame,
      num: Option[DataFrame]): DataFrame = {
    val base = np
      .select(col("col_name"), lit("null_rate").as("metric"),
        col("null_rate").cast("double").as("v"))
      .unionByName(dp
        .select(col("col_name"), lit("distinct_ratio").as("metric"),
          col("distinct_ratio").cast("double").as("v")))
    num.fold(base)(n => base.unionByName(
      n.select(col("col_name"), explode(array(
        struct(lit("mean").as("metric"), col("mean").cast("double").as("v")),
        struct(lit("stddev").as("metric"), col("stddev").cast("double").as("v")),
        struct(lit("min").as("metric"), col("mn").cast("double").as("v")),
        struct(lit("max").as("metric"), col("mx").cast("double").as("v"))))
        .as("kv"))
        .select(col("col_name"), col("kv.metric").as("metric"),
          col("kv.v").as("v"))))
  }

  /** The (col_name, metric, v) long form of a STORED dq run. */
  private[graft] def storedMetrics(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val numPath = new org.apache.hadoop.fs.Path(s"$dir/numeric_profile")
    val fs = numPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    reshape(
      spark.read.parquet(s"$dir/null_profile"),
      spark.read.parquet(s"$dir/distinct_profile"),
      if (fs.exists(numPath)) Some(spark.read.parquet(s"$dir/numeric_profile"))
      else None)
  }

  private def metricsOf(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = storedMetrics(spark, dir)

  /** The same long form computed LIVE from a DataFrame — what the
    * streaming monitor compares against a stored baseline per batch.
    */
  private[graft] def liveMetrics(df: DataFrame): DataFrame =
    reshape(nullProfile(df), distinctProfile(df),
      if (df.schema.fields.exists(f => isNumeric(f.dataType)))
        Some(numericProfile(df))
      else None)

  /** DRIFT report between two stored dq runs of the same table (e.g.
    * yesterday's vs today's): per column and metric, both values, the
    * relative change, and a drift flag — |new − old| > tol·max(|old|,
    * 1e-9), so a metric moving off zero always flags. Columns present
    * in only one run flag as schema drift (null on the other side).
    * Operates purely on the persisted profiles — cost is |columns|,
    * independent of table size.
    */
  def drift(spark: org.apache.spark.sql.SparkSession, dirOld: String,
      dirNew: String, tol: Double = 0.1): DataFrame =
    driftFrames(metricsOf(spark, dirOld), metricsOf(spark, dirNew), tol)

  /** The drift comparison on two (col_name, metric, v) frames — shared
    * by the stored-run report above and the streaming monitor
    * ([[graft.streaming.StreamingDq]]), so batch alerts and batch
    * reports can never disagree on what "drifted" means.
    */
  private[graft] def driftFrames(oldM: DataFrame, newM: DataFrame,
      tol: Double): DataFrame = {
    val a = oldM.withColumnRenamed("v", "v_old")
    val b = newM.withColumnRenamed("v", "v_new")
    a.join(b, Seq("col_name", "metric"), "full_outer")
      .select(col("col_name"), col("metric"), col("v_old"), col("v_new"),
        round(abs(col("v_new") - col("v_old")) /
          greatest(abs(col("v_old")), lit(1e-9)), 4).as("rel_change"),
        (col("v_old").isNull || col("v_new").isNull ||
          abs(col("v_new") - col("v_old")) >
            lit(tol) * greatest(abs(col("v_old")), lit(1e-9)))
          .as("drifted"))
      .orderBy(col("drifted").desc, col("col_name"), col("metric"))
  }

  /** K-ANONYMITY audit (Sweeney 2002): group the table by its declared
    * quasi-identifier columns and report the equivalence-class size
    * histogram — (group_size, n_groups, n_rows, risky) — where any
    * class smaller than k means its members are re-identifiable by the
    * quasi-identifiers alone. The data-governance check run before any
    * "anonymized" export.
    *
    * Scale: one shuffle on the quasi-identifier key (map-side combined),
    * then a histogram aggregate over group sizes — output is bounded by
    * the number of DISTINCT class sizes, never the table. Skewed hot
    * classes are just big groups of a count aggregate (partial combine
    * absorbs them).
    */
  def kAnonymity(df: DataFrame, quasi: Seq[String], k: Int = 5): DataFrame =
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("group_size")).as("n_rows"))
      .select(col("group_size"), col("n_groups"), col("n_rows"),
        (col("group_size") < k).as("risky"))

  /** ROW-LEVEL snapshot diff (the CDC read-side of Writers.upsert):
    * given two versions of a keyed table, classify every key present in
    * either as `added` / `removed` / `changed` (any shared non-key
    * column differs, null-safely) and list which columns changed.
    * Unchanged keys are omitted — at 100 TB the overlap is the bulk,
    * and emitting it would make the report corpus-sized.
    *
    * The key is expected UNIQUE per snapshot (NULL counts as a key
    * value like any other). A key carried by MULTIPLE rows on either
    * side — duplicate non-NULL keys, or 2+ NULL-keyed rows — has no
    * well-defined row pairing, so instead of emitting
    * N×M spurious join pairs, each side pre-aggregates to one row per
    * key and the violating keys report as change = `ambiguous`
    * (changed_cols empty): the signal is "this key needs a real
    * uniqueness fix (pk_audit), not a row diff". The q179 oracle pins
    * the unique-key contract; DqSpec pins the ambiguous rows.
    *
    * Shape: one exchange per side — the per-key aggregate (count +
    * first(), map-side combined; first() is only READ when the group
    * has exactly one row, so every consumed value is deterministic)
    * hash-partitions on the key and the full-outer join reuses the
    * key; every per-column comparison is a `<=>` flag above the join.
    * Only columns present in BOTH schemas compare; schema adds/drops
    * surface through `dq drift` instead.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      keys: Seq[String]): DataFrame = {
    val shared = oldDf.columns.toSeq.filter(newDf.columns.contains)
      .filterNot(keys.contains)
    // groupBy treats NULL as a key value (SQL semantics), so NULL-keyed
    // rows collapse into one group per side and pair up across sides
    // through the null-safe join below
    def slim(df: DataFrame, nCol: String) =
      df.select((keys ++ shared).map(col): _*)
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(nCol),
          shared.map(c => first(col(c)).as(c)): _*)
    val a = slim(oldDf, "_n_old").as("a")
    val b = slim(newDf, "_n_new").as("b")
    val joined = a.join(b, keys.map(k => col(s"a.$k") <=> col(s"b.$k"))
      .reduce(_ && _), "full_outer")
    val inOld = col("a._n_old").isNotNull
    val inNew = col("b._n_new").isNotNull
    val dup = coalesce(col("a._n_old"), lit(1L)) > 1L ||
      coalesce(col("b._n_new"), lit(1L)) > 1L
    val diffFlags = shared.map(c =>
      when(!(col(s"a.$c") <=> col(s"b.$c")), lit(c)))
    val changedCols = concat_ws(",", diffFlags: _*)
    joined
      .select(
        keys.map(k => coalesce(col(s"a.$k"), col(s"b.$k")).as(k)) ++ Seq(
          when(!inOld, "added").when(!inNew, "removed")
            .when(dup, "ambiguous")
            .otherwise("changed").as("change"),
          when(inOld && inNew && !dup, changedCols).otherwise(lit(""))
            .as("changed_cols")): _*)
      .filter(col("change") =!= "changed" || col("changed_cols") =!= "")
  }

  /** Run the whole pack against one table and write one parquet per
    * check under `outDir`: null_profile, distinct_profile,
    * numeric_profile, benford, equidepth (per numeric column, labeled),
    * and pk_audit when a key is declared.
    */
  def report(df: DataFrame, tbl: String, outDir: String,
      keys: Seq[String] = Nil): Unit = {
    def w(d: DataFrame, name: String): Unit =
      d.write.mode("overwrite")
        .option("compression", Writers.DefaultCompression)
        .parquet(s"$outDir/$name")
    w(nullProfile(df), "null_profile")
    w(distinctProfile(df), "distinct_profile")
    val numeric = df.schema.fields.filter(f => isNumeric(f.dataType))
      .map(_.name).toSeq
    if (numeric.nonEmpty) {
      w(numericProfile(df), "numeric_profile")
      w(benford(df, numeric), "benford")
      w(numeric.map(c => equidepthHistogram(df, c)
          .select(lit(c).as("col_name"), col("bucket"), col("n"),
            col("lo").cast("double").as("lo"),
            col("hi").cast("double").as("hi")))
        .reduce(_.unionByName(_)), "equidepth")
    }
    if (keys.nonEmpty) w(pkAudit(df, tbl, keys), "pk_audit")
  }
}
