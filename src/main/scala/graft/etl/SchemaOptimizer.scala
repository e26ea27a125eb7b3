package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's sample-driven physical-design loop (SURVEY.md §4.2),
  * automated: duplicate-column drop, non-strict date parsing, integer
  * type minimization with guarded casts, and outlier-row quarantine with
  * an audit trail.
  *
  * Reference anchors: regex `_ar` exclusion
  * (`notebooks/preprocessing_with_polars.ipynb:1018-1022`), strptime
  * strict=False (`:1490-1494`), `get_min_int_type_with_unsigned`
  * (`notebooks/0_preprocessing.ipynb:3338-3380`), quarantine split
  * (`:3441-3473`).
  *
  * Everything is a plain column expression over a DataFrame — the
  * decisions change the *data schema*, not the query plan, so no custom
  * Catalyst rules are needed and all casts stay inside codegen.
  */
object SchemaOptimizer {

  /** OP-28: smallest Spark type that can hold [min, max].
    *
    * Port of the reference ladder with the SURVEY §1.2 unsigned mapping
    * (Spark has no unsigned types): Boolean for {0,1}; unsigned rungs
    * UInt8→Short, UInt16→Int, UInt32→Long, UInt64→Decimal(20,0); signed
    * rungs Int8→Byte, Int16→Short, Int32→Int, else Long. All-null
    * columns default to Int32 like the reference.
    */
  def minimalIntType(min: Option[Long], max: Option[Long]): DataType =
    (min, max) match {
      case (Some(lo), Some(hi)) =>
        if (lo >= 0 && hi <= 1) BooleanType
        else if (lo >= 0) {
          if (hi <= 255L) ShortType
          else if (hi <= 65535L) IntegerType
          else if (hi <= 4294967295L) LongType
          else DecimalType(20, 0)
        } else {
          if (lo >= Byte.MinValue && hi <= Byte.MaxValue) ByteType
          else if (lo >= Short.MinValue && hi <= Short.MaxValue) ShortType
          else if (lo >= Int.MinValue && hi <= Int.MaxValue) IntegerType
          else LongType
        }
      case _ => IntegerType
    }

  /** OP-10: drop every column whose name matches `pattern` (the
    * reference drops the `.*_ar$` Arabic duplicates, 40→27 cols).
    */
  def dropColumnsMatching(df: DataFrame, pattern: String): DataFrame = {
    val re = pattern.r
    val doomed = df.columns.filter(c => re.findFirstIn(c).isDefined)
    if (doomed.isEmpty) df else df.drop(doomed.toIndexedSeq: _*)
  }

  /** OP-25: non-strict string→date — unparseable values become null
    * (requires ANSI off, pinned in Session). Extra formats are tried
    * left to right, first success wins.
    */
  def parseDates(df: DataFrame, cols: Seq[String],
      formats: Seq[String] = Seq()): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      val parsed =
        if (formats.isEmpty) to_date(col(c))
        else coalesce(formats.map(f => to_date(col(c), f)): _*)
      acc.withColumn(c, parsed)
    }

  /** OP-16: guarded conditional cast — in-range values cast, out-of-range
    * become typed nulls instead of errors/overflow.
    */
  def guardedCast(c: Column, lo: Long, hi: Long, target: DataType): Column =
    when(c.between(lo, hi) || c.isNull, c.cast(target))
      .otherwise(lit(null).cast(target))

  /** Per-column allowed bounds for the quarantine scan. */
  final case class Bounds(column: String, lo: Long, hi: Long)

  /** OP-14/15: split rows into (kept, quarantined). A row is quarantined
    * iff ANY bounded column is non-null and out of range; kept rows have
    * every bounded column in-range-or-null. The two filters are exact
    * complements, so kept + quarantined == total (QuarantineSpec pins
    * this invariant, mirroring `0_preprocessing.ipynb:3445-3468`).
    */
  def quarantineSplit(df: DataFrame, bounds: Seq[Bounds]): (DataFrame, DataFrame) = {
    require(bounds.nonEmpty, "quarantineSplit needs at least one bound")
    val keepConds: Seq[Column] =
      bounds.map(b => col(b.column).between(b.lo, b.hi) || col(b.column).isNull)
    val keep = keepConds.reduce(_ && _)
    (df.filter(keep), df.filter(!keep))
  }

  /** OP-29: hard downcast after a quarantine pass has removed violators. */
  def castColumns(df: DataFrame, casts: Map[String, DataType]): DataFrame =
    df.withColumns(casts.map { case (c, t) => c -> col(c).cast(t) })

  /** Full reference pipeline (§3.1), automated: drop dup columns → parse
    * dates → profile → decide downcasts → quarantine violators → cast.
    * Returns (optimized, quarantined).
    */
  def optimize(
      df: DataFrame,
      dropPattern: Option[String] = Some(".*_ar$"),
      dateCols: Seq[String] = Seq(),
      sampleRows: Int = 50000): (DataFrame, DataFrame) = {
    val pruned = dropPattern.map(dropColumnsMatching(df, _)).getOrElse(df)
    val dated = parseDates(pruned, dateCols.filter(pruned.columns.contains))
    val profile = Profiler.profile(dated, sampleRows)

    // Downcast only 64-bit integer columns whose observed range fits a
    // smaller rung; quarantine rows that violate the observed bounds'
    // target-type range (reference: Int64 cols vs Int32 bounds).
    val longCols = dated.schema.fields.filter(_.dataType == LongType).map(_.name)
    val casts = longCols.flatMap { c =>
      profile.find(_.name == c).flatMap { p =>
        (p.min, p.max) match {
          case (Some(lo), Some(hi)) =>
            val t = minimalIntType(Some(lo.toLong), Some(hi.toLong))
            // Only downcast to strictly narrower rungs — a Long column
            // whose ladder says UInt64/Decimal is already optimal as-is.
            if (Seq[DataType](BooleanType, ByteType, ShortType, IntegerType)
              .contains(t)) Some(c -> t)
            else None
          case _ => None
        }
      }
    }.toMap

    if (casts.isEmpty) (dated, dated.limit(0))
    else {
      val bounds = casts.keys.toSeq.sorted.map { c =>
        val (lo, hi) = typeRange(casts(c))
        Bounds(c, lo, hi)
      }
      val (kept, quarantined) = quarantineSplit(dated, bounds)
      (castColumns(kept, casts), quarantined)
    }
  }

  /** Value range a rung can safely hold (Boolean treated as {0,1}). */
  def typeRange(t: DataType): (Long, Long) = t match {
    case BooleanType => (0L, 1L)
    case ByteType => (Byte.MinValue.toLong, Byte.MaxValue.toLong)
    case ShortType => (Short.MinValue.toLong, Short.MaxValue.toLong)
    case IntegerType => (Int.MinValue.toLong, Int.MaxValue.toLong)
    case _ => (Long.MinValue, Long.MaxValue)
  }
}
