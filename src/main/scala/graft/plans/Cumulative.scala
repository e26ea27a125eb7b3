package graft.plans

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Exact running totals and global ranks without sorting a whole key's
  * rows (or a whole un-keyed population) in one task: the two-phase
  * block cumulative.
  *
  * A block column `blk` that is non-decreasing along `order` cuts each
  * key's sequence into contiguous slices, so
  *
  *   running(row) = local(row) ⊕ offset(keys, blk)
  *
  * where `local` is the running aggregate inside the row's own (keys,
  * blk) window partition and `offset` folds the per-block summaries of
  * every EARLIER block of the same key. Only the summaries, one row per
  * (keys, blk), ever meet across blocks:
  *
  *   - keyed (`keys` non-empty): the offsets are one window over the
  *     summaries, partitioned by `keys`, joined back on (keys, blk);
  *   - un-keyed: the summaries pair up with themselves on
  *     `b.blk < a.blk` and are grouped per block, then ride a broadcast
  *     back, so no WindowExec without a partition spec is ever planned.
  *     The pairing collects the summaries into one array and explodes
  *     it against itself rather than joining them to themselves: a
  *     self-join would evaluate the input once more, and nested callers
  *     (q241's three ranks) would plan one more copy per level. The
  *     pairs number B²/2 for B blocks, which bounds the un-keyed form
  *     to few blocks: 256 from [[uniformBlocks]], the alphabet squared
  *     for `Fuzzy.blockRankIds`' 2-char prefix, ~100 for a rounded
  *     score grid cut into hundredths.
  *
  * Sums keep Spark's own aggregate typing (long stays long, a
  * DECIMAL(p, s) sum widens as `sum` widens it), so a regrouped decimal
  * sum is bit-identical to the single-window form. An empty (or
  * all-NULL) sum is 0; an empty max is NULL. A global rank is the
  * inclusive running sum of `lit(1L)` under a total order.
  */
object Cumulative {

  sealed abstract class Agg(val of: Column => Column,
      val combine: (Column, Column) => Column)
  case object Sum extends Agg(c => sum(c),
    (local, off) => coalesce(local, lit(0)) + coalesce(off, lit(0)))
  case object Max extends Agg(c => max(c), (local, off) => greatest(local, off))

  private val Loc = "__cum_local"
  private val Bs = "__cum_bs"
  private val Off = "__cum_off"

  /** `df` plus `out`: the running `agg` of `value` along `order` within
    * `keys`, inclusive or exclusive of the row itself. The block column
    * `blk` of `df` must be non-decreasing along `order`; it and the
    * `order` columns must be non-null. Column order of `df` is kept,
    * `out` last.
    */
  def running(df: DataFrame, keys: Seq[String], blk: String,
      order: Seq[Column], value: Column, agg: Agg, inclusive: Boolean,
      out: String): DataFrame = {
    val ks = keys.map(col)
    val local = df.withColumn(Loc, agg.of(value).over(
      Window.partitionBy(ks :+ col(blk): _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1L)))
    val sums = df.groupBy(ks :+ col(blk): _*).agg(agg.of(value).as(Bs))
    val joined =
      if (keys.nonEmpty)
        local.join(sums.select(ks :+ col(blk) :+ agg.of(col(Bs)).over(
          Window.partitionBy(ks: _*).orderBy(col(blk))
            .rowsBetween(Window.unboundedPreceding, -1)).as(Off): _*),
          keys :+ blk)
      else {
        val all = col("__cum_s")
        val a = col("__cum_a").getField(blk)
        val offs = sums.agg(collect_list(struct(col(blk), col(Bs))).as("__cum_s"))
          .select(explode(all).as("__cum_a"), all)
          .select(a.as(blk),
            explode_outer(filter(all, b => b.getField(blk) < a)).as("__cum_b"))
          .groupBy(col(blk)).agg(agg.of(col("__cum_b").getField(Bs)).as(Off))
        local.join(broadcast(offs), Seq(blk))
      }
    joined.select(df.columns.filter(_ != out).map(quoted) :+
      agg.combine(col(Loc), col(Off)).as(out): _*)
  }

  /** `df` plus a long block column `out`: 256 uniform blocks over
    * [min, max] of `x` per `keys` (over the whole frame when `keys` is
    * empty). A block is a function of `x` alone within a key, so equal
    * values share a block and the block is non-decreasing in `x`; the
    * double arithmetic only places rows, it never touches a value.
    */
  def uniformBlocks(df: DataFrame, keys: Seq[String], x: Column,
      out: String): DataFrame = {
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(min(x).cast("double").as("__cum_lo"),
        max(x).cast("double").as("__cum_hi"))
    val withBounds =
      if (keys.isEmpty) df.crossJoin(broadcast(bounds))
      else df.join(bounds, keys)
    withBounds.select(df.columns.filter(_ != out).map(quoted) :+
      least(lit(255L), greatest(lit(0L),
        floor((x.cast("double") - col("__cum_lo")) * 256.0 /
          (col("__cum_hi") - col("__cum_lo") + 1e-9)).cast("long"))).as(out): _*)
  }

  private def quoted(name: String): Column =
    col("`" + name.replace("`", "``") + "`")
}
