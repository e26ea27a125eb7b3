package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-clone precollapse: the scale fix of every dedup operator whose
  * join cost is quadratic in clone multiplicity (q86, q134, q138, q139,
  * q147, q165). Rows whose payload is byte-identical form one group,
  * keyed by md5 of the payload; the group's minimum `doc_id` is its
  * representative (rep). The expensive join then runs over the reps
  * alone, and the members are put back after it.
  *
  *   - [[reps]]: the input rows whose `doc_id` is a rep, every column
  *     kept (a `left_semi` on `doc_id`, so the payload never rides the
  *     grouping exchange — only the slim (doc_id, md5) key does).
  *   - [[members]]: (doc_id, rep, sz), one row per input row, `sz` the
  *     group size.
  *
  * The membership map has one row per input row: corpus cardinality,
  * far past any broadcast limit at scale. It joins the plain shuffle
  * way, never force-broadcast; AQE still broadcasts a side whose runtime
  * stats say it is tiny.
  */
final class Clones private (val reps: DataFrame, val members: DataFrame) {

  /** Member-level pairs from rep-level pairs: the answer of a pair
    * operator over the whole input, given its answer over [[reps]].
    *
    *   - Cross-group: each `repPairs` row (d1 < d2, both reps, plus
    *     value columns) holds for every member of d1's group against
    *     every member of d2's, at the same values (identical payloads
    *     give identical answers). Orientation is re-canonicalized to
    *     d1 < d2; each oriented column pair in `swap` (the spans'
    *     `p1`/`p2`) trades places when the members flip order against
    *     their reps.
    *   - Intra-group: `intra` is keyed by `rep` and names the groups
    *     whose members pair with each other, with that pair's value
    *     columns (the same names as `repPairs`' values). Every member
    *     pair d1 < d2 of such a group is emitted; a singleton has none.
    *     The gate applies before the member self-join.
    *
    * Columns come out in `repPairs`' order. The expansion is
    * output-sized (the answer itself is quadratic in clone
    * multiplicity), but nothing quadratic enters a shuffle key group or
    * a join build side.
    */
  def pairs(repPairs: DataFrame, intra: DataFrame,
      swap: Seq[(String, String)] = Nil): DataFrame = {
    def side(i: Int) = members.select(col("rep").as(s"d$i"), col("doc_id").as(s"m$i"))
    val flip = col("m1") > col("m2")
    val swapped = swap.flatMap { case (a, b) =>
      Seq(a -> when(flip, col(b)).otherwise(col(a)),
        b -> when(flip, col(a)).otherwise(col(b)))
    }.toMap
    val cross = repPairs.join(side(1), Seq("d1")).join(side(2), Seq("d2"))
      .select(repPairs.columns.toSeq.map {
        case "d1" => least(col("m1"), col("m2")).as("d1")
        case "d2" => greatest(col("m1"), col("m2")).as("d2")
        case c => swapped.getOrElse(c, col(c)).as(c)
      }: _*)
    val within = members.join(intra, Seq("rep")).as("a")
      .join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1") +: col("b.doc_id").as("d2") +:
        intra.columns.toSeq.filter(_ != "rep").map(c => col(s"a.$c")): _*)
    cross.unionByName(within)
  }
}

object Clones {

  /** Group `df`'s rows by md5 of its `payload` column (string or
    * binary). `df` must carry a non-null long `doc_id`. */
  def collapse(df: DataFrame, payload: String): Clones = {
    val keyed = df.select(col("doc_id"), md5(col(payload)).as("__clone_fp"))
    val groups = keyed.groupBy(col("__clone_fp"))
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("sz"))
    new Clones(
      df.join(groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi"),
      keyed.join(groups, Seq("__clone_fp"))
        .select(col("doc_id"), col("rep"), col("sz")))
  }
}
