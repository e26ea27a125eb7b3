package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Dq

/** Row-level snapshot diff (q179's operator): classification, null-safe
  * column comparison, changed-column lists, and omission of the
  * unchanged bulk.
  */
class DqSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("a", StringType),
    StructField("b", IntegerType)))

  private def df(rows: Seq[Row]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), schema)

  private lazy val oldDf = df(Seq(
    Row(1L, "x", Integer.valueOf(1)), // unchanged
    Row(2L, "y", Integer.valueOf(2)), // a changes
    Row(3L, null, Integer.valueOf(3)), // null -> value (a changes)
    Row(4L, "z", null), // stays null (unchanged, null-safe)
    Row(5L, "w", Integer.valueOf(5)))) // removed

  private lazy val newDf = df(Seq(
    Row(1L, "x", Integer.valueOf(1)),
    Row(2L, "Y", Integer.valueOf(2)),
    Row(3L, "v", Integer.valueOf(3)),
    Row(4L, "z", null),
    Row(6L, "n", Integer.valueOf(6)))) // added

  private lazy val diff = Dq.snapshotDiff(oldDf, newDf, Seq("k")).collect()
    .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap

  test("classification: added / removed / changed; unchanged omitted") {
    assert(diff.keySet == Set(2L, 3L, 5L, 6L))
    assert(diff(5L)._1 == "removed")
    assert(diff(6L)._1 == "added")
    assert(diff(2L)._1 == "changed")
  }

  test("changed_cols names exactly the differing columns, null-safely") {
    assert(diff(2L)._2 == "a")
    assert(diff(3L)._2 == "a") // null -> 'v' is a change
    // k=4: null == null under <=> so the row is absent entirely
    assert(!diff.contains(4L))
  }

  test("k-anonymity: class-size histogram with risky flag") {
    import org.apache.spark.sql.functions._
    // quasi (q): one class of 1, two classes of 2, one class of 5
    val rows = Seq("a") ++ Seq("b", "b") ++ Seq("c", "c") ++ Seq.fill(5)("d")
    val df = spark.createDataFrame(rows.zipWithIndex.map {
      case (q, i) => (i.toLong, q)
    }).toDF("id", "q")
    val hist = graft.etl.Dq.kAnonymity(df, Seq("q"), k = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(hist(1L) == ((1L, 1L, true)))
    assert(hist(2L) == ((2L, 4L, true)))
    assert(hist(5L) == ((1L, 5L, false)))
  }

  test("NULL-keyed rows pair up null-safely (never added AND removed)") {
    // ADVICE r12: an === key join never matches NULL keys, so a
    // NULL-keyed row present in both snapshots was double-reported.
    val o = df(Seq(Row(null, "same", Integer.valueOf(1)),
      Row(1L, "x", Integer.valueOf(1))))
    val n = df(Seq(Row(null, "same", Integer.valueOf(1)),
      Row(1L, "x", Integer.valueOf(1))))
    assert(Dq.snapshotDiff(o, n, Seq("k")).collect().isEmpty,
      "identical snapshots must diff empty even with NULL keys")
    // and a NULL-keyed CHANGE is one 'changed' row, not two rows
    val n2 = df(Seq(Row(null, "edited", Integer.valueOf(1)),
      Row(1L, "x", Integer.valueOf(1))))
    val d = Dq.snapshotDiff(o, n2, Seq("k")).collect()
    assert(d.length == 1 && d.head.getString(1) == "changed" &&
      d.head.getString(2) == "a", s"got ${d.toSeq}")
  }

  test("duplicate keys (incl. 2+ NULL-keyed rows) report ambiguous, " +
      "never N*M join pairs") {
    // ADVICE r13: with 2+ distinct NULL-keyed rows per side, the raw
    // <=> join cross-joined them (N*M spurious 'changed' rows). The
    // pre-aggregation collapses every duplicated key — NULL or not —
    // to ONE 'ambiguous' row, the "fix uniqueness first" signal.
    val o = df(Seq(Row(null, "p", Integer.valueOf(1)),
      Row(null, "q", Integer.valueOf(2)),
      Row(7L, "x", Integer.valueOf(1)),
      Row(8L, "a", Integer.valueOf(1)),
      Row(8L, "b", Integer.valueOf(2))))
    val n = df(Seq(Row(null, "p", Integer.valueOf(1)),
      Row(null, "q", Integer.valueOf(2)),
      Row(7L, "x", Integer.valueOf(1)),
      Row(8L, "a", Integer.valueOf(1))))
    val d = Dq.snapshotDiff(o, n, Seq("k")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        (r.getString(1), r.getString(2)))
    assert(d.length == 2, s"got ${d.toSeq}")
    val m = d.toMap
    // two NULL-keyed rows per side -> one ambiguous row, not 4 pairs
    assert(m(-1L) == (("ambiguous", "")))
    // duplicated non-NULL key on one side -> ambiguous too
    assert(m(8L) == (("ambiguous", "")))
    // the clean unique key is untouched by its neighbors
    assert(!m.contains(7L))
  }

  test("columns only in one schema are ignored") {
    import org.apache.spark.sql.functions._
    val widened = newDf.withColumn("extra", lit(9))
    val d = Dq.snapshotDiff(oldDf, widened, Seq("k")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(d(2L) == "a") // 'extra' never appears
  }

  test("equi-depth histogram ignores nulls: buckets of the non-null values") {
    import spark.implicits._
    val vals = (1 to 10).map(Option(_)) ++ Seq.fill(6)(Option.empty[Int])
    def hist(xs: Seq[Option[Int]]) =
      Dq.equidepthHistogram(xs.toDF("x"), "x", nb = 4).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val want = Seq((1, 3L, 1, 3), (2, 2L, 4, 5), (3, 3L, 6, 8), (4, 2L, 9, 10))
    assert(hist(vals.filter(_.isDefined)) == want)
    assert(hist(vals) == want)
    assert(hist(Seq.fill(3)(Option.empty[Int])).isEmpty)
  }
}
