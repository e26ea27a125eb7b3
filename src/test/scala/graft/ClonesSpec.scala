package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.Clones

/** Exact-clone precollapse: the groups `collapse` forms, the member
  * pairs `pairs` expands from rep-level pairs, and a source guard that
  * keeps md5-grouped representatives inside the primitive.
  */
class ClonesSpec extends AnyFunSuite with TestSpark {

  /** Groups by text: a = {1, 5, 9} (three members), b = {2, 4},
    * d = {6, 7}, and the singletons c = {3} and e = {8}. */
  private lazy val docs = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      Row(1L, "a", "s1"), Row(2L, "b", "s2"), Row(3L, "c", "s3"),
      Row(4L, "b", "s4"), Row(5L, "a", "s5"), Row(6L, "d", "s6"),
      Row(7L, "d", "s7"), Row(8L, "e", "s8"), Row(9L, "a", "s9")), 3),
    StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("src", StringType))))

  private val pairSchema = StructType(Seq(
    StructField("d1", LongType), StructField("d2", LongType),
    StructField("p1", LongType), StructField("p2", LongType),
    StructField("v", StringType)))

  private def pairsOf(rows: Row*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), pairSchema)

  private def collected(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getString(4))).toSet

  test("collapse: reps keep every input column, members carry (rep, sz)") {
    val c = Clones.collapse(docs, "text")
    assert(c.reps.columns.toSeq == docs.columns.toSeq)
    assert(c.reps.collect().map(r => (r.getLong(0), r.getString(2))).toSet ==
      Set(1L -> "s1", 2L -> "s2", 3L -> "s3", 6L -> "s6", 8L -> "s8"))
    assert(c.members.columns.toSeq == Seq("doc_id", "rep", "sz"))
    assert(c.members.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap ==
      Map(1L -> ((1L, 3L)), 5L -> ((1L, 3L)), 9L -> ((1L, 3L)),
        2L -> ((2L, 2L)), 4L -> ((2L, 2L)), 6L -> ((6L, 2L)),
        7L -> ((6L, 2L)), 3L -> ((3L, 1L)), 8L -> ((8L, 1L))))
  }

  test("cross-group pairs expand to every member pair, re-oriented, with " +
      "the oriented columns swapped where members flip") {
    val c = Clones.collapse(docs, "text")
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("rep", LongType), StructField("p1", LongType),
        StructField("p2", LongType), StructField("v", StringType))))
    val got = c.pairs(pairsOf(
      Row(1L, 2L, 10L, 20L, "ab"), // a x b: 3 x 2 member pairs
      Row(2L, 3L, 30L, 40L, "bc"), // b x the singleton c: 4 > 3 flips
      Row(3L, 8L, 50L, 60L, "ce")), // two singletons: one pair
      none, Seq("p1" -> "p2"))
    assert(got.columns.toSeq == pairSchema.fieldNames.toSeq)
    assert(collected(got) == Set(
      (1L, 2L, 10L, 20L, "ab"), (1L, 4L, 10L, 20L, "ab"),
      (2L, 5L, 20L, 10L, "ab"), (4L, 5L, 20L, 10L, "ab"),
      (2L, 9L, 20L, 10L, "ab"), (4L, 9L, 20L, 10L, "ab"),
      (2L, 3L, 30L, 40L, "bc"), (3L, 4L, 40L, 30L, "bc"),
      (3L, 8L, 50L, 60L, "ce")))
    // without the oriented pair named, the values ride unswapped
    val plain = c.pairs(pairsOf(Row(1L, 2L, 10L, 20L, "ab")), none)
    assert(collected(plain).filter(_._1 == 2L).map(p => (p._3, p._4)) ==
      Set(10L -> 20L))
  }

  test("intra-group pairs: all three of a group of three, none for a " +
      "gated-out group or a singleton") {
    val c = Clones.collapse(docs, "text")
    // a, b and the singleton c pass the gate; d does not
    val intra = c.reps.filter(col("text") =!= "d")
      .select(col("doc_id").as("rep"), lit(1L).as("p1"), lit(1L).as("p2"),
        concat(lit("w"), col("text")).as("v"))
    val got = c.pairs(pairsOf(), intra, Seq("p1" -> "p2"))
    assert(collected(got) == Set(
      (1L, 5L, 1L, 1L, "wa"), (1L, 9L, 1L, 1L, "wa"), (5L, 9L, 1L, 1L, "wa"),
      (2L, 4L, 1L, 1L, "wb")))
  }

  test("only the primitive takes a min-doc_id representative or pairs " +
      "rows over an md5 key (Multimodal's phash-0 zeroPairs is the one " +
      "exception)") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 1, s"no sources under $root")
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val|lazy val) """.r
    val md5Key = """md5\(col\("\w+"\)\)\.as\("(\w+)"\)""".r
    val hits = for {
      f <- files if f.getFileName.toString != "Clones.scala"
      lines = Files.readAllLines(f).asScala.toSeq
      // one object member's body at a time: an md5 key names a group
      // only within the member that computes it
      starts = lines.indices.filter(i => member.findFirstIn(lines(i)).isDefined)
      (from, until) <- (0 +: starts).zip(starts :+ lines.size)
      body = lines.slice(from, until)
      keys = body.flatMap(l => md5Key.findAllMatchIn(l).map(_.group(1))).toSet
      if keys.nonEmpty
      (line, i) <- body.zipWithIndex
      if line.contains("""min(col("doc_id"))""") ||
        keys.exists(k => line.contains(s"""Seq("$k"))"""))
    } yield (root.relativize(f).toString, s"${from + i + 1}: ${line.trim}")
    assert(hits.map(_._1) == Seq("graft/llm/Multimodal.scala") &&
      hits.forall(_._2.contains("zeros")),
      s"md5-grouped representatives or pair joins outside Clones:\n" +
        hits.mkString("\n"))
  }
}
