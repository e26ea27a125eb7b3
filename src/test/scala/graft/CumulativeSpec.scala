package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.RunMetrics
import graft.plans.Cumulative
import graft.queries.Registry

/** The two-phase block cumulative: `running` against a single-window
  * reference computed on the collected rows, the plan of every caller
  * (no WindowExec without a partition spec in any SQL execution it
  * runs), and a source guard that keeps block-ordered windows inside the
  * primitive.
  */
class CumulativeSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("o", LongType),
    StructField("id", LongType), StructField("v", DecimalType(18, 2))))

  /** Keys 0..3 plus the one-row key 99; `o` ties inside a block and its
    * blocks (`o / 10`) have gaps; `id` makes (o, id) a total order. */
  private def rows(seed: Long): Seq[(Long, Long, Long, java.math.BigDecimal)] = {
    val r = new Random(seed)
    val os = (0L to 4L) ++ (30L to 34L) ++ (90L to 91L) ++ Seq(250L)
    val many = (1L to 150L).map { id =>
      (r.nextInt(4).toLong, os(r.nextInt(os.size)), id,
        java.math.BigDecimal.valueOf(r.nextLong() % 100000000000L, 2))
    }
    many :+ ((99L, 7L, 151L, java.math.BigDecimal.valueOf(-123, 2)))
  }

  /** Reference: per key (or over all rows), sorted by (o, id), the
    * inclusive and exclusive running sum (0 when empty) and max (None
    * when empty). */
  private def reference(in: Seq[(Long, Long, Long, java.math.BigDecimal)],
      keyed: Boolean) = {
    val zero = java.math.BigDecimal.valueOf(0, 2)
    in.groupBy(r => if (keyed) r._1 else 0L).values.flatMap { grp =>
      val sorted = grp.sortBy(r => (r._2, r._3))
      val sums = sorted.scanLeft(zero)((acc, r) => acc.add(r._4))
      val maxes = sorted.scanLeft(Option.empty[java.math.BigDecimal]) {
        (acc, r) => Some(acc.fold(r._4)(m => m.max(r._4)))
      }
      sorted.indices.map { i =>
        sorted(i)._3 -> ((sums(i + 1), sums(i), maxes(i + 1), maxes(i)))
      }
    }.toMap
  }

  for (keyed <- Seq(true, false); seed <- Seq(1L, 2L, 3L)) {
    val form = if (keyed) "keyed" else "un-keyed"
    test(s"running == single-window reference: sum/max x incl/excl, " +
        s"$form, seed $seed") {
      val in = rows(seed)
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(
          in.map { case (k, o, id, v) => Row(k, o, id, v) }, 3), schema)
      val keys = if (keyed) Seq("k") else Nil
      val order = Seq(col("o"), col("id"))
      val got = Seq(
        ("sum_in", Cumulative.Sum, true), ("sum_ex", Cumulative.Sum, false),
        ("max_in", Cumulative.Max, true), ("max_ex", Cumulative.Max, false))
        .foldLeft(df.withColumn("b", floor(col("o") / 10))) {
          case (d, (out, agg, incl)) =>
            Cumulative.running(d, keys, "b", order, col("v"), agg, incl, out)
        }
      assert(got.columns.toSeq == Seq("k", "o", "id", "v", "b",
        "sum_in", "sum_ex", "max_in", "max_ex"))
      Seq("sum_in", "sum_ex").foreach { c =>
        assert(got.schema(c).dataType.isInstanceOf[DecimalType] &&
          got.schema(c).dataType.asInstanceOf[DecimalType].scale == 2,
          s"$c: ${got.schema(c).dataType}")
      }
      val ref = reference(in, keyed)
      val out = got.collect()
      assert(out.length == in.length)
      out.foreach { r =>
        val (sIn, sEx, mIn, mEx) = ref(r.getLong(2))
        val got = (r.getAs[java.math.BigDecimal]("sum_in"),
          r.getAs[java.math.BigDecimal]("sum_ex"),
          Option(r.getAs[java.math.BigDecimal]("max_in")),
          Option(r.getAs[java.math.BigDecimal]("max_ex")))
        // java BigDecimal equality also compares the scale: bit-identical
        assert(got == ((sIn, sEx, mIn, mEx)),
          s"at id ${r.getLong(2)}: $got vs ${(sIn, sEx, mIn, mEx)}")
      }
    }
  }

  test("a rank is the inclusive running sum of 1 under a total order, " +
      "over uniform blocks") {
    val df = spark.range(0, 500).select(col("id"),
      ((col("id") * 7919) % 97).as("x"))
    val ranked = Cumulative.running(
      Cumulative.uniformBlocks(df, Nil, col("x"), "b"), Nil, "b",
      Seq(col("x"), col("id")), lit(1L), Cumulative.Sum, inclusive = true,
      "rank")
    assert(ranked.schema("rank").dataType == LongType)
    val got = ranked.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val want = df.collect().map(r => (r.getLong(1), r.getLong(0)))
      .sorted.zipWithIndex.map { case ((_, id), i) => id -> (i + 1L) }.toMap
    assert(got == want)
    assert(ranked.select(countDistinct(col("b"))).head.getLong(0) > 50)
  }

  test("no caller plans a WindowExec without a partition spec") {
    val sf = "/root/testdata/sf0.001"
    val callers = Seq("q58_running_sum_scale", "q62_token_packing",
      "q102_entropy_gate", "q118_classifier_auc",
      "q153_equidepth_histogram", "q159_spearman", "q175_fuzzy_groups",
      "q180_vocab_normalize", "q191_gap_percentiles", "q193_pareto_abc",
      "q195_winsorize", "q196_funnel_latency", "q209_range_shards",
      "q217_skyline", "q231_gini", "q241_rfm")
    for (q <- callers) {
      // every SQL execution the query runs — pinned sub-frames included
      val seen = mutable.ArrayBuffer.empty[QueryExecution]
      val listener = new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          seen.synchronized(seen += qe)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try RunMetrics.measure(spark)(Registry.queries(q)(spark, sf).collect())
      finally spark.listenerManager.unregister(listener)
      assert(seen.nonEmpty, s"$q: no SQL execution seen")
      val windows = seen.toSeq.flatMap(windowExecs)
      assert(windows.nonEmpty, s"$q: no WindowExec seen")
      val bad = windows.filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty, s"$q plans an unpartitioned window:\n" +
        bad.map(_.simpleString(200)).mkString("\n"))
    }
  }

  test("only the primitive orders a window by a block column (Sessionize's " +
      "session-merge lag is the one exception)") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 1, s"no sources under $root")
    val blockOrder = """orderBy\(col\("_*blk"\)""".r
    val hits = for {
      f <- files if f.getFileName.toString != "Cumulative.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if blockOrder.findFirstIn(line).isDefined
    } yield (root.relativize(f).toString, s"${i + 1}: ${line.trim}")
    assert(hits.map(_._1) == Seq("graft/queries/Sessionize.scala"),
      s"block-ordered windows outside Cumulative:\n${hits.mkString("\n")}")
  }
}
