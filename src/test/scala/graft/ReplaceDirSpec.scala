package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Writers
import graft.llm.IvfStore

/** Runs a hook on the driver right after a write job commits — the
  * instant a concurrent appender would land between a compaction's
  * snapshot and its swap. */
class RacingCommitProtocol(jobId: String, path: String,
    dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path,
      dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext,
      taskCommits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(jobContext, taskCommits)
    RacingCommitProtocol.onCommit()
  }
}

object RacingCommitProtocol {
  @volatile var onCommit: () => Unit = () => ()
}

/** The crash-safe directory swap every in-place rewrite goes through:
  * each crash window of [[Writers.replaceDir]] is put back by
  * [[Writers.recoverDir]], a failing write step leaves the live dir
  * byte-identical, and no other source file renames directories.
  */
class ReplaceDirSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))
  private def tbl(rows: (Long, String)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)
  private def vals(d: String) = spark.read.parquet(d).collect()
    .map(r => (r.getLong(0), r.getString(1))).toSet
  private def exists(d: String) = new java.io.File(d).exists()
  private def liveDir(): String =
    Files.createTempDirectory("graft-swap").toString + "/t"

  /** Every file under `d` (relative path → bytes). */
  private def bytes(d: String): Map[String, Seq[Byte]] = {
    val root = Paths.get(d)
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => root.relativize(f).toString -> Files.readAllBytes(f).toSeq)
      .toMap
  }

  /** Run `compaction` while a racer drops a file at `racer` right after
    * the compacted copy commits: the compaction must abort with the
    * live dir `live` byte-identical apart from the racer's file, which
    * survives, and no stage or set-aside copy left behind. */
  private def assertRaceAborts(live: String, racer: java.nio.file.Path)(
      compaction: => Unit): Unit = {
    val protocolConf = "spark.sql.sources.commitProtocolClass"
    val protocol = spark.conf.get(protocolConf)
    val before = bytes(live)
    try {
      RacingCommitProtocol.onCommit =
        () => Files.write(racer, Array[Byte](1, 2, 3))
      spark.conf.set(protocolConf, classOf[RacingCommitProtocol].getName)
      val ex = intercept[IllegalStateException](compaction)
      assert(ex.getMessage.contains("concurrent append"), ex.getMessage)
    } finally {
      RacingCommitProtocol.onCommit = () => ()
      spark.conf.set(protocolConf, protocol)
    }
    val rel = Paths.get(live).relativize(racer).toString
    assert(Files.exists(racer), "the racing append was deleted")
    assert(bytes(live) - rel == before)
    assert(!exists(Writers.swapTmp(live)) && !exists(Writers.swapOld(live)))
  }

  private val v1 = Set(1L -> "old")
  private val v2 = Set(1L -> "new", 2L -> "added")

  test("no other main source renames directories: every swap is " +
      "replaceDir's (Versioned's log commit is its own protocol)") {
    val root = Paths.get(sys.props("user.dir"), "src/main/scala")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 1, s"no sources under $root")
    val allowed = Set("Writers.scala", "Versioned.scala")
    val offenders = for {
      f <- files if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains(".rename(")
    } yield s"${root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"directory renames outside Writers.replaceDir:\n${offenders.mkString("\n")}")
  }

  test("every crash window of the swap is put back by recoverDir") {
    // before the first rename: the original is live, the stage garbage
    val d1 = liveDir()
    tbl(v1.toSeq: _*).write.parquet(d1)
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d1))
    assert(Writers.recoverDir(spark, d1) == "clean")
    assert(vals(d1) == v1 && !exists(Writers.swapTmp(d1)))

    // between the renames, complete stage: the new copy is promoted
    val d2 = liveDir()
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d2))
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d2))
    assert(Writers.recoverDir(spark, d2) == "promoted-tmp")
    assert(vals(d2) == v2)
    assert(!exists(Writers.swapOld(d2)) && !exists(Writers.swapTmp(d2)))

    // between the renames, torn stage (no _SUCCESS): original restored
    val d3 = liveDir()
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d3))
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d3))
    Files.delete(Paths.get(Writers.swapTmp(d3), "_SUCCESS"))
    assert(Writers.recoverDir(spark, d3) == "restored-old")
    assert(vals(d3) == v1)
    assert(!exists(Writers.swapOld(d3)) && !exists(Writers.swapTmp(d3)))

    // after the promote, before the delete: the new copy stays live
    val d4 = liveDir()
    tbl(v2.toSeq: _*).write.parquet(d4)
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d4))
    assert(Writers.recoverDir(spark, d4) == "clean")
    assert(vals(d4) == v2 && !exists(Writers.swapOld(d4)))

    // no table ever existed: nothing to restore, a torn first stage is
    // cleared, and a swap simply creates the dir
    val d5 = liveDir()
    assert(Writers.recoverDir(spark, d5) == "missing")
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d5))
    Files.delete(Paths.get(Writers.swapTmp(d5), "_SUCCESS"))
    assert(Writers.recoverDir(spark, d5) == "missing")
    assert(!exists(Writers.swapTmp(d5)))
    Writers.replaceDir(spark, d5)(s => tbl(v1.toSeq: _*).write.parquet(s))
    assert(vals(d5) == v1)
    assert(!exists(Writers.swapOld(d5)) && !exists(Writers.swapTmp(d5)))
  }

  test("a swap over an unrecovered crash reads the restored original, " +
      "never an empty table") {
    // crashed between the renames with a torn stage: only the
    // set-aside original holds the rows
    val vschema = StructType(schema.fields :+ StructField("ver", LongType))
    def vtbl(rows: Row*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), vschema)
    val d = liveDir()
    vtbl(Row(1L, "old", 1L)).write.parquet(Writers.swapOld(d))
    vtbl(Row(1L, "torn", 2L)).write.parquet(Writers.swapTmp(d))
    Files.delete(Paths.get(Writers.swapTmp(d), "_SUCCESS"))
    Writers.upsert(spark, d, vtbl(Row(2L, "added", 1L)), Seq("k"), "ver")
    val got = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "old", 2L -> "added"))
  }

  test("a failing write step removes the stage and leaves the live dir " +
      "byte-identical") {
    val d = liveDir()
    tbl(v1.toSeq: _*).write.parquet(d)
    val before = bytes(d)
    val ex = intercept[IllegalStateException] {
      Writers.replaceDir(spark, d) { stage =>
        tbl(v2.toSeq: _*).write.parquet(stage)
        throw new IllegalStateException("write step failed")
      }
    }
    assert(ex.getMessage == "write step failed")
    assert(bytes(d) == before)
    assert(!exists(Writers.swapTmp(d)) && !exists(Writers.swapOld(d)))
  }

  test("a stage cleared before the swap fails it and leaves the live " +
      "dir byte-identical, never swapping in an empty copy") {
    val d = liveDir()
    tbl(v1.toSeq: _*).write.parquet(d)
    val before = bytes(d)
    val ex = intercept[java.io.IOException] {
      Writers.replaceDir(spark, d) { stage =>
        tbl(v2.toSeq: _*).write.parquet(stage)
        // a concurrent open's recoverDir sees `d` live and clears the
        // complete stage as stale
        assert(Writers.recoverDir(spark, d) == "clean")
      }
    }
    assert(ex.getMessage.contains("vanished"), ex.getMessage)
    assert(bytes(d) == before)
    assert(!exists(Writers.swapTmp(d)) && !exists(Writers.swapOld(d)))
  }

  test("compactBucketedTable aborts when an append races its snapshot: " +
      "original files and catalog entry untouched") {
    val tmp = Files.createTempDirectory("graft-swap-race").toString
    val path = s"$tmp/racy"
    val table = "swap_race_bkt"
    spark.range(0, 200).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartition(4)
      .write.option("path", path).bucketBy(4, "k").sortBy("k")
      .format("parquet").saveAsTable(table)
    val protocolConf = "spark.sql.sources.commitProtocolClass"
    val protocol = spark.conf.get(protocolConf)
    try {
      val before = bytes(path)
      val rows = spark.table(table).collect().map(_.toString).toSet
      val racer = Paths.get(path, "part-99999-racer.c000.zstd.parquet")
      RacingCommitProtocol.onCommit =
        () => Files.write(racer, Array[Byte](1, 2, 3))
      spark.conf.set(protocolConf, classOf[RacingCommitProtocol].getName)
      val ex = intercept[IllegalStateException] {
        Writers.compactBucketedTable(spark, table, path, "k", 4)
      }
      assert(ex.getMessage.contains("concurrent append"), ex.getMessage)
      assert(bytes(path) - racer.getFileName.toString == before)
      assert(!exists(Writers.swapTmp(path)) && !exists(Writers.swapOld(path)))
      assert(spark.catalog.tableExists(table))
      Files.delete(racer)
      spark.catalog.refreshTable(table)
      assert(spark.table(table).collect().map(_.toString).toSet == rows)
    } finally {
      RacingCommitProtocol.onCommit = () => ()
      spark.conf.set(protocolConf, protocol)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_tmp")
    }
  }

  test("compactBucketedTable on a batch-partitioned table: a racing " +
      "append inside a partition dir aborts it; a clean run folds the " +
      "older partitions into batch=n-1 and keeps batch=n") {
    val tmp = Files.createTempDirectory("graft-swap-part").toString
    val path = s"$tmp/parts"
    val table = "swap_part_bkt"
    spark.range(0, 300).selectExpr("id AS k", "CAST(id AS STRING) AS v",
        "id % 3 AS batch")
      .write.option("path", path).partitionBy("batch")
      .bucketBy(4, "k").sortBy("k")
      .format("parquet").saveAsTable(table)
    val protocolConf = "spark.sql.sources.commitProtocolClass"
    val protocol = spark.conf.get(protocolConf)
    def rows(): Set[(Long, String, Long)] = {
      spark.catalog.refreshTable(table)
      spark.table(table).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    try {
      val before = rows()
      val racer = Paths.get(path, "batch=0", "part-99999-racer.c000.zstd.parquet")
      RacingCommitProtocol.onCommit =
        () => Files.write(racer, Array[Byte](1, 2, 3))
      spark.conf.set(protocolConf, classOf[RacingCommitProtocol].getName)
      val ex = intercept[IllegalStateException] {
        Writers.compactBucketedTable(spark, table, path, "k", 4)
      }
      assert(ex.getMessage.contains("concurrent append"), ex.getMessage)
      RacingCommitProtocol.onCommit = () => ()
      spark.conf.set(protocolConf, protocol)
      Files.delete(racer)
      assert(rows() == before)

      val files = Writers.compactBucketedTable(spark, table, path, "k", 4)
      assert(files <= 8, s"$files files for 2 partitions x 4 buckets")
      val parts = new java.io.File(path).listFiles().map(_.getName)
        .filter(_.startsWith("batch=")).sorted.toSeq
      assert(parts == Seq("batch=1", "batch=2"), s"partitions: $parts")
      assert(rows() == before.map { case (k, v, b) => (k, v, math.max(b, 1L)) })
      assert(spark.sql(s"SHOW CREATE TABLE $table").head().getString(0)
        .contains("4 BUCKETS"))
    } finally {
      RacingCommitProtocol.onCommit = () => ()
      spark.conf.set(protocolConf, protocol)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      spark.sql(s"DROP TABLE IF EXISTS ${table}_compact_tmp")
    }
  }

  test("Writers.compact aborts when an append races it: the appended " +
      "file and the original stay") {
    val d = liveDir()
    spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .repartition(5).write.parquet(d)
    val racer = Paths.get(d, "part-99999-racer.c000.zstd.parquet")
    assertRaceAborts(d, racer)(Writers.compact(spark, d))
    Files.delete(racer)
    assert(Writers.compact(spark, d) == 1)
    assert(spark.read.parquet(d).count() == 100)
  }

  test("IvfStore.compact aborts when an append races it: the appended " +
      "cell file and the original stay") {
    val dir = Files.createTempDirectory("graft-swap-ivf").toString
    val cells = s"$dir/cells"
    spark.range(0, 100).selectExpr("id AS vec_id", "id % 4 AS cell")
      .repartition(5).write.partitionBy("cell").parquet(cells)
    val racer = Paths.get(cells, "cell=0", "part-99999-racer.c000.zstd.parquet")
    assertRaceAborts(cells, racer)(IvfStore.compact(spark, dir))
    Files.delete(racer)
    assert(IvfStore.compact(spark, dir) == 4)
    assert(spark.read.parquet(cells).count() == 100)
  }
}
