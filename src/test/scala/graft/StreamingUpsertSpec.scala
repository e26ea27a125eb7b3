package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Writers
import graft.streaming.StreamingUpsert

/** Streaming CDC apply: landed delta parquet merges partition-scoped
  * into an SCD1 table; untouched partitions stay byte-identical;
  * replays are no-ops; an interrupted swap recovers before the next
  * batch applies.
  */
class StreamingUpsertSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("ver", LongType), StructField("dt", StringType)))

  private def delta(rows: (Long, String, Long, String)*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 1), schema)

  private def land(landing: String, name: String,
      rows: Seq[(Long, String, Long, String)]): Unit = {
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-ups-wave").toString
    delta(rows: _*).coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(landing, name))
  }

  private def tableRows(dir: String): Set[(Long, String, String)] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.get(3).toString)).toSet

  test("waves merge partition-scoped; untouched partition byte-identical; " +
      "replay/restart is a no-op") {
    val landing = java.nio.file.Files
      .createTempDirectory("graft-ups-in").toString
    val table = java.nio.file.Files
      .createTempDirectory("graft-ups-t").toString + "/t"
    def drain(): Unit = StreamingUpsert.start(spark, landing, table,
      schema, "dt", Seq("k"), "ver").awaitTermination()

    land(landing, "w1.parquet", Seq(
      (1L, "a1", 1L, "d1"), (2L, "b1", 1L, "d1"), (3L, "c1", 1L, "d2")))
    drain()
    assert(tableRows(table) == Set(
      (1L, "a1", "d1"), (2L, "b1", "d1"), (3L, "c1", "d2")))

    def d1Files: Map[String, Seq[Byte]] = {
      val d = new java.io.File(s"$table/dt=d1")
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = d1Files

    // wave 2 touches ONLY dt=d2 (update 3, add 4) + a stale row for 3
    // that must lose by version
    land(landing, "w2.parquet", Seq(
      (3L, "c2", 2L, "d2"), (4L, "e1", 1L, "d2"), (3L, "c0-stale", 0L, "d2")))
    drain()
    assert(tableRows(table) == Set(
      (1L, "a1", "d1"), (2L, "b1", "d1"),
      (3L, "c2", "d2"), (4L, "e1", "d2")))
    assert(d1Files == before, "untouched partition was rewritten")

    // restart with nothing new landed: checkpointed file tracking makes
    // it a no-op
    drain()
    assert(tableRows(table) == Set(
      (1L, "a1", "d1"), (2L, "b1", "d1"),
      (3L, "c2", "d2"), (4L, "e1", "d2")))
  }

  test("recovery on start: an interrupted swap restores before batches apply") {
    val landing = java.nio.file.Files
      .createTempDirectory("graft-ups-rec-in").toString
    val table = java.nio.file.Files
      .createTempDirectory("graft-ups-rec-t").toString + "/t"
    // simulate a crash between the renames on dt=a: the partition dir is
    // gone, the original rows sit under the hidden set-aside name
    val noPart = StructType(schema.fields.filterNot(_.name == "dt"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "survivor", 1L)), 1), noPart)
      .write.parquet(Writers.swapOld(s"$table/dt=a"))
    // the stream starts with an empty landing dir: recovery alone must
    // bring dt=a back
    StreamingUpsert.start(spark, landing, table, schema, "dt",
      Seq("k"), "ver").awaitTermination()
    val got = spark.read.parquet(s"$table/dt=a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(1L -> "survivor"))
    // and a delta landing AFTER recovery merges against the restored rows
    land(landing, "w1.parquet", Seq((2L, "new", 1L, "a")))
    StreamingUpsert.start(spark, landing, table, schema, "dt",
      Seq("k"), "ver").awaitTermination()
    val merged = spark.read.parquet(s"$table/dt=a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged == Set(1L -> "survivor", 2L -> "new"))
  }
}
