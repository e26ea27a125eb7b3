package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Incremental

/** Streaming ingest successor: land CSV files -> incremental
  * SchemaOptimizer pipeline -> optimized + quarantine parquet, with
  * exactly-once file tracking via the checkpoint.
  */
class IncrementalSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("amount", LongType),
    StructField("contract_date", StringType),
    StructField("name_ar", StringType),
    StructField("name", StringType)))

  private def landIn(landing: File)(fileName: String, rows: Seq[String]): Unit = {
    val w = new java.io.PrintWriter(new File(landing, fileName))
    w.println("id,amount,contract_date,name_ar,name")
    rows.foreach(w.println)
    w.close()
  }

  test("landed CSVs flow through the incremental pipeline") {
    val landing = Files.createTempDirectory("graft-stream-in").toFile
    val out = Files.createTempDirectory("graft-stream-out").toString
    val land = landIn(landing) _
    // 4 clean rows + 1 null-marker date + 1 amount outside the observed
    // majority range (still fits long; no quarantine expected since
    // bounds derive from the observed min/max)
    land("batch1.csv", Seq(
      "1,10,2024-01-01,x,alpha",
      "2,20,2024-01-02,x,beta",
      "3,30,null,x,gamma",
      "4,40,2024-01-04,x,delta"))

    val q1 = Incremental.start(spark, landing.toString, out, schema,
      dateCols = Seq("contract_date"))
    q1.awaitTermination()

    val optimized = spark.read.parquet(s"$out/optimized")
    assert(optimized.count() == 4)
    assert(!optimized.columns.contains("name_ar"), "dup column not dropped")
    assert(optimized.schema("contract_date").dataType == DateType)
    // amounts 10..40 fit the unsigned Short rung
    assert(optimized.schema("amount").dataType == ShortType)
    import org.apache.spark.sql.functions.col
    assert(optimized.filter(col("contract_date").isNull).count() == 1)

    // second landing: only the new file is processed (checkpointed)
    land("batch2.csv", Seq("5,50,2024-01-05,x,epsilon"))
    val q2 = Incremental.start(spark, landing.toString, out, schema,
      dateCols = Seq("contract_date"))
    q2.awaitTermination()
    assert(spark.read.parquet(s"$out/optimized").count() == 5)
  }

  test("a batch replayed after its commit was lost lands its rows once") {
    // two batches into each of two outputs; one then loses batch 1's
    // commit and drains again, which replays batch 1
    val Seq((landing, out), (cleanLanding, clean)) = Seq.fill(2)(
      (Files.createTempDirectory("graft-stream-in").toFile,
        Files.createTempDirectory("graft-stream-out").toString))
    def drain(landing: File, out: String): Unit =
      Incremental.start(spark, landing.toString, out, schema,
        dateCols = Seq("contract_date")).awaitTermination()
    for ((l, o) <- Seq(landing -> out, cleanLanding -> clean)) {
      landIn(l)("batch1.csv", Seq(
        "1,10,2024-01-01,x,alpha",
        "2,20,2024-01-02,x,beta",
        "3,30,null,x,gamma",
        "4,40,2024-01-04,x,delta"))
      drain(l, o)
      landIn(l)("batch2.csv", Seq("5,50,2024-01-05,x,epsilon"))
      drain(l, o)
    }
    val commits = new File(s"$out/_checkpoint/commits")
    assert(new File(commits, "1").delete(), "batch 1 was not committed")
    new File(commits, ".1.crc").delete()
    drain(landing, out)

    def rows(dir: String): Seq[String] =
      spark.read.parquet(dir).drop("batch").collect().map(_.toString).sorted.toSeq
    for (table <- Seq("optimized", "quarantine"))
      assert(rows(s"$out/$table") == rows(s"$clean/$table"), table)
    assert(rows(s"$out/optimized").size == 5)
  }
}
