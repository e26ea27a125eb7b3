package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{RunMetrics, Session}
import graft.streaming.StreamingDedup

/** SCALE evidence for the streaming dedup probes' per-batch cost: the
  * plain-directory gram index re-SHUFFLES the whole accumulated corpus
  * index at every micro-batch's probe join (per-batch shuffle-write
  * grows with the CORPUS), while the
  * catalog-bucketed layout (`buckets > 0`) leaves the stored side
  * exchange-free — per-batch shuffle-write tracks the BATCH and stays
  * flat as the index grows.
  *
  * Both modes drain the SAME landed waves through
  * [[StreamingDedup.startSpans]]; the run reports per-wave wall +
  * shuffle-write from [[RunMetrics]] and asserts the two
  * modes' cumulative span outputs match exactly. Broadcast joins are
  * disabled for the drains: they model the at-scale regime where a
  * real micro-batch's gram set exceeds any broadcast threshold —
  * WITH broadcast on, local-scale batches hide the corpus shuffle
  * behind a broadcast semi join, exactly the cores >> data illusion
  * rehearsals exist to strip.
  *
  * Usage: runMain graft.tools.StreamingDedupRehearsal
  *          [waves] [docsPerWave] [buckets]
  */
object StreamingDedupRehearsal {

  def main(args: Array[String]): Unit = {
    val waves = args.headOption.map(_.toInt).getOrElse(10)
    val docs = args.drop(1).headOption.map(_.toInt).getOrElse(400)
    val buckets = args.drop(2).headOption.map(_.toInt).getOrElse(32)
    val spark: SparkSession = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rng = new scala.util.Random(17)
    val vocab = (0 until 4000).map(i => s"w$i")
    // CONSTANT per-wave match load: wave w plants passage P_w in 20
    // carrier docs and quotes P_{w-1} in 20 quoting docs — each wave's
    // span output is exactly 20x20 pairs regardless of corpus age, so
    // any shuffle-write growth isolates the INDEX side of the probe
    // (the quantity under test), not growing output
    def passage(w: Int): Seq[String] = (1 to 12).map(i => s"p${w}x$i")
    def text(w: Int, d: Int): String = {
      val body = Seq.fill(80)(vocab(rng.nextInt(vocab.size)))
      val ins =
        if (d < 20) passage(w)                      // carrier of P_w
        else if (w > 0 && d < 40) passage(w - 1)    // quotes P_{w-1}
        else Nil
      (body.take(30) ++ ins ++ body.drop(30)).mkString(" ")
    }
    val waveDocs: Seq[Seq[(Long, String)]] = (0 until waves).map { w =>
      (0 until docs).map(d => (w * 100000L + d, text(w, d)))
    }

    def run(mode: String, bk: Int): Long = {
      val landing = Files.createTempDirectory(s"sdr-$mode-land").toString
      val index = Files.createTempDirectory(s"sdr-$mode-idx")
        .toString + "/grams"
      val out = Files.createTempDirectory(s"sdr-$mode-out").toString
      (0 until waves).foreach { w =>
        Files.write(Paths.get(landing, s"w$w.json"),
          waveDocs(w).map { case (i, t) =>
            s"""{"doc_id":$i,"text":"$t"}""" }
            .mkString("\n").getBytes("UTF-8"))
        val m = RunMetrics.measure(spark)(
          StreamingDedup.startSpans(spark, landing, schema, index, out,
            buckets = bk).awaitTermination())
        println(f"""[scale] {"tool":"streaming_dedup","mode":"$mode","wave":$w,"batch_sec":${m.wall}%.2f,"shuffle_write_mb":${m.shuffleWrite / 1e6}%.1f,"index_docs":${(w + 1) * docs}}""")
      }
      val n = spark.read.parquet(s"$out/spans").count()
      println(s"""[scale] {"tool":"streaming_dedup","mode":"$mode","total_spans":$n}""")
      n
    }

    val plain = run("plain", 0)
    val bucketed = run("bucketed", buckets)
    require(plain == bucketed,
      s"probe outputs diverged: plain=$plain bucketed=$bucketed")
    println(s"""[scale] {"tool":"streaming_dedup","outputs_match":true,"spans":$plain}""")
    spark.stop()
  }
}
