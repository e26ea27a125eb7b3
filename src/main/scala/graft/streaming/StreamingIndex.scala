package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.etl.Writers
import graft.llm.Pq

/** Streaming maintenance of a persisted PQ ANN index: the codebook is
  * trained ONCE on a seed corpus; each arriving micro-batch encodes
  * against that stored codebook (historical vectors are never
  * re-encoded — the [[graft.llm.IvfStore.append]] growth shape,
  * streaming flavor) and lands in its own `batch=<id>` partition.
  *
  * Exactly-once without locks, the [[StreamingDedup.startExact]]
  * idempotency pattern: a replayed batch re-encodes the same vectors
  * (assignment is a pure function of vector and codebook) and
  * OVERWRITES its own partition — never duplicates, never touches other
  * batches' files.
  *
  * Codebook drift is the operational caveat, same as every static-IVF
  * deployment: if the stream's distribution walks away from the seed
  * corpus, recall decays and the answer is a retrain + re-encode (a new
  * store built beside the old one), not in-place mutation.
  */
object StreamingIndex {

  /** Train on the seed corpus and persist ONLY the codebook — codes for
    * a streaming store arrive exclusively from [[startPqAppend]]
    * batches, so the layout under `dir/codes` stays uniformly
    * batch-partitioned.
    */
  def initPqStore(seedVectors: DataFrame, dir: String, m: Int = Pq.DefaultM,
      k: Int = Pq.DefaultK, iters: Int = 3, seed: Long = 42L,
      sampleFraction: Double = 1.0): Unit =
    Pq.train(seedVectors, m, k, iters, seed, sampleFraction)
      .write.mode("overwrite")
      .option("compression", Writers.DefaultCompression)
      .parquet(s"$dir/codebook")

  /** Start encoding arriving vector files (JSON, `schema` must carry
    * vec_id + embedding) into the store. One `batch=<id>` partition per
    * micro-batch; replays overwrite their own partition.
    */
  def startPqAppend(spark: SparkSession, landingDir: String,
      schema: StructType, dir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$dir/_checkpoint", trigger) { b =>
      val stored = spark.read.parquet(s"$dir/codebook")
      b.write(Pq.encode(b.df.repartition(col("vec_id")), stored),
        s"$dir/codes")
    }

  /** ADC top-k over everything streamed so far (all batch partitions —
    * probes read m-int codes, never raw vectors).
    */
  def pqTopK(spark: SparkSession, dir: String, qv: Array[Double], k: Int,
      excludeId: Option[Long] = None): DataFrame =
    Pq.topK(
      spark.read.parquet(s"$dir/codes").select(col("vec_id"), col("codes")),
      spark.read.parquet(s"$dir/codebook"), qv, k, excludeId)
}
