package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.llm.{Pca, QualityClassifier}

/** Streaming scoring against STORED model artifacts — the incremental
  * form of the train-once/score-many contract every model-backed
  * operator follows (classifier weights, PCA components, LM tables,
  * IVF/PQ codebooks): the artifact trains ONCE on a seed corpus, and
  * each arriving micro-batch scores against the stored copy in a
  * map-only pass. Historical documents are never re-scored; the model
  * never trains on the stream.
  *
  * Exactly-once without locks, the [[StreamingIndex.startPqAppend]]
  * idempotency pattern: scoring is a pure function of (row, artifact),
  * so a replayed batch recomputes identical scores and OVERWRITES its
  * own `batch=<id>` partition — never duplicates, never touches other
  * batches' files.
  *
  * Artifact drift is the operational caveat, same as the static-IVF
  * one: if the stream's distribution walks away from the training
  * corpus, scores decalibrate (watch the q115-bins on recent batches)
  * and the answer is retrain + re-score-forward, not in-place mutation.
  */
object StreamingScore {

  /** Score arriving documents (JSON files carrying the `schema`, which
    * must include `doc_id`, `lang`, `text`) against a stored
    * logistic-regression weight artifact (`classify train` /
    * [[QualityClassifier.weightsDf]]). Re-reads the artifact each batch
    * so a retrain between triggers takes effect without a restart.
    */
  def startClassifierScore(spark: SparkSession, landingDir: String,
      schema: StructType, weightsDir: String, outDir: String,
      label: Column = col("lang") === "en",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      val stored = spark.read.parquet(weightsDir)
      b.write(QualityClassifier
        .scoreWith(QualityClassifier.features(b.df, label), stored),
        s"$outDir/scores")
    }

  /** Project arriving vectors (JSON files carrying `schema`, which must
    * include `vec_id`, `label`, `embedding`) onto a stored PCA
    * component artifact (`pca train` / [[Pca.componentDf]]).
    */
  def startPcaProject(spark: SparkSession, landingDir: String,
      schema: StructType, componentDir: String, outDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    MicroBatch.run(MicroBatch.source(spark, landingDir, schema, "json"),
        s"$outDir/_checkpoint", trigger) { b =>
      val stored = spark.read.parquet(componentDir)
      b.write(Pca.projectWith(
          b.df.select(col("vec_id"), col("label"),
            graft.llm.Similarity.asDouble(col("embedding")).as("a")),
          stored),
        s"$outDir/proj")
    }

  /** Everything scored so far (all batch partitions). */
  def scores(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/scores")

  /** Everything projected so far (all batch partitions). */
  def projections(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/proj")
}
