package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}

import graft.queries.Advanced

/** Always-on A/B experiment monitor — the streaming form of the batch
  * q242 (`Advanced.abTest`): per-user conversion state carried across
  * micro-batches, per-batch COUNT DELTAS landed idempotently, and a
  * cumulative two-proportion z readout recomputed per batch from the
  * delta table with the EXACT same formula the batch query uses
  * (`Advanced.zFromCounts`) — a monitor alert reproduces verbatim when
  * the batch readout runs later on the same events.
  *
  * State is ONE BOOLEAN per user ever seen (the q43/q150 bounded-
  * population contract; an experiment's unit population is finite by
  * design). A user emits a delta row at most twice: once on first
  * sight (+1 user, +conversion if the first batch already converts)
  * and once more if a later batch converts a previously-unconverted
  * user (+1 conversion). Every other event is a state no-op, so the
  * delta stream is O(|users|) TOTAL across the experiment's lifetime,
  * not per batch.
  *
  * Replay safety: deltas land under `outDir/deltas/batch=<id>` with
  * overwrite, and every readout re-sums the WHOLE delta table (4
  * integers per batch dir) — a crash-replayed batch overwrites its own
  * partition, so totals never double-count. Arms come from the same
  * ":ab" md5 bucket as the batch query, computed here via
  * MessageDigest (TrendSpec pins that derivation equal to the Spark
  * expression).
  */
object StreamingAb {

  final case class AbEv(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String)
  final case class AbState(converted: Boolean)
  /** Count delta: arm 0/1, +users, +conversions. */
  final case class AbDelta(arm: Long, d_users: Long, d_conv: Long)

  /** The q59/q67/q242 md5 bucket, ":ab" salt — must stay in lockstep
    * with the Spark-expression form in [[Advanced.abTest]]. */
  def armOf(u: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$u:ab".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) % 2
  }

  /** Per-user conversion-state deltas (see object doc). */
  def deltas(ds: Dataset[AbEv], conversion: String): Dataset[AbDelta] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[AbState, AbDelta](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, evs: Iterator[AbEv], state) =>
          val wasSeen = state.exists
          val wasConv = wasSeen && state.get.converted
          val nowConv = wasConv || evs.exists(_.event_type == conversion)
          state.update(AbState(nowConv))
          if (!wasSeen)
            Iterator.single(AbDelta(armOf(uid), 1L, if (nowConv) 1L else 0L))
          else if (!wasConv && nowConv)
            Iterator.single(AbDelta(armOf(uid), 0L, 1L))
          else Iterator.empty
      }
  }

  /** Cumulative (n_a, n_b, conv_a, conv_b) from the landed deltas. */
  def countsFrom(spark: SparkSession, deltasDir: String): DataFrame =
    spark.read.parquet(deltasDir).agg(
      sum(when(col("arm") === 0, col("d_users")).otherwise(0L)).as("n_a"),
      sum(when(col("arm") === 1, col("d_users")).otherwise(0L)).as("n_b"),
      sum(when(col("arm") === 0, col("d_conv")).otherwise(0L)).as("conv_a"),
      sum(when(col("arm") === 1, col("d_conv")).otherwise(0L)).as("conv_b"))

  /** Start the monitor: parquet drops under `landingDir` stream
    * through [[deltas]]; each batch lands its delta partition and a
    * cumulative readout row under `outDir/readouts/batch=<id>`. */
  def start(spark: SparkSession, landingDir: String, outDir: String,
      conversion: String = "purchase",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val evs = MicroBatch.source(spark, landingDir,
        Encoders.product[AbEv].schema)
      .as[AbEv]
    MicroBatch.run(deltas(evs, conversion), s"$outDir/_checkpoint",
        trigger) { b =>
      b.write(b.df, s"$outDir/deltas")
      b.write(Advanced.zFromCounts(countsFrom(spark, s"$outDir/deltas"))
        .withColumn("batch_id", lit(b.id)).coalesce(1), s"$outDir/readouts")
    }
  }
}
