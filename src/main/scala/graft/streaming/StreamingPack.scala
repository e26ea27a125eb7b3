package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Always-on sequence packing — the streaming form of the batch q260
  * (`TextOps.packSequences`): documents arriving in micro-batches are
  * next-fit packed into fixed-capacity token sequences, and each
  * shard's open bin CONTINUES across batches (state = one (bin, fill)
  * pair per shard), so a continuously-fed training export never wastes
  * the tail of a bin at a batch boundary the way per-batch repacking
  * would.
  *
  * Ordering contract: the batch form packs in global doc_id order; a
  * stream cannot (later batches may carry any ids), so the streaming
  * contract is ARRIVAL order — batch sequence first, doc_id within a
  * batch. Deterministic given the batch sequence, which the checkpoint
  * pins: a crash-replayed batch re-runs against the ROLLED-BACK shard
  * state version, so it reproduces its own assignments, and its output
  * partition (`assignments/batch=<id>`, overwrite) lands idempotently
  * — the StreamingAb replay discipline.
  *
  * Scale shape: token counts and shard addressing are map-side
  * expressions (the batch form's own, md5 ":pack"); the one
  * exchange per batch is the |shards|-group state shuffle carrying
  * (doc_id, shard, n_tokens) triples. The per-shard fold sorts ONLY
  * the batch's slice of the shard (micro-batches are bounded by
  * definition — the q43/q150 contract) and keeps O(1) state per shard:
  * |shards| * 16 bytes total, at any corpus size.
  */
object StreamingPack {

  final case class PackDoc(doc_id: Long, text: String)
  final case class Sized(doc_id: Long, shard: Int, n_tokens: Long)
  final case class ShardState(bin: Long, fill: Long)
  final case class Assign(doc_id: Long, shard: Int, n_tokens: Long,
      bin: Long)

  /** Map-side sizing + shard addressing — `TextOps.packSequences`'
    * own ([[graft.llm.TextOps.packSized]]), so batch and streaming
    * agree on every token count and shard.
    */
  def sized(docs: DataFrame, shards: Int): Dataset[Sized] = {
    import docs.sparkSession.implicits._
    graft.llm.TextOps.packSized(docs, shards).as[Sized]
  }

  /** Cross-batch next-fit: continue each shard's open (bin, fill);
    * same overflow rule as the batch fold (a doc that would overflow
    * opens a new bin; an oversized doc sits alone in its own bin).
    */
  def assignments(ds: Dataset[Sized], capacity: Long): Dataset[Assign] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.shard)
      .flatMapGroupsWithState[ShardState, Assign](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (sh: Int, docs: Iterator[Sized], state) =>
          var started = state.exists
          var bin = if (started) state.get.bin else 0L
          var fill = if (started) state.get.fill else 0L
          val out = docs.toSeq.sortBy(_.doc_id).map { d =>
            if (!started) { started = true; bin = 0L; fill = d.n_tokens }
            else if (fill + d.n_tokens > capacity) {
              bin += 1L; fill = d.n_tokens
            } else fill += d.n_tokens
            Assign(d.doc_id, sh, d.n_tokens, bin)
          }
          if (started) state.update(ShardState(bin, fill))
          out.iterator
      }
  }

  /** Start the packer: parquet drops of (doc_id, text) under
    * `landingDir` land per-doc bin assignments under
    * `outDir/assignments/batch=<id>` (overwrite — replay-idempotent).
    */
  def start(spark: SparkSession, landingDir: String, outDir: String,
      shards: Int = 8, capacity: Long = 512L,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val docs = MicroBatch.source(spark, landingDir,
      Encoders.product[PackDoc].schema)
    MicroBatch.run(assignments(sized(docs, shards), capacity),
        s"$outDir/_checkpoint", trigger) { b =>
      b.write(b.df, s"$outDir/assignments")
    }
  }
}
