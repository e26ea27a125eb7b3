package graft.core

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the frames an operator holds across several uses.
  *
  * Iterative operators (connected components, PageRank, k-core, k-means
  * and PQ training, BPE merges, a streaming monitor's micro-batch) read
  * an intermediate many times; left lazy, every read would replay the
  * plan that made it. Inside `Pins { pins => ... }` such a frame is
  * materialized once ([[pin]] or [[keep]]) and every frame still held is
  * released in ONE `finally` when the body returns or throws. A block
  * that outlives its call stays pinned for the rest of the session,
  * taxes every later query's memory (the r9 pageRank leak slowed ~100
  * bench queries by 35%), and fails Bench's persisted-RDD leak check.
  *
  * A result that must outlive the scope goes through [[land]]: a
  * reliable checkpoint is files in the checkpoint dir, not blocks.
  *
  * [[iterate]] is the one round loop over pinned frames (connected
  * components by propagation and by star contraction, k-core, PageRank,
  * BPE merges): it counts rounds against the cap, pins each round's
  * frame, and releases the previous round's frame only once the new one
  * is materialized, so a loop holds at most two rounds at a time and
  * never releases early in any other way. The loops that carry their
  * state on the driver (PCA power iteration, PQ and IVF k-means, the
  * quality classifier's gradient steps) pin one frame for the whole
  * scope and release nothing per round; they stay plain `for` loops,
  * since routing them through `iterate` would hand it a frame it never
  * swaps.
  *
  * This is the only code that knows an eager localCheckpoint's blocks
  * sit in a persisted RDD behind the frame's `LogicalRDD`, which
  * `Dataset.unpersist` (a CacheManager call) never reaches.
  *
  * Spark logs `WARN MapPartitionsRDD: RDD <n> was locally checkpointed,
  * its lineage has been truncated and cannot be recomputed after
  * unpersisting` on every such release. The warning is for code that
  * might read the RDD again; a frame is released here only when nothing
  * reads it again (the previous round, or the end of the scope), and no
  * other code checkpoints, so the line says nothing. The logger that
  * emits it, `org.apache.spark.rdd.MapPartitionsRDD`, is set to ERROR
  * when `Pins` is first used; every other logger keeps its level.
  */
final class Pins private {
  private val held = ArrayBuffer.empty[(Dataset[_], () => Unit)]

  /** Eagerly localCheckpoint `df`: a materialized snapshot with its
    * lineage cut, so every later use reads the same rows without
    * re-running the plan that made them. */
  def pin(df: DataFrame): DataFrame = {
    val snapshot = df.localCheckpoint(true)
    val rdd = snapshot.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd
    }
    hold(snapshot)(() => rdd.foreach(_.unpersist(blocking = false)))
  }

  /** Persist `ds` (MEMORY_AND_DISK): computed on its first action, then
    * read from the cache by every later one. */
  def keep[T](ds: Dataset[T]): Dataset[T] =
    hold(ds.persist(StorageLevel.MEMORY_AND_DISK))(() => ds.unpersist())

  /** Run a round loop of at most `cap` rounds from `start`, a frame and
    * a small driver-side value read from it. Each round, `round` maps the
    * current frame and value to the next frame, which is pinned; then
    * `test(prev, value, next)` returns the next value and whether the
    * loop has converged; then the previous frame is released. A round
    * that returns its input frame has reached its fixpoint: nothing is
    * pinned and the loop ends converged. The final frame stays held
    * until the scope ends. What to do at the cap (return or throw) is
    * the caller's: [[Pins.Iterated]] says whether the test fired.
    *
    * Every Spark job a round runs carries the job description
    * `<label> round <n>` (n from 1), so a per-job table says which loop
    * and round a job belongs to; the caller's own description is back
    * after each round, and after a round that throws. */
  def iterate[A](label: String, start: (DataFrame, A), cap: Int)(
      round: (DataFrame, A) => DataFrame)(
      test: (DataFrame, A, DataFrame) => (A, Boolean)): Pins.Iterated[A] = {
    val sc = start._1.sparkSession.sparkContext
    val caller = sc.getLocalProperty(Pins.JobDescription)
    @tailrec def loop(prev: DataFrame, value: A, rounds: Int): Pins.Iterated[A] =
      if (rounds >= cap) Pins.Iterated(prev, value, rounds, converged = false)
      else {
        sc.setJobDescription(s"$label round ${rounds + 1}")
        // None: the round returned its input frame (the fixpoint)
        val stepped = try {
          val out = round(prev, value)
          if (out eq prev) None
          else {
            val next = pin(out)
            Some((next, test(prev, value, next)))
          }
        } finally sc.setJobDescription(caller)
        stepped match {
          case None => Pins.Iterated(prev, value, rounds + 1, converged = true)
          case Some((next, (v, converged))) =>
            release(prev)
            if (converged) Pins.Iterated(next, v, rounds + 1, converged)
            else loop(next, v, rounds + 1)
        }
      }
    loop(start._1, start._2, 0)
  }

  /** Release `ds` before the scope ends (a no-op for a frame this scope
    * does not hold): [[iterate]]'s previous round, once the next one has
    * materialized. */
  private def release(ds: Dataset[_]): Unit = {
    val i = held.indexWhere(_._1 eq ds)
    if (i >= 0) held.remove(i)._2()
  }

  /** Write `df` to a reliable checkpoint (eager): the result outlives the
    * scope without holding blocks, and reads none of the frames the
    * scope releases. */
  def land(df: DataFrame): DataFrame = {
    Session.ensureCheckpointDir(df.sparkSession)
    df.checkpoint(true)
  }

  private def hold[T](ds: Dataset[T])(free: () => Unit): Dataset[T] = {
    held += (ds -> free)
    ds
  }

  private def releaseAll(): Unit = {
    held.foreach(_._2())
    held.clear()
  }
}

object Pins {
  private val JobDescription = "spark.job.description"

  Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)

  /** Run `body` with a fresh scope; every frame it still holds is
    * released when it returns or throws. */
  def apply[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }

  /** The end of an [[Pins.iterate]] loop: the last round's frame and
    * value, the rounds run, and whether the convergence test fired
    * (false: the cap ended the loop). */
  final case class Iterated[A](frame: DataFrame, value: A, rounds: Int,
      converged: Boolean)
}
