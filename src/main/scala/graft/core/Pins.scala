package graft.core

import scala.collection.mutable.ArrayBuffer

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
  * This is the only code that knows an eager localCheckpoint's blocks
  * sit in a persisted RDD behind the frame's `LogicalRDD`, which
  * `Dataset.unpersist` (a CacheManager call) never reaches.
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

  /** Release `ds` (a frame [[pin]] or [[keep]] returned) before the scope
    * ends: an iteration round's frame once the next round has
    * materialized. */
  def release(ds: Dataset[_]): Unit = {
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
  /** Run `body` with a fresh scope; every frame it still holds is
    * released when it returns or throws. */
  def apply[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }
}
