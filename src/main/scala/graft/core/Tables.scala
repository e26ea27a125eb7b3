package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog of the driver-provided star schema (TESTDATA.md).
  *
  * Each table is one parquet file under `sfDir`. Reads are plain
  * `spark.read.parquet` so Catalyst owns column pruning and predicate
  * pushdown — a query that touches 2 columns scans 2 columns
  * (verify via `PushedFilters`/`ReadSchema` in `.explain("formatted")`).
  */
object Tables {
  // NOTE: TESTDATA.md's table list is stale — the sf dirs each contain 10
  // parquet files, including documents/embeddings (verified on disk).
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Broadcast decisions live at the join sites (see queries.Relational
  // q17/q18: explicit broadcast() on nation/region) rather than as
  // catalog metadata: an unused catalog-level setting would drift.

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS) — read as long (see
    // Session's nanosAsLong) and surfaced as a proper TimestampType at
    // microsecond precision (epoch-second semantics unchanged).
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => df
    }
  }

  /** Register every table as a temp view for `spark.sql` queries. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
