package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.core.{Session, Tables}
import graft.queries.Registry

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the TPC-H-Q1-shaped aggregate (SURVEY §7.2's end-to-end slice).
    */
  def entry(spark: SparkSession): DataFrame = {
    Session.tune(spark)
    Registry.queries("q16_tpch_q1")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries.map { case (name, fn) =>
      // Engine semantics (ANSI off, UTC) must hold no matter who built
      // the session — a session built elsewhere inherits Spark 4.1's
      // ANSI-on default otherwise.
      name -> ((s: SparkSession, d: String) => fn(Session.tune(s), d))
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for ops whose hashing is engine-
    * specific (xxhash64-based LSH) — driver records a rows-only check;
    * those are additionally verified behaviorally in ScalaTest suites.
    */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
