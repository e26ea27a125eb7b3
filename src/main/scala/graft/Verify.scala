package graft
import java.nio.file.{Files, Paths}

import graft.core.Session
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Ends with one
  * compact JSON summary line on stdout (query count, failures, wall), so
  * a tail of the run's output carries the verdict; each failure's message
  * goes to stderr as it happens. */
object Verify {
  private val Usage =
    "usage: runMain graft.Verify <sfDir> <outDir> [<name-substring>,...]"

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated name substrings — local
    // single-query iteration; the driver's 2-arg call dumps everything
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Seq.empty[String])
      case Array(s, o, f) => (s, o, f.split(",").toSeq)
      case _ =>
        System.err.println(Usage)
        sys.exit(2)
    }
    val t0 = System.nanoTime()
    val spark = Session.driver(Session.driverCpus)
    new java.io.File(outDir).mkdirs()
    val ran = SparkEntry.queries.toSeq
      .filter { case (name, _) =>
        only.isEmpty || only.exists(name.contains) }
    val failed = ran.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }.sorted
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // failed names up to ~1,000 chars; the count is always complete
    val names = failed.map(q).scanLeft(Seq.empty[String])(_ :+ _)
      .takeWhile(_.map(_.length + 1).sum <= 1000).last
    val wall = (System.nanoTime() - t0) / 1e9
    println(s"""{"verify":"summary","queries":${ran.size},"failed":${failed.size},"failed_names":${names.mkString("[", ",", "]")},"wall_s":${f"$wall%.1f"}}""")
  }
}
