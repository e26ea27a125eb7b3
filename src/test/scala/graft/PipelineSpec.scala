package graft

import java.net.InetSocketAddress
import java.nio.file.Files

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Pipeline
import graft.ingest.Ingestor

/** One-command flagship flow: parameters.json → HTTP ingest → CSV read
  * with null normalization → SchemaOptimizer → dated partitioned parquet
  * + quarantine audit.
  */
class PipelineSpec extends AnyFunSuite with TestSpark {

  /** Serve a 3-row rent_contracts.csv from a loopback server for as long
    * as `body` runs; `body` gets the parameters.json that names it. */
  private def withConfig(body: String => Unit): Unit = {
    val csv =
      """id,name,name_ar,qty
        |1,alpha,x,5
        |2,None,y,6
        |3,NULL,z,7
        |""".stripMargin.getBytes
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/dl/rent_contracts.csv", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        ex.sendResponseHeaders(200, csv.length.toLong)
        ex.getResponseBody.write(csv)
        ex.close()
      }
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val cfg = Files.createTempFile("graft-pipe-params", ".json")
      Files.writeString(cfg,
        s"""{"file_urls": ["$base/dl/rent_contracts.csv"],
           |  "s3_path_prefix": "raw", "concurrency": 1}""".stripMargin)
      body(cfg.toString)
    } finally server.stop(0)
  }

  test("config to optimized parquet end to end") {
    withConfig { cfg =>
      val landing = Files.createTempDirectory("graft-pipe-land").toString
      val out = Files.createTempDirectory("graft-pipe-out").toString

      val (report, tables) = Pipeline.run(spark, cfg, landing, out)
      assert(report.failed.isEmpty, report.failed.mkString("; "))
      // the CSV landed under the dated raw layout before preprocessing
      assert(new java.io.File(
        Ingestor.datedPath(s"$landing/raw", "rent_contracts.csv")).exists())

      assert(tables.map(_.table) == Seq("rent_contracts"))
      val t = tables.head
      assert(t.rows == 3 && t.quarantined == 0)

      val optimized = spark.read.parquet(s"$out/rent_contracts/optimized")
      // regex column exclusion dropped the _ar duplicate; the dated
      // partition column is present for pruning
      assert(!optimized.columns.contains("name_ar"))
      assert(optimized.columns.contains("ingest_date"))
      // multi-token null markers (None/NULL) were normalized at read time
      assert(optimized.filter(optimized("name").isNull).count() == 2)
      // quarantine audit path exists alongside (empty here — no violators)
      assert(spark.read.parquet(s"$out/rent_contracts/quarantine").count() == 0)
      // kept + quarantined == ingested rows (the audit invariant)
      assert(t.rows + t.quarantined == 3)
    }
  }

  test("a same-day re-run replaces its own ingest_date partition and " +
      "keeps other days'") {
    withConfig { cfg =>
      val landing = Files.createTempDirectory("graft-pipe-land").toString
      val out = Files.createTempDirectory("graft-pipe-out").toString
      for (run <- 1 to 2) {
        val t = Pipeline.run(spark, cfg, landing, out)._2.head
        assert(t.rows == 3 && t.quarantined == 0, s"run $run: $t")
        assert(t.rows + t.quarantined == 3, s"run $run: $t")
      }
      // an earlier day's partition survives a re-run of today
      val optimized = s"$out/rent_contracts/optimized"
      val today = new java.io.File(optimized).listFiles()
        .map(_.getName).filter(_.startsWith("ingest_date=")).toSeq
      assert(today.size == 1, s"partitions: $today")
      val earlier = java.nio.file.Paths.get(optimized, "ingest_date=2000-01-01")
      Files.createDirectories(earlier)
      Files.list(java.nio.file.Paths.get(optimized, today.head))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .forEach(f => Files.copy(f, earlier.resolve(f.getFileName)))
      Pipeline.run(spark, cfg, landing, out)
      val byDay = spark.read.parquet(optimized)
        .groupBy("ingest_date").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      assert(byDay.values.toSeq == Seq(3L, 3L) &&
        byDay.contains("2000-01-01"), s"rows per day: $byDay")
    }
  }

  test("dq pack writes the full audit set for a table") {
    // the `dq` CLI body end-to-end: every check lands as its own
    // parquet, and the internal invariants hold against the table
    val out = Files.createTempDirectory("graft-dq").toString
    val li = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "lineitem")
    val n = li.count()
    graft.etl.Dq.report(li, "lineitem", out,
      Seq("l_orderkey", "l_linenumber"))
    val checks = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(checks == Set("null_profile", "distinct_profile",
      "numeric_profile", "benford", "equidepth", "pk_audit"),
      s"checks: $checks")
    // null profile: one row per column, n_rows exact
    val np = spark.read.parquet(s"$out/null_profile").collect()
    assert(np.length == li.columns.length)
    assert(np.forall(_.getAs[Long]("n_rows") == n))
    // pk audit: (l_orderkey, l_linenumber) is deliberately NON-unique
    // in the testdata — the audit must report exactly the violating
    // key count an independent groupBy finds
    val pk = spark.read.parquet(s"$out/pk_audit").head()
    val expDup = li.groupBy("l_orderkey", "l_linenumber").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(pk.getAs[Long]("n_rows") == n && expDup > 0 &&
      pk.getAs[Long]("n_dup_keys") == expDup, s"pk: $pk expected $expDup")
    // equi-depth: per column the buckets partition all rows
    val ed = spark.read.parquet(s"$out/equidepth")
      .groupBy("col_name").agg(org.apache.spark.sql.functions.sum("n"))
      .collect()
    assert(ed.nonEmpty && ed.forall(_.getLong(1) == n), s"equidepth: ${ed.toSeq}")
    // benford: shares sum to ~1 per column (4-dp rounding slack)
    val bf = spark.read.parquet(s"$out/benford")
      .groupBy("col_name")
      .agg(org.apache.spark.sql.functions.sum("share"))
      .collect()
    assert(bf.forall(r => math.abs(r.getDouble(1) - 1.0) < 0.01),
      s"benford shares: ${bf.toSeq}")
    // distinct profile: ratio bounded by 1, key column near-distinct
    val dp = spark.read.parquet(s"$out/distinct_profile").collect()
      .map(r => r.getAs[String]("col_name") -> r.getAs[Double]("distinct_ratio"))
      .toMap
    assert(dp.values.forall(r => r >= 0.0 && r <= 1.0), s"ratios: $dp")

    // drift: a second run over a SHIFTED slice of the table must flag
    // the moved metrics and keep the self-diff clean
    val out2 = Files.createTempDirectory("graft-dq2").toString
    graft.etl.Dq.report(
      li.filter(org.apache.spark.sql.functions.col("l_quantity") > 25),
      "lineitem", out2)
    val selfDiff = graft.etl.Dq.drift(spark, out, out)
    assert(selfDiff.filter(org.apache.spark.sql.functions.col("drifted"))
      .count() == 0, "self-diff must be drift-free")
    val d = graft.etl.Dq.drift(spark, out, out2).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Boolean]("drifted")).toMap
    // the filter moved l_quantity's min from ~1 to >25: must flag
    assert(d(("l_quantity", "min")), s"min drift not flagged: $d")
    // flags (F/O/P-style) keep their rate: returnflag null_rate stays 0
    assert(!d(("l_returnflag", "null_rate")), s"spurious drift: $d")
  }
}
