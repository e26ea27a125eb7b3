package perfbench

import java.io.File
import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.functions.col

import graft.etl.{Pipeline, Readers, SchemaOptimizer, Writers}
import graft.ingest.Ingestor

/** One `Pipeline.run`: parameters.json → HTTP ingest from a loopback
  * server → CSV scan → SchemaOptimizer → date-partitioned Parquet plus
  * quarantine. Each run gets fresh landing and output dirs
  * (Writers.datePartitioned appends), removed once its facts are taken. */
object EtlFlagship {
  /** Serve the seeded CSVs under `<work>/www` from a loopback HTTP server
    * for as long as `body` runs; `body` gets the parameters.json that
    * names them. Returns the bytes of the CSVs. */
  def withServer(work: String)(body: String => Unit): Long = {
    val www = new File(work, "www")
    val csvs = www.listFiles().filter(_.getName.endsWith(".csv"))
      .sortBy(_.getName).toSeq
    val pool = Executors.newFixedThreadPool(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(pool)
    server.createContext("/dl/", ex => {
      val f = new File(www, new File(ex.getRequestURI.getPath).getName)
      try {
        if (!f.isFile) ex.sendResponseHeaders(404, -1)
        else {
          ex.sendResponseHeaders(200, f.length())
          Files.copy(f.toPath, ex.getResponseBody)
        }
      } finally ex.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/dl"
      val cfg = Paths.get(work, "parameters.json")
      Files.writeString(cfg, Json.render(Map(
        "file_urls" -> csvs.map(f => s"$base/${f.getName}"),
        "s3_path_prefix" -> "raw", "concurrency" -> 2,
        "http_chunk_kb" -> 256)))
      body(cfg.toString)
      csvs.map(_.length()).sum
    } finally {
      server.stop(0)
      pool.shutdownNow()
    }
  }

  def once(ctx: Ctx, cfg: String, i: Int,
      traced: Boolean): Map[String, Any] = {
    val dir = new File(ctx.work, s"etl/run$i")
    val landing = s"$dir/landing"
    val out = s"$dir/out"
    val spark = ctx.spark
    val t0 = Clock.nowMs
    val res = ctx.op(s"pipeline#$i") {
      if (traced) ctx.traced(tracedPipeline(ctx, cfg, landing, out))
      else Pipeline.run(spark, cfg, landing, out)
    }
    val wall = ctx.elapsedSince(t0)
    val facts = res.map { case (report, tables) =>
      // each ingested file is an op too
      ctx.attempted += report.results.size
      report.failed.foreach(f => ctx.fail(s"ingest ${f.url}", f.error))
      val c = report.counters
      Map[String, Any](
        "ingest" -> Map("requests" -> c.requests, "chunks" -> c.chunks,
          "files" -> c.files, "errors" -> c.errors, "bytes" -> c.bytes),
        "tables" -> tables.map { t =>
          val tdir = new File(out, t.table)
          val opt = spark.read.parquet(s"$out/${t.table}/optimized")
          val quar = spark.read.parquet(s"$out/${t.table}/quarantine")
          Map[String, Any]("table" -> t.table, "rows" -> t.rows,
            "quarantined" -> t.quarantined,
            "columns" -> opt.columns.toSeq,
            "quarantined_ids" -> quar.select(col(quar.columns.head))
              .collect().map(_.getLong(0)).sorted.toSeq,
            "bytes_out" -> Main.dataBytes(tdir))
        })
    }.getOrElse(Map.empty)
    Main.deleteTree(dir)
    facts ++ Map("wall_s" -> wall, "traced" -> traced, "ok" -> res.nonEmpty)
  }

  /** `Pipeline.run`, step for step, with a span around each call into a
    * layer so the traced run can split the pipeline's wall by stage. */
  private def tracedPipeline(ctx: Ctx, cfg: String, landing: String,
      out: String): (Ingestor.Report, Seq[Pipeline.TableResult]) = {
    val t = ctx.tracer
    val spark = ctx.spark
    t.span("etl", "Pipeline.run") {
      val report = t.span("ingest", "Ingestor.ingestFromConfig") {
        Ingestor.ingestFromConfig(spark, cfg, landing)
      }
      val tables = report.succeeded.filter(_.dest.endsWith(".csv")).map { f =>
        val table = new File(f.dest).getName.stripSuffix(".csv")
        val raw = t.span("etl", "read") { Readers.csv(spark, f.dest) }
        val (optimized, quarantined) =
          t.span("etl", "optimize") { SchemaOptimizer.optimize(raw) }
        t.span("etl", "write") {
          Writers.datePartitioned(optimized, s"$out/$table/optimized")
          Writers.quarantine(quarantined, s"$out/$table/quarantine")
        }
        t.span("etl", "count") {
          Pipeline.TableResult(table,
            spark.read.parquet(s"$out/$table/optimized").count(),
            spark.read.parquet(s"$out/$table/quarantine").count(),
            optimized.schema.simpleString)
        }
      }
      (report, tables)
    }
  }
}
