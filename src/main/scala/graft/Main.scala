package graft

import org.apache.spark.sql.SparkSession

import graft.core.{Pins, Session, Tables}
import graft.etl.{Profiler, SchemaOptimizer, Writers}
import graft.ingest.Ingestor

/** OP-41: the engine's CLI — what Step Functions + GitHub Actions drive
  * in the reference becomes four subcommands over one Spark session.
  *
  *   ingest <landingDir> <url>...        chunked HTTP→landing streaming
  *   profile <sfDir> <table>             per-column ANALYZE table
  *   preprocess <inParquet> <outDir>     SchemaOptimizer pipeline + audit
  *   query <sfDir> <name>                run one registered query
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    var started: Option[SparkSession] = None
    def spark: SparkSession = started.getOrElse {
      val s = Session.local(); started = Some(s); s
    }
    try {
      args.toList match {
        case "ingest" :: "--config" :: config :: landing :: Nil =>
          // the reference's flagship flow: parameters.json → ingest
          val report = Ingestor.ingestFromConfig(spark, config, landing)
          report.toDF(spark).show(truncate = false)
          println(s"counters=${report.counters}")
          if (report.failed.nonEmpty) sys.exit(1)

        case "ingest" :: rest0 if rest0.headOption.exists(_ != "--config") =>
          // --unzip: extract .zip bodies on the chunk stream (the NOAA
          // AIS drop format) instead of landing them opaque
          val unzip = rest0.contains("--unzip")
          val rest = rest0.filterNot(_ == "--unzip")
          require(rest.size >= 2, "usage: ingest [--unzip] <landing> <url>...")
          val report = Ingestor.ingest(rest.tail, rest.head,
            concurrency = sys.env.getOrElse("CONCURRENCY", "3").toInt,
            suffixMap = Ingestor.DefaultSuffixMap, unzip = unzip)
          report.toDF(spark).show(truncate = false)
          println(s"counters=${report.counters}")
          if (report.failed.nonEmpty) sys.exit(1)

        case "pipeline" :: config :: landing :: out :: Nil =>
          // config → ingest → CSV + null-normalize → SchemaOptimizer →
          // dated partitioned parquet + quarantine audit, one command
          val (report, tables) =
            graft.etl.Pipeline.run(spark, config, landing, out)
          report.toDF(spark).show(truncate = false)
          tables.foreach(t => println(
            s"table=${t.table} rows=${t.rows} quarantined=${t.quarantined} " +
              s"schema=${t.schema}"))
          if (report.failed.nonEmpty) sys.exit(1)

        case "profile" :: sfDir :: table :: Nil =>
          Profiler.profileDF(Tables.load(spark, sfDir, table)).show(100, truncate = false)

        // one-command data-quality pack: null/distinct/numeric profiles,
        // Benford digit shares, per-column equi-depth histograms, and
        // (when key columns are given) a pk-uniqueness audit
        // drift between two stored dq runs (e.g. yesterday vs today)
        case "dq" :: "diff" :: dirOld :: dirNew :: rest
            if rest.isEmpty || rest.length == 1 =>
          val tol = rest.headOption.map(_.toDouble).getOrElse(0.1)
          val d = graft.etl.Dq.drift(spark, dirOld, dirNew, tol)
          d.show(200, truncate = false)
          val n = d.filter(org.apache.spark.sql.functions.col("drifted"))
            .count()
          println(s"dq diff drifted_metrics=$n tol=$tol")

        // row-level CDC between two stored versions of a keyed table:
        // added/removed keys + changed keys with their changed columns
        case "dq" :: "diff-rows" :: dirOld :: dirNew :: outDir :: keys
            if keys.nonEmpty =>
          val d = graft.etl.Dq.snapshotDiff(
            spark.read.parquet(dirOld), spark.read.parquet(dirNew), keys)
          d.write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(outDir)
          val byKind = spark.read.parquet(outDir)
            .groupBy("change").count().collect()
            .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted
          println(s"dq diff-rows ${byKind.mkString(" ")} out=$outDir")

        case "dq" :: sfDir :: table :: outDir :: keys =>
          graft.etl.Dq.report(Tables.load(spark, sfDir, table), table,
            outDir, keys)
          val checks = new java.io.File(outDir).listFiles()
            .filter(_.isDirectory).map(_.getName).sorted
          println(s"dq table=$table checks=${checks.mkString(",")} " +
            s"out=$outDir")

        case "preprocess" :: in :: out :: Nil =>
          val df = spark.read.parquet(in)
          val (optimized, quarantined) = SchemaOptimizer.optimize(df)
          Writers.parquet(optimized, s"$out/optimized")
          Writers.quarantine(quarantined, s"$out/quarantine")
          println(s"optimized_schema=${optimized.schema.simpleString}")

        // persisted near-dup pair table (PairStore): build once, then
        // cluster/compact without re-deriving the pair graph
        case "pairs" :: "build" :: docsParquet :: dir :: Nil =>
          graft.llm.PairStore.build(spark.read.parquet(docsParquet), dir,
            minJaccard = sys.env.getOrElse("MIN_JACCARD", "0.6").toDouble)
          println(s"pairs=${graft.llm.PairStore.pairs(spark, dir).count()}")

        case "pairs" :: "build-bucketed" :: docsParquet :: table :: dir :: Nil =>
          graft.llm.PairStore.buildBucketed(spark.read.parquet(docsParquet),
            table, minJaccard = sys.env.getOrElse("MIN_JACCARD", "0.6").toDouble,
            dir = Some(dir))
          println(s"pairs=${graft.llm.PairStore.bucketedPairs(spark, table).count()}")

        case "pairs" :: "clusters" :: dir :: Nil =>
          graft.llm.PairStore.clusters(spark, dir).show(50, truncate = false)

        // star contraction: the high-diameter-safe clustering (O(log n)
        // rounds on chains where label propagation needs diameter rounds)
        case "pairs" :: "clusters-star" :: dir :: Nil =>
          graft.llm.Dedup.connectedComponentsStar(
            graft.llm.PairStore.pairs(spark, dir)).show(50, truncate = false)

        // threshold-sweep calibration as an index read over the stored
        // pairs (dir or bucketed table) — no corpus re-scan/re-shingle
        case "pairs" :: "sweep" :: dir :: Nil =>
          graft.llm.PairStore.thresholdSweep(spark, dir)
            .show(10, truncate = false)

        case "pairs" :: "sweep-bucketed" :: table :: Nil =>
          graft.llm.PairStore.thresholdSweepBucketed(spark, table)
            .show(10, truncate = false)

        case "pairs" :: "compact" :: dir :: Nil =>
          println(s"files=${graft.llm.PairStore.compact(spark, dir)}")

        // crash recovery: compact-bucketed keeps a complete copy on disk
        // at every instant, but a crash between its DROP and CREATE
        // leaves the data durable with no catalog entry (and DESCRIBE-
        // based rediscovery impossible) — `pairs register <table> <dir>`
        // puts a dir left mid-swap back and re-creates the entry over it
        case "pairs" :: "compact-bucketed" :: table :: Nil =>
          println(s"files=${graft.llm.PairStore.compactBucketed(spark, table)}")

        case "pairs" :: "register" :: table :: dir :: Nil =>
          graft.llm.PairStore.registerBucketed(spark, table, dir)
          println(s"pairs=${graft.llm.PairStore.bucketedPairs(spark, table).count()}")

        // persisted media perceptual-hash band index: build once over a
        // docs parquet (its media table), probe with later batches; the
        // binary-modality mirror of `pairs build` + the streaming index
        case "media" :: "index" :: docsParquet :: indexDir :: Nil =>
          val m = graft.llm.Multimodal.mediaTable(
            spark.read.parquet(docsParquet))
          graft.llm.Multimodal.phashBands(m)
            .write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(indexDir)
          println(s"bands=${spark.read.parquet(indexDir).count()} dir=$indexDir")

        case "media" :: "pairs" :: docsParquet :: Nil =>
          graft.llm.Multimodal.phashPairs(
            graft.llm.Multimodal.mediaTable(spark.read.parquet(docsParquet)),
            maxHamming = sys.env.getOrElse("MAX_HAMMING", "6").toInt)
            .show(50, truncate = false)

        // probe the persisted index with a NEW batch's media (cross-batch
        // candidates only — the incremental decision), then append its bands
        case "media" :: "append" :: docsParquet :: indexDir :: Nil =>
          Pins { pins =>
            val bands = pins.pin(graft.llm.Multimodal.phashBands(
              graft.llm.Multimodal.mediaTable(spark.read.parquet(docsParquet))))
            val cands = graft.llm.Multimodal.incrementalPhashCandidates(
              bands, spark.read.parquet(indexDir),
              maxHamming = sys.env.getOrElse("MAX_HAMMING", "6").toInt)
            cands.show(50, truncate = false)
            bands.write.mode("append")
              .option("compression", graft.etl.Writers.DefaultCompression)
              .parquet(indexDir)
          }
          println(s"bands=${spark.read.parquet(indexDir).count()} dir=$indexDir")

        // persisted Count-Min sketch (q152's layout, shared with
        // StreamingSketch: per-batch mergeable partials under
        // sketch/batch=<id>, merged on read)
        case "sketch" :: "build" :: docsParquet :: dir :: Nil =>
          graft.llm.TextOps.cmsSketch(spark.read.parquet(docsParquet))
            .write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(s"$dir/sketch/batch=0")
          println(s"counters=${spark.read.parquet(s"$dir/sketch").count()} dir=$dir")

        case "sketch" :: "append" :: docsParquet :: dir :: Nil =>
          val batches = Option(new java.io.File(s"$dir/sketch").listFiles())
            .getOrElse(Array.empty[java.io.File])
            .filter(f => f.isDirectory && f.getName.startsWith("batch="))
            .map(_.getName.stripPrefix("batch=").toLong)
          require(batches.nonEmpty,
            s"no sketch batches under $dir/sketch — run `sketch build` first")
          val next = batches.max + 1
          graft.llm.TextOps.cmsSketch(spark.read.parquet(docsParquet))
            .write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(s"$dir/sketch/batch=$next")
          println(s"batch=$next counters=${spark.read.parquet(s"$dir/sketch").count()}")

        case "sketch" :: "query" :: dir :: toks if toks.nonEmpty =>
          graft.streaming.StreamingSketch.estimate(spark, dir, toks)
            .show(toks.length, truncate = false)

        // persisted mergeable KMV sketches (q247/q271's production
        // shape): build once per source, merge sketch-only, answer any
        // group-pair overlap from sketches alone — never a corpus
        // re-scan
        case "kmv" :: "build" :: in :: grp :: key :: dir :: rest
            if rest.length <= 1 =>
          import org.apache.spark.sql.functions.col
          val k = rest.headOption.map(_.toInt).getOrElse(256)
          graft.etl.KmvStore.build(spark.read.parquet(in),
            col(grp), col(key), dir, k)
          val n = spark.read.parquet(s"$dir/sketch")
            .select(col("t")).distinct().count()
          println(s"kmv build dir=$dir groups=$n k=$k")
        case "kmv" :: "append" :: in :: grp :: key :: dir :: Nil =>
          import org.apache.spark.sql.functions.col
          graft.etl.KmvStore.append(spark.read.parquet(in),
            col(grp), col(key), dir)
          val n = spark.read.parquet(s"$dir/sketch")
            .select(col("t")).distinct().count()
          println(s"kmv append dir=$dir groups=$n")
        case "kmv" :: "merge" :: a :: b :: out :: Nil =>
          graft.etl.KmvStore.merge(spark, a, b, out)
          import org.apache.spark.sql.functions.col
          val n = spark.read.parquet(s"$out/sketch")
            .select(col("t")).distinct().count()
          println(s"kmv merge $a + $b -> $out groups=$n")
        case "kmv" :: "estimate" :: dir :: Nil =>
          graft.etl.KmvStore.estimate(spark, dir)
            .show(1000, truncate = false)
        case "kmv" :: "query" :: dir :: Nil =>
          graft.etl.KmvStore.overlap(spark, dir)
            .show(1000, truncate = false)

        // two-dimensional Z-order clustering for min/max data skipping
        // latest-wins merge of a delta into a parquet table (SCD1)
        case "upsert" :: tableDir :: deltaParquet :: versionCol :: keys
            if keys.nonEmpty =>
          val n = Writers.upsert(spark, tableDir,
            spark.read.parquet(deltaParquet), keys, versionCol)
          println(s"upsert table=$tableDir keys=${keys.mkString(",")} " +
            s"version=$versionCol rows=$n")

        // restore a readable table after a crashed upsert or in-place
        // compact (promotes the complete new copy, else the set-aside
        // original)
        case "recover" :: tableDir :: Nil =>
          println(s"recover table=$tableDir state=${
            Writers.recoverDir(spark, tableDir)}")

        // partition-scoped merge against a hive layout: only the
        // partitions the delta touches are read and rewritten
        case "upsert-part" :: tableDir :: deltaParquet :: partCol ::
            versionCol :: keys if keys.nonEmpty =>
          val n = Writers.upsertPartitioned(spark, tableDir,
            spark.read.parquet(deltaParquet), partCol, keys, versionCol)
          println(s"upsert-part table=$tableDir part=$partCol " +
            s"keys=${keys.mkString(",")} version=$versionCol rows=$n")

        // streaming CDC apply: drain landed delta parquet into the
        // SCD1 table partition-scoped (AvailableNow; cron-friendly).
        // Schema comes from the files already landed — the stream needs
        // at least one delta file to start.
        case "upsert-stream" :: landingDir :: tableDir :: partCol ::
            versionCol :: keys if keys.nonEmpty =>
          val schema = spark.read.parquet(landingDir).schema
          graft.streaming.StreamingUpsert.start(spark, landingDir,
            tableDir, schema, partCol, keys, versionCol)
            .awaitTermination()
          println(s"upsert-stream landing=$landingDir table=$tableDir " +
            s"part=$partCol keys=${keys.mkString(",")} rows=${
              spark.read.parquet(tableDir).count()}")

        // per-partition recovery after a crashed upsert-part
        case "upsert-recover-parts" :: tableDir :: Nil =>
          val states = Writers.upsertRecoverPartitions(spark, tableDir)
          if (states.isEmpty) println(s"upsert-recover-parts " +
            s"table=$tableDir state=clean")
          else states.toSeq.sortBy(_._1).foreach { case (part, st) =>
            println(s"upsert-recover-parts table=$tableDir " +
              s"partition=$part state=$st")
          }

        // streaming SCD2 with idle eviction over a landing dir of
        // parquet events: drain what's landed (AvailableNow), append
        // closed runs (transition + idle) to <outDir>/runs, then stop;
        // state and processed-file tracking live in the checkpoint, so
        // cron re-runs resume where they left off
        case "track" :: landingDir :: outDir :: idleMs :: rest
            if rest.length <= 1 =>
          val q = graft.streaming.StateTracker.startTracking(spark,
            landingDir, outDir, idleMs.toLong,
            rest.headOption.getOrElse("10 seconds"))
          q.awaitTermination()
          val n = spark.read.parquet(s"$outDir/runs").count()
          println(s"track landing=$landingDir out=$outDir " +
            s"idle_ms=$idleMs closed_runs=$n")

        case "trend" :: landingDir :: outDir :: alpha :: idleMs :: rest
            if rest.length <= 1 =>
          val q = graft.streaming.StreamingTrend.startLevels(spark,
            landingDir, outDir, alpha.toDouble, idleMs.toLong,
            rest.headOption.getOrElse("10 seconds"))
          q.awaitTermination()
          val n = spark.read.parquet(s"$outDir/levels").count()
          println(s"trend landing=$landingDir out=$outDir " +
            s"alpha=$alpha idle_ms=$idleMs levels=$n")

        case "cusum" :: landingDir :: baselinePath :: outDir :: idleMs ::
            rest if rest.length <= 1 =>
          val q = graft.streaming.StreamingCusum.start(spark, landingDir,
            baselinePath, outDir, idleMs.toLong,
            rest.headOption.getOrElse("10 seconds"))
          q.awaitTermination()
          val n = spark.read.parquet(s"$outDir/cusum").count()
          println(s"cusum landing=$landingDir baseline=$baselinePath " +
            s"out=$outDir idle_ms=$idleMs days=$n")

        case "ab" :: landingDir :: outDir :: rest if rest.length <= 1 =>
          val q = graft.streaming.StreamingAb.start(spark, landingDir,
            outDir, rest.headOption.getOrElse("purchase"))
          q.awaitTermination()
          val batches = Option(
              new java.io.File(s"$outDir/readouts").listFiles())
            .getOrElse(Array.empty).map(_.getName)
            .filter(_.startsWith("batch="))
            .map(_.stripPrefix("batch=").toLong)
          if (batches.isEmpty) println(s"ab out=$outDir: no readouts yet")
          else spark.read
            .parquet(s"$outDir/readouts/batch=${batches.max}").show()

        case "pack" :: in :: outDir :: rest if rest.length <= 2 =>
          val shards = rest.headOption.map(_.toInt).getOrElse(8)
          val cap = rest.drop(1).headOption.map(_.toLong).getOrElse(512L)
          val asg = graft.llm.TextOps.packSequences(
            spark.read.parquet(in), shards, cap)
          asg.write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(outDir)
          import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum}
          val st = spark.read.parquet(outDir)
            .groupBy(col("shard"))
            .agg(countDistinct(col("bin")).as("bins"),
              count(lit(1)).as("docs"), sum(col("n_tokens")).as("tokens"))
          val r = st.agg(sum(col("bins")), sum(col("docs")),
            sum(col("tokens"))).head
          println(s"packed docs=${r.getLong(1)} bins=${r.getLong(0)} " +
            s"tokens=${r.getLong(2)} capacity=$cap shards=$shards " +
            s"fill=${"%.3f".format(r.getLong(2).toDouble /
              (r.getLong(0) * cap))} dir=$outDir")

        case "geo-stream" :: landingDir :: outDir :: rest
            if rest.length <= 1 =>
          graft.streaming.StreamingGeo.start(spark, landingDir, outDir,
            rest.headOption.map(_.toLong).getOrElse(500L))
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/alerts").count()
          println(s"geo-stream landing=$landingDir out=$outDir alerts=$n")

        // q274's always-on form: trajectory resampling onto the grid
        case "geo-resample" :: landingDir :: outDir :: rest
            if rest.length <= 2 =>
          graft.streaming.StreamingGeo.startResample(spark, landingDir,
            outDir, rest.headOption.map(_.toLong).getOrElse(600L),
            rest.lift(1).map(_.toLong).getOrElse(21600L))
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/grid").count()
          println(s"geo-resample landing=$landingDir out=$outDir " +
            s"grid_fixes=$n")

        // q277's always-on form: geofence-breach visit intervals
        case "geo-visits" :: landingDir :: outDir :: Nil =>
          graft.streaming.StreamingGeo
            .startZoneVisits(spark, landingDir, outDir)
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/visits").count()
          println(s"geo-visits landing=$landingDir out=$outDir visits=$n")

        // q280's always-on form: dark-gap (transponder-off) alerts at
        // the reappearance fix
        case "geo-dark" :: landingDir :: outDir :: rest
            if rest.length <= 1 =>
          graft.streaming.StreamingGeo.startDarkGaps(spark, landingDir,
            outDir, rest.headOption.map(_.toLong).getOrElse(21600L))
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/gaps").count()
          println(s"geo-dark landing=$landingDir out=$outDir gaps=$n")

        // q283's always-on form: the transshipment alert ("went dark
        // next to X, reappeared next to Y") at the reappearance batch
        case "geo-rendezvous" :: landingDir :: outDir :: rest
            if rest.length <= 2 =>
          graft.streaming.StreamingGeo.startDarkRendezvous(spark,
            landingDir, outDir,
            minGapS = rest.headOption.map(_.toLong).getOrElse(21600L),
            radiusM = rest.drop(1).headOption.map(_.toLong)
              .getOrElse(500L))
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/alerts").count()
          println(
            s"geo-rendezvous landing=$landingDir out=$outDir alerts=$n")

        // retention for the streaming geo monitors' persisted position
        // index: drop index/occ batch partitions whose newest hour is
        // more than the horizon behind the observed high-water (run
        // while the stream is down, like any table maintenance)
        case "geo-retain" :: outDir :: horizon :: Nil =>
          val dropped = graft.streaming.StreamingGeo
            .retainIndex(spark, outDir, horizon.toLong)
          println(s"geo-retain out=$outDir horizon_hours=$horizon " +
            s"dropped_batches=${dropped.size}" +
            (if (dropped.nonEmpty) s" (${dropped.mkString(",")})" else ""))

        // q269's always-on form: incremental co-travel episodes with
        // convoy alerts at the minHours-reaching micro-batch
        case "geo-episodes" :: landingDir :: outDir :: rest
            if rest.length <= 3 =>
          graft.streaming.StreamingGeo.startEpisodes(spark, landingDir,
            outDir, rest.headOption.map(_.toLong).getOrElse(500L),
            rest.lift(1).map(_.toLong).getOrElse(2L),
            rest.lift(2).map(_.toLong).getOrElse(168L))
            .awaitTermination()
          val nc = spark.read.parquet(s"$outDir/closed").count()
          val na = spark.read.parquet(s"$outDir/alerts").count()
          println(s"geo-episodes landing=$landingDir out=$outDir " +
            s"closed=$nc alerts=$na")

        case "vtable" :: "append" :: in :: dir :: statsCols =>
          val v = graft.etl.Versioned
            .commitAppend(spark.read.parquet(in), dir, statsCols)
          println(s"vtable $dir committed v$v (append, " +
            s"stats=${statsCols.mkString(",")})")
        case "vtable" :: "replace" :: in :: dir :: statsCols =>
          val v = graft.etl.Versioned
            .commitReplace(spark.read.parquet(in), dir, statsCols)
          println(s"vtable $dir committed v$v (replace)")
        case "vtable" :: "read-pruned" :: dir :: c :: lo :: hi :: Nil =>
          val (df, kept, skipped) = graft.etl.Versioned
            .readPruned(spark, dir, c, lo.toLong, hi.toLong)
          println(s"vtable $dir pruned read $c in [$lo, $hi]: " +
            s"rows=${df.count()} subdirs_read=$kept " +
            s"subdirs_skipped=$skipped")
        case "vtable" :: "read" :: dir :: rest if rest.length <= 1 =>
          val v = rest.headOption.map(_.toLong).getOrElse(-1L)
          val df = graft.etl.Versioned.read(spark, dir, v)
          println(s"vtable $dir v=${if (v < 0) "latest" else v} " +
            s"rows=${df.count()}")
          df.show(20, truncate = false)
        case "vtable" :: "log" :: dir :: Nil =>
          graft.etl.Versioned.log(spark, dir).foreach { case (v, n) =>
            println(s"v$v data_dirs=$n")
          }
        case "vtable-stream" :: landingDir :: tableDir :: sample :: stats =>
          graft.streaming.StreamingVtable.start(spark, landingDir,
            spark.read.parquet(sample).schema, tableDir, stats)
            .awaitTermination()
          val vs = graft.etl.Versioned.log(spark, tableDir)
          println(s"vtable-stream landing=$landingDir table=$tableDir " +
            s"versions=${vs.size} latest=${vs.lastOption.map(_._1).getOrElse(-1L)}")
        // One-command AIS/trajectory report pack — the geo sibling of
        // `diagnose`: every geo readout over one events dir, each
        // landed as parquet, with a one-line ops summary.
        // `--zones <file>`: run the zone-parameterized reports against
        // a loadZones registry (JSON lines or parquet) instead of the
        // compile-time literal — real geofences arrive as data
        case "geo" :: sfDir :: outDir :: rest
            if rest.isEmpty ||
              (rest.length == 2 && rest.head == "--zones") =>
          import org.apache.spark.sql.functions.{col, sum => fsum}
          val zones = rest.lift(1)
            .map(p => graft.queries.Geo.loadZones(spark, p))
            .getOrElse(graft.queries.Geo.Zones)
          val ev = graft.core.Tables.load(spark, sfDir, "events")
          val zoned: Map[String, () => org.apache.spark.sql.DataFrame] =
            Map(
              "q273_zone_stops" ->
                (() => graft.queries.Geo.zoneStops(ev, zones = zones)),
              "q275_zone_transitions" ->
                (() => graft.queries.Geo.zoneTransitions(ev,
                  zones = zones)),
              "q277_zone_visits" ->
                (() => graft.queries.Geo.zoneVisits(ev, zones)),
              "q279_episode_zones" ->
                (() => graft.queries.Geo.episodeZones(ev, zones = zones)),
              "q281_zone_exposure" ->
                (() => graft.queries.Geo.zoneExposure(ev, zones = zones)))
          val reports = Seq("q262_geo_density", "q263_track_report",
            "q264_proximity_pairs", "q265_stop_report", "q266_od_matrix",
            "q268_dwell_heatmap", "q269_co_travel", "q273_zone_stops",
            "q274_track_interp", "q275_zone_transitions",
            "q276_resampled_density", "q277_zone_visits",
            "q279_episode_zones", "q280_dark_gaps", "q281_zone_exposure",
            "q282_encounter_heatmap")
          reports.foreach { n =>
            zoned.get(n).map(_())
              .getOrElse(SparkEntry.queries(n)(spark, sfDir))
              .coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$n")
          }
          val tracks = spark.read.parquet(s"$outDir/q263_track_report")
          val nVessels = tracks.count()
          // sum over an empty report is NULL — coalesce, don't throw
          // after every report already landed on disk
          val nImpossible = Option(tracks
            .agg(fsum(col("n_impossible"))).head.get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          val nStops = spark.read
            .parquet(s"$outDir/q265_stop_report").count()
          val nPairs = spark.read
            .parquet(s"$outDir/q264_proximity_pairs").count()
          val nEpisodes = spark.read
            .parquet(s"$outDir/q269_co_travel").count()
          val nVisits = spark.read
            .parquet(s"$outDir/q277_zone_visits").count()
          // the poison-cell audit: cells the band join EXCLUDED from
          // pairing (occupancy above the cap) — loud, never silent
          graft.queries.Geo
            .poisonCells(graft.core.Tables.load(spark, sfDir, "events"))
            .coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/poison_cells")
          val nPoison = spark.read.parquet(s"$outDir/poison_cells").count()
          if (nPoison > 0)
            println(s"geo: WARNING $nPoison cell-hour(s) above the " +
              s"occupancy cap were EXCLUDED from proximity pairing — " +
              s"see $outDir/poison_cells (upstream data bug)")
          println(s"geo: ${reports.size} reports -> $outDir " +
            s"(vessels=$nVessels impossible_legs=$nImpossible " +
            s"stops=$nStops proximity_pairs=$nPairs " +
            s"co_travel_episodes=$nEpisodes zone_visits=$nVisits " +
            s"poison_cells=$nPoison)")

        case "vtable" :: "compact" :: dir :: statsCols =>
          val before = graft.etl.Versioned.log(spark, dir)
            .lastOption.map(_._2).getOrElse(0)
          val v = graft.etl.Versioned.compact(spark, dir, statsCols)
          println(s"vtable $dir compacted: v$v " +
            s"data_dirs $before -> 1")
        case "vtable" :: "vacuum" :: dir :: keep :: Nil =>
          val (dv, dd) = graft.etl.Versioned
            .vacuum(spark, dir, keep.toInt)
          println(s"vtable $dir vacuumed: versions_dropped=$dv " +
            s"data_dirs_deleted=$dd kept=$keep")

        case "pack-stream" :: landingDir :: outDir :: rest
            if rest.length <= 2 =>
          val shards = rest.headOption.map(_.toInt).getOrElse(8)
          val cap = rest.drop(1).headOption.map(_.toLong).getOrElse(512L)
          graft.streaming.StreamingPack
            .start(spark, landingDir, outDir, shards, cap)
            .awaitTermination()
          val n = spark.read.parquet(s"$outDir/assignments").count()
          println(s"pack-stream landing=$landingDir out=$outDir " +
            s"assigned=$n shards=$shards capacity=$cap")

        case "zorder" :: in :: c1 :: c2 :: out :: Nil =>
          graft.etl.Writers.zorderParquet(
            spark.read.parquet(in), c1, c2, out)
          println(s"rows=${spark.read.parquet(out).count()} dir=$out")

        case "range" :: in :: key :: tiebreak :: out :: rest
            if rest.length <= 1 =>
          graft.etl.Writers.rangeParquet(
            spark.read.parquet(in), key, tiebreak, out,
            files = rest.headOption.map(_.toInt).getOrElse(16))
          println(s"rows=${spark.read.parquet(out).count()} dir=$out")

        // fold a streaming-curation state dir's per-batch appends (stop
        // the stream first; the compaction lock trips concurrent appends)
        case "compact-state" :: stateDir :: rest if rest.isEmpty || rest == List("force") =>
          // `force` breaks a STALE lock left by a compaction driver that
          // died mid-run — never use it while a compaction is live
          graft.streaming.StreamingCuration
            .compactState(spark, stateDir, force = rest.nonEmpty)
            .toSeq.sortBy(_._1)
            .foreach { case (t, n) => println(s"table=$t files=$n") }

        // persisted IVF ANN index: build/append once, probe many
        case "ivf" :: "build" :: vecsParquet :: dir :: Nil =>
          graft.llm.IvfStore.build(spark.read.parquet(vecsParquet), dir)
          println(s"cells=${spark.read.parquet(s"$dir/cells").count()}")

        // build against a TRAINED codebook (seeded Lloyd's) instead of
        // the first-IvfCells sample
        case "ivf" :: "build-trained" :: vecsParquet :: dir :: Nil =>
          val vecs = spark.read.parquet(vecsParquet)
          val cb = graft.llm.IvfStore.train(vecs)
          graft.llm.IvfStore.build(vecs, dir, Some(cb))
          println(s"cells=${spark.read.parquet(s"$dir/cells").count()}")

        // fold per-append small files into one file per cell (quiesce
        // appenders first — same contract as compact-bucketed)
        case "ivf" :: "compact" :: dir :: Nil =>
          val n = graft.llm.IvfStore.compact(spark, dir)
          println(s"files=$n")

        case "ivf" :: "recover" :: dir :: Nil =>
          val restored = graft.llm.IvfStore.recover(spark, dir)
          println(if (restored) s"restored index at $dir"
            else s"index at $dir healthy; leftovers swept")

        case "ivf" :: "append" :: vecsParquet :: dir :: Nil =>
          graft.llm.IvfStore.append(spark.read.parquet(vecsParquet), dir)
          println(s"cells=${spark.read.parquet(s"$dir/cells").count()}")

        case "ivf" :: "query" :: dir :: vecId :: k :: Nil =>
          val id = vecId.toLong
          val qv = spark.read.parquet(s"$dir/cells")
            .filter(org.apache.spark.sql.functions.col("vec_id") === id)
            .head().getSeq[Double](1).toArray
          graft.llm.IvfStore.topK(spark, dir, qv, k.toInt, excludeId = Some(id))
            .show(k.toInt, truncate = false)

        // trained-codebook clustering: train once (seeded sampled
        // Lloyd's), persist the (cell, cv) codebook, then profile /
        // quota-sample any corpus against it (q124/q125 as CLI ops)
        case "cluster" :: "train" :: vecsParquet :: cbDir :: Nil =>
          graft.llm.IvfStore.train(spark.read.parquet(vecsParquet),
              sampleFraction = 0.5)
            .write.mode("overwrite").parquet(cbDir)
          println(s"cells=${spark.read.parquet(cbDir).count()}")

        case "cluster" :: "profile" :: vecsParquet :: cbDir :: Nil =>
          import org.apache.spark.sql.functions.col
          val cb = spark.read.parquet(cbDir).select(col("cell"), col("cv"))
          graft.llm.Similarity
            .clusterProfile(cb, spark.read.parquet(vecsParquet))
            .show(200, truncate = false)

        case "cluster" :: "silhouette" :: vecsParquet :: cbDir :: Nil =>
          import org.apache.spark.sql.functions.col
          val cb = spark.read.parquet(cbDir).select(col("cell"), col("cv"))
          graft.llm.Similarity
            .silhouette(cb, spark.read.parquet(vecsParquet))
            .show(200, truncate = false)

        case "reshard" :: parquet :: idCol :: oldN :: newN :: Nil =>
          graft.etl.Writers
            .reshardReport(spark.read.parquet(parquet), idCol,
              oldN.toInt, newN.toInt)
            .show(500, truncate = false)

        case "cluster" :: "sample" :: vecsParquet :: cbDir :: perCell :: out :: Nil =>
          import org.apache.spark.sql.functions.col
          val cb = spark.read.parquet(cbDir).select(col("cell"), col("cv"))
          graft.llm.Similarity
            .clusterBalancedSample(cb, spark.read.parquet(vecsParquet),
              perCell.toInt)
            .write.mode("overwrite").parquet(out)
          println(s"sampled=${spark.read.parquet(out).count()}")

        // persisted PQ index: corpus-scale encode paid once at build
        case "pq" :: "build" :: vecsParquet :: dir :: Nil =>
          graft.llm.Pq.buildStore(spark.read.parquet(vecsParquet), dir)
          println(s"codes=${spark.read.parquet(s"$dir/codes").count()}")

        case "pq" :: "append" :: vecsParquet :: dir :: Nil =>
          graft.llm.Pq.appendStore(spark.read.parquet(vecsParquet), dir)
          println(s"codes=${spark.read.parquet(s"$dir/codes").count()}")

        case "pq" :: "query" :: vecsParquet :: dir :: vecId :: k :: Nil =>
          val id = vecId.toLong
          val qv = spark.read.parquet(vecsParquet)
            .filter(org.apache.spark.sql.functions.col("vec_id") === id)
            .select(graft.llm.Similarity.asDouble(
              org.apache.spark.sql.functions.col("embedding")))
            .head().getSeq[Double](0).toArray
          graft.llm.Pq.topKStored(spark, dir, qv, k.toInt,
            excludeId = Some(id)).show(k.toInt, truncate = false)

        // SQ8 scalar-quantized ANN store: 1 byte/dim codes against
        // corpus-wide per-dim bounds (the q168 layout, persisted)
        case "sq" :: "build" :: vecsParquet :: dir :: Nil =>
          graft.llm.Similarity.sqBuildStore(
            spark.read.parquet(vecsParquet), dir)
          println(s"codes=${spark.read.parquet(s"$dir/codes").count()}")

        case "sq" :: "append" :: vecsParquet :: dir :: Nil =>
          graft.llm.Similarity.sqAppendStore(
            spark.read.parquet(vecsParquet), dir)
          println(s"codes=${spark.read.parquet(s"$dir/codes").count()}")

        case "sq" :: "query" :: vecsParquet :: dir :: vecId :: k :: Nil =>
          val id = vecId.toLong
          val qv = spark.read.parquet(vecsParquet)
            .filter(org.apache.spark.sql.functions.col("vec_id") === id)
            .select(graft.llm.Similarity.asDouble(
              org.apache.spark.sql.functions.col("embedding")))
            .head().getSeq[Double](0).toArray
          graft.llm.Similarity.sqTopKStored(spark, dir, qv, k.toInt,
            excludeId = Some(id)).show(k.toInt, truncate = false)

        // BPE tokenizer: train a merge table on a corpus; encode shows
        // per-doc subword counts under a freshly trained table
        case "bpe" :: "train" :: docsParquet :: numMerges :: Nil =>
          graft.llm.TextOps.bpeTrain(
            spark.read.parquet(docsParquet), numMerges.toInt)
            .foreach { case (step, pair) => println(s"$step\t$pair") }

        case "bpe" :: "train" :: docsParquet :: numMerges :: outDir :: Nil =>
          val merges = graft.llm.TextOps.bpeTrain(
            spark.read.parquet(docsParquet), numMerges.toInt)
          graft.llm.TextOps.saveBpeMerges(spark, merges, outDir)
          println(s"merges=${merges.size} dir=$outDir")

        case "bpe" :: "encode" :: docsParquet :: arg :: Nil =>
          val docsDf = spark.read.parquet(docsParquet)
          // an integer trains a throwaway table; anything else is a
          // persisted merges dir from `bpe train ... <outDir>`
          val merges = arg.toIntOption match {
            case Some(n) => graft.llm.TextOps.bpeTrain(docsDf, n).map(_._2)
            case None => graft.llm.TextOps.loadBpeMerges(spark, arg)
          }
          graft.llm.TextOps.bpeEncodeTokens(docsDf, merges)
            .select(org.apache.spark.sql.functions.col("doc_id"),
              org.apache.spark.sql.functions.size(
                org.apache.spark.sql.functions.col("subwords")).as("n_subwords"))
            .show(20, truncate = false)

        // bigram LM: train once, score many (the q98 model persisted)
        case "lm" :: "train" :: docsParquet :: dir :: Nil =>
          graft.llm.TextOps.saveBigramLm(spark.read.parquet(docsParquet), dir)
          println(s"vocab=${spark.read.parquet(s"$dir/vocab").head.getLong(0)} dir=$dir")

        case "lm" :: "score" :: docsParquet :: dir :: Nil =>
          graft.llm.TextOps.bigramLogProbStored(
            spark.read.parquet(docsParquet), dir)
            .orderBy(org.apache.spark.sql.functions.col("logprob"))
            .show(20, truncate = false)

        // learned quality scorer: train once (persist the 1-row weight
        // artifact), score many (broadcast map-only pass) — q110
        case "classify" :: "train" :: docsParquet :: dir :: Nil =>
          import org.apache.spark.sql.functions.col
          val feats = graft.llm.QualityClassifier.features(
            spark.read.parquet(docsParquet), col("lang") === "en")
          val w = graft.llm.QualityClassifier.train(feats)
          graft.llm.QualityClassifier.weightsDf(spark, w).coalesce(1)
            .write.mode("overwrite").parquet(dir)
          println(s"weights=${w.mkString(",")} dir=$dir")

        case "classify" :: "score" :: docsParquet :: dir :: Nil =>
          import org.apache.spark.sql.functions.col
          val feats = graft.llm.QualityClassifier.features(
            spark.read.parquet(docsParquet), col("lang") === "en")
          graft.llm.QualityClassifier
            .scoreWith(feats, spark.read.parquet(dir))
            .orderBy(col("p_score").desc)
            .show(20, truncate = false)

        // derive temperature-scaled per-language keep rates from corpus
        // counts (q104's rule as a persisted artifact) ...
        case "mix" :: "derive" :: docsParquet :: ratesDir :: budget :: Nil =>
          val rates = graft.llm.Curation.deriveTemperatureRates(
            spark.read.parquet(docsParquet), budget.toLong)
          rates.write.mode("overwrite").parquet(ratesDir)
          rates.show(50, truncate = false)

        // ... then apply them with the deterministic salted-hash
        // membership rule (reproducible on any engine / corpus order)
        case "mix" :: "apply" :: docsParquet :: ratesDir :: Nil =>
          val stored = spark.read.parquet(ratesDir)
            .select(org.apache.spark.sql.functions.col("lang"),
              org.apache.spark.sql.functions.col("rate"))
            .collect().map(r => r.getString(0) -> r.getLong(1).toInt).toMap
          graft.llm.Curation.mixtureCounts(
            spark.read.parquet(docsParquet), stored, defaultRate = 0)
            .show(50, truncate = false)

        // one-pass Gram training of the top principal component
        // (train once, project many — the classify/lm/ivf convention)
        case "pca" :: "train" :: vecsParquet :: dir :: Nil =>
          import org.apache.spark.sql.functions.col
          val vecs = spark.read.parquet(vecsParquet)
            .select(col("vec_id"),
              graft.llm.Similarity.asDouble(col("embedding")).as("a"))
          val (mu, w) = graft.llm.Pca.gramComponent(vecs)
          graft.llm.Pca.componentDf(spark, mu, w).coalesce(1)
            .write.mode("overwrite").parquet(dir)
          println(s"dim=${w.length} dir=$dir")

        case "pca" :: "project" :: vecsParquet :: dir :: Nil =>
          import org.apache.spark.sql.functions.{col, lit}
          val vecs = spark.read.parquet(vecsParquet)
            .select(col("vec_id"),
              // projectWith selects label too; synthesize if absent
              (if (spark.read.parquet(vecsParquet).columns.contains("label"))
                col("label") else lit(0).as("label")),
              graft.llm.Similarity.asDouble(col("embedding")).as("a"))
          graft.llm.Pca.projectWith(vecs, spark.read.parquet(dir))
            .orderBy(col("p_pca").desc)
            .show(20, truncate = false)

        // the pre-training data-review pack: every diagnostics report
        // of the round-10 layer into one dir, plus headline numbers
        // small-files maintenance: report the file-size profile of a
        // parquet dir, or compact it to ~targetMB files (coalesce — no
        // shuffle)
        case "compact" :: inDir :: outDir :: rest if rest.length <= 1 =>
          val target = rest.headOption.map(_.toInt).getOrElse(128)
          val (before, stated) =
            graft.etl.Writers.compactFiles(spark, inDir, outDir, target)
          val (after, bytes, avgMb, _) =
            graft.etl.Writers.fileStats(spark, outDir, target)
          println(f"compact files=$before->$after (planned $stated) " +
            f"bytes=$bytes avg_mb=$avgMb%.1f out=$outDir")

        case "files" :: dir :: rest if rest.length <= 1 =>
          val target = rest.headOption.map(_.toInt).getOrElse(128)
          val (n, bytes, avgMb, small) =
            graft.etl.Writers.fileStats(spark, dir, target)
          println(f"files n=$n bytes=$bytes avg_mb=$avgMb%.1f " +
            s"under_half_target=$small target_mb=$target")

        // fuzzy vocabulary pack: edit-distance pair report, typo
        // clusters, and the normalized corpus rewrite, one parquet each
        case "fuzzy" :: docsParquet :: outDir :: Nil =>
          val docsDf = spark.read.parquet(docsParquet)
          graft.llm.Fuzzy.fuzzyTokenPairs(docsDf).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/pairs")
          graft.llm.Fuzzy.fuzzyGroups(docsDf).coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/groups")
          graft.llm.Fuzzy.normalizeRewrite(docsDf)
            .write.mode("overwrite")
            .option("compression", graft.etl.Writers.DefaultCompression)
            .parquet(s"$outDir/normalized")
          val nPairs = spark.read.parquet(s"$outDir/pairs").count()
          val nFixed = spark.read.parquet(s"$outDir/normalized")
            .agg(org.apache.spark.sql.functions.sum("n_fixed"))
            .head.getLong(0)
          println(s"fuzzy pairs=$nPairs fixed_tokens=$nFixed out=$outDir")

        case "diagnose" :: sfDir :: outDir :: Nil =>
          import org.apache.spark.sql.functions.{col, max => fmax}
          val reports = Seq("q106_dataset_card", "q114_source_divergence",
            "q117_source_lang_mi", "q104_temperature_mix",
            "q115_classifier_calibration", "q118_classifier_auc",
            "q116_embedding_outliers", "q107_minhash_calibration")
          reports.foreach { n =>
            SparkEntry.queries(n)(spark, sfDir).coalesce(1)
              .write.mode("overwrite").parquet(s"$outDir/$n")
          }
          val auc = spark.read.parquet(s"$outDir/q118_classifier_auc")
            .head.getDouble(2)
          val nmi = spark.read.parquet(s"$outDir/q117_source_lang_mi")
            .head.getDouble(4)
          val maxJs = spark.read.parquet(s"$outDir/q114_source_divergence")
            .agg(fmax(col("js"))).head.getDouble(0)
          val maxZ = spark.read.parquet(s"$outDir/q116_embedding_outliers")
            .agg(fmax(col("z"))).head.getDouble(0)
          println(s"diagnose: ${reports.size} reports -> $outDir " +
            s"(classifier_auc=$auc source_lang_nmi=$nmi " +
            s"max_source_js=$maxJs max_outlier_z=$maxZ)")

        // the same pack plus the dedup reports (leakage, retention) from
        // the PERSISTED pair/cluster tables: repeated reports are index
        // reads — nothing re-derives the pair graph or re-runs CC
        case "diagnose" :: sfDir :: outDir :: pairsTable :: clustersTable :: Nil =>
          import org.apache.spark.sql.functions.col
          val src = graft.core.Tables.load(spark, sfDir, "documents")
            .select(col("doc_id"), col("source"))
          graft.llm.Dedup.crossSourceReport(
              graft.llm.PairStore.bucketedPairs(spark, pairsTable), src)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/leakage_stored")
          graft.llm.Dedup.retentionReport(
              graft.llm.PairStore.storedClusters(spark, clustersTable), src)
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/retention_stored")
          graft.llm.Dedup.softDedupWeights(
              graft.llm.PairStore.storedClusters(spark, clustersTable),
              src.select(col("doc_id")))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/weights_stored")
          val ret = spark.read.parquet(s"$outDir/retention_stored")
          val minRet = ret.agg(org.apache.spark.sql.functions
            .min(col("retention"))).head.getDouble(0)
          val nLeak = spark.read.parquet(s"$outDir/leakage_stored").count()
          println(s"diagnose(stored): leakage_stored + retention_stored + " +
            s"weights_stored -> $outDir " +
            s"(cross_source_rows=$nLeak min_retention=$minRet)")

        // pretraining shape: chunk -> token-count -> shuffled shards
        case "prep" :: docsParquet :: outDir :: shards :: Nil =>
          val r = graft.llm.TextOps.prepCorpus(
            spark.read.parquet(docsParquet), outDir, shards = shards.toInt)
          println(s"docs=${r.nDocs} chunks=${r.nChunks} " +
            s"tokens=${r.nTokens} shards_dir=${r.shardsDir}")

        case "curate" :: docsParquet :: outDir :: shards :: Nil =>
          val r = graft.llm.Curation.curateCorpus(
            spark.read.parquet(docsParquet), outDir, shards.toInt)
          println(s"docs=${r.nDocs} after_dedup=${r.nAfterDedup} " +
            s"exported=${r.nExported} shards_dir=${r.shardsDir}")

        // span-cut first (Lee et al. ordering): duplicated >= 8-token
        // runs are removed keep-first, THEN the near-dup pipeline runs
        case "curate" :: docsParquet :: outDir :: shards :: "cut" :: Nil =>
          val cut = graft.llm.Curation.cutDuplicateSpans(
            spark.read.parquet(docsParquet))
          val r = graft.llm.Curation.curateCorpus(cut, outDir, shards.toInt)
          println(s"docs_after_cut=${r.nDocs} after_dedup=${r.nAfterDedup} " +
            s"exported=${r.nExported} shards_dir=${r.shardsDir}")

        case "export" :: inParquet :: outDir :: shards :: rest
            if rest.isEmpty || rest.length == 1 =>
          val idCol = rest.headOption.getOrElse("doc_id")
          graft.etl.Writers.shuffledShards(
            spark.read.parquet(inParquet), idCol, outDir, shards.toInt)
          graft.etl.Writers.writeShardManifest(spark, outDir, idCol)
          val n = spark.read.parquet(outDir).count()
          println(s"exported rows=$n shards=${shards.toInt} dir=$outDir " +
            "(manifest: _manifest)")

        case "query" :: sfDir :: name :: Nil =>
          SparkEntry.queries.get(name) match {
            case Some(fn) => fn(spark, sfDir).show(50, truncate = false)
            case None =>
              System.err.println(
                s"unknown query '$name'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
              sys.exit(2)
          }

        case _ => usage(); sys.exit(2)
      }
    } finally started.foreach(_.stop())
  }

  private def usage(): Unit =
    System.err.println(
      """usage: graft.Main <command>
        |  pipeline <parameters.json> <landingDir> <outDir>
        |  ingest --config <parameters.json> <landingDir>
        |  ingest [--unzip] <landingDir> <url>...
        |  profile <sfDir> <table>
        |  dq <sfDir> <table> <outDir> [keyCol...] | dq diff <dirOld> <dirNew> [tol]
        |  dq diff-rows <dirOld> <dirNew> <outDir> <keyCol...>
        |  fuzzy <docsParquet> <outDir>
        |  compact <inDir> <outDir> [targetMB] | files <dir> [targetMB]
        |  preprocess <inParquet> <outDir>
        |  pairs build <docsParquet> <pairsDir> | pairs build-bucketed <docsParquet> <table> <dir>
        |  pairs clusters <pairsDir> | pairs clusters-star <pairsDir>
        |  pairs compact <pairsDir> | pairs compact-bucketed <table> | pairs register <table> <dir>
        |  compact-state <stateDir> [force]
        |  ivf build <vecsParquet> <ivfDir> | ivf build-trained <vecsParquet> <ivfDir>
        |  ivf append <vecsParquet> <ivfDir> | ivf query <ivfDir> <vecId> <k>
        |  ivf compact <ivfDir> | ivf recover <ivfDir>
        |  cluster train <vecsParquet> <codebookDir>
        |  cluster profile <vecsParquet> <codebookDir>
        |  cluster silhouette <vecsParquet> <codebookDir>
        |  cluster sample <vecsParquet> <codebookDir> <perCell> <outDir>
        |  reshard <parquet> <idCol> <oldShards> <newShards>
        |  pq build <vecsParquet> <pqDir> | pq append <vecsParquet> <pqDir>
        |  pq query <vecsParquet> <pqDir> <vecId> <k>
        |  sq build <vecsParquet> <sqDir> | sq append <vecsParquet> <sqDir>
        |  sq query <vecsParquet> <sqDir> <vecId> <k>
        |  bpe train <docsParquet> <numMerges> [mergesDir]
        |  bpe encode <docsParquet> <numMerges|mergesDir>
        |  lm train <docsParquet> <lmDir> | lm score <docsParquet> <lmDir>
        |  classify train <docsParquet> <weightsDir> | classify score <docsParquet> <weightsDir>
        |  mix derive <docsParquet> <ratesDir> <budget> | mix apply <docsParquet> <ratesDir>
        |  pca train <vecsParquet> <componentDir> | pca project <vecsParquet> <componentDir>
        |  media index <docsParquet> <indexDir> | media pairs <docsParquet> | media append <docsParquet> <indexDir>
        |  sketch build <docsParquet> <sketchDir> | sketch append <docsParquet> <sketchDir> | sketch query <sketchDir> <token>...
        |  upsert <tableDir> <deltaParquet> <versionCol> <keyCol...>
        |  recover <tableDir>
        |  upsert-part <tableDir> <deltaParquet> <partCol> <versionCol> <keyCol...>
        |  upsert-stream <landingDir> <tableDir> <partCol> <versionCol> <keyCol...>
        |  upsert-recover-parts <tableDir>
        |  track <landingDir> <outDir> <idleMs> [watermarkDelay]
        |  trend <landingDir> <outDir> <alpha> <idleMs> [watermarkDelay]
        |  cusum <landingDir> <baselineParquet> <outDir> <idleMs> [watermarkDelay]
        |  ab <landingDir> <outDir> [conversionEventType]
        |  pack <docsParquet> <outDir> [shards] [capacity]
        |  pack-stream <landingDir> <outDir> [shards] [capacity]
        |  vtable append|replace <parquet> <tableDir> [statsCol...]
        |  vtable read <tableDir> [version] | vtable log <tableDir>
        |  geo <sfDir> <outDir> [--zones <zoneFile>]
        |  vtable read-pruned <tableDir> <col> <lo> <hi>
        |  vtable compact <tableDir> [statsCol...]
        |  vtable vacuum <tableDir> <keepVersions>
        |  vtable-stream <landingDir> <tableDir> <schemaSampleParquet> [statsCol...]
        |  geo-stream <landingDir> <outDir> [radiusM]
        |  geo-episodes <landingDir> <outDir> [radiusM [minHours [maxGapHours]]]
        |  geo-visits <landingDir> <outDir>
        |  geo-dark <landingDir> <outDir> [minGapS]
        |  geo-rendezvous <landingDir> <outDir> [minGapS] [radiusM]
        |  geo-retain <geoOutDir> <horizonHours>
        |  geo-resample <landingDir> <outDir> [stepS [maxGapS]]
        |  kmv build <inParquet> <grpCol> <keyCol> <dir> [k]
        |  kmv append <inParquet> <grpCol> <keyCol> <dir>
        |  kmv merge <dirA> <dirB> <outDir>
        |  kmv estimate <dir>
        |  kmv query <dir>
        |  zorder <inParquet> <col1> <col2> <outDir>
        |  range <inParquet> <keyCol> <tiebreakCol> <outDir> [files]
        |  diagnose <sfDir> <reportDir> [<pairsTable> <clustersTable>]
        |  export <inParquet> <outDir> <shards> [idCol]
        |  curate <docsParquet> <outDir> <shards> [cut]
        |  prep <docsParquet> <outDir> <shards>
        |  query <sfDir> <name>""".stripMargin)
}
