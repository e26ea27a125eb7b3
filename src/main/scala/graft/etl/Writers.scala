package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sinks (SURVEY.md §2A OP-05/06/07).
  *
  * The reference writes one Brotli parquet file per table
  * (`notebooks/preprocessing_with_polars.ipynb:4036-4042`) and routes
  * ingested files under `{prefix}/{YYYY}/{MM}/{DD}/`
  * (`lambda_handler.py:273,280-281`). Spark-side: zstd parquet (brotli
  * codec jar absent in this image — declared deviation, SURVEY §7.4) and
  * `partitionBy` on a derived ingest_date column. Multipart/commit
  * mechanics (OP-02/03) are Hadoop committer territory — configured, not
  * reimplemented.
  */
object Writers {

  val DefaultCompression = "zstd"

  /** OP-02/03: the reference's hand-rolled S3 multipart protocol
    * (create -> buffered >=5 MB parts -> complete, abort on error) maps to
    * Hadoop S3A's transparent multipart + the job-commit protocol. These
    * are the settings that reproduce the reference's tuning
    * (S3_PART_MB=50, abort-on-error, magic committer for atomic commits
    * without rename): apply via `SparkSession.builder.config(...)` or
    * core-site when the warehouse is s3a://.
    */
  val s3aMultipartConf: Map[String, String] = Map(
    "spark.hadoop.fs.s3a.multipart.size" -> (50L * 1024 * 1024).toString,
    "spark.hadoop.fs.s3a.multipart.purge" -> "true",
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.sql.sources.commitProtocolClass" ->
      "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
    "spark.sql.parquet.output.committer.class" ->
      "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter")

  /** OP-05: compressed parquet sink. */
  def parquet(df: DataFrame, path: String,
      compression: String = DefaultCompression): Unit =
    df.write.mode("overwrite")
      .option("compression", compression)
      .parquet(path)

  /** OP-07: dated partition layout — one partition dir per ingest date
    * (UTC, from the session timezone pinned in Session). Readers prune
    * on ingest_date for free (partition pruning). A write replaces only
    * its own date's partition (dynamic partition overwrite, set on this
    * writer): a same-day re-run does not append a second copy, and other
    * days' partitions stay.
    */
  def datePartitioned(df: DataFrame, path: String,
      compression: String = DefaultCompression): Unit =
    df.withColumn("ingest_date", current_date())
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", compression)
      .partitionBy("ingest_date")
      .parquet(path)

  /** OP-06: quarantine/audit sink — same parquet path shape as the
    * reference's `problematic_rows.parquet`, kept separate from the
    * optimized output so the cleaning step leaves an audit trail.
    */
  def quarantine(df: DataFrame, path: String): Unit =
    parquet(df, path)

  /** The deterministic pseudorandom ordering key behind
    * [[shuffledShards]]: 60 bits of md5(id || seed) as a long — the
    * repo's salted-md5 convention (q59/q67/q81), so any engine (and the
    * DuckDB oracle, q90) reproduces the identical shuffle from the ids
    * alone. No RNG, no state: re-running the export on any cluster
    * layout yields the same shard membership and the same within-shard
    * order.
    */
  def shuffleKey(idCol: org.apache.spark.sql.Column,
      seed: String = ":shuf"): org.apache.spark.sql.Column =
    conv(substring(md5(concat(idCol.cast("string"), lit(seed))), 1, 15),
      16, 10).cast("long")

  /** Rendezvous (highest-random-weight) shard assignment (Thaler &
    * Ravishankar 1998): shard = argmax over s < n of md5(id ++ ":hrw:"
    * ++ s). Unlike [[shuffledShards]]'s mod-hash (where growing the
    * shard count remaps ~(1 − 1/new) of the corpus), HRW moves ONLY the
    * rows whose new-shard weight beats their old max — expected
    * (new − old)/new, and every moved row lands in a NEW shard;
    * surviving shards never exchange rows (q207 reports both policies'
    * movement side by side; EtlSpec pins the invariant). The weight is
    * the hex md5 compared lexicographically — identical in any engine,
    * so membership is a pure function of (id, n), no ring state to
    * store or replicate. Ties (md5 collisions) break to the larger
    * shard id; cost is n hashes per row, map-side, no shuffle.
    */
  def hrwShard(id: org.apache.spark.sql.Column,
      n: Int): org.apache.spark.sql.Column = {
    require(n >= 1, s"need at least one shard, got $n")
    val scored = transform(sequence(lit(0), lit(n - 1)), s =>
      struct(
        md5(concat(id.cast("string"), lit(":hrw:"), s.cast("string")))
          .as("w"),
        s.cast("int").as("shard")))
    sort_array(scored, asc = false)(0).getField("shard")
  }

  /** Reshard-movement report (q207, `reshard` CLI): per (policy,
    * new_shard), the population and how many rows change shard when
    * the count grows `oldN` → `newN`, under mod-hash ([[shuffledShards]]'s
    * layout, via [[shuffleKey]]) vs rendezvous ([[hrwShard]]) side by
    * side. One id-only columnar scan; both policies are computed in
    * the same map-side projection (explode of a 2-element array — no
    * second scan, no join); the exchange carries ≤ 2 × newN rows.
    */
  def reshardReport(df: DataFrame, idCol: String,
      oldN: Int, newN: Int): DataFrame = {
    val h = shuffleKey(col(idCol))
    df.select(
        explode(array(
          struct(lit("mod").as("policy"),
            pmod(h, lit(oldN)).cast("int").as("old_shard"),
            pmod(h, lit(newN)).cast("int").as("new_shard")),
          struct(lit("hrw").as("policy"),
            hrwShard(col(idCol), oldN).as("old_shard"),
            hrwShard(col(idCol), newN).as("new_shard"))))
          .as("m"))
      .select(col("m.policy").as("policy"),
        col("m.old_shard").as("old_shard"),
        col("m.new_shard").as("new_shard"))
      .groupBy(col("policy"), col("new_shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("old_shard") =!= col("new_shard")).cast("long"))
          .as("n_moved"))
      .orderBy(col("policy"), col("new_shard"))
  }

  /** Shuffled-shard training-data export — the last step of the curation
    * funnel: write the corpus in a deterministic pseudorandom order,
    * split into `shards` files a trainer can stream round-robin.
    *
    * shard = hash % shards (membership is a pure function of the id, so
    * it survives re-runs, engine changes, and corpus re-partitioning);
    * within a shard, rows sort by (hash, id). `repartition(col(shard))`
    * puts each shard's rows in exactly one task, so the dynamic
    * partition write emits one file per shard and the local sort IS the
    * file order. 100 TB shape: one map pass + one exchange hash-keyed on
    * the uniform shard id (no skew, no range-boundary sampling job, no
    * global sort); shard count bounds file size, not memory — the local
    * sort spills if a shard outgrows a task.
    */
  def shuffledShards(df: DataFrame, idCol: String, path: String,
      shards: Int, seed: String = ":shuf",
      compression: String = DefaultCompression): Unit = {
    require(shards >= 1, s"need at least one shard, got $shards")
    df.withColumn("__h", shuffleKey(col(idCol), seed))
      .withColumn("shard", pmod(col("__h"), lit(shards)).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("__h"), col(idCol))
      .drop("__h")
      .write.mode("overwrite")
      .option("compression", compression)
      .partitionBy("shard")
      .parquet(path)
  }

  /** Per-shard MANIFEST of a [[shuffledShards]] export: (shard, n_rows,
    * content_sig) with the signature an ORDER-INDEPENDENT sum of
    * xxhash64(id) — two exports carry the same manifest iff every shard
    * holds the same id set, regardless of file layout or row order.
    * The reproducibility receipt a training run stores next to the
    * data: re-running the manifest after any re-shard/compaction/copy
    * verifies content identity in one scan, without a row-level diff.
    * (Engine-specific hash — verified behaviorally, like the other
    * xxhash64 surfaces.)
    */
  def shardManifest(spark: org.apache.spark.sql.SparkSession, dir: String,
      idCol: String = "doc_id"): DataFrame =
    spark.read.parquet(dir)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        sum(xxhash64(col(idCol))).as("content_sig"))
      .orderBy(col("shard"))

  /** Write the manifest beside the export (underscore path: ignored by
    * parquet dir scans, the _SUCCESS convention). */
  def writeShardManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, idCol: String = "doc_id"): Unit =
    shardManifest(spark, dir, idCol).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_manifest")

  /** Replace the directory `live` all or nothing — the engine's form of
    * the reference's multipart create → upload → complete, abort on any
    * error (SURVEY OP-02/OP-40), for a table rewritten in place. Every
    * in-place rewrite in the engine goes through this pair
    * ([[recoverDir]] is the other half).
    *
    * Protocol: any leftover of an earlier crash is recovered first; then
    * `write` fills the stage [[swapTmp]] (it may read `live` while it
    * does) and `_SUCCESS` is stamped on it (the committer may have been
    * configured not to write one); `live` is renamed aside to
    * [[swapOld]], the stage is renamed in (the original is put back if
    * that fails) and the set-aside copy is deleted. If `write` throws,
    * the stage is deleted and `live` is untouched. A `live` that does
    * not exist yet (or that `write` removed) is simply created. A stage
    * that is gone once `write` returns (cleared as stale by a
    * concurrent [[recoverDir]]) fails the swap with `live` untouched,
    * instead of being stamped and swapped in as an empty copy.
    *
    * Both names are dot-prefixed siblings of `live`, so Spark/Hadoop
    * listings of the parent skip them: a reader never double-counts a
    * stage. Readers can find no table at `live` for two metadata renames;
    * a crash at any instant leaves a complete copy at `live`, at the
    * marked stage or at the set-aside name, which [[recoverDir]] puts
    * back. One writer per `live`. On an object store rename is copy +
    * delete — use a commit-log table format there. Returns what `write`
    * returns.
    */
  def replaceDir[A](spark: org.apache.spark.sql.SparkSession,
      live: String)(write: String => A): A = {
    val path = new org.apache.hadoop.fs.Path(live)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(swapTmp(live))
    val old = new org.apache.hadoop.fs.Path(swapOld(live))
    recoverDir(spark, live)
    val out =
      try write(tmp.toString)
      catch { case e: Throwable => fs.delete(tmp, true); throw e }
    if (!fs.exists(tmp))
      throw new java.io.IOException(s"replaceDir: stage $tmp vanished " +
        s"before the swap (a concurrent recoverDir?); $live is untouched")
    val marker = new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")
    if (!fs.exists(marker)) fs.createNewFile(marker)
    val hadLive = fs.exists(path)
    if (hadLive && !fs.rename(path, old))
      throw new java.io.IOException(s"replaceDir: rename $path -> $old failed")
    if (!fs.rename(tmp, path)) {
      if (hadLive) fs.rename(old, path)
      throw new java.io.IOException(s"replaceDir: rename $tmp -> $path failed")
    }
    if (hadLive) fs.delete(old, true)
    out
  }

  /** Put a readable directory back at `live` after a crashed
    * [[replaceDir]], and clear the leftovers. Returns the state found:
    *  - "clean": `live` exists; any stage or set-aside copy is stale;
    *  - "promoted-tmp": `live` was gone and the stage was complete
    *    (`_SUCCESS`), so the new copy is renamed in;
    *  - "restored-old": `live` was gone and the stage missing or torn,
    *    so the set-aside original is renamed back;
    *  - "missing": no copy anywhere (no table ever existed).
    * Safe to call unconditionally before opening a table.
    */
  def recoverDir(spark: org.apache.spark.sql.SparkSession,
      live: String): String = {
    val path = new org.apache.hadoop.fs.Path(live)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(swapTmp(live))
    val old = new org.apache.hadoop.fs.Path(swapOld(live))
    def move(from: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(from, path))
        throw new java.io.IOException(s"recoverDir: rename $from -> $path failed")
    val state =
      if (fs.exists(path)) "clean"
      else if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
        move(tmp); "promoted-tmp"
      } else if (fs.exists(old)) { move(old); "restored-old" }
      else "missing"
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    state
  }

  /** The stage [[replaceDir]] writes: `.<name>.swap-tmp` beside `live`. */
  def swapTmp(live: String): String = swapSibling(live, "tmp")

  /** Where [[replaceDir]] sets `live` aside: `.<name>.swap-old`. */
  def swapOld(live: String): String = swapSibling(live, "old")

  private def swapSibling(live: String, tag: String): String = {
    val p = new org.apache.hadoop.fs.Path(live)
    new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.swap-$tag")
      .toString
  }

  /** Compact a parquet directory's accumulated small files into
    * ~`targetMB` outputs — the maintenance step every streaming append
    * sink (Incremental, StreamingDedup) eventually needs: micro-batches
    * write a few small files each, and at 100 TB a scan's task count and
    * footer-read overhead are driven by FILE count, not byte count.
    *
    * Output file count = ceil(current bytes / targetMB), rows preserved,
    * swapped in with [[replaceDir]]. Refuses PARTITIONED layouts:
    * reading them through `spark.read.parquet(dir)` would fold the
    * partition columns into the data files and flatten the layout — use
    * [[compactFiles]], which compacts partition-by-partition. An append
    * that races the compaction aborts it ([[unraced]]).
    */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetMB: Int = 512): Int =
    replaceDir(spark, dir) { stage =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val parts = partitionDirs(fs, path)
      require(parts.isEmpty,
        s"compact: $dir holds partition directories (${parts.take(3)
          .mkString(", ")}…) — in-place compaction would flatten the " +
          "layout; use compactFiles, which preserves it partition-by-" +
          "partition")
      unraced(fs, path) { _ =>
        val bytes = fs.getContentSummary(path).getLength
        val n = math.max(1, math.ceil(bytes / (targetMB * 1024.0 * 1024.0)).toInt)
        spark.read.parquet(dir)
          // coalesce, not repartition: a narrow concat of input partitions —
          // compaction has no reason to pay a full re-exchange of the table
          // (same rule as [[compactFiles]], the to-a-new-dir sibling)
          .coalesce(n)
          .write.mode("overwrite")
          .option("compression", DefaultCompression)
          .parquet(stage)
        n
      }
    }

  /** Latest-wins UPSERT (merge-on-write, SCD type 1) without a table
    * format: after the merge exactly one row per key survives — the one
    * with the highest `versionCol` across the existing table and the
    * incoming delta, the delta winning version ties (the newest write
    * is the truth a CDC feed expects). Replaying the same delta is a
    * no-op by construction.
    *
    * The merged table replaces `dir` through [[replaceDir]]; after a
    * crash, [[recoverDir]] (CLI: `recover <dir>`) restores a readable
    * table, preferring the merged copy. EtlSpec walks every crash
    * window.
    *
    * Scale shape: the keep-latest reduction is ONE exchange on the key
    * and a per-key top-1 (the TopKPerKey rewrite turns the filtered
    * row_number into bounded map-side heaps — no full per-key sort).
    * The rewrite itself is table-sized: at 100 TB use
    * [[upsertPartitioned]] against the dated layout — it merges and
    * swaps only the partitions the delta touches — or move to a
    * commit-log table format; the merge reduction carries over
    * unchanged in both.
    *
    * Returns the merged row count.
    */
  def upsert(spark: org.apache.spark.sql.SparkSession, dir: String,
      delta: DataFrame, keyCols: Seq[String], versionCol: String,
      compression: String = DefaultCompression): Long = {
    import org.apache.spark.sql.expressions.Window
    require(keyCols.nonEmpty, "upsert: at least one key column")
    replaceDir(spark, dir) { stage =>
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val incoming = delta.withColumn("_src", lit(1))
      val merged =
        if (fs.exists(path))
          spark.read.parquet(dir).withColumn("_src", lit(0))
            .unionByName(incoming)
        else incoming
      val w = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col(versionCol).desc, col("_src").desc)
      merged
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn", "_src")
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(stage)
      spark.read.parquet(stage).count()
    }
  }

  /** PARTITION-SCOPED [[upsert]] (r13 verdict #4): against a
    * hive-layout table (`dir/partCol=value/...`, the OP-07 dated
    * layout), merge + swap ONLY the partitions the delta touches —
    * untouched partitions' files are never read, never rewritten, and
    * stay byte-identical (EtlSpec pins it). This is the 100 TB form:
    * [[upsert]]'s whole-table rewrite costs the full corpus per delta,
    * this costs only the touched partitions (for a dated CDC feed,
    * typically today's).
    *
    * Contract:
    *  - `partCol` is the table's physical partition column and must be
    *    carried by the delta; its values must be non-null and render as
    *    safe dir names (`[A-Za-z0-9._-]+` — dates, hours, shard ids).
    *  - Keys never MIGRATE partitions: a delta row upserts the key
    *    within the partition the row itself carries. If the same key
    *    can legitimately appear under different partition values over
    *    time (partCol not functionally dependent on the key), this
    *    operator would keep both rows — use the table-wide [[upsert]]
    *    (or a commit-log table format) there.
    *
    * Each touched partition is one [[upsert]] of `dir/partCol=v`, so
    * its stage and set-aside copy are hidden siblings inside the table
    * root: a reader scanning the whole table mid-upsert never
    * double-counts them, and [[upsertRecoverPartitions]] restores every
    * partition after a crash. Partitions are processed sequentially; a
    * mid-sequence crash leaves earlier partitions merged (each delta
    * partition's merge is idempotent — replaying the same delta is a
    * no-op, so re-running after recovery is safe).
    *
    * Returns the merged row count across touched partitions.
    */
  def upsertPartitioned(spark: org.apache.spark.sql.SparkSession,
      dir: String, delta: DataFrame, partCol: String, keyCols: Seq[String],
      versionCol: String,
      compression: String = DefaultCompression): Long = {
    require(keyCols.nonEmpty, "upsertPartitioned: at least one key column")
    require(!keyCols.contains(partCol) && versionCol != partCol,
      s"upsertPartitioned: $partCol is the partition column")
    require(delta.columns.contains(partCol),
      s"upsertPartitioned: delta must carry $partCol")
    // touched partitions: bounded by the delta's distinct partition
    // values (a dated feed touches a handful), never the table's
    val touched = delta.select(col(partCol).cast("string").as("p"))
      .distinct().collect().map(r => Option(r.getString(0)))
    val safe = "[A-Za-z0-9._-]+".r
    touched.foreach { p =>
      require(p.exists(v => safe.pattern.matcher(v).matches()),
        s"upsertPartitioned: partition value ${p.orNull} is not a safe " +
          "dir name — NULL or characters needing hive escaping; route " +
          "those rows through the table-wide upsert")
    }
    touched.map { p =>
      val slice = delta
        .filter(col(partCol).cast("string") === p.get).drop(partCol)
      upsert(spark, s"$dir/$partCol=${p.get}", slice, keyCols, versionCol,
        compression)
    }.sum
  }

  /** [[recoverDir]] for every partition of a hive-layout table after a
    * crashed [[upsertPartitioned]]: finds the partitions with swap
    * leftovers among the table root's hidden entries. Returns
    * (partition dir name → state) for every partition that had
    * leftovers — empty map means the table was clean.
    */
  def upsertRecoverPartitions(spark: org.apache.spark.sql.SparkSession,
      dir: String): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Map.empty
    val leftover = """\.(.+)\.swap-(?:tmp|old)""".r
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .collect { case leftover(part) => part }.distinct
      .map(part => part -> recoverDir(spark, s"$dir/$part")).toMap
  }

  /** Compact a BUCKETED external table's accumulated small files,
    * preserving the bucket layout (a plain [[compact]] would strip the
    * bucket ids from the file names and silently demote every later
    * bucketed join to a re-shuffle). The compacted copy is written as
    * [[replaceDir]]'s stage — reading the old table while writing a new
    * one needs no snapshot — repartitioned on the bucket hash, so it
    * lands one file per bucket (per partition), and the catalog entry is
    * re-created over the swapped files via DDL, as EXTERNAL (a managed
    * input becomes external at its same location). Returns the new
    * data-file count.
    *
    * A table partitioned by a micro-batch id (the
    * [[graft.streaming.MicroBatch.Store]] layout) is folded as well:
    * every partition older than the newest, n, is rewritten into
    * `<col>=<n-1>` (`greatest(col, n-1)`), and `<col>=<n>` keeps its
    * rows. A stream starts batch n only after n-1 committed, so n is
    * the only partition a replay can still replace, and the fold never
    * moves it under another id.
    *
    * Callers must quiesce writers to the table first — see
    * [[graft.streaming.StreamingCuration.compactState]]'s lock for the
    * streaming case. As a backstop against a writer that slipped past
    * that contract, the compacted copy is written under [[unraced]]:
    * an append that lands meanwhile aborts the compaction loudly (stage
    * deleted, original untouched) instead of being silently dropped.
    *
    * The catalog entry is dropped just before the swap. A crash from
    * there until the re-CREATE leaves the data durable (at `path` or,
    * mid-swap, at a [[recoverDir]] name) with no catalog entry:
    * [[registerBucketedTable]] recovers the dir and re-registers it.
    */
  def compactBucketedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, keyCol: String, buckets: Int,
      compression: String = DefaultCompression): Int = {
    import org.apache.spark.sql.functions.{col, greatest, lit}
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpTbl = s"${table}_compact_tmp"
    val part = spark.catalog.listColumns(table).collect()
      .filter(_.isPartition).map(_.name).headOption
    val schema = spark.table(table).schema
    val schemaDdl = replaceDir(spark, path) { stage =>
      unraced(fs, p) { listing0 =>
        // a plain read of the files: over a bucketed scan the planner
        // drops the bucket-hash repartition below as redundant, then
        // drops the bucketed scan as unneeded, and every task writes
        // every bucket
        val snap = spark.read.schema(schema).parquet(path)
        val newest = part.toSeq.flatMap(c => listing0.map(_._1)
          .collect { case f if f.startsWith(s"$c=") =>
            f.drop(c.length + 1).takeWhile(_ != '/').toLong })
          .maxOption
        val folded = (part, newest) match {
          case (Some(c), Some(n)) => snap.withColumn(c, greatest(col(c), lit(n - 1)))
          case _ => snap
        }
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTbl`")
        folded.repartition(buckets, col(keyCol)).write.mode("overwrite")
          .option("compression", compression)
          .option("path", stage)
          .partitionBy(part.toSeq: _*)
          .bucketBy(buckets, keyCol).sortBy(keyCol)
          .format("parquet")
          .saveAsTable(tmpTbl)
        spark.sql(s"DROP TABLE IF EXISTS `$tmpTbl`")
      }
      // a MANAGED original's files go with this drop — its rows are
      // already durable in the stage
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      schema.toDDL
    }
    // bucket ids live in the file names, so DDL keeps the layout live
    registerBucketedTable(spark, table, path, keyCol, buckets,
      Some(schemaDdl), part)
    dataListing(fs, p).count(_._1.endsWith(".parquet"))
  }

  /** The concurrent-writer backstop of every in-place compaction
    * ([[compact]], [[compactBucketedTable]], `IvfStore.compact`), run
    * inside [[replaceDir]]'s write step: `body` derives the compacted
    * copy from the table at `p` as [[dataListing]] lists it (passed in)
    * and, if the listing changed by the time `body` returns, an append
    * raced the compaction and the swap would delete its files, so this
    * throws (the stage is deleted, the original untouched).
    */
  private[graft] def unraced[A](fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path)(body: Seq[(String, Long)] => A): A = {
    val before = dataListing(fs, p)
    val out = body(before)
    if (dataListing(fs, p) != before)
      throw new IllegalStateException(
        s"compact: $p changed while the compacted copy was being " +
          "written (a concurrent append?) — aborting with the original " +
          "table untouched; quiesce writers and re-run")
    out
  }

  /** Sorted (path relative to `p`, length) of the data files under `p`,
    * partition dirs included — the fingerprint [[unraced]] compares to
    * detect a writer that raced a compaction.
    */
  private def dataListing(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[(String, Long)] = {
    def walk(d: org.apache.hadoop.fs.Path, rel: String): Seq[(String, Long)] =
      fs.listStatus(d).toSeq
        .filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        .flatMap { s =>
          val r = rel + s.getPath.getName
          if (s.isDirectory) walk(s.getPath, s"$r/") else Seq((r, s.getLen))
        }
    if (!fs.exists(p)) Seq.empty else walk(p, "").sortBy(_._1)
  }

  /** (Re-)create the catalog entry for a bucketed EXTERNAL parquet table
    * over files already on disk. This is BOTH the maintenance path for a
    * fresh session whose in-memory catalog forgot the table, AND the
    * crash-recovery path for [[compactBucketedTable]]: the dir is put
    * back with [[recoverDir]] first, so a crash mid-swap needs no manual
    * rename. Schema comes from the files unless supplied (a partition
    * column is part of it). Equivalent manual DDL:
    * {{{
    * CREATE TABLE `t` (<schema>) USING PARQUET [PARTITIONED BY (part)]
    *   CLUSTERED BY (key) SORTED BY (key) INTO n BUCKETS LOCATION 'path'
    * ALTER TABLE `t` RECOVER PARTITIONS  -- partitioned only
    * }}}
    * `keyCol`/`buckets` MUST match the layout the files were written
    * with (bucket ids live in the file names; a wrong declared count
    * mis-routes bucketed reads).
    */
  def registerBucketedTable(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String, keyCol: String, buckets: Int,
      schemaDdl: Option[String] = None,
      partitionCol: Option[String] = None): Unit = {
    recoverDir(spark, path)
    val ddl = schemaDdl.getOrElse(spark.read.parquet(path).schema.toDDL)
    val partitioned = partitionCol.fold("")(c => s"PARTITIONED BY ($c)")
    spark.sql(
      s"""CREATE TABLE `$table` ($ddl) USING PARQUET $partitioned
          CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $buckets BUCKETS
          LOCATION '$path'""")
    if (partitionCol.isDefined)
      spark.sql(s"ALTER TABLE `$table` RECOVER PARTITIONS")
  }

  /** Bucketed managed table: rows are hash-partitioned into `buckets`
    * files per partition ON WRITE, so joins/aggregations between tables
    * bucketed on the same key skip the shuffle entirely — the
    * co-located-join layout for fact-to-fact joins too large to
    * broadcast (BucketSpec pins the no-Exchange plan).
    */
  def bucketedTable(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, compression: String = DefaultCompression): Unit = {
    // With the in-memory catalog the table registration dies with the JVM
    // but its warehouse directory survives; a later session's saveAsTable
    // then refuses with LOCATION_ALREADY_EXISTS. Clear both.
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // saveAsTable lowercases identifiers for the warehouse location; a
    // mixed-case `table` would otherwise delete a nonexistent path and
    // leave the LOCATION_ALREADY_EXISTS failure in place
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      table.toLowerCase(java.util.Locale.ROOT))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .option("compression", compression)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** ORC sink (zlib default) — format parity with the parquet sink so
    * pipelines can target either columnar store.
    */
  def orc(df: DataFrame, path: String, compression: String = "zlib"): Unit =
    df.write.mode("overwrite").option("compression", compression).orc(path)

  /** Z-order (Morton) interleave of two discretized non-negative int
    * columns — `bits` bits each, alternating (a even positions, b odd).
    * Pure bit-op column expressions, fully codegen'd.
    */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column,
      bits: Int = 10): org.apache.spark.sql.Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(1), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(1), 2 * i + 1))
    }.reduce(_.bitwiseOR(_)).cast("long")

  /** Z-ORDER layout: cluster a table on TWO dimensions at once so
    * row-group min/max stats prune on EITHER predicate — the
    * multi-dimensional data-skipping layout a single-column sort can't
    * give (sorting by a makes b's per-file ranges as wide as the whole
    * table; the space-filling curve keeps BOTH narrow). Each column is
    * min/max-discretized to `bits` bits (one tiny bounds aggregate),
    * rows range-partition on the interleaved Morton value and sort by
    * it within files, so every parquet file covers a compact rectangle
    * of (c1, c2) space. At 100 TB this is the difference between a
    * selective 2-D filter reading a few row groups and reading the
    * corpus; the write costs one exchange, same as any sort.
    */
  def zorderParquet(df: DataFrame, c1: String, c2: String, path: String,
      files: Int = 16, bits: Int = 10,
      compression: String = DefaultCompression): Unit = {
    val b = df.agg(
      min(col(c1)).cast("double").as("lo1"), max(col(c1)).cast("double").as("hi1"),
      min(col(c2)).cast("double").as("lo2"), max(col(c2)).cast("double").as("hi2"))
      .head()
    // an empty table, an all-null column, or a non-numeric column whose
    // cast-to-double nulls out all yields null bounds — fail with the
    // offending column named instead of an NPE from getDouble
    Seq(c1 -> 0, c2 -> 2).foreach { case (c, i) =>
      require(!b.isNullAt(i) && !b.isNullAt(i + 1),
        s"zorder: no numeric min/max bounds for column '$c' " +
          "(empty input, all-null, or non-numeric column?)")
    }
    val (lo1, hi1, lo2, hi2) =
      (b.getDouble(0), b.getDouble(1), b.getDouble(2), b.getDouble(3))
    val m = (1 << bits) - 1
    def disc(c: String, lo: Double, hi: Double) =
      if (hi == lo) lit(0)
      else floor((col(c).cast("double") - lo) * m / (hi - lo)).cast("int")
    df.withColumn("__z", zValue(disc(c1, lo1, hi1), disc(c2, lo2, hi2), bits))
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite")
      .option("compression", compression)
      .parquet(path)
  }

  /** Range-clustered parquet layout: rows repartitioned into contiguous
    * key ranges (Spark's sampling RangePartitioner — one pass + a
    * sample scan) and sorted within each file, so parquet min/max
    * row-group stats prune key-range predicates to the few files whose
    * [lo, hi] overlap. The 1-D complement of [[zorderParquet]] (one hot
    * range dimension vs two), and the layout whose EXACT equi-depth
    * boundary report is q209 — the sampler approximates those
    * boundaries; q209 is the audit that says how well.
    */
  def rangeParquet(df: DataFrame, key: String, tiebreak: String,
      path: String, files: Int = 16,
      compression: String = DefaultCompression): Unit =
    df.repartitionByRange(files, col(key), col(tiebreak))
      .sortWithinPartitions(col(key), col(tiebreak))
      .write.mode("overwrite")
      .option("compression", compression)
      .parquet(path)

  /** All data files under `dir`, RECURSIVELY — partitioned layouts
    * (`shard=N` exports, `batch=N` streaming sinks: the layouts this
    * repo's own sinks produce) keep their parquet files in
    * subdirectories, so a top-level-only listing reports an empty
    * table (fileStats would say totalBytes=0 and compactFiles would
    * collapse a partitioned table into ONE file).
    */
  private def listParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && name.endsWith(".parquet") &&
          !name.startsWith("_") && !name.startsWith("."))
        out += f
    }
    out.result()
  }

  /** Top-level `key=value` partition directory names under `dir`
    * (empty for a flat layout). */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map(_.getPath.getName)

  /** Per-file size stats of a parquet dir — the SMALL-FILES smell
    * check: (n_files, total_bytes, avg_mb, n_under_half_target). At
    * scale, thousands of KB-sized files turn a scan into a
    * task-scheduling and NameNode/listing problem long before it is an
    * IO problem; this is the number that says when [[compactFiles]] is
    * due. Listing is recursive, so partitioned layouts (shard=N,
    * batch=N, ingest_date=D) report their true file population.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, dir: String,
      targetMb: Int = 128): (Long, Long, Double, Long) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listParquetFiles(fs, path)
    val n = files.length.toLong
    val total = files.map(_.getLen).sum
    val avgMb = if (n == 0) 0.0 else total / 1e6 / n
    val small = files.count(_.getLen < targetMb.toLong * 1000000 / 2).toLong
    (n, total, avgMb, small)
  }

  /** Compact a fragmented parquet dir into ~targetMb files, writing to
    * a NEW directory — the read-side sibling of the in-place [[compact]]
    * (use that for a live table you own; use this when the caller wants
    * the original preserved, e.g. compact-while-validating). The file
    * count comes from the ACTUAL on-disk bytes (so compression is
    * already accounted for), and the merge is a `coalesce` — a
    * NO-SHUFFLE narrow dependency that concatenates input partitions,
    * which is what makes compaction affordable at 100 TB (a
    * `repartition` would re-exchange the whole table for nothing).
    * The trade-off — merged files inherit input-partition locality
    * rather than perfect size balance — is the standard one every
    * table-maintenance service makes.
    *
    * PARTITIONED layouts are compacted partition-by-partition: each
    * top-level `key=value` directory coalesces to its OWN byte-derived
    * file count and lands under the same relative path in `outDir`, so
    * the partition layout (and partition pruning, and the batch=N
    * idempotency contracts of the streaming sinks) survives — never
    * the whole table into one giant single-task file.
    * Returns (files_before, files_after).
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetMb: Int = 128,
      compression: String = DefaultCompression): (Long, Long) = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = partitionDirs(fs, path)
    def compactOne(in: String, out: String): (Long, Long) = {
      val (nBefore, totalBytes, _, _) = fileStats(spark, in, targetMb)
      if (nBefore == 0) return (0L, 0L)
      val nAfter = math.max(1L, math.ceil(
        totalBytes.toDouble / (targetMb.toLong * 1000000)).toLong)
      spark.read.parquet(in)
        .coalesce(nAfter.toInt)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(out)
      (nBefore, nAfter)
    }
    if (parts.isEmpty) compactOne(inDir, outDir)
    else {
      // MIXED layout (partition dirs PLUS loose top-level data
      // files): the partition recursion would silently drop the
      // loose files from outDir and from the counts — fail loudly
      // (the in-place compact's require rule) instead of losing data
      val loose = fs.listStatus(path).toSeq.filter { s =>
        val n = s.getPath.getName
        s.isFile && n.endsWith(".parquet") &&
          !n.startsWith("_") && !n.startsWith(".")
      }
      require(loose.isEmpty,
        s"compactFiles: $inDir mixes partition directories " +
          s"(${parts.take(3).mkString(", ")}…) with ${loose.length} " +
          s"top-level data files (${loose.take(3).map(_.getPath.getName)
            .mkString(", ")}…) — a partition-by-partition compaction " +
          "would drop the loose files; clean the layout first")
      parts // recurse: multi-level layouts (date=D/hour=H) keep every level
        .map(p => compactFiles(spark, s"$inDir/$p", s"$outDir/$p",
          targetMb, compression))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    }
  }
}
