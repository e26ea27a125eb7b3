package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{Profiler, Readers, SchemaOptimizer, Writers}

/** OP-04 null normalization, OP-10 regex drop, OP-14/15 quarantine
  * invariants, OP-16 guarded casts, OP-25 date parse, profiler sanity.
  */
class EtlSpec extends AnyFunSuite with TestSpark {
  import org.apache.spark.sql.Row

  private def df(schema: StructType, rows: Row*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 2), schema)

  private val strSchema = StructType(Seq(
    StructField("a", StringType), StructField("b", StringType)))

  test("OP-04: multi-token null markers become SQL NULL; idempotent") {
    val in = df(strSchema,
      Row("x", "null"), Row("", "None"), Row("NULL", "keep"), Row(null, "y"))
    val once = Readers.normalizeAllNullMarkers(in)
    assert(once.filter(col("a").isNull).count() == 3)
    assert(once.filter(col("b").isNull).count() == 2)
    assert(once.filter(col("b") === "keep").count() == 1)
    val twice = Readers.normalizeAllNullMarkers(once)
    assert(twice.collect().toSet == once.collect().toSet)
  }

  test("OP-04: csv reader round-trips and nulls markers") {
    val dir = Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "t.csv")
    val w = new java.io.PrintWriter(f)
    w.println("name,qty"); w.println("alpha,1"); w.println("null,2")
    w.println("None,3"); w.println(",4"); w.close()
    val out = Readers.csv(spark, f.getAbsolutePath)
    assert(out.count() == 4)
    assert(out.filter(col("name").isNull).count() == 3)
    assert(out.schema("qty").dataType == IntegerType) // inferred
  }

  test("OP-10: regex column drop mirrors the 40->27 _ar exclusion") {
    val cols = (1 to 5).map(i => s"c$i") ++ (1 to 3).map(i => s"c${i}_ar")
    val schema = StructType(cols.map(StructField(_, StringType)))
    val in = df(schema, Row(Seq.fill(8)("v"): _*))
    val out = SchemaOptimizer.dropColumnsMatching(in, ".*_ar$")
    assert(out.columns.toSeq == (1 to 5).map(i => s"c$i"))
  }

  test("OP-14/15: quarantine split is an exact partition of the input") {
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("w", LongType)))
    val rows = (-100L to 100L).map(i => Row(i * 50, i)) :+
      Row(null, 5L) :+ Row(7L, null)
    val in = df(schema, rows: _*)
    val bounds = Seq(SchemaOptimizer.Bounds("v", -1000, 1000),
      SchemaOptimizer.Bounds("w", -50, 50))
    val (kept, quarantined) = SchemaOptimizer.quarantineSplit(in, bounds)
    assert(kept.count() + quarantined.count() == in.count())
    // every quarantined row violates some bound (non-null out-of-range)
    val violators = quarantined.filter(
      (col("v").isNotNull && !col("v").between(-1000, 1000)) ||
        (col("w").isNotNull && !col("w").between(-50, 50)))
    assert(violators.count() == quarantined.count())
    // nulls are kept, not quarantined
    assert(kept.filter(col("v").isNull || col("w").isNull).count() == 2)
  }

  test("OP-16: guarded cast nulls out-of-range instead of overflowing") {
    val schema = StructType(Seq(StructField("v", LongType)))
    val in = df(schema, Row(100L), Row(200L), Row(40000L), Row(null))
    val out = in.select(
      SchemaOptimizer.guardedCast(col("v"), 0, 127, ShortType).as("s"))
    val got = out.collect().map(r => if (r.isNullAt(0)) None else Some(r.getShort(0)))
    assert(got.toSet == Set(Some(100.toShort), None))
    assert(got.count(_.isEmpty) == 3)
  }

  test("OP-25: non-strict date parse nulls failures, keeps valid") {
    val schema = StructType(Seq(StructField("d", StringType)))
    val in = df(schema, Row("2024-01-05"), Row("garbage"), Row(null))
    val out = SchemaOptimizer.parseDates(in, Seq("d"))
    assert(out.schema("d").dataType == DateType)
    assert(out.filter(col("d").isNotNull).count() == 1)
  }

  test("OP-18/19/33: profiler computes min/max, ratio, extrapolated bytes") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType)))
    val rows = (1L to 1000L).map(i => Row(i, s"g${i % 4}"))
    val in = df(schema, rows: _*)
    val prof = Profiler.profile(in, sampleRows = 1000)
    val id = prof.find(_.name == "id").get
    assert(id.min.contains(1.0) && id.max.contains(1000.0))
    assert(id.estTotalBytes == 8.0 * 1000)
    val cat = prof.find(_.name == "cat").get
    assert(cat.distinctRatio.exists(r => r > 0.003 && r < 0.005)) // 4/1000
    assert(cat.min.isEmpty)
    // HLL mode runs and lands in the same ballpark
    val approx = Profiler.profile(in, sampleRows = 1000, approxDistinct = true)
    val aid = approx.find(_.name == "id").get
    assert(aid.distinctRatio.exists(r => r > 0.8 && r < 1.2))
  }

  test("pipeline golden: CSV -> optimize -> parquet shrinks like the reference") {
    // Mirrors the reference's flagship result (4.2 GiB CSV -> 127 MiB
    // brotli parquet, ~33x): low-cardinality strings + dates + small
    // ints compress away under dictionary encoding + downcasts. We pin a
    // conservative directional bar (>=5x) on a synthetic sample.
    val dir = Files.createTempDirectory("graft-golden").toFile
    val csvFile = new java.io.File(dir, "rent.csv")
    val w = new java.io.PrintWriter(csvFile)
    w.println("contract_id,area_name,area_name_ar,contract_start_date,annual_amount,is_free_hold")
    val areas = Seq("marina", "downtown", "jlt", "deira")
    (0 until 20000).foreach { i =>
      val d = f"2023-${i % 12 + 1}%02d-${i % 28 + 1}%02d"
      w.println(s"C$i,${areas(i % 4)},x${areas(i % 4)},$d,${1000 + i % 500},${i % 2}")
    }
    w.close()
    val csvBytes = csvFile.length()

    val raw = Readers.csv(spark, csvFile.getAbsolutePath)
    val (optimized, quarantined) = SchemaOptimizer.optimize(
      raw, dateCols = Seq("contract_start_date"), sampleRows = 20000)
    assert(!optimized.columns.contains("area_name_ar"))
    assert(optimized.schema("contract_start_date").dataType == DateType)
    assert(optimized.count() + quarantined.count() == 20000)

    val outDir = new java.io.File(dir, "opt")
    graft.etl.Writers.parquet(optimized, outDir.getAbsolutePath)
    val parquetBytes = outDir.listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    assert(parquetBytes > 0)
    assert(parquetBytes * 5 < csvBytes,
      s"expected >=5x compression, got csv=$csvBytes parquet=$parquetBytes")
  }

  test("optimize: end-to-end downcast + quarantine on a mixed table") {
    val schema = StructType(Seq(
      StructField("small", LongType), StructField("big", LongType),
      StructField("name_ar", StringType), StructField("name", StringType)))
    val rows = (1L to 500L).map(i => Row(i % 100, i * 10000000000L, "x", "y"))
    val in = df(schema, rows: _*)
    val (opt, quar) = SchemaOptimizer.optimize(in, sampleRows = 500)
    assert(!opt.columns.contains("name_ar"))
    assert(opt.schema("small").dataType == ShortType) // 0..99 unsigned rung
    assert(opt.schema("big").dataType == LongType)
    assert(opt.count() + quar.count() == 500)
  }

  test("orc: roundtrip equals parquet source, predicate pushdown reaches the scan") {
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val tmp = Files.createTempDirectory("graft-orc").toString
    Writers.orc(docs, s"$tmp/docs")
    val back = Readers.orc(spark, s"$tmp/docs")
    // format-agnostic: identical rows both ways
    val a = docs.orderBy("doc_id").collect().map(_.toSeq).toList
    val b = back.orderBy("doc_id").collect().map(_.toSeq).toList
    assert(a == b)
    // filters and projection reach the ORC scan, same as parquet
    val plan = back.filter(col("doc_id") > 100L).select("doc_id", "lang")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]"),
      s"no pushdown in ORC scan:\n$plan")
  }

  test("jsonl: explicit schema, malformed line becomes a null row not a failure") {
    val tmp = Files.createTempDirectory("graft-jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "d.jsonl"),
      ("""{"doc_id":1,"text":"alpha"}""" + "\n" +
       """not json at all""" + "\n" +
       """{"doc_id":2,"text":"beta"}""").getBytes)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val rows = Readers.jsonl(spark, tmp, schema)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(rows.contains((Some(1L), Some("alpha"))))
    assert(rows.contains((Some(2L), Some("beta"))))
    assert(rows.exists(r => r._1.isEmpty), "malformed line should yield a null row")
    assert(rows.size == 3)
  }

  test("upsert: latest version wins, delta wins ties, replay is a no-op") {
    val dir = Files.createTempDirectory("graft-upsert").toString + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType)))
    def tbl(rows: (Long, String, Long)*) = df(schema, rows.map(Row.fromTuple): _*)
    // first upsert against a missing table just materializes the delta
    assert(Writers.upsert(spark, dir,
      tbl((1L, "a1", 1L), (2L, "b1", 1L)), Seq("k"), "ver") == 2L)
    // second delta: newer 1, older-duplicate 2 at the SAME version
    // (delta wins the tie), new key 3
    assert(Writers.upsert(spark, dir,
      tbl((1L, "a2", 2L), (2L, "b-tie", 1L), (3L, "c1", 1L)),
      Seq("k"), "ver") == 3L)
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == Set((1L, "a2", 2L), (2L, "b-tie", 1L), (3L, "c1", 1L)),
      s"got $got")
    // a STALE delta row must not resurrect old state
    Writers.upsert(spark, dir, tbl((1L, "a0-stale", 1L)), Seq("k"), "ver")
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(after(1L) == "a2", s"stale delta overwrote: $after")
    // replaying an applied delta changes nothing
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    Writers.upsert(spark, dir,
      tbl((1L, "a2", 2L), (3L, "c1", 1L)), Seq("k"), "ver")
    val replay = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(replay == before, s"replay drifted: $replay vs $before")
  }

  test("upsert crash states: a complete copy survives every interleaving point") {
    // r12 verdict #3: the swap is stage -> rename-aside -> rename-in ->
    // delete-old. Construct each crash window's on-disk state directly
    // and assert recoverDir restores a readable, correct table.
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def tbl(rows: (Long, String)*) = df(schema, rows.map(Row.fromTuple): _*)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def vals(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val v1 = Set(1L -> "old")
    val v2 = Set(1L -> "new", 2L -> "added")

    // state 1: staged tmp written, crash BEFORE the rename-aside —
    // original is the truth, tmp is garbage
    val d1 = Files.createTempDirectory("ups1").toString + "/t"
    tbl(v1.toSeq: _*).write.parquet(d1)
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d1))
    assert(Writers.recoverDir(spark, d1) == "clean")
    assert(vals(d1) == v1)
    assert(!fs.exists(p(Writers.swapTmp(d1))))

    // state 2: crash BETWEEN the renames — no table at dir, but both
    // copies exist; the complete merged copy is promoted
    val d2 = Files.createTempDirectory("ups2").toString + "/t"
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d2))
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d2))
    assert(Writers.recoverDir(spark, d2) == "promoted-tmp")
    assert(vals(d2) == v2)
    assert(!fs.exists(p(Writers.swapOld(d2))) && !fs.exists(p(Writers.swapTmp(d2))))

    // state 3: crash AFTER the rename-in, before the old-copy delete
    val d3 = Files.createTempDirectory("ups3").toString + "/t"
    tbl(v2.toSeq: _*).write.parquet(d3)
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d3))
    assert(Writers.recoverDir(spark, d3) == "clean")
    assert(vals(d3) == v2)
    assert(!fs.exists(p(Writers.swapOld(d3))))

    // state 4: INCOMPLETE stage (no _SUCCESS) + set-aside original —
    // the original is restored, the torn stage discarded
    val d4 = Files.createTempDirectory("ups4").toString + "/t"
    tbl(v1.toSeq: _*).write.parquet(Writers.swapOld(d4))
    tbl(v2.toSeq: _*).write.parquet(Writers.swapTmp(d4))
    fs.delete(p(Writers.swapTmp(d4) + "/_SUCCESS"), false)
    assert(Writers.recoverDir(spark, d4) == "restored-old")
    assert(vals(d4) == v1)

    // and the happy path leaves no leftovers at all
    val d5 = Files.createTempDirectory("ups5").toString + "/t"
    val vschema = StructType(schema.fields :+ StructField("ver", LongType))
    def vtbl(rows: (Long, String, Long)*) =
      df(vschema, rows.map(Row.fromTuple): _*)
    Writers.upsert(spark, d5, vtbl((1L, "old", 1L)), Seq("k"), "ver")
    Writers.upsert(spark, d5, vtbl((1L, "new", 2L), (2L, "added", 1L)),
      Seq("k"), "ver")
    assert(vals(d5) == v2)
    assert(!fs.exists(p(Writers.swapOld(d5))) && !fs.exists(p(Writers.swapTmp(d5))))
  }

  test("partitioned upsert: only touched partitions rewritten; " +
      "untouched partitions byte-identical") {
    val root = Files.createTempDirectory("graft-upsert-part").toString + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType), StructField("dt", StringType)))
    def tbl(rows: (Long, String, Long, String)*) =
      df(schema, rows.map(Row.fromTuple): _*)
    tbl((1L, "a1", 1L, "2024-01-01"), (2L, "b1", 1L, "2024-01-01"),
      (3L, "c1", 1L, "2024-01-02"))
      .write.partitionBy("dt").parquet(root)
    def partFiles(part: String): Map[String, Seq[Byte]] = {
      val d = new java.io.File(s"$root/$part")
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName ->
          java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val before = partFiles("dt=2024-01-01")
    // delta touches ONLY dt=2024-01-02: update key 3, add key 4
    val n = Writers.upsertPartitioned(spark, root,
      tbl((3L, "c2", 2L, "2024-01-02"), (4L, "d1", 1L, "2024-01-02")),
      "dt", Seq("k"), "ver")
    assert(n == 2L)
    // the untouched partition's files are BYTE-identical — never read,
    // never rewritten (the whole point vs the table-wide upsert)
    assert(partFiles("dt=2024-01-01") == before,
      "untouched partition was rewritten")
    val got = spark.read.parquet(root).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.get(3).toString)).toSet
    assert(got == Set((1L, "a1", "2024-01-01"), (2L, "b1", "2024-01-01"),
      (3L, "c2", "2024-01-02"), (4L, "d1", "2024-01-02")), s"got $got")
    // no staging leftovers
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains(".swap-"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    // unsafe partition values are refused loudly, not mangled into dirs
    val err = intercept[IllegalArgumentException] {
      Writers.upsertPartitioned(spark, root,
        tbl((9L, "x", 1L, "2024/01/03")), "dt", Seq("k"), "ver")
    }
    assert(err.getMessage.contains("safe"))
  }

  test("partitioned upsert crash states: hidden staging invisible to " +
      "readers, per-partition recovery") {
    val root = Files.createTempDirectory("graft-upsert-pcrash")
      .toString + "/t"
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def tbl(rows: (Long, String)*) = df(schema, rows.map(Row.fromTuple): _*)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    tbl(1L -> "a-old").write.parquet(s"$root/dt=a")
    tbl(2L -> "b-old").write.parquet(s"$root/dt=b")

    // state 1: stage written for dt=a, crash BEFORE the rename-aside.
    // A concurrent reader of the WHOLE table must not see the staged
    // copy (dot-prefixed dirs are skipped by the file index).
    tbl(1L -> "a-new").write.parquet(Writers.swapTmp(s"$root/dt=a"))
    assert(spark.read.parquet(root).count() == 2,
      "reader saw the hidden staged copy")
    assert(Writers.upsertRecoverPartitions(spark, root) ==
      Map("dt=a" -> "clean"))
    assert(!fs.exists(p(Writers.swapTmp(s"$root/dt=a"))))

    // state 2: crash BETWEEN the renames on dt=a — partition dir gone,
    // both copies hidden; dt=b untouched and still readable
    fs.rename(p(s"$root/dt=a"), p(Writers.swapOld(s"$root/dt=a")))
    tbl(1L -> "a-new").write.parquet(Writers.swapTmp(s"$root/dt=a"))
    assert(spark.read.parquet(s"$root/dt=b").count() == 1)
    assert(Writers.upsertRecoverPartitions(spark, root) ==
      Map("dt=a" -> "promoted-tmp"))
    val gotA = spark.read.parquet(s"$root/dt=a").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotA == Set(1L -> "a-new"))

    // state 3: TORN stage (no _SUCCESS) + set-aside original on dt=b
    fs.rename(p(s"$root/dt=b"), p(Writers.swapOld(s"$root/dt=b")))
    tbl(2L -> "b-new").write.parquet(Writers.swapTmp(s"$root/dt=b"))
    fs.delete(p(Writers.swapTmp(s"$root/dt=b") + "/_SUCCESS"), false)
    assert(Writers.upsertRecoverPartitions(spark, root) ==
      Map("dt=b" -> "restored-old"))
    val gotB = spark.read.parquet(s"$root/dt=b").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotB == Set(2L -> "b-old"))

    // clean table: nothing to do
    assert(Writers.upsertRecoverPartitions(spark, root).isEmpty)
  }

  test("compactRecover: the in-place compact's crash windows restore") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType)))
    def tbl(rows: (Long, String)*) = df(schema, rows.map(Row.fromTuple): _*)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def vals(d: String) = spark.read.parquet(d).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val data = Set(1L -> "x", 2L -> "y")

    // between the renames: only the set-aside copy + the stage exist
    val d1 = Files.createTempDirectory("cmp1").toString + "/t"
    tbl(data.toSeq: _*).write.parquet(Writers.swapOld(d1))
    tbl(data.toSeq: _*).write.parquet(Writers.swapTmp(d1))
    assert(Writers.recoverDir(spark, d1) == "promoted-tmp")
    assert(vals(d1) == data)
    assert(!fs.exists(p(Writers.swapOld(d1))))

    // torn compacted copy: original restored
    val d2 = Files.createTempDirectory("cmp2").toString + "/t"
    tbl(data.toSeq: _*).write.parquet(Writers.swapOld(d2))
    tbl(data.toSeq: _*).write.parquet(Writers.swapTmp(d2))
    fs.delete(p(Writers.swapTmp(d2) + "/_SUCCESS"), false)
    assert(Writers.recoverDir(spark, d2) == "restored-old")
    assert(vals(d2) == data)

    // and a healthy compact leaves a recoverable marker trail: the
    // stamped _SUCCESS means a crash right before the swap would have
    // promoted, not discarded, the compacted copy
    val d3 = Files.createTempDirectory("cmp3").toString + "/t"
    tbl(data.toSeq: _*).repartition(4).write.parquet(d3)
    Writers.compact(spark, d3)
    assert(vals(d3) == data)
    assert(Writers.recoverDir(spark, d3) == "clean")
  }

  test("compactFiles refuses a MIXED layout (partition dirs + loose " +
      "top-level files) instead of dropping the loose files") {
    val in = Files.createTempDirectory("graft-mixed-in").toString
    val out = Files.createTempDirectory("graft-mixed-out").toString + "/t"
    spark.range(100).select(col("id"))
      .write.parquet(s"$in/shard=0")
    // plant a loose top-level data file beside the partition dir
    val loose = new java.io.File(in, "part-loose.parquet")
    val src = new java.io.File(s"$in/shard=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath, loose.toPath)
    val err = intercept[IllegalArgumentException] {
      Writers.compactFiles(spark, in, out)
    }
    assert(err.getMessage.contains("mixes"), err.getMessage)
  }

  test("fileStats/compactFiles on a partitioned layout: recursive, layout kept") {
    // ADVICE r12 (medium): top-level-only listing reported 0 bytes on
    // shard=N / batch=N layouts and compactFiles flattened them into
    // one file. Stats must see through partition dirs; compaction must
    // preserve them.
    val in = Files.createTempDirectory("graft-part-in").toString
    val out = Files.createTempDirectory("graft-part-out").toString + "/t"
    spark.range(4000)
      .select(col("id"), (col("id") % 4).cast("int").as("shard"))
      .repartition(10) // ~10 files per partition — fragmented
      .write.mode("overwrite").partitionBy("shard").parquet(in)
    val (n0, bytes0, _, _) = Writers.fileStats(spark, in)
    assert(n0 >= 40 && bytes0 > 0, s"recursive stats broken: ($n0, $bytes0)")
    val (before, after) = Writers.compactFiles(spark, in, out)
    assert(before == n0 && after == 4, s"($before, $after)")
    // layout preserved: one shard=N dir each, partition pruning intact
    val kept = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(kept == Set("shard=0", "shard=1", "shard=2", "shard=3"), s"$kept")
    val got = spark.read.parquet(out)
      .groupBy(col("shard")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(0 -> 1000L, 1 -> 1000L, 2 -> 1000L, 3 -> 1000L), s"$got")
    // in-place compact refuses a partitioned dir instead of flattening
    val err = intercept[IllegalArgumentException](Writers.compact(spark, in))
    assert(err.getMessage.contains("compactFiles"))
  }

  test("small-files compaction: fragmented dir merges, data intact, stats report") {
    import org.apache.spark.sql.functions._
    val in = java.nio.file.Files.createTempDirectory("graft-frag").toString
    val out = java.nio.file.Files.createTempDirectory("graft-comp").toString
    spark.range(10000).select(col("id"), (col("id") * 7).as("v"))
      .repartition(40) // 40 tiny files — the small-files smell
      .write.mode("overwrite").parquet(in)
    val (n0, bytes0, avg0, small0) = graft.etl.Writers.fileStats(spark, in)
    assert(n0 == 40 && small0 == 40 && avg0 < 1.0, s"($n0, $bytes0, $avg0, $small0)")
    val (before, after) = graft.etl.Writers.compactFiles(spark, in, out)
    assert(before == 40 && after == 1, s"($before, $after)")
    val (n1, bytes1, _, _) = graft.etl.Writers.fileStats(spark, out)
    assert(n1 == 1, s"files after: $n1")
    // every row survives, values intact
    assert(spark.read.parquet(out).agg(count(lit(1)), sum(col("v")))
      .head.toSeq == Seq(10000L, (0L until 10000L).map(_ * 7).sum))
  }

  test("hrw shard: minimal disruption growing 16 -> 20, deterministic") {
    import org.apache.spark.sql.functions._
    val ids = spark.range(4000).select(col("id").as("doc_id"))
    val a = ids.select(col("doc_id"),
      Writers.hrwShard(col("doc_id"), 16).as("s16"),
      Writers.hrwShard(col("doc_id"), 20).as("s20")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    // assignments in range, reasonably spread
    assert(a.forall { case (_, s16, s20) =>
      s16 >= 0 && s16 < 16 && s20 >= 0 && s20 < 20 })
    assert(a.map(_._2).distinct.length == 16 &&
      a.map(_._3).distinct.length == 20)
    // THE rendezvous invariant: a row moves only INTO a new shard —
    // surviving shards never exchange rows (mod-hash fails this hard)
    val moved = a.filter { case (_, s16, s20) => s16 != s20 }
    assert(moved.forall(_._3 >= 16),
      s"moved row landed in a surviving shard: ${moved.find(_._3 < 16)}")
    // expected movement = 4/20 = 20%; allow generous slack
    val frac = moved.length.toDouble / a.length
    assert(frac > 0.12 && frac < 0.28, s"moved fraction $frac")
    // pure function of (id, n): a re-run is identical
    val b = ids.select(Writers.hrwShard(col("doc_id"), 20).as("s"))
      .collect().map(_.getInt(0))
    assert(b.toSeq == a.map(_._3).toSeq)
  }
}
