package graft

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Writers
import graft.llm.{Dedup, PairStore}

/** Persisted pair-table operator: clustering over stored pairs must
  * equal clustering over freshly computed pairs, and incremental appends
  * must pick up cross-batch near-dups without re-shingling the corpus.
  */
class PairStoreSpec extends AnyFunSuite with TestSpark {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  private def mkDocs(rows: Seq[(Long, String)]) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromTuple), 2), schema)

  /** 40 base docs + near-identical variants of the first 5 (the DedupSpec
    * fixture shape: planted pairs have jaccard ~0.95).
    */
  private lazy val corpus = {
    val rng = new scala.util.Random(7)
    val vocab = Vector("spark", "query", "table", "row", "scan", "join",
      "hash", "sort", "data", "batch", "window", "merge", "filter", "agg")
    def text(): String = Seq.fill(60)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, text()))
    val nearDups = base.take(5).map { case (i, t) =>
      (100L + i, t.split(' ').updated(55, "mutated").mkString(" "))
    }
    (base ++ nearDups, mkDocs(base ++ nearDups))
  }

  test("clusters over the persisted table equal clusters over fresh pairs") {
    val dir = Files.createTempDirectory("graft-pairs").toString + "/pairs"
    val (_, docs) = corpus
    PairStore.build(docs, dir, minJaccard = 0.6)
    val stored = PairStore.clusters(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fresh = Dedup.connectedComponents(Dedup.hashJaccardPairs(docs, 0.6))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stored == fresh)
    // the planted pairs genuinely cluster (test isn't vacuous)
    assert((0L until 5L).forall(i => stored.contains((100L + i, i))))
  }

  test("bucketed table: d1-keyed reads start pre-partitioned (no exchange on the stored side)") {
    val tmp = Files.createTempDirectory("graft-pairs-bkt").toString
    val (_, docs) = corpus
    PairStore.buildBucketed(docs, "pairs_bkt", minJaccard = 0.6,
      dir = Some(s"$tmp/pairs_bkt"))
    try {
      val stored = PairStore.bucketedPairs(spark, "pairs_bkt")
      // row set identical to the plain layout
      val expect = Dedup.hashJaccardPairs(docs, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(stored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == expect)
      // a d1-keyed aggregation plans with ZERO shuffles: the catalog's
      // bucket spec satisfies the required ClusteredDistribution
      val agg = stored.groupBy(col("d1")).agg(count(lit(1)).as("n"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"d1 aggregation over the bucketed table shuffled:\n$aggPlan")
      // a self-join on d1 shuffles NEITHER side once the broadcast
      // shortcut is off (at 100 TB the pair table isn't broadcastable —
      // this pins the plan that survives scale: bucketed SMJ, no
      // shuffle exchange on either side)
      val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val selfJoin = stored.as("a").join(stored.as("b"), Seq("d1"))
        selfJoin.collect()
        val joinPlan = selfJoin.queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(!joinPlan.contains("Exchange hashpartitioning"),
          s"d1 self-join over the bucketed table shuffled:\n$joinPlan")
        assert(joinPlan.contains("Bucketed: true"),
          s"bucketed scan not used:\n$joinPlan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      }
      // clusters over the bucketed table == clusters over the plain one
      val viaBucketed = PairStore.clustersBucketed(spark, "pairs_bkt")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaFresh = Dedup.connectedComponents(Dedup.hashJaccardPairs(docs, 0.6))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaBucketed == viaFresh)
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairs_bkt")
    }
  }

  test("appendBucketed grows the catalog table and keeps the exchange-free reads") {
    val tmp = Files.createTempDirectory("graft-pairs-bkt-inc").toString
    val (baseRows, docs) = corpus
    PairStore.buildBucketed(docs, "pairs_bkt_inc", minJaccard = 0.6,
      dir = Some(s"$tmp/pairs_bkt_inc"))
    try {
      // band index for the existing corpus; new batch = near-dup of doc 7
      // plus an intra-batch duplicate pair (the plain-append fixture)
      val bandsDir = s"$tmp/bands"
      Dedup.minhashBands(docs).write.parquet(bandsDir)
      val doc7 = baseRows.find(_._1 == 7L).get._2
      val newBatch = mkDocs(Seq(
        (200L, doc7.split(' ').updated(10, "changed").mkString(" ")),
        (201L, doc7.split(' ').updated(10, "changed").mkString(" "))))
      val allDocs = docs.unionByName(newBatch)
      PairStore.appendBucketed(newBatch, allDocs,
        spark.read.parquet(bandsDir), "pairs_bkt_inc", minJaccard = 0.6)

      // grown store == a fresh full-corpus build, row for row
      val grown = PairStore.bucketedPairs(spark, "pairs_bkt_inc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val fresh = Dedup.hashJaccardPairs(allDocs, 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(grown == fresh)
      assert(grown.contains((7L, 200L)) && grown.contains((200L, 201L)))

      // clusters over the grown table == clusters over fresh pairs
      val viaBucketed = PairStore.clustersBucketed(spark, "pairs_bkt_inc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val viaFresh = Dedup.connectedComponents(Dedup.hashJaccardPairs(allDocs, 0.6))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaBucketed == viaFresh)

      // the appended files went through the bucket hash: d1 reads are
      // STILL exchange-free after growth (the property appendBucketed
      // exists to preserve)
      val agg = PairStore.bucketedPairs(spark, "pairs_bkt_inc")
        .groupBy(col("d1")).agg(count(lit(1)).as("n"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"d1 aggregation shuffled after appendBucketed:\n$aggPlan")

      // bucketed compaction folds the append's small files, preserves
      // the rows AND the exchange-free bucket layout
      val files = PairStore.compactBucketed(spark, "pairs_bkt_inc")
      assert(files <= PairStore.NumBuckets,
        s"compaction left $files files for ${PairStore.NumBuckets} buckets")
      val compacted = PairStore.bucketedPairs(spark, "pairs_bkt_inc")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(compacted == fresh,
        "bucketed compaction changed the pair set")
      val agg2 = PairStore.bucketedPairs(spark, "pairs_bkt_inc")
        .groupBy(col("d1")).agg(count(lit(1)).as("n"))
      agg2.collect()
      val agg2Plan = agg2.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!agg2Plan.contains("Exchange hashpartitioning"),
        s"d1 aggregation shuffled after compactBucketed:\n$agg2Plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairs_bkt_inc")
    }
  }

  test("registerBucketed puts back a pair dir a crashed compaction left " +
      "aside; d1 reads stay exchange-free") {
    val tmp = Files.createTempDirectory("graft-pairs-bkt-rec").toString
    val loc = s"$tmp/pairs_bkt_rec"
    val (_, docs) = corpus
    PairStore.buildBucketed(docs, "pairs_bkt_rec", minJaccard = 0.6,
      dir = Some(loc))
    try {
      PairStore.compactBucketed(spark, "pairs_bkt_rec")
      val before = PairStore.bucketedPairs(spark, "pairs_bkt_rec")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before.nonEmpty)
      // the crash window between the swap's renames: catalog entry
      // dropped, the pairs only under the set-aside name
      spark.sql("DROP TABLE pairs_bkt_rec")
      Files.move(java.nio.file.Paths.get(loc),
        java.nio.file.Paths.get(Writers.swapOld(loc)))
      PairStore.registerBucketed(spark, "pairs_bkt_rec", loc)
      val after = PairStore.bucketedPairs(spark, "pairs_bkt_rec")
      assert(after.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == before)
      val agg = after.groupBy(col("d1")).agg(count(lit(1)).as("n"))
      agg.collect()
      val aggPlan = agg.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"d1 aggregation shuffled after recovery:\n$aggPlan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairs_bkt_rec")
    }
  }

  test("append picks up cross-batch pairs from the band index; compact preserves rows") {
    val tmp = Files.createTempDirectory("graft-pairs-inc").toString
    val dir = s"$tmp/pairs"
    val (baseRows, docs) = corpus
    PairStore.build(docs, dir, minJaccard = 0.6)
    val before = PairStore.pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // persisted band index for the existing corpus (what StreamingDedup
    // maintains); the new batch: a near-dup of doc 7 plus one intra-batch
    // duplicate pair (200, 201)
    val bandsDir = s"$tmp/bands"
    Dedup.minhashBands(docs).write.parquet(bandsDir)
    val doc7 = baseRows.find(_._1 == 7L).get._2
    val newBatch = mkDocs(Seq(
      (200L, doc7.split(' ').updated(10, "changed").mkString(" ")),
      (201L, doc7.split(' ').updated(10, "changed").mkString(" "))))
    val allDocs = docs.unionByName(newBatch)
    PairStore.append(newBatch, allDocs, spark.read.parquet(bandsDir),
      dir, minJaccard = 0.6)

    val after = PairStore.pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(before.subsetOf(after))
    assert(after.contains((7L, 200L)), s"cross-batch pair missed: $after")
    assert(after.contains((200L, 201L)), s"intra-batch pair missed: $after")

    // clusters now merge the new docs into doc 7's component
    val comp = PairStore.clusters(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp(200L) == comp(7L) && comp(201L) == comp(7L))

    // compaction folds the append's small files, preserving the row set
    val files = PairStore.compact(spark, dir, targetMB = 512)
    assert(files == 1)
    val compacted = PairStore.pairs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(compacted == after)
  }

  test("stored-route leakage/retention reports == fresh, exchange-free stored side") {
    val tmp = Files.createTempDirectory("graft-pairs-rep").toString
    val (_, docsNoSrc) = corpus
    // a skewed source split so the reports are non-trivial: the planted
    // near-dup twins land in a DIFFERENT source than their base docs
    val docs = docsNoSrc.withColumn("source",
      when(col("doc_id") >= 100L, lit("crawl2"))
        .otherwise(concat(lit("crawl"), (col("doc_id") % 2).cast("string"))))
    val src = docs.select(col("doc_id"), col("source"))
    PairStore.buildBucketed(docs, "pairs_rep", minJaccard = 0.6,
      dir = Some(s"$tmp/pairs_rep"))
    try {
      PairStore.saveClustersBucketed(spark, "pairs_rep", "clusters_rep",
        dir = Some(s"$tmp/clusters_rep"))
      // stored == fresh, both reports
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toList
      val leakStored = Dedup.crossSourceReport(
        PairStore.bucketedPairs(spark, "pairs_rep"), src)
      val leakFresh = Dedup.crossSourceReport(
        Dedup.hashJaccardPairs(docs, 0.6), src)
      assert(rows(leakStored) == rows(leakFresh))
      assert(leakStored.count() > 0, "leakage report is vacuous")
      val retStored = Dedup.retentionReport(
        PairStore.storedClusters(spark, "clusters_rep"), src)
      val retFresh = Dedup.retentionReport(
        Dedup.connectedComponents(Dedup.hashJaccardPairs(docs, 0.6)), src)
      assert(rows(retStored) == rows(retFresh))
      // crawl2 holds only the 5 planted dups -> retention 0 there
      val ret = retStored.collect()
        .map(r => r.getString(0) -> r.getDouble(3)).toMap
      assert(ret("crawl2") == 0.0, s"$ret")
      // soft-dedup weights through the same stored labels == fresh,
      // and a planted twin pair carries weight 1/2
      val wStored = Dedup.softDedupWeights(
        PairStore.storedClusters(spark, "clusters_rep"),
        docs.select(col("doc_id")))
      val wFresh = Dedup.softDedupWeights(
        Dedup.connectedComponents(Dedup.hashJaccardPairs(docs, 0.6)),
        docs.select(col("doc_id")))
      assert(rows(wStored) == rows(wFresh))
      val w = wStored.collect()
        .map(r => r.getLong(0) -> r.getDouble(3)).toMap
      assert(w(100L) == 0.5, s"planted twin weight: ${w(100L)}")
      // plan pin: the STORED side never re-shuffles — the d1 join key
      // matches the pair table's bucket spec and the node filter/join
      // matches the cluster table's, so both plans read "Bucketed: true"
      // and place no Exchange above the stored scans (counted: every
      // hash exchange in the plan belongs to the corpus projection or
      // the pair-sized mid-join/aggregate, never the bucketed relation)
      val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val leakPlan = Dedup.crossSourceReport(
            PairStore.bucketedPairs(spark, "pairs_rep"), src)
          .queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(leakPlan.contains("Bucketed: true"),
          s"stored pair scan not bucketed:\n$leakPlan")
        val retPlan = Dedup.retentionReport(
            PairStore.storedClusters(spark, "clusters_rep"), src)
          .queryExecution.executedPlan.toString
          .split("== Initial Plan ==").head
        assert(retPlan.contains("Bucketed: true"),
          s"stored cluster scan not bucketed:\n$retPlan")
        // the retention join keys on doc_id=node: stored side satisfies
        // the distribution from its buckets, so the plan has exactly two
        // hash exchanges — the corpus projection into the join and the
        // final |sources|-key aggregate — and NONE over the stored scan
        val retEx = "Exchange hashpartitioning".r
          .findAllIn(retPlan).length
        assert(retEx == 2,
          s"expected 2 exchanges (corpus side + final agg), got $retEx:\n$retPlan")
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairs_rep")
      spark.sql("DROP TABLE IF EXISTS clusters_rep")
    }
  }

  test("stored-route threshold sweep == fresh, no shingle-index join on the stored side") {
    val tmp = Files.createTempDirectory("graft-pairs-swp").toString
    val (_, docs) = corpus
    // store built at the sweep's loosest threshold (0.5) — the q135
    // contract: one pair-graph build serves every tighter threshold
    PairStore.buildBucketed(docs, "pairs_swp", minJaccard = 0.5,
      dir = Some(s"$tmp/pairs_swp"))
    try {
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toList
      val stored = PairStore.thresholdSweepBucketed(spark, "pairs_swp")
      val fresh = Dedup.thresholdSweep(Dedup.hashJaccardPairs(docs, 0.5))
      assert(rows(stored) == rows(fresh))
      // non-vacuous: the planted ~0.95-jaccard twins survive the 0.9 bar
      val at09 = stored.collect().find(_.getDouble(0) == 0.9).get
      assert(at09.getLong(1) >= 5L, s"sweep row at 0.9: $at09")
      // plan pin: calibration over the store is an INDEX READ — the
      // expensive fresh-route shape (shingle-index SortMergeJoin
      // self-join) must be absent; what remains is the stored scan, the
      // broadcast 5-row threshold fan-out, and <= 5-key aggregates
      val storedPlan = stored.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(!storedPlan.contains("SortMergeJoin"),
        s"stored sweep re-derives the pair graph:\n$storedPlan")
      assert(storedPlan.contains("BroadcastNestedLoopJoin"),
        s"threshold fan-out not broadcast:\n$storedPlan")
      val freshPlan = fresh.queryExecution.executedPlan.toString
      assert(freshPlan.contains("SortMergeJoin"),
        "fresh plan lost its index self-join — pin is stale")
    } finally {
      spark.sql("DROP TABLE IF EXISTS pairs_swp")
    }
  }
}
