package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.{Bench, SparkEntry}
import graft.core.{RunMetrics, Session, Tables}

/** 10x scale rehearsal (dev tool).
  *
  * There is no sf1 in /root/testdata, so this synthesizes one under
  * target/: documents and embeddings are unioned MULT times with ids
  * re-salted by `id + copy * (max_id + 1)` (texts/vectors identical —
  * the prescribed shape: every doc gains MULT-1 exact clones, so the
  * near-dup pair graph grows ~MULT^2 within clone groups, the worst
  * realistic stress for the banded joins), and the 8 relational tables
  * are copied as-is. Then it runs the named registry queries once each
  * and prints one JSON line per query with wall time plus task-metric
  * totals (shuffle bytes, spill, peak task memory) from [[RunMetrics]] —
  * the evidence SCALE.md needs for where the first knee is.
  *
  * Usage: runMain graft.tools.ScaleRehearsal <outDir> <mult>
  *          [unique|rot|rel] <query>...
  *
  * `unique` switches documents to the CLONE-FREE regime: every copy's
  * tokens get a per-copy suffix, so no gram/shingle collides across
  * copies and no exact clone exists — the corpus is mult× more UNIQUE
  * text. Clone mode measures the precollapse win on its worst case;
  * unique mode measures the other regime, where precollapse buys
  * nothing and its md5 pass is pure overhead — both numbers are needed
  * to state which form is the default (SCALE.md).
  *
  * `rot` is the LENGTH-PRESERVING unique regime for the vocabulary
  * operators (q174/q175/q198 — r13 verdict #1): copy c Caesar-shifts
  * the document text by c letters, so the vocabulary grows ~mult× with
  * the ORIGINAL length distribution intact. The `unique` suffixing
  * would lengthen every token past ShortLen, emptying exactly the
  * short-token hub population the per-length-k refinement exists to
  * bound — rot keeps that population scaling with the corpus.
  *
  * `rel` scales LINEITEM instead of documents (the supplier-grid
  * stress for q193's two-phase block cumulative): copies re-salt
  * l_orderkey AND l_suppkey, so the supplier population — the
  * cumulative's input cardinality — grows mult× along with the rows.
  *
  * `ord` scales ORDERS AND CUSTOMER together: copies re-salt
  * o_orderkey, and o_custkey/c_custkey share one stride, so the
  * customer population — the outer-join + per-customer-aggregate axis
  * of q234 (Q13) and the Q22/Q10/Q3 shapes — grows mult× while each
  * customer keeps its original order fan-in.
  *
  * `users` scales the EVENT POPULATION instead of per-user density:
  * copies re-salt user_id AND event_id, so the user count grows mult×
  * while every stream keeps its original length — the OTHER events
  * axis (the default regime densifies streams at constant |users|).
  * The per-user operators (q208/q210/q211 trend family, sessionize,
  * funnel, SCD2) carry state and exchange payloads ∝ |users|; this
  * regime is the one that grows them.
  *
  * `vocab` replaces the document TEXT with synthetic tokens drawn from
  * a generated vocabulary of 20000·mult ids (deterministic splitmix
  * strings, lengths 4–10, so ~29% fall in the short-token regime the
  * per-length-k rule targets). The driver testdata's documents carry a
  * ~24-term vocabulary — fine for corpus-sized operators, useless for
  * stressing VOCABULARY-sized ones (rank, deletion variants, candidate
  * hubs), whose real-world cardinality is 1e5–1e6+. Docs and every
  * non-text column still come from the testdata (mult copies).
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val srcDir = "/root/testdata/sf0.1"
    val outDir = args.headOption.getOrElse("target/scale/sf1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val regime = args.drop(2).headOption
      .filter(Set("unique", "rot", "rel", "vocab", "users", "part", "ord"))
      .getOrElse("clone")
    val unique = regime == "unique"
    val rest =
      if (regime != "clone") args.drop(3).toSeq else args.drop(2).toSeq
    val names =
      if (rest.nonEmpty) rest
      else Seq("q32_ngram_jaccard", "q56_dedup_groups", "q61_corpus_curation",
        "q71_minhash_lsh_md5", "q74_dedup_groups_star")

    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")

    val marker = Paths.get(outDir, "_SCALE_READY")
    if (!Files.exists(marker)) {
      Files.createDirectories(Paths.get(outDir))
      val scaledRel: Set[String] = regime match {
        case "rel"  => Set("lineitem")
        case "part" => Set("part")
        case "ord"  => Set("orders", "customer")
        case _      => Set.empty
      }
      for (t <- Tables.all
          if t != "documents" && t != "embeddings" && t != "events" &&
            !scaledRel(t))
        Files.copy(Paths.get(srcDir, s"$t.parquet"),
          Paths.get(outDir, s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
      // rel regime: lineitem copies re-salt BOTH the row id and the
      // supplier key — q193's cumulative runs over suppliers, so the
      // stress must grow that population, not just the fact rows
      if (regime == "rel") {
        val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
        val oStride = li.agg(max(col("l_orderkey"))).head.getLong(0) + 1L
        val sStride = li.agg(max(col("l_suppkey"))).head.getLong(0) + 1L
        li.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn("l_orderkey", col("l_orderkey") + col("copy") * lit(oStride))
          .withColumn("l_suppkey", col("l_suppkey") + col("copy") * lit(sStride))
          .drop("copy")
          .repartition(32, col("l_orderkey"))
          .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
      }
      // ord regime: orders and customer grow together — one shared
      // custkey stride keeps every salted order pointing at its
      // copy's salted customer, so per-customer fan-in is preserved
      // while the customer population (the q234/Q22/Q10 exchange and
      // aggregate cardinality) grows mult×.
      if (regime == "ord") {
        val o = spark.read.parquet(s"$srcDir/orders.parquet")
        val c = spark.read.parquet(s"$srcDir/customer.parquet")
        val oStride = o.agg(max(col("o_orderkey"))).head.getLong(0) + 1L
        val cStride = c.agg(max(col("c_custkey"))).head.getLong(0) + 1L
        o.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn("o_orderkey",
            col("o_orderkey") + col("copy") * lit(oStride))
          .withColumn("o_custkey",
            col("o_custkey") + col("copy") * lit(cStride))
          .drop("copy")
          .repartition(32, col("o_orderkey"))
          .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
        c.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn("c_custkey",
            col("c_custkey") + col("copy") * lit(cStride))
          .drop("copy")
          .repartition(32, col("c_custkey"))
          .write.mode("overwrite").parquet(s"$outDir/customer.parquet")
      }
      // part regime: mult× the part population with per-copy cent
      // offsets, so the skyline's per-(brand, cents) grid — the
      // two-phase cumulative's input cardinality — grows ~mult× while
      // the value RANGE stays put (finer grid, fatter 256-blocks: the
      // q217 stress axis).
      if (regime == "part") {
        val p = spark.read.parquet(s"$srcDir/part.parquet")
        val stride = p.agg(max(col("p_partkey"))).head.getLong(0) + 1L
        p.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn("p_partkey", col("p_partkey") + col("copy") * lit(stride))
          .withColumn("p_retailprice",
            col("p_retailprice") + col("copy") * lit(0.01))
          .drop("copy")
          .repartition(32, col("p_partkey"))
          .write.mode("overwrite").parquet(s"$outDir/part.parquet")
      }
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      def rotAlpha(k: Int): String = {
        val s = k % 26
        alpha.drop(s) + alpha.take(s)
      }
      for ((t, idCol) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
        val df = spark.read.parquet(s"$srcDir/$t.parquet")
        val stride = df.agg(max(col(idCol))).head.getLong(0) + 1L
        val copies = df.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn(idCol, col(idCol) + col("copy") * lit(stride))
        val salted =
          if (unique && t == "documents")
            // clone-free regime: suffix every token with the copy id so
            // no gram/shingle/fingerprint collides across copies —
            // mult× more UNIQUE text, zero cross-copy duplication
            copies.withColumn("text",
              concat_ws(" ", transform(split(col("text"), "\\s+"),
                tk => concat(tk, lit("x"), col("copy")))))
          else if (regime == "rot" && t == "documents")
            // length-preserving unique regime: copy c is a Caesar shift
            // by c, so the vocabulary grows ~mult× while every token
            // keeps its length (short-token hubs scale realistically)
            copies.withColumn("text",
              (1 until mult).foldLeft(
                when(col("copy") === 0, col("text"))) { (acc, c) =>
                acc.when(col("copy") === c,
                  translate(col("text"), alpha, rotAlpha(c)))
              })
          else if (regime == "vocab" && t == "documents") {
            // synthetic 20000·mult-id vocabulary: every doc draws 40
            // uniform token ids; a token renders as 4–10 base-26 chars
            // of per-position splitmix hashes (deterministic — no RNG
            // state, same string for the same id on any engine). ~2/7
            // of ids land in the short (4–5 char) regime, so the
            // candidate-hub population scales with the vocabulary.
            val v = lit(20000L * mult)
            val text = concat_ws(" ",
              transform(sequence(lit(0L), lit(39L)), i => {
                val tid = pmod(xxhash64(concat(
                  col(idCol).cast("string"), lit("#"), i.cast("string"))), v)
                val mixBase = concat(tid.cast("string"), lit(":"))
                val len =
                  pmod(xxhash64(concat(mixBase, lit("len"))), lit(7L)) +
                    lit(4L)
                concat_ws("", transform(sequence(lit(1L), len), j =>
                  lit(alpha).substr(
                    (pmod(xxhash64(concat(mixBase, j.cast("string"))),
                      lit(26L)) + lit(1L)).cast("int"),
                    lit(1))))
              }))
            copies.withColumn("text", text)
          }
          else copies
        salted
          .drop("copy")
          // Spread clone groups across input splits so the scan itself
          // isn't pathologically clustered by copy.
          .repartition(32, col(idCol))
          .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      }
      // events scale DIFFERENTLY from the id-salted tables: the stress
      // the windows/funnel/sessionize family needs is MORE EVENTS PER
      // USER (fatter window partitions), so copies keep user_id and
      // re-salt event_id + shift ts by `copy` seconds — each user's
      // stream gets mult× denser, which is the worst case for every
      // per-user window/state operator.
      locally {
        val ev = spark.read.parquet(s"$srcDir/events.parquet")
        val stride = ev.agg(max(col("event_id"))).head.getLong(0) + 1L
        val uStride =
          if (regime == "users")
            ev.agg(max(col("user_id"))).head.getLong(0) + 1L
          else 0L
        ev.crossJoin(spark.range(mult).toDF("copy"))
          .withColumn("event_id", col("event_id") + col("copy") * lit(stride))
          // users regime: mult× the POPULATION at original density
          .withColumn("user_id",
            if (regime == "users")
              col("user_id") + col("copy") * lit(uStride)
            else col("user_id"))
          // shift each copy by `copy` seconds; ts may surface as LONG
          // nanos (nanosAsLong) or as a timestamp depending on session
          .withColumn("ts",
            if (ev.schema("ts").dataType ==
                org.apache.spark.sql.types.LongType)
              col("ts") + col("copy") * lit(1000000000L)
            else expr("timestampadd(SECOND, copy, ts)"))
          .drop("copy")
          .repartition(32, col("event_id"))
          .write.mode("overwrite").parquet(s"$outDir/events.parquet")
      }
      Files.createFile(marker)
      println(s"[scale] built $outDir at mult=$mult regime=$regime")
    } else println(s"[scale] reusing $outDir")

    names.foreach { name =>
      val m = RunMetrics.measure(spark)(
        Bench.materialize(SparkEntry.queries(name)(spark, outDir)))
      def mb(bytes: Long) = bytes / 1e6
      println(f"""[scale] {"query":"$name","sec":${m.wall}%.2f,"shuffle_read_mb":${mb(m.shuffleRead)}%.1f,"shuffle_write_mb":${mb(m.shuffleWrite)}%.1f,"mem_spill_mb":${mb(m.memorySpill)}%.1f,"disk_spill_mb":${mb(m.diskSpill)}%.1f,"peak_task_mem_mb":${mb(m.peakExecutionMemory)}%.1f}""")
    }
    spark.stop()
  }
}
