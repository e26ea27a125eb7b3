package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.queries.Q

/** Passes over a fixed set of registry queries, each pass in the seeded
  * order read from `order.txt` (one pass a line). Each query's result is
  * written to parquet under
  * `results/<pass>/<query>`, as a caller keeping its results would; the
  * oracle gate reads the first pass's files after the run. A query
  * without an oracle is run once more after timing, so the gate can check
  * that its result repeats. */
object QueryMix {
  /** The `llm` layer's modules; every other registry module is `queries`. */
  private def llmNames: Set[String] = {
    import graft.llm._
    Seq[Seq[Q]](Dedup.defs, Similarity.defs, TextOps.defs, Curation.defs,
      Fuzzy.defs, QualityClassifier.defs, Pq.defs, Pca.defs,
      Multimodal.defs).flatten.map(_.name).toSet
  }

  private def orders(work: String): Seq[Seq[String]] =
    Files.readAllLines(Paths.get(work, "order.txt")).asScala
      .map(_.trim.split(" ").toSeq).filter(_.nonEmpty).toSeq

  private def exec(ctx: Ctx, name: String, pass: Int): Boolean =
    ctx.op(name) {
      SparkEntry.queries(name)(ctx.spark, s"${ctx.work}/data")
        .write.mode("overwrite").parquet(s"${ctx.work}/results/$pass/$name")
    }.nonEmpty

  /** Pass `p` over the queries, in the seeded order of line `p`. */
  def pass(ctx: Ctx, p: Int, traced: Boolean): Map[String, Any] = {
    val all = orders(ctx.work)
    val order = all(p % all.size)
    val llm = llmNames
    val ps = Clock.nowMs
    def run = order.map { name =>
      val qs = Clock.nowMs
      val ok = ctx.tracer.span(if (llm(name)) "llm" else "queries", name) {
        exec(ctx, name, p)
      }
      Map("name" -> name, "s" -> ctx.elapsedSince(qs), "ok" -> ok)
    }
    val times = if (traced) ctx.traced(run) else run
    Map("wall_s" -> ctx.elapsedSince(ps), "traced" -> traced,
      "queries" -> times, "ok" -> times.forall(_("ok") == true))
  }

  /** After timing: rerun each query without an oracle as pass `p`, and
    * write the oracle SQL of the others for the gate. */
  def finish(ctx: Ctx, p: Int): Map[String, Any] = {
    val names = orders(ctx.work).head.sorted
    val llm = llmNames
    val oracle = SparkEntry.oracleSql
    names.filterNot(oracle.contains).foreach(n => exec(ctx, n, p))
    Files.writeString(Paths.get(ctx.work, "results", "oracle_sql.json"),
      Json.render(names.flatMap(n => oracle.get(n).map(n -> _)).toMap))
    Map("repeat_pass" -> p,
      "layers" -> names.map(n => n -> (if (llm(n)) "llm" else "queries")).toMap)
  }
}
