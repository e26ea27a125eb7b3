package perfbench

/** The batch workload, one client: one cycle of a `Pipeline.run` followed
  * by one pass of the query mix, in a JVM whose set-up only warmed the
  * session, as a batch job meets them. A traced run makes three cycles:
  * that untraced one, then a traced one and an untraced one, so that the
  * last two compare tracing on and off at the same warmth. */
object BatchCycle {
  def run(ctx: Ctx): Map[String, Any] = {
    val runs = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    val cycles = if (ctx.trace) 3 else 1
    val csvBytes = EtlFlagship.withServer(ctx.work) { cfg =>
      (0 until cycles).foreach { i =>
        val traced = i == 1
        runs += EtlFlagship.once(ctx, cfg, i, traced) + ("cycle" -> i)
        passes += QueryMix.pass(ctx, i, traced) + ("cycle" -> i)
      }
    }
    Map("csv_bytes" -> csvBytes, "runs" -> runs.result(),
      "passes" -> passes.result()) ++ QueryMix.finish(ctx, cycles)
  }
}
