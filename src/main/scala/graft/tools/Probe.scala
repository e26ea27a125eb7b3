package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}
import graft.core.{RunMetrics, Session}

/** Probe registry queries in Bench's session (`Session.driver(32)`):
  * each query gets one warm-up, then two timed runs that build the
  * query's frame and run it through Bench's noop write, each measured by
  * [[RunMetrics]].
  *
  *   - `time` prints one summary line per run: wall, jobs, stages, tasks,
  *     the union of the job intervals, the no-job remainder (wall − union)
  *     and the shuffle and spill totals.
  *   - `jobs` adds each run's per-job table (interval, stages, tasks,
  *     description). The job count is per run, so AQE's run-to-run
  *     variation shows.
  *   - `plan` adds the formatted plan of the warm-up's frame before it
  *     runs, and the final adaptive plan of each timed run's noop write
  *     after it.
  *
  * Usage: runMain graft.tools.Probe <time|jobs|plan> <sfDir>
  *          <query>[,<query>...|all]
  */
object Probe {
  private val Modes = Set("time", "jobs", "plan")

  def main(args: Array[String]): Unit = {
    val (mode, sfDir, names) = args match {
      case Array(m, sf, qs) if Modes(m) =>
        val all = SparkEntry.queries.keys.toSeq.sorted
        (m, sf, if (qs == "all") all else qs.split(",").toSeq)
      case _ =>
        System.err.println("usage: runMain graft.tools.Probe " +
          "<time|jobs|plan> <sfDir> <query>[,<query>...|all]")
        sys.exit(2)
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(",")}")
      sys.exit(2)
    }
    val spark = Session.driver(32)
    def mb(bytes: Long): Double = bytes / 1e6
    names.foreach { name =>
      // a query may run jobs while it builds its frame (pinned rounds),
      // so every run times building and materializing, as Bench does
      def run(): Unit = Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
      val w0 = System.nanoTime()
      if (mode == "plan") {
        val df = SparkEntry.queries(name)(spark, sfDir)
        println(df.queryExecution.explainString(FormattedMode))
        Bench.materialize(df)
      } else run()
      println(f"[probe] ===== $name warm=${(System.nanoTime() - w0) / 1e9}%.2f s =====")
      for (i <- 1 to 2) {
        val m = RunMetrics.measure(spark)(run())
        println(f"[probe] $name run=$i wall=${m.wall}%.3f s jobs=${m.jobs.size} stages=${m.stages} tasks=${m.tasks} union=${m.union}%.3f s remainder=${m.remainder}%.3f s shuffle_r=${mb(m.shuffleRead)}%.1f MB shuffle_w=${mb(m.shuffleWrite)}%.1f MB spill=${mb(m.memorySpill + m.diskSpill)}%.1f MB peak_exec=${mb(m.peakExecutionMemory)}%.1f MB")
        if (mode == "jobs") m.jobs.foreach { j =>
          println(f"[probe]   job=${j.id}%5d start=+${(j.start - m.jobs.head.start) / 1e3}%7.3f wall=${j.seconds}%7.3f s stages=${j.stages}%3d tasks=${j.tasks}%5d ${j.description.take(80)}")
        }
        if (mode == "plan")
          // the noop write is the newest SQL execution; its description
          // was last updated with AQE's final plan
          spark.sharedState.statusStore.executionsList()
            .maxByOption(_.executionId)
            .foreach(e => println(e.physicalPlanDescription))
      }
    }
    spark.stop()
  }
}
