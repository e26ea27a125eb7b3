package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Registry

/** Every registered query runs end-to-end on sf0.001 (plan resolves,
  * executes, schema materializes). Value correctness is the DuckDB
  * oracle gate's job; this catches analysis/runtime regressions fast.
  */
class QueriesSmokeSpec extends AnyFunSuite with TestSpark {
  private val sf = "/root/testdata/sf0.001"

  Registry.all.foreach { q =>
    test(s"${q.name} executes on sf0.001") {
      val df = q.fn(spark, sf)
      val n = df.count()
      assert(n >= 0)
      assert(df.schema.fields.nonEmpty)
      // registry-wide scale hygiene: no query may plan a true
      // cartesian product — every crossJoin in the repo is against a
      // broadcast bounded artifact (plans as BroadcastNestedLoopJoin),
      // and a CartesianProductExec sneaking in would be corpus² at
      // scale regardless of how fast it runs at sf0.001
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"${q.name} plans a CartesianProduct:\n$plan")
    }
  }

  test("registry wiring: every oracle key has a query") {
    assert(Registry.oracleSql.keySet.subsetOf(Registry.queries.keySet))
  }

  test("grid-cumulative queries window with non-empty partition specs") {
    // q191/q195 run the two-phase block shape: every WindowExec must
    // partition (a near-unique value grid in ONE task is the q159 bug
    // class). Global-window queries (q188's bounded day grid) are
    // bounded by construction and excluded by design.
    for (q <- Seq("q191_gap_percentiles", "q195_winsorize")) {
      val df = Registry.queries(q)(spark, sf)
      df.collect() // materialize the AQE-final plan
      val windows = windowExecs(df.queryExecution)
      assert(windows.nonEmpty, s"$q: no WindowExec seen")
      val bad = windows.filter(_.partitionSpec.isEmpty)
      assert(bad.isEmpty, s"$q has unpartitioned windows: $bad")
    }
  }

  test("q193: supplier cumulative is block-partitioned, never global") {
    // The supplier table scales with SF (~1e9 rows at 100 TB), so the
    // descending cumulative must run the two-phase block shape. The
    // one unpartitioned window allowed is the 256-row block-summary
    // offset pass — distinguished by its input: a supplier-cardinality
    // window would carry l_suppkey, the summary window only (blk, bs).
    val df = Registry.queries("q193_pareto_abc")(spark, sf)
    df.collect()
    val windows = windowExecs(df.queryExecution)
    assert(windows.nonEmpty, "no WindowExec seen")
    val bad = windows.filter(w => w.partitionSpec.isEmpty &&
      w.child.output.exists(_.name.contains("l_suppkey")))
    assert(bad.isEmpty, s"supplier-cardinality unpartitioned window: $bad")
  }

  test("q17/q18 join dimensions via broadcast (no shuffled dim join)") {
    val plan = Registry.queries("q18_multijoin")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"dim join should not SMJ:\n$plan")
  }

  test("q203 TPC-H Q5: region-filtered nation dims broadcast, never cartesian") {
    val df = Registry.queries("q203_tpch_q5")(spark, sf)
    df.collect() // materialize the AQE-final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"nation/region dims must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q5 must stay equi-joined:\n$plan")
  }
}
