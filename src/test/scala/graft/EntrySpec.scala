package graft

import org.apache.spark.sql.functions._

/** Driver-contract invariants + plan-shape assertions for the headline
  * queries (the scale properties, not just the answers). */
class EntrySpec extends SparkSpecBase {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle and bench entry refers to a defined query") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
    assert(SparkEntry.benchQueries.forall(SparkEntry.queries.contains))
  }

  test("all queries execute and return rows at sf0.001") {
    val empty = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => SparkEntry.queries(n)(spark, sf).limit(1).count() == 0)
    assert(empty.isEmpty, s"queries with zero rows: $empty")
  }

  test("tpch_q1 pushes the filter into the parquet scan") {
    val plan = SparkEntry.queries("q_tpch_q1")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["))
    assert(plan.contains("l_shipdate"))
  }

  test("dimension joins broadcast the small side") {
    val plan = SparkEntry.queries("q_join_inner")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("select_project prunes columns at the scan") {
    val plan = SparkEntry.queries("q_select_project")(spark, sf)
      .queryExecution.executedPlan.toString
    // scan must read only the 3 projected customer columns
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_acctbal:double>"))
  }

  test("nlargest executes as top-K, not a global sort") {
    val plan = SparkEntry.queries("q_nlargest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("positional-index queries carry no unpartitioned data window") {
    // running ops scan each pinned range partition with a driver-composed
    // carry, and row numbers are positions in those partitions: neither
    // plans a window of any kind
    def plan(q: String) = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
    for (q <- Seq("q_cumsum", "q_shift", "q_pct_change", "q_slice_rows"))
      assert(!plan(q).contains("Window"), s"$q plans a window")
  }
}
