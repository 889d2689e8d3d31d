package graft

/** Codegen budgets of the iterative benchmark's queries. Spark's codegen
  * cache holds 100 (class loader, source) keys in 4 segments of 25, so a
  * pass over queries that touch more keys than fit recompiles on every
  * pass. Each query here, run cold against an emptied cache, compiles
  * at most its budget (the count this spec's session measured), and run
  * again, compiles nothing. */
class CodegenBudgetSpec extends SparkSpecBase {

  private val budgets = Seq(
    "q_pagerank_converged" -> 37L, "q_kmeans_converged" -> 21L, "q_bpe_merges" -> 38L)

  private def run(q: String): Unit = CodegenCensus.runQuery(spark, sf, q)

  for ((q, budget) <- budgets)
    test(s"$q: a cold run stays within its codegen budget and a warm run compiles nothing") {
      CodegenCache.clear()
      val cold = CodegenCache.compiles(run(q))
      assert(cold <= budget, s"$q compiled $cold classes cold, over its budget of $budget")
      val warm = CodegenCache.compiles(run(q))
      assert(warm == 0, s"$q compiled $warm classes on a second run")
    }
}
