package graft

/** Codegen budgets of the benchmark's queries. Spark's codegen cache
  * holds 100 (class loader, source) keys in 4 segments of 25, so a pass
  * over queries that touch more keys than fit recompiles on every pass.
  * Each query here, run cold against an emptied cache, compiles at most
  * its budget (the count this spec's session measured). A query whose
  * budget fits the cache's segments with near certainty, run again,
  * compiles nothing; above [[warmFit]] keys, the keys of one segment
  * overflow it in a share of JVMs (about 4% at 69 keys and half at 96,
  * as the segment a key lands in depends on its class loader's identity
  * hash), so such a query is held to its cold budget only. */
class CodegenBudgetSpec extends SparkSpecBase {

  private val budgets = Seq(
    "q_pagerank_converged" -> 37L, "q_kmeans_converged" -> 13L, "q_bpe_merges" -> 30L,
    "q_dedup_union" -> 51L, "q_dedup_cluster" -> 59L)

  private val warmFit = 50L

  private def run(q: String): Unit = CodegenCensus.runQuery(spark, sf, q)

  for ((q, budget) <- budgets) {
    val warm = budget <= warmFit
    test(s"$q: a cold run stays within its codegen budget" +
        (if (warm) " and a warm run compiles nothing" else "")) {
      CodegenCache.clear()
      val cold = CodegenCache.compiles(run(q))
      assert(cold <= budget, s"$q compiled $cold classes cold, over its budget of $budget")
      if (warm) {
        val compiled = CodegenCache.compiles(run(q))
        assert(compiled == 0, s"$q compiled $compiled classes on a second run")
      }
    }
  }
}
