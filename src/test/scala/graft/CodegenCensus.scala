package graft

import org.apache.spark.sql.SparkSession

/** Codegen key census: how many (class loader, source) keys each query
  * of a workload touches in Spark's codegen cache, split into driver
  * and executor keys, and how many distinct keys a whole pass touches.
  * Per query and per pass it also prints the number of distinct
  * generated sources, and how many of them are compiled under both the
  * driver's loader and an executor's (a whole-stage class is compiled
  * once per loader): that duplication is the floor of what cutting
  * sources alone can save.
  *
  *     sbt "Test/runMain graft.CodegenCensus perfbench/fixtures/sf0.01 3 \
  *       q_pagerank_converged q_kmeans_converged q_bpe_merges"
  *
  * Arguments: the tables' directory, the number of census passes, and
  * the queries; with a leading `--dump <dir>`, the last pass also writes
  * each query's key sources there, one file per key. The session has the
  * benchmark harness's shape (`local[nproc]`, nproc shuffle partitions,
  * [[GraftSession.build]]),
  * except that this JVM alone sets `spark.sql.codegen.cache.maxEntries`
  * to 100000: with Spark's default of 100 entries, a query with more
  * than about 75 keys evicts some of its own keys while it runs, and the
  * census would undercount it. After one cold pass, each census pass
  * runs every query as the harness does (build, `executedPlan`, noop
  * write) with the cache emptied first, and then lists the cache. */
object CodegenCensus {

  /** One run of a query as the benchmark harness times it: build, plan
    * and a noop write. */
  def runQuery(spark: SparkSession, dir: String, q: String): Unit = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan
    df.write.mode("overwrite").format("noop").save()
  }

  def main(args: Array[String]): Unit = {
    val (dump, rest) =
      if (args.headOption.contains("--dump")) (Some(args(1)), args.drop(2)) else (None, args)
    require(rest.length >= 3,
      "usage: CodegenCensus [--dump <dir>] <tables dir> <passes> <query>...")
    val (dir, passes, queries) = (rest(0), rest(1).toInt, rest.drop(2).toSeq)
    System.setProperty("spark.sql.codegen.cache.maxEntries", "100000")
    val n = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.build(s"local[$n]", n)
    def run(q: String): Unit = runQuery(spark, dir, q)
    queries.foreach(run)
    val driver = Thread.currentThread.getContextClassLoader
    // distinct sources, and sources compiled under both loaders
    def sources(keys: Seq[(ClassLoader, String)]): String = {
      val (d, e) = keys.partition(_._1 eq driver)
      val both = d.map(_._2).toSet.intersect(e.map(_._2).toSet).size
      s"${keys.map(_._2).distinct.size} | $both"
    }
    for (pass <- 1 to passes) {
      println(s"pass $pass: query | keys (driver + executor) | compiles | sources | on both loaders")
      val all = queries.flatMap { q =>
        CodegenCache.clear()
        val compiled = CodegenCache.compiles(run(q))
        val keys = CodegenCache.keys()
        val onDriver = keys.count(_._1 eq driver)
        println(s"  $q | ${keys.size} ($onDriver + ${keys.size - onDriver}) | $compiled | ${sources(keys)}")
        for (d <- dump if pass == passes; ((loader, src), i) <- keys.zipWithIndex) {
          val side = if (loader eq driver) "driver" else "executor"
          val f = java.nio.file.Paths.get(d, q, f"$side-$i%03d.java")
          java.nio.file.Files.createDirectories(f.getParent)
          java.nio.file.Files.writeString(f, src)
        }
        keys
      }
      val distinct = all.distinct
      println(s"  distinct over the pass | ${distinct.size} | | ${sources(distinct)}")
    }
    spark.stop()
  }
}
