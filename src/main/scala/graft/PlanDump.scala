package graft

/** Dev-only plan dumper (not part of the driver contract): writes
  * `explain("formatted")` of named queries to
  * `plans/<SPARK_GRAFT_PLAN_DIR tail>/<query>_<SPARK_GRAFT_PLAN_TAG>.txt`
  * — the before/after plan evidence the optimization rounds commit.
  * The session comes from [[GraftSession]], as Bench's does, so the
  * captured plans are the plans the bench executes. Queries with
  * iterative/pinned internals execute their eager pins during DataFrame
  * construction; the dumped plan is the final composition over the
  * pinned frames (the loop bodies are documented in the operators'
  * scaladoc).
  *
  * Run: `sbt "runMain graft.PlanDump q_a q_b ..."` with
  * SPARK_GRAFT_PLAN_TAG=before|after (default "plan") and
  * SPARK_GRAFT_PLAN_DIR (default plans/r15). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tag = sys.env.getOrElse("SPARK_GRAFT_PLAN_TAG", "plan")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r15")
    val spark = GraftSession.build(s"local[$cpus]", cpus.toInt)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
