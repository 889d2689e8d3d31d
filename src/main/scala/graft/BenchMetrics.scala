package graft

/** Shared plan-metrics machinery: a SparkListener that attributes
  * task-level resource metrics (shuffle read/write bytes, spill bytes,
  * task counts) to named queries by JOB-GROUP → JOB → STAGE identity.
  *
  * Used by [[Bench]] (the per-round BENCH_METRICS artifacts) and by
  * PlanMetricsSpec (the in-suite plan-drift gate): callers tag a
  * query's execution with `sc.setJobGroup(GroupPrefix + name, ...)`,
  * the listener records every stage the tagged jobs own, and task-end
  * events bucket by their stage id — exact even when the async
  * listener bus lags, because a late event still carries its stage
  * identity (the r10 quiet-window heuristic could mis-attribute under
  * a backlogged bus; ADVICE r10 #1). Streaming queries attribute too:
  * local properties (including the job group) are
  * InheritableThreadLocal, and a rep started inside the tagged scope
  * spawns its stream-execution thread there.
  *
  * Metric determinism: for a fixed plan, fixture, and session config,
  * shuffle BYTES and task counts are exactly reproducible run to run
  * (demonstrated r10: two full bench runs 40 min apart differed 27%
  * on wall-clock and 0 on these metrics across all 78 common queries)
  * — which is what makes them a plan-regression signal wall-clock can
  * never be on a noisy box. Spill bytes are NOT deterministic (they
  * depend on memory pressure); drift gates must exclude them.
  */
object BenchMetrics {

  /** Job-group prefix marking an attributed query execution. */
  val GroupPrefix = "graft-bench:"

  /** acc slot layout: shuffle_read_b, shuffle_write_b, mem_spill_b,
    * disk_spill_b, tasks, executor_cpu_ns, executor_run_ms, jobs (r16: CPU
    * time is the wall-noise-immune WORK signal this box needs — wall
    * seconds swing ±2× with background load while summed task CPU
    * moves only with the plan and the data; run_ms additionally
    * carries scheduler/GC/fetch-wait time, so run_ms ≫ cpu_ms flags
    * contention rather than computation). */
  class MetricsListener extends org.apache.spark.scheduler.SparkListener {
    @volatile var lastEventNs: Long = System.nanoTime()
    private val stageQuery = scala.collection.concurrent.TrieMap[Int, String]()
    val acc = scala.collection.concurrent.TrieMap[String, Array[Long]]()
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      val g = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.filter(_.startsWith(GroupPrefix)).foreach { grp =>
        val q = grp.stripPrefix(GroupPrefix)
        js.stageIds.foreach(sid => stageQuery(sid) = q)
        val a = acc.getOrElseUpdate(q, Array.fill(8)(0L))
        a.synchronized(a(7) += 1)
      }
    }
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      for (q <- stageQuery.get(te.stageId); if te.taskMetrics != null) {
        val a = acc.getOrElseUpdate(q, Array.fill(8)(0L))
        a.synchronized {
          a(0) += te.taskMetrics.shuffleReadMetrics.totalBytesRead
          a(1) += te.taskMetrics.shuffleWriteMetrics.bytesWritten
          a(2) += te.taskMetrics.memoryBytesSpilled
          a(3) += te.taskMetrics.diskBytesSpilled
          a(4) += 1
          a(5) += te.taskMetrics.executorCpuTime
          a(6) += te.taskMetrics.executorRunTime
        }
      }
    }
    /** Attribution is id-based, so late events land correctly; a final
      * read just needs the bus DRAINED. Wait until it has been quiet
      * for 150 ms (cap 3 s). */
    def quiesce(): Unit = {
      val deadline = System.nanoTime() + 3000000000L
      while (System.nanoTime() - lastEventNs < 150000000L &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }
  }
}
