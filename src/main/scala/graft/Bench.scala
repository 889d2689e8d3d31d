package graft

/** Benchmark main: runs the headline queries on SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). One warm-up pass amortizes
  * scan/codegen setup (the reference's perf harness likewise measures
  * warm medians — `sdc/tests/tests_perf/test_perf_base.py:42-62`).
  *
  * Besides wall-clock (noisy ±2× on a shared box), a SparkListener
  * records per-query RESOURCE metrics — shuffle read/write bytes,
  * memory/disk spill bytes, task count — during each query's final
  * timed rep, and writes them to a sibling artifact
  * (SPARK_GRAFT_METRICS_OUT, default BENCH_METRICS.json for full runs).
  * Bytes and task counts are exactly reproducible for a fixed plan and
  * fixture, so two rounds' artifacts diff as PLAN changes, immune to
  * the wall-clock noise that made rounds 7–9 incomparable. */
object Bench {

  /** Per-query resource metrics ride [[BenchMetrics.MetricsListener]]:
    * the main loop tags each query's final timed rep with a job group
    * and the listener attributes task events by stage/job identity —
    * exact under listener-bus lag, streaming included (see
    * BenchMetrics for the full attribution + determinism notes). */
  private val GroupPrefix = BenchMetrics.GroupPrefix
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER overrides the single-JVM default — the
    // multi-JVM bench smoke runs the same headline set under
    // `local-cluster[8,4,3072]` (32 cores across 8 executor PROCESSES,
    // real serialization boundaries), where GraftSession turns on
    // reliable pins; see README. Under spark-submit the env wins over the
    // submit master only because both are set to the same value there.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = GraftSession.build(master, cpus.toInt)

    // Optional args narrow the run to named queries — local iteration
    // only; the driver passes no args and benches the full headline set.
    // Unresolvable names are an ERROR whether they come from args (a
    // typo) or from a stale benchQueries entry — never a silent no-op
    // that benches fewer queries and exits 0.
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.benchQueries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    // Evaluate via the noop sink, NOT count(): count() lets Catalyst prune
    // every projected column, so a projection-heavy query would bench as
    // a bare scan. noop forces full evaluation of every output column.
    def run(name: String): Boolean =
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.mode("overwrite").format("noop").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
    // Session scrub between queries: r5's full-run median for q_tpch_q1
    // read 6× its isolated cost because 26 other queries' warm-up residue
    // (leaked streaming memory-sink rows on the driver heap, lingering
    // cache entries, deferred GC debt) was charged to whichever query was
    // timed first. Stop stray streams, drop CacheManager entries and
    // memory-sink temp views, and collect garbage so each query is timed
    // against a quiet session — the same state the isolated probe sees.
    def scrub(): Unit = {
      spark.streams.active.foreach(_.stop())
      spark.catalog.clearCache()
      spark.catalog.listTables().filter(_.isTemporary)
        .collect().foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    }
    // SPARK_GRAFT_BENCH_REPS timed repetitions, median reported — the
    // reference perf harness's methodology (median of warm runs,
    // `sdc/tests/tests_perf/test_perf_base.py:42-62`). Default 3: this
    // box shows ±2× single-run noise, and a median-of-3 costs ~1 min of
    // extra wall-clock against stable numbers. A set-but-unparsable
    // value is an explicit error, not a silent fallback.
    val repsEnv = sys.env.get("SPARK_GRAFT_BENCH_REPS")
    val reps = repsEnv match {
      case None => 3
      case Some(v) => v.toIntOption.filter(_ >= 1).getOrElse(
        sys.error(s"SPARK_GRAFT_BENCH_REPS must be a positive int, got '$v'"))
    }
    // Per-query: scrub, ONE warm-up run (JIT + codegen + file-footer
    // caches — failures logged loudly and short-circuiting the timed
    // reps), then `reps` timed runs with a GC between reps. Warming each
    // query immediately before its own timing — rather than one global
    // warm-up pass over every query — keeps cross-query residue out of
    // the measurement window.
    val listener = new BenchMetrics.MetricsListener
    spark.sparkContext.addSparkListener(listener)
    // Per-query connected-components observability: Dedup's CC loops
    // record (algo, rounds, escalated) tagged with the active job
    // group; the final timed rep is the tagged one, so draining after
    // each query and filtering on its group yields exactly that rep's
    // CC runs. Escalation (label propagation hitting its round budget
    // and switching to star contraction) is the at-scale signal the
    // artifact must carry — a chain-shaped pair graph shows up here
    // before it shows up as wall-clock.
    val ccStats = scala.collection.mutable.Map[String, (Int, Int, Boolean)]()
    val results = names.map { name =>
      scrub()
      if (!run(name)) name -> -1.0
      else {
        val times = (1 to reps).map { i =>
          if (i > 1) System.gc()
          // resource metrics are identical across reps (fixed plan,
          // fixed data) — tag only the final rep's jobs, so the
          // recorded bytes are ONE execution's, not reps×. The tag is
          // a job group (thread-local, inherited by stream-execution
          // threads started inside the scope); the listener attributes
          // by stage/job identity, so no quiesce is needed around the
          // window — late events still land in the right bucket.
          if (i == reps) spark.sparkContext.setJobGroup(
            GroupPrefix + name, s"graft bench final rep: $name",
            interruptOnCancel = false)
          val t0 = System.nanoTime()
          val ok = run(name)
          val dt = (System.nanoTime() - t0) / 1e9
          if (i == reps) {
            spark.sparkContext.clearJobGroup()
            val runs = graft.operators.Dedup.drainCcRuns()
              .filter(_._1 == GroupPrefix + name).map(_._2)
            if (runs.nonEmpty) ccStats(name) =
              (runs.size, runs.map(_.rounds).max, runs.exists(_.escalated))
          }
          if (ok) dt else -1.0
        }
        val med =
          if (times.contains(-1.0)) -1.0
          else {
            val s = times.sorted
            if (reps % 2 == 1) s(reps / 2)
            else (s(reps / 2 - 1) + s(reps / 2)) / 2.0
          }
        name -> med
      }
    }
    // Sibling resource artifact: per-query shuffle/spill bytes + task
    // counts (+ the measured seconds for cross-reference). Full runs
    // overwrite the repo-root artifact the driver archives; targeted
    // local iterations go to /tmp so they can't clobber it. One final
    // drain wait so the LAST query's async events are all delivered
    // before the artifact snapshot (attribution itself is id-based and
    // needs no window).
    listener.quiesce()
    val metricsOut = sys.env.getOrElse("SPARK_GRAFT_METRICS_OUT",
      if (args.isEmpty) "BENCH_METRICS.json" else "/tmp/bench_metrics.json")
    val metricsJson = {
      val qs = results.map { case (name, sec) =>
        val a = listener.acc.getOrElse(name, Array.fill(7)(0L))
        val cc = ccStats.get(name).map { case (n, rounds, esc) =>
          s""" "cc_runs": $n, "cc_rounds": $rounds, "cc_escalated": $esc,"""
        }.getOrElse("")
        s""" "$name": {"shuffle_read_b": ${a(0)}, "shuffle_write_b": ${a(1)},""" +
          s""" "mem_spill_b": ${a(2)}, "disk_spill_b": ${a(3)},$cc""" +
          s""" "tasks": ${a(4)}, "cpu_ms": ${a(5) / 1000000L},""" +
          s""" "run_ms": ${a(6)},""" +
          s""" "sec": ${"%.3f".formatLocal(java.util.Locale.ROOT, sec)}}"""
      }.mkString(",\n")
      s"""{\n"sf": "$sfDir",\n"queries": {\n$qs\n}\n}\n"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(metricsOut),
      metricsJson.getBytes("UTF-8"))
    // 3-decimal rendering keeps the WHOLE line under ~1.8 KB at 70+
    // queries: the driver records only the last 2000 chars of output, and
    // full-precision doubles pushed rounds 7-8 past that, truncating the
    // line's head ("metric"/"value") so the driver's JSON parse failed.
    // Millisecond resolution is far below this box's ±2x run noise.
    // `value` is computed from the ROUNDED per-query entries, so the
    // printed queries always sum exactly to the printed total — the
    // artifact is self-consistent at any precision (full-precision
    // seconds live in the metrics sibling's "sec" fields).
    def render(decimals: Int, withQueries: Boolean): String = {
      // trailing ".0" stripped — still valid JSON numbers, and at 88
      // headline queries the map crossed the 1900-char budget by 12
      // chars at 1dp, which these byte-level trims (plus the short sf
      // tag below) buy back without dropping the per-query map the
      // cross-round diff reads
      def fmt(v: Double): String = {
        val s = s"%.${decimals}f".formatLocal(java.util.Locale.ROOT, v)
        if (s.endsWith(".0")) s.dropRight(2) else s
      }
      def rnd(v: Double): Double = fmt(v).toDouble
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      // A failed query must poison the headline number, not subtract its
      // -1.0 sentinel from it (which would make a BROKEN round bench
      // faster than a working one).
      val total =
        if (results.exists(_._2 < 0)) -1.0
        else results.map(r => rnd(r._2)).sum
      val q = if (withQueries) s""","queries":$qs""" else ""
      // basename only: the full fixture path spent 15 of the line's
      // 1900-char budget on directory noise the metrics sibling keeps
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec"$q,"sf":"${
        sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)}"}"""
    }
    // If the headline set ever grows enough that 3dp overflows the
    // budget, degrade precision rather than the parse; if even 1dp
    // overflows, drop the queries map entirely (total + metrics sibling
    // still carry everything) rather than print an unparsable line.
    // Budget 4000: the driver contract is ONE parsable JSON line, not a
    // length cap — the old defensive 1900 silently dropped the map the
    // cross-round diff reads once the headline set passed 88 queries
    // (1dp at 89 = 1934 chars).
    val line = (3 to 1 by -1).iterator.map(render(_, withQueries = true))
      .find(_.length <= 4000).getOrElse(render(3, withQueries = false))
    println(line)
    spark.stop()
  }
}
