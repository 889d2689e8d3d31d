package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.operators.Dedup

/** JVM side of the benchmark: one `local[cpus]` session, one cold pass
  * over the workload's queries, which also saves each result, untimed,
  * for the oracle check, then warm passes until `--seconds` have been
  * measured. Every query is three calls into the engine's public
  * surface, timed from outside: `SparkEntry.queries(name)(spark, dir)`
  * (build), the frame's `queryExecution.executedPlan` (plan) and a
  * `noop` write (write).
  *
  * With `--trace 1` the cold pass and every other warm pass record
  * spans (workload → pass → query → build/plan/write → job → stage) in
  * memory, attributed through job groups this harness sets; the other
  * warm passes run untraced so that the runner can report the tracing
  * overhead. Spans are written once, at exit, to `trace.jsonl`; the
  * pass summary goes to `result.json`, and the oracle SQL of the
  * workload's queries to `oracle_sql.json`.
  *
  * Usage: Harness --fixtures DIR --out DIR --queries q1,q2 --cpus N
  *   --seconds S --min-warm N --trace 0|1 --run-id ID
  */
object Harness {

  val GroupPrefix = "perfbench:"

  /** Epoch nanoseconds on the monotonic clock, so driver-side spans
    * line up with the millisecond epoch stamps of listener events. */
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  final class Span(val id: Long, val parent: Long, val kind: String,
                   val name: String, val start: Long) {
    @volatile var end: Long = start
    /** A job's long call site: the user frames that started it. */
    @volatile var stack: String = ""
    val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap()
  }

  /** Span store plus the listeners that feed it. Task CPU is summed on
    * every pass (it is the `cpu_s` end-to-end metric); everything else
    * is recorded only while `tracing` is set. The flag flips only while
    * the listener bus is drained, so each event lands on its own pass. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    val taskCpuNs = new AtomicLong
    @volatile var tracing = false
    private val nextId = new AtomicLong(1)
    private val spans = mutable.ArrayBuffer[Span]()
    private val jobs = mutable.Map[Int, Span]()
    private val stageJob = mutable.Map[Int, Span]()
    private val stageAcc = mutable.Map[Int, mutable.Map[String, Double]]()
    private val execSite = mutable.Map[Long, (String, String)]()

    def open(parent: Long, kind: String, name: String,
             start: Long = now()): Span = {
      val s = new Span(nextId.getAndIncrement(), parent, kind, name, start)
      spans.synchronized(spans += s)
      s
    }
    def all: Seq[Span] = spans.synchronized(spans.toList)

    override def onJobStart(js: SparkListenerJobStart): Unit = if (tracing) {
      val group = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
      val parent = group.map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
      synchronized {
        // A job's call site is the innermost frame outside Spark and
        // Scala. AQE submits query stages from a thread pool, so for SQL
        // jobs it is read from the execution that started them; other
        // jobs carry it on their result stage, the one with the top id.
        val (site, stack) = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSite.get(id.toLong))
          .orElse(js.stageInfos.maxByOption(_.stageId).map(i => (i.name, i.details)))
          .getOrElse(("", ""))
        val span = open(parent, "job", site, js.time * 1000000L)
        span.stack = stack
        jobs(js.jobId) = span
        js.stageIds.foreach(sid => if (!stageJob.contains(sid)) stageJob(sid) = span)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart if tracing =>
        synchronized { execSite(x.executionId) = (x.description, x.details) }
      case _ =>
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.remove(je.jobId).foreach(_.end = je.time * 1000000L)
    }

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) taskCpuNs.addAndGet(m.executorCpuTime)
      if (tracing) synchronized {
        if (stageJob.contains(te.stageId)) {
          val a = stageAcc.getOrElseUpdate(te.stageId, mutable.LinkedHashMap())
          def add(k: String, v: Double): Unit = a(k) = a.getOrElse(k, 0.0) + v
          val info = te.taskInfo
          add("tasks", 1)
          add("failed_tasks", if (info.successful) 0 else 1)
          if (m != null) {
            val wait = info.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0)
            add("task_cpu_s", m.executorCpuTime / 1e9)
            add("task_run_s", m.executorRunTime / 1e3)
            add("task_wait_s", math.max(0L, wait) / 1e3)
            add("input_bytes", m.inputMetrics.bytesRead.toDouble)
            add("input_rows", m.inputMetrics.recordsRead.toDouble)
            add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
            add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
            add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
            add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          }
        }
      }
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      if (tracing) synchronized {
        val info = sc.stageInfo
        for (job <- stageJob.get(info.stageId); t0 <- info.submissionTime) {
          val s = open(job.id, "stage", info.name, t0 * 1000000L)
          s.end = info.completionTime.getOrElse(t0) * 1000000L
          s.attrs("exchange") = if (PerfbenchBus.isShuffleMap(info)) 1 else 0
          stageAcc.remove(info.stageId).foreach(a => s.attrs ++= a)
        }
      }

    /** One `action` span per Dataset action, covering its planning
      * phases; the runner parents it by time. */
    private def action(func: String, qe: QueryExecution): Unit =
      if (tracing) {
        val phases = qe.tracker.phases
        if (phases.nonEmpty) {
          val s = open(0L, "action", func, phases.values.map(_.startTimeMs).min * 1000000L)
          s.end = phases.values.map(_.endTimeMs).max * 1000000L
          for (p <- Seq("analysis", "optimization", "planning"))
            s.attrs(s"${p}_s") = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        }
      }
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      action(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      action(func, qe)
  }

  /** Largest post-GC heap since the last reset, from GC notifications. */
  final class HeapWatch extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peakBytes = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peakBytes = math.max(peakBytes, used); notified += 1 }
      }
    def reset(): Unit = synchronized { peakBytes = 0L }
    private var notified = 0L

    /** A full GC, once its notification has been seen (at most 2 s). */
    def collect(): Unit = {
      val before = synchronized(notified)
      System.gc()
      val deadline = System.nanoTime() + 2000000000L
      while (synchronized(notified) == before && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
  }

  final case class QueryRun(name: String, wallS: Double, cpuS: Double,
                            error: Option[String])
  final case class PassRun(kind: String, traced: Boolean, wallS: Double,
                           cpuS: Double, procCpuS: Double, gcS: Double, peakHeapMb: Double,
                           codegenS: Double, codegenClasses: Long,
                           queries: Seq[QueryRun])

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** CPU time of every thread of this JVM: the Spark driver, executors,
    * JIT compilers and GC. The kernel leaves out time a thread waited
    * for a CPU, on the run queue or stolen by the host. */
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuNanos(): Long = osBean.getProcessCpuTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val fixtures = opt("fixtures")
    val out = Paths.get(opt("out"))
    val names = opt("queries").split(",").toSeq
    val cpus = opt("cpus")
    val seconds = opt("seconds").toDouble
    val minWarm = opt("min-warm").toInt
    val trace = opt("trace") == "1"
    val runId = opt("run-id")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // Bench's session shape, on local[nproc].
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.nanosConf._1, Tables.nanosConf._2)
      .config(Tables.aqeMinPartitionConf._1, Tables.aqeMinPartitionConf._2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val heap = new HeapWatch
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val root = tracer.open(0L, "workload", names.mkString(","))

    /** One engine call, under its own span and job group when traced. */
    def phase[T](parent: Option[Span], kind: String)(body: => T): T =
      parent match {
        case None => body
        case Some(p) =>
          val s = tracer.open(p.id, kind, kind)
          // No description: SQL executions then keep their call site
          // as their description, which the tracer reads.
          sc.setJobGroup(GroupPrefix + s.id, null, interruptOnCancel = false)
          try body finally { sc.clearJobGroup(); s.end = now() }
      }

    /** Task CPU, GC, codegen and process CPU counters, read only around
      * the timed calls so that a pass's numbers leave out the untimed
      * capture. */
    def counters(): Array[Double] = {
      PerfbenchBus.drain(sc)
      Array(tracer.taskCpuNs.get / 1e9, gcMillis() / 1e3, CodeGenerator.compileTime / 1e9,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble, processCpuNanos() / 1e9)
    }

    /** One query's build, plan and noop write, timed. With `saveTo`,
      * the built frame is also written out, untimed, for the oracle
      * check; the frame is reused, so loops run in build are not rerun. */
    def runQuery(name: String, passSpan: Option[Span], sums: Array[Double],
                 saveTo: Option[String]): QueryRun = {
      val c0 = counters()
      val q = passSpan.map(p => tracer.open(p.id, "query", name))
      val t0 = System.nanoTime()
      var df: Option[DataFrame] = None
      val error = try {
        df = Some(phase(q, "build")(SparkEntry.queries(name)(spark, fixtures)))
        phase(q, "plan")(df.get.queryExecution.executedPlan)
        phase(q, "write")(df.get.write.mode("overwrite").format("noop").save())
        None
      } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      val cc = Dedup.drainCcRuns()
      q.foreach { s =>
        s.end = now()
        s.attrs("cc_rounds") = cc.map(_._2.rounds).sum
      }
      val delta = counters().zip(c0).map { case (b, a) => b - a }
      delta.indices.foreach(i => sums(i) += delta(i))
      val saveError = for (path <- saveTo; frame <- df; e <- Try(
        frame.coalesce(1).write.mode("overwrite").parquet(path)).failed.toOption)
        yield s"result not saved: ${e.getClass.getName}: ${e.getMessage}"
      QueryRun(name, wall, delta(0), error.orElse(saveError))
    }

    val passes = mutable.ArrayBuffer[PassRun]()

    /** One pass over the workload's queries; its index is its position
      * in `passes`, the cold pass being 0. */
    def pass(kind: String, traced: Boolean, save: Boolean): PassRun = {
      PerfbenchBus.drain(sc)
      tracer.tracing = traced
      heap.reset()
      val sums = new Array[Double](5)
      val passSpan = if (traced) Some(tracer.open(root.id, "pass", kind)) else None
      val qs = names.map { n =>
        runQuery(n, passSpan, sums,
          if (save) Some(out.resolve("results").resolve(n).toString) else None)
      }
      passSpan.foreach(_.end = now())
      // Untimed: leaves the next pass a clean heap, and its post-GC heap
      // is this pass's retained size, so every pass has a heap reading.
      heap.collect()
      PerfbenchBus.drain(sc)
      tracer.tracing = false
      val r = PassRun(kind, traced, qs.map(_.wallS).sum, cpuS = sums(0), procCpuS = sums(4),
        gcS = sums(1), peakHeapMb = heap.peakBytes / 1e6, codegenS = sums(2),
        codegenClasses = sums(3).toLong, queries = qs)
      passSpan.foreach { s =>
        s.attrs ++= Seq("index" -> passes.size.toDouble, "gc_s" -> r.gcS,
          "proc_cpu_s" -> r.procCpuS, "peak_heap_mb" -> r.peakHeapMb,
          "codegen_s" -> r.codegenS, "codegen_classes" -> r.codegenClasses.toDouble)
      }
      r
    }

    passes += pass("cold", traced = trace, save = true)
    // Warm passes until the measured time is spent and the floor is met.
    // A traced run alternates traced and untraced passes, starting and
    // ending traced, so both kinds see equally warm JVMs on average.
    val floor = if (trace) 2 * minWarm - 1 else minWarm
    var measured = 0.0
    while (passes.size - 1 < floor || measured < seconds ||
           (trace && passes.size % 2 == 1)) {
      val p = pass("warm", traced = trace && passes.size % 2 == 1, save = false)
      passes += p
      measured += p.wallS
    }
    root.end = now()

    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def queryJson(q: QueryRun): String =
      s"""{"name": ${str(q.name)}, "wall_s": ${num(q.wallS)}, "cpu_s": ${num(q.cpuS)},""" +
        s""" "error": ${q.error.map(str).getOrElse("null")}}"""
    val passJson = passes.map { p =>
      s"""{"kind": ${str(p.kind)}, "traced": ${p.traced}, "wall_s": ${num(p.wallS)},""" +
        s""" "cpu_s": ${num(p.cpuS)}, "proc_cpu_s": ${num(p.procCpuS)}, "gc_s": ${num(p.gcS)},""" +
        s""" "peak_heap_mb": ${num(p.peakHeapMb)}, "codegen_s": ${num(p.codegenS)},""" +
        s""" "codegen_classes": ${p.codegenClasses},""" +
        s""" "queries": [${p.queries.map(queryJson).mkString(", ")}]}"""
    }
    Files.writeString(out.resolve("result.json"),
      s"""{"setup_s": ${num(setupS)}, "cpus": $cpus,\n"passes": [\n${
        passJson.mkString(",\n")}]}\n""")
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), names.map(n =>
      s"${str(n)}: ${str(oracle(n))}").mkString("{", ",\n", "}\n"))
    val lines = tracer.all.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "kind": ${str(s.kind)},""" +
        s""" "name": ${str(s.name)}, "run": ${str(runId)},""" +
        s""" "start": ${s.start}, "end": ${s.end}, "stack": ${str(s.stack)},""" +
        s""" "attrs": {$attrs}}"""
    }
    Files.write(out.resolve("trace.jsonl"), lines.asJava)
    spark.stop()
  }
}
