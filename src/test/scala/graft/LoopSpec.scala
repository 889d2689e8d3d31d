package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Graphs, Loop, Pin, Similarity}

/** The loop driver ([[graft.operators.Loop]]) and the pin-with-gate
  * helper it leans on: the gate's row must be exactly what a separate
  * aggregate over the pinned frame reads, under both pin modes, while
  * costing no job of its own; and `Loop.run` must stop at its bound
  * and say so in its record. */
class LoopSpec extends SparkSpecBase {
  import spark.implicits._

  private def withReliable[A](body: => A): A = {
    val dir = TempDirs.create("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Pin.FLAG, "true")
    try body
    finally {
      spark.conf.set(Pin.FLAG, "false")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  /** Spark jobs started per job group. `settle` runs a marker job and
    * waits for its start event: the listener bus delivers in order, so
    * every earlier job's start has been counted by then. */
  private class JobCounter extends SparkListener {
    val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.computeIfAbsent(g, _ => new AtomicInteger()).incrementAndGet()
    }
    def count(group: String): Int =
      Option(jobs.get(group)).map(_.get).getOrElse(0)
    def inGroup[A](group: String)(body: => A): A = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }
    def settle(): Unit = {
      val mark = s"loopspec-mark-${System.nanoTime()}"
      inGroup(mark)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (count(mark) == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(count(mark) == 1, "listener bus did not deliver the marker job")
    }
  }

  private def gateFrame: DataFrame =
    spark.range(0, 1000, 1, 7).repartition(5, col("id"))
      .select(col("id"), (col("id") % 3).as("m"))

  test("pin-with-gate row equals a separate aggregate, under both pin modes") {
    def check(): Unit = {
      val (pinned, g) = Pin.withGate(gateFrame,
        sum(col("id")), sum(when(col("m") === 1, 1L).otherwise(0L)))
      val want = pinned.agg(sum(col("id")),
        sum(when(col("m") === 1, 1L).otherwise(0L))).head
      assert(g.toSeq == want.toSeq)
      assert(g.getLong(0) == 499500L && g.getLong(1) == 333L)
    }
    check()
    withReliable(check())
  }

  test("pin-with-gate over an empty frame reads a null sum") {
    val (pinned, g) =
      Pin.withGate(gateFrame.filter(col("id") < 0), sum(col("id")))
    assert(pinned.isEmpty)
    assert(g.isNullAt(0))
  }

  test("pageRankConverged runs no gate job: as many jobs as pageRank(iters = k)") {
    // an irregular graph (a hub plus a chord pattern), so the rank mass
    // moves for a few rounds before the gate fires
    val pairs = ((0 until 20).map(i => (i.toLong, ((i * 7 + 3) % 20).toLong)) ++
      (1 to 5).map(i => (0L, i.toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .toDF("a", "b")
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      val (conv, k) = counter.inGroup("loopspec-converged") {
        Graphs.pageRankConverged(pairs, epsMilli = 5L, maxIters = 30)
      }
      assert(k >= 2 && k < 30, s"gate fired at k=$k")
      val fixed = counter.inGroup("loopspec-fixed") {
        Graphs.pageRank(pairs, iters = k)
      }
      counter.settle()
      val nConv = counter.count("loopspec-converged")
      val nFixed = counter.count("loopspec-fixed")
      assert(nConv == nFixed, s"converged ran $nConv jobs, fixed $nFixed")
      def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      assert(rows(conv) == rows(fixed))
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("k-means runs one job per round, and its gate runs none") {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, embedding ARRAY<FLOAT>")
    val rows = (0 until 40).map(j => org.apache.spark.sql.Row(j.toLong,
      (0 until 4).map(d => ((j % 7) + 0.1 * d).toFloat)))
    val points = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val counter = new JobCounter
    spark.sparkContext.addSparkListener(counter)
    try {
      // rounds 1-3, each returning a local result frame: no job after the loop
      for (i <- 1 to 3) counter.inGroup(s"loopspec-kmeans-$i") {
        Similarity.kmeans(points, "vec_id", "embedding", dim = 4, k = 3, iters = i)
      }
      val (_, k) = counter.inGroup("loopspec-kmeans-converged") {
        Similarity.kmeansConverged(points, "vec_id", "embedding", dim = 4, k = 3,
          epsMilli = 1L, maxIters = 3)
      }
      counter.settle()
      val jobs = (1 to 3).map(i => counter.count(s"loopspec-kmeans-$i"))
      // the update is one fold over the pinned points, merged on the driver
      assert(jobs(1) - jobs(0) == 1 && jobs(2) - jobs(1) == 1, s"jobs for 1-3 rounds: $jobs")
      assert(counter.count("loopspec-kmeans-converged") == jobs(k - 1),
        s"converged ran $k rounds in ${counter.count("loopspec-kmeans-converged")} jobs")
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  test("Loop.run records op, rounds and converged = false at its bound") {
    Loop.drain() // discard records from earlier tests
    val (last, rounds) = Loop.run("loopspec.count", 0, 4)(i => (i + 1, false))
    assert(last == 4 && rounds == 4)
    val (stop, early) = Loop.run("loopspec.gate", 0, 10)(i => (i + 1, i + 1 == 3))
    assert(stop == 3 && early == 3)
    assert(Loop.drain().map(_._2) == Seq(
      Loop.Run("loopspec.count", 4, converged = false),
      Loop.Run("loopspec.gate", 3, converged = true)))
    assert(Loop.drain().isEmpty)
  }

  test("Loop.run rejects a zero round bound") {
    val e = intercept[IllegalArgumentException] {
      Loop.run("loopspec.zero", 0, 0)(i => (i + 1, false))
    }
    assert(e.getMessage.contains("maxRounds must be >= 1"))
  }
}
