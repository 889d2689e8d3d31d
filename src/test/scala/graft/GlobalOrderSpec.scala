package graft

import org.apache.spark.sql.functions._

import graft.operators.GlobalOrder

/** The prefix-composed operators must be bit-identical to their
  * single-partition equivalents — tested with parts=3 over 10 rows so
  * every partition boundary case (first row, last row, carries) is hit. */
class GlobalOrderSpec extends SparkSpecBase {
  import spark.implicits._

  private def frame = Seq(
    (10L, 1.00), (20L, 2.00), (30L, 3.50), (40L, 0.25), (50L, 4.00),
    (60L, 1.75), (70L, 2.25), (80L, 0.50), (90L, 3.00), (100L, 5.00))
    .toDF("k", "v")

  test("withRowNumber is the global 1-based rank across partitions") {
    val got = GlobalOrder.withRowNumber(frame, Seq(col("k")), "rn", parts = 3)
      .orderBy("k").select("k", "rn").as[(Long, Int)].collect()
    assert(got.toSeq == (1 to 10).map(i => (i * 10L, i)))
  }

  test("withRunningSum equals a sequential prefix sum exactly") {
    val got = GlobalOrder.withRunningSum(frame, Seq(col("k")), col("v"),
        "cum", parts = 3)
      .orderBy("k").select("cum").as[Double].collect()
    val want = Seq(1.00, 2.00, 3.50, 0.25, 4.00, 1.75, 2.25, 0.50, 3.00, 5.00)
      .scanLeft(BigDecimal(0))(_ + _).tail.map(_.toDouble)
    assert(got.toSeq == want)
  }

  test("withRunningMax equals a sequential prefix max") {
    val got = GlobalOrder.withRunningMax(frame, Seq(col("k")), col("v"),
        "cmax", parts = 3)
      .orderBy("k").select("cmax").as[Double].collect()
    val vs = Seq(1.00, 2.00, 3.50, 0.25, 4.00, 1.75, 2.25, 0.50, 3.00, 5.00)
    val want = vs.scanLeft(Double.MinValue)(math.max).tail
    assert(got.toSeq == want)
  }

  test("withLag patches partition-boundary rows from the previous partition") {
    val got = GlobalOrder.withLag(frame, Seq(col("k")), col("v"),
        "prev", parts = 3)
      .orderBy("k").select("prev").as[Option[Double]].collect()
    val vs = Seq(1.00, 2.00, 3.50, 0.25, 4.00, 1.75, 2.25, 0.50, 3.00)
    assert(got.toSeq == None +: vs.map(Some(_)))
  }

  test("exactQuantiles matches Spark's percentile aggregate bit-for-bit") {
    val got = GlobalOrder.exactQuantiles(frame, col("v"),
        Seq(("q10", 0.10), ("med", 0.5), ("q9", 0.9)), parts = 3)
      .as[(Double, Double, Double)].head()
    val want = frame.agg(
        expr("percentile(v, 0.10)"), expr("percentile(v, 0.5)"),
        expr("percentile(v, 0.9)"))
      .as[(Double, Double, Double)].head()
    assert(got == want)
  }

  test("no stage windows over a single full-data partition") {
    // ranks are positions in the pinned range partitions: no window at all
    val ranks = GlobalOrder.withRowNumber(frame, Seq(col("k")), "rn", parts = 3)
      .queryExecution.executedPlan.toString
    assert(!ranks.contains("Window"), ranks)
    // running ops scan each pinned partition and read their carries from
    // a driver-composed literal: no window and no broadcast either
    for (plan <- Seq(
        GlobalOrder.withRunningSum(frame, Seq(col("k")), col("v"), "cs", parts = 3),
        GlobalOrder.withFills(frame, Seq(col("k")), col("v"), "ff", "bf", parts = 3))
        .map(_.queryExecution.executedPlan.toString)) {
      assert(!plan.contains("Window"), plan)
      assert(!plan.contains("BroadcastExchange"), plan)
    }
  }
}
