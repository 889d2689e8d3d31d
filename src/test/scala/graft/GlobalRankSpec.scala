package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GlobalOrder, Pin}

/** The rank family (withRowNumberLong, exactQuantiles, nearestRankPicks)
  * against a single-partition `row_number` reference: random data at
  * several range-partition counts (AQE-sized included), the degenerate
  * inputs, under ANSI and in both pin modes. The ranks come from each
  * row's position in its pinned range partition plus the partition's
  * start from the driver-collected counts, so the plan holds the range
  * exchange and nothing else: no window and no broadcast. */
class GlobalRankSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = true)))

  private def frame(rows: Seq[(Long, Int, Option[Double])], slices: Int = 4): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, g, x) => Row(id, g, x.orNull) }, slices), schema)

  /** Unique shuffled ids, a few groups (long runs of equal keys), and
    * x with nulls and duplicate values. */
  private def randomRows(n: Int): Seq[(Long, Int, Option[Double])] = {
    val rnd = new scala.util.Random(11)
    rnd.shuffle((0L until n.toLong).toList).map { id =>
      (id, rnd.nextInt(5),
        if (rnd.nextInt(10) == 0) None else Some((rnd.nextInt(200) - 100) / 4.0))
    }
  }

  private lazy val random = randomRows(600)

  private val qs = Seq("p0" -> 0.0, "p10" -> 0.1, "p25" -> 0.25, "p50" -> 0.5,
    "p90" -> 0.9, "p100" -> 1.0)

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.select(col("id"), col("rn")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def refRanks(df: DataFrame, order: Seq[String]): Map[Long, Long] =
    ranks(df.withColumn("rn",
      row_number().over(Window.orderBy(order.map(col): _*)).cast("long")))

  /** The picks both quantile operators make, over single-partition
    * reference ranks: the same rank targets and the same op sequence. */
  private def refQuantiles(df: DataFrame, nearest: Boolean): Seq[Any] = {
    val vals = df.select(col("x").as("__v")).filter(col("__v").isNotNull)
    val ranked = vals.withColumn("__rn",
      row_number().over(Window.orderBy(col("__v"))).cast("long"))
    val n = lit(vals.count())
    def agg(picks: Seq[Column]) = ranked.agg(picks.head, picks.tail: _*)
    if (nearest) {
      def k(q: Double) = greatest(ceil(n.cast("double") * q).cast("long"), lit(1L))
      agg(qs.map { case (name, q) =>
        sum(when(col("__rn") === k(q), col("__v"))).as(name) })
        .collect().head.toSeq
    } else {
      def k(q: Double) = (n - 1).cast("double") * lit(q)
      def at(r: Column) = sum(when((col("__rn") - 1).cast("long") === r.cast("long"), col("__v")))
      agg(qs.flatMap { case (name, q) =>
        Seq(at(floor(k(q))).as(s"lo_$name"), at(ceil(k(q))).as(s"hi_$name")) })
        .select(qs.map { case (name, q) =>
          (col(s"lo_$name") + (col(s"hi_$name") - col(s"lo_$name")) *
            (k(q) - floor(k(q)))).as(name) }: _*)
        .collect().head.toSeq
    }
  }

  private def assertRankFamily(df: DataFrame, parts: Int): Unit = {
    for (order <- Seq(Seq("id"), Seq("g", "id"), Seq("x", "id"))) {
      val got = ranks(GlobalOrder.withRowNumberLong(df, order.map(col), "rn", parts))
      val want = refRanks(df, order)
      val wrong = want.count { case (id, r) => !got.get(id).contains(r) }
      assert(got.size == want.size && wrong == 0,
        s"ranks over $order at parts=$parts: $wrong of ${want.size} differ")
    }
    val exact = GlobalOrder.exactQuantiles(df, col("x"), qs, parts).collect().head.toSeq
    assert(exact == refQuantiles(df, nearest = false), s"exactQuantiles at parts=$parts")
    val picks = GlobalOrder.nearestRankPicks(df, col("x"), qs, parts).collect().head.toSeq
    assert(picks == refQuantiles(df, nearest = true), s"nearestRankPicks at parts=$parts")
  }

  private def withAnsi[T](body: => T): T = {
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try body finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  private def withReliable[T](body: => T): T = {
    spark.sparkContext.setCheckpointDir(TempDirs.create("graft_ckpt").toString)
    spark.conf.set(Pin.FLAG, "true")
    try body finally spark.conf.set(Pin.FLAG, "false")
  }

  private def degenerate: Seq[(String, DataFrame)] = Seq(
    "empty" -> frame(Nil),
    "single row" -> frame(Seq((7L, 1, Some(2.5)))),
    "all rows in one input partition" -> frame(random.take(50), slices = 1),
    "equal keys with unique ids" -> frame(random.take(80).map { case (id, _, _) =>
      (id, 3, Some(1.0)) }),
    "all x null" -> frame(random.take(20).map { case (id, g, _) => (id, g, None) }))

  for (parts <- Seq(1, 3, 8)) {
    test(s"rank family equals the single-partition reference at $parts range partitions, under ANSI") {
      withAnsi(assertRankFamily(frame(random), parts))
    }
  }

  test("rank family equals the single-partition reference at AQE-sized partitions, under ANSI") {
    // enough rows that adaptive execution keeps several range partitions
    val df = frame(randomRows(40000))
    val sized = GlobalOrder.withRowNumberLong(df, Seq(col("id")), "rn").rdd.getNumPartitions
    assert(sized > 1, s"AQE coalesced the range exchange to $sized partition")
    withAnsi(assertRankFamily(df, 0))
  }

  test("rank family on degenerate inputs equals the reference, under ANSI") {
    withAnsi {
      for ((name, df) <- degenerate; parts <- Seq(1, 3, 0))
        withClue(s"$name at parts=$parts: ")(assertRankFamily(df, parts))
    }
  }

  test("rank family is pin-mode invariant (reliable checkpoint), under ANSI") {
    withAnsi(withReliable {
      assertRankFamily(frame(random), 3)
      assertRankFamily(frame(Nil), 0)
    })
  }

  test("partitionCounts is dense over every partition, empty ones included") {
    val pinned = Pin(spark.range(0, 10, 1, 5).toDF().filter(col("id") < 2))
    assert(Pin.partitionSummaries(pinned)(_.size.toLong).toSeq == Seq(2L, 0L, 0L, 0L, 0L))
    // the values' folds are dense too: the trailing partitions are empty.
    // nvl is replaced by the optimizer before it can be evaluated
    val sums = Pin.partitionSummaries(pinned, nvl(col("id") * 10, lit(-1L)),
        col("id").cast("string")) {
      rows => rows.map(r => (r.getLong(0), r.getUTF8String(1).toString)).toList }
    assert(sums.toSeq == Seq(List((0L, "0"), (10L, "1")), Nil, Nil, Nil, Nil))
    for (frame <- Seq(spark.range(3).toDF(), pinned.filter(col("id") > 0))) {
      intercept[IllegalArgumentException](Pin.partitionSummaries(frame)(_.size))
      intercept[IllegalArgumentException](Pin.partitionSummaries(frame, col("id"))(_.size))
    }
  }

  test("withRowNumberLong plans one exchange, the range one, and no window or broadcast") {
    val plans = ExecutedPlans.of(spark) {
      GlobalOrder.withRowNumberLong(frame(random), Seq(col("x"), col("id")), "rn").collect()
    }
    val nodes = plans.flatMap(ExecutedPlans.flatten)
    val text = plans.mkString("\n")
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1 && exchanges.head.outputPartitioning
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning],
      s"exchanges:\n$text")
    assert(nodes.collect { case w: WindowExec => w }.isEmpty, s"window:\n$text")
    assert(nodes.collect { case b: BroadcastExchangeExec => b }.isEmpty, s"broadcast:\n$text")
  }
}
