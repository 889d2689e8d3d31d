package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{GlobalOrder, Pin}

/** GlobalOrder's prefix composition under adversarial partition counts:
  * ranks and running ops must give bit-identical results with ONE
  * partition (no composition at all), TWO (a single boundary), 3 and 8,
  * 97 (more partitions than the range sampler needs — composition must
  * hold on whatever layout the partitioner actually produces, with a
  * handful of rows per partition) and AQE-sized counts. Each partition's
  * start or carry skips the partitions before it that hold nothing to
  * carry, so withLag's first row reads the last value of the previous
  * NON-EMPTY partition, and fills chain across entirely-null partitions.
  * Every op is checked against its sequential single-threaded
  * definition, and every running op against its single-partition window
  * reference on degenerate inputs too, under ANSI, in both pin modes and
  * through both generated code and `eval`. */
class GlobalOrderPartitionSpec extends SparkSpecBase {

  // Shuffled distinct keys; values derived so the sequential reference
  // is trivially exact (small integers in doubles).
  private lazy val keys: Seq[Long] =
    new scala.util.Random(7L).shuffle((0L until 500L).toList)

  private lazy val df = {
    val schema = StructType(Seq(StructField("k", LongType, nullable = false)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(keys.map(Row(_)), 5), schema)
      .withColumn("v", (col("k") % 13).cast("double"))
  }

  private lazy val sortedKeys = keys.sorted

  for (parts <- Seq(1, 2, 97)) {

    test(s"withRowNumber composes offsets exactly at $parts partitions") {
      val got = GlobalOrder.withRowNumber(df, Seq(col("k")), "rn", parts)
        .select(col("k"), col("rn"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
      val want = sortedKeys.zipWithIndex.map { case (k, i) => k -> (i + 1) }.toMap
      assert(got == want)
    }

    test(s"withRunningSum composes offsets exactly at $parts partitions") {
      val got = GlobalOrder
        .withRunningSum(df, Seq(col("k")), col("v"), "cs", scale = 2, parts = parts)
        .select(col("k"), col("cs"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      var acc = 0L
      val want = sortedKeys.map { k => acc += k % 13; k -> acc.toDouble }.toMap
      assert(got == want)
    }

    test(s"withRunningMax composes offsets exactly at $parts partitions") {
      val got = GlobalOrder
        .withRunningMax(df, Seq(col("k")), col("v"), "cm", parts)
        .select(col("k"), col("cm"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
      var acc = Double.MinValue
      val want = sortedKeys.map { k =>
        acc = math.max(acc, (k % 13).toDouble); k -> acc
      }.toMap
      assert(got == want)
    }

    test(s"withLag carries partition-boundary values exactly at $parts partitions") {
      val got = GlobalOrder
        .withLag(df, Seq(col("k")), col("v"), "prev", parts)
        .select(col("k"), col("prev"))
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1))))
        .toMap
      val vals = sortedKeys.map(k => (k % 13).toDouble)
      val want = sortedKeys.zip(None +: vals.init.map(Some(_))).toMap
      assert(got == want)
    }

    test(s"withFfill/withBfill patch across partition boundaries at $parts partitions") {
      // ~1/3 nulls, including long runs (k % 13 < 4 nulls out 4 adjacent
      // residues), so carries must chain across whole null stretches —
      // and, at 97 partitions, across entirely-null partitions.
      val dfn = df.withColumn("v",
        when(col("k") % 13 < 4, lit(null)).otherwise(col("v")))
      val got = GlobalOrder.withBfill(
          GlobalOrder.withFfill(dfn, Seq(col("k")), col("v"), "ff", parts),
          Seq(col("k")), col("v"), "bf", parts)
        .select(col("k"), col("ff"), col("bf"))
        .collect().map(r => (r.getLong(0),
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      val vals = sortedKeys.map(k =>
        if (k % 13 < 4) None else Some((k % 13).toDouble))
      val ffWant = vals.scanLeft(Option.empty[Double])(
        (acc, v) => v.orElse(acc)).tail
      val bfWant = vals.scanRight(Option.empty[Double])(
        (v, acc) => v.orElse(acc)).init
      val want = sortedKeys.lazyZip(ffWant).lazyZip(bfWant)
        .map((k, f, b) => k -> (f, b)).toMap
      assert(got == want)
      // the one-shuffle combined form must agree with the composition
      val combined = GlobalOrder.withFills(
          dfn, Seq(col("k")), col("v"), "ff", "bf", parts)
        .select(col("k"), col("ff"), col("bf"))
        .collect().map(r => (r.getLong(0),
          (if (r.isNullAt(1)) None else Some(r.getDouble(1)),
            if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
      assert(combined == want)
    }

    test(s"withInterpolate blends across partition boundaries at $parts partitions") {
      val dfn = df.withColumn("v",
        when(col("k") % 13 < 4, lit(null)).otherwise(col("k").cast("double")))
      val got = GlobalOrder.withInterpolate(
          dfn, Seq(col("k")), col("v"), "vi", parts)
        .select(col("k"), col("vi"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
      // sequential reference: pandas linear interpolate over positions
      val vals = sortedKeys.map(k =>
        if (k % 13 < 4) None else Some(k.toDouble)).toArray
      val want = vals.indices.map { i =>
        vals(i) match {
          case Some(v) => sortedKeys(i) -> Some(v)
          case None =>
            val fi = (i - 1 to 0 by -1).find(vals(_).isDefined)
            val bi = (i + 1 until vals.length).find(vals(_).isDefined)
            val r = (fi, bi) match {
              case (Some(f), Some(b)) =>
                val w = (i - f).toDouble / (b - f).toDouble
                Some(vals(f).get + (vals(b).get - vals(f).get) * w)
              case (Some(f), None) => vals(f)
              case _ => None
            }
            sortedKeys(i) -> r
        }
      }.toMap
      assert(got == want)
    }

    test(s"exactQuantiles matches the sequential lerp at $parts partitions") {
      val qs = Seq(("q25", 0.25), ("q50", 0.5), ("q90", 0.9))
      val row = GlobalOrder.exactQuantiles(df, col("v"), qs, parts).collect().head
      val sortedV = keys.map(k => (k % 13).toDouble).sorted
      val n = sortedV.size
      for (((name, q), i) <- qs.zipWithIndex) {
        val pos = (n - 1).toDouble * q
        val lo = sortedV(math.floor(pos).toInt)
        val hi = sortedV(math.ceil(pos).toInt)
        val want = lo + (hi - lo) * (pos - math.floor(pos))
        assert(row.getDouble(i) == want, name)
      }
    }
  }

  test("every branch of a positional op scans ONE frozen partitioning") {
    // The whole point of the checkpoint freeze: the rows and the
    // per-partition summaries must read the SAME materialized
    // partitions (one RDD id, the requested partition count) — two
    // independently-sampled range exchanges could disagree on a boundary
    // and compose carries against the wrong partitioning. The summaries
    // are a driver collect over that RDD, so the plan scans it once.
    def scans(r: org.apache.spark.sql.DataFrame) = r.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    for (frame <- Seq(
        GlobalOrder.withRunningSum(df, Seq(col("k")), col("v"), "cs", parts = 4),
        GlobalOrder.withRowNumberLong(df, Seq(col("k")), "rn", 4))) {
      val rdds = scans(frame)
      assert(rdds.size == 1 && rdds.map(_.rdd.id).distinct.size == 1,
        s"expected one pinned scan, got RDDs ${rdds.map(_.rdd.id)}")
      assert(rdds.head.rdd.getNumPartitions == 4)
    }
  }

  test("withFills runs both directions over ONE frozen range shuffle") {
    // the single-shuffle claim: both fills (the forward scan and the
    // backward one after a local descending sort) and both carries read
    // the SAME pinned range partitioning — composing
    // withBfill(withFfill(...)) would show two RDD ids
    val dfn = df.withColumn("v",
      when(col("k") % 13 < 4, lit(null)).otherwise(col("v")))
    val r = GlobalOrder.withFills(dfn, Seq(col("k")), col("v"), "ff", "bf", 4)
    val rdds = r.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rdds.size == 1 && rdds.map(_.rdd.id).distinct.size == 1,
      s"fills scan RDDs ${rdds.map(_.rdd.id)}")
    assert(rdds.head.rdd.getNumPartitions == 4)
  }

  for (parts <- Seq(1, 2, 97)) {
    test(s"nearestRankPicks equals the sorted-array pick at $parts partitions") {
      val got = GlobalOrder.nearestRankPicks(df, col("v"),
        Seq(("p05", 0.05), ("p50", 0.5), ("p95", 0.95), ("p100", 1.0)),
        parts).collect()(0)
      val sorted = keys.map(k => (k % 13).toDouble).sorted
      def pick(q: Double) =
        sorted(math.max(1, math.ceil(sorted.length * q).toLong).toInt - 1)
      assert(got.getAs[Double]("p05") === pick(0.05))
      assert(got.getAs[Double]("p50") === pick(0.5))
      assert(got.getAs[Double]("p95") === pick(0.95))
      assert(got.getAs[Double]("p100") === pick(1.0))
    }
  }

  test("positional plans contain no Row decode/encode seam") {
    // Guards against reintroducing a df.rdd/createDataFrame round-trip:
    // the physical plan must stay in Tungsten format end to end.
    val k = Seq(col("k"))
    for (frame <- Seq(
      GlobalOrder.withRunningSum(df, k, col("v"), "cs"),
      GlobalOrder.withRunningMax(df, k, col("v"), "cm"),
      GlobalOrder.withRunningMin(df, k, col("v"), "cm"),
      GlobalOrder.withRunningProduct(df, k, col("v"), "cp"),
      GlobalOrder.withLag(df, k, col("v"), "prev"),
      GlobalOrder.withFfill(df, k, col("v"), "ff"),
      GlobalOrder.withBfill(df, k, col("v"), "bf"),
      GlobalOrder.withFills(df, k, col("v"), "ff", "bf"),
      GlobalOrder.withInterpolate(df, k, col("v"), "vi"),
      GlobalOrder.withRowNumber(df, k, "rn"),
      GlobalOrder.exactQuantiles(df, col("v"), Seq(("q50", 0.5))))) {
      val plan = frame.queryExecution.executedPlan.toString
      for (bad <- Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions"))
        assert(!plan.contains(bad), s"$bad in plan:\n$plan")
    }
  }

  // ——— every running op against its single-partition window reference ———

  private val runSchema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", DoubleType, nullable = true),
    StructField("p", DoubleType, nullable = true)))

  /** Shuffled unique keys k; v a quarter-step value with null runs (k %
    * 13 < 4), zero and negatives; p a product-safe factor (2, 0.5, −1 or
    * 1, so every partial product is exact under any grouping) or null. */
  private def runRows(n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(3)
    val factors = Seq(2.0, 0.5, -1.0, 1.0)
    rnd.shuffle((0L until n.toLong).toList).map { k =>
      Row(k, if (k % 13 < 4) null else ((k % 13) - 8) * 1.25,
        if (rnd.nextInt(6) == 0) null else factors(rnd.nextInt(4)))
    }
  }

  private def runFrame(rows: Seq[Row], slices: Int = 5): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), runSchema)

  private lazy val runs = runRows(600)

  /** (op, operator output, single-partition window reference): both
    * carry k and the result columns r (and r2). */
  private def runningOps(parts: Int): Seq[(String, DataFrame => DataFrame, DataFrame => DataFrame)] = {
    val k = Seq(col("k"))
    val w = Window.orderBy("k")
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the rows from the current one on, as a growing descending frame (an
    // unbounded-following frame re-aggregates per row: quadratic)
    val from = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val (v, p) = (col("v"), col("p"))
    val pair = when(v.isNotNull, struct(v, p))
    val ff = last(v, ignoreNulls = true).over(upTo)
    val bf = last(v, ignoreNulls = true).over(from)
    def ref(r: Column)(d: DataFrame) = d.withColumn("r", r)
    val interpolated = (d: DataFrame) => {
      val pos = when(v.isNotNull, col("rn"))
      d.withColumn("rn", row_number().over(w)).withColumn("fv", ff).withColumn("bv", bf)
        .withColumn("fp", last(pos, ignoreNulls = true).over(upTo))
        .withColumn("bp", last(pos, ignoreNulls = true).over(from))
        .withColumn("r", when(v.isNotNull, v)
          .when(col("fv").isNotNull && col("bv").isNotNull, col("fv") +
            (col("bv") - col("fv")) * ((col("rn") - col("fp")).cast("double") /
              (col("bp") - col("fp")).cast("double")))
          .when(col("fv").isNotNull, col("fv")))
    }
    Seq(
      ("withRunningSum", GlobalOrder.withRunningSum(_, k, v, "r", parts = parts),
        ref(sum(v.cast(DecimalType(30, 2))).over(upTo).cast("double")) _),
      ("withRunningMax", GlobalOrder.withRunningMax(_, k, v, "r", parts), ref(max(v).over(upTo)) _),
      ("withRunningMin", GlobalOrder.withRunningMin(_, k, v, "r", parts), ref(min(v).over(upTo)) _),
      ("withRunningProduct", GlobalOrder.withRunningProduct(_, k, p, "r", parts),
        ref(product(p).over(upTo)) _),
      ("withLag", GlobalOrder.withLag(_, k, v, "r", parts), ref(lag(v, 1).over(w)) _),
      ("withFfill", GlobalOrder.withFfill(_, k, v, "r", parts), ref(ff) _),
      ("withBfill", GlobalOrder.withBfill(_, k, v, "r", parts), ref(bf) _),
      ("withFills", GlobalOrder.withFills(_, k, v, "r", "r2", parts),
        (d: DataFrame) => d.withColumn("r", ff).withColumn("r2", bf)),
      ("withInterpolate", GlobalOrder.withInterpolate(_, k, v, "r", parts), interpolated),
      // values the optimizer rewrites before they can be evaluated
      ("withRunningSum of nvl", GlobalOrder.withRunningSum(_, k, nvl(v, lit(0.0)), "r",
        parts = parts), ref(sum(nvl(v, lit(0.0)).cast(DecimalType(30, 2))).over(upTo)
          .cast("double")) _),
      ("withRunningMax of nullif", GlobalOrder.withRunningMax(_, k, nullif(v, lit(0.0)), "r",
        parts), ref(max(nullif(v, lit(0.0))).over(upTo)) _),
      // struct values carry as they are
      ("withLag of a struct", GlobalOrder.withLag(_, k, pair, "r", parts),
        ref(lag(pair, 1).over(w)) _),
      ("withFills of a struct", GlobalOrder.withFills(_, k, pair, "r", "r2", parts),
        (d: DataFrame) => d.withColumn("r", last(pair, ignoreNulls = true).over(upTo))
          .withColumn("r2", last(pair, ignoreNulls = true).over(from))),
      ("withRunningMin of a struct", GlobalOrder.withRunningMin(_, k, pair, "r", parts),
        ref(min(pair).over(upTo)) _))
  }

  private def results(d: DataFrame): Map[Long, Row] =
    d.select(col("k") +: Seq("r", "r2").filter(d.columns.contains).map(col): _*)
      .collect().map(r => r.getLong(0) -> r).toMap

  private def assertRunningOps(d: DataFrame, parts: Int): Unit =
    for ((op, got, want) <- runningOps(parts)) {
      val (g, w) = (results(got(d)), results(want(d)))
      val wrong = w.count { case (k, r) => !g.get(k).contains(r) }
      assert(g.size == w.size && wrong == 0,
        s"$op at parts=$parts: $wrong of ${w.size} rows differ")
    }

  /** `body` under ANSI, once through generated code (`CODEGEN_ONLY`,
    * whole-stage codegen on, no fallback when a class fails to compile)
    * and once through `eval` (`NO_CODEGEN`). */
  private def inModes(body: => Unit): Unit =
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withClue(s"$factory: ") {
        val confs = Seq("spark.sql.ansi.enabled" -> "true",
          "spark.sql.codegen.fallback" -> "false",
          "spark.sql.codegen.factoryMode" -> factory,
          "spark.sql.codegen.wholeStage" -> wholeStage)
        confs.foreach { case (key, value) => spark.conf.set(key, value) }
        try body finally confs.foreach { case (key, _) => spark.conf.unset(key) }
      }

  private def degenerate: Seq[(String, DataFrame)] = Seq(
    "empty" -> runFrame(Nil),
    "single row" -> runFrame(Seq(Row(7L, 2.5, 2.0))),
    "all values null" -> runFrame(runs.take(40).map(r => Row(r.getLong(0), null, null))),
    "all rows in one input partition" -> runFrame(runs.take(60), slices = 1))

  for (parts <- Seq(1, 3, 8, 0)) {
    val at = if (parts > 0) s"$parts partitions" else "AQE-sized partitions"
    test(s"every running op equals its single-partition window reference at $at, " +
        "under ANSI, in both codegen modes") {
      // at AQE-sized counts, enough rows that adaptive execution keeps
      // several range partitions
      val d = if (parts > 0) runFrame(runs) else runFrame(runRows(40000))
      if (parts == 0) {
        val sized = GlobalOrder.withLag(d, Seq(col("k")), col("v"), "r").rdd.getNumPartitions
        assert(sized > 1, s"AQE coalesced the range exchange to $sized partition")
      }
      inModes(assertRunningOps(d, parts))
    }
  }

  test("every running op on degenerate inputs equals the reference, under ANSI, " +
      "in both codegen modes") {
    inModes {
      for ((name, d) <- degenerate; parts <- Seq(1, 3, 8, 0))
        withClue(s"$name at parts=$parts: ")(assertRunningOps(d, parts))
    }
  }

  test("every running op is pin-mode invariant (reliable checkpoint), under ANSI, " +
      "in both codegen modes") {
    spark.sparkContext.setCheckpointDir(TempDirs.create("graft_ckpt").toString)
    spark.conf.set(Pin.FLAG, "true")
    try inModes {
      assertRunningOps(runFrame(runs), 3)
      assertRunningOps(runFrame(Nil), 0)
    } finally spark.conf.set(Pin.FLAG, "false")
  }

  test("every running op plans its range exchange and no window or broadcast") {
    val d = runFrame(runs)
    for ((op, got, _) <- runningOps(0)) {
      val plans = ExecutedPlans.of(spark)(got(d).collect())
      val nodes = plans.flatMap(ExecutedPlans.flatten)
      val text = plans.mkString("\n")
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      // withInterpolate reads its positions from the fills' own pin
      assert(exchanges.size == 1 && exchanges.forall(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
        s"$op exchanges:\n$text")
      assert(nodes.collect { case w: WindowExec => w }.isEmpty, s"$op window:\n$text")
      assert(nodes.collect { case b: BroadcastExchangeExec => b }.isEmpty,
        s"$op broadcast:\n$text")
    }
  }
}
