package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.GlobalOrder

/** GlobalOrder offset composition under adversarial partition counts:
  * the two-pass prefix machinery must give bit-identical results with
  * ONE partition (no composition at all), TWO (a single boundary), and
  * 97 (more partitions than the range sampler needs — composition must
  * hold on whatever layout the partitioner actually produces, with a
  * handful of rows per partition). Note empty MIDDLE partitions cannot
  * arise from repartitionByRange over unique order keys — every sampled
  * bound is itself a key and inhabits its own partition — which is why
  * withLag's previous-partition patch can key the summary at pid+1.
  * Every op is checked against its sequential single-threaded
  * definition. */
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
    // The whole point of the checkpoint freeze: the rows branch and the
    // per-partition-summary branch must read the SAME materialized
    // partitions (one RDD id, the requested partition count) — two
    // independently-sampled range exchanges could disagree on a boundary
    // and compose offsets against the wrong partitioning.
    def scans(r: org.apache.spark.sql.DataFrame) = r.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    val rdds = scans(GlobalOrder.withRunningSum(df, Seq(col("k")), col("v"), "cs",
      parts = 4))
    assert(rdds.size >= 2, "expected the checkpointed scan in both branches")
    assert(rdds.map(_.rdd.id).distinct.size == 1,
      s"branches scan different RDDs: ${rdds.map(_.rdd.id)}")
    assert(rdds.head.rdd.getNumPartitions == 4)
    // ranks take their offsets from the driver-collected counts of the
    // same pin, so their plan is one branch over it
    val ranked = scans(GlobalOrder.withRowNumberLong(df, Seq(col("k")), "rn", 4))
    assert(ranked.size == 1 && ranked.head.rdd.getNumPartitions == 4,
      s"rank scans: ${ranked.map(_.rdd.id)}")
  }

  test("withFills runs both directions over ONE frozen range shuffle") {
    // the single-shuffle claim: every branch (both local fills, both
    // carries) must scan the SAME checkpointed range partitioning —
    // composing withBfill(withFfill(...)) would show two RDD ids
    val dfn = df.withColumn("v",
      when(col("k") % 13 < 4, lit(null)).otherwise(col("v")))
    val r = GlobalOrder.withFills(dfn, Seq(col("k")), col("v"), "ff", "bf", 4)
    val rdds = r.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l
    }
    assert(rdds.nonEmpty, "expected the checkpointed ranged scan")
    assert(rdds.map(_.rdd.id).distinct.size == 1,
      s"fills scan different RDDs: ${rdds.map(_.rdd.id)}")
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
    for (frame <- Seq(
      GlobalOrder.withRunningSum(df, Seq(col("k")), col("v"), "cs"),
      GlobalOrder.withRowNumber(df, Seq(col("k")), "rn"),
      GlobalOrder.exactQuantiles(df, col("v"), Seq(("q50", 0.5))))) {
      val plan = frame.queryExecution.executedPlan.toString
      for (bad <- Seq("DeserializeToObject", "SerializeFromObject", "MapPartitions"))
        assert(!plan.contains(bad), s"$bad in plan:\n$plan")
    }
  }
}
