package graft

import scala.util.Random

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{dotp, nearest, quantize}
import graft.operators.Similarity

/** [[graft.functions.NearestCentroid]] (graft_nearest) and
  * [[graft.functions.QuantizeArray]] (graft_quantize) must return exactly
  * what the unrolled Column expressions they replaced in Lloyd's k-means
  * returned, in generated and in interpreted code, under ANSI mode; and
  * the k-means assignment stage must compile to the same Java whatever
  * the centroids are. */
class LloydKernelsSpec extends SparkSpecBase {

  /** Both evaluation paths, ANSI on: whole-stage codegen only, then
    * interpreted expressions only. */
  private def inBothModes(body: => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        spark.conf.set("spark.sql.codegen.factoryMode", mode)
        spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
        spark.conf.set("spark.sql.ansi.enabled", "true")
        try withClue(s"[$mode] ")(body)
        finally {
          spark.conf.unset("spark.sql.codegen.factoryMode")
          spark.conf.unset("spark.sql.codegen.wholeStage")
          spark.conf.unset("spark.sql.ansi.enabled")
        }
    }

  /** An RDD-backed frame, so that projections over it run in the chosen
    * evaluation mode instead of being folded into a local relation. */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  /** A centroid: id, vector and ‖c‖². */
  private type Cent = (Int, Seq[java.lang.Double], java.lang.Double)

  /** The assignment expression `graft_nearest` replaced: one distance
    * per centroid, `least` of them, and the first centroid whose
    * distance equals it. */
  private def unrolledNearest(cents: Seq[Cent]): Column = {
    val dists = cents.map { case (ct, ce, nrm) =>
      (lit(ct), col("xx") - lit(2.0) * dotp(col("e"), array(ce.map(lit): _*)) +
        lit(nrm).cast("double"))
    }
    if (dists.size == 1) dists.head._1
    else {
      val best = least(dists.map(_._2): _*)
      coalesce(dists.map { case (c0, d) => when(d === best, c0) }: _*)
    }
  }

  private def kernelNearest(cents: Seq[Cent]): Column =
    nearest(col("e"), col("xx"), typedLit(cents.map(_._1)), typedLit(cents.map(_._2)),
      typedLit(cents.map(_._3)))

  /** ‖c‖² as the driver computes it (DotProduct's eval). */
  private def norm(ce: Seq[java.lang.Double]): java.lang.Double =
    if (ce.contains(null)) null else ce.foldLeft(0.0)((a, x) => a + x * x)

  private val pointSchema = StructType(Seq(
    StructField("row", IntegerType),
    StructField("e", ArrayType(DoubleType)),
    StructField("xx", DoubleType)))

  private def assertSameNearest(points: Seq[Row], cents: Seq[Cent]): Seq[Row] = {
    val got = frame(pointSchema, points)
      .select(col("row"), kernelNearest(cents).as("got"), unrolledNearest(cents).as("want"))
      .collect().toSeq
    val bad = got.filter(r => r.get(1) != r.get(2))
    assert(bad.isEmpty, s"${bad.size} of ${got.size} rows differ, e.g. ${bad.take(5)}")
    got.sortBy(_.getInt(0))
  }

  private def d(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  test("graft_nearest equals the unrolled least/when pick on random quantized data") {
    val rnd = new Random(7)
    val dim = 6
    // few distinct coordinates, so exact distance ties are common
    def vec(): Seq[java.lang.Double] = Seq.fill(dim)(Double.box(rnd.nextInt(5) - 2.0))
    val points = (0 until 600).map { i =>
      val e: Seq[java.lang.Double] =
        if (i % 37 == 0) null
        else {
          val v = vec()
          if (i % 41 == 0) v.updated(rnd.nextInt(dim), null) else v
        }
      val xx: java.lang.Double =
        if (e == null || e.contains(null)) null else e.map(x => x * x).sum
      Row(i, e, xx)
    }
    val base = Seq.fill(5)(vec())
    // ids ascend with gaps (vanished centroids 2 and 5); centroid 4
    // duplicates centroid 1, so every point near them ties exactly
    val cents = Seq(0 -> base(0), 1 -> base(1), 3 -> base(2), 4 -> base(1), 6 -> base(3))
      .map { case (id, ce) => (id, ce, norm(ce)) }
    inBothModes {
      val got = assertSameNearest(points, cents)
      assert(got.forall(r => r.isNullAt(1) || Set(0, 1, 3, 6)(r.getInt(1))),
        "a vanished or tied-later centroid won")
      assert(got.filter(r => r.getInt(0) % 37 == 0 || r.getInt(0) % 41 == 0)
        .forall(_.isNullAt(1)), "a null vector or element must give null")
      // a centroid with a null element has a null distance and never wins
      val withNull = cents :+ ((7, d(0, 0, 0, 0, 0, 0).updated(2, null), null))
      assert(assertSameNearest(points, withNull).forall(r => r.isNullAt(1) || r.getInt(1) != 7))
    }
  }

  test("graft_nearest edge cases: ties, 0.0 vs -0.0, nulls, k = 1") {
    val points = Seq(
      Row(0, d(0, 0), -0.0),
      Row(1, d(1, 1), 2.0),
      Row(2, null, null),
      Row(3, d(1, 0).updated(1, null), null),
      Row(4, d(1, 1), null))
    inBothModes {
      // distances 0.0 and -0.0 at row 0: equal under SQL ordering, so the
      // first listed wins either way round
      val signed = assertSameNearest(points,
        Seq((1, d(0, 0), 0.0), (2, d(0, 0), -0.0)))
      assert(signed.head.getInt(1) == 1)
      val flipped = assertSameNearest(points,
        Seq((1, d(0, 0), -0.0), (2, d(0, 0), 0.0)))
      assert(flipped.head.getInt(1) == 1)
      // NaN sorts above every double, so a finite distance beats it in
      // either position
      val nan = Seq[Cent]((1, d(0, 0), Double.NaN), (2, d(0, 0), 0.0))
      assert(assertSameNearest(points, nan)(1).getInt(1) == 2)
      assert(assertSameNearest(points, nan.reverse)(1).getInt(1) == 2)
      // exact tie between two identical centroids: the earlier id
      val tie = assertSameNearest(points,
        Seq((3, d(1, 1), 2.0), (5, d(1, 1), 2.0), (9, d(4, 4), 32.0)))
      assert(tie(1).getInt(1) == 3)
      assert(tie.drop(2).forall(_.isNullAt(1)), "null vector, element or xx")
      // k = 1: no distance is evaluated, every row gets the lone id
      val one = assertSameNearest(points, Seq((8, d(5, 5), 50.0)))
      assert(one.forall(r => !r.isNullAt(1) && r.getInt(1) == 8))
    }
  }

  /** The quantization `graft_quantize` replaced, one unrolled term per
    * element. */
  private def unrolledQuantize(arr: Column, dim: Int, scale: Double): Column =
    array((0 until dim).map { d =>
      floor(element_at(arr, d + 1).cast("double") * lit(scale) + lit(0.5)).cast("double")
    }: _*)

  private def bits(r: Row, i: Int): Seq[Option[Long]] =
    r.getSeq[java.lang.Double](i).map(x =>
      Option(x).map(y => java.lang.Double.doubleToRawLongBits(y)))

  private def rootThrowable(t: Throwable): SparkThrowable = t match {
    case s: SparkThrowable if s.getCondition != null && !s.getCondition.startsWith("FAILED") => s
    case _ if t.getCause != null => rootThrowable(t.getCause)
    case _ => fail(s"no Spark error condition in $t")
  }

  test("graft_quantize equals the unrolled floor(element_at) projection") {
    val rnd = new Random(11)
    val dim = 8
    val special = Seq(0.5e-6, -0.5e-6, 1.5e-6, -0.0, 0.0, Float.MaxValue.toDouble,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, 2.4999995e-6)
    def elem(): Any =
      if (rnd.nextInt(25) == 0) null
      else if (rnd.nextInt(6) == 0) special(rnd.nextInt(special.size))
      else rnd.nextGaussian() * math.pow(10, rnd.nextInt(9) - 6)
    // lengths dim..dim+3: longer vectors are truncated to dim
    val rows = (0 until 500).map { i =>
      Row(i, if (i % 53 == 0) null else Seq.fill(dim + rnd.nextInt(4))(elem()))
    }
    for (et <- Seq(DoubleType, FloatType)) {
      val schema = StructType(Seq(StructField("row", IntegerType),
        StructField("v", ArrayType(et))))
      val typed = if (et == FloatType)
        rows.map(r => Row(r.getInt(0), Option(r.getSeq[Any](1)).map(_.map {
          case null => null
          case x: Double => x.toFloat
        }).orNull))
      else rows
      inBothModes {
        val got = frame(schema, typed)
          .select(col("row"), quantize(col("v"), dim, 1e6).as("got"),
            unrolledQuantize(col("v"), dim, 1e6).as("want"))
          .collect()
        val bad = got.filter(r => bits(r, 1) != bits(r, 2))
        assert(bad.isEmpty, s"$et: ${bad.size} rows differ, e.g. ${bad.take(3).mkString}")
        assert(got.forall(_.getSeq[Any](1).size == dim))
      }
    }
  }

  test("graft_quantize on a vector shorter than dim raises element_at's ANSI error") {
    val schema = StructType(Seq(StructField("v", ArrayType(FloatType))))
    // one short row, so the failing index does not depend on task order
    val rows = Seq(Row(Seq(1f, 2f, 3f, 4f)), Row(Seq(1f, 2f)), Row(Seq(1f, 2f, 3f, 4f, 5f)))
    inBothModes {
      def err(c: Column): SparkThrowable =
        rootThrowable(intercept[Exception](frame(schema, rows).select(c).collect()))
      val got = err(quantize(col("v"), 4, 1e6))
      val want = err(unrolledQuantize(col("v"), 4, 1e6))
      assert(got.getCondition == "INVALID_ARRAY_INDEX_IN_ELEMENT_AT")
      assert(got.getCondition == want.getCondition)
      assert(got.getMessageParameters == want.getMessageParameters)
      assert(got.getMessageParameters.get("indexValue") == "3")
    }
    // without ANSI the missing elements are nulls, as element_at's were
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val got = frame(schema, rows).select(quantize(col("v"), 4, 1e6),
        unrolledQuantize(col("v"), 4, 1e6)).collect()
      assert(got.forall(r => bits(r, 0) == bits(r, 1)))
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("the k-means assignment stage compiles to the same code for any centroids") {
    def points(dim: Int): DataFrame = {
      val schema = StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType))))
      val rows = (0 until 40).map(i =>
        Row(i.toLong, (0 until dim).map(j => ((i * 7 + j * 3) % 11 - 5) / 10f)))
      Similarity.lloydPoints(frame(schema, rows), "vec_id", "embedding", dim)
    }
    def cents(k: Int, dim: Int, shift: Double): Seq[(Int, Seq[Double])] =
      (0 until k).map(c => c * 2 -> (0 until dim).map(j => (c + j) * 1e5 + shift))
    def source(assign: DataFrame): Seq[String] = {
      assign.collect() // adaptive execution collapses codegen stages as it runs
      val code = codegenStringSeq(assign.queryExecution.executedPlan).map(_._2)
      assert(code.nonEmpty, "no whole-stage code for the assignment frame")
      code
    }
    val (p8, p64) = (points(8), points(64))
    try {
      val base = source(Similarity.lloydAssign(p64, cents(4, 64, 0.0)))
      assert(source(Similarity.lloydAssign(p64, cents(4, 64, 123.0))) == base,
        "two centroid sets")
      assert(source(Similarity.lloydAssign(p64, cents(3, 64, 0.0))) == base, "k = 3 vs 4")
      assert(source(Similarity.lloydAssign(p8, cents(4, 8, 0.0))) == base, "dim 8 vs 64")
      // the guard can fail: the unrolled spelling inlines ‖c‖² as Java
      // constants, so its source follows the centroids
      def unrolled(shift: Double) = source(p64.select(col("id"),
        unrolledNearest(cents(4, 64, shift).map { case (c, ce) =>
          val boxed = ce.map(Double.box)
          (c, boxed, norm(boxed))
        }).as("cent"), col("e")))
      assert(unrolled(0.0) != unrolled(123.0))
    } finally {
      p8.unpersist()
      p64.unpersist()
    }
  }

  test("lloydAssign bounds the centroid literals at k·dim <= 2^20 doubles") {
    val pts = spark.range(1).select(col("id"), array(lit(0.0)).as("e"), lit(0.0).as("xx"))
    val big = (0 until 17).map(c => c -> Seq.fill(1 << 16)(0.0))
    val e = intercept[IllegalArgumentException](Similarity.lloydAssign(pts, big))
    assert(e.getMessage.contains("1114112 doubles"), e.getMessage)
    assert(Similarity.lloydAssign(pts, big.take(16)).columns.toSeq == Seq("id", "cent", "e"))
  }
}
