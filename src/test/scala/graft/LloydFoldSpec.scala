package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.dotp
import graft.operators.{Pin, Similarity}
import graft.operators.Pin.PinOps

/** The k-means update is a fold over the pinned points
  * (`Similarity.lloydFold`); it must equal the (cent, pos) shuffle
  * aggregate it replaced ([[LloydReference]]) bit for bit — counts, and
  * every mean's bits, a null mean included — at any partition count, on
  * degenerate inputs, in both pin modes, under ANSI and through both
  * generated code and `eval`; and it must run as one job with no
  * shuffle. */
class LloydFoldSpec extends SparkSpecBase {

  private type Update = Seq[(Int, Long, Seq[Double])]

  /** Pinned points (id, e, xx) over `parts` partitions, as
    * `Similarity.lloydPoints` builds them from quantized vectors. */
  private def points(vecs: Seq[Seq[java.lang.Double]], parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("e", ArrayType(DoubleType))))
    val rows = vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .withColumn("xx", dotp(col("e"), col("e"))).pinned
  }

  private def bits(u: Update): Seq[(Int, Long, Seq[Option[Long]])] =
    u.map { case (ct, n, ce) => (ct, n, ce.asInstanceOf[Seq[java.lang.Double]]
      .map(x => Option(x).map(java.lang.Double.doubleToRawLongBits(_)))) }

  private def assertSameUpdate(pts: DataFrame, cents: Seq[(Int, Seq[Double])],
                               dim: Int): Update = {
    val got = Similarity.lloydFold(pts, cents, dim)
    val want = LloydReference.update(Similarity.lloydAssign(pts, cents))
    assert(bits(got) == bits(want), s"\nfold: $got\nagg:  $want")
    got
  }

  /** Whole-stage codegen only, then interpreted expressions only; ANSI on. */
  private def inModes(body: => Unit): Unit =
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withClue(s"$factory: ") {
        val confs = Seq("spark.sql.ansi.enabled" -> "true",
          "spark.sql.codegen.factoryMode" -> factory,
          "spark.sql.codegen.wholeStage" -> wholeStage)
        confs.foreach { case (key, value) => spark.conf.set(key, value) }
        try body finally confs.foreach { case (key, _) => spark.conf.unset(key) }
      }

  private def withReliablePins(body: => Unit): Unit = {
    val dir = TempDirs.create("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(Pin.FLAG, "true")
    try body
    finally {
      spark.conf.set(Pin.FLAG, "false")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  private def v(xs: Double*): Seq[java.lang.Double] = xs.map(Double.box)

  // integral doubles with exact ties: few distinct coordinates
  private lazy val random: Seq[Seq[java.lang.Double]] = {
    val rnd = new scala.util.Random(13)
    Seq.fill(300)(Seq.fill(5)(Double.box((rnd.nextInt(9) - 4) * 1e6)))
  }

  private def cents(vecs: Seq[Seq[java.lang.Double]], ids: Int*): Seq[(Int, Seq[Double])] =
    ids.zipWithIndex.map { case (id, i) => id -> vecs(i).asInstanceOf[Seq[Double]] }

  private def checkAll(): Unit = inModes {
    for (parts <- Seq(1, 3, 8)) withClue(s"$parts partitions: ") {
      val pts = points(random, parts)
      // ids ascend with gaps; centroid 6 duplicates centroid 1, so ties
      // go to 1 and cluster 6 is empty
      val four = cents(random.take(3) :+ random(1), 0, 1, 4, 6)
      val got = assertSameUpdate(pts, four, 5)
      assert(got.map(_._1) == Seq(0, 1, 4), "cluster 6 should be empty")
      assert(got.map(_._2).sum == 300L)
      assertSameUpdate(pts, cents(random.take(1), 3), 5) // k = 1
      assertSameUpdate(points(random.take(1), parts), cents(random.take(2), 0, 1), 5)
      // k = 1 with null vectors (counted nowhere) and null elements, one
      // position null in every vector: its mean stays null
      val holes = random.zipWithIndex.map { case (e, i) =>
        if (i % 17 == 0) null
        else if (i % 5 == 0) e.updated(1, null).updated(3, null)
        else e.updated(3, null)
      }
      val one = assertSameUpdate(points(holes, parts), cents(random, 2), 5)
      val mean = one.head._3.asInstanceOf[Seq[java.lang.Double]]
      assert(mean(3) == null && mean(1) != null && one.head._2 < 300L)
    }
  }

  test("the fold equals the shuffle-aggregate update at 1, 3 and 8 partitions, " +
    "on degenerate inputs, under ANSI in both codegen modes") {
    checkAll()
  }

  test("the fold equals the shuffle-aggregate update under reliable pins") {
    withReliablePins(checkAll())
  }

  test("a null element with k >= 2 is a named error, where the aggregate failed") {
    val pts = points(random.take(20).updated(4, v(1, 2, 3, 4, 5).updated(2, null)), 3)
    val two = cents(random, 0, 1)
    val e = intercept[IllegalArgumentException](Similarity.lloydFold(pts, two, 5))
    assert(e.getMessage.contains("nearest to no centroid"), e.getMessage)
    intercept[Exception](LloydReference.update(Similarity.lloydAssign(pts, two)))
  }

  test("a k-means round is one job of one stage: no shuffle") {
    val pts = points(random, 4)
    val stages = new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => stages.merge(g, Seq(e.stageInfos.size), (a: Seq[Int], b: Seq[Int]) => a ++ b))
    }
    def inGroup[A](group: String)(body: => A): A = {
      spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }
    val (round, mark) = ("lloydfold-round", s"lloydfold-mark-${System.nanoTime()}")
    spark.sparkContext.addSparkListener(listener)
    try {
      val plans = ExecutedPlans.of(spark) {
        inGroup(round)(Similarity.lloydFold(pts, cents(random, 0, 1, 2, 3), 5))
      }
      assert(plans.isEmpty, s"the round ran SQL actions:\n${plans.mkString("\n")}")
      // the listener bus delivers in order: once the marker job is seen,
      // so is every job of the round
      inGroup(mark)(spark.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!stages.containsKey(mark) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(stages.get(round) == Seq(1), s"stages per job: ${stages.get(round)}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
