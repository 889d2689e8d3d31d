package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Graphs, Pin, Similarity}

/** Every round of a driver loop reuses one set of generated classes:
  * the first round of PageRank and of label propagation, over the
  * initial state, generates the same whole-stage code as a later round
  * over pinned iterates, and once a loop has run, one more round of it
  * compiles nothing. */
class LoopCodegenSpec extends SparkSpecBase {
  import spark.implicits._

  /** An irregular graph (a hub plus a chord pattern), so the rank mass
    * moves for a few rounds. Pinned ranks keep the size estimate of the
    * plan that made them, and a join's estimate is the product of its
    * sides', so the estimate squares every round. On a much smaller
    * graph the first round's estimates can fall on the other side of
    * the broadcast threshold from every later round's, and its join is
    * then planned differently. */
  private def pairs: DataFrame =
    ((0 until 400).map(i => (i.toLong, ((i * 7 + 3) % 400).toLong)) ++
      (1 to 5).map(i => (0L, i.toLong)))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      .toDF("a", "b")

  private def points: DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val rows = (0 until 40).map(j =>
      Row(j.toLong, (0 until 4).map(d => ((j % 7) + 0.1 * d).toFloat)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Whole-stage sources of a frame's plan, sorted: adaptive execution
    * collapses codegen stages as it runs, so the frame runs first. */
  private def source(df: DataFrame): Seq[String] = {
    df.collect()
    val code = codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    assert(code.nonEmpty, "no whole-stage code for the round")
    code.sorted
  }

  /** Label propagation's input: the same graph as (id_a, id_b). */
  private def ccPairs: DataFrame =
    pairs.select($"a".as("id_a"), $"b".as("id_b"))

  test("after a warm-up run, one more PageRank or k-means round compiles nothing") {
    def pageRank(iters: Int): Unit = Graphs.pageRank(pairs, iters).collect()
    def converged(iters: Int): Unit =
      Graphs.pageRankConverged(pairs, epsMilli = 1L, maxIters = iters)._1.collect()
    def kmeans(iters: Int): Unit =
      Similarity.kmeans(points, "vec_id", "embedding", dim = 4, k = 3, iters).collect()
    def kmeansConverged(iters: Int): Unit =
      Similarity.kmeansConverged(points, "vec_id", "embedding", dim = 4, k = 3,
        epsMilli = 1L, maxIters = iters)._1.collect()
    for ((name, loop) <- Seq("pageRank" -> pageRank _,
        "pageRankConverged" -> converged _, "kmeans" -> kmeans _,
        "kmeansConverged" -> kmeansConverged _)) {
      loop(1)
      assert(CodegenCache.compiles(loop(2)) == 0, s"$name: round 2 compiled classes round 1 did not")
    }
  }

  test("PageRank round 1 and round k generate identical whole-stage code, gated and fixed") {
    val edges = Graphs.prEdges(pairs)
    for (gated <- Seq(false, true)) withClue(s"gated = $gated: ") {
      var pr = Pin(Graphs.prInit(edges, gated))
      val rounds = (1 to 3).map { _ =>
        val next = Graphs.prRound(edges, pr, gated)
        val code = source(next)
        pr = Pin(next)
        code
      }
      assert(rounds(1) == rounds(2), "round 2 vs round 3")
      assert(rounds(0) == rounds(2), "round 1 vs round 3")
    }
  }

  test("label propagation round 1 and round 2 generate identical whole-stage code") {
    val edges = Dedup.ccEdges(ccPairs)
    var (lab, bcast) = Dedup.ccInit(edges)
    val rounds = (1 to 2).map { _ =>
      val next = Dedup.ccRound(edges, lab, bcast)
      val code = source(next)
      lab = Pin(next)
      code
    }
    assert(rounds(0) == rounds(1))
  }

  test("after a warm-up run, one more label-propagation round compiles nothing") {
    // the rounds of Dedup.connectedComponents, which runs the star
    // contraction instead when a round budget this small runs out
    def labelProp(rounds: Int): Unit = {
      val edges = Dedup.ccEdges(ccPairs)
      val (lab0, bcast) = Dedup.ccInit(edges)
      Iterator.iterate(lab0)(Dedup.ccStep(edges, _, bcast)._1)
        .drop(rounds).next().collect()
    }
    CodegenCache.clear() // so that only the warm-up run can have compiled round 2
    labelProp(1)
    assert(CodegenCache.compiles(labelProp(2)) == 0, "round 2 compiled classes round 1 did not")
  }
}
