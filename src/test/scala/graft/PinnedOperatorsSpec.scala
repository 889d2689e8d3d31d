package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Pin, Similarity}

/** Pins are the engine's one materialization primitive: the near-dup
  * operators and k-means materialize their shared frames through
  * [[graft.operators.Pin]], never through Spark's cache. After each call
  * the session's cache is empty, and no SQL execution the call runs
  * plans an in-memory scan. One operator also runs with reliable pins
  * and gives the same rows. */
class PinnedOperatorsSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)))

  /** Near-dup pairs (a doc and a one-word edit of it), exact duplicates
    * (so simhash pairs too) and unrelated docs of mixed length and
    * language. */
  private lazy val corpus: DataFrame = {
    val rnd = new scala.util.Random(5)
    val vocab = (0 until 60).map(i => s"w$i")
    def sentence(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
    val langs = Seq("en", "de")
    val rows = (0 until 10).flatMap { i =>
      val ws = sentence(8 + (i % 3) * 12)
      Seq(Row(i.toLong, ws.mkString(" "), langs(i % 2)),
        Row(100L + i, (if (i < 3) ws else ws.init :+ "edit").mkString(" "), langs(i % 2)))
    } ++ (0 until 8).map(j =>
      Row(200L + j, sentence(8 + (j % 3) * 12).mkString(" "), langs(j % 2)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private lazy val points: DataFrame = {
    val schema = StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>")
    val rows = (0 until 40).map(j =>
      Row(j.toLong, (0 until 4).map(d => ((j % 7) + 0.1 * d).toFloat)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Every operator that used to cache a frame, each returning its
    * result frame. */
  private val ops: Seq[(String, () => DataFrame)] = Seq(
    "unionPairsFlagged" -> (() =>
      Dedup.unionPairsFlagged(corpus, "doc_id", "text", "lang")),
    "minhashSortedPairs" -> (() =>
      Dedup.minhashSortedPairs(corpus, "doc_id", "text", passes = 2, window = 2)),
    "minhashPairs" -> (() =>
      Dedup.minhashPairs(corpus, "doc_id", "text", threshold = 0.5)),
    "sortedNeighborPairs" -> (() =>
      Dedup.sortedNeighborPairs(corpus, "doc_id", "text", "lang")),
    "chainSimhashUnionPairs" -> (() =>
      Dedup.chainSimhashUnionPairs(corpus, "doc_id", "text", passes = 2, window = 2)),
    "simhashPairs" -> (() => Dedup.simhashPairs(corpus, "doc_id", "text")),
    "incrementalNearDup" -> { () =>
      val batch = corpus.filter(col("doc_id") >= 100).select(col("doc_id"), col("text"))
      val base = corpus.filter(col("doc_id") < 100).select(col("doc_id"), col("text"))
      Dedup.incrementalNearDup(batch, base,
        Dedup.chainSignatures(base, "doc_id", "text", passes = 2), "doc_id", "text",
        passes = 2, window = 2)
    },
    "ngramJaccardPairs" -> (() =>
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "lang")),
    "kmeans" -> (() =>
      Similarity.kmeans(points, "vec_id", "embedding", dim = 4, k = 3, iters = 2)),
    "kmeansConverged" -> (() =>
      Similarity.kmeansConverged(points, "vec_id", "embedding", dim = 4, k = 3,
        epsMilli = 1L, maxIters = 3)._1))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  for ((op, run) <- ops)
    test(s"$op materializes through pins only: no cached frame, no in-memory scan") {
      // frames other suites cached in the shared session are not this op's
      spark.catalog.clearCache()
      var out = Seq.empty[String]
      val plans = ExecutedPlans.of(spark) { out = rows(run()) }
      assert(out.nonEmpty, s"$op returned no rows")
      assert(spark.sharedState.cacheManager.isEmpty, s"$op left a cached frame")
      assert(plans.nonEmpty, s"$op ran no SQL execution")
      val scans = plans.filter(ExecutedPlans.flatten(_).exists(_.isInstanceOf[InMemoryTableScanExec]))
      assert(scans.isEmpty, s"$op planned an in-memory scan:\n${scans.mkString("\n")}")
    }

  test("unionPairsFlagged gives the same rows with reliable pins, and caches nothing") {
    val local = rows(Dedup.unionPairsFlagged(corpus, "doc_id", "text", "lang"))
    val dir = TempDirs.create("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Pin.FLAG, "true")
    try {
      spark.catalog.clearCache()
      var reliable = Seq.empty[String]
      val plans = ExecutedPlans.of(spark) {
        reliable = rows(Dedup.unionPairsFlagged(corpus, "doc_id", "text", "lang"))
      }
      assert(reliable == local)
      assert(local.nonEmpty)
      assert(spark.sharedState.cacheManager.isEmpty, "a cached frame is left")
      assert(!plans.flatMap(ExecutedPlans.flatten).exists(_.isInstanceOf[InMemoryTableScanExec]),
        "an in-memory scan was planned")
      val wrote = java.nio.file.Files.walk(dir).filter(_.toFile.isFile).count()
      assert(wrote > 0, "no checkpoint files written in reliable mode")
    } finally {
      spark.conf.set(Pin.FLAG, "false")
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
