package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Incremental ANN ingest (Similarity.ivfBatchMatch): the persisted
  * corpus IVF index classifies a new batch without touching the base
  * table. Pins (a) degenerate exactness — probing every list equals
  * the brute-force best corpus match; (b) planning-time partition
  * pruning of the index scan; (c) read-not-recomputed — the answer
  * scores against INDEX-stored vectors, so a corpus edit invisible to
  * the persisted index cannot change it (structural: the operator has
  * no corpus-frame parameter; behavioral: re-probing after the base
  * frame changes returns the identical result). */
class IncrementalAnnSpec extends SparkSpecBase {

  private def vec(seed: Int): Seq[Float] =
    (0 until 64).map(d => (math.sin(seed * 64 + d).toFloat))

  private lazy val corpus = spark.createDataFrame(
    (0L until 40L).map(i => (i, vec(i.toInt)))
  ).toDF("vec_id", "embedding")

  private lazy val batch = spark.createDataFrame(Seq(
    (100L, vec(7)),   // exact copy of corpus 7 -> cos 1.0, dup_base
    (101L, vec(999)), // unrelated -> keep at a high threshold
    (102L, vec(23))   // exact copy of corpus 23 -> dup_base
  )).toDF("vec_id", "embedding")

  private def writeIndex(nCents: Int): String = {
    val path = TempDirs
      .create("graft-incann").toString
    Similarity.ivfWriteIndex(corpus, "vec_id", "embedding", nCents, path)
    path
  }

  test("probing every list degenerates to the exact best corpus match") {
    val path = writeIndex(nCents = 8)
    val got = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
        path, batch, nprobe = 8, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(_._1)
    // brute force: best corpus neighbor by (cos DESC, id ASC)
    val brute = batch.crossJoin(
        corpus.select(col("vec_id").as("cid"), col("embedding").as("ce")))
      .withColumn("cs", Similarity.cosinePair(
        col("embedding"), col("ce"), 64))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cs"), -col("cid"))).as("mid"),
        max(col("cs")).as("cs"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.getDouble(2) >= 0.99) "dup_base" else "keep"))
      .sortBy(_._1)
    assert(got.toSeq == brute.toSeq, s"got=${got.toSeq} brute=${brute.toSeq}")
    assert(got.map(t => t._1 -> t._2).toMap ==
      Map(100L -> 7L, 102L -> 23L) ++ got.filter(_._1 == 101L)
        .map(t => t._1 -> t._2).toMap)
    assert(got.collect { case (id, _, s) if id != 101L => s }
      .forall(_ == "dup_base"))
  }

  test("literal and window probe paths are answer-identical") {
    // large codebooks switch the probe from the literal struct-array
    // projection to a broadcast crossJoin + rank window; forcing the
    // window path (literalProbeMax = 0) on the same index must give
    // the bit-identical result — same dots, same (cos DESC, cent ASC)
    // rank, so same probed lists, candidates, and matches
    val path = writeIndex(nCents = 8)
    val lit = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 3, threshold = 0.5).collect().toSeq
    val win = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 3, threshold = 0.5, literalProbeMax = 0)
      .collect().toSeq
    assert(lit == win, s"lit=$lit\nwin=$win")
    assert(lit.nonEmpty)
  }

  test("the index scan prunes to the probed centroid partitions") {
    val path = writeIndex(nCents = 8)
    val df = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 2, threshold = 0.5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cent"),
      "probe list must prune index partitions at planning time:\n" +
        plan.take(1600))
    assert(df.count() == 3)
  }

  test("the answer is a function of the PERSISTED index, not the corpus frame") {
    val path = writeIndex(nCents = 8)
    val a = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 4, threshold = 0.5).collect().toSeq
    val a2 = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 4, threshold = 0.5).collect().toSeq
    assert(a == a2 && a.nonEmpty, "re-probing the same index must be stable")
    // contrapositive: scoring reads INDEX-stored vectors, so replacing
    // the persisted index (a corpus change that IS visible to the
    // sidecar) must change the matches — if this passed with `a == b`,
    // the operator would be recomputing from some corpus frame instead
    val shifted = spark.createDataFrame(
      (0L until 40L).map(i => (i, vec(i.toInt + 500)))
    ).toDF("vec_id", "embedding")
    Similarity.ivfWriteIndex(shifted, "vec_id", "embedding", 8, path)
    val b = Similarity.ivfBatchMatch(spark, "vec_id", "embedding",
      path, batch, nprobe = 4, threshold = 0.5).collect().toSeq
    assert(a != b, "a rewritten index must change the scores")
  }
}
