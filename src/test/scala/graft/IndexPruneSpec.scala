package graft

import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The ANN index scale claim made concrete: a persisted signature index
  * queried through the enumerated Hamming ball must PRUNE at the scan —
  * partition filters on `__sig`, not a full read plus a runtime
  * bit-count filter — and return exactly the in-memory result. */
class IndexPruneSpec extends SparkSpecBase {

  test("persisted LSH index prunes to the Hamming ball's partitions") {
    val emb = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val q = Seq.fill(64)(0.1)
    val planes = 6 // 64 signature values -> a sane partition count
    val index = Similarity.buildIndex(emb, "vec_id", "embedding", 64, planes)

    val dir = TempDirs.create("graft_lsh_idx").toString
    index.write.mode("overwrite").partitionBy("__sig").parquet(dir)
    val persisted = spark.read.parquet(dir)

    val queried = Similarity.queryIndex(persisted, "vec_id", "embedding",
      q, k = 10, planes = planes, maxHammingDist = 1)
    val plan = queried.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [__sig"),
      "ball IN-list did not prune partitions:\n" + plan.take(800))

    val inMemory = Similarity.queryIndex(index, "vec_id", "embedding",
      q, k = 10, planes = planes, maxHammingDist = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fromDisk = queried.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(fromDisk == inMemory && fromDisk.nonEmpty)
  }

  test("hammingBall enumerates exactly the signatures within distance d") {
    val ball = Similarity.hammingBall(0L, planes = 12, d = 2)
    assert(ball.size == 1 + 12 + 66)
    assert(ball.forall(s => java.lang.Long.bitCount(s) <= 2))
    assert(ball.distinct.size == ball.size)
  }
}
