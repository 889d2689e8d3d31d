package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Dedup + similarity operators on small literal frames. */
class OperatorsSpec extends SparkSpecBase {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again today"),
    (2L, "the quick brown fox jumps over the lazy dog again and again now"),
    (3L, "completely different content about spark query engines and scale"),
    (4L, "the quick brown fox jumps over the lazy dog again and again today"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min id per content hash") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
  }

  test("minhash LSH pairs the near-duplicates, not the unrelated doc") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 16, bands = 4, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical docs always collide
    assert(pairs.forall { case (a, b) => a != 3L && b != 3L })
  }

  test("connected components: min label floods chains, components stay apart") {
    // chain 1—2—3 (needs 2 propagation rounds to flood 1 → 3), pair 5—6,
    // and 9—1 closing back to the minimum — labels must be the component min.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 1L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("simhash is deterministic and equal for equal text") {
    val sigs = docs.select(col("doc_id"),
        Dedup.simhash64(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(4L))
    assert(sigs(1L) != sigs(3L))
  }

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    .toDF("vec_id", "embedding")

  test("brute-force top-k ranks the identical vector first") {
    val got = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
        Seq(1.0, 0.0, 0.0, 0.0), k = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L))
  }

  test("lsh index query finds the same top hit as brute force") {
    val got = Similarity.lshTopK(vecs, "vec_id", "embedding",
        Seq(1.0, 0.0, 0.0, 0.0), k = 1, planes = 8, maxHammingDist = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("merge_asof directions: backward<=ts, forward>=ts, nearest picks the closer") {
    import graft.operators.MergeAsof
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, "k", ts(10)), (2L, "k", ts(30)), (3L, "k", ts(50)))
      .toDF("id", "key", "t")
    val right = Seq(("k", ts(8), 8.0), ("k", ts(29), 29.0), ("k", ts(58), 58.0))
      .toDF("key", "t", "v")
    def vals(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").select("v").collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getDouble(0))).toSeq
    // backward: latest right <= t
    assert(vals(MergeAsof.backward(left, right, "t", Seq("key"), Seq("v")))
      == Seq(Some(8.0), Some(29.0), Some(29.0)))
    // forward: earliest right >= t
    assert(vals(MergeAsof.forward(left, right, "t", Seq("key"), Seq("v")))
      == Seq(Some(29.0), Some(58.0), Some(58.0)))
    // nearest: 10→8 (2 < 19), 30→29 (1 < 28), 50→58 (8 < 21)
    assert(vals(MergeAsof.nearest(left, right, "t", Seq("key"), Seq("v")))
      == Seq(Some(8.0), Some(29.0), Some(58.0)))
  }

  test("merge_asof attaches the MATCHED row's value even when it is null") {
    import graft.operators.MergeAsof
    import java.sql.Timestamp
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, "k", ts(10))).toDF("id", "key", "t")
    // The matched row carries a null value in every direction; a farther
    // row's non-null value must NOT leak through an ignoreNulls fill
    // (pandas attaches the match's NaN; so does a DuckDB ASOF join).
    // backward: match t=9 (null), decoy t=1; forward: match t=11 (null),
    // decoy t=19; nearest: 9 vs 11 tie → backward's null.
    val right = Seq(("k", ts(1), Some(1.0)), ("k", ts(9), None),
      ("k", ts(11), None), ("k", ts(19), Some(19.0)))
      .toDF("key", "t", "v")
    for (dir <- Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        String, Seq[String], Seq[String]) => org.apache.spark.sql.DataFrame](
      MergeAsof.backward(_, _, _, _, _), MergeAsof.forward(_, _, _, _, _),
      MergeAsof.nearest)) {
      val got = dir(left, right, "t", Seq("key"), Seq("v"))
        .select("v").collect().head
      assert(got.isNullAt(0), s"expected matched-row null, got $got")
    }
  }

  test("near-dup pairs finds the close pair above threshold only") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, planes = 4, threshold = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.subsetOf(Set((1L, 2L)))) // cos(1,2)≈0.994; recall is probabilistic
    val none = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        dim = 4, planes = 4, threshold = 0.999)
      .count()
    assert(none == 0)
  }
}
