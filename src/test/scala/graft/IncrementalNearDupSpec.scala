package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental NEAR-dup ingest (Dedup.incrementalNearDup): statuses on
  * a constructed fixture, equivalence with a full recompute, and the
  * read-not-recomputed contract — the corpus side enters the candidate
  * stage as its persisted signature frame ONLY (no text parameter, so
  * re-shingling is impossible by construction), and the end-to-end
  * plan carries no corpus-wide shingle explode (pinned by Generate
  * count). */
class IncrementalNearDupSpec extends SparkSpecBase {

  // 3-word shingles; appending one word to a 10-word text keeps
  // Jaccard = 7/9 ≈ 0.78 ≥ 0.5 — a NEAR (not exact) duplicate
  private val baseText =
    "the quick brown fox jumps over the lazy dog today"
  private lazy val corpus = spark.createDataFrame(Seq(
    (1L, baseText),
    (2L, "completely different corpus content about spark engines here")
  )).toDF("doc_id", "text")

  private lazy val batch = spark.createDataFrame(Seq(
    (10L, baseText + " indeed"),                        // near-dup of corpus 1 -> dup_base
    (11L, "fresh unseen batch text with many novel words in it"),   // keep (first)
    (12L, "fresh unseen batch text with many novel words in it yes"), // near-dup of 11 -> dup_batch
    (13L, "entirely unrelated singleton batch document goes here now") // keep
  )).toDF("doc_id", "text")

  private def statuses(passes: Int = 4, window: Int = 4): Map[Long, String] = {
    val sigs = Dedup.chainSignatures(corpus, "doc_id", "text",
      passes = passes)
    Dedup.incrementalNearDup(batch, corpus, sigs, "doc_id", "text",
        passes = passes, window = window, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
  }

  test("dup_base / dup_batch / keep at near-dup granularity") {
    assert(statuses() == Map(10L -> "dup_base", 11L -> "keep",
      12L -> "dup_batch", 13L -> "keep"), statuses().toString)
  }

  test("incremental classification equals the full recompute") {
    // the oracle identity the DuckDB gate relies on: chaining the batch
    // into the corpus's persisted signature orders yields the same
    // batch-touching verified pairs as recomputing the chain over
    // corpus ∪ batch from text
    val all = corpus.unionByName(batch)
    val full = Dedup.minhashSortedPairs(all, "doc_id", "text",
        passes = 4, window = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchIds = Set(10L, 11L, 12L, 13L)
    val expected = batch.select(col("doc_id")).collect().map(_.getLong(0))
      .map { id =>
        val hitsBase = full.exists { case (a, b) =>
          (a == id && !batchIds(b)) || (b == id && !batchIds(a)) }
        val hitsSmaller = full.exists { case (a, b) =>
          b == id && batchIds(a) && batchIds(b) }
        id -> (if (hitsBase) "dup_base"
               else if (hitsSmaller) "dup_batch" else "keep")
      }.toMap
    assert(statuses() == expected, s"${statuses()} vs $expected")
  }

  test("corpus is read, not recomputed: signatures come from the sidecar") {
    // The read-not-recomputed contract, pinned FUNCTIONALLY: pick a
    // corpus doc that appears in NO candidate pair (deterministic on a
    // corpus large enough that the batch's passes·window neighborhoods
    // cannot cover it), then edit that doc's text to be byte-identical
    // to batch doc 13's. A recompute-from-text would chain the two in
    // EVERY pass (equal texts ⇒ equal minhashes ⇒ adjacent ranks) and
    // verification would read Jaccard 1.0, flipping 13 to dup_base.
    // The candidate stage consumes signatures only (its parameter list
    // has no corpus text at all), so the persisted sidecar keeps the
    // victim un-adjacent, the pair never becomes a candidate, the
    // poisoned text is never shingled, and every status is unchanged —
    // corpus text is consulted ONLY to verify sidecar-derived
    // candidates.
    val batchText = "entirely unrelated singleton batch document goes here now"
    val filler = (100L until 300L).map(i =>
      (i, s"filler corpus document number $i carrying words w${i * 7} " +
        s"w${i * 13} w${i * 31} about topic t${i % 17}"))
    val bigCorpus = spark.createDataFrame(
      Seq((1L, baseText), (2L, "completely different corpus content " +
        "about spark engines here")) ++ filler).toDF("doc_id", "text")
    val sigs = Dedup.chainSignatures(bigCorpus, "doc_id", "text",
        passes = 4)
      .persist()
    val cand = Dedup.incrementalChainCandidates(batch, "doc_id", "text",
      sigs, passes = 4, window = 4, w = 3)
    val candIds = cand.select(col("id_a")).union(cand.select(col("id_b")))
      .distinct().collect().map(_.getLong(0)).toSet
    val victim = (100L until 300L).find(!candIds(_)).get
    val baseline = Dedup.incrementalNearDup(batch, bigCorpus, sigs,
        "doc_id", "text", passes = 4, window = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val poisoned = bigCorpus.withColumn("text",
      when(col("doc_id") === victim, lit(batchText)).otherwise(col("text")))
    val got = Dedup.incrementalNearDup(batch, poisoned, sigs, "doc_id",
        "text", passes = 4, window = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    sigs.unpersist()
    assert(got(13L) == "keep",
      s"corpus text reached the candidate stage: 13 -> ${got(13L)}")
    assert(got == baseline, s"$got vs $baseline")
  }

  test("sidecar round-trip: parquet-persisted signatures classify identically") {
    val tmp = TempDirs.create("graft_sigs_spec")
      .toString
    Dedup.chainSignatures(corpus, "doc_id", "text", passes = 4)
      .write.mode("overwrite").parquet(tmp)
    val sigs = spark.read.parquet(tmp)
    val got = Dedup.incrementalNearDup(batch, corpus, sigs, "doc_id",
        "text", passes = 4, window = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == statuses(), got.toString)
  }
}
