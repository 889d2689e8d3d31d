package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** The chain-pass dial (spark.graft.dedup.chain.passes / .window) —
  * the ONE deployment knob the recall ladder sizes. Pins that a
  * non-default value set on the SESSION flows end-to-end through the
  * default-argument path every production query uses, that explicit
  * arguments still win, and that the dial genuinely changes the
  * candidate stage (not just a logged number). */
class ChainDialSpec extends SparkSpecBase {

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def withDial[A](passes: Int, window: Int)(body: => A): A =
    try {
      spark.conf.set(Dedup.ChainPassesConfKey, passes.toString)
      spark.conf.set(Dedup.ChainWindowConfKey, window.toString)
      body
    } finally {
      spark.conf.unset(Dedup.ChainPassesConfKey)
      spark.conf.unset(Dedup.ChainWindowConfKey)
    }

  test("dial resolution: measured default when unset, conf when set") {
    assert(Dedup.chainPasses(spark) == Dedup.SortedPassesDefault)
    assert(Dedup.chainWindow(spark) == Dedup.SortedWindowDefault)
    withDial(12, 6) {
      assert(Dedup.chainPasses(spark) == 12)
      assert(Dedup.chainWindow(spark) == 6)
    }
    assert(Dedup.chainPasses(spark) == Dedup.SortedPassesDefault)
  }

  test("session dial flows through the default-argument path") {
    val explicit = pairSet(Dedup.minhashSortedPairs(
      docs, "doc_id", "text", passes = 2, window = 6, threshold = 0.5))
    val viaConf = withDial(2, 6) {
      pairSet(Dedup.minhashSortedPairs(docs, "doc_id", "text",
        threshold = 0.5))
    }
    assert(viaConf == explicit,
      s"conf-dialed run != explicit 2x6 run (${viaConf.size} vs ${explicit.size} pairs)")
  }

  test("explicit arguments beat the session dial") {
    val plain = pairSet(Dedup.minhashSortedPairs(
      docs, "doc_id", "text", passes = 3, window = 4, threshold = 0.5))
    val underConf = withDial(2, 6) {
      pairSet(Dedup.minhashSortedPairs(docs, "doc_id", "text",
        passes = 3, window = 4, threshold = 0.5))
    }
    assert(underConf == plain)
  }

  test("the dial changes the candidate stage, not just a label") {
    // candidate count is EXACTLY bounded by passes*window*n minus edge
    // truncation and cross-pass duplicates — 2 passes must emit
    // strictly fewer distinct candidates than 8 on any non-degenerate
    // corpus (the fixture has hundreds of docs)
    val c2 = Dedup.minhashSortedCandidates(docs, "doc_id", "text",
      passes = 2, window = 4, w = 3).count()
    val c8 = Dedup.minhashSortedCandidates(docs, "doc_id", "text",
      passes = 8, window = 4, w = 3).count()
    assert(c2 < c8, s"candidates 2x4=$c2 vs 8x4=$c8")
  }
}
