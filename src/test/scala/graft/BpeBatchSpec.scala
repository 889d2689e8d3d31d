package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

import graft.operators.TextOps

/** Wave-batched BPE training must be BIT-IDENTICAL to the sequential
  * greedy it replaces — rules, counts, per-rule token totals, and the
  * final spellings. The corpora below are constructed to hit every
  * admission boundary: new-pair domination (a merge's product becomes
  * the next best pair), shared-symbol interaction, count-bound
  * violations, self pairs, and cleanly batchable disjoint pairs. */
class BpeBatchSpec extends SparkSpecBase {
  import spark.implicits._

  private def assertSame(words: DataFrame, rounds: Int, headSize: Int = 64): Unit = {
    val (seqRules, seqSpelled) =
      BpeSequential.bpeTrainWithSpellings(words, rounds)
    val (batRules, batSpelled) =
      TextOps.bpeTrainBatchedWithSpellings(words, rounds, headSize)
    val s = seqRules.orderBy("merge_rank")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    val b = batRules.orderBy("merge_rank")
      .as[(Int, String, String, Long, Long)].collect().toSeq
    assert(b == s, s"rules diverged:\nseq: $s\nbat: $b")
    val ss = seqSpelled.orderBy("word")
      .as[(String, Long, String)].collect().toSeq
    val bs = batSpelled.orderBy("word")
      .as[(String, Long, String)].collect().toSeq
    assert(bs == ss, "final spellings diverged")
  }

  test("new-pair domination: the merge product wins the next round, " +
    "so waves stay width 1") {
    // "abc"×10: greedy merges (a,b) then (ab,c) — the second-best
    // ORIGINAL pair (b,c)=10 ties the first but shares b, and after
    // merging, (ab,c)=10 must be compared against nothing stale
    val words = Seq(("abc", 10L)).toDF("word", "freq")
    assertSame(words, 2)
  }

  test("disjoint pairs batch into one wave and still match sequential") {
    // three words with non-interacting top pairs at distinct counts
    val words = Seq(("ab", 10L), ("cd", 9L), ("ef", 8L), ("gh", 7L))
      .toDF("word", "freq")
    assertSame(words, 3)
  }

  test("shared-symbol candidates stop the wave, not skip it") {
    // (a,b)=12 then (b,c)=9 shares b: wave 1 = {(a,b)} only; the next
    // wave recounts — (b,c) instances where b was consumed are gone
    val words = Seq(("ab", 12L), ("bc", 9L), ("abc", 0L), ("de", 5L))
      .filter(_._2 > 0).toDF("word", "freq")
    assertSame(words, 3)
  }

  test("count-bound violation: a candidate under an earlier rule's " +
    "adjacency max waits for the recount") {
    // (a,b)=10; (x,a)=9 is adjacent (destroyed contexts "x a b"), and
    // (c,d)=8 sits under B((a,b)) ≥ 9, so the wave must stop after
    // (a,b) — sequential's round 2 picks from RECOUNTED values
    val words = Seq(("xab", 9L), ("ab", 1L), ("cd", 8L))
      .toDF("word", "freq")
    assertSame(words, 3)
  }

  test("self pairs admit only as single-rule waves (overlap-correct " +
    "token totals)") {
    // (a,a)=12 from "aaa"×6 (two adjacencies each, ONE merge each) —
    // tokens_after must come from the recount, not a count decrement
    val words = Seq(("aaa", 6L), ("bc", 5L), ("de", 4L))
      .toDF("word", "freq")
    assertSame(words, 3)
  }

  test("every corpus, self pairs included, matches sequential at head sizes 1, 2 and 64") {
    // (corpus, rounds): the corpora above, then self pairs throughout —
    // runs of one symbol, a merged symbol that pairs with itself
    // ("abab"), and ties between self and plain pairs
    val corpora = Seq(
      Seq(("abc", 10L)) -> 2, Seq(("ab", 10L), ("cd", 9L), ("ef", 8L), ("gh", 7L)) -> 3,
      Seq(("ab", 12L), ("bc", 9L), ("de", 5L)) -> 3, Seq(("xab", 9L), ("ab", 1L), ("cd", 8L)) -> 3,
      Seq(("aaa", 6L), ("bc", 5L), ("de", 4L)) -> 3,
      Seq(("aaaa", 5L), ("aab", 3L), ("bbb", 4L), ("abab", 2L), ("cc", 6L), ("dd", 6L)) -> 6)
    for (headSize <- Seq(1, 2, 64); ((c, rounds), i) <- corpora.zipWithIndex)
      withClue(s"corpus $i, head size $headSize: ") {
        assertSame(c.toDF("word", "freq"), rounds, headSize)
      }
  }

  test("a BPE wave plans no nested-loop join and no broadcast") {
    val words = Seq(("ab", 10L), ("cd", 9L), ("abcd", 3L)).toDF("word", "freq")
    val nodes = ExecutedPlans.of(spark)(TextOps.bpeTrainBatched(words, 3).collect())
      .flatMap(ExecutedPlans.flatten)
    assert(nodes.nonEmpty)
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]))
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeExec]))
  }

  test("6 rounds on the real documents corpus match sequential exactly") {
    val words = Tables(spark, sf, "documents")
      .select(explode(TextOps.normWords(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    assertSame(words, 6)
  }
}
