package graft

import org.apache.spark.sql.functions._

import graft.operators.Pin.PinOps
import graft.operators.TextOps.wsTrim

/** The sequential greedy BPE trainer: one merge rule per round. It is
  * the reference [[BpeBatchSpec]] checks
  * `TextOps.bpeTrainBatchedWithSpellings` against, rule for rule and
  * spelling for spelling. */
object BpeSequential {

  /** Byte-pair-encoding MERGE TRAINING — the iterative top-pair merge
    * loop that produces a BPE vocabulary (Sennrich et al. 2016; the
    * trainer behind every production subword tokenizer; `TextOps.
    * bpeTokenCount` is only the regex stand-in for APPLYING one).
    *
    * Distributed shape — the classic trick that makes BPE feasible on a
    * 100 TB corpus: train on the (distinct word, frequency) table, not
    * the corpus. The corpus-scale tokenize + count happens ONCE
    * upstream; every merge round then runs at VOCABULARY scale —
    * explode adjacent symbol pairs weighted by word frequency, one
    * hash-agg, TakeOrdered(1) for the best pair, broadcast that 1-row
    * rule into a projection that rewrites the spelled words. No
    * per-round corpus scan, no driver-side loop over words.
    *
    * Determinism: pair counts are exact long sums; the winning pair is
    * a total order (count DESC, sym_a ASC, sym_b ASC); the merge
    * rewrite is string `replace` on a wrapped-token spelling — each
    * symbol is stored as ` sym ` (own leading AND trailing space), so
    * the pattern ` a  b ` never straddles token boundaries and
    * consecutive occurrences each own their delimiters: one
    * left-to-right `replace` pass IS the greedy BPE merge, and Spark's
    * `replace` and DuckDB's agree byte-for-byte (both verified on
    * `aaa`/`abab`). Each round is pinned — round r+1's plan reads
    * round r's result, not a 6-deep regex lineage.
    *
    * @param words (word, freq) — distinct words with corpus frequency
    * @return one row per merge: (merge_rank, sym_a, sym_b, pair_count,
    *         tokens_after) — the learned rules plus the corpus token
    *         count after each merge (recounted, not decremented:
    *         overlapping occurrences merge fewer times than they
    *         count, e.g. `aaa` has pair-count 2 but one merge). */
  def bpeTrain(words: org.apache.spark.sql.DataFrame,
               rounds: Int): org.apache.spark.sql.DataFrame =
    bpeTrainWithSpellings(words, rounds)._1

  /** [[bpeTrain]] that ALSO returns the final per-word spelling —
    * (rules, spelled(word, freq, s)) — so the ENCODE path (apply the
    * learned merges to a corpus) can join token counts per word
    * without re-deriving the merge sequence. */
  def bpeTrainWithSpellings(words: org.apache.spark.sql.DataFrame,
                            rounds: Int):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val nSyms = size(split(wsTrim(col("s")), " +"))
    var spelled = words.select(col("word"), col("freq"),
      regexp_replace(col("word"), "(.)", " $1 ").as("s")).pinned
    var rules = Vector.empty[org.apache.spark.sql.DataFrame]
    for (r <- 1 to rounds) {
      val pairs = spelled
        .select(col("freq"), split(wsTrim(col("s")), " +").as("a"))
        .select(col("freq"), col("a"), posexplode(col("a")))
        .filter(col("pos") < size(col("a")) - 1)
        .select(col("freq"), col("col").as("pa"),
          get(col("a"), col("pos") + 1).as("pb"))
      val top1 = pairs.groupBy(col("pa"), col("pb"))
        .agg(sum(col("freq")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("pa"), col("pb"))
        .limit(1).pinned
      spelled = spelled.crossJoin(broadcast(top1))
        .select(col("word"), col("freq"),
          call_function("replace", col("s"),
            concat(lit(" "), col("pa"), lit("  "), col("pb"), lit(" ")),
            concat(lit(" "), col("pa"), col("pb"), lit(" "))).as("s"))
        .pinned
      val tokensAfter = spelled
        .agg(sum(col("freq") * nSyms.cast("long")).as("tokens_after"))
      rules :+= top1
        .select(lit(r).as("merge_rank"), col("pa").as("sym_a"),
          col("pb").as("sym_b"), col("pair_count"))
        .crossJoin(broadcast(tokensAfter))
    }
    (rules.reduce(_.union(_)).orderBy(col("merge_rank")), spelled)
  }
}
