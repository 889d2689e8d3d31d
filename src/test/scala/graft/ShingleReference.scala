package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** The Column-form spellings of the near-dup signatures, built from
  * higher-order functions and built-in expressions. Nothing in the engine
  * runs them (they are interpreted, CodegenFallback); they are the
  * references the native kernels in `graft.functions.ShingleKernels` are
  * checked against. */
object ShingleReference {

  /** Word w-shingles as an array of strings (empty-safe). */
  def shingles(text: Column, w: Int = 3): Column = {
    val ws = TextOps.normWords(text)
    when(size(ws) < w, array(concat_ws(" ", ws)))
      .otherwise(transform(sequence(lit(0), size(ws) - w),
        i => concat_ws(" ", slice(ws, i + 1, lit(w)))))
  }

  /** One minhash term: (a·(h mod P) + b) mod P. */
  def minhashTerm(h: Column, a: Long, b: Long): Column =
    pmod(lit(a) * pmod(h, lit(Dedup.MinhashP)) + lit(b), lit(Dedup.MinhashP))

  /** k MinHash values of the shingle set as an array<long>. */
  def minhashSig(text: Column, k: Int = 16, w: Int = 3): Column = {
    val hs = transform(array_distinct(shingles(text, w)), s => Dedup.shingleBaseHash(s))
    array(Dedup.minhashCoeffs(k).map { case (a, b) =>
      array_min(transform(hs, h => minhashTerm(h, a, b)))
    }: _*)
  }

  /** 64-bit SimHash of the word multiset: per bit, the sign of Σ±1 over
    * the token hashes, with the per-bit counters in one accumulator array
    * folded by `aggregate` (each token's md5 is evaluated once). The
    * table-scale spelling is `Dedup.simhashDF`. */
  def simhash64(text: Column, bits: Int = 64): Column = {
    val masks = array((0 until bits).map(b => lit(1L << b)): _*)
    val sums = aggregate(TextOps.normWords(text), array_repeat(lit(0), bits),
      (acc, w) => {
        val (hi, lo) = Dedup.md5Halves(w)
        val bitArr = array((0 until bits).map(b => Dedup.hashBit(hi, lo, b)): _*)
        zip_with(acc, bitArr, (a, bit) => a + (bit * 2 - 1).cast("int"))
      })
    aggregate(
      zip_with(sums, masks, (s, m) => when(s > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }
}
