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
}
