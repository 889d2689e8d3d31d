package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Column-level helpers shared across the engine.
  *
  * Two concerns live here:
  *
  * 1. '''pandas NaN/null duality''' (SURVEY §2.11). The reference
  *    (IntelPython/sdc, `sdc/hiframes/api.py:53-107`) treats float NaN as
  *    the missing value and has no integer nulls; Spark distinguishes
  *    `null` from `NaN` and its aggregates skip null but *include* NaN.
  *    `nanToNull` normalizes a float column so Spark aggregates behave like
  *    pandas `skipna=True` kernels (`sdc/functions/numpy_like.py:108-771`).
  *
  * 2. '''oracle-exact floating-point aggregation.''' Summing doubles is
  *    order-dependent, so a distributed sum can differ from a single-node
  *    oracle in the low bits. The test data's money columns are 2-decimal
  *    quantities stored as doubles; summing them as fixed-point decimals is
  *    exact, associative, and therefore bit-identical on any partitioning —
  *    the right semantics at 100 TB too (no silent drift as the cluster
  *    grows). Decimal aggregation in Spark stays inside whole-stage codegen.
  */
package object functions {

  /** Ordered array dot product (native codegen expression [[DotProduct]];
    * sessions register it via `spark.sql.extensions=graft.GraftExtensions`). */
  def dotp(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Nearest-centroid id (native codegen expression [[NearestCentroid]]):
    * first minimum of `xx − 2·dot(e, cents[j]) + norms[j]`. Pass `ids`,
    * `cents` and `norms` as array literals so the generated code does not
    * depend on their values. */
  def nearest(e: Column, xx: Column, ids: Column, cents: Column,
              norms: Column): Column =
    call_function("graft_nearest", e, xx, ids, cents, norms)

  /** First `dim` elements as `(double) floor(x·scale + 0.5)` (native
    * codegen expression [[QuantizeArray]]). */
  def quantize(arr: Column, dim: Int, scale: Double): Column =
    call_function("graft_quantize", arr, lit(dim), lit(scale))

  /** The w-shingle hashes of a word array as an ascending, distinct
    * `array<long>` (native codegen expression [[ShingleSet]]). */
  def shingleSet(words: Column, w: Int): Column =
    call_function("graft_shingle_set", words, lit(w))

  /** The affine minhashes of a hash set under `coeffs`, as an array
    * (native codegen expression [[MinHashArray]]). The coefficients go in
    * as array literals, so the generated code does not depend on them. */
  def minhash(sh: Column, coeffs: Seq[(Long, Long)]): Column = {
    require(coeffs.forall { case (a, b) =>
        a >= 0 && a < ShingleKernels.MinhashP && b >= 0 && b < ShingleKernels.MinhashP },
      "minhash coefficients must lie in [0, 2^31 - 1)")
    call_function("graft_minhash", sh, typedLit(coeffs.map(_._1)), typedLit(coeffs.map(_._2)))
  }

  /** Jaccard similarity of two ascending, distinct `array<long>` sets by
    * one merge (native codegen expression [[SortedJaccard]]). */
  def jaccard(a: Column, b: Column): Column = call_function("graft_jaccard", a, b)

  /** A running scan of `kind` over one partition's rows, seeded with the
    * partition's `carry` (native codegen expression [[RunningScan]]). */
  def running(kind: String, value: Column, carry: Column): Column =
    call_function("graft_running", lit(kind), value, carry)

  /** First 8 md5 hex chars of `c` folded to a long — THE cross-engine
    * 32-bit hash (DuckDB replays it by folding the same hex nibbles).
    * Every deterministic bucket/split/shingle hash in the engine derives
    * from this one definition. */
  def md5Fold32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic bucket in [0, mod) from an optionally salted key —
    * the reproducible-under-any-partitioning substitute for RNG
    * sampling/splitting (df.sample is neither cross-engine nor
    * cross-run stable). */
  def md5Bucket(c: Column, mod: Long, salt: String = ""): Column =
    pmod(md5Fold32(if (salt.isEmpty) c.cast("string")
                   else concat(lit(salt), c.cast("string"))), lit(mod))

  /** pandas missing-value normalization: NaN becomes null. */
  def nanToNull(c: Column): Column = nanvl(c, lit(null))

  /** pandas isna: true for both NaN and null (floats). */
  def isNa(c: Column): Column = c.isNull || c.isNaN

  /** Exact sum of a fixed-decimal-valued double column; result as double.
    * `scale` = number of decimal digits the data actually carries. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  /** TPC-H's discounted line revenue `price · (1 − discount)` as EXACT
    * decimal arithmetic — the one expression every revenue query sums.
    * Keep it decimal through the aggregate; cast to double at output
    * (DecimalExactnessPropertySpec pins the recipe vs BigDecimal). */
  def discountedRevenue(price: Column, discount: Column): Column =
    price.cast(DecimalType(30, 2)) *
      (lit(BigDecimal(1)).cast(DecimalType(12, 2)) -
        discount.cast(DecimalType(12, 2)))

  /** Exact-numerator mean: decimal sum divided by count, as double.
    * Deterministic across partitionings (same two doubles divided). */
  def dmean(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** Sample variance from exact power sums:
    * var = (Σx² − (Σx)²/n) / (n−1), every input an exact double, every
    * op IEEE-deterministic — matches any oracle computing the same formula. */
  def dvarSamp(c: Column, scale: Int = 2): Column = {
    val n = count(c).cast("double")
    val s1 = dsum(c, scale)
    val s2 = sum((c * c).cast(DecimalType(32, 2 * scale))).cast("double")
    (s2 - s1 * s1 / n) / (n - lit(1.0))
  }

  /** Sample stddev via the same exact-sums route (sqrt is correctly
    * rounded IEEE, so it stays deterministic). */
  def dstdSamp(c: Column, scale: Int = 2): Column = sqrt(dvarSamp(c, scale))

  /** Floor division with pandas semantics (`//`): floor(a/b), so negative
    * quotients round toward −∞ (SURVEY §2.10). */
  def floorDiv(a: Column, b: Column): Column = floor(a / b)
}
