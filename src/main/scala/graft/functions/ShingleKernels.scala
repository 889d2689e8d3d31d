package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression,
  TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** The near-dup family's per-row loops. Each kernel expression's `eval`
  * and generated code call one of these static helpers, so a kernel's
  * generated code is one call and its class does not depend on the data. */
object ShingleKernels {

  /** The minhash modulus, the Mersenne prime 2^31^ − 1
    * (`graft.operators.Dedup.MinhashP` explains the choice). */
  final val MinhashP = 2147483647L

  private val md5 = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))

  /** The w-shingle hashes of a word array, ascending and distinct.
    *
    * A shingle starts at each position `p ≤ n − w`, or only at 0 when
    * `n < w`; it is the window's non-null words joined by one space, as
    * `concat_ws(" ", …)` joins them, and its hash is the first four
    * bytes of its UTF-8 md5 as an unsigned big-endian int — the first
    * 8 hex digits `md5Fold32` folds. Words are copied once into one
    * space-separated buffer, in which every shingle is a contiguous
    * range. An empty word array has no shingle. */
  def shingleSet(words: ArrayData, w: Int): ArrayData = {
    val n = words.numElements()
    val from = new Array[Int](n) // byte range of word i; -1: a null word
    val to = new Array[Int](n)
    var len = 0
    var any = false
    var i = 0
    while (i < n) {
      if (words.isNullAt(i)) from(i) = -1
      else {
        if (any) len += 1
        any = true
        from(i) = len
        len += words.getUTF8String(i).numBytes()
        to(i) = len
      }
      i += 1
    }
    val buf = new Array[Byte](len)
    java.util.Arrays.fill(buf, ' '.toByte)
    i = 0
    while (i < n) {
      if (from(i) >= 0)
        words.getUTF8String(i).writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + from(i))
      i += 1
    }
    val m = if (n == 0) 0 else if (n < w) 1 else n - w + 1
    val hs = new Array[Long](m)
    val md = md5.get()
    val d = new Array[Byte](16)
    var p = 0
    while (p < m) {
      var lo = 0
      var hi = 0
      var found = false
      var j = math.min(p + w, n) - 1
      while (j >= p) { // the window's first and last non-null words
        if (from(j) >= 0) {
          if (!found) { hi = to(j); found = true }
          lo = from(j)
        }
        j -= 1
      }
      md.update(buf, lo, hi - lo)
      md.digest(d, 0, 16)
      hs(p) = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      p += 1
    }
    java.util.Arrays.sort(hs)
    var u = 0
    p = 0
    while (p < m) {
      if (u == 0 || hs(p) != hs(u - 1)) { hs(u) = hs(p); u += 1 }
      p += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (u == m) hs else java.util.Arrays.copyOf(hs, u))
  }

  /** The k affine minhashes `min over h of (a_s·(h mod P) + b_s) mod P`
    * of a hash array (null elements skipped); k nulls when it has no
    * non-null element. */
  def minhash(sh: ArrayData, a: ArrayData, b: ArrayData): ArrayData = {
    val k = a.numElements()
    if (b.numElements() != k)
      throw new IllegalArgumentException(
        s"graft_minhash: $k a-coefficients and ${b.numElements()} b-coefficients")
    val as = a.toLongArray()
    val bs = b.toLongArray()
    val out = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < sh.numElements()) {
      if (!sh.isNullAt(i)) {
        any = true
        val h = Math.floorMod(sh.getLong(i), MinhashP)
        var s = 0
        while (s < k) {
          val v = Math.floorMod(as(s) * h + bs(s), MinhashP)
          if (v < out(s)) out(s) = v
          s += 1
        }
      }
      i += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(out)
    else new GenericArrayData(new Array[Any](k))
  }

  /** |A ∩ B| of two ascending, distinct long arrays, by one merge. */
  def intersection(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  private[functions] def isLongArray(t: DataType, nullElements: Boolean): Boolean =
    t match {
      case ArrayType(LongType, containsNull) => nullElements || !containsNull
      case _ => false
    }

  private[functions] def typeFailure(name: String, want: String,
                                     got: Seq[Expression]): TypeCheckResult =
    TypeCheckResult.TypeCheckFailure(s"$name requires $want, got " +
      got.map(_.dataType.catalogString).mkString("(", ", ", ")"))
}

/** `graft_shingle_set(words, w)`: the doc's w-shingle hashes as an
  * ascending, distinct `array<long>` ([[ShingleKernels.shingleSet]]).
  * Bit-equal to `array_sort(collect_set(md5Fold32(shingle)))` over
  * `Dedup.shingleRows`' rows of the doc, in one pass over the row: no
  * explode, no per-shingle row, no aggregate. A null array gives null.
  * `w` must be a constant ≥ 1; it appears in the generated code. */
case class ShingleSet(child: Expression, w: Int) extends UnaryExpression {
  require(w >= 1, s"graft_shingle_set: w must be >= 1, got $w")

  override def prettyName: String = "graft_shingle_set"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def sql: String = s"$prettyName(${child.sql}, $w)"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case _ => ShingleKernels.typeFailure(prettyName, "an array<string>", Seq(child))
  }

  override protected def nullSafeEval(words: Any): Any =
    ShingleKernels.shingleSet(words.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ws => s"graft.functions.ShingleKernels.shingleSet($ws, $w)")

  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** `graft_minhash(sh, a, b)`: the k = |a| affine minhashes
  * `min over h ∈ sh of pmod(a_s·pmod(h, P) + b_s, P)`
  * ([[ShingleKernels.minhash]]), bit-equal to k `min(minhashTerm(h, a_s,
  * b_s))` aggregates over the set's rows. Pass `a` and `b` as array
  * literals of equal length, with every coefficient in [0, P): the
  * generated class then reads them by reference and is the same for
  * every coefficient family, and no product overflows a long. */
case class MinHashArray(sh: Expression, a: Expression, b: Expression)
    extends TernaryExpression {

  override def first: Expression = sh
  override def second: Expression = a
  override def third: Expression = b
  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = {
    import ShingleKernels.isLongArray
    if (isLongArray(sh.dataType, nullElements = true) &&
        isLongArray(a.dataType, nullElements = false) &&
        isLongArray(b.dataType, nullElements = false))
      TypeCheckResult.TypeCheckSuccess
    else ShingleKernels.typeFailure(prettyName,
      "(array<long>, array<long not null>, array<long not null>)", children)
  }

  override protected def nullSafeEval(s: Any, x: Any, y: Any): Any =
    ShingleKernels.minhash(s.asInstanceOf[ArrayData], x.asInstanceOf[ArrayData],
      y.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, x, y) => s"graft.functions.ShingleKernels.minhash($s, $x, $y)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): MinHashArray =
    copy(sh = newFirst, a = newSecond, b = newThird)
}

/** `graft_jaccard(a, b)`: |A ∩ B| / (|A| + |B| − |A ∩ B|) of two
  * ascending, distinct `array<long>` sets, with |A ∩ B| from one merge
  * ([[ShingleKernels.intersection]]). The same double as
  * `size(array_intersect(a, b)) / size(array_union(a, b))`, which builds
  * two hash sets per pair; like that division, two empty sets give null
  * (the old spelling raises DIVIDE_BY_ZERO there under ANSI mode, but no
  * shingle set is empty). Unsorted input gives a wrong count, not an
  * error: pass [[ShingleSet]]'s output. */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {

  override def prettyName: String = "graft_jaccard"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (ShingleKernels.isLongArray(left.dataType, nullElements = false) &&
        ShingleKernels.isLongArray(right.dataType, nullElements = false))
      TypeCheckResult.TypeCheckSuccess
    else ShingleKernels.typeFailure(prettyName,
      "two array<long not null> arguments", children)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val (a, b) = (l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    val n = ShingleKernels.intersection(a, b)
    val u = a.numElements() + b.numElements() - n
    if (u == 0) null else n.toDouble / u.toDouble
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val (n, u) = (ctx.freshName("n"), ctx.freshName("u"))
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = graft.functions.ShingleKernels.intersection($a, $b);
         |int $u = $a.numElements() + $b.numElements() - $n;
         |if ($u == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = (double) $n / (double) $u;
         |}
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedJaccard =
    copy(left = newLeft, right = newRight)
}
