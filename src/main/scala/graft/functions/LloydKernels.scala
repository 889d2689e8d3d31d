package graft.functions

import org.apache.spark.QueryContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ElementAt, Expression, Literal,
  SupportQueryContext, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.catalyst.trees.CurrentOrigin
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** `graft_nearest(e, xx, ids, cents, norms)`: the id of the nearest
  * centroid to `e`, the first minimum of
  * `xx − 2·dot(e, cents[j]) + norms[j]` over `j` in list order.
  *
  * This is bit-for-bit the unrolled spelling it replaces,
  * `coalesce(when(d_j === least(d_0..d_{k-1}), ids[j])…)`:
  *  - `dot` is [[DotProduct]]'s ordered fold (shorter length bounds it,
  *    a null element makes it null) and the distance is the same op
  *    sequence, `(xx − 2.0·dot) + norms[j]`;
  *  - a null distance (null `e`, `xx`, centroid, norm or element) is
  *    skipped, as `least` skips it; all-null gives null;
  *  - distances compare under SQL double ordering
  *    ([[SQLOrderingUtil.compareDoubles]]: `-0.0 == 0.0`, NaN above all),
  *    and only a strictly smaller one replaces the running minimum, so
  *    exact ties go to the earliest entry — the smallest id when `ids`
  *    ascends;
  *  - with one centroid the id is returned without evaluating any
  *    distance, even for a null `e` (the old spelling was the bare
  *    literal id).
  *
  * `ids`, `cents` and `norms` must have equal lengths (checked per row).
  * Pass them as array literals: Spark's codegen hands an array literal to
  * the generated class by reference (`references[i]`) but inlines a
  * scalar literal as a Java constant. The unrolled spelling inlined each
  * ‖c‖² as a `double` constant, so every Lloyd iteration emitted,
  * compiled and JIT-compiled a new class; this expression's class is the
  * same for every iteration, k and dim. Computing `norms` on the driver
  * with [[DotProduct]]'s own eval keeps ‖c‖² the exact double Catalyst
  * used to constant-fold. */
case class NearestCentroid(e: Expression, xx: Expression, ids: Expression,
                           cents: Expression, norms: Expression)
    extends Expression {
  import DotProduct._

  override def children: Seq[Expression] = Seq(e, xx, ids, cents, norms)
  override def prettyName: String = "graft_nearest"
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = isFloatArray(e.dataType) && xx.dataType == DoubleType &&
      ids.dataType == ArrayType(IntegerType, containsNull = false) &&
      (cents.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      }) &&
      (norms.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<float|double>, double, array<int not null>, " +
        s"array<array<double>>, array<double>), got " +
        children.map(_.dataType.catalogString).mkString("(", ", ", ")"))
  }

  override def eval(input: InternalRow): Any = {
    val idA = ids.eval(input).asInstanceOf[ArrayData]
    val cA = cents.eval(input).asInstanceOf[ArrayData]
    val nA = norms.eval(input).asInstanceOf[ArrayData]
    if (idA == null || cA == null || nA == null) return null
    val k = idA.numElements()
    if (cA.numElements() != k || nA.numElements() != k)
      throw new IllegalArgumentException(s"$prettyName: $k ids, " +
        s"${cA.numElements()} centroids and ${nA.numElements()} norms must have equal lengths")
    if (k == 1) return idA.getInt(0)
    val v = e.eval(input).asInstanceOf[ArrayData]
    val x = xx.eval(input)
    if (k == 0 || v == null || x == null) return null
    val x0 = x.asInstanceOf[Double]
    val et = elemType(e)
    var best = 0.0
    var arg: Any = null
    var j = 0
    while (j < k) {
      if (!cA.isNullAt(j) && !nA.isNullAt(j)) {
        val c = cA.getArray(j)
        val n = math.min(v.numElements(), c.numElements())
        var dot = 0.0
        var i = 0
        while (i < n && !v.isNullAt(i) && !c.isNullAt(i)) {
          dot += getDouble(v, et, i) * c.getDouble(i)
          i += 1
        }
        if (i == n) {
          val d = x0 - 2.0 * dot + nA.getDouble(j)
          if (arg == null || SQLOrderingUtil.compareDoubles(best, d) > 0) {
            best = d
            arg = idA.getInt(j)
          }
        }
      }
      j += 1
    }
    arg
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(eG, xxG, idG, cG, nG) = children.map(_.genCode(ctx))
    val Seq(idA, cA, nA, k, j, i, n, c, dot, d, best) =
      Seq("ids", "cents", "norms", "k", "j", "i", "n", "c", "dot", "d", "best")
        .map(ctx.freshName)
    val cmp = "org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles"
    ev.copy(code = code"""
       |${idG.code}
       |${cG.code}
       |${nG.code}
       |boolean ${ev.isNull} = true;
       |int ${ev.value} = -1;
       |if (!${idG.isNull} && !${cG.isNull} && !${nG.isNull}) {
       |  ArrayData $idA = ${idG.value};
       |  ArrayData $cA = ${cG.value};
       |  ArrayData $nA = ${nG.value};
       |  int $k = $idA.numElements();
       |  if ($cA.numElements() != $k || $nA.numElements() != $k) {
       |    throw new IllegalArgumentException("$prettyName: " + $k + " ids, " +
       |      $cA.numElements() + " centroids and " + $nA.numElements() +
       |      " norms must have equal lengths");
       |  }
       |  if ($k == 1) {
       |    ${ev.isNull} = false;
       |    ${ev.value} = $idA.getInt(0);
       |  } else if ($k > 1) {
       |    ${eG.code}
       |    ${xxG.code}
       |    if (!${eG.isNull} && !${xxG.isNull}) {
       |      double $best = 0.0;
       |      for (int $j = 0; $j < $k; $j++) {
       |        if ($cA.isNullAt($j) || $nA.isNullAt($j)) continue;
       |        ArrayData $c = $cA.getArray($j);
       |        int $n = java.lang.Math.min(${eG.value}.numElements(), $c.numElements());
       |        double $dot = 0.0;
       |        int $i = 0;
       |        for (; $i < $n && !${eG.value}.isNullAt($i) && !$c.isNullAt($i); $i++) {
       |          $dot += ${getDoubleCode(eG.value.toString, elemType(e), i)} * $c.getDouble($i);
       |        }
       |        if ($i < $n) continue;
       |        double $d = ${xxG.value} - 2.0 * $dot + $nA.getDouble($j);
       |        if (${ev.isNull} || $cmp($best, $d) > 0) {
       |          ${ev.isNull} = false;
       |          $best = $d;
       |          ${ev.value} = $idA.getInt($j);
       |        }
       |      }
       |    }
       |  }
       |}
     """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NearestCentroid = {
    val Seq(a, b, c0, d0, f) = newChildren
    copy(e = a, xx = b, ids = c0, cents = d0, norms = f)
  }
}

/** `graft_quantize(arr, dim, scale)`: the first `dim` elements of a
  * float/double array as scaled integer-valued doubles, in one counted
  * loop. Element `d` equals, bit for bit,
  * `floor(element_at(arr, d + 1) · scale + 0.5).cast("double")`:
  *  - FLOOR of a double is a BIGINT, so each value is
  *    `(double) (long) Math.floor(…)` (saturating, NaN → 0);
  *  - a null element stays null, elements past `dim` are ignored, and a
  *    null array gives `dim` nulls (an `array(…)` of those terms is never
  *    null);
  *  - an array shorter than `dim` raises `element_at`'s
  *    INVALID_ARRAY_INDEX_IN_ELEMENT_AT at the first missing index under
  *    ANSI mode, and yields nulls there otherwise (`failOnError` is
  *    captured from the session at construction, as `ElementAt` does).
  *
  * `dim` and `scale` must be constants; they appear in the generated
  * code, so the class depends on the query, not on the data. */
case class QuantizeArray(child: Expression, dim: Int, scale: Double,
                         failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression with SupportQueryContext {
  import DotProduct._

  require(dim >= 0, s"graft_quantize: dim must be >= 0, got $dim")
  require(!scale.isNaN && !scale.isInfinite,
    s"graft_quantize: scale must be finite, got $scale")

  override def prettyName: String = "graft_quantize"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def nullable: Boolean = false
  override def sql: String = s"$prettyName(${child.sql}, $dim, $scale)"

  override def initQueryContext(): Option[QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def checkInputDataTypes(): TypeCheckResult =
    if (isFloatArray(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float|double>, got ${child.dataType.catalogString}")

  override def eval(input: InternalRow): Any = {
    val a = child.eval(input).asInstanceOf[ArrayData]
    val out = new Array[Any](dim)
    if (a != null) {
      val et = elemType(child)
      val n = a.numElements()
      var i = 0
      while (i < dim) {
        if (i >= n) {
          // element_at raises its own ANSI error (the generated code
          // calls the same error constructor directly, as ElementAt does)
          if (failOnError) CurrentOrigin.withOrigin(origin) {
            ElementAt(Literal(a, child.dataType), Literal(i + 1), failOnError = true)
          }.eval()
        } else if (!a.isNullAt(i)) {
          out(i) = math.floor(getDouble(a, et, i) * scale + 0.5).toLong.toDouble
        }
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = child.genCode(ctx)
    val Seq(out, n, i) = Seq("out", "n", "i").map(ctx.freshName)
    val scaleLit = java.lang.Double.toString(scale) + "D"
    val missing =
      if (failOnError)
        s"throw QueryExecutionErrors.invalidElementAtIndexError($i + 1, $n, " +
          s"${getContextOrNullCode(ctx)});"
      else s"$out.setNullAt($i);"
    ev.copy(code = code"""
       |${a.code}
       |ArrayData $out =
       |  org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.createFreshArray($dim, 8);
       |int $n = ${a.isNull} ? 0 : ${a.value}.numElements();
       |for (int $i = 0; $i < $dim; $i++) {
       |  if (${a.isNull}) {
       |    $out.setNullAt($i);
       |  } else if ($i >= $n) {
       |    $missing
       |  } else if (${a.value}.isNullAt($i)) {
       |    $out.setNullAt($i);
       |  } else {
       |    $out.setDouble($i, (double) (long) java.lang.Math.floor(
       |      ${getDoubleCode(a.value.toString, elemType(child), i)} * $scaleLit + 0.5));
       |  }
       |}
       |ArrayData ${ev.value} = $out;
     """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): QuantizeArray =
    copy(child = newChild)
}
