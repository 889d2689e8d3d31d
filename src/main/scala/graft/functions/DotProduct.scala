package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: ordered dot product of two numeric arrays.
  *
  * `graft_dot(a, b) = Σ_{i=0}^{n-1} a[i]·b[i]` accumulated in ascending
  * index order — the exact FP-operation sequence of an ordered left fold
  * (and of DuckDB's `list_reduce`), so results are bit-identical to the
  * oracle AND independent of partitioning, task retries, or aggregate
  * spill. This is the property the explode→hash-aggregate formulation of
  * dot products could only guarantee while a group's accumulator stayed
  * in one partial (see the spill caveat it carried); here the whole loop
  * runs inside one row's projection, so there is nothing to re-associate.
  *
  * Why a custom `Expression` (SURVEY §4 "needs custom work" bucket):
  *  - `aggregate`/`zip_with`/`transform` higher-order functions are
  *    `CodegenFallback` in Spark — the hot path drops out of whole-stage
  *    codegen and pays per-element lambda interpretation;
  *  - a flat `a[0]*b[0] + a[1]*b[1] + …` codegen chain overflows Janino's
  *    64 KB method limit at dim 64 with several planes, silently
  *    de-codegening the stage;
  *  - `doGenCode` here emits a compact counted loop: stays in whole-stage
  *    codegen at any dimension, no shuffle, no state;
  *  - the loop's code does not depend on the vectors. An unrolled chain
  *    over a literal vector inlines each element, and a folded literal
  *    like ‖q‖² inlines as a Java `double` constant, so a loop that
  *    feeds new literals each round (Lloyd's k-means) would emit, compile
  *    and JIT a new class every round. An array literal passed to this
  *    expression goes to the generated class by reference, so the class
  *    compiles once and is reused ([[NearestCentroid]] builds on this).
  *
  * Null semantics match the HOF formulation it replaces: null array →
  * null; any null element → null (a lambda `x + a*b` over a null product
  * yields null). Lengths may differ; the shorter length bounds the loop
  * (`zip_with` would pad with null and return null — embeddings are
  * fixed-dim, so this path is never observed; min() is the total
  * behavior that needs no extra null branch).
  *
  * Registered as `graft_dot` via [[graft.GraftExtensions]]
  * (`SparkSessionExtensions.injectFunction`); use
  * [[graft.functions.dotp]] from the Column API.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  import DotProduct._

  override def prettyName: String = "graft_dot"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    if (isFloatArray(left.dataType) && isFloatArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float|double> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (lt, rt) = (elemType(left), elemType(right))
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += getDouble(a, lt, i) * getDouble(b, rt, i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
         |    ${ev.isNull} = true;
         |  } else {
         |    $acc += ${getDoubleCode(a, elemType(left), i)} *
         |      ${getDoubleCode(b, elemType(right), i)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Element access shared by the array kernels: float or double elements,
  * read as double. */
object DotProduct {
  def elemType(arr: Expression): DataType =
    arr.dataType.asInstanceOf[ArrayType].elementType

  def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  def getDouble(arr: ArrayData, dt: DataType, i: Int): Double = dt match {
    case FloatType => arr.getFloat(i).toDouble
    case _ => arr.getDouble(i)
  }

  /** Java source for [[getDouble]] in generated code. */
  def getDoubleCode(arr: String, dt: DataType, i: String): String = dt match {
    case FloatType => s"(double) $arr.getFloat($i)"
    case _ => s"$arr.getDouble($i)"
  }
}
