package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Nondeterministic, RowOrdering}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types._

/** `graft_running(kind, value, carry)`: a running scan over the rows of
  * one partition, in the order the projection receives them — the
  * partition-local half of [[graft.operators.GlobalOrder]]'s running ops,
  * evaluated in the projection directly over a pinned, sorted scan.
  *
  * Stateful, like Spark's `MonotonicallyIncreasingID`: the state resets
  * in `initializeInternal(partitionIndex)`, and the partition's first row
  * seeds it from `carry`, the fold of every earlier partition composed on
  * the driver (null when nothing precedes). Each row's result is
  * [[RunningScan.step]] of the state and the row's value, of the value's
  * type: `sum` (decimal), `max` / `min` (orderable) and `fill` (the last
  * non-null value; a backward fill when rows arrive in descending order)
  * fold the values into the carry; `product` (double) folds a
  * partition-local product and multiplies it by the carry, the grouping
  * of a partition-local product window; `lag` reads the previous row's
  * value, the carry on the first row.
  *
  * Evaluated through `eval` in generated code too (`CodegenFallback`,
  * which also emits the partition's `initialize` call): a hand-written
  * `doGenCode` measured no faster, on a 4M-row scan or on q_cumsum and
  * q_ffill_bfill at sf0.1 (4-vCPU machine). */
case class RunningScan(kind: String, value: Expression, carry: Expression)
    extends Expression with Nondeterministic with CodegenFallback {

  override def children: Seq[Expression] = Seq(value, carry)
  override def prettyName: String = "graft_running"
  override def dataType: DataType = value.dataType
  override def nullable: Boolean = true
  override def stateful: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (kind, value.dataType) match {
    case ("sum", _: DecimalType) | ("product", DoubleType) | ("fill" | "lag", _)
        if carry.dataType == dataType => TypeCheckResult.TypeCheckSuccess
    case ("max" | "min", t) if RowOrdering.isOrderable(t) && carry.dataType == dataType =>
      TypeCheckResult.TypeCheckSuccess
    case (_, t) => TypeCheckResult.TypeCheckFailure(s"$prettyName('$kind') takes a value " +
      s"its kind supports and a carry of the result type, got (${t.catalogString}, " +
      s"${carry.dataType.catalogString})")
  }

  @transient private[this] lazy val step = RunningScan.step(kind, dataType)
  @transient private[this] var started = false
  @transient private[this] var acc: Any = _
  @transient private[this] var local: Any = _

  override protected def initializeInternal(partitionIndex: Int): Unit = started = false

  /** One row; the carry is read on the partition's first row. A retained
    * value is copied, so it never points into a reused input row. */
  override protected def evalInternal(input: InternalRow): Any = {
    val v = InternalRow.copyValue(value.eval(input))
    if (!started) {
      acc = carry.eval(input)
      local = null
      started = true
    }
    kind match {
      case "lag" =>
        val out = acc
        acc = v
        out
      case "product" =>
        local = step(local, v)
        step(acc, local)
      case _ =>
        acc = step(acc, v)
        acc
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RunningScan =
    copy(value = newChildren(0), carry = newChildren(1))
}

object RunningScan {
  /** One step of `kind` over values of type `dt`: `a`, the fold so far,
    * then `b`, the next value. Null is "nothing" to every kind but `lag`,
    * whose step is the next value itself. Each step is associative, so a
    * partition's fold composes with the fold of the partitions before it.
    * On a tie `max` and `min` keep the earlier value, as Spark's do. */
  def step(kind: String, dt: DataType): (Any, Any) => Any = {
    lazy val ord = TypeUtils.getInterpretedOrdering(dt)
    val op: (Any, Any) => Any = kind match {
      case "sum" => (a, b) => a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal]
      case "product" => (a, b) => a.asInstanceOf[Double] * b.asInstanceOf[Double]
      case "max" => (a, b) => if (ord.gt(b, a)) b else a
      case "min" => (a, b) => if (ord.lt(b, a)) b else a
      case "fill" | "lag" => (_, b) => b
    }
    if (kind == "lag") op
    else (a, b) => if (a == null) b else if (b == null) a else op(a, b)
  }
}
