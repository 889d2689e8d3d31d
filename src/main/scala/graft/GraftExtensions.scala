package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{DotProduct, NearestCentroid, QuantizeArray}

/** Engine extension point, activated with
  * `spark.sql.extensions=graft.GraftExtensions` (Bench, Verify, and the
  * test harness all set it at builder time).
  *
  * Registers the engine's native Catalyst expressions in the session
  * function registry so they are first-class functions — resolvable from
  * `call_function` and `spark.sql(...)` alike, participating in
  * whole-stage codegen like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2, "graft_dot takes exactly 2 arguments")
        DotProduct(args.head, args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nearest"),
      new ExpressionInfo(classOf[NearestCentroid].getName, "graft_nearest"),
      (args: Seq[Expression]) => {
        require(args.length == 5, "graft_nearest takes exactly 5 arguments")
        NearestCentroid(args.head, args(1), args(2), args(3), args(4))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeArray].getName, "graft_quantize"),
      (args: Seq[Expression]) => {
        require(args.length == 3 && args(1).foldable && args(2).foldable,
          "graft_quantize takes (array, constant dim, constant scale)")
        QuantizeArray(args.head,
          args(1).eval().asInstanceOf[Number].intValue,
          args(2).eval().asInstanceOf[Number].doubleValue)
      }))

    // Spark's own runtime-filter bloom machinery, surfaced as session
    // functions: `graft_bloom_agg(xxhash64(k) [, n_items])` builds the
    // sketch, `graft_might_contain(bloom, xxhash64(k))` probes it. Spark
    // keeps BloomFilterAggregate/BloomFilterMightContain off the public
    // registry (they back the optimizer's injected runtime filters);
    // registering them here lets pipeline code build the same
    // sketch-broadcast-prune shape explicitly — prefilter a huge probe
    // side down to candidates BEFORE its shuffle, then confirm exactly.
    ext.injectFunction((
      FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        args match {
          case Seq(c) => new BloomFilterAggregate(c).toAggregateExpression()
          case Seq(c, n) => new BloomFilterAggregate(c, n).toAggregateExpression()
          case Seq(c, n, b) =>
            new BloomFilterAggregate(c, n, b).toAggregateExpression()
          case _ => throw new IllegalArgumentException(
            "graft_bloom_agg takes 1-3 arguments")
        }
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (args: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(args.length == 2, "graft_might_contain takes exactly 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head, args(1))
      }))
  }
}
