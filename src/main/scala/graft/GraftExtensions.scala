package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo}

import graft.functions.{DotProduct, MinHashArray, NearestCentroid, QuantizeArray, RunningScan,
  ShingleSet, SortedJaccard}

/** Engine extension point, activated with
  * `spark.sql.extensions=graft.GraftExtensions`, which [[GraftSession]]
  * sets on every session it builds.
  *
  * Registers the engine's native Catalyst expressions in the session
  * function registry so they are first-class functions — resolvable from
  * `call_function` and `spark.sql(...)` alike, participating in
  * whole-stage codegen like any built-in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    /** Registers `name`, built by `build` from exactly `arity` arguments,
      * of which those at the (0-based) `constant` positions are foldable. */
    def native(name: String, cls: Class[_], arity: Int, constant: Int*)(
        build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == arity && constant.forall(args(_).foldable),
            s"$name takes exactly $arity arguments" + (if (constant.isEmpty) ""
              else s", constant at positions ${constant.mkString(", ")}"))
          build(args)
        }))
    def number(e: Expression) = e.eval().asInstanceOf[Number]

    native("graft_dot", classOf[DotProduct], 2)(a => DotProduct(a(0), a(1)))
    native("graft_nearest", classOf[NearestCentroid], 5)(a =>
      NearestCentroid(a(0), a(1), a(2), a(3), a(4)))
    // (array, constant dim, constant scale)
    native("graft_quantize", classOf[QuantizeArray], 3, 1, 2)(a =>
      QuantizeArray(a(0), number(a(1)).intValue, number(a(2)).doubleValue))
    // (array<string>, constant w)
    native("graft_shingle_set", classOf[ShingleSet], 2, 1)(a =>
      ShingleSet(a(0), number(a(1)).intValue))
    native("graft_minhash", classOf[MinHashArray], 3)(a => MinHashArray(a(0), a(1), a(2)))
    native("graft_jaccard", classOf[SortedJaccard], 2)(a => SortedJaccard(a(0), a(1)))
    // (constant kind, value, carry)
    native("graft_running", classOf[RunningScan], 3, 0)(a =>
      RunningScan(a(0).eval().toString, a(1), a(2)))

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
      (args: Seq[Expression]) => {
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
    native("graft_might_contain", classOf[BloomFilterMightContain], 2)(a =>
      BloomFilterMightContain(a(0), a(1)))
  }
}
