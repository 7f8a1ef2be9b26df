package graft.expressions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration surface for graft's native expressions.
  *
  * Three paths:
  *  - [[graft.GraftSession]] installs it on every session it builds;
  *  - config: `spark.sql.extensions=graft.expressions.GraftExtensions`
  *    (the standard plugin route for clusters, and what a session not
  *    built by GraftSession needs);
  *  - runtime: `GraftExtensions.register(spark)` for a session that
  *    already exists without either.
  *
  * After any of them, `bit_hamming(a, b)` resolves in SQL and `expr(...)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    // the whole-operator extension path: logical node → strategy →
    // physical exec, plus the optimizer rule Catalyst can't supply for
    // a node it doesn't know
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}

object GraftExtensions {

  private val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("bit_hamming",
      new ExpressionInfo(classOf[BitStringHamming].getName, "bit_hamming"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bit_hamming takes exactly 2 arguments")
        BitStringHamming(args.head, args(1))
      }),
    ("jaro_winkler_micro",
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler_micro"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "jaro_winkler_micro takes exactly 2 arguments")
        JaroWinkler(args.head, args(1))
      }),
    ("vec_dot",
      new ExpressionInfo(classOf[VectorDotProduct].getName, "vec_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "vec_dot takes exactly 2 arguments")
        VectorDotProduct(args.head, args(1))
      }),
    // Spark's own runtime-filter pair, surfaced by name: the optimizer
    // injects BloomFilterAggregate/BloomFilterMightContain privately
    // (runtime bloom-filter joins) but registers neither publicly — these
    // registrations let SQL text build the same prune explicitly:
    //   might_contain((SELECT bloom_filter_agg(xxhash64(k)) FROM dim),
    //                 xxhash64(fact.k))
    ("bloom_filter_agg",
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate",
        "bloom_filter_agg"),
      (args: Seq[Expression]) => {
        import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
        args match {
          case Seq(child) => new BloomFilterAggregate(child)
          case Seq(child, items) => new BloomFilterAggregate(child, items)
          case Seq(child, items, bits) => new BloomFilterAggregate(child, items, bits)
          case _ => throw new IllegalArgumentException(
            "bloom_filter_agg takes (xxhash64(value)[, estimatedItems[, numBits]])")
        }
      }),
    ("might_contain",
      new ExpressionInfo(
        "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
        "might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "might_contain takes (bloom, xxhash64(value))")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head, args(1))
      }),
    ("kmv_distinct",
      new ExpressionInfo(classOf[KmvDistinct].getName, "kmv_distinct"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "kmv_distinct takes (expr, k)")
        val k = args(1) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"kmv_distinct k must be an integer literal, got $other")
        }
        // the analyzer wraps a bare AggregateFunction in an
        // AggregateExpression during resolution (same as builtin sum/min)
        KmvDistinct(args.head, k)
      }))

  /** Idempotent runtime registration into an existing session: a
    * strategy the session already plans with (from the extension or an
    * earlier call) is not added twice.
    */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    functions.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
    if (!spark.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PushFilterThroughAsOfJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PushFilterThroughAsOfJoin
  }

}
