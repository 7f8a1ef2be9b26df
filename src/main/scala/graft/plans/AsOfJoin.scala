package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graft.ColumnBridge

/** DataFrame-facing builder for the native as-of join operator.
  *
  * Same argument contract as `JoinOps.asofJoinPrior/Next` (key and time
  * column NAMES per side, right value columns to carry), same output
  * shape: left columns + `asof_ts` (the matched right time, null when no
  * match) + the values (null when no match). The two implementations are
  * spec'd result-identical; this one plans as [[AsOfJoinExec]] — one
  * Exchange+Sort per SIDE and a linear per-partition merge — instead of
  * the union+window sweep.
  *
  * The session must plan with [[AsOfJoinStrategy]]: every session
  * [[graft.GraftSession]] builds does, and any other needs the
  * `spark.sql.extensions=graft.expressions.GraftExtensions` config;
  * otherwise planning fails with a requirement naming the fix.
  */
object AsOfJoin {

  def prior(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, values: Seq[String]): DataFrame =
    build(left, right, key, leftTs, rightTs, values, forward = false)

  def next(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, values: Seq[String]): DataFrame =
    build(left, right, key, leftTs, rightTs, values, forward = true)

  private def attr(plan: LogicalPlan, name: String, side: String): Attribute =
    plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"as-of join: no column '$name' on the $side side " +
        s"(has: ${plan.output.map(_.name).mkString(", ")})"))

  private def build(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, values: Seq[String],
      forward: Boolean): DataFrame = {
    val spark = left.sparkSession
    // require, not assert: assert is elided under -Xdisable-assertions,
    // which would leave users with Spark's opaque "couldn't plan" error
    // instead of this actionable registration hint
    require(
      spark.experimental.extraStrategies.contains(AsOfJoinStrategy) ||
        spark.sessionState.planner.strategies.contains(AsOfJoinStrategy),
      "AsOfJoinStrategy is not registered — build the session with " +
        "graft.GraftSession or set spark.sql.extensions=graft.expressions.GraftExtensions")
    val lplan = ColumnBridge.analyzed(left)
    val rplan = ColumnBridge.analyzed(right)
    val lt = attr(lplan, leftTs, "left")
    val rt = attr(rplan, rightTs, "right")
    require(lt.dataType == rt.dataType,
      s"as-of join: time types differ (${lt.dataType} vs ${rt.dataType})")
    val lk = attr(lplan, key, "left")
    val rk = attr(rplan, key, "right")
    require(lk.dataType == rk.dataType,
      s"as-of join: key types differ (${lk.dataType} vs ${rk.dataType})")
    val rv = values.map(attr(rplan, _, "right"))
    val matchedOut =
      AttributeReference("asof_ts", rt.dataType, nullable = true)() +:
        rv.map(a => AttributeReference(a.name, a.dataType, nullable = true)())
    ColumnBridge.ofRows(spark,
      AsOfJoinNode(lplan, rplan, lk, rk, lt, rt, rv, matchedOut, forward))
  }
}
