package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation machinery for hot keys at cluster scale.
  *
  * AQE's skew-join splitting (on by default in Spark 4) handles skewed
  * JOINS at runtime; these helpers handle skewed AGGREGATIONS, which AQE
  * does not rewrite: a single pathological key (one project owning half
  * the fleet, one document duplicated a billion times) funnels into one
  * reducer. Salting splits each key across `saltFactor` sub-keys for the
  * partial aggregate, then combines the partials — two small shuffles
  * instead of one skewed one.
  */
object SkewOps {

  /** Two-phase salted sum: `groupBy(key, salt) partial → groupBy(key)
    * final`. Results are identical to a direct groupBy-sum (addition of
    * longs/decimals is associative+commutative); only the shuffle shape
    * changes.
    */
  def saltedSum(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      saltFactor: Int = 16
  ): DataFrame = {
    val keys = keyCols.map(col)
    df
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(saltFactor)))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(sum(col(valueCol)).as("__partial"))
      .groupBy(keys: _*)
      .agg(sum(col("__partial")).as(s"sum_$valueCol"))
  }

  /** Salted broadcast-side replication for a skewed join: replicate the
    * small side `saltFactor`× with an explicit salt column and salt the
    * big side's key, so one hot join key spreads over `saltFactor`
    * partitions. (Prefer AQE skew handling; use this when the skew is
    * known a priori and AQE's thresholds don't trigger.)
    */
  def saltedEquiJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltFactor: Int = 16
  ): DataFrame = {
    val salts = (0 until saltFactor).map(lit(_))
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(saltFactor)))
    val replicatedSmall = small.withColumn("__salt", explode(array(salts: _*)))
    saltedBig.join(broadcast(replicatedSmall), Seq(key, "__salt")).drop("__salt")
  }
}
