package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic Bloom-filter pruning — the explicit form of the
  * runtime-filter pattern (Spark's `InjectRuntimeFilter`, Trino's
  * dynamic filtering): when a big fact table is semi-joined against a
  * build side that is too large to matter as a broadcast hash relation
  * but whose KEY SET compresses into a few megabits, ship the bit set
  * instead of the keys and prune the probe scan BEFORE any exchange.
  * At 100 TB the difference is which rows ever reach the shuffle: the
  * bloom eliminates the (usually overwhelming) non-matching majority in
  * the scan stage at the cost of a bounded false-positive rate, and an
  * exact confirm join over the surviving fraction restores exactness.
  *
  * Everything is plain Spark arithmetic — `xxhash64` with per-hash seed
  * columns, `pmod` into the bit range, a `bit_or` aggregation into
  * 64-bit words — so the build is one scan with map-side combine, the
  * driver holds only `numBits/64` longs, and the probe predicate is a
  * whole-stage-codegen expression over a broadcast word-array literal
  * (no UDF, no external sketch library).
  *
  * Relationship to `bf1_bloom_prune` (CoreQueries): that query reaches
  * the same plan through Spark's INTERNAL `bloom_filter_agg` /
  * `might_contain` expressions in SQL text — build stays distributed as
  * a scalar subquery, parameters are Spark's. This object is the
  * composable Column-API form: deterministic bit layout (the spec pins
  * false-positive behavior against the (1−e^(−kn/m))^k envelope),
  * inspectable words. Both are oracle-checked against the plain semi
  * join.
  */
object BloomOps {

  /** Build the filter: k seeded hash positions per key, OR-ed into a
    * `numBits/64`-word bitmap. The aggregation is partial+final on the
    * word index (at most `numBits/64` groups cross the shuffle,
    * regardless of build-side row count); null keys set no bits —
    * matching semi-join semantics, where null never equals anything.
    */
  def buildBits(df: DataFrame, key: Column, numBits: Int,
      numHashes: Int): Array[Long] = {
    require(numBits > 0 && numBits % 64 == 0, s"numBits must be a positive multiple of 64, got $numBits")
    require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")
    val words = new Array[Long](numBits / 64)
    df.filter(key.isNotNull)
      .select(explode(array((0 until numHashes).map(i =>
        pmod(xxhash64(lit(i), key), lit(numBits.toLong))): _*)).as("p"))
      .select((col("p") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          pmod(col("p"), lit(64L)).cast("int")).as("b"))
      .groupBy("w")
      .agg(bit_or(col("b")).as("bits"))
      .collect()
      .foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** The might-contain predicate for a probe key against [[buildBits]]'
    * words (inlined as an array literal — broadcast with the plan). True
    * iff ALL k bits are set; false positives possible, false negatives
    * not. Null keys yield null (≡ false under a filter), matching
    * semi-join null semantics.
    */
  def mightContain(key: Column, words: Array[Long], numBits: Int,
      numHashes: Int): Column =
    (0 until numHashes).map { i =>
      val p = pmod(xxhash64(lit(i), key), lit(numBits.toLong))
      (call_function("shiftright",
        element_at(typedlit(words.toSeq), (p / 64).cast("int") + 1),
        pmod(p, lit(64L)).cast("int")).bitwiseAND(lit(1L))) === lit(1L)
    }.reduce(_ && _)

  /** Bloom-pruned semi join: returns EXACTLY the rows of
    * `fact SEMI JOIN dim ON factKey = dimKey` — the bloom only prunes
    * the probe side ahead of the exact confirm, so false positives die
    * in the join and false negatives cannot exist. The confirm join
    * sees only the bloom's surviving fraction, which is what bounds the
    * shuffle at scale.
    */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, numBits: Int = 1 << 16,
      numHashes: Int = 3): DataFrame = {
    val words = buildBits(dim, col(dimKey), numBits, numHashes)
    fact
      .filter(mightContain(col(factKey), words, numBits, numHashes))
      .join(dim.select(col(dimKey)).distinct(),
        col(factKey) === col(dimKey), "left_semi")
  }
}
