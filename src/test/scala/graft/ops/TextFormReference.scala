package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed forms of the native text expressions: word chunks,
  * word shingles and the canonical text form. Each returns the same
  * values as its native expression in [[TextOps]]; the higher-order
  * forms evaluate interpreted and allocate a sliced array per element,
  * so they are kept here only as the references NativeFoldEquivalenceSpec
  * and TextDedupSpec pin the natives against.
  */
object TextFormReference {

  /** The 1-based start of every chunk window: `width` tokens every
    * `stride` tokens. A doc shorter than `width` yields one start.
    */
  def chunkStarts(toks: Column, width: Int, stride: Int): Column =
    // bound = (n−width+1) + (stride−1): guarantees one start lands in
    // (n−width, n−width+stride], so the tail tokens past the last full
    // window are still covered by a clamped final chunk
    sequence(lit(1),
      greatest(size(toks) - (width - 1), lit(1)) + (stride - 1), lit(stride))

  /** The higher-order-function form of [[TextOps.chunks]], the
    * reference for [[graft.expressions.WordChunks]].
    */
  def chunksHof(toks: Column, width: Int, stride: Int): Column = {
    require(width > 0 && stride > 0, "width and stride must be positive")
    transform(chunkStarts(toks, width, stride), start =>
      struct(start.as("chunk_start"),
        array_join(slice(toks, start, lit(width)), " ").as("chunk")))
  }

  /** The higher-order-function form of [[TextOps.shingles]], the
    * reference for [[graft.expressions.WordShingles]]. Spark
    * `sequence(1, n)` with n < 1 would count DOWN, hence the
    * size(toks) < k branch.
    */
  def shinglesHof(toks: Column, k: Int = TextOps.ShingleK): Column =
    when(size(toks) < k, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (k - 1)),
        i => array_join(slice(toks, i, lit(k)), " ")))

  /** The two-regex form of [[TextOps.canonicalize]], the reference for
    * [[graft.expressions.CanonicalText]] (and the form the DuckDB oracle
    * replays verbatim).
    */
  def canonicalizeRegex(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "),
      " +", " "))
}
