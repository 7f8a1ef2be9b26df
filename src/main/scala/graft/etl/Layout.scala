package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Multi-column data layout for file-level skipping.
  *
  * A single-column range sort (BucketingSpec's sorted-write proof) gives
  * perfect min/max skipping on ONE column and none on any other. Z-order
  * interleaves the bits of several columns into one sort key, so a range
  * partition over the key gives every file a tight min/max envelope on
  * EVERY participating column — the layout Delta's OPTIMIZE ZORDER and
  * Iceberg's sort orders use for multi-predicate scans. At 100 TB the
  * effect is file/row-group pruning for filters on any z-ordered column,
  * not just the lead sort key.
  *
  * The key is a pure codegen expression (shift/mask/or chain) — no UDF,
  * no shuffle beyond the one repartitionByRange the write needs anyway.
  */
object Layout {

  /** Hilbert-curve distance of (a, b) on the 2^bits grid — the
    * space-filling key with true ADJACENCY: consecutive keys are grid
    * neighbors (|Δa|+|Δb| = 1, proven in LayoutHilbertSpec), so a
    * contiguous key range is a connected region — tighter file
    * envelopes than the z-curve's quadrant jumps at every power-of-two
    * boundary. The classic xy2d bit walk (Hilbert 1891; the
    * Warren/Wikipedia formulation): per level, quadrant digit
    * d += s²·((3·rx) xor ry), then the reflect+swap rotation.
    *
    * Implemented as an `aggregate` fold over the level sequence — the
    * accumulator is a BOUND lambda variable, so per-level state
    * references stay O(1); a foldLeft over plain Column expressions
    * would inline the whole prior state into every reference
    * (exponential tree growth by level 10). Pure integer ops — exact
    * on any engine.
    */
  def hilbertKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    val acc0 = struct(
      a.cast("long").as("x"), b.cast("long").as("y"), lit(0L).as("d"))
    aggregate(
      sequence(lit(bits - 1), lit(0), lit(-1)),
      acc0,
      (acc, i) => {
        val x = acc.getField("x")
        val y = acc.getField("y")
        val d = acc.getField("d")
        val s = call_function("shiftleft", lit(1L), i)
        val rx = when(x.bitwiseAND(s) > 0, 1L).otherwise(0L)
        val ry = when(y.bitwiseAND(s) > 0, 1L).otherwise(0L)
        val d2 = d + s * s * (lit(3L) * rx).bitwiseXOR(ry)
        val flip = ry === 0 && rx === 1
        val xr = when(flip, s - 1 - x).otherwise(x)
        val yr = when(flip, s - 1 - y).otherwise(y)
        struct(
          when(ry === 0, yr).otherwise(xr).as("x"),
          when(ry === 0, xr).otherwise(yr).as("y"),
          d2.as("d"))
      }).getField("d")
  }

  /** Interleave the low `bits` bits of two non-negative long columns,
    * `a`'s bits in the odd positions (major), `b`'s in the even. Callers
    * scale each column into [0, 2^bits) first — rank, modulo, or
    * min/max scaling, whatever preserves the locality they care about.
    */
  def zorderKey(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    // cast to long up front: Spark's shiftleft on an int column wraps
    // shift distances mod 32, which would silently corrupt bits >= 16
    // for IntegerType inputs
    val (al, bl) = (a.cast("long"), b.cast("long"))
    (0 until bits).map { i =>
      shiftleft(shiftright(al, i).bitwiseAND(lit(1L)), 2 * i + 1)
        .bitwiseOR(shiftleft(shiftright(bl, i).bitwiseAND(lit(1L)), 2 * i))
    }.reduce(_.bitwiseOR(_))
  }
}
