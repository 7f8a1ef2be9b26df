package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native in-bucket LSH pair expansion with the exact-cosine filter
  * FUSED in: for a sorted bucket member array, emit every (i, j > i)
  * candidate that passes the probe-pair rule and whose exact cosine
  * clears `threshold` — as (vec_a, vec_b, cos) structs.
  *
  * Why custom (the CanonicalText/VectorDotProduct pattern): the
  * composable form —
  *
  *   explode(flatten(transform(ms, (a,i) => transform(filter(slice(ms,
  *     i+2, size(ms)), probeRule), b => struct(a.id, b.id, a.emb,
  *     b.emb, a.nrm, b.nrm))))) |> cosine |> filter(cos >= threshold)
  *
  * — runs INTERPRETED (higher-order functions are CodegenFallback) and
  * materializes, per candidate pair, a struct carrying BOTH 64-double
  * embedding copies (plus the O(m) member-suffix copy `slice` makes per
  * anchor) before the cosine is even computed; the bucket expansion was
  * the LSH family's dominant CPU cost at sf0.1. This expression reads
  * the member arrays once into primitive buffers, runs the i<j loop
  * with an inlined left-to-right double dot (bit-identical to
  * [[VectorDotProduct]], which the composed chain's `cosine` used), and
  * allocates output structs ONLY for pairs that survive the threshold
  * — three scalars each, no embedding bytes.
  *
  * Semantics pinned 1:1 to the composed chain (NativeFoldEquivalenceSpec):
  *  - pair order (i, j>i) over the SORTED member array, so vec_a is the
  *    sort-lower member exactly as before;
  *  - probe rule: drops pk_a = pk_b = 1 (probe×probe);
  *  - cos = dot(e_a, e_b) / (nrm_a · nrm_b), dot accumulated
  *    left-to-right in double over the min-length prefix;
  *  - the threshold test replicates Spark's nan-safe `>=` on doubles
  *    (NaN compares greater than any threshold).
  *
  * Input (the bucket collect's sort_array(collect_list)):
  *   array<struct<vec_id: bigint, pk: int, embedding: array<float|double>, nrm: double>>
  *
  * Returns array<struct<vec_a: bigint, vec_b: bigint, cos: double>>.
  */
@ExpressionDescription(
  usage = "_FUNC_(ms) - threshold-surviving in-bucket cosine pairs of a sorted LSH bucket member array.")
case class LshBucketPairs(child: Expression, threshold: Double)
    extends UnaryExpression {

  private def fields: Option[Array[StructField]] = child.dataType match {
    case ArrayType(StructType(fs), _) => Some(fs)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = fields match {
    case Some(fs) if fs.length == 4 &&
        fs(0).dataType == LongType && fs(1).dataType == IntegerType &&
        fs(3).dataType == DoubleType &&
        (fs(2).dataType match {
          case ArrayType(FloatType | DoubleType, _) => true
          case _ => false
        }) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      "lsh_bucket_pairs requires array<struct<bigint, int, " +
        s"array<float|double>, double>>, got ${child.dataType.simpleString}")
  }

  private lazy val elemFloat: Boolean =
    fields.exists(fs => fs(2).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  override def dataType: DataType = LshBucketPairs.OutType
  override def prettyName: String = "lsh_bucket_pairs"

  override protected def nullSafeEval(input: Any): Any =
    LshBucketPairs.pairs(
      input.asInstanceOf[ArrayData], threshold, elemFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.LshBucketPairs.pairs(" +
        s"$c, $threshold, $elemFloat);")

  override protected def withNewChildInternal(
      newChild: Expression): LshBucketPairs = copy(child = newChild)
}

object LshBucketPairs {

  val OutType: DataType = ArrayType(StructType(Seq(
    StructField("vec_a", LongType, nullable = false),
    StructField("vec_b", LongType, nullable = false),
    StructField("cos", DoubleType, nullable = false))), containsNull = false)

  def pairs(ms: ArrayData, threshold: Double,
      elemFloat: Boolean): ArrayData = {
    val m = ms.numElements()
    val ids = new Array[Long](m)
    val pks = new Array[Int](m)
    val embs = new Array[ArrayData](m)
    val nrms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val r = ms.getStruct(i, 4)
      ids(i) = r.getLong(0)
      pks(i) = r.getInt(1)
      embs(i) = r.getArray(2)
      nrms(i) = r.getDouble(3)
      i += 1
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        if (!(pks(a) == 1 && pks(b) == 1)) {
          val ea = embs(a)
          val eb = embs(b)
          val n = math.min(ea.numElements(), eb.numElements())
          var d = 0.0
          var j = 0
          if (elemFloat) {
            while (j < n) {
              d += ea.getFloat(j).toDouble * eb.getFloat(j).toDouble
              j += 1
            }
          } else {
            while (j < n) {
              d += ea.getDouble(j) * eb.getDouble(j)
              j += 1
            }
          }
          val cos = d / (nrms(a) * nrms(b))
          // Spark's nan-safe >= : NaN compares greater than any finite
          // threshold — replicated so a zero-norm vector's NaN cosine
          // survives exactly where the composed chain kept it
          if (cos >= threshold || java.lang.Double.isNaN(cos))
            buf += new GenericInternalRow(Array[Any](ids(a), ids(b), cos))
        }
        b += 1
      }
      a += 1
    }
    new GenericArrayData(buf.toArray)
  }
}

/** The label-cell variant of [[LshBucketPairs]] — same fused
  * expand+cosine+threshold loop over a sorted member array, WITHOUT the
  * LSH probe rule (label cells have no probe keys): every (i, j > i)
  * pair whose cosine clears `threshold` (nan-safe `>=`, exactly the
  * composed chain's filter) as (vec_a, vec_b, cos) structs.
  *
  * Replaces the interpreted `transform(slice(...))` expansion in
  * `SimilarityOps.nearDupPairs`'s collect arm, which materialized a
  * struct carrying BOTH 64-double embeddings per candidate pair before
  * the cosine ran — at ×100 cell occupancy (the honest in-cell
  * quadratic) that allocation is the wall. Values are bit-identical:
  * same left-to-right double dot ([[VectorDotProduct]] order), same
  * division by the precomputed norm product, same pair orientation
  * from the same sorted array (CellCosinePairsSpec pins native ==
  * composed on random cells, including the zero-norm NaN edge).
  *
  * Input: array<struct<vec_id: bigint, embedding: array<float|double>,
  * nrm: double>>. Returns array<struct<vec_a, vec_b, cos>>.
  */
@ExpressionDescription(
  usage = "_FUNC_(ms) - threshold-surviving cosine pairs of a sorted cell member array.")
case class CellCosinePairs(child: Expression, threshold: Double)
    extends UnaryExpression {

  private def fields: Option[Array[StructField]] = child.dataType match {
    case ArrayType(StructType(fs), _) => Some(fs)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult = fields match {
    case Some(fs) if fs.length == 3 &&
        fs(0).dataType == LongType && fs(2).dataType == DoubleType &&
        (fs(1).dataType match {
          case ArrayType(FloatType | DoubleType, _) => true
          case _ => false
        }) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cell_cosine_pairs requires array<struct<bigint, array<float|double>, " +
        s"double>>, got ${child.dataType.simpleString}")
  }

  private lazy val elemFloat: Boolean =
    fields.exists(fs => fs(1).dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })

  override def dataType: DataType = LshBucketPairs.OutType
  override def prettyName: String = "cell_cosine_pairs"

  override protected def nullSafeEval(input: Any): Any =
    CellCosinePairs.pairs(input.asInstanceOf[ArrayData], threshold, elemFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.CellCosinePairs.pairs(" +
        s"$c, $threshold, $elemFloat);")

  override protected def withNewChildInternal(
      newChild: Expression): CellCosinePairs = copy(child = newChild)
}

object CellCosinePairs {

  def pairs(ms: ArrayData, threshold: Double, elemFloat: Boolean): ArrayData = {
    val m = ms.numElements()
    val ids = new Array[Long](m)
    val embs = new Array[ArrayData](m)
    val nrms = new Array[Double](m)
    var i = 0
    while (i < m) {
      val r = ms.getStruct(i, 3)
      ids(i) = r.getLong(0)
      embs(i) = r.getArray(1)
      nrms(i) = r.getDouble(2)
      i += 1
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m) {
        val ea = embs(a)
        val eb = embs(b)
        val n = math.min(ea.numElements(), eb.numElements())
        var d = 0.0
        var j = 0
        if (elemFloat) {
          while (j < n) {
            d += ea.getFloat(j).toDouble * eb.getFloat(j).toDouble
            j += 1
          }
        } else {
          while (j < n) {
            d += ea.getDouble(j) * eb.getDouble(j)
            j += 1
          }
        }
        val den = nrms(a) * nrms(b)
        // the composed chain divides via Spark's ANSI `/`, which raises
        // on a zero divisor (zero-norm member) — replicate it exactly;
        // CellCosinePairsSpec pins both forms raising together
        if (den == 0.0)
          throw org.apache.spark.sql.graft.ColumnBridge.divideByZeroError()
        val cos = d / den
        if (cos >= threshold || java.lang.Double.isNaN(cos))
          buf += new GenericInternalRow(Array[Any](ids(a), ids(b), cos))
        b += 1
      }
      a += 1
    }
    new GenericArrayData(buf.toArray)
  }
}
