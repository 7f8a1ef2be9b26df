package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** The in-block pair generator: every (i, j > i) pair of a sorted member
  * array that its candidate rules admit and its [[PairScorer]] keeps,
  * as an array of the scorer's output structs.
  *
  * Why custom: the composed form
  *
  *   flatten(transform(ms, (a, i) => transform(slice(ms, i + 2, size(ms)),
  *     b => struct(a, b)))) |> score |> filter
  *
  * runs interpreted (higher-order functions are CodegenFallback), copies
  * an O(m) member suffix per anchor, and materializes a struct per
  * CANDIDATE pair — both embeddings, for the cosine blocks — before the
  * score is computed. Here the scorer reads the members once and runs
  * inside the loop, so only the pairs that survive are allocated
  * (operator fusion: the scorer is fused into the generator).
  *
  * Candidate rules, read from the member struct at bind time, apply
  * under every scorer: an int `side` field keeps only pairs with
  * side_a < side_b, and an int `pk` field drops pairs whose members both
  * have pk = 1. A `side` or `pk` field of another type fails the type
  * check. A member with neither field runs the bare scorer.
  *
  * Pair order is the composed form's: outer index ascending, inner
  * j > i ascending. m ≤ 1 yields an empty array and null in gives null
  * out. A block of more than [[BlockPairs.MaxMembers]] members raises by
  * name. The scorers are value-equal case classes, so plan
  * canonicalization, cache lookups and exchange reuse match across
  * rebuilds.
  */
@ExpressionDescription(
  usage = "_FUNC_(ms) - the scored (i, j > i) pairs of a sorted member array.")
case class BlockPairs(child: Expression, scorer: PairScorer) extends UnaryExpression {

  private lazy val bound: Option[BoundScorer] = child.dataType match {
    case ArrayType(et, containsNull) =>
      val s = et match { case s: StructType => s; case _ => new StructType() }
      // a rule field of another type fails the type check, not the rule
      def rule(name: String) = s.fieldNames.indexOf(name) match {
        case -1 => Some(-1)
        case i => Some(i).filter(_ => s(i).dataType == IntegerType)
      }
      for (side <- rule("side"); pk <- rule("pk"); sc <- scorer.bind(et, containsNull))
        yield BlockPairs.ruled(sc, s.length, side, pk)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (bound.isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"block_pairs($scorer) requires ${scorer.layout} (any side or pk field int), " +
        s"got ${child.dataType.simpleString}")

  override def dataType: DataType =
    ArrayType(bound.fold[DataType](NullType)(_.outType), containsNull = false)
  override def prettyName: String = "block_pairs"

  override protected def nullSafeEval(input: Any): Any =
    BlockPairs.pairs(input.asInstanceOf[ArrayData], bound.get)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("scorer", bound.get, classOf[BoundScorer].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.BlockPairs.pairs($c, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): BlockPairs =
    copy(child = newChild)
}

object BlockPairs {

  /** The largest block whose pair count m(m−1)/2 is computed in int
    * arithmetic without overflow (m² ≤ Int.MaxValue).
    */
  val MaxMembers = 46340

  def pairs(ms: ArrayData, scorer: BoundScorer): ArrayData = {
    val m = ms.numElements()
    require(m <= MaxMembers,
      s"block_pairs: $m members overflow the pair count (max $MaxMembers)")
    if (m < 2) return new GenericArrayData(Array.empty[Any])
    val block = scorer.load(ms)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < m) {
      var j = i + 1
      while (j < m) {
        val r = block.pair(i, j)
        if (r != null) buf += r
        j += 1
      }
      i += 1
    }
    new GenericArrayData(buf.toArray)
  }

  /** `sc` behind the rule fields at these indices (-1: absent). */
  private def ruled(sc: BoundScorer, width: Int, side: Int, pk: Int): BoundScorer =
    if (side < 0 && pk < 0) sc
    else new BoundScorer {
      val outType = sc.outType
      def load(ms: ArrayData): ScoredBlock = {
        val scored = sc.load(ms)
        // an absent field reads as the member index: a < b passes the
        // side rule, and two distinct indices are never both 1
        def ints(f: Int) = Array.tabulate(ms.numElements())(i =>
          if (f < 0) i else ms.getStruct(i, width).getInt(f))
        val (sides, pks) = (ints(side), ints(pk))
        new ScoredBlock {
          def pair(a: Int, b: Int): InternalRow =
            if (sides(a) < sides(b) && (pks(a) != 1 || pks(b) != 1)) scored.pair(a, b)
            else null
        }
      }
    }

  /** Column form over a member array column. */
  def of(ms: Column, scorer: PairScorer): Column =
    ColumnBridge.column(BlockPairs(ColumnBridge.expression(ms), scorer))
}

/** The members of one block, read once: `pair(a, b)` is the output row
  * of members a < b, or null when the scorer drops the pair.
  */
abstract class ScoredBlock {
  def pair(a: Int, b: Int): InternalRow
}

/** A scorer bound to one member layout. */
abstract class BoundScorer extends Serializable {
  def outType: StructType
  def load(ms: ArrayData): ScoredBlock
}

/** What [[BlockPairs]] keeps of each pair, and how it reads the members. */
sealed trait PairScorer extends Serializable {
  /** The input type this scorer reads, for the type-check message. */
  def layout: String
  /** This scorer over members of type `member`; None if it cannot read them. */
  def bind(member: DataType, containsNull: Boolean): Option[BoundScorer]
}

object PairScorer {

  private def field(s: StructType, name: String): Option[(Int, DataType)] =
    Some(s.fieldNames.indexOf(name)).filter(_ >= 0).map(i => (i, s(i).dataType))

  private def out(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })

  /** Every pair, as `struct(a, b)` of the members themselves. Each member
    * is copied once out of the input row buffer, which the runtime
    * reuses, and then shared by reference across its pairs.
    */
  case object AllPairs extends PairScorer {
    def layout = "an array"
    def bind(member: DataType, containsNull: Boolean): Option[BoundScorer] =
      Some(new BoundScorer {
        val outType = out(("a", member, containsNull), ("b", member, containsNull))
        def load(ms: ArrayData): ScoredBlock = {
          val elems = Array.tabulate[Any](ms.numElements())(i =>
            if (ms.isNullAt(i)) null else InternalRow.copyValue(ms.get(i, member)))
          new ScoredBlock {
            def pair(a: Int, b: Int) = new GenericInternalRow(Array[Any](elems(a), elems(b)))
          }
        }
      })
  }

  /** `(vec_a, vec_b, cos)` for pairs whose cosine
    * dot(e_a, e_b) / (nrm_a · nrm_b) passes Spark's NaN-safe
    * `cos >= threshold` (NaN is greater than any threshold). The dot is
    * [[VectorDotProduct.dot]]. The scorer only scores: which pairs
    * reach it is decided by [[BlockPairs]]' candidate rules.
    *
    * A zero norm product either raises ANSI `DIVIDE_BY_ZERO`, as
    * Spark's `/` does (`raiseOnZeroNorm`: label cells and SemDeDup), or
    * gives the Java division's NaN, which then passes (the LSH pairs).
    */
  final case class Cosine(threshold: Double, raiseOnZeroNorm: Boolean) extends PairScorer {
    def layout = "array<struct<vec_id: bigint, embedding: array<float|double>, nrm: double>>"
    def bind(member: DataType, containsNull: Boolean): Option[BoundScorer] = member match {
      case s: StructType =>
        for {
          (id, LongType) <- field(s, "vec_id")
          (emb, ArrayType(et @ (FloatType | DoubleType), _)) <- field(s, "embedding")
          (nrm, DoubleType) <- field(s, "nrm")
        } yield bound(s.length, id, emb, et == FloatType, nrm)
      case _ => None
    }

    private def bound(width: Int, id: Int, emb: Int, isFloat: Boolean,
        nrm: Int): BoundScorer = new BoundScorer {
      val outType = out(("vec_a", LongType, false), ("vec_b", LongType, false),
        ("cos", DoubleType, false))
      def load(ms: ArrayData): ScoredBlock = {
        val rows = Array.tabulate(ms.numElements())(ms.getStruct(_, width))
        val ids = rows.map(_.getLong(id))
        val embs = rows.map(_.getArray(emb))
        val nrms = rows.map(_.getDouble(nrm))
        new ScoredBlock {
          def pair(a: Int, b: Int): InternalRow = {
            val d = VectorDotProduct.dot(embs(a), isFloat, embs(b), isFloat)
            val den = nrms(a) * nrms(b)
            if (raiseOnZeroNorm && den == 0.0) throw ColumnBridge.divideByZeroError()
            val cos = d / den
            if (cos >= threshold || java.lang.Double.isNaN(cos))
              new GenericInternalRow(Array[Any](ids(a), ids(b), cos))
            else null
          }
        }
      }
    }
  }

  /** `(doc_a, doc_b)` for prefix-bucket entries whose positional overlap
    * bound reaches the exact set-join's required overlap:
    *
    *   1 + min(n_a − rk_a, n_b − rk_b) ≥ ⌈t/(1+t)·(n_a + n_b) − ε⌉
    *
    * with t/(1+t) the same Scala double the Column form embeds, the
    * product taken in double and Spark's `ceil` as math.ceil(·).toLong.
    * rk and n are widened to long from the int or bigint that
    * posexplode and size produce.
    */
  final case class PrefixBound(threshold: Double, eps: Double) extends PairScorer {
    def layout = "array<struct<doc_id: bigint, rk: int|bigint, n: int|bigint>>"
    def bind(member: DataType, containsNull: Boolean): Option[BoundScorer] = member match {
      case s: StructType =>
        def intOrLong(name: String) = field(s, name).collect {
          case (i, t @ (IntegerType | LongType)) => (i, t == LongType)
        }
        for {
          (id, LongType) <- field(s, "doc_id")
          rk <- intOrLong("rk")
          n <- intOrLong("n")
        } yield bound(s.length, id, rk, n)
      case _ => None
    }

    private def bound(width: Int, id: Int, rk: (Int, Boolean),
        n: (Int, Boolean)): BoundScorer = new BoundScorer {
      val outType = out(("doc_a", LongType, false), ("doc_b", LongType, false))
      def load(ms: ArrayData): ScoredBlock = {
        val rows = Array.tabulate(ms.numElements())(ms.getStruct(_, width))
        def longs(f: (Int, Boolean)) =
          rows.map(r => if (f._2) r.getLong(f._1) else r.getInt(f._1).toLong)
        val ids = rows.map(_.getLong(id))
        val rks = longs(rk)
        val ns = longs(n)
        val coef = threshold / (1 + threshold)
        new ScoredBlock {
          def pair(a: Int, b: Int): InternalRow = {
            val bound = math.ceil(coef * (ns(a) + ns(b)).toDouble - eps).toLong
            if (math.min(ns(a) - rks(a), ns(b) - rks(b)) + 1 >= bound)
              new GenericInternalRow(Array[Any](ids(a), ids(b)))
            else null
          }
        }
      }
    }
  }
}
