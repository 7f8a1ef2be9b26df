package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native overlapping token-window chunks — the sibling of
  * [[WordShingles]] for the stride-windowed form
  * ([[graft.ops.TextOps.chunks]]): windows of `width` tokens starting
  * every `stride` tokens, each emitted as a (chunk_start, chunk-text)
  * struct. Same rationale: the higher-order form (the equivalence
  * reference, in test sources) evaluates interpreted with a sliced
  * array copy + join buffer per window.
  *
  * Start positions replicate the original `sequence(1, bound, stride)`
  * with bound = max(n − width + 1, 1) + (stride − 1): a doc shorter
  * than `width` yields exactly one clamped chunk; the last window
  * clamps at the doc end (slice semantics). Chunk text is built with
  * `UTF8String.concatWs` — `array_join`'s exact routine — so outputs
  * are byte-identical.
  *
  * Input: array<string>; returns array<struct<chunk_start: int,
  * chunk: string>>.
  */
@ExpressionDescription(
  usage = "_FUNC_(toks, width, stride) - (start, text) token windows of width every stride.")
case class WordChunks(child: Expression, width: Int, stride: Int)
    extends UnaryExpression {
  require(width > 0 && stride > 0, "width and stride must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_chunks requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("chunk_start", IntegerType, nullable = false),
    StructField("chunk", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "word_chunks"

  override protected def nullSafeEval(input: Any): Any =
    WordChunks.chunks(input.asInstanceOf[ArrayData], width, stride)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.WordChunks.chunks($c, $width, $stride);")

  override protected def withNewChildInternal(
      newChild: Expression): WordChunks = copy(child = newChild)
}

object WordChunks {

  private val Space = UTF8String.fromString(" ")

  def chunks(toks: ArrayData, width: Int, stride: Int): ArrayData = {
    val n = toks.numElements()
    val strs = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      strs(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      i += 1
    }
    val bound = math.max(n - (width - 1), 1) + (stride - 1)
    val nChunks = (bound - 1) / stride + 1 // starts 1, 1+stride, … ≤ bound
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = 1 + c * stride // 1-based, as in the sequence form
      val from = math.min(start - 1, n) // slice clamps at the doc end
      val until = math.min(from + width, n)
      val parts = new Array[UTF8String](until - from)
      var j = from
      while (j < until) { parts(j - from) = strs(j); j += 1 }
      out(c) = new GenericInternalRow(
        Array[Any](start, UTF8String.concatWs(Space, parts: _*)))
      c += 1
    }
    new GenericArrayData(out)
  }
}
