package graft.expressions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.SparkTestSession

/** Pins the all-pairs scorer of the native pair generator
  * ([[BlockPairs]]) to the composed
  * `flatten(transform(xs, (a,i) => transform(slice(xs, i+2, size(xs)),
  * b => struct(a, b))))` form it replaces at six sites (winnow, source
  * overlap, simhash blocks, banded MinHash, edit-distance/Jaro block
  * arms): same pairs, same (i, j>i) order, per element type.
  */
class ArrayUnorderedPairsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def composed(xs: Column): Column =
    flatten(transform(xs, (a, i) =>
      transform(slice(xs, i + 2, size(xs)), b =>
        struct(a.as("a"), b.as("b")))))

  test("native == composed on long arrays incl. empty, single, dup values") {
    val rnd = new scala.util.Random(41)
    val rows = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 3L, 3L)) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(12))(rnd.nextLong()))
    val bad = rows.toDF("xs")
      .select(BlockPairs.of(col("xs"), PairScorer.AllPairs).as("got"),
        composed(col("xs")).as("want"))
      .filter(not(col("got") <=> col("want"))).count()
    assert(bad == 0)
  }

  test("native == composed on string arrays with null elements and a null array") {
    val rows: Seq[Option[Seq[Option[String]]]] = Seq(
      None, Some(Seq(Some("a"), None, Some("b"))),
      Some(Seq(Some("x"), Some(""), Some("héllo"), None)))
    val bad = rows.toDF("xs")
      .select(BlockPairs.of(col("xs"), PairScorer.AllPairs).as("got"),
        composed(col("xs")).as("want"))
      .filter(not(col("got") <=> col("want"))).count()
    assert(bad == 0)
  }

  test("native == composed on member structs (the block-arm shape), order preserved") {
    val rnd = new scala.util.Random(43)
    val rows = Seq.fill(100)(
      Seq.fill(rnd.nextInt(10))((rnd.nextLong(), rnd.alphanumeric.take(6).mkString)))
    val df = rows.toDF("ms0")
      .select(sort_array(transform(col("ms0"),
        m => struct(m.getField("_1").as("doc_id"), m.getField("_2").as("s")))).as("ms"))
    val bad = df
      .select(BlockPairs.of(col("ms"), PairScorer.AllPairs).as("got"),
        composed(col("ms")).as("want"))
      .filter(not(col("got") <=> col("want"))).count()
    assert(bad == 0)
    // field projection through the pair struct matches the site usage
    val proj = df.filter(size(col("ms")) > 1)
      .select(explode(BlockPairs.of(col("ms"), PairScorer.AllPairs)).as("p"))
      .select(col("p.a.doc_id").as("da"), col("p.b.doc_id").as("db"),
        col("p.a.s").as("sa"), col("p.b.s").as("sb"))
    val ref = df.filter(size(col("ms")) > 1)
      .select(explode(composed(col("ms"))).as("p"))
      .select(col("p.a.doc_id").as("da"), col("p.b.doc_id").as("db"),
        col("p.a.s").as("sa"), col("p.b.s").as("sb"))
    assert(proj.collect().toSeq == ref.collect().toSeq)
  }
}
