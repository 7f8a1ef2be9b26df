package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` query filter: a typo must fail by name
  * instead of selecting nothing and reading as a clean, fast run. And
  * the one query runner, [[SparkEntry.produce]]: it times the produced
  * result, so a column that only fails when computed fails the run.
  */
class SparkEntrySpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  /** 200 rows: a long `id` and a word `w` ("w0", "w1", …). */
  private def words = spark.range(200).select(col("id"), concat(lit("w"), col("id")).as("w"))

  /** `body`'s result and what it printed to stderr. */
  private def capturingErr[T](body: => T): (T, String) = {
    val buf = new ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    try (body, buf.toString("UTF-8"))
    finally System.setErr(saved)
  }

  test("an unset filter selects every query") {
    assert(SparkEntry.selectQueries(None).keySet == SparkEntry.queries.keySet)
  }

  test("known names select exactly those queries, spaces and empty items ignored") {
    val picked = SparkEntry.selectQueries(Some(" billing_invoice,,k1_state_machine "))
    assert(picked.keySet == Set("billing_invoice", "k1_state_machine"))
  }

  test("unknown names fail, listing every one of them") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Some("billing_invoice,k1_state_machin,zz_nope")))
    assert(e.getMessage.contains("k1_state_machin, zz_nope"), e.getMessage)
    assert(!e.getMessage.contains("billing_invoice"), e.getMessage)
  }

  test("a list that names no query fails") {
    intercept[IllegalArgumentException](SparkEntry.selectQueries(Some(" , ")))
  }

  test("produce runs what count() prunes: a failing column reports -1 and the query's name") {
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    // under ANSI a word cast to int throws, but only when computed
    val df = words.select(col("id"), col("w").cast("int").as("n"))
    assert(df.count() == 200)
    val (secs, err) = capturingErr(
      SparkEntry.produce("q_bad_cast", df, SparkEntry.noop))
    assert(secs == -1.0)
    assert(err.contains("[produce] q_bad_cast failed"), err)
  }

  test("a frame that fails to build reports -1 the same way") {
    val (secs, err) = capturingErr(SparkEntry.produce("q_no_build",
      throw new IllegalStateException("no frame"), SparkEntry.noop))
    assert(secs == -1.0)
    assert(err.contains("[produce] q_no_build failed") && err.contains("no frame"), err)
  }

  test("an overflow reports -1 with its top frames, which name the recursion") {
    def recurse(n: Long): Long = recurse(n + 1) + 1
    val (secs, err) = capturingErr(SparkEntry.produce("q_deep",
      { recurse(0); words }, SparkEntry.noop))
    assert(secs == -1.0)
    assert(err.contains("[produce] q_deep failed: java.lang.StackOverflowError at ") &&
      err.contains("recurse"), err)
  }

  test("produce into the parquet sink writes the frame's rows and returns its seconds") {
    val df = words.filter(col("id") % 7 === 0)
    val dir = Files.createTempDirectory("graft-produce").resolve("q").toString
    val secs = SparkEntry.produce("q_ok", df, Verify.parquetSink(dir))
    assert(secs >= 0)
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count() && back.count() > 0)
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
  }
}
