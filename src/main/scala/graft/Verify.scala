package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame

/** Correctness dump: each selected query's result → `<outDir>/<name>/`
  * parquet, plus `oracle_sql.json`, for the DuckDB compare. A failed
  * query does not stop the rest; the compare counts its missing result
  * as a mismatch, and one stderr line at the end names every failure.
  * The exit code stays 0.
  */
object Verify {

  /** The sink the compare reads: one parquet file in `dir`. */
  def parquetSink(dir: String): DataFrame => Unit =
    _.coalesce(1).write.mode("overwrite").parquet(dir)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(s, o) => (s, o)
      case _ => throw new IllegalArgumentException(
        "usage: graft.Verify <sfDir> <outDir>")
    }
    val selected = SparkEntry.selectQueries(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = GraftSession.local()
    new java.io.File(outDir).mkdirs()
    val failed = selected.toSeq.filter { case (name, fn) =>
      SparkEntry.produce(name, fn(spark, sfDir), parquetSink(s"$outDir/$name")) < 0
    }.map(_._1)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in the oracle SQL would otherwise make the
    // compare's json.load fail and void every query's check.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[memo] ${graft.ops.ModelCache.stats} budget=${graft.ops.ModelCache.budget(spark)}")
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} failed: ${failed.sorted.mkString(", ")}")
    spark.stop()
  }
}
