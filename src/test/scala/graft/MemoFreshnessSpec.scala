package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A memo serves a prior result only while its inputs are unchanged.
  * Two tables are rewritten in place, same path, half their rows, and
  * every query run again in the same JVM must return what a run with
  * every cache cleared returns. The four memoized queries cover the
  * memo's kinds (a shared frame, a frame built on another memo, an
  * index probed by a batch, a trained model); the two controls read no
  * memo.
  */
class MemoFreshnessSpec extends AnyFunSuite {

  private val memoized = Seq("text_winnow", "dedup_embedding_lsh",
    "dedup_embedding_incremental", "sim_kmeans_cells")
  private val controls = Seq("text_token_stats", "sim_brute_topk")
  private val tables = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")

  private def hash(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("after an in-place rewrite every query returns the fresh answer") {
    val spark = SparkTestSession.spark
    val dir = Files.createTempDirectory("memo-fresh")
    val scratch = Files.createTempDirectory("memo-fresh-write")
    try {
      for ((t, _) <- tables)
        Files.copy(Path.of(s"/root/testdata/sf0.01/$t.parquet"), dir.resolve(s"$t.parquet"))
      def run(): Map[String, String] = (memoized ++ controls).map { q =>
        q -> hash(SparkEntry.queries(q)(spark, dir.toString))
      }.toMap

      val before = run()
      // half the rows, written to the same file: same path, new length
      // and modification time
      for ((t, id) <- tables) {
        val path = dir.resolve(s"$t.parquet")
        val df = spark.read.parquet(path.toString)
        val out = scratch.resolve(t).toString
        df.orderBy(col(id)).limit((df.count() / 2).toInt).coalesce(1)
          .write.parquet(out)
        val part = Files.list(Path.of(out)).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.copy(part, path, StandardCopyOption.REPLACE_EXISTING)
      }
      val sameJvm = run()
      graft.ops.ModelCache.clear()
      spark.catalog.clearCache()
      val fresh = run()

      val unchanged = (memoized ++ controls).filter(q => fresh(q) == before(q))
      assert(unchanged.isEmpty,
        s"the rewrite must change every answer, unchanged: ${unchanged.mkString(", ")}")
      val stale = (memoized ++ controls).filter(q => sameJvm(q) != fresh(q))
      assert(stale.isEmpty, s"served a stale answer: ${stale.mkString(", ")}")
    } finally {
      for (d <- Seq(dir, scratch))
        Files.walk(d).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    }
  }
}
