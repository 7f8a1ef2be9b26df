package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every session is configured in one place, [[GraftSession]]. */
class GraftSessionSpec extends AnyFunSuite {

  test("the shared test session carries the factory's config") {
    val conf = SparkTestSession.spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4000")
  }

  test("no main source outside GraftSession.scala builds its own session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def name(p: Path) = p.getFileName.toString
    assert(sources.exists(name(_) == "GraftSession.scala"))
    val builders = sources.filter(p =>
      name(p) != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder("))
    assert(builders.isEmpty,
      s"build the session with GraftSession, not in: ${builders.mkString(", ")}")
  }
}
