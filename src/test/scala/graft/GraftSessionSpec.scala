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

  private lazy val sources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"main sources not found at ${root.toAbsolutePath}")
    Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }
  private def name(p: Path) = p.getFileName.toString

  test("no main source outside GraftSession.scala builds its own session") {
    assert(sources.exists(name(_) == "GraftSession.scala"))
    val builders = sources.filter(p =>
      name(p) != "GraftSession.scala" &&
        Files.readString(p).contains("SparkSession.builder("))
    assert(builders.isEmpty,
      s"build the session with GraftSession, not in: ${builders.mkString(", ")}")
  }

  test("no main source outside the entry points reads the environment") {
    // settings are read where a process starts; below that they are
    // parameters. The staging directory is a deployment path.
    val entryPoints = Set("GraftSession.scala", "Bench.scala", "Verify.scala",
      "ScaleUp.scala", "Profile.scala")
    val staging = "sys.env.getOrElse(\"SPARK_GRAFT_STAGING_DIR\","
    assert(sources.exists(name(_) == "DumpConvert.scala"))
    val readers = sources.filter { p =>
      val text = Files.readString(p)
      val rest = if (name(p) == "DumpConvert.scala") text.replace(staging, "") else text
      !entryPoints(name(p)) && (rest.contains("sys.env") || rest.contains("System.getenv"))
    }
    assert(readers.isEmpty,
      s"read the environment in an entry point and pass the value, not in: ${readers.mkString(", ")}")
  }

  test("no main source unrolls a trained matrix as dot(…, typedlit(…))") {
    // one vec_dot per literal matrix row grows generated methods past
    // HotSpot's JIT limit and, for wide matrices, past Janino's 64 KB;
    // a trained matrix rides as one CentroidBook into CentroidDistances
    val call = "(?<![\\w$])dot\\(".r
    val unrolled = sources.flatMap { p =>
      val text = Files.readString(p)
      call.findAllMatchIn(text).flatMap { m =>
        // the argument list: up to the parenthesis that closes this call
        var depth = 1
        var i = m.end
        while (i < text.length && depth > 0) {
          if (text(i) == '(') depth += 1 else if (text(i) == ')') depth -= 1
          i += 1
        }
        if (text.substring(m.end, i).contains("typedlit("))
          Some(s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}")
        else None
      }
    }
    assert(unrolled.isEmpty,
      s"apply the matrix with CentroidDistances, not unrolled dots, at: ${unrolled.mkString(", ")}")
  }
}
