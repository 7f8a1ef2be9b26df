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
      "ScaleUp.scala")
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

  /** `file:line` of every call `name(` in the main sources whose
    * top-level arguments pass `bad`.
    */
  private def callsWhere(name: String, skip: String => Boolean = _ => false)(
      bad: Seq[String] => Boolean): Seq[String] = {
    val call = s"(?<![\\w$$])$name\\(".r
    sources.filterNot(p => skip(p.toString)).flatMap { p =>
      val text = Files.readString(p)
      call.findAllMatchIn(text).flatMap { m =>
        // the arguments: split at top-level commas, up to the
        // parenthesis that closes this call
        val args = scala.collection.mutable.ArrayBuffer(new StringBuilder)
        var depth = 1
        var i = m.end
        while (i < text.length && depth > 0) {
          text(i) match {
            case '(' => depth += 1; args.last += '('
            case ')' => depth -= 1; if (depth > 0) args.last += ')'
            case ',' if depth == 1 => args += new StringBuilder
            case c => args.last += c
          }
          i += 1
        }
        if (bad(args.map(_.toString.trim).toSeq))
          Some(s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}")
        else None
      }
    }
  }

  test("no main source unrolls a trained matrix as dot(…, typedlit(…))") {
    // one vec_dot per literal matrix row grows generated methods past
    // HotSpot's JIT limit and, for wide matrices, past Janino's 64 KB;
    // a trained matrix rides as one CentroidBook into CentroidDistances
    val unrolled = callsWhere("dot")(_.exists(_.contains("typedlit(")))
    assert(unrolled.isEmpty,
      s"apply the matrix with CentroidDistances, not unrolled dots, at: ${unrolled.mkString(", ")}")
  }

  test("no main source outside GraftExtensions.scala registers the extensions itself") {
    // GraftSession installs them once when it builds a session; an op or
    // query that registers them depends on the session it runs in
    val calls = callsWhere("GraftExtensions\\.register",
      _.endsWith("/expressions/GraftExtensions.scala"))(_ => true)
    assert(calls.isEmpty,
      s"rely on GraftSession's install, not a register call, at: ${calls.mkString(", ")}")
  }

  test("no main source outside BlockPairs.scala expands pairs as slice(…, i + 2, …)") {
    // the (i, j > i) loop over a member array is BlockPairs' job: a
    // composed transform/slice loop runs interpreted, allocates every
    // candidate pair, and decides which pairs are candidates elsewhere.
    // Such a slice starts at the lambda's 0-based index + 2: the member
    // after the anchor, in slice's 1-based positions.
    val loops = callsWhere("slice", _.endsWith("/expressions/BlockPairs.scala"))(
      _.lift(1).exists(_.matches("[a-z]\\s*\\+\\s*2")))
    assert(loops.isEmpty,
      s"expand in-block pairs with BlockPairs, not a slice loop, at: ${loops.mkString(", ")}")
  }

  test("no source under queries/ memoizes with .cache() or .persist(") {
    // a plan-keyed cache serves a stale relation after its input is
    // rewritten in place, since the plan does not change; a shared or
    // reused frame is a ModelCache.frame, keyed by its input's content
    val memo = "\\.cache\\(\\)|\\.persist\\(".r
    val hits = sources.filter(_.toString.contains("/graft/queries/")).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("//") && !line.trim.startsWith("*") &&
            memo.findFirstIn(line).isDefined => s"$p:${i + 1}"
      }
    }
    assert(sources.exists(_.toString.contains("/graft/queries/")))
    assert(hits.isEmpty,
      s"memoize with ModelCache.frame, not a plan-keyed cache, at: ${hits.mkString(", ")}")
  }

  test("no main source builds a ModelCache key as a string") {
    // a hand-built key (the data dir's path joined with a name) names a
    // location, not content: the memo then serves a stale artifact after
    // the table is rewritten. The name is a literal; hyperparameters are
    // separate arguments; the inputs are frames.
    val built = callsWhere("ModelCache\\.\\w+")(_.exists(a =>
      a.startsWith("s\"") || a.startsWith("f\"") || a.startsWith("raw\"") ||
        a.contains("\" +") || a.contains("+ \"")))
    assert(built.isEmpty,
      s"pass a literal name and input frames, not a string key, at: ${built.mkString(", ")}")
  }
}
