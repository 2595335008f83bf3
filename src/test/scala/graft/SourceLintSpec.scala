package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Static lint over the source tree: one session factory and one
  * function-registration path.
  *
  * `GraftExtensions` is the only place graft functions and the as-of
  * strategy are installed, and `EngineConf` is the only place sessions
  * are built. Copies of either drift: four per-query `register` hooks
  * once installed functions the extensions lacked, and sixteen
  * copy-pasted builders had different settings. So the rule is
  * enforced mechanically. Exceptions, by file name:
  *   - `IcebergProbe` builds a session that needs no graft code;
  *   - `SparkSpec` is the shared test session;
  *   - `GraftExtensionsSpec` builds a fresh session on purpose, to
  *     test the `spark.sql.extensions` path;
  *   - this spec names the patterns it looks for.
  */
class SourceLintSpec extends AnyFunSuite {
  import SourceLintSpec.scalaFiles

  /** `file:line: text` for every line of a file under `root`, outside
    * the `allowed` file names, that matches `pattern`. */
  private def offenders(root: String, pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    for {
      f <- scalaFiles(root) if !allowed(f.getFileName.toString)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if re.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  private val builder = """SparkSession\s*\.\s*builder\b"""

  test("no hand-rolled function registration or strategy injection in the library") {
    val bad = offenders("src/main/scala", "createOrReplaceTempFunction|extraStrategies", Set.empty)
    assert(bad.isEmpty,
      "install functions and strategies in GraftExtensions only:\n" + bad.mkString("\n"))
  }

  test("library sessions are built by EngineConf only") {
    val bad = offenders("src/main/scala", builder, Set("EngineConf.scala", "IcebergProbe.scala"))
    assert(bad.isEmpty, "build sessions with EngineConf.local or EngineConf.configure:\n" +
      bad.mkString("\n"))
  }

  test("test sessions are built by SparkSpec only") {
    val bad = offenders("src/test/scala", builder,
      Set("SparkSpec.scala", "GraftExtensionsSpec.scala", "SourceLintSpec.scala"))
    assert(bad.isEmpty, "use SparkSpec.session (EngineConf.local):\n" + bad.mkString("\n"))
  }
}

object SourceLintSpec {
  /** Every `.scala` file under `root` (relative to the project root). */
  def scalaFiles(root: String): Seq[Path] = {
    val files = Files.walk(Paths.get(root))
    val scala =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    assert(scala.nonEmpty, s"no Scala sources under $root")
    scala
  }
}
