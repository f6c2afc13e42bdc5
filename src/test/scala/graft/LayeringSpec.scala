package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library depends on the query inventory nowhere: operators,
  * streaming sinks, sources, SQL functions, plan rules, config and the
  * Runner orchestrator must not refer to `graft.queries` (operator code
  * lives in `operators/`; `queries/` only wires it to tables).
  */
class LayeringSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")
  private val libraryDirs =
    Seq("operators", "streaming", "sources", "functions", "plans", "config")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("no library source file refers to graft.queries") {
    val files = libraryDirs.flatMap(d => scalaFiles(root.resolve(d))) :+
      root.resolve("Runner.scala")
    assert(files.size > libraryDirs.size, s"library sources not found under $root")
    val offenders = files.filter { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      src.contains("graft.queries") || src.linesIterator.exists(
        _.trim.matches("""import\s+queries\b.*"""))
    }
    assert(offenders.isEmpty,
      s"library files referring to graft.queries: ${offenders.mkString(", ")}")
  }
}
