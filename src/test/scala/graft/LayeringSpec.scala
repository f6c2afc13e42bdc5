package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library depends on the query inventory nowhere: operators,
  * streaming sinks, sources, SQL functions, plan rules, config and the
  * Runner orchestrator must not refer to `graft.queries` (operator code
  * lives in `operators/`; `queries/` only wires it to tables). And the
  * only entry points are the board, the oracle run and the operator
  * tools: no dev-probe main, and no round-numbered probe script.
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

  test("the only objects in src/main with a main method are the five entry points") {
    val objectRx = """^\s*(?:private\s+)?object\s+(\w+).*""".r
    val mains = scalaFiles(Paths.get("src/main")).flatMap { f =>
      // The object a `def main` belongs to is the last one opened above it.
      var current: Option[String] = None
      new String(Files.readAllBytes(f), "UTF-8").linesIterator.flatMap {
        case objectRx(name) => current = Some(name); None
        case l if l.trim.startsWith("def main(") => current.orElse(Some(s"? in $f"))
        case _ => None
      }.toList
    }
    assert(mains.sorted == Seq("Bench", "PlanDump", "RunOne", "ScaleGen", "Verify"),
      s"objects with def main: ${mains.sorted.mkString(", ")}")
  }

  test("tools/ holds no round-numbered probe_r<N> script") {
    val s = Files.list(Paths.get("tools"))
    val probes = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.matches("""probe_r\d.*""")).toList.sorted
    finally s.close()
    assert(probes.isEmpty, s"round-specific probe scripts in tools/: ${probes.mkString(", ")}")
  }
}
