package graft.queries

import java.nio.file.{Files, Path, Paths}

/** Scratch directories for the queries that round-trip through files.
  *
  * A slot is `<java.io.tmpdir>/graft-<name>-<pid>`: the pid keeps JVMs that
  * share a host (a bench run beside a test run) out of each other's
  * files, and a shutdown hook removes the slot at JVM exit. A query wipes
  * its slot on entry ([[fresh]]), so the warm-up, timed and verify passes
  * of one JVM reuse one directory instead of leaking one each. The wipe
  * is safe because the previous invocation's result is materialized
  * before the next one starts.
  */
private[queries] object Scratch {

  /** The slot `name` of this JVM, removed at JVM exit. */
  def slot(name: String): Path = deleteOnExit(path(name))

  /** `<java.io.tmpdir>/graft-<name>-<pid>`, with no exit hook. */
  def path(name: String): Path =
    Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft-$name-${ProcessHandle.current().pid()}")

  /** Wipe `dir` and create it empty. */
  def fresh(dir: Path): Path = {
    deleteRec(dir)
    Files.createDirectories(dir)
  }

  def deleteOnExit(dir: Path): Path = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(dir)))
    dir
  }

  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
      finally walk.close()
    }
}
