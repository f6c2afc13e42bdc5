package graft.sources

import java.io.FileNotFoundException
import java.lang.management.ManagementFactory
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem,
  Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, SparkTestSession}

/** The fork-free `file:` bindings behave as Hadoop's stock ones: same
  * modes, same link statuses, the checkpoint manager's FileContext
  * rename, and sessions bind them unless the caller bound `file:` first. */
class LocalFsSpec extends AnyFunSuite {

  private def init[F <: FileSystem](fs: F, conf: Configuration): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }

  private def perm(octal: String) = new FsPermission(Integer.parseInt(octal, 8).toShort)

  private def tmp(name: String): JPath = Files.createTempDirectory(s"graft-localfs-$name")

  /** Relative path → POSIX mode of everything under `root`. */
  private def modes(root: JPath): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_ != root).map(p => root.relativize(p).toString ->
      PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).toMap
    finally s.close()
  }

  test("file and directory modes match the stock file system, default and 077 umask") {
    for (umask <- Seq(None, Some("077"))) {
      val conf = new Configuration()
      umask.foreach(conf.set("fs.permissions.umask-mode", _))
      def build(fs: FileSystem): Map[String, String] = {
        val root = tmp("modes")
        val r = new Path(root.toUri)
        fs.mkdirs(new Path(r, "a/b"))
        fs.mkdirs(new Path(r, "m"), perm("750"))
        fs.create(new Path(r, "a/f")).close()
        fs.create(new Path(r, "g"), perm("640"), true, 4096, 1.toShort, 1L << 20, null)
          .close()
        fs.create(new Path(r, "h")).close()
        fs.setPermission(new Path(r, "h"), perm("604"))
        modes(root)
      }
      val stock = build(init(new LocalFileSystem(), conf))
      assert(stock.keySet.exists(_.endsWith(".crc")), stock)
      assert(build(init(new NioLocalFileSystem, conf)) == stock, s"umask $umask")
    }
  }

  test("a sticky-bit permission takes the stock path") {
    val fs = init(new NioRawLocalFileSystem, new Configuration())
    val dir = new Path(tmp("sticky").toUri)
    val sticky = perm("1777")
    fs.setPermission(dir, sticky)
    assert(fs.getFileStatus(dir).getPermission == sticky)
  }

  test("getFileLinkStatus agrees with the stock call on a symlink, a file and a missing path") {
    val conf = new Configuration()
    val stock = init(new RawLocalFileSystem, conf)
    val nio = init(new NioRawLocalFileSystem, conf)
    val root = tmp("links")
    val file = Files.write(root.resolve("file"), "x".getBytes(UTF_8))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    def view(s: FileStatus) =
      (s.getPath, s.isSymlink, s.isDirectory, s.getLen, if (s.isSymlink) s.getSymlink else null)
    // Qualified and bare paths: the stock call resolves a link only for a bare one.
    for (p <- Seq(file, link); path <- Seq(new Path(p.toUri), new Path(p.toString)))
      assert(view(nio.getFileLinkStatus(path)) == view(stock.getFileLinkStatus(path)), path)
    assert(nio.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(!nio.getFileLinkStatus(new Path(file.toUri)).isSymlink)
    intercept[FileNotFoundException](nio.getFileLinkStatus(new Path(root.resolve("none").toUri)))
  }

  test("FileContext create and rename(OVERWRITE), the checkpoint log's commit, go through the binding") {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", classOf[NioLocalFs].getName)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.isInstanceOf[NioLocalFs])
    val root = new Path(tmp("fc").toUri)
    def put(p: Path, body: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        Options.CreateOpts.createParent())
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
    val log = new Path(root, "offsets/0")
    for (body <- Seq("first", "second")) {
      val staged = new Path(root, s"offsets/.0.$body.tmp")
      put(staged, body)
      fc.rename(staged, log, Options.Rename.OVERWRITE)
      assert(!fc.util.exists(staged))
      val in = fc.open(log)
      try assert(new String(in.readAllBytes(), UTF_8) == body) finally in.close()
    }
  }

  test("the test session binds both file: implementations") {
    val conf = SparkTestSession.spark.sparkContext.hadoopConfiguration
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  test("GraftSession.builder binds both, and keeps a file: binding set before it") {
    // A JVM has one SparkContext, so each session is built in a child JVM
    // with this JVM's flags and classpath.
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val flags = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-agentlib"))
    val stock = classOf[LocalFileSystem].getName
    for ((preset, fileImpl) <- Seq(None -> classOf[NioLocalFileSystem].getName, Some(stock) -> stock)) {
      val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx512m") ++
        preset.map(c => s"-Dspark.hadoop.fs.file.impl=$c") ++
        Seq("-cp", sys.props("java.class.path"), BoundFileClasses.getClass.getName.stripSuffix("$"))
      val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      val out = new String(proc.getInputStream.readAllBytes(), UTF_8)
      assert(proc.waitFor() == 0, out.takeRight(4000))
      val bound = out.linesIterator.collect { case l if l.startsWith("bound ") => l.drop(6) }.toList
      assert(bound == List(fileImpl, classOf[NioLocalFs].getName), s"preset $preset")
    }
  }
}

/** Builds a GraftSession and prints the class bound to each `file:` key. */
object BoundFileClasses {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("local[1]").getOrCreate()
    try {
      val conf = spark.sparkContext.hadoopConfiguration
      println("bound " + FileSystem.get(URI.create("file:///"), conf).getClass.getName)
      println("bound " + FileContext.getFileContext(conf).getDefaultFileSystem.getClass.getName)
    } finally spark.stop()
  }
}
