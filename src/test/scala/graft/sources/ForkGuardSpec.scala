package graft.sources

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.streaming.StreamOps

/** graft's writers start no `chmod` or `readlink` process: a Spark or
  * Hadoop upgrade, or a new writer path, that shells out per file again
  * fails here instead of only slowing every commit. */
class ForkGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Marker = "graft-fork-guard-marker"

  /** The command lines of the processes this JVM starts while `body`
    * runs, seen through JFR's `jdk.ProcessStart` events. A marker process
    * started after `body` closes the window: the stream delivers events
    * in commit order, so once it sees the marker it has seen them all. */
  private def processStarts(body: => Unit): Seq[String] = {
    val commands = new ConcurrentLinkedQueue[String]
    val marked = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => {
        val c = e.getString("command")
        if (c.contains(Marker)) marked.countDown() else commands.add(c)
      })
      rs.startAsync()
      body
      new ProcessBuilder("true", Marker).start().waitFor()
      assert(marked.await(60, TimeUnit.SECONDS), "JFR never delivered the marker process start")
    } finally rs.close()
    commands.asScala.toSeq
  }

  test("a partitioned write, a swap and a bucketed upsertSink start no chmod or readlink") {
    val root = Files.createTempDirectory("graft-forkguard").toString
    val fs = FileSystem.get(new Path(root).toUri, spark.sparkContext.hadoopConfiguration)
    val started = processStarts {
      spark.range(0, 240).select(col("id"), (col("id") % 24).as("p")).coalesce(1)
        .write.partitionBy("p").parquet(s"$root/parts")
      Seq(1, 2).toDF("v").write.parquet(s"$root/live")
      Seq(3).toDF("v").write.parquet(s"$root/staged")
      Swap.commit(fs, new Path(s"$root/staged"), new Path(s"$root/live"), new Path(s"$root/old"))
      for (b <- 0 until 2)
        Seq.tabulate(40)(i => ((i + 20 * b).toLong, b)).toDF("k", "v")
          .coalesce(1).write.mode("append").parquet(s"$root/drops")
      StreamOps.upsertSink(
        spark.readStream.schema("k LONG, v INT").option("maxFilesPerTrigger", 1)
          .parquet(s"$root/drops"),
        s"$root/target", s"$root/ckpt", keys = Seq("k"), tieBreakers = Seq("v"),
        buckets = Some(16)).awaitTermination()
    }
    val parts = fs.globStatus(new Path(s"$root/parts/p=*/part-*")).length
    assert(parts >= 20, s"the partitioned write made only $parts files")
    assert(spark.read.parquet(s"$root/live").as[Int].collect().toSeq == Seq(3))
    assert(BucketedTable.read(spark, s"$root/target").count() == 60)
    val forks = started.filter(c => Set("chmod", "readlink")(c.takeWhile(_ != ' ').split('/').last))
    if (forks.nonEmpty)
      fail(s"${forks.size} chmod/readlink process starts, e.g. ${forks.take(3).mkString("; ")}")
  }
}
