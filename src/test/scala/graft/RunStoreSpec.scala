package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.{RunStore, StreamOps}

/** The run store every streaming sink keeps its target in: one listing per
  * settle, the tiered merge at stream age 96, and the four increment sinks
  * (range counts, transitions, quota, drift) through 24 batches and every
  * crash window a batch can leave.
  */
class RunStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Local file system counting listings and status calls (`exists` is a
    * status call).
    */
  private final class CountingFs(conf: org.apache.hadoop.conf.Configuration)
      extends FilterFileSystem(FileSystem.getLocal(conf)) {
    setConf(conf)
    val lists = new AtomicInteger
    val stats = new AtomicInteger
    override def listStatus(f: Path): Array[FileStatus] = {
      lists.incrementAndGet(); super.listStatus(f)
    }
    override def getFileStatus(f: Path): FileStatus = {
      stats.incrementAndGet(); super.getFileStatus(f)
    }
  }

  private val counts = RunStore.Family("cinc", "inc", fold = RunStore.sumBy("k")("n"))

  private def names(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).map(_.getName).toSet

  private def runsOf(dir: String): Seq[(Long, Long)] =
    names(dir).toSeq.collect { case s if s.startsWith("cdone_") =>
      val Array(lo, hi) = s.stripPrefix("cdone_").split('_').map(_.toLong)
      (lo, hi)
    }.sortBy(_._1)

  test("a batch that adopts, merges and sweeps nothing lists its target once " +
      "and checks no path") {
    val dir = Files.createTempDirectory("graft-runlist").toString
    val fsCounting = new CountingFs(spark.sparkContext.hadoopConfiguration)
    val t = new RunStore.Target(spark, dir, "spec", Seq(counts)) {
      override protected lazy val fs: FileSystem = fsCounting
    }
    def calls[T](body: => T): (T, Int, Int) = {
      val (l, s) = (fsCounting.lists.get, fsCounting.stats.get)
      val out = body
      (out, fsCounting.lists.get - l, fsCounting.stats.get - s)
    }
    // No target yet: the first batch's one listing finds nothing.
    Files.delete(Paths.get(dir))
    assert(calls(t.begin(0)) == (Nil, 1, 0))
    Files.createDirectories(Paths.get(dir))
    for (i <- 0 to 1) {
      Files.createDirectories(Paths.get(dir, s"cinc_${i}_$i"))
      Files.createFile(Paths.get(dir, s"cdone_${i}_$i"))
    }
    // Adoption, visibility, the own-marker check and the sweep share one
    // listing; the tiling check reuses the visible set.
    assert(calls(t.begin(2)) == (Seq((0L, 0L), (1L, 1L)), 1, 0))
    assert(calls(t.settle()) == (Seq((0L, 0L), (1L, 1L)), 1, 0))
    // A replay of batch 1 drops its own marker and run from that listing.
    assert(calls(t.begin(1)) == (Seq((0L, 0L)), 1, 0))
    assert(names(dir) == Set("cinc_0_0", "cdone_0_0"))
  }

  test("96 one-batch runs through the store: 13 visible roots, fold span " +
      "O(N log N), publish equals the sum of every batch") {
    val dir = Files.createTempDirectory("graft-run96").toString
    val t = new RunStore.Target(spark, dir, "spec", Seq(counts))
    val n = 96
    RunStore.foldSpans.remove(dir)
    for (b <- 0 until n) {
      t.begin(b)
      t.write((b.toLong, b.toLong), Seq(Seq((b % 5, 1L), (5, b.toLong)).toDF("k", "n")))
    }
    // The merge pass runs before each batch writes: runs 0..94 leave two
    // class-1 runs (32 batches), three L0 runs (8) and seven one-batch
    // runs; batch 95 adds its own.
    val visible = t.settle()
    assert(visible.size == 13, s"visible runs $visible")
    assert(visible.take(5) == Seq((0L, 31L), (32L, 63L), (64L, 71L), (72L, 79L), (80L, 87L)))
    val spans = RunStore.foldSpans(dir)
    val nlogn = n * (math.ceil(math.log(n / 8.0) / math.log(4)).toLong + 1)
    assert(spans == 11 * 8 + 2 * 32 && spans <= nlogn, s"fold span $spans, bound $nlogn")
    val got = t.publish("cinc").orderBy("k").as[(Int, Long)].collect().toSeq
    assert(got == (0 until 5).map(k => k -> (0 until n).count(_ % 5 == k).toLong) :+
      (5 -> (0 until n).sum.toLong))
  }

  /** One increment sink under test: its input with the column order the
    * stream must respect across batches, how to run and publish it, and its
    * batch twin.
    */
  private case class Sink(name: String, input: DataFrame, order: Seq[String],
      tail: String, stateful: Boolean,
      run: (DataFrame, String, String) => StreamingQuery,
      publish: String => DataFrame, twin: DataFrame => DataFrame)

  private lazy val events = Tables.events(spark, sfDir)
  private lazy val docs = Tables.documents(spark, sfDir)
  private lazy val signups = events.filter(col("event_type") === "signup")
    .select(col("event_id").as("signup_id"), col("ts").as("w_start"),
      (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))

  private lazy val sinks = Seq(
    Sink("range", events.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts")), Seq("ts", "click_id"),
      "batch", stateful = false,
      (src, out, ckpt) => StreamOps.rangeCountSink(src, signups, "ts",
        "w_start", "w_end", "signup_id", out, ckpt),
      out => StreamOps.rangeCountRead(spark, out, "signup_id").orderBy("signup_id"),
      pts => graft.operators.RangeJoin.countInInterval(pts, "ts", signups,
        "w_start", "w_end", "signup_id").orderBy("signup_id")),
    Sink("transitions", events.select("event_id", "ts", "user_id", "event_type"),
      Seq("ts", "event_id"), "inc", stateful = true,
      (src, out, ckpt) => StreamOps.transitionsSink(src, out, ckpt),
      out => StreamOps.transitionsRead(spark, out).select("src", "dst", "n")
        .orderBy("src", "dst"),
      ev => ev.withColumn("dst", lead(col("event_type"), 1).over(
          Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst")).agg(count(lit(1)).as("n"))
        .orderBy("src", "dst")),
    Sink("quota", docs.select("doc_id", "source"), Seq("doc_id"), "inc",
      stateful = true,
      (src, out, ckpt) => StreamOps.quotaSink(src, 10, out, ckpt),
      out => StreamOps.quotaRead(spark, out).select("doc_id", "source", "rk")
        .orderBy("doc_id"),
      d => d.withColumn("rk", row_number().over(
          Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long"))
        .filter(col("rk") <= 10).select("doc_id", "source", "rk").orderBy("doc_id")),
    Sink("drift", docs.select("doc_id", "source", "text"), Seq("doc_id"), "inc",
      stateful = false,
      (src, out, ckpt) => StreamOps.distDriftSink(src, out, ckpt),
      out => StreamOps.distDriftRead(spark, out).orderBy("source"),
      d => graft.operators.TextStats.tvDrift(
        graft.operators.TextStats.sourceTokenCounts(d)).orderBy("source")))

  /** A sink's input cut into `n` drops along its order: drop i holds the
    * i-th ntile, so each key's rows arrive in order across batches.
    */
  private def split(s: Sink, n: Int): DataFrame =
    s.input.withColumn("__d", ntile(n).over(Window.orderBy(s.order.map(col): _*)) - 1)
      .localCheckpoint()

  /** Stage drops `is` of `cut` into `dropD`, one file each, with strictly
    * increasing mtimes so the file source reads drop i as batch i.
    */
  private def stage(cut: DataFrame, dropD: String, is: Range): Unit =
    is.foreach { i =>
      val before = names(dropD)
      cut.filter(col("__d") === i).drop("__d").coalesce(1)
        .write.mode("append").parquet(dropD)
      (names(dropD) -- before).filter(_.endsWith(".parquet")).foreach { f =>
        require(new java.io.File(s"$dropD/$f")
          .setLastModified(1700000000000L + i * 60000L), s"mtime stamp failed for $f")
      }
    }

  private def stream(s: Sink, cut: DataFrame, dropD: String, out: String,
      ckpt: String): Unit =
    s.run(spark.readStream.schema(cut.drop("__d").schema)
      .option("maxFilesPerTrigger", 1).parquet(dropD), out, ckpt).awaitTermination()

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def twinUpTo(s: Sink, cut: DataFrame, k: Int): Seq[Row] =
    rows(s.twin(cut.filter(col("__d") < k).drop("__d")))

  private def states(out: String): Set[String] = names(out).filter(_.startsWith("state_"))

  /** Make micro-batch `b` look as if the sink crashed after its
    * foreachBatch work and before the checkpoint commit.
    */
  private def uncommit(ckpt: String, b: Long): Unit =
    Seq(s"commits/$b", s"commits/.$b.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, f)))

  /** Cut the largest part file under `dir` to half its bytes. */
  private def truncatePart(dir: String): Unit = {
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val ch = java.nio.channels.FileChannel.open(part.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(part.length / 2) finally ch.close()
  }

  test("increment sinks, 24 batches: publish equals the batch twin from " +
      "10 runs, and at most 2 state snapshots are kept") {
    for (s <- sinks) {
      val dir = Files.createTempDirectory(s"graft-inc24-${s.name}").toString
      val out = s"$dir/out"
      val cut = split(s, 24)
      stage(cut, s"$dir/drop", 0 until 24)
      stream(s, cut, s"$dir/drop", out, s"$dir/ckpt")
      val got = rows(s.publish(out))
      assert(got.nonEmpty && got == twinUpTo(s, cut, 24), s"${s.name} publish")
      // L0 folds at batches 8 and 16; batch 24 never came.
      assert(runsOf(out) == Seq((0L, 7L), (8L, 15L)) ++ (16L to 23L).map(i => (i, i)),
        s"${s.name} runs ${runsOf(out)}")
      assert(states(out) == (if (s.stateful) Set("state_22", "state_23") else Set()),
        s"${s.name} snapshots ${states(out)}")
    }
  }

  test("increment sink crash windows: an earlier version's target is adopted, " +
      "a torn marker-less run is invisible and rewritten, a replay after the " +
      "marker converges, a lost run fails the next batch") {
    for (s <- sinks) {
      val dir = Files.createTempDirectory(s"graft-inccrash-${s.name}").toString
      val (out, dropD, ckpt) = (s"$dir/out", s"$dir/drop", s"$dir/ckpt")
      val cut = split(s, 5)
      def publish() = rows(s.publish(out))
      def path(n: String) = Paths.get(out, n)
      stage(cut, dropD, 0 until 2)
      stream(s, cut, dropD, out, ckpt)
      // The layout earlier versions wrote: one marker-less `<tail>_<i>` per
      // batch. Publish adopts it.
      for (i <- 0 to 1) {
        Files.move(path(s"cinc_${i}_$i"), path(s"${s.tail}_$i"))
        Files.delete(path(s"cdone_${i}_$i"))
      }
      assert(publish() == twinUpTo(s, cut, 2), s"${s.name} adopted publish")
      assert(runsOf(out) == Seq((0L, 0L), (1L, 1L)) &&
        !names(out).exists(_.startsWith(s.tail + "_")), s"${s.name} layout ${names(out)}")
      // Batch 1 crashed mid-write: no marker, a torn part, no commit.
      uncommit(ckpt, 1)
      Files.delete(path("cdone_1_1"))
      truncatePart(s"$out/cinc_1_1")
      assert(publish() == twinUpTo(s, cut, 1), s"${s.name} torn run visible")
      stage(cut, dropD, 2 until 3)
      stream(s, cut, dropD, out, ckpt)
      assert(publish() == twinUpTo(s, cut, 3), s"${s.name} after torn replay")
      // Batch 2's marker landed, its commit did not: the replay rewrites it.
      uncommit(ckpt, 2)
      stage(cut, dropD, 3 until 4)
      stream(s, cut, dropD, out, ckpt)
      assert(publish() == twinUpTo(s, cut, 4), s"${s.name} after marked replay")
      assert(runsOf(out) == (0L to 3L).map(i => (i, i)))
      assert(states(out) == (if (s.stateful) Set("state_2", "state_3") else Set()))
      // A lost increment fails the next batch instead of undercounting.
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$out/cinc_1_1"))
      stage(cut, dropD, 4 until 5)
      val e = intercept[StreamingQueryException](stream(s, cut, dropD, out, ckpt))
      val why = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).toSeq
      assert(why.exists(_.contains("do not cover batches 0..3")), s"${s.name}: $why")
    }
  }
}
