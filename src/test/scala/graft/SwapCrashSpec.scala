package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BucketedTable, Ingest, Sink}
import graft.streaming.StreamOps

/** Crash windows of `Swap.commit` at each kind of commit site. Both
  * windows are built by hand from a completed first write:
  *  - window 1: live → old done, the second write's copy still staged;
  *  - window 2: that copy live, the old copy not yet dropped.
  * The second write, run again, must converge on the content of a run
  * that never crashed and leave neither working path behind.
  */
class SwapCrashSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** A commit site: `write(base, n)` is its n-th write (1 or 2) under
    * `base`, `content(base)` what a caller reads back; `live`, `old` and
    * `staged` are the second write's paths, relative to `base`.
    */
  private case class Site(live: String, old: String, staged: String,
      write: (String, Int) => Unit, content: String => Any)

  private def convergesFromBothWindows(site: Site): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val clean = Files.createTempDirectory("graft-crash-clean").toString
    site.write(clean, 1); site.write(clean, 2)
    val want = site.content(clean)
    for (window <- Seq(1, 2)) {
      val base = Files.createTempDirectory(s"graft-crash-w$window").toString
      site.write(base, 1)
      val fs = new Path(base).getFileSystem(conf)
      def at(rel: String) = new Path(s"$base/$rel")
      assert(fs.rename(at(site.live), at(site.old)))
      val newCopy = at(if (window == 1) site.staged else site.live)
      assert(FileUtil.copy(fs, new Path(s"$clean/${site.live}"), fs, newCopy, false, conf))
      site.write(base, 2)
      assert(site.content(base) == want, s"window $window")
      assert(!fs.exists(at(site.old)), s"window $window left ${site.old}")
      assert(!fs.exists(at(site.staged)), s"window $window left ${site.staged}")
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def batch(n: Int): DataFrame =
    if (n == 1) Seq.tabulate(100)(i => (i.toLong, 1L, i)).toDF("k", "ts", "v")
    else Seq.tabulate(100)(i => ((i + 50).toLong, 2L, -i)).toDF("k", "ts", "v")

  test("state file: the next save converges from either crash window") {
    val states = Map(1 -> Map("r1" -> 100L), 2 -> Map("r1" -> 200L, "r2" -> 5L))
    convergesFromBothWindows(Site("state", "state.old", "state.tmp",
      (base, n) => Ingest.saveState(spark, s"$base/state", states(n)),
      base => Ingest.loadState(spark, s"$base/state")))
  }

  test("full-swap target: the next merge converges from either crash window") {
    convergesFromBothWindows(Site("t", "t.old", "t.staging",
      (base, n) => StreamOps.upsertIntoParquet(batch(n), s"$base/t", Seq("k"),
        latestBy = Some("ts")),
      base => rows(spark.read.parquet(s"$base/t"))))
  }

  test("bucket: the next upsert converges from either crash window") {
    convergesFromBothWindows(Site("t/kb=0", "t/.old_kb=0", "t.staging/kb=0",
      (base, n) => BucketedTable.upsert(batch(n), s"$base/t", Seq("k"),
        numBuckets = 4, latestBy = Some("ts")),
      base => rows(BucketedTable.read(spark, s"$base/t"))))
  }

  test("compaction leaf: the next compactPartitioned converges from either crash window") {
    convergesFromBothWindows(Site("ds/part=1", "ds/.part=1.compact_old",
      "ds/.part=1.compact_tmp",
      (base, n) =>
        if (n == 1) batch(1).withColumn("part", $"k" % 3).repartition(4)
          .write.partitionBy("part").parquet(s"$base/ds")
        else assert(Sink.compactPartitioned(spark, s"$base/ds", 1L << 30)
          .map(_._1).sorted == Seq("part=0", "part=1", "part=2")),
      base => {
        val df = spark.read.parquet(s"$base/ds")
        val files = new java.io.File(s"$base/ds").listFiles().filter(_.isDirectory)
          .map(d => d.getName -> d.list().count(_.endsWith(".parquet"))).toMap
        (rows(df), df.schema("part").dataType, files)
      }))
  }

  test("a failed promoting rename puts the previous copy back") {
    val base = Files.createTempDirectory("graft-crash-fail").toString
    Ingest.saveState(spark, s"$base/state", Map("r1" -> 1L))
    val live = new Path(s"$base/state")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    intercept[java.io.IOException](
      graft.sources.Swap.commit(fs, new Path(s"$base/missing"), live, new Path(s"$base/state.old")))
    assert(!fs.exists(new Path(s"$base/state.old")))
    assert(Ingest.loadState(spark, s"$base/state") == Map("r1" -> 1L))
  }
}
