package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.BucketedTable
import graft.streaming.StreamOps

/** The batch-cost merge sink: bucketed merge must be EQUIVALENT to the
  * legacy full read-merge-swap on every contract (plain, stamped, stale
  * re-delivery), while physically rewriting only the buckets a batch
  * touches.
  */
class BucketedTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(tag: String) =
    Files.createTempDirectory(s"graft-bt-$tag").toString + "/t"

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The physical plans of the file writes `body` runs. Both listeners
    * sit on the one ordered listener queue, so once the drain job's start
    * is delivered, every write `body` made has been too.
    */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val sc = spark.sparkContext
    val drain = s"bt-drain-${java.util.UUID.randomUUID()}"
    val drained = new CountDownLatch(1)
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(drain))
          drained.countDown()
    }
    val writes = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(writes)
    try {
      body
      sc.setJobGroup(drain, "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(writes)
    }
    plans.asScala.toSeq
  }

  /** Every operator of a physical plan, through adaptive wrappers. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case _ => p +: p.children.flatMap(nodes)
  }

  /** (exchange widths on kb, scan root dir names) of one upsert's write. */
  private def mergeShape(body: => Unit): (Seq[Int], Seq[Set[String]]) = {
    val plans = writePlans(body)
    assert(plans.size == 1, s"expected one write, got ${plans.size}")
    val ns = nodes(plans.head)
    val widths = ns.collect { case e: ShuffleExchangeExec => e.outputPartitioning }.map {
      case h: HashPartitioning if h.references.map(_.name).toSet == Set(BucketedTable.BucketCol) =>
        h.numPartitions
      case SinglePartition => 1 // how Spark plans a one-partition repartition
      case other => fail(s"unexpected exchange $other")
    }
    val roots = ns.collect { case f: FileSourceScanExec =>
      f.relation.location.rootPaths.map(_.getName).toSet }
    (widths, roots)
  }

  /** Parquet files per bucket dir of a table. */
  private def filesPerBucket(bt: String): Map[String, Int] =
    new java.io.File(bt).listFiles().filter(_.getName.startsWith("kb=")).map { d =>
      d.getName -> d.listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap

  test("bucketed upsert == full-table upsert over the same batch sequence") {
    val bt = tmp("eq-b"); val full = tmp("eq-f")
    // Batch 1: 200 keys; batch 2: overlap 100..249 (updates + inserts);
    // batch 3: stale re-delivery of 50..99 with OLDER ts (must not
    // regress) plus within-batch duplicates for key 0.
    val b1 = Seq.tabulate(200)(i => (i.toLong, 10L, s"v$i")).toDF("k", "ts", "v")
    val b2 = Seq.tabulate(150)(i => ((i + 100).toLong, 20L, s"w$i")).toDF("k", "ts", "v")
    val b3 = (Seq.tabulate(50)(i => ((i + 50).toLong, 5L, s"stale$i")) ++
      Seq((0L, 30L, "dupA"), (0L, 30L, "dupB"))).toDF("k", "ts", "v")
    for (b <- Seq(b1, b2, b3)) {
      BucketedTable.upsert(b, bt, Seq("k"), numBuckets = 16,
        latestBy = Some("ts"), tieBreakers = Seq("v"))
      StreamOps.upsertIntoParquet(b, full, Seq("k"),
        latestBy = Some("ts"), tieBreakers = Seq("v"))
    }
    val got = sortedRows(BucketedTable.read(spark, bt))
    val want = sortedRows(spark.read.parquet(full))
    assert(got == want)
    // Spot-check the contracts directly: stale batch didn't regress,
    // within-batch dup kept the deterministic tie-break winner.
    val byK = BucketedTable.read(spark, bt).as[(Long, Long, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byK(50L) == (10L, "v50"), "stale re-delivery must not regress")
    assert(byK(0L) == (30L, "dupA"), "tie-breaker must pick deterministically")
    assert(byK(150L) == (20L, "w50"))
  }

  test("stamped bucketed upsert == stamped full upsert") {
    val bt = tmp("st-b"); val full = tmp("st-f")
    val b1 = Seq.tabulate(30)(i => (i.toLong, s"a$i")).toDF("k", "v")
    val b2 = Seq.tabulate(30)(i => ((i + 15).toLong, s"b$i")).toDF("k", "v")
    BucketedTable.upsert(b1, bt, Seq("k"), numBuckets = 8, stamp = Some(lit(1L)))
    BucketedTable.upsert(b2, bt, Seq("k"), numBuckets = 8, stamp = Some(lit(2L)))
    StreamOps.upsertIntoParquet(b1, full, Seq("k"), stamp = Some(lit(1L)))
    StreamOps.upsertIntoParquet(b2, full, Seq("k"), stamp = Some(lit(2L)))
    assert(sortedRows(BucketedTable.read(spark, bt)) ==
      sortedRows(spark.read.parquet(full)))
    // inserted_at survives the re-write, updated_at advances (the
    // trigger semantics) — asserted on the bucketed side.
    val r = BucketedTable.read(spark, bt).as[(Long, String, Long, Long)]
      .collect().map(x => x._1 -> (x._3, x._4)).toMap
    assert(r(0L) == (1L, 1L) && r(20L) == (1L, 2L) && r(40L) == (2L, 2L))
  }

  test("fused merge window == pre-dedup + merge (stamped, in-batch dups, stale rows)") {
    // The r16 fused shape drops the separate pre-dedup window (the merge
    // ordering picks the same per-key winner) and clusters every window
    // by kb. This pins the equivalence on the STAMPED path with within-
    // batch duplicates AND a stale re-delivery in the same batch.
    val bt = tmp("fused-st"); val full = tmp("fused-st-f")
    val b1 = Seq.tabulate(40)(i => (i.toLong, 10L, s"a$i")).toDF("k", "ts", "v")
    val b2 = (Seq.tabulate(20)(i => ((i + 30).toLong, 20L, s"b$i")) ++
      Seq((30L, 20L, "dupZ"), (5L, 1L, "stale5"))).toDF("k", "ts", "v")
    for ((b, st) <- Seq((b1, 1L), (b2, 2L))) {
      BucketedTable.upsert(b, bt, Seq("k"), numBuckets = 8,
        latestBy = Some("ts"), tieBreakers = Seq("v"), stamp = Some(lit(st)))
      StreamOps.upsertIntoParquet(b, full, Seq("k"),
        latestBy = Some("ts"), tieBreakers = Seq("v"), stamp = Some(lit(st)))
    }
    assert(sortedRows(BucketedTable.read(spark, bt)) ==
      sortedRows(spark.read.parquet(full)))
    val r = BucketedTable.read(spark, bt)
      .as[(Long, Long, String, Long, Long)]
      .collect().map(x => x._1 -> (x._2, x._3, x._4, x._5)).toMap
    assert(r(30L) == (20L, "b0", 1L, 2L), "in-batch tie keeps tiebreak winner")
    assert(r(5L) == (10L, "a5", 1L, 1L), "stale row must not refresh stamps")
    assert(r(45L) == (20L, "b15", 2L, 2L))
  }

  test("first-load dedup clustered by kb == plain dedupByKey") {
    // First load with in-batch duplicates: the kb-clustered window must
    // pick exactly dedupByKey's winner (kb = f(k) adds no grouping).
    val bt = tmp("fused-fl")
    val b = (Seq.tabulate(60)(i => ((i % 20).toLong, (i / 20).toLong, s"v$i")))
      .toDF("k", "ts", "v")
    BucketedTable.upsert(b, bt, Seq("k"), numBuckets = 4,
      latestBy = Some("ts"), tieBreakers = Seq("v"))
    val want = graft.operators.Transform
      .dedupByKey(b, Seq("k"), Some("ts"), Seq("v"))
    assert(sortedRows(BucketedTable.read(spark, bt)) == sortedRows(want))
  }

  test("merge rewrites ONLY the touched buckets; untouched files survive untouched") {
    val bt = tmp("touch")
    val big = Seq.tabulate(2000)(i => (i.toLong, 1L, i * 2)).toDF("k", "ts", "v")
    BucketedTable.upsert(big, bt, Seq("k"), numBuckets = 64, latestBy = Some("ts"))
    val fs = new Path(bt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileIds(): Map[String, Set[String]] =
      fs.listStatus(new Path(bt)).filter(s => s.isDirectory &&
          s.getPath.getName.startsWith("kb=")).map { d =>
        d.getPath.getName ->
          fs.listStatus(d.getPath).map(_.getPath.getName).toSet
      }.toMap
    val before = fileIds()
    assert(before.size == 64, s"expected 64 bucket dirs, got ${before.size}")
    // A 3-key batch touches ≤ 3 buckets.
    val smallBatch = Seq((5L, 9L, -1), (6L, 9L, -2), (7L, 9L, -3)).toDF("k", "ts", "v")
    BucketedTable.upsert(smallBatch, bt, Seq("k"), numBuckets = 64,
      latestBy = Some("ts"))
    val after = fileIds()
    val changed = after.keySet.filter(kb => before(kb) != after(kb))
    assert(changed.size <= 3 && changed.nonEmpty,
      s"a 3-key batch must rewrite at most 3 buckets, changed: $changed")
    // Content still correct.
    val out = BucketedTable.read(spark, bt).as[(Long, Long, Int)]
      .collect().map(r => r._1 -> r._3).toMap
    assert(out(5L) == -1 && out(6L) == -2 && out(7L) == -3 && out(8L) == 16)
    assert(out.size == 2000)
  }

  test("heal finishes an interrupted per-bucket swap in both crash windows") {
    val bt = tmp("heal")
    BucketedTable.upsert(
      Seq.tabulate(100)(i => (i.toLong, i)).toDF("k", "v"), bt, Seq("k"),
      numBuckets = 8)
    val fs = new Path(bt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buckets = fs.listStatus(new Path(bt))
      .filter(_.getPath.getName.startsWith("kb=")).map(_.getPath)
    val b0 = buckets.head; val k0 = b0.getName.stripPrefix("kb=")
    val before = sortedRows(BucketedTable.read(spark, bt))
    // Both old-copy names: the hidden one, and the `_old_kb=` one a table
    // that crashed before the old copy was hidden still carries.
    for (prefix <- Seq(".old_kb=", "_old_kb=")) {
      val oldCopy = new Path(new Path(bt), s"$prefix$k0")
      // Window 1: live renamed aside, staged not yet in — heal restores.
      assert(fs.rename(b0, oldCopy))
      BucketedTable.heal(fs, new Path(bt))
      assert(fs.exists(b0) && !fs.exists(oldCopy))
      assert(sortedRows(BucketedTable.read(spark, bt)) == before)
      // Window 2: swap completed but the old copy not yet deleted — heal
      // drops it.
      assert(org.apache.hadoop.fs.FileUtil.copy(fs, b0, fs, oldCopy, false,
        spark.sparkContext.hadoopConfiguration))
      BucketedTable.heal(fs, new Path(bt))
      assert(!fs.exists(oldCopy) && fs.exists(b0))
      assert(sortedRows(BucketedTable.read(spark, bt)) == before)
    }
  }

  test("a read before any heal: window 2 reads the merged rows, window 1 fails loudly") {
    val bt = tmp("read-mid")
    BucketedTable.upsert(Seq.tabulate(100)(i => (i.toLong, i)).toDF("k", "v"),
      bt, Seq("k"), numBuckets = 8)
    BucketedTable.upsert(Seq.tabulate(100)(i => (i.toLong, -i)).toDF("k", "v"),
      bt, Seq("k"), numBuckets = 8)
    val merged = sortedRows(BucketedTable.read(spark, bt))
    val fs = new Path(bt).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.listStatus(new Path(bt))
      .filter(_.getPath.getName.startsWith("kb=")).map(_.getPath).head
    val oldCopy = new Path(new Path(bt), ".old_kb=" + live.getName.stripPrefix("kb="))
    // Window 2: the bucket is live and an old copy still sits beside it.
    // A leak of the old copy into the read would duplicate its rows.
    assert(org.apache.hadoop.fs.FileUtil.copy(fs, live, fs, oldCopy, false,
      spark.sparkContext.hadoopConfiguration))
    assert(sortedRows(BucketedTable.read(spark, bt)) == merged)
    // Window 1: only the old copy exists. A read would miss the bucket's
    // rows, so it fails and names the bucket instead.
    assert(fs.delete(live, true))
    val e = intercept[java.io.IOException](BucketedTable.read(spark, bt))
    assert(e.getMessage.contains(live.getName), e.getMessage)
    BucketedTable.heal(fs, new Path(bt))
    assert(BucketedTable.read(spark, bt).count() == 100)
  }

  test("re-merging the same batch is a content no-op (crash-replay idempotence)") {
    val bt = tmp("idem")
    val b1 = Seq.tabulate(50)(i => (i.toLong, 1L, i)).toDF("k", "ts", "v")
    val b2 = Seq.tabulate(20)(i => ((i + 40).toLong, 2L, -i)).toDF("k", "ts", "v")
    BucketedTable.upsert(b1, bt, Seq("k"), numBuckets = 8, latestBy = Some("ts"))
    BucketedTable.upsert(b2, bt, Seq("k"), numBuckets = 8, latestBy = Some("ts"))
    val once = sortedRows(BucketedTable.read(spark, bt))
    BucketedTable.upsert(b2, bt, Seq("k"), numBuckets = 8, latestBy = Some("ts"))
    assert(sortedRows(BucketedTable.read(spark, bt)) == once)
  }

  test("first load lands data + meta atomically; meta-less non-empty targets are refused") {
    val bt = tmp("atomic")
    BucketedTable.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), bt, Seq("k"),
      numBuckets = 4)
    // Meta arrived in the SAME rename as the data (it was staged first),
    // so there is no loaded-but-meta-less crash window.
    assert(BucketedTable.meta(spark, bt).contains((4, Seq("k"))))
    val root = new Path(bt)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(bt + ".staging")), "staging dir must be gone")

    // Simulate the pre-fix crash artifact / a mistyped foreign dataset:
    // a non-empty target without the meta file. The next upsert must
    // REFUSE (the old behavior silently deleted the whole directory and
    // treated the call as a fresh first load — data loss).
    fs.delete(new Path(root, "_graft_buckets.json"), false)
    val e = intercept[java.io.IOException] {
      BucketedTable.upsert(Seq((3L, "c")).toDF("k", "v"), bt, Seq("k"),
        numBuckets = 4)
    }
    assert(e.getMessage.contains("refusing"))
    // The existing data survived the refusal.
    assert(spark.read.parquet(bt).count() == 2)
  }

  test("bucket-count and key mismatches fail loudly; meta round-trips") {
    val bt = tmp("meta")
    BucketedTable.upsert(Seq((1L, "a")).toDF("k", "v"), bt, Seq("k"),
      numBuckets = 32)
    assert(BucketedTable.meta(spark, bt).contains((32, Seq("k"))))
    // Later merges use the STORED bucket count (a different requested n
    // is ignored, not re-bucketed) — and changed keys are an error.
    BucketedTable.upsert(Seq((2L, "b")).toDF("k", "v"), bt, Seq("k"),
      numBuckets = 999)
    assert(BucketedTable.meta(spark, bt).contains((32, Seq("k"))))
    val e = intercept[IllegalArgumentException] {
      BucketedTable.upsert(Seq((3L, "c")).toDF("k", "v"), bt, Seq("v"))
    }
    assert(e.getMessage.contains("keys"))
    assert(BucketedTable.read(spark, bt).count() == 2)
  }

  test("upsertSink(buckets=Some(n)) drives the bucketed merge end-to-end") {
    val dropDir = Files.createTempDirectory("graft-btsink-in").toString
    val target = tmp("sink")
    val ckpt = Files.createTempDirectory("graft-btsink-c").toString
    Seq.tabulate(50)(i => (i.toLong, 1)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    Seq.tabulate(50)(i => ((i + 25).toLong, 2)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    StreamOps.upsertSink(
      spark.readStream.schema("k LONG, v INT")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      target, ckpt, keys = Seq("k"), tieBreakers = Seq("v"),
      buckets = Some(16)).awaitTermination()
    val out = BucketedTable.read(spark, target)
    assert(out.count() == 75)
    assert(out.filter(col("k") < 25 && col("v") === 1).count() == 25)
    assert(out.filter(col("k") >= 25 && col("v") === 2).count() == 50)
    assert(BucketedTable.meta(spark, target).contains((16, Seq("k"))))
  }

  test("first load and merge: one kb exchange of min(touched, shuffle width) " +
      "tasks, one file per touched bucket; the merge scans only live touched buckets") {
    val bt = tmp("plan")
    val shuffleWidth = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bucket = Seq.tabulate(200)(_.toLong).toDF("k")
      .select(col("k"), BucketedTable.bucketOf(Seq("k"), 64))
      .as[(Long, Int)].collect().toMap
    // First load: more touched buckets than the shuffle width, no scan.
    val b1 = Seq.tabulate(12)(i => (i.toLong, 1L)).toDF("k", "v")
    val touched1 = (0L until 12L).map(bucket).toSet
    assert(touched1.size > shuffleWidth)
    val (w1, roots1) = mergeShape(BucketedTable.upsert(b1, bt, Seq("k"), numBuckets = 64))
    assert(w1 == Seq(shuffleWidth) && roots1.isEmpty, s"first load: $w1 $roots1")
    assert(filesPerBucket(bt) == touched1.map(k => s"kb=$k" -> 1).toMap)
    // Merge: one key in a live bucket, one in a bucket the load left empty.
    val fresh = (12L until 200L).find(k => !touched1(bucket(k))).get
    val (w2, roots2) = mergeShape(BucketedTable.upsert(
      Seq((3L, 2L), (fresh, 2L)).toDF("k", "v"), bt, Seq("k"), numBuckets = 64))
    assert(w2 == Seq(2), s"merge exchanges $w2 for 2 touched buckets")
    assert(roots2 == Seq(Set(s"kb=${bucket(3L)}")), s"merge scanned $roots2")
    assert(filesPerBucket(bt).values.forall(_ == 1))
    // A merge whose buckets are all new reads no target at all.
    val live = touched1 + bucket(fresh)
    val novel = (12L until 200L).find(k => !live(bucket(k))).get
    val (w3, roots3) = mergeShape(
      BucketedTable.upsert(Seq((novel, 3L)).toDF("k", "v"), bt, Seq("k"), numBuckets = 64))
    assert(w3 == Seq(1) && roots3.isEmpty, s"all-new merge: $w3 $roots3")
    val out = BucketedTable.read(spark, bt).as[(Long, Long)].collect().toMap
    assert(out.size == 14 && out(3L) == 2L && out(fresh) == 2L && out(novel) == 3L &&
      out(4L) == 1L)
  }

  test("an empty first batch lands the meta atomically; the next batch merges into it") {
    val bt = tmp("empty")
    val empty = spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL("k LONG, v STRING"))
    BucketedTable.upsert(empty, bt, Seq("k"), numBuckets = 4)
    assert(BucketedTable.meta(spark, bt).contains((4, Seq("k"))))
    assert(!new java.io.File(bt + ".staging").exists(), "staging dir must be gone")
    assert(filesPerBucket(bt).isEmpty)
    BucketedTable.upsert(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), bt, Seq("k"),
      numBuckets = 4)
    assert(sortedRows(BucketedTable.read(spark, bt)) == Seq("[1,a]", "[2,b]"))
  }
}
