package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.streaming.{RunStore, StreamOps}

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  /** Stage the events table as N separate parquet drop files in a temp dir,
    * simulating incremental arrivals (the CKAN-resource analog).
    */
  private def stageDrops(n: Int): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val ev = Tables.events(spark, sfDir)
    (0 until n).foreach { i =>
      ev.filter(col("event_id") % n === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    dir
  }

  /** Run `second` (the writer of a drop dir's second file drop), then
    * stamp its files strictly later than the first drop's max mtime.
    * FileStreamSource batches by modification time — on coarse-mtime
    * filesystems a back-to-back write can tie with the first drop and
    * interleave into micro-batch 1, breaking the cross-batch ordering
    * the order-sensitive sinks (quota, transitions) depend on.
    */
  private def pinnedSecondDrop(dropD: String)(second: => Unit): Unit = {
    val dropDir = new java.io.File(dropD)
    def partFiles() = Option(dropDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val firstNames = partFiles().map(_.getName).toSet
    val firstMax = partFiles().map(_.lastModified).max
    second
    partFiles().filterNot(f => firstNames(f.getName)).foreach { f =>
      require(f.setLastModified(firstMax + 60000L), s"mtime stamp failed: $f")
    }
  }

  /** Stage drops `is` of an `n`-way doc_id split of `docs` into `dropD`,
    * one single-file drop each, stamped with strictly increasing mtimes so
    * the file source batches them in order (the gate is order-insensitive;
    * the stamps only pin the batch count and order).
    */
  private def stageDocDrops(docs: org.apache.spark.sql.DataFrame,
      dropD: String, n: Int, is: Range): Unit = {
    def parts() = Option(new java.io.File(dropD).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    is.foreach { i =>
      val before = parts()
      docs.filter(pmod(col("doc_id"), lit(n.toLong)) === i)
        .coalesce(1).write.mode("append").parquet(dropD)
      (parts() -- before).foreach { f =>
        require(new java.io.File(s"$dropD/$f")
          .setLastModified(1700000000000L + i * 60000L), s"mtime stamp failed for $f")
      }
    }
  }

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started on this thread (RunnerSpec's `traced`, jobs only).
    */
  private def countingJobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"streaming-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group => jobs.incrementAndGet()
          case g if g == group + "-drain" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "code under test")
      val out = body
      // Once the drain job's start is delivered, every event `body`
      // posted has been too (one ordered listener queue).
      sc.setJobGroup(group + "-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Every directory under `root` named `pb=<i>`: the hive layout the
    * LSH index no longer writes.
    */
  private def hiveDirs(root: String): Seq[String] = {
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("pb=")).map(_.toString).toSeq
    } finally walk.close()
  }

  /** Names directly under an LSH target in the per-batch tail shape
    * (`bands_<i>`, `sigs_<i>`, `inc_<i>`) earlier versions wrote; the
    * sink adopts or sweeps every one of them.
    */
  private def tailNames(target: String): Seq[String] =
    Option(new java.io.File(target).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.matches("""(bands|sigs|inc)_\d+""")).toSeq.sorted

  test("streaming Count-Min sketch equals the batch sketch over all drops") {
    val dir = stageDrops(3)
    val stream = StreamOps.countMinStream(
      StreamOps.readParquetStream(spark, dir, Tables.events(spark, sfDir)),
      "event_type", depth = 4, width = 64)
    val q = stream.writeStream.format("memory").queryName("cmstream")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cmstream").head
    val batch = Tables.events(spark, sfDir)
      .agg(graft.functions.countMin(col("event_type"), 4, 64)).head.getStruct(0)
    // Elementwise-sum merge is exactly associative → the streaming state
    // after 3 micro-batches is bit-identical to the one-shot aggregate.
    assert(got.getLong(0) == batch.getLong(0))
    assert(got.getSeq[Long](1) == batch.getSeq[Long](1))
  }

  test("incremental ingest: file-source stream sees all drops exactly once") {
    val dir = stageDrops(3)
    val stream = StreamOps.canonicalizeEvents(
      StreamOps.readParquetStream(spark, dir, Tables.events(spark, sfDir)))
    val q = stream.writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("ingest")
    assert(got.count() == Tables.events(spark, sfDir).count())
    assert(got.select("business_key").distinct().count() == got.count())
  }

  test("windowed aggregation over the stream matches the batch twin") {
    val dir = stageDrops(2)
    val stream = StreamOps.windowedAgg(
      StreamOps.readParquetStream(spark, dir, Tables.events(spark, sfDir)))
    val q = stream.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"), col("sum_value"))
    // Append-mode emits only watermark-closed windows; every emitted row
    // must equal its batch twin, and most windows must have closed.
    val got = spark.table("winagg")
    assert(got.count() > 0)
    assert(got.except(batch).count() == 0)
  }

  test("native session_window stream emits watermark-closed sessions matching batch") {
    val dir = stageDrops(2)
    val stream = StreamOps.sessionWindowAgg(
      StreamOps.readParquetStream(spark, dir, Tables.events(spark, sfDir)))
    val q = stream.writeStream.format("memory").queryName("sesswin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val batch = StreamOps.sessionWindowAgg(Tables.events(spark, sfDir))
    val got = spark.table("sesswin")
    // Append-mode emits only closed sessions; each must equal its batch
    // twin row exactly (same merge semantics in both modes).
    assert(got.count() > 0)
    assert(got.except(batch).count() == 0)
  }

  test("stream-static join enriches every micro-batch from the broadcast dim") {
    val dir = stageDrops(2)
    val dim = (0L until 100L).map(u => (u, s"seg_${u % 3}")).toDF("user_id", "segment")
    val stream = StreamOps.enrichWithDim(
      StreamOps.readParquetStream(spark, dir, Tables.events(spark, sfDir)), dim, "user_id")
    val q = stream.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("enriched")
    assert(got.count() == Tables.events(spark, sfDir).count())
    // Left join: every event with a known user carries its segment.
    assert(got.filter(col("user_id") < 100 && col("segment").isNull).count() == 0)
  }

  test("streaming dedup within watermark drops same-key duplicates") {
    val dir = Files.createTempDirectory("graft-dupes").toString
    val ev = Tables.events(spark, sfDir).limit(100)
    ev.coalesce(1).write.mode("append").parquet(dir)
    ev.coalesce(1).write.mode("append").parquet(dir) // same rows again
    val stream = StreamOps.dedupWithinWatermark(
      StreamOps.readParquetStream(spark, dir, ev, maxFilesPerTrigger = 2),
      keys = Seq("event_id"))
    val q = stream.writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() == 100)
  }

  test("transformWithState version stamp: contiguous per-key versions across micro-batches") {
    val dir = Files.createTempDirectory("graft-vstamp").toString
    def ts(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
    // Drop 1: u1 × 2, u2 × 1. Drop 2: u1 × 1, u2 × 2 — versions must
    // CONTINUE from drop-1 state (4th u1 event → version 3, etc.).
    Seq(graft.streaming.Sessionize.Event(1L, ts(0), "a"),
      graft.streaming.Sessionize.Event(1L, ts(1000), "b"),
      graft.streaming.Sessionize.Event(2L, ts(2000), "a"))
      .toDF().coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100)
    Seq(graft.streaming.Sessionize.Event(1L, ts(9000), "c"),
      graft.streaming.Sessionize.Event(2L, ts(8000), "b"),
      graft.streaming.Sessionize.Event(2L, ts(8500), "c"))
      .toDF().coalesce(1).write.mode("append").parquet(dir)

    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = graft.streaming.VersionStamp.stamp(
        spark.readStream.schema(Seq.empty[graft.streaming.Sessionize.Event].toDF().schema)
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .as[graft.streaming.Sessionize.Event])
      val q = stream.writeStream.format("memory").queryName("vstamp")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()

      val got = spark.table("vstamp")
        .select("user_id", "event_type", "version")
        .as[(Long, String, Long)].collect().toSet
      assert(got == Set(
        (1L, "a", 1L), (1L, "b", 2L), (1L, "c", 3L),
        (2L, "a", 1L), (2L, "b", 2L), (2L, "c", 3L)), s"got $got")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream LEFT OUTER interval join: unmatched lefts null-pad once the watermark passes") {
    val ldir = Files.createTempDirectory("graft-ssl").toString
    val rdir = Files.createTempDirectory("graft-ssr").toString
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // Left: two signups at 10:00. Right drop 1: a click matching user 1
    // at 10:30. Right drop 2 (later file): a far-future click that pushes
    // the right watermark past 10:00 + 1h + delay, EXPIRING user 2's join
    // state — only then may the engine emit its null-padded row.
    Seq((1L, ts("2024-01-01 10:00:00"), "s1"), (2L, ts("2024-01-01 10:00:00"), "s2"))
      .toDF("user_id", "ts", "l_id").coalesce(1).write.mode("append").parquet(ldir)
    Seq((1L, ts("2024-01-01 10:30:00"), "c1"))
      .toDF("user_id", "ts", "r_id").coalesce(1).write.mode("append").parquet(rdir)
    Thread.sleep(1100) // file-source batches follow mtime order
    Seq((99L, ts("2024-01-01 16:00:00"), "c9"))
      .toDF("user_id", "ts", "r_id").coalesce(1).write.mode("append").parquet(rdir)
    // The query watermark is the MIN across BOTH watermarked inputs — a
    // stalled left source would hold the join state open forever, so the
    // left must advance too (its late row stays in state, not yet
    // expirable, and must NOT be emitted as unmatched).
    Seq((98L, ts("2024-01-01 16:00:00"), "s9"))
      .toDF("user_id", "ts", "l_id").coalesce(1).write.mode("append").parquet(ldir)

    val left = spark.readStream.schema("user_id LONG, ts TIMESTAMP, l_id STRING")
      .parquet(ldir)
    val right = spark.readStream.schema("user_id LONG, ts TIMESTAMP, r_id STRING")
      .option("maxFilesPerTrigger", 1).parquet(rdir)
    val joined = StreamOps.intervalJoin(left, right, key = "user_id",
        watermark = "10 minutes", joinType = "left_outer")
      .select(col("l.l_id"), col("r.r_id"))
    val q = joined.writeStream.format("memory").queryName("ssouter")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("ssouter").as[(String, Option[String])].collect().toSet
    assert(got.contains(("s1", Some("c1"))), s"matched pair missing: $got")
    assert(got.contains(("s2", None)),
      s"expired unmatched left not null-padded: $got")
    assert(!got.exists(_._1 == "s9"),
      s"not-yet-expired left row leaked a premature unmatched emit: $got")
  }

  test("stream-stream interval join pairs signups with same-user follow-up clicks") {
    val dir = stageDrops(2)
    val ev = Tables.events(spark, sfDir)
    def side(t: String) = StreamOps.readParquetStream(spark, dir, ev, maxFilesPerTrigger = 2)
      .filter(col("event_type") === t)
      .select(col("event_id").as(s"${t}_id"), col("user_id"), col("ts"))
    val joined = StreamOps.intervalJoin(
      side("signup").withColumnRenamed("signup_id", "l_id"),
      side("click").withColumnRenamed("click_id", "r_id"),
      key = "user_id")
      .select(col("l.l_id"), col("r.r_id"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // Batch twin over the same semantics.
    val sg = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("l_id"), col("user_id").as("u"), col("ts").as("lts"))
    val ck = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("r_id"), col("user_id").as("u2"), col("ts").as("rts"))
    val batch = sg.join(ck, col("u") === col("u2") &&
      col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 1 HOUR"))
      .select("l_id", "r_id")
    val got = spark.table("ssjoin")
    assert(got.count() > 0)
    assert(got.except(batch).count() == 0, "stream emitted a pair the batch twin lacks")
  }

  test("stateful transitions sink: versioned state makes a full replay byte-identical") {
    // Two TIME-split drops so a real cross-batch boundary transition
    // exists; run the stream, then wipe ONLY the checkpoint and run it
    // again over the SAME target (every batch replays against existing
    // state_N / inc_N files — the at-least-once crash window, maximally
    // widened). The published matrix must not move: batch 0 re-reads the
    // nonexistent state_-1 (empty, as the first time) and batch 1
    // re-reads the re-written state_0, so replays never see their own
    // output.
    val dir = Files.createTempDirectory("graft-trans").toString
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val m = ev.agg(expr("percentile(unix_millis(ts), 0.5)")).head().getDouble(0)
    ev.filter(unix_millis(col("ts")) <= m)
      .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    pinnedSecondDrop(s"$dir/drop") {
      ev.filter(unix_millis(col("ts")) > m)
        .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    }
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema(
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop")
      StreamOps.transitionsSink(src, s"$dir/out", ckpt).awaitTermination()
    }
    runStream(s"$dir/ckpt1")
    val first = StreamOps.transitionsRead(spark, s"$dir/out")
      .orderBy("src", "dst").collect().toSeq
    runStream(s"$dir/ckpt2") // full replay over the intact target
    val second = StreamOps.transitionsRead(spark, s"$dir/out")
      .orderBy("src", "dst").collect().toSeq
    assert(first == second && first.nonEmpty)
    // And the published matrix equals the one-shot batch operator.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val batchPairs = ev.withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "dst")
      .select("src", "dst", "n").as[(String, String, Long)].collect().toSeq
    val streamed = first.map(r =>
      (r.getString(0), r.getString(1), r.getLong(2)))
    assert(streamed == batchPairs)
  }

  test("transitions sink: fused min_by/max_by firsts-lasts handle ts ties " +
      "across the batch boundary") {
    // Crafted drops with SAME-ts events (distinct event_ids) at each
    // user's batch edges: the r16 single-aggregate firsts/lasts
    // (min_by/max_by over struct(ts, event_id)) must pick exactly the
    // rows the old asc/desc row_number windows picked, or the boundary
    // transition (last of drop 1 → first of drop 2) lands on the wrong
    // event types and the matrix diverges from the batch operator.
    val dir = Files.createTempDirectory("graft-trans-tie").toString
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    // user 1: drop-1 tie at t=10 (ids 2,3) → last must be id 3 ("b");
    //         drop-2 tie at t=20 (ids 4,5) → first must be id 4 ("c").
    val d1 = Seq((1L, ts(0), 1L, "a"), (2L, ts(10), 1L, "x"),
      (3L, ts(10), 1L, "b"), (6L, ts(5), 2L, "a"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val d2 = Seq((4L, ts(20), 1L, "c"), (5L, ts(20), 1L, "d"),
      (7L, ts(25), 2L, "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    d1.coalesce(1).write.mode("append").parquet(s"$dir/drop")
    pinnedSecondDrop(s"$dir/drop") {
      d2.coalesce(1).write.mode("append").parquet(s"$dir/drop")
    }
    val src = spark.readStream.schema(
      "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop")
    StreamOps.transitionsSink(src, s"$dir/out", s"$dir/ckpt").awaitTermination()
    val got = StreamOps.transitionsRead(spark, s"$dir/out")
      .orderBy("src", "dst").select("src", "dst", "n")
      .as[(String, String, Long)].collect().toSeq
    val ev = d1.unionByName(d2)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val want = ev.withColumn("dst", lead(col("event_type"), 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "dst").select("src", "dst", "n")
      .as[(String, String, Long)].collect().toSeq
    assert(got == want)
    // The boundary pair itself: user 1's b→c must be present (not x→c,
    // not b→d) — pins the tie-break direction on both sides.
    assert(got.contains(("b", "c", 1L)))
  }

  test("stateful quota sink: versioned seen-counts fill the per-source " +
      "quota across batches, replay byte-identical") {
    // Two doc_id-split drops (each source straddles the cut), so the
    // quota genuinely fills across the batch boundary: batch 1 must
    // REJECT rows because of state written by batch 0. Then wipe only
    // the checkpoint and re-run over the intact target — the versioned
    // state (batch N joins state_<N-1>, never "the latest") must make
    // the replay byte-identical.
    val dir = Files.createTempDirectory("graft-quota").toString
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val m = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    docs.filter(col("doc_id") <= m)
      .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    pinnedSecondDrop(s"$dir/drop") {
      docs.filter(col("doc_id") > m)
        .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    }
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, source STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop")
      StreamOps.quotaSink(src, 10, s"$dir/out", ckpt).awaitTermination()
    }
    runStream(s"$dir/ckpt1")
    val first = StreamOps.quotaRead(spark, s"$dir/out")
      .orderBy("doc_id").select("doc_id", "source", "rk").collect().toSeq
    runStream(s"$dir/ckpt2") // full replay over the intact target
    val second = StreamOps.quotaRead(spark, s"$dir/out")
      .orderBy("doc_id").select("doc_id", "source", "rk").collect().toSeq
    assert(first == second && first.nonEmpty)
    // == the one-shot batch window cap, and the gate genuinely rejects.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val batchCap = docs
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10).orderBy("doc_id")
      .select("doc_id", "source", "rk")
      .as[(Long, String, Long)].collect().toSeq
    val streamed = first.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed == batchCap)
    assert(first.size < docs.count(), "quota never rejected — vacuous gate")
  }

  test("LSH append gate: accumulated pairs == one-shot banded pairs over " +
      "the union; cross-batch pairs exist; replay byte-identical") {
    val dir = Files.createTempDirectory("graft-lsh").toString
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val m = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    docs.filter(col("doc_id") <= m)
      .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    pinnedSecondDrop(s"$dir/drop") {
      docs.filter(col("doc_id") > m)
        .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    }
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop")
      StreamOps.lshPairsSink(src, s"$dir/out", ckpt).awaitTermination()
    }
    runStream(s"$dir/ckpt1")
    val first = StreamOps.lshPairsRead(spark, s"$dir/out")
      .orderBy("id").collect().toSeq
    runStream(s"$dir/ckpt2") // full replay over the intact target
    val second = StreamOps.lshPairsRead(spark, s"$dir/out")
      .orderBy("id").collect().toSeq
    assert(first == second && first.nonEmpty)
    // == the one-shot banded per-doc flags over the whole corpus.
    assert(first == oneShotLshFlags(docs))
    // The gate genuinely crossed the batch boundary: some doc's best
    // partner straddles the doc_id split (else the test verifies two
    // independent runs).
    assert(first.exists(r => r.getLong(0) > m && r.getLong(2) <= m),
      "no cross-batch match — vacuous gate")
  }

  /** The one-shot banded per-doc dedup flags over a corpus — the batch
    * ground truth both LSH-gate tests compare the accumulated stream
    * output against.
    */
  private def oneShotLshFlags(
      docs: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    oneShotLshFrame(docs).orderBy("id").collect().toSeq

  private def oneShotLshFrame(docs: org.apache.spark.sql.DataFrame,
      maxBucket: Int = 100): org.apache.spark.sql.DataFrame = {
    val sig = graft.operators.MinHashLsh.portableMinhashSig(docs)
    val bands = graft.operators.MinHashLsh.portableBands(sig)
    val capped = bands.join(
      bands.groupBy("b", "k1", "k2").agg(count(lit(1)).as("occ"))
        .filter(col("occ") > 1 && col("occ") <= maxBucket).select("b", "k1", "k2"),
      Seq("b", "k1", "k2"))
    val pk = lit(10000000000L)
    capped.toDF("b", "k1", "k2", "id_a")
      .join(capped.toDF("b", "k1", "k2", "id_b"), Seq("b", "k1", "k2"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(sig.toDF("id_a", "sa"), "id_a")
      .join(sig.toDF("id_b", "sb"), "id_b")
      .withColumn("n_eq",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          p => p)).cast("long"))
      .filter(col("n_eq") >= 16)
      .groupBy(col("id_b").as("id"))
      .agg(count(lit(1)).as("n_matches"),
        max(col("n_eq") * pk + col("id_a")).as("best"))
      .select(col("id"), col("n_matches"),
        pmod(col("best"), pk).as("best_match"),
        expr("best DIV 10000000000").as("best_n_eq"))
  }

  test("LSH gate at a small cap: a bucket crossing the cap at a batch " +
      "boundary and an in-batch bucket over it publish as the one-shot twin, " +
      "and no run holds a pair of an over-full bucket") {
    val dir = Files.createTempDirectory("graft-lshcap").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"
    val cap = 3
    // Identical-text families share every band bucket. Even ids land in
    // batch 0, odd ids in batch 1: A is 5 copies in batch 0; B is 2 + 2
    // (occupancy 2, then 4); C is 2 + 1 (occupancy exactly the cap).
    val a = (0L to 8L by 2).map(1000000L + _)
    val b = Seq(1000010L, 1000012L, 1000011L, 1000013L)
    val c = Seq(1000020L, 1000022L, 1000021L)
    val fams = a.map(_ -> "amber basalt cobalt dune ember") ++
      b.map(_ -> "fjord glacier harbor inlet jetty") ++
      c.map(_ -> "kelp lagoon marsh nook oasis")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .unionByName(fams.toDF("doc_id", "text"))
    stageDocDrops(docs, dropD, 2, 0 until 2)
    StreamOps.lshPairsSink(spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD), out, s"$dir/ckpt",
        maxBucket = cap)
      .awaitTermination()
    val got = StreamOps.lshPairsRead(spark, out, maxBucket = cap)
      .orderBy("id").collect().toSeq
    assert(got == oneShotLshFrame(docs, cap).orderBy("id").collect().toSeq)
    val matches = got.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(matches.get(1000021L).contains(1L) && matches.get(1000022L).contains(2L),
      s"family C at the cap must publish: $matches")
    assert(!(a ++ b).exists(matches.contains), s"an over-full family published: $matches")
    // In flight: batch 0 paired B while its buckets held 2; batch 1 found
    // them over the cap and generated nothing for them, and no batch ever
    // generated a pair of A. A batch emits at most C(cap, 2) per bucket.
    def inc(run: String) = spark.read.parquet(s"$out/cinc_$run")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(ids(inc("0_0")).contains((1000010L, 1000012L)))
    assert(!ids(inc("0_0").unionByName(inc("1_1"))).exists { case (x, y) =>
      a.contains(x) || a.contains(y) || Set(1000011L, 1000013L)(y) })
    Seq("0_0", "1_1").foreach { run =>
      val most = inc(run).groupBy("b", "k1", "k2").count().agg(max("count")).head().getLong(0)
      assert(most <= cap * (cap - 1) / 2, s"run $run holds $most pairs in one bucket")
    }
  }

  test("LSH gate folding: probe reads a constant-bounded root count at N " +
      "batches; folded per-batch snapshots are swept; publish and a full " +
      "replay over the folded target stay byte-identical") {
    val dir = Files.createTempDirectory("graft-lshfold").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = 7; val compactEvery = 3
    stageDocDrops(docs, dropD, n, 0 until n)
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD)
      StreamOps.lshPairsSink(src, out, ckpt, compactEvery = compactEvery)
        .awaitTermination()
    }
    RunStore.probeRoots.remove(out)
    runStream(s"$dir/ckpt1")
    // THE compaction contract: the probe never reads more than
    // compactEvery roots here (L0 runs + < compactEvery one-batch runs; no
    // tier merge fires below tierFanout runs), however many batches the
    // stream has seen — vs O(batchId) before.
    val rootCounts = RunStore.probeRoots(out).map(_._2)
    assert(rootCounts.size == n && rootCounts.max <= compactEvery,
      s"probe root counts $rootCounts exceed compactEvery=$compactEvery")
    // Layout after L0 folds at batch 3 (run 0..2) and 6 (run 3..5), then
    // batch 6's own one-batch run: three visible runs (below the default
    // tierFanout=4, so no merge); the folded one-batch runs are swept.
    def names = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(names.filter(_.startsWith("cdone_")) ==
      Set("cdone_0_2", "cdone_3_5", "cdone_6_6"), s"unexpected layout $names")
    assert(names("cbands_3_5") && names("csigs_3_5") && names("cinc_3_5"))
    assert(names("cbands_6_6") && names("csigs_6_6") && names("cinc_6_6"))
    assert(!names("cbands_5_5"), s"folded one-batch runs not swept: $names")
    assert(tailNames(out).isEmpty, s"tail names under $out")
    val first = StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq
    assert(first == oneShotLshFlags(docs) && first.nonEmpty)
    // Full replay over the intact FOLDED target (fresh checkpoint): each
    // replayed batch reconstructs its prior corpus via the src_batch cut
    // of the standing runs; the re-written one-batch run of a folded
    // batch is contained in its fold, so no reader sees it. Byte-identical
    // publish.
    runStream(s"$dir/ckpt2")
    val second = StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq
    assert(first == second)
  }

  test("LSH tiered fold, 24 batches: probe roots stay log-bounded, " +
      "cumulative fold write volume is O(N log N) not O(N^2), layout is " +
      "the geometric run set, publish and full replay byte-identical") {
    val dir = Files.createTempDirectory("graft-lshtier").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    // compactEvery=1 / fanout=2 exercises the LSM shape hardest: every
    // batch folds, every power-of-two fold cascades a carry merge.
    val n = 24; val compactEvery = 1; val fanout = 2
    stageDocDrops(docs, dropD, n, 0 until n)
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD)
      StreamOps.lshPairsSink(src, out, ckpt,
        compactEvery = compactEvery, tierFanout = fanout)
        .awaitTermination()
    }
    RunStore.probeRoots.remove(out)
    RunStore.foldSpans.remove(out)
    runStream(s"$dir/ckpt1")
    // (a) Per-batch probe roots: visible runs mirror the base-fanout
    // digit count of the fold counter — ≤ (fanout-1)·log_f(N) + tails,
    // NEVER O(batchId).
    val rootCounts = RunStore.probeRoots(out).map(_._2)
    val logBound = (fanout - 1) *
      math.ceil(math.log(n.toDouble) / math.log(fanout)).toInt + compactEvery
    assert(rootCounts.size == n && rootCounts.max <= logBound,
      s"probe root counts $rootCounts exceed log bound $logBound")
    // (b) Cumulative fold INPUT span (batches re-written across all tier
    // merges; at compactEvery=1 a one-batch run already is an L0 run, so
    // nothing is copied to make one): each batch climbs ≤ log_f(N) tiers,
    // so the sum is ≤ N·(log_f(N)+1) — here 74 counted vs 276 for the r14
    // full-generation rewrite (Σ k over 23 folds). The quadratic shape
    // would trip this bound from N≈16 on.
    val spans = RunStore.foldSpans(out)
    val nlogn = n.toLong *
      (math.ceil(math.log(n.toDouble) / math.log(fanout)).toLong + 1)
    val quadratic = (1 until n).map(_.toLong).sum * compactEvery
    assert(spans <= nlogn && spans < quadratic / 2,
      s"fold spans $spans exceed O(N log N) bound $nlogn (quadratic=$quadratic)")
    // (c) Layout: the visible runs are the binary decomposition of the
    // 23 batches before the last (16+4+2+1) plus the last batch's own
    // one-batch run, each marker-gated; no tail name anywhere.
    def names = new java.io.File(out).listFiles().map(_.getName).toSet
    val runs = names.collect { case s if s.startsWith("cdone_") =>
      val Array(lo, hi) = s.stripPrefix("cdone_").split('_').map(_.toLong)
      (lo, hi)
    }.toSeq.sortBy(_._1)
    assert(runs == Seq((0L, 15L), (16L, 19L), (20L, 21L), (22L, 22L), (23L, 23L)),
      s"unexpected run set $runs")
    assert(tailNames(out).isEmpty, s"tail names under $out")
    // (d) Publish == one-shot batch twin; full replay over the tiered
    // target byte-identical (each replayed batch reconstructs its prior
    // corpus via the src_batch cut across the visible runs).
    val (first, publishJobs) = countingJobs(
      StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq)
    assert(first == oneShotLshFlags(docs) && first.nonEmpty)
    // (e) One band layout: every run, the 16-batch one included, is a
    // single pb-sorted directory; no hive `pb=<i>` tree anywhere.
    assert(hiveDirs(out).isEmpty, s"hive pb= directories under $out")
    // (f) The plain families are read in one multi-path read per merge, so
    // the scan packs a run's small files into about one split per core and
    // the 16-batch run holds that many files, not a few per batch (8 each
    // when every root was read separately).
    val cores = spark.sparkContext.defaultParallelism
    Seq("csigs_0_15", "cinc_0_15").foreach { run =>
      val files = new java.io.File(s"$out/$run").listFiles()
        .count(_.getName.endsWith(".parquet"))
      info(s"$run: $files files")
      assert(files <= cores, s"$run holds $files files, more than $cores")
    }
    // (g) Publish cost: no root costs a schema-inference or hive-listing
    // job, so the jobs are the publish plan's own — 9 here, against 25
    // with inferred schemas and a hive run 0-15.
    info(s"lshPairsRead + collect over ${runs.size} runs: $publishJobs jobs")
    assert(publishJobs <= 12,
      s"lshPairsRead started $publishJobs jobs")
    runStream(s"$dir/ckpt2")
    val second = StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq
    assert(first == second)
  }

  test("LSH publish over a target no batch has written is empty, with the " +
      "one-shot schema") {
    val dir = Files.createTempDirectory("graft-lshempty").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"
    Files.createDirectories(java.nio.file.Paths.get(dropD))
    val src = spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(dropD)
    StreamOps.lshPairsSink(src, out, s"$dir/ckpt").awaitTermination()
    assert(!Files.exists(java.nio.file.Paths.get(out)),
      "an empty AvailableNow run wrote a target")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val twin = oneShotLshFrame(docs.limit(0)).schema.catalogString
    // No target directory, then a target directory without any root.
    val missing = StreamOps.lshPairsRead(spark, out)
    assert(missing.schema.catalogString == twin && missing.isEmpty)
    Files.createDirectories(java.nio.file.Paths.get(out))
    val bare = StreamOps.lshPairsRead(spark, out)
    assert(bare.schema.catalogString == twin && bare.isEmpty)
  }

  test("LSH upgrade: a hive-layout run left by an earlier version is probed, " +
      "published and replayed identically and rewritten flat at its tier " +
      "merge; declared family schemas match what the writers produce") {
    val dir = Files.createTempDirectory("graft-lshhive").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = 12
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD)
      StreamOps.lshPairsSink(src, out, ckpt, compactEvery = 1, tierFanout = 2)
        .awaitTermination()
    }
    def publish() = StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq
    // Batches 0-5 leave runs 0-3, 4-4 and 5-5. Rewrite run 0-3 the way earlier
    // versions wrote every run of at least compactEvery·fanout² batches:
    // hive-partitioned by pb, its cdone_ marker kept.
    stageDocDrops(docs, dropD, n, 0 until 6)
    runStream(s"$dir/ckpt1")
    val run = s"$out/cbands_0_3"
    spark.read.parquet(run).repartition(col("pb"))
      .write.partitionBy("pb").parquet(s"$dir/hive")
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(run), true) &&
      fs.rename(new Path(s"$dir/hive"), new Path(run)))
    assert(hiveDirs(run).nonEmpty && new java.io.File(s"$out/cdone_0_3").exists())
    // The declared schema reads the hive run whole: pb comes back from the
    // directory names, never as nulls.
    val hive = spark.read.schema(StreamOps.lshSchema("cbands")).parquet(run)
    assert(hive.count() > 0 && hive.filter(col("pb").isNull).isEmpty)
    val firstDocs = docs.filter(pmod(col("doc_id"), lit(n.toLong)) < 6)
    val first = publish()
    assert(first == oneShotLshFlags(firstDocs) && first.nonEmpty)
    // A full replay probes the hive run through the src_batch cut (its
    // first batch merges runs 4-4 and 5-5, which batches 4 and 5 then
    // probe through the same cut) and leaves the hive run in place.
    runStream(s"$dir/ckpt2")
    assert(hiveDirs(run).nonEmpty)
    assert(publish() == first)
    // Batches 6-11: batches 6 and 7 probe the hive run; batch 8's merge
    // pass consumes it into run 0-7, written flat.
    stageDocDrops(docs, dropD, n, 6 until n)
    runStream(s"$dir/ckpt1")
    def names = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(names("cdone_0_7") && !names("cbands_0_3"), s"unexpected layout $names")
    assert(hiveDirs(out).isEmpty, s"hive pb= directories left under $out")
    val all = publish()
    assert(all == oneShotLshFlags(docs))
    // Each family's declared schema is what its writer produces, so a
    // writer change cannot read back as null columns; a one-batch run's
    // bands leave out only src_batch, which every read fills.
    assert(StreamOps.lshSchema.keySet == Set("cbands", "csigs", "cinc"))
    assert(tailNames(out).isEmpty, s"tail names under $out")
    Seq("0_7", "11_11").foreach { span =>
      StreamOps.lshSchema.foreach { case (family, schema) =>
        val expected =
          if (span == "11_11" && family == "cbands")
            org.apache.spark.sql.types.StructType(schema.filterNot(_.name == "src_batch"))
          else schema
        assert(spark.read.parquet(s"$out/${family}_$span").schema.catalogString ==
          expected.catalogString, s"${family}_$span schema drifted")
      }
    }
    runStream(s"$dir/ckpt3")
    assert(publish() == all)
  }

  /** Make micro-batch `b` look as if the sink crashed after its
    * foreachBatch work and before the checkpoint commit: the next run over
    * `ckpt` replays `b`.
    */
  private def uncommit(ckpt: String, b: Long): Unit =
    Seq(s"commits/$b", s"commits/.$b.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(ckpt, f)))

  /** Cut the largest part file under `dir` to half its bytes: any read of
    * it fails.
    */
  private def truncatePart(dir: String): Unit = {
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val ch = java.nio.channels.FileChannel.open(part.toPath,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(part.length / 2) finally ch.close()
  }

  test("LSH crash windows: a replayed batch whose run is marker-less, or " +
      "marked but torn by a crashed rewrite, converges to the one-shot flags") {
    val dir = Files.createTempDirectory("graft-lshcrash").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"; val ckpt = s"$dir/ckpt"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = 10
    def runStream(): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD)
      StreamOps.lshPairsSink(src, out, ckpt, compactEvery = 1, tierFanout = 2)
        .awaitTermination()
    }
    def upTo(k: Int) = docs.filter(pmod(col("doc_id"), lit(n.toLong)) < k)
    def names = new java.io.File(out).listFiles().map(_.getName).toSet
    stageDocDrops(docs, dropD, n, 0 until 6)
    runStream()
    assert(names("cdone_4_4") && names("cdone_5_5"), s"unexpected layout $names")
    // Batch 5 wrote its run and marker, then a second attempt crashed while
    // rewriting it: marker present, cinc_5_5 torn, checkpoint uncommitted.
    // The replay drops its own marker before the merge pass, so runs 4-4
    // and 5-5 are never merged with the torn root in them.
    uncommit(ckpt, 5)
    truncatePart(s"$out/cinc_5_5")
    stageDocDrops(docs, dropD, n, 6 until 8)
    runStream()
    assert(StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq ==
      oneShotLshFlags(upTo(8)))
    assert(names("cdone_7_7") && tailNames(out).isEmpty, s"unexpected layout $names")
    // Batch 7 crashed before its marker: its run dirs exist without one
    // (torn, too). The next run sweeps them and the replay rewrites them.
    uncommit(ckpt, 7)
    Files.delete(java.nio.file.Paths.get(out, "cdone_7_7"))
    truncatePart(s"$out/cbands_7_7")
    stageDocDrops(docs, dropD, n, 8 until n)
    runStream()
    assert(StreamOps.lshPairsRead(spark, out).orderBy("id").collect().toSeq ==
      oneShotLshFlags(docs))
    assert(names.filter(_.startsWith("cdone_")) ==
      Set("cdone_0_7", "cdone_8_8", "cdone_9_9"), s"unexpected layout $names")
    assert(tailNames(out).isEmpty, s"tail names under $out")
  }

  test("LSH adoption: live per-batch tails of an earlier version become " +
      "one-batch runs, idempotently after a crash between renames, through " +
      "either entry point; folded strays are swept") {
    val dir = Files.createTempDirectory("graft-lshadopt").toString
    val out = s"$dir/out"; val dropD = s"$dir/drop"; val ckpt = s"$dir/ckpt"
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val n = 8
    def runStream(target: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropD)
      StreamOps.lshPairsSink(src, target, ckpt, compactEvery = 2, tierFanout = 2)
        .awaitTermination()
    }
    def publish(target: String) =
      StreamOps.lshPairsRead(spark, target).orderBy("id").collect().toSeq
    def names(target: String) =
      new java.io.File(target).listFiles().map(_.getName).toSet
    def path(name: String) = java.nio.file.Paths.get(out, name)
    stageDocDrops(docs, dropD, n, 0 until 6)
    runStream(out)
    assert(names(out).filter(_.startsWith("cdone_")) ==
      Set("cdone_0_3", "cdone_4_4", "cdone_5_5"))
    // The layout earlier versions left at compactEvery 2 after batch 5: run
    // 0-3 plus the live tails of batches 4 and 5 (the same files under the
    // tail names, no markers) ...
    for (i <- 4 to 5; f <- Seq("bands", "sigs", "inc"))
      Files.move(path(s"c${f}_${i}_$i"), path(s"${f}_$i"))
    Seq("cdone_4_4", "cdone_5_5").foreach(m => Files.delete(path(m)))
    // ... with an adoption that crashed between its renames (bands_4 is
    // already run 4-4, no marker yet), a marker-less run a crashed fold
    // left in the way of tail 5, and replay strays of folded batch 2 that
    // fail any read.
    Files.move(path("bands_4"), path("cbands_4_4"))
    Seq("csigs_5_5", "bands_2", "sigs_2", "inc_2").foreach { d =>
      Files.createDirectories(path(d))
      Files.write(path(s"$d/part-00000.parquet"), "not parquet".getBytes)
    }
    val copy = s"$dir/copy"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(out),
      new java.io.File(copy))
    // Through the read: publish adopts, equals the one-shot flags, and no
    // tail name is left.
    assert(publish(copy) == oneShotLshFlags(
      docs.filter(pmod(col("doc_id"), lit(n.toLong)) < 6)))
    assert(names(copy).filter(_.startsWith("cdone_")) ==
      Set("cdone_0_3", "cdone_4_4", "cdone_5_5"), s"unexpected layout ${names(copy)}")
    assert(tailNames(copy).isEmpty, s"tail names under $copy")
    // Through the sink: the next batches adopt, fold 4-5, and publish the
    // one-shot flags over every batch.
    stageDocDrops(docs, dropD, n, 6 until n)
    runStream(out)
    assert(publish(out) == oneShotLshFlags(docs))
    assert(names(out).filter(_.startsWith("cdone_")) ==
      Set("cdone_0_3", "cdone_4_5", "cdone_6_6", "cdone_7_7"),
      s"unexpected layout ${names(out)}")
    assert(tailNames(out).isEmpty && !names(out)("csigs_5_5"),
      s"tails or strays left under $out")
  }

  test("drift sink: accumulated count increments reproduce the batch TV " +
      "report; replay byte-identical") {
    val dir = Files.createTempDirectory("graft-drift").toString
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val m = docs.agg(expr("percentile(doc_id, 0.5)")).head().getDouble(0)
    docs.filter(col("doc_id") <= m)
      .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    docs.filter(col("doc_id") > m)
      .coalesce(1).write.mode("append").parquet(s"$dir/drop")
    def runStream(ckpt: String): Unit = {
      val src = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/drop")
      StreamOps.distDriftSink(src, s"$dir/out", ckpt).awaitTermination()
    }
    runStream(s"$dir/ckpt1")
    val first = StreamOps.distDriftRead(spark, s"$dir/out")
      .orderBy("source").collect().toSeq
    runStream(s"$dir/ckpt2") // replay over the intact target
    val second = StreamOps.distDriftRead(spark, s"$dir/out")
      .orderBy("source").collect().toSeq
    assert(first == second && first.nonEmpty)
    val batch = graft.operators.TextStats.tvDrift(
        graft.operators.TextStats.sourceTokenCounts(docs))
      .orderBy("source").collect().toSeq
    assert(first == batch)
  }

  test("foreachBatch upsert sink merges drops into the parquet target by key") {
    val dropDir = Files.createTempDirectory("graft-upsert-in").toString
    val target = Files.createTempDirectory("graft-upsert-t").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-upsert-c").toString

    // Drop 1: keys 0..49 v=1 | Drop 2: keys 25..74 v=2 (overlap updates)
    Seq.tabulate(50)(i => (i.toLong, 1)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    val q = StreamOps.upsertSink(
      spark.readStream.schema("k LONG, v INT").option("maxFilesPerTrigger", 1).parquet(dropDir),
      target, ckpt, keys = Seq("k"), tieBreakers = Seq("v"))
    q.awaitTermination(); // AvailableNow terminates after draining

    Seq.tabulate(50)(i => ((i + 25).toLong, 2)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    val q2 = StreamOps.upsertSink(
      spark.readStream.schema("k LONG, v INT").option("maxFilesPerTrigger", 1).parquet(dropDir),
      target, ckpt, keys = Seq("k"), tieBreakers = Seq("v"))
    q2.awaitTermination()

    val out = spark.read.parquet(target)
    assert(out.count() == 75) // keys 0..74, no duplicates
    assert(out.filter(col("k") < 25 && col("v") === 1).count() == 25)
    assert(out.filter(col("k") >= 25 && col("v") === 2).count() == 50)
  }

  test("stamped upsert sink: inserted_at survives the second drop, updated_at advances") {
    val dropDir = Files.createTempDirectory("graft-upstamp-in").toString
    val target = Files.createTempDirectory("graft-upstamp-t").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-upstamp-c").toString
    // The stamp is the batch sequence (the deterministic, checkable twin
    // of production's `_ => current_timestamp()`): the shared checkpoint
    // numbers the two drops batch 0 and 1, so stamps are 1 then 2.
    def sink() = StreamOps.upsertSink(
      spark.readStream.schema("k LONG, v INT")
        .option("maxFilesPerTrigger", 1).parquet(dropDir),
      target, ckpt, keys = Seq("k"), tieBreakers = Seq("v"),
      stamp = Some(bid => lit(bid + 1)))

    // Drop 1: keys 0..9 | Drop 2: keys 5..14 (overlap re-writes 5..9).
    Seq.tabulate(10)(i => (i.toLong, 1)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    sink().awaitTermination()
    Seq.tabulate(10)(i => ((i + 5).toLong, 2)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(dropDir)
    sink().awaitTermination()

    val out = spark.read.parquet(target)
      .select("k", "v", "inserted_at", "updated_at")
      .as[(Long, Int, Long, Long)].collect().sortBy(_._1)
    assert(out.length == 15)
    out.foreach { case (k, v, ins, upd) =>
      if (k < 5)       assert((v, ins, upd) == (1, 1L, 1L), s"k=$k untouched")
      else if (k < 10) assert((v, ins, upd) == (2, 1L, 2L),
        s"k=$k re-written: inserted_at preserved, updated_at advanced")
      else             assert((v, ins, upd) == (2, 2L, 2L), s"k=$k new in drop 2")
    }
  }

  test("streaming span dedup: surviving span set matches the batch twin; duplicate drop adds nothing") {
    val dropDir = Files.createTempDirectory("graft-span-in").toString
    val mk = (id: Long, words: Seq[String]) => (id, words.mkString(" "))
    val a = (1 to 10).map(i => s"a$i")
    val b = (1 to 10).map(i => s"b$i")
    val batch1 = Seq(mk(1L, a), mk(2L, a ++ b)).toDF("doc_id", "text")
    batch1.coalesce(1).write.mode("append").parquet(dropDir)

    def drain(name: String): Unit = {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(dropDir)
      val q = StreamOps.spanDedupStream(src, "doc_id", "text")
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain("spans1")
    val got1 = spark.table("spans1").select("ch").as[String].collect().toSet
    val batchTwin = graft.operators.TextDedup.spanDedup(batch1, "doc_id", "text")
    val expected = batchTwin.select(explode(split(col("text_clean"), " ")).as("w"))
      .groupBy().agg(count(lit(1))).as[Long].head
    assert(got1 == Set(a.mkString(" "), b.mkString(" ")))
    assert(expected == 20L) // batch twin keeps the same two spans (20 words)

    // Drop 2 repeats already-seen spans. A fresh query (no checkpoint)
    // replays both files as TWO micro-batches (maxFilesPerTrigger=1):
    // exactly 2 rows out proves the dedup state carries across
    // micro-batches — batch 2 contributes nothing.
    Seq(mk(3L, b ++ a)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dropDir)
    drain("spans2")
    val got2 = spark.table("spans2").select("ch").as[String].collect()
    assert(got2.length == 2 && got2.toSet == got1)
  }

  test("foreachBatch CDC sink applies inserts, updates and deletes across batches") {
    val dropDir = Files.createTempDirectory("graft-cdc-in").toString
    val target = Files.createTempDirectory("graft-cdc-t").toString + "/table"
    val ckpt = Files.createTempDirectory("graft-cdc-c").toString
    val schema = "k LONG, v INT, op STRING, seq LONG"

    def run(): Unit = {
      val q = StreamOps.cdcSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dropDir),
        target, ckpt, keys = Seq("k"), opCol = "op",
        latestBy = Some("seq"))
      q.awaitTermination()
    }
    // Batch 1: insert keys 0..9.
    Seq.tabulate(10)(i => (i.toLong, 1, "I", i.toLong)).toDF("k", "v", "op", "seq")
      .coalesce(1).write.mode("append").parquet(dropDir)
    run()
    assert(spark.read.parquet(target).count() == 10)

    // Batch 2: update k=0..2 to v=9, delete k=5..9; within-batch
    // conflict on k=0 (an older delete loses to the newer update).
    (Seq((0L, 9, "U", 101L), (1L, 9, "U", 102L), (2L, 9, "U", 103L),
      (0L, 0, "D", 100L)) ++ (5 until 10).map(i => (i.toLong, 0, "D", 110L + i)))
      .toDF("k", "v", "op", "seq")
      .coalesce(1).write.mode("append").parquet(dropDir)
    run()

    val out = spark.read.parquet(target)
    assert(out.columns.toSet == Set("k", "v"), "op/seq must not reach the target")
    assert(out.count() == 5) // 0..4 survive
    assert(out.filter(col("v") === 9).count() == 3) // 0,1,2 updated (0's stale D lost)
    assert(out.filter(col("k") === 3 && col("v") === 1).count() == 1)
  }

  test("media gate: stream output equals the batch twin; garbage dropped") {
    import graft.operators.Multimodal
    val spark0 = spark
    import spark0.implicits._
    val media = (0L until 30L).map { id =>
      val bytes = (id % 3) match {
        case 0 => Multimodal.synthPng(id)
        case 1 => Multimodal.synthWav(id)
        case _ => s"garbage $id".getBytes("UTF-8")
      }
      (id, bytes)
    }.toDF("doc_id", "media")
    val dir = Files.createTempDirectory("graft-mediagate").toString + "/in"
    media.coalesce(2).write.parquet(dir)
    val stream = Multimodal.mediaGate(
      spark.readStream.schema(media.schema).parquet(dir), "doc_id", "media")
    val q = stream.writeStream.format("memory").queryName("mediagate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("mediagate").orderBy("id").collect()
    val want = Multimodal.mediaGate(media, "doc_id", "media")
      .orderBy("id").collect()
    assert(got.sameElements(want), s"stream ${got.length} vs batch ${want.length}")
    assert(want.length == 20) // 10 garbage rows vanished
    assert(want.count(_.getString(1) == "image") == 10)
  }

  test("curation clean gate: stream output equals the batch twin row-for-row") {
    import graft.operators.TextClean
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("graft-cleangate").toString
    (0 until 2).foreach { i =>
      docs.filter(col("doc_id") % 2 === i)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = TextClean.cleanGate(
      spark.readStream.schema(docs.schema).parquet(dir), "text")
    val q = stream.writeStream.format("memory").queryName("cleangate")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("cleangate")
      .select("doc_id", "clean", "n_tokens").orderBy("doc_id").collect()
    val want = TextClean.cleanGate(docs, "text")
      .select("doc_id", "clean", "n_tokens").orderBy("doc_id").collect()
    assert(got.length == want.length && got.sameElements(want),
      s"stream rows ${got.length} vs batch ${want.length}")
  }
}
