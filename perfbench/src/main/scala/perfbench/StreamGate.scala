package perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.BucketedTable
import graft.streaming.StreamOps

/** Two streaming gates drained with AvailableNow from a backlog staged
  * before they start, one after the other:
  *  1. six document drops through `StreamOps.lshPairsSink` (compactEvery
  *     = 1, tierFanout = 2: every batch folds, runs tier-merge, batch 4
  *     merges the first run spanning compactEvery·tierFanout² batches, the
  *     size where a compacted run switches to the hive layout, and batch 5
  *     probes it), then published with `lshPairsRead`;
  *  2. three small event drops through the bucketed `upsertSink` (256
  *     buckets, each batch touching a minority of them).
  * Step times are each micro-batch's `triggerExecution`.
  */
final class StreamGate(spark: SparkSession, seed: Long, work: Path, cache: Path)
    extends Workload {
  val name = "stream_gate"

  import StreamGate._

  private val docDrop = work.resolve("doc_drops").toString
  private val eventDrop = work.resolve("event_drops").toString
  private val lshOut = work.resolve("lsh").toString
  private val upsertOut = work.resolve("upsert").toString
  private val ckpt = work.resolve("ckpt")
  /** The one-shot gate's flags, computed on a thread of their own while Spark stages the drops. */
  private var pendingFlags: Future[Map[Long, (Long, Long, Long)]] = _
  private var flags: Map[Long, (Long, Long, Long)] = Map.empty
  private var expectedUpsert: (Long, Long, Long) = _
  private val upsertCols = Seq("event_id", "event_type", "key", "props", "ts", "user_id", "value")
  private var dropBytes = 0L
  private var published: Map[Long, (Long, Long, Long)] = Map.empty

  /** Write `df` as `n` single-file drops in one job, oldest first by modification time. */
  private def drops(df: DataFrame, part: org.apache.spark.sql.Column, n: Int, dir: String): Unit = {
    val tmp = s"$dir.tmp"
    df.withColumn("drop", part).repartition(col("drop")).write.partitionBy("drop").parquet(tmp)
    JFiles.createDirectories(Path.of(dir))
    (0 until n).foreach { i =>
      val Seq(f) = Files.parts(Path.of(tmp, s"drop=$i"))
      val dst = Path.of(dir).resolve(f"drop-$i%03d.parquet")
      JFiles.move(f, dst)
      require(dst.toFile.setLastModified(1700000000000L + i * 60000L), s"mtime of $dst")
    }
    Files.deleteRec(Path.of(tmp))
  }

  private def eventsFrame: DataFrame = Inputs.events(spark, seed, events)
    .withColumn("key", pmod(xxhash64(col("event_id"), lit(seed), lit(7)), lit(keys)))

  def generate(): Unit = {
    spark.catalog.clearCache() // plans over these paths may be cached from an earlier pass
    Files.deleteRec(work)
    val texts = Inputs.documents(seed, docs)
    pendingFlags = Future(cachedReference(texts))(ExecutionContext.global)
    val corpus = Inputs.documentsFrame(spark, texts)
    drops(corpus, pmod(xxhash64(col("doc_id"), lit(seed)), lit(docDrops)), docDrops, docDrop)
    drops(eventsFrame, pmod(col("event_id"), lit(eventDrops)), eventDrops, eventDrop)
    dropBytes = Files.du(Path.of(eventDrop))
  }

  def reference(): Unit = {
    flags = Await.result(pendingFlags, Duration.Inf)
    val w = Window.partitionBy(col("key")).orderBy(col("ts").desc, col("event_id"))
    expectedUpsert = Files.fingerprint(
      eventsFrame.withColumn("rn", row_number().over(w)).filter(col("rn") === 1), upsertCols)
  }

  private def cachedReference(texts: Array[String]): Map[Long, (Long, Long, Long)] = {
    val f = cache.resolve(s"stream_flags_${seed}_$docs.txt")
    if (JFiles.exists(f))
      JFiles.readAllLines(f).asScala.map { l =>
        val Array(id, n, b, e) = l.split(' ').map(_.toLong); id -> ((n, b, e))
      }.toMap
    else {
      val flags = Inputs.bandedFlags(Array.tabulate(docs)(_.toLong), texts)
      JFiles.createDirectories(cache)
      val tmp = cache.resolve(s"${f.getFileName}.tmp")
      JFiles.write(tmp, flags.toSeq.sorted.map { case (id, (n, b, e)) => s"$id $n $b $e" }
        .mkString("\n").getBytes("UTF-8"))
      JFiles.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      flags
    }
  }

  def reset(): Unit = Seq(Path.of(lshOut), Path.of(upsertOut), ckpt).foreach(Files.deleteRec)

  /** Drain one query, recording each micro-batch's trigger time as a step. */
  private def drain(it: Iteration, kind: String, q: StreamingQuery): Unit = {
    Trace.bindGroup(q.runId.toString, Trace.currentSpanId)
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    System.err.println(s"[perfbench] $kind trigger times (s): " +
      progress.map(p => f"${p.durationMs.get("triggerExecution") / 1000.0}%.2f").mkString(" "))
    progress.foreach { p =>
      it.addStep(kind, p.durationMs.get("triggerExecution").toDouble / 1000.0)
      if (Trace.enabled)
        it.batches += ((kind, p.batchId, p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap))
    }
  }

  def run(it: Iteration): Unit = {
    Trace.span("stream.lsh") {
      val src = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(docDrop)
      drain(it, "batch", StreamOps.lshPairsSink(src, lshOut, ckpt.resolve("lsh").toString,
        keyBuckets = KeyBuckets, compactEvery = CompactEvery, tierFanout = TierFanout))
    }
    published = Trace.span("stream.lsh_publish") {
      StreamOps.lshPairsRead(spark, lshOut).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    }
    Trace.span("stream.upsert") {
      val src = spark.readStream.schema(spark.read.parquet(eventDrop).schema)
        .option("maxFilesPerTrigger", 1).parquet(eventDrop)
      drain(it, "upsert_batch", StreamOps.upsertSink(src, upsertOut, ckpt.resolve("upsert").toString,
        keys = Seq("key"), latestBy = Some("ts"), tieBreakers = Seq("event_id"),
        buckets = Some(Buckets)))
    }
    it.items += docs + events
    it.note("input_bytes", dropBytes.toDouble)
  }

  def check(it: Iteration): Unit = {
    val batches = it.steps.get("batch").map(_.size).getOrElse(0)
    val upserts = it.steps.get("upsert_batch").map(_.size).getOrElse(0)
    if (batches != docDrops || upserts != eventDrops)
      throw new IllegalStateException(
        s"ran $batches/$upserts micro-batches, staged $docDrops/$eventDrops drops")
    if (published != flags) {
      val diff = (published.keySet ++ flags.keySet).filter(k => published.get(k) != flags.get(k))
      throw new IllegalStateException(
        s"lshPairsRead differs from the one-shot banded gate on ${diff.size} docs, e.g. " +
          diff.take(3).map(k => s"$k: ${published.get(k)} vs ${flags.get(k)}").mkString("; "))
    }
    val fp = Files.fingerprint(BucketedTable.read(spark, upsertOut), upsertCols)
    if (fp != expectedUpsert)
      throw new IllegalStateException(s"upsert target $fp != max-ts rows $expectedUpsert")
    it.stateBytes = Files.du(Path.of(lshOut))
    it.recall = 1.0
  }
}

object StreamGate {
  val KeyBuckets = 4
  val CompactEvery = 1
  val TierFanout = 2
  val Buckets = 256
  val docs = 1200
  val docDrops = 6
  /** Upsert input: few events per drop over few keys, so each batch
    * updates keys earlier batches wrote and touches a minority of the
    * buckets.
    */
  val events = 192L
  val eventDrops = 3
  val keys = 100L
}
