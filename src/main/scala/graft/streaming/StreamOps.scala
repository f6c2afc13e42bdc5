package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.{MinHashLsh, Transform}
import graft.sources.Swap

/** Structured Streaming analogs of the reference's incremental ETL
  * (SURVEY.md §2.4).
  *
  * The reference polls CKAN and uses `state.json` watermarks to process
  * only new/changed resources (reference etl/get_status.py + extract.py);
  * Structured Streaming's file source + checkpoint IS that loop, with
  * exactly-once bookkeeping instead of a hand-rolled state file. The LOAD
  * upsert (reference etl/load.py:388-460) becomes a foreachBatch
  * merge-by-key.
  *
  * All transforms here are plain DataFrame→DataFrame so the same logic runs
  * in batch (tested against the DuckDB oracle via their batch twins) and in
  * streams (tested with memory sinks in StreamingSpec).
  */
object StreamOps {

  /** File-source stream over a directory of parquet drops with a known
    * schema. `maxFilesPerTrigger=1` gives deterministic per-file
    * micro-batches in tests; leave default for throughput in production.
    */
  def readParquetStream(
      spark: SparkSession,
      dir: String,
      schemaFrom: DataFrame,
      maxFilesPerTrigger: Int = 1): DataFrame =
    spark.readStream
      .schema(schemaFrom.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Canonicalize an event stream: trimmed strings, bounded values nulled,
    * business key added — the streaming twin of the batch transform chain.
    */
  def canonicalizeEvents(df: DataFrame): DataFrame = {
    // coalesce each part to '' — raw concat_ws SKIPS nulls, which collides
    // (null,"x") with ("x",null) and diverges from the batch twin's
    // Transform.businessKeyCol encoding.
    def part(c: org.apache.spark.sql.Column) = coalesce(c.cast("string"), lit(""))
    df.withColumn("event_type", trim(col("event_type")))
      .withColumn("business_key",
        concat_ws("|", part(col("user_id")), part(col("event_type")), part(col("ts"))))
  }

  /** Stream-static enrichment: join the (unbounded) event stream against a
    * bounded dimension with an explicit broadcast — the standard
    * lookup-table pattern. Stream-static joins need no watermark or state:
    * each micro-batch joins against the current dim snapshot.
    */
  def enrichWithDim(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left")

  /** Watermarked tumbling-window aggregation (counts + exact decimal sums,
    * same discipline as the batch queries).
    */
  def windowedAgg(df: DataFrame, watermark: String = "30 minutes",
      windowLen: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session-window aggregation (Spark's built-in merging session
    * windows inside the agg operator) — the declarative sibling of
    * Sessionize.flatMapGroupsWithState for when per-session output is
    * just an aggregate. Works identically over batch and streaming input;
    * in streaming append mode a session emits once the watermark passes
    * its gap boundary.
    */
  def sessionWindowAgg(df: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    df.withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))

  /** Streaming dedup on a business key, state bounded by the watermark
    * (the streaming twin of Transform.dedupByKey / the reference's
    * enforce_unique_business_key). `dropDuplicatesWithinWatermark` is
    * streaming-only, so in batch the SAME call degrades to plain
    * `dropDuplicates` — the deterministic contract either way is the
    * surviving KEY SET (which physical row survives is arrival-order /
    * partition-order dependent in both modes).
    */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String],
      watermark: String = "30 minutes"): DataFrame =
    if (df.isStreaming)
      df.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else df.dropDuplicates(keys)

  /** Streaming SPAN dedup — the incremental twin of
    * `TextDedup.spanDedup`: documents explode into `w`-word spans and
    * every span already seen earlier in the stream is dropped
    * (first-seen survivor). State holds one key per distinct span —
    * unbounded by design here; production corpora bound it with a
    * watermark/TTL on an event-time column (as in
    * [[dedupWithinWatermark]]). The SET of surviving spans equals the
    * batch operator's; WHICH occurrence survives inside one micro-batch
    * is arrival-order-dependent (the batch twin's (doc_id, position)
    * rule needs a global sort a stream cannot see).
    */
  def spanDedupStream(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 10): DataFrame =
    graft.operators.TextDedup.spans(docs, idCol, textCol, w).dropDuplicates("ch")

  /** Streaming DSIR quality gate: score each arriving document against a
    * PRE-FITTED bounded bucket model (Dsir.collectModel) and keep
    * target-like docs. Fully stateless — the model rides the plan as a
    * numBuckets-bounded literal, scoring is one projection — so the gate
    * runs in append mode with no watermark and composes before any
    * stateful stage. Refreshing the model = restarting the query with a
    * new map (the model is a run parameter, like the reference's YAML
    * config, not state).
    */
  def dsirGate(docs: DataFrame, model: Map[Long, Double],
      threshold: Double, numBuckets: Int = 4096): DataFrame =
    graft.operators.Dsir.scoreStateless(docs, "doc_id", "text", model, numBuckets)
      .filter(col("dsir_score") >= threshold)

  /** Streaming Count-Min sketch maintenance: a global streaming
    * aggregation whose state is ONE depth×width counter grid (the custom
    * mergeable CountMinAgg — the state store carries the serialized
    * sketch, each micro-batch folds in by elementwise sum). Complete
    * mode emits the up-to-date sketch every trigger; because the merge
    * is exactly associative, the emitted sketch after N batches is
    * bit-identical to the batch aggregate over their union (spec'd).
    * This is the streaming shape of per-item frequency monitoring at an
    * open vocabulary: constant state, no per-key streaming state store
    * entries, no watermark.
    */
  def countMinStream(stream: DataFrame, itemCol: String,
      depth: Int, width: Int): DataFrame =
    stream.groupBy()
      .agg(graft.functions.countMin(col(itemCol), depth, width).as("sk"))
      .select(col("sk.total").as("total"), col("sk.counters").as("counters"))

  /** Watermarked stream-stream interval join: each left event pairs with
    * right events of the same key within `[l.ts, l.ts + window]`. Both
    * sides carry watermarks so join state is evicted once event time
    * passes; state is bounded by (watermark + window) per key.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      watermark: String = "1 hour", windowExpr: String = "INTERVAL 1 HOUR",
      joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    // The two-sided time bound + both watermarks is exactly what lets
    // Spark age out join state AND — for the outer variants — declare a
    // left row unmatchable once the right watermark passes l.ts + window,
    // at which point the null-padded row is emitted. Without the bound an
    // outer stream-stream join would have to hold state forever.
    l.join(r,
      expr(s"l.$key = r.$key AND r.ts >= l.ts AND r.ts <= l.ts + $windowExpr"),
      joinType)
  }

  /** Incremental exact-substring dedup as a STREAMING stage: each
    * micro-batch is cut against the gram index the PRIOR batches built
    * ([[graft.operators.SubstrIndex.dedupBatch]] — touched-bucket
    * partition-filtered probe, never a corpus re-read), its cleaned docs
    * append to `outPath`, and its raw grams grow the index. When drops
    * arrive in doc-id order (the crawl timeline), the accumulated output
    * equals ONE batch [[graft.operators.TextDedup.substringDedup]] over
    * the union — the property the st_substr_gate oracle checks
    * end-to-end. Restart caveat: the out/ sink is plain append — a batch
    * replayed after a crash between the write and the checkpoint commit
    * would double-append (same class as the CDC sink's at-least-once
    * contract; production points outPath at an idempotent/batchId-keyed
    * committer). The nastier crash window — append committed, checkpoint
    * not, so the replay probes an index that already owns the batch's
    * own grams — is healed inside [[graft.operators.SubstrIndex
    * .dedupBatch]]: postings keyed by the batch's own doc ids are
    * excluded from the probe (globally-unique ids mean they can only be
    * a replayed append), so the replayed output is byte-identical to
    * the crashed run's and the replayed append is a no-op (spec'd).
    */
  def substrDedupSink(
      df: DataFrame,
      indexPath: String,
      outPath: String,
      checkpointDir: String,
      idCol: String,
      textCol: String,
      minTokens: Int = 8,
      numBuckets: Int = 64): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // One materialization: the batch feeds the dedup AND the index
        // growth below.
        val b = batch.localCheckpoint()
        val meta = new org.apache.hadoop.fs.Path(s"$indexPath/meta")
        val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val exists = fs.exists(meta)
        if (exists)
          // One shared gram pass for dedup + index growth (emit before
          // grow — the crash-replay contract): the dedupBatch-then-
          // append sequence hashed and checkpointed every batch window
          // twice and collected the touched-bucket list twice.
          graft.operators.SubstrIndex.dedupAndAppend(
            spark, indexPath, b, idCol, textCol, outPath)
        else {
          // first drop: no standing corpus — batch-internal dedup
          graft.operators.TextDedup.substringDedup(
              b, idCol, textCol, minTokens)
            .write.mode("append").parquet(outPath)
          graft.operators.SubstrIndex.build(
            b, idCol, textCol, indexPath, minTokens, numBuckets)
        }
        ()
      }
      .start()

  /** foreachBatch upsert sink: merge each micro-batch into a parquet
    * target by key with [[Transform.merge]] — keep-latest by `latestBy`,
    * then `tieBreakers`, within the batch and against the target;
    * `stamp(batchId)` stamps the rows each batch writes. The swap is
    * write-new → rename, via the Hadoop FileSystem API so it works on
    * HDFS/object-store committers, not just local disk.
    *
    * `buckets = Some(n)` switches the target to the key-hash-bucketed
    * layout ([[graft.sources.BucketedTable]]) and makes each merge
    * BATCH-cost: only the buckets the batch touches are listed, read and
    * rewritten, O(batchKeys · target/n) per micro-batch instead of the
    * legacy full read-merge-swap's O(|target|) — the shape that
    * survives a 100 TB target. Every batch, the first included, is one
    * exchange of at most `spark.sql.shuffle.partitions` tasks (Spark runs
    * foreachBatch without AQE, so nothing would coalesce an n-wide one).
    * Read the bucketed result through `BucketedTable.read` (or ignore
    * the extra `kb` partition column).
    */
  def upsertSink(
      df: DataFrame,
      targetDir: String,
      checkpointDir: String,
      keys: Seq[String],
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil,
      stamp: Option[Long => Column] = None,
      buckets: Option[Int] = None): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        buckets match {
          case Some(n) =>
            graft.sources.BucketedTable.upsert(batch, targetDir, keys,
              numBuckets = n, latestBy = latestBy, tieBreakers = tieBreakers,
              stamp = stamp.map(_(batchId)))
          case None =>
            upsertIntoParquet(batch, targetDir, keys, latestBy, tieBreakers,
              stamp = stamp.map(_(batchId)))
        }
      }
      .start()

  /** One merge step: read the current target (if any), merge the raw
    * batch into it with [[Transform.merge]], swap directories. Duplicate
    * keys within the batch keep the LATEST row by `latestBy`
    * (descending), then `tieBreakers` ascending — the keep-latest
    * integrity semantics (ascending-only tie-breakers would silently keep
    * the OLDEST row); the merge window picks that row itself, so the
    * batch gets no separate dedup pass. `latestBy` also protects the
    * target: a re-delivered stale row cannot regress a newer one. `stamp`
    * threads the reference's inserted_at/updated_at row stamping through
    * the merge: `current_timestamp()` per batch in production, a
    * deterministic batch sequence number in tests.
    *
    * Per-batch cost is O(|target|) — the full table is read and
    * rewritten every merge. Fine for small/medium targets where the
    * all-or-nothing swap is worth it; for a large target use
    * [[graft.sources.BucketedTable.upsert]] (or `upsertSink(buckets =
    * Some(n))`), which confines each merge to the key-hash buckets the
    * batch touches.
    *
    * The swap is [[Swap.commit]] via [[mergeIntoParquet]]: a crash
    * leaves either a complete target or a recoverable `.old`, healed on
    * the next call.
    */
  def upsertIntoParquet(batch: DataFrame, targetDir: String,
      keys: Seq[String], latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil,
      stamp: Option[Column] = None): Unit =
    mergeIntoParquet(batch, targetDir) { (spark, targetExists) =>
      Transform.merge(if (targetExists) Some(spark.read.parquet(targetDir)) else None,
        Seq(batch), keys, latestBy, tieBreakers, stamp)
    }

  /** foreachBatch CDC sink: compact each micro-batch's insert/update/
    * delete changelog onto the parquet target via
    * `Transform.applyChangelog` — the streaming LOAD path for sources
    * that emit deletions (which `upsertSink` cannot express). Batch
    * columns = target payload + `opCol` + the ordering columns; the
    * latter two are dropped on write.
    */
  def cdcSink(
      df: DataFrame,
      targetDir: String,
      checkpointDir: String,
      keys: Seq[String],
      opCol: String = "op",
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil): StreamingQuery =
    df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        cdcIntoParquet(batch, targetDir, keys, opCol, latestBy, tieBreakers)
      }
      .start()

  /** One CDC merge step (see [[cdcSink]]); batch mode callable. */
  def cdcIntoParquet(batch: DataFrame, targetDir: String,
      keys: Seq[String], opCol: String = "op",
      latestBy: Option[String] = None, tieBreakers: Seq[String] = Nil): Unit =
    mergeIntoParquet(batch, targetDir) { (spark, targetExists) =>
      val payload = batch.columns
        .filterNot(c => c == opCol || latestBy.contains(c) || tieBreakers.contains(c))
      val snapshot =
        if (targetExists) spark.read.parquet(targetDir)
        else batch.select(payload.map(col).toIndexedSeq: _*).limit(0)
      Transform.applyChangelog(snapshot, batch, keys, opCol, latestBy, tieBreakers)
    }

  /** foreachBatch windowed range-count sink — the streaming twin of
    * [[graft.operators.RangeJoin.countInInterval]] (the r11
    * order-statistics plan): `intervals` is a STATIC frame (the
    * registered window table), points stream in, and each micro-batch
    * writes its per-interval counts to a batchId-keyed subdirectory of
    * `targetDir`. count(interval) is distributive over ANY partition of
    * the points, so the published aggregate ([[rangeCountRead]]) equals
    * the batch operator over the union of all batches bit-for-bit —
    * order-INsensitive, unlike the substring gate. The batchId-keyed
    * overwrite is what makes replay idempotent: a batch re-run after a
    * crash between write and checkpoint commit overwrites its own
    * subdirectory instead of double-counting (a running-total merge
    * target would silently double-add — the at-least-once hazard the
    * CDC sink documents).
    */
  def rangeCountSink(
      points: DataFrame,
      intervals: DataFrame,
      pointTs: String, startCol: String, endCol: String, idCol: String,
      targetDir: String,
      checkpointDir: String): StreamingQuery =
    points.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.RangeJoin.countInInterval(
            batch, pointTs, intervals, startCol, endCol, idCol)
          .write.mode("overwrite").parquet(s"$targetDir/batch_$batchId")
        ()
      }
      .start()

  /** Publish step for [[rangeCountSink]]: sum the per-batch increments.
    * One groupBy over (#batches × matched intervals) rows — interval-
    * cardinality, never point-cardinality. The zero-count intervals are
    * absent (inner-join contract, matching countInInterval).
    */
  def rangeCountRead(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, idCol: String): DataFrame =
    spark.read.parquet(increments(spark, targetDir, "batch_"): _*)
      .groupBy(col(idCol)).agg(sum(col("n_points")).as("n_points"))

  /** Concrete batchId-keyed subdirectories of a sink target. Globbing
    * (`targetDir/batch_*`) works but makes every publish read stat the
    * literal glob string for a `_spark_metadata` dir (FileStreamSink
    * .hasMetadata), logging a spurious FileNotFoundException WARN stack
    * per read — explicit paths keep probe/ops logs exception-free.
    */
  private def increments(spark: org.apache.spark.sql.SparkSession,
      targetDir: String, prefix: String): Seq[String] = {
    val dir = new Path(targetDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(prefix)).map(_.toString).toSeq
  }

  /** foreachBatch per-user event-transition sink — STATEFUL streaming:
    * the per-user LAST EVENT must survive micro-batch boundaries so the
    * transition that straddles two batches (user's last event of batch
    * N → first event of batch N+1) is counted exactly once. State lives
    * as a batchId-VERSIONED user-cardinality snapshot
    * (`state_<batchId>` = prior snapshot overridden by this batch's
    * per-user lasts), and the boundary join always reads
    * `state_<batchId-1>` — NOT "the latest" — so an at-least-once
    * REPLAY of batch N recomputes against exactly the state it saw the
    * first time (a mutate-in-place state table would feed the replay
    * its own output: the stateful twin of the double-count hazard the
    * range sink documents). Increments are batchId-keyed overwrites,
    * idempotent as in [[rangeCountSink]].
    *
    * Requires the stream to deliver each user's events in
    * (ts, event_id) order ACROSS batches (within a batch any order is
    * fine — the lag window sorts); a time-split file source satisfies
    * this, matching the replay/backfill regime the batch operator runs
    * in. Scale shape: state is user-cardinality (one row per user seen
    * so far), increments are ≤ |types|² per batch, the per-batch lag
    * window shuffles only the batch.
    */
  def transitionsSink(
      events: DataFrame,
      targetDir: String,
      checkpointDir: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // 2 consumers: pairs + firsts/lasts
        val wAsc = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val intra = b.withColumn("dst", lead(col("event_type"), 1).over(wAsc))
          .filter(col("dst").isNotNull)
          .select(col("event_type").as("src"), col("dst"))
        // ONE user-cardinality aggregate replaces the two row_number
        // windows (r16, guide §2.3 — aggregate before you shuffle):
        // min_by/max_by over the per-user-unique (ts, event_id) tuple
        // pick exactly the rn=1 rows of the asc/desc windows, but the
        // partial aggregation collapses each partition to one row per
        // user BEFORE the exchange — the windows each shuffled and
        // sorted the whole batch. Materialized (user-cardinality, tiny)
        // because both the inc job (firsts) and the state job (lasts)
        // read it.
        val fl = graft.operators.Materialize(b.groupBy(col("user_id")).agg(
          min_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("first_type"),
          max_by(col("event_type"), struct(col("ts"), col("event_id")))
            .as("last_type")))
        val firsts = fl.select(col("user_id"), col("first_type"))
        val lasts = fl.select(col("user_id"), col("last_type"))
        val statePath = new Path(s"$targetDir/state_${batchId - 1}")
        val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // batchId > 0 with a missing prior snapshot means the target dir
        // was wiped or partially lost while the checkpoint survived —
        // defaulting to empty state would silently publish wrong
        // boundary transitions. Fail loudly; recovery is wiping the
        // checkpoint too and replaying from the source.
        if (batchId > 0 && !fs.exists(statePath))
          throw new IllegalStateException(
            s"transitionsSink: state snapshot $statePath missing for batch " +
              s"$batchId — target dir lost while checkpoint survived; wipe " +
              "the checkpoint and replay")
        val prev =
          if (batchId > 0) spark.read.parquet(statePath.toString)
          else lasts.limit(0)
        val boundary = prev.join(firsts, Seq("user_id"))
          .select(col("last_type").as("src"), col("first_type").as("dst"))
        intra.unionByName(boundary)
          .groupBy("src", "dst").agg(count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$targetDir/inc_$batchId")
        prev.join(lasts, Seq("user_id"), "left_anti")
          .unionByName(lasts)
          .write.mode("overwrite").parquet(s"$targetDir/state_$batchId")
        ()
      }
      .start()

  /** Publish step for [[transitionsSink]]: sum the per-batch increments
    * and derive the per-src floor-ppm share — column-identical to the
    * batch `q_event_transitions`, so the batch oracle replays verbatim.
    */
  def transitionsRead(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame = {
    val counts = spark.read.parquet(increments(spark, targetDir, "inc_"): _*)
      .groupBy("src", "dst").agg(sum(col("n")).as("n"))
    counts
      .withColumn("tot", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .select(col("src"), col("dst"), col("n"),
        expr("n * 1000000 DIV tot").as("share_ppm"))
  }

  /** foreachBatch per-source admission-quota sink — STATEFUL streaming:
    * admit each source's first `quota` documents by doc_id order across
    * ALL batches (the streaming twin of a batch
    * `row_number() OVER (PARTITION BY source ORDER BY doc_id) <= quota`
    * — the canonical "cap any one domain at ingest" gate). State is the
    * per-source SEEN count so far, batchId-VERSIONED like
    * [[transitionsSink]]: batch N's admission ranks are offset by
    * `state_<N-1>` — never "the latest" — so an at-least-once replay of
    * batch N recomputes against exactly the counts it saw the first
    * time; admitted rows land in a batchId-keyed overwrite (idempotent
    * as in [[rangeCountSink]]).
    *
    * Requires the stream to deliver each source's docs in doc_id order
    * ACROSS batches (a doc_id-split file source satisfies this — the
    * backfill regime); within a batch any order is fine, the rank
    * window sorts. Scale shape: state is source-cardinality, the
    * per-batch rank window shuffles only the batch, and published
    * increments total ≤ quota·|sources| rows.
    */
  def quotaSink(
      docs: DataFrame,
      quota: Int,
      targetDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint() // 2 consumers: ranks + counts
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("doc_id"))
        val counts = b.groupBy(col("source")).agg(count(lit(1)).as("n_new"))
        val statePath = new Path(s"$targetDir/state_${batchId - 1}")
        val fs = statePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Same discipline as transitionsSink: a missing prior snapshot at
        // batchId > 0 is a lost target dir, not a cold start — empty
        // seen-counts would silently over-admit. Fail loudly.
        if (batchId > 0 && !fs.exists(statePath))
          throw new IllegalStateException(
            s"quotaSink: state snapshot $statePath missing for batch " +
              s"$batchId — target dir lost while checkpoint survived; wipe " +
              "the checkpoint and replay")
        val prev =
          if (batchId > 0) spark.read.parquet(statePath.toString)
          else counts.select(col("source"), col("n_new").as("n_seen")).limit(0)
        b.withColumn("rn", row_number().over(w))
          .join(prev, Seq("source"), "left")
          .withColumn("rk",
            col("rn").cast("long") + coalesce(col("n_seen"), lit(0L)))
          .filter(col("rk") <= quota)
          .select(col("doc_id"), col("source"), col("rk"))
          .write.mode("overwrite").parquet(s"$targetDir/inc_$batchId")
        prev.join(counts, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("n_seen"), lit(0L)) +
              coalesce(col("n_new"), lit(0L))).as("n_seen"))
          .write.mode("overwrite").parquet(s"$targetDir/state_$batchId")
        ()
      }
      .start()

  /** Publish step for [[quotaSink]]: the admitted rows are disjoint
    * across batchId-keyed increments by construction (ranks are offset
    * by the versioned seen-counts), so publishing is a plain union —
    * no re-aggregation needed.
    */
  def quotaRead(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    spark.read.parquet(increments(spark, targetDir, "inc_"): _*)

  /** foreachBatch corpus-drift sink — the streaming twin of
    * x_dist_drift's sufficient statistic: each micro-batch lands its
    * (source, tok) occurrence counts
    * ([[graft.operators.TextStats.sourceTokenCounts]]) in a
    * batchId-keyed increment file (idempotent under at-least-once
    * replay, as in [[rangeCountSink]]). Token counts are distributive
    * over ANY document split, so the publish-time re-aggregation +
    * [[graft.operators.TextStats.tvDrift]] equals ONE batch
    * x_dist_drift whatever the micro-batch boundaries — stateless and
    * order-insensitive by construction. Increments are
    * vocabulary-bounded (≤ |sources|·|vocab| rows/batch), never
    * document-cardinality.
    */
  def distDriftSink(
      docs: DataFrame,
      targetDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.TextStats.sourceTokenCounts(batch)
          .write.mode("overwrite").parquet(s"$targetDir/inc_$batchId")
        ()
      }
      .start()

  /** Publish step for [[distDriftSink]]: re-aggregate the per-batch
    * count increments (one groupBy over #batches × vocab rows) and run
    * the shared TV computation — column-identical to the batch
    * x_dist_drift, so the batch oracle replays verbatim.
    */
  def distDriftRead(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): DataFrame =
    graft.operators.TextStats.tvDrift(
      spark.read.parquet(increments(spark, targetDir, "inc_"): _*)
        .groupBy(col("source"), col("tok"))
        .agg(sum(col("c_st")).as("c_st")))

  /** Test/ops instrumentation for [[lshPairsSink]]: per (targetDir,
    * batchId), how many posting ROOTS the probe read — StreamingSpec
    * asserts this stays within the tiered bound at any stream age (the
    * compaction contract). BOUNDED: a ring of the most recent
    * [[lshDiagRing]] batches per targetDir — a long-running sink never
    * grows driver memory through this map.
    */
  private[graft] val lshDiagRing = 256
  private[graft] val lshProbeRoots =
    scala.collection.concurrent.TrieMap.empty[String, Vector[(Long, Int)]]
  private def recordProbeRoots(targetDir: String, batchId: Long,
      roots: Int): Unit =
    lshProbeRoots.updateWith(targetDir) { prev =>
      Some((prev.getOrElse(Vector.empty) :+ (batchId -> roots))
        .takeRight(lshDiagRing))
    }

  /** Test/ops instrumentation for the tiered fold: per targetDir, the
    * cumulative BATCH-SPAN of all merge inputs (an L0 fold of
    * compactEvery one-batch runs adds compactEvery; a tier merge of runs
    * covering s batches adds s; a batch writing its own run adds
    * nothing). Each batch's postings are re-written once per tier they
    * climb, so this sum is O(N·log N) in stream age N — the
    * quadratic-write fix StreamingSpec pins. One counter per targetDir,
    * not state.
    */
  private[graft] val lshFoldSpans =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  // Managed-name shapes under an lshPairsSink targetDir. Anything NOT
  // matching is a stranger (user temp file, `_bak` copy) and is skipped
  // by discovery and cleanup rather than crashing the stream on a
  // NumberFormatException from an arbitrary suffix. Tails `f_<i>` are the
  // per-batch shape earlier versions wrote: only adopted or swept.
  private val lshTailRx = """^(bands|sigs|inc)_(\d+)$""".r
  private val lshRunRx = """^(cbands|csigs|cinc)_(\d+)_(\d+)$""".r
  private val lshDoneRx = """^cdone_(\d+)_(\d+)$""".r

  // Each run family's file schema, declared once, so no root costs a
  // schema-inference job. A one-batch run's `cbands` carries no
  // `src_batch` column (it would only repeat the batch id); lshRead fills
  // it. A band run left in the earlier hive `pb=<i>` layout reads through
  // the same schema: partition discovery fills `pb` from its directory
  // names.
  private[graft] val lshSchema: Map[String, StructType] = Map(
    "csigs" -> "doc_id LONG, sig ARRAY<LONG>",
    "cinc" -> "b INT, k1 LONG, k2 LONG, id_a LONG, id_b LONG",
    "cbands" -> "doc_id LONG, b INT, k1 LONG, k2 LONG, src_batch LONG, pb INT")
    .map { case (f, ddl) => f -> StructType.fromDDL(ddl) }

  /** One family of `runs`, read with the family's schema; no runs read as
    * an empty frame of it. `csigs`/`cinc` are one multi-path read, so the
    * scan packs the runs' small files into a few splits (and a merge
    * writes as few). `cbands` is read per run and unioned: an earlier
    * version's hive run beside flat runs in one read call would break
    * partition discovery, and a missing `src_batch` is filled with that
    * run's `lo`.
    */
  private def lshRead(spark: SparkSession, targetDir: String, family: String,
      runs: Seq[(Long, Long)]): DataFrame = {
    val read = spark.read.schema(lshSchema(family))
    def root(r: (Long, Long)) = s"$targetDir/${family}_${r._1}_${r._2}"
    if (runs.isEmpty)
      spark.createDataFrame(java.util.List.of[Row](), lshSchema(family))
    else if (family != "cbands") read.parquet(runs.map(root): _*)
    else runs.map(r => read.parquet(root(r))
        .withColumn("src_batch", coalesce(col("src_batch"), lit(r._1))))
      .reduce(_.unionByName(_))
  }

  /** Run discovery for [[lshPairsSink]]/[[lshPairsRead]]: marker-gated
    * batch ranges. A run `c*_<lo>_<hi>` is DONE iff its `cdone_<lo>_<hi>`
    * marker exists (written only after all three family dirs land — a
    * half-written run is invisible); it is VISIBLE iff done and not
    * strictly contained in another done run (a merge writes the wide
    * run's marker LAST, so the narrow runs flip invisible atomically with
    * the wide one appearing). Visible runs are disjoint; every reader
    * reads them and nothing else.
    */
  private def lshVisibleRuns(fs: org.apache.hadoop.fs.FileSystem,
      targetDir: String): Seq[(Long, Long)] = {
    val dir = new Path(targetDir)
    if (!fs.exists(dir)) return Nil
    val done = fs.listStatus(dir).map(_.getPath.getName).toSeq
      .collect { case lshDoneRx(lo, hi) => (lo.toLong, hi.toLong) }
    done.filterNot { case (lo, hi) =>
      done.exists { case (l2, h2) =>
        l2 <= lo && hi <= h2 && (l2, h2) != (lo, hi) }
    }.sortBy(_._1)
  }

  /** Adopt, then sweep; returns the visible runs. Both entry points call
    * it first. ADOPTION: a live tail of an earlier version (`bands_<i>`,
    * `sigs_<i>`, `inc_<i>` with i above every visible run) becomes the
    * one-batch run `c*_<i>_<i>` by rename, its marker written last; a
    * rerun after a crash between the renames skips the families already
    * renamed, and a tail replaces a marker-less run of the same name. A
    * tail missing a family (its batch crashed; it replays) gets no
    * marker. CLEANUP: merged (contained) runs and their markers,
    * marker-less run dirs (a crashed write's garbage, rewritten on
    * retry) and every tail name left (folded originals, replay strays)
    * are deleted; unrecognized names are left alone. Every step is
    * exists-then-act, so the whole pass re-runs after any crash.
    */
  private def lshSettle(fs: org.apache.hadoop.fs.FileSystem,
      targetDir: String): Seq[(Long, Long)] = {
    val dir = new Path(targetDir)
    if (!fs.exists(dir)) return Nil
    def names = fs.listStatus(dir).map(_.getPath.getName).toSeq
    def must(ok: Boolean, what: String) =
      Swap.must(ok, s"lshPairsSink: $what under $targetDir")
    val hi = lshVisibleRuns(fs, targetDir).map(_._2).foldLeft(-1L)(math.max)
    names.collect { case lshTailRx(_, i) if i.toLong > hi => i.toLong }
      .distinct.sorted.foreach { i =>
        val adopted = Seq("bands", "sigs", "inc").map { f =>
          val tail = new Path(dir, s"${f}_$i")
          val run = new Path(dir, s"c${f}_${i}_$i")
          if (fs.exists(tail)) {
            if (fs.exists(run)) must(fs.delete(run, true), s"delete ${run.getName}")
            must(fs.rename(tail, run), s"adopt ${tail.getName}")
          }
          fs.exists(run)
        }
        if (adopted.forall(identity))
          fs.create(new Path(dir, s"cdone_${i}_$i"), true).close()
      }
    val visible = lshVisibleRuns(fs, targetDir)
    val keep = visible.toSet
    names.foreach { n =>
      val dead = n match {
        case lshDoneRx(lo, h) => !keep((lo.toLong, h.toLong))
        case lshRunRx(_, lo, h) => !keep((lo.toLong, h.toLong))
        case lshTailRx(_, _) => true
        case _ => false
      }
      if (dead) must(fs.delete(new Path(dir, n), true), s"cleanup delete $n")
    }
    visible
  }

  /** Band postings, written the same way in every run: ONE directory,
    * range-partitioned and sorted on pb, so the probe's static
    * `pb IN (...)` prunes at row-group granularity from the footers. A
    * hive `pb=<i>` tree would prune whole directories instead, but costs
    * numBands·keyBuckets (1024 at the default keyBuckets 64) directory
    * commits per write and as many listings per read, and it prunes
    * little: a batch of d documents touches about 1 − e^(−d/keyBuckets)
    * of the pb values. Measured over 24 batches (compactEvery 4,
    * tierFanout 2, keyBuckets 64, 4-core host), hive runs against flat
    * ones: 208 documents per batch (sf0.1, 94-97% of pb touched) 195 s
    * against 71 s, every batch after the first hive run 12-36 s against
    * 2-3 s; 21 documents per batch (sf0.01, 27-29% touched, where
    * directory pruning should pay most) 137 s against 63 s.
    */
  private def writeBands(df: DataFrame, dest: String): Unit =
    df.repartitionByRange(col("pb")).sortWithinPartitions(col("pb"))
      .write.mode("overwrite").parquet(dest)

  /** The one run writer: run `lo..hi`'s three family dirs, overwritten,
    * then its `cdone_` marker LAST, so the run appears atomically.
    */
  private def writeRun(fs: org.apache.hadoop.fs.FileSystem, targetDir: String,
      lo: Long, hi: Long, bands: DataFrame, sigs: DataFrame,
      inc: DataFrame): Unit = {
    writeBands(bands, s"$targetDir/cbands_${lo}_$hi")
    sigs.write.mode("overwrite").parquet(s"$targetDir/csigs_${lo}_$hi")
    inc.write.mode("overwrite").parquet(s"$targetDir/cinc_${lo}_$hi")
    fs.create(new Path(s"$targetDir/cdone_${lo}_$hi"), true).close()
  }

  /** The one merge routine of [[lshPairsSink]]'s LSM-shaped fold. Size
    * classes are geometric in the L0 unit u = compactEvery: class t covers
    * spans in [u·fanout^t, u·fanout^(t+1)), and spans below u (the
    * one-batch runs, when u > 1) form class −1. While a window of
    * adjacent visible runs shares a class and is full — u runs in class
    * −1 (the L0 fold), `fanout` runs in a class t ≥ 0 (a tier merge) —
    * merge the OLDEST such window into one run. At u = 1 a one-batch run
    * already is an L0 run, so every merge is a tier merge. Each batch's
    * postings therefore climb at most log_fanout(N/u) + 1 times over the
    * stream's life — cumulative write volume O(N·log N), vs the O(N²) of
    * re-writing one standing generation every u batches — while the probe
    * reads ≤ (fanout-1)·tiers + u roots. Idempotent whenever it runs, so
    * a crash between a merge's marker and the merges it carries into
    * heals on the next batch. Crash-safe through [[writeRun]] (marker
    * last) and the sweep after each merge.
    */
  private def lshMergeTiers(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, targetDir: String,
      compactEvery: Int, fanout: Int): Unit = {
    val unit = math.max(1, compactEvery)
    def sizeClass(r: (Long, Long)): Int = {
      var span = (r._2 - r._1 + 1) / unit
      var t = if (span == 0) -1 else 0
      while (fanout > 1 && span >= fanout) { span /= fanout; t += 1 }
      t
    }
    def width(cls: Int) = if (cls < 0) unit else fanout
    // Adjacency matters: a replay drops its own marker first, and a window
    // across that gap would claim the batch's range without its postings.
    def due(w: Seq[(Long, Long)]) = {
      val cls = w.map(sizeClass).distinct
      cls.size == 1 && w.size == width(cls.head) && w.size > 1 &&
        w.zip(w.tail).forall { case (a, b) => b._1 == a._2 + 1 }
    }
    def oldestDue(visible: Seq[(Long, Long)]) = visible.indices.iterator
      .map(i => visible.slice(i, i + width(sizeClass(visible(i))))).find(due)
    var window = oldestDue(lshVisibleRuns(fs, targetDir))
    while (window.nonEmpty) {
      val w = window.get
      val (lo, hi) = (w.head._1, w.last._2)
      writeRun(fs, targetDir, lo, hi, lshRead(spark, targetDir, "cbands", w),
        lshRead(spark, targetDir, "csigs", w), lshRead(spark, targetDir, "cinc", w))
      lshFoldSpans.updateWith(targetDir)(p => Some(p.getOrElse(0L) + (hi - lo + 1)))
      window = oldestDue(lshSettle(fs, targetDir))
    }
  }

  /** foreachBatch MinHash-LSH candidate-pair sink — the streaming twin
    * of the banded near-dup detector (d_minhash_portable's pair stage),
    * maintaining a persisted band index incrementally. Unlike
    * [[graft.operators.LshIndex.append]], which adds files to the
    * partition directories of one hive-partitioned tree, each
    * micro-batch `b` writes its portable signatures, band postings and
    * candidate pairs as the ONE-BATCH RUN `csigs_/cbands_/cinc_<b>_<b>`,
    * overwritten (idempotent under at-least-once replay — a plain
    * `append` to one index tree would double postings on a batch re-run),
    * and writes its `cdone_<b>_<b>` marker last. The posting files are
    * range-partitioned and sorted on
    * `pb = band·keyBuckets + (k1 mod keyBuckets)` ([[MinHashLsh.pb]]) so
    * the probe against the standing corpus reads ONLY the row groups the
    * batch's own band keys touch (a static `pb IN (...)` filter pruned
    * from the parquet footers — the standing corpus is never rescanned).
    *
    * Pair emission is EXACT against the one-shot batch query over the
    * union, for any batch boundaries and any arrival order (pairs are
    * symmetric — the later-arriving side emits new×old plus new×new per
    * bucket): a bucket whose occupancy-so-far already exceeds
    * `maxBucket` is skipped in-flight, which cannot diverge because
    * occupancy only grows — the publish step ([[lshPairsRead]]) applies
    * the cap against FINAL occupancy, exactly the batch twin's
    * `HAVING COUNT(*) BETWEEN 2 AND maxBucket`, and drops those pairs
    * either way. The pair step ([[MinHashLsh.incrementalPairs]]) is one
    * aggregate over the batch's and the pruned standing postings that
    * applies the cap before any pair is generated, so in-flight emission
    * is bounded by maxBucket² per bucket lifetime, never
    * duplicate-family², in the plan as well as in the output.
    *
    * ONE ROOT KIND: the index is a set of marker-gated runs and nothing
    * else; the probe, the merges and the publish read visible runs only.
    * [[lshMergeTiers]] folds every `compactEvery` one-batch runs into an
    * L0 run and, when `tierFanout` adjacent runs share a geometric size
    * class, merges them into one run of the next class — so each batch's
    * postings are re-written at most log_fanout(N/compactEvery) + 1 times
    * over the stream's life (cumulative write volume O(N·log N) in stream
    * age N, where the r14 single-standing-generation fold re-wrote the
    * FULL corpus every compactEvery batches), and a probe reads
    * ≤ (tierFanout-1)·tiers + compactEvery roots, vs O(batchId) without
    * folding. Merged runs carry each posting's origin batch in
    * `src_batch` (a one-batch run leaves it implicit; reads fill it).
    *
    * Each batch, in this order:
    *  1. adopt and sweep ([[lshSettle]]): an earlier version's live
    *     per-batch tails become one-batch runs (rename, marker last),
    *     superseded and marker-less roots are deleted;
    *  2. drop its own stale `cdone_<b>_<b>`, so a replay never merges a
    *     run it is about to rewrite;
    *  3. the merge pass — before the batch writes its run, because a
    *     merge's sweep deletes marker-less run dirs;
    *  4. check the one missing-snapshot rule: the visible runs starting
    *     before `b` tile [0, hi] from 0 with hi ≥ b-1, else the target
    *     was lost ("wipe the checkpoint and replay" — not a cold start);
    *  5. hash the batch once (signatures are a local checkpoint; band
    *     postings a narrow projection of them) and probe those runs for
    *     the batch's `pb` values, `src_batch < b` — a no-op in forward
    *     progress, the exact prior corpus when a batch whose run is
    *     already merged replays (its rewritten run is contained, so
    *     invisible, and swept by the next batch);
    *  6. one aggregate over new ∪ probed postings per bucket: capped
    *     occupancy, then new×new and new×old pairs;
    *  7. write its one-batch run ([[writeRun]], marker last).
    *
    * Every write is an overwrite of a named run dir with the marker last,
    * and every reader is gated on markers: a half-written run is
    * invisible, its garbage swept, and the merge pass re-runs
    * idempotently on the next batch.
    */
  def lshPairsSink(
      docs: DataFrame,
      targetDir: String,
      checkpointDir: String,
      maxBucket: Int = 100,
      keyBuckets: Int = 64,
      compactEvery: Int = 8,
      tierFanout: Int = 4): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val bkt = Seq("b", "k1", "k2")
        val fs = new Path(targetDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        lshSettle(fs, targetDir)
        // A replay never merges the run it is about to rewrite; and the
        // merge pass runs before this batch writes, since a merge's sweep
        // deletes marker-less run dirs.
        val own = new Path(s"$targetDir/cdone_${batchId}_$batchId")
        if (fs.exists(own)) Swap.must(fs.delete(own, true),
          s"lshPairsSink: delete ${own.getName} under $targetDir")
        if (compactEvery > 0)
          lshMergeTiers(spark, fs, targetDir, compactEvery, tierFanout)
        // The one missing-snapshot check: a gap is a lost target, not a
        // cold start (the quotaSink discipline).
        val prior = lshVisibleRuns(fs, targetDir).filter(_._1 < batchId)
        val hi = prior.lastOption.fold(-1L)(_._2)
        if (prior.map(_._1) != (0L +: prior.map(_._2 + 1)).take(prior.size) ||
            hi < batchId - 1)
          throw new IllegalStateException(
            s"lshPairsSink: runs ${prior.mkString(" ")} under $targetDir do " +
              s"not cover batches 0..${batchId - 1} at batch $batchId — wipe " +
              "the checkpoint and replay")
        // Already a local checkpoint: the batch is hashed once. The band
        // postings stay a narrow projection of it, exploded per consumer.
        val sigs = MinHashLsh.portableMinhashSig(batch)
        val bands = MinHashLsh.portableBands(sigs)
          .withColumn("pb", MinHashLsh.pb(col("b"), col("k1"), keyBuckets))
        // Standing-corpus postings, pruned to the batch's own band keys
        // (≤ numBands·keyBuckets distinct pb values, collected as static
        // literals; each run's row groups prune independently). The
        // src_batch cut is a no-op in forward progress and the exact prior
        // corpus when a batch whose run is already merged replays.
        val pbs = bands.select("pb").distinct().collect()
          .map(_.getInt(0)).sorted
        recordProbeRoots(targetDir, batchId, prior.size)
        val old = lshRead(spark, targetDir, "cbands", prior)
          .filter(col("pb").isin(pbs.map(Int.box): _*))
          .filter(col("src_batch") < batchId)
          .select("doc_id", "b", "k1", "k2")
        val pairs = MinHashLsh.incrementalPairs(
          bands.select("doc_id", "b", "k1", "k2"), old, "doc_id", bkt, maxBucket)
        writeRun(fs, targetDir, batchId, batchId, bands, sigs, pairs)
        ()
      }
      .start()

  /** Publish step for [[lshPairsSink]]: apply the occupancy cap against
    * FINAL bucket occupancy (the batch twin's HAVING clause — pairs
    * already imply occupancy ≥ 2), dedup pairs across buckets and
    * batches, score signature agreement from the persisted signatures,
    * and aggregate to PER-DOC dedup flags — the minhashIncremental
    * contract: for each doc, the count of LOWER-id partners whose
    * agreement clears `minAgree`, plus the best partner by (n_eq, id)
    * packed argmax (the Geo packed-argmin trick, decimal-free since
    * n_eq·10¹⁰ + id fits a long at any realistic corpus id width).
    * Per-doc output keeps the publish CORPUS-cardinality — the raw
    * scored pair set is Σ_buckets occ² and publishing it verbatim
    * OOM'd the sf100 single-JVM probe; the pair volume still flows
    * through the scoring join (the exact tier's cost), but it
    * aggregates away immediately instead of materializing.
    *
    * Reads the visible runs only (a log-bounded root count at any stream
    * age), after the same adopt-and-sweep as the sink ([[lshSettle]]), so
    * a target an earlier version wrote publishes from runs too.
    *
    * CONCURRENCY: do not run against a targetDir with an ACTIVE sink —
    * a merge sweeps superseded runs after its marker lands, so a
    * reader that resolved the visible-run set just before a merge can
    * hit FileNotFoundException on the swept paths mid-scan. Publish
    * between stream stops (the AvailableNow discipline every caller
    * here uses), or retry on a fresh listing.
    *
    * A target no batch has written (an AvailableNow run over an empty
    * drop directory starts none) publishes an empty frame of the same
    * schema, as the batch twin does over an empty corpus.
    */
  def lshPairsRead(spark: SparkSession, targetDir: String,
      maxBucket: Int = 100, minAgree: Int = 16): DataFrame = {
    val bkt = Seq("b", "k1", "k2")
    val fs = new Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val runs = lshSettle(fs, targetDir)
    val occOk = lshRead(spark, targetDir, "cbands", runs)
      .groupBy(bkt.map(col): _*).agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= maxBucket)
      .select(bkt.map(col): _*)
    val pairs = lshRead(spark, targetDir, "cinc", runs)
      .join(occOk, bkt)
      .select("id_a", "id_b").distinct()
    val sigs = lshRead(spark, targetDir, "csigs", runs)
    val pk = lit(10000000000L)
    pairs
      .join(sigs.toDF("id_a", "sa"), "id_a")
      .join(sigs.toDF("id_b", "sb"), "id_b")
      .withColumn("n_eq", MinHashLsh.agreement(col("sa"), col("sb")).cast("long"))
      .filter(col("n_eq") >= minAgree)
      .groupBy(col("id_b").as("id"))
      .agg(count(lit(1)).as("n_matches"),
        max(col("n_eq") * pk + col("id_a")).as("best"))
      .select(col("id"), col("n_matches"),
        pmod(col("best"), pk).as("best_match"),
        expr("best DIV 10000000000").as("best_n_eq"))
  }

  /** Shared merge-and-swap skeleton: heal a half-finished previous swap,
    * build the merged frame (given whether a target exists), write it to
    * `<target>.staging`, run `preCommit`, then promote it with
    * [[Swap.commit]], the previous target parked as `<target>.old`. Both
    * working dirs are siblings of the target, outside what a reader of it
    * lists; a crash leaves either a complete target or a `.old` the next
    * call heals (while the target is missing, reading it fails loudly).
    *
    * `preCommit` runs after the staging write and before the first rename:
    * a check over what that write observed (e.g. `Dataset.observe`
    * counts) that throws to abandon the merge with the target untouched.
    */
  private[graft] def mergeIntoParquet(batch: DataFrame, targetDir: String,
      preCommit: () => Unit = () => ())(
      merge: (org.apache.spark.sql.SparkSession, Boolean) => DataFrame): Unit = {
    val spark = batch.sparkSession
    val target = new Path(targetDir)
    val staged = new Path(targetDir + ".staging")
    val old = new Path(targetDir + ".old")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.heal(fs, target, old)
    val merged = merge(spark, fs.exists(target))
    merged.write.mode("overwrite").parquet(staged.toString)
    try preCommit()
    catch { case e: Throwable => fs.delete(staged, true); throw e }
    Swap.commit(fs, staged, target, old)
  }
}
