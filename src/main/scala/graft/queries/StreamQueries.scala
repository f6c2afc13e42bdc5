package graft.queries

import org.apache.spark.sql.functions._

import graft.sources.Tables
import graft.streaming.StreamOps

/** Batch twins of the streaming transforms (SURVEY.md §2.4). The SAME
  * functions run inside readStream pipelines (StreamingSpec); running them
  * here in batch lets the driver oracle-check their logic.
  */
object StreamQueries {

  private lazy val upsertScratch = Scratch.slot("upsert-twin")
  private lazy val substrGateScratch = Scratch.slot("substr-gate")
  private lazy val rangeGateScratch = Scratch.slot("range-gate")
  private lazy val transGateScratch = Scratch.slot("trans-gate")
  private lazy val driftGateScratch = Scratch.slot("drift-gate")
  private lazy val lshGateScratch = Scratch.slot("lsh-gate")
  private lazy val quotaGateScratch = Scratch.slot("quota-gate")

  /** Build-once cache for a streaming query's input DROPS: `build`
    * writes the drop files the first time a (slot, sfDir) pair is seen
    * in this JVM; later invocations reuse them. Staging the stream's
    * input files is HARNESS setup, not operator cost — charging it to
    * the timed slot muddied the streaming heavies' bench signal (at the
    * r10 sf100 probe a chunk of st_substr_gate's 562 s was drop I/O).
    * Under Bench's warm+timed regime the warm pass stages the drops and
    * the timed pass measures stream + publish only; single-pass boards
    * see one staging, attributed by the `[phase]` stderr stamp. The
    * cache key is the sfDir (drops are a deterministic function of it),
    * `_ready` lands only after `build` returns (a crashed build rebuilds
    * from scratch), and a shutdown hook clears the cache at JVM exit.
    */
  private def cachedDrops(slot: String, sfDir: String)(
      build: String => Unit): String = {
    val key = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir))
    val root = Scratch.path(s"drops-$slot-$key")
    val ready = root.resolve("_ready")
    if (!java.nio.file.Files.exists(ready)) {
      Scratch.fresh(root)
      val t0 = System.nanoTime()
      build(root.toString)
      System.err.println(
        f"[phase] $slot%s drops=${(System.nanoTime() - t0) / 1e9}%.2fs (staged once per JVM)")
      java.nio.file.Files.createFile(ready)
      Scratch.deleteOnExit(root)
    }
    root.toString
  }

  /** Run `second` (the writer of a drop directory's SECOND file drop)
    * and then stamp every file it created strictly later than the first
    * drop's max mtime. FileStreamSource batches by modification time; on
    * filesystems with coarse mtime granularity a back-to-back write can
    * TIE with the first drop's files and interleave into micro-batch 1 —
    * silently breaking the cross-batch ordering precondition of the
    * order-SENSITIVE gates (substr: first-occurrence-in-earliest-drop;
    * quota: per-source doc_id order; transitions: per-user ts order).
    * Within a batch any order is fine (the sinks sort); the stamp only
    * pins the BATCH boundary. Also used by the order-insensitive gates
    * so every slot measures the same deterministic two-batch shape.
    */
  private def pinnedSecondDrop(dropD: String)(second: => Unit): Unit = {
    val dropDir = new java.io.File(dropD)
    def partFiles() = Option(dropDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    val firstNames = partFiles().map(_.getName).toSet
    val firstMax = partFiles().map(_.lastModified).max
    second
    partFiles().filterNot(f => firstNames(f.getName)).foreach { f =>
      // setLastModified reports failure by RETURNING false; a silently
      // failed stamp voids the cross-batch ordering precondition the
      // order-sensitive gates (quota/transitions/substr) rely on.
      if (!f.setLastModified(firstMax + 60000L))
        throw new java.io.IOException(
          s"pinnedSecondDrop: mtime stamp failed for $f — batch boundary " +
            "cannot be pinned on this filesystem")
    }
  }

  /** Stamp a phase's wall time to stderr and pass the value through. */
  private def phase[T](slot: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[phase] $slot%s $name%s=${(System.nanoTime() - t0) / 1e9}%.2fs")
    r
  }

  val all: Seq[Q] = Seq(

    // 42: canonicalize (the streaming ingest transform)
    Q("st_canonicalize",
      (s, dir) => StreamOps.canonicalizeEvents(Tables.events(s, dir))
        .select(col("event_id"), col("event_type"), col("business_key"))
        .orderBy(col("event_id")),
      Some("""
        SELECT event_id, trim(event_type) AS event_type,
               concat_ws('|', CAST(user_id AS VARCHAR), trim(event_type),
                         CAST(ts AS VARCHAR)) AS business_key
        FROM events ORDER BY event_id
      """)),

    // 43: watermarked tumbling window agg (batch mode: all windows closed)
    Q("st_windowed_agg",
      (s, dir) => StreamOps.windowedAgg(Tables.events(s, dir))
        .orderBy(col("window_start"), col("event_type")),
      Some("""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY window_start, event_type
      """)),

    // 44: dedup-on-business-key within a watermark. WHICH physical row
    // survives dropDuplicates is arrival-order-dependent, so the
    // deterministic (and therefore oracle-able) contract is the KEY SET:
    // the same function runs under readStream in StreamingSpec; here the
    // driver checks that the batch twin emits exactly the distinct keys.
    Q("st_dedup_keys",
      (s, dir) => StreamOps.dedupWithinWatermark(
          Tables.events(s, dir), Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type")),
      Some("""
        SELECT DISTINCT user_id, event_type FROM events
        ORDER BY user_id, event_type
      """)),

    // 49: stream-static enrichment join — the static dim side is
    // broadcast (no shuffle of the stream, no state: each micro-batch
    // joins against the dim snapshot). Same function under readStream in
    // StreamingSpec; the driver oracle-checks the join logic in batch.
    Q("st_enrich_dim",
      (s, dir) => StreamOps.enrichWithDim(
          Tables.events(s, dir),
          Tables.customer(s, dir).select(col("c_custkey").as("user_id"),
            col("c_mktsegment"), col("c_nationkey")),
          "user_id")
        .select(col("event_id"), col("user_id"), col("c_mktsegment"),
          col("c_nationkey"))
        .orderBy(col("event_id")),
      Some("""
        SELECT e.event_id, e.user_id, c.c_mktsegment, c.c_nationkey
        FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id
      """)),

    // 56: the media admission gate (REAL ImageIO / PCM-audio decode,
    // undecodable bytes dropped) as a stream-capable transform — same
    // stateless mapPartitions under readStream (StreamingSpec proves
    // stream == batch); this batch twin is oracled by recomputing the
    // decoder's readout from the media generators' formulas (ids ≡ 0 mod
    // 3 carry PNGs, ≡ 1 carry WAVs, ≡ 2 carry garbage that must vanish).
    Q("st_media_gate",
      (s, dir) => {
        import s.implicits._
        // Explicit count — bare repartition(col) AQE-coalesces a tiny id
        // projection to 1-2 partitions and serializes the decode (see
        // TextQueries.synthMedia's note).
        val media = Tables.documents(s, dir)
          .select(col("doc_id"))
          .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
            col("doc_id")).as[Long]
          .mapPartitions(_.map { id =>
            val bytes = (id % 3) match {
              case 0 => graft.operators.Multimodal.synthPng(id)
              case 1 => graft.operators.Multimodal.synthWav(id)
              case _ => s"garbage payload $id".getBytes("UTF-8")
            }
            (id, bytes)
          })
          .toDF("doc_id", "media")
        graft.operators.Multimodal.mediaGate(media, "doc_id", "media")
          .orderBy(col("id"))
      },
      Some("""
        SELECT * FROM (
          SELECT doc_id AS id, 'image' AS kind,
                 8 + doc_id % 16 AS dim_a,
                 8 + (doc_id // 16) % 16 AS dim_b
          FROM documents WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, 'audio', CAST(8000 AS BIGINT),
                 800 + (doc_id % 7) * 100
          FROM documents WHERE doc_id % 3 = 1)
        ORDER BY id
      """)),

    // 54: the curation cleanup gate (html → NFC → quality filter) as a
    // stream-capable transform — TextClean.cleanGate is stateless narrow
    // projections, so the SAME call runs under readStream (StreamingSpec
    // proves stream == batch); this is the oracle-checked batch twin.
    Q("st_clean_gate",
      (s, dir) => graft.operators.TextClean.cleanGate(
          Tables.documents(s, dir).select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("clean"), col("n_tokens"))
        .orderBy(col("doc_id")),
      Some("""
        WITH cleaned AS (
          SELECT doc_id,
                 regexp_replace(nfc_normalize(
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(text, '<[^>]*>', ' ', 'g'),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                     '[ \t\n\r]+', ' ', 'g'))),
                   '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS clean
          FROM documents)
        SELECT doc_id, clean,
               len(string_split_regex(trim(clean), '\s+')) AS n_tokens
        FROM cleaned
        WHERE len(string_split_regex(trim(clean), '\s+')) >= 10
          AND round((length(clean) - length(regexp_replace(clean, '[.,!?;:]', '', 'g')))
                    / CAST(nullif(length(clean), 0) AS DOUBLE), 6) < 0.3
        ORDER BY doc_id
      """)),

    // 45: the foreachBatch upsert sink END-TO-END — not a batch
    // re-expression: the events table is split into two parquet drops, a
    // REAL readStream + AvailableNow upsertSink merges them micro-batch
    // by micro-batch into the key-hash-BUCKETED parquet target
    // (BucketedTable: per-bucket rename swap, merge pruned to the
    // buckets the batch touches), and the query publishes the final
    // table. The split is bulk-then-small (user_id ≤ 8 held back for
    // drop 2) so the slot measures the production shape: batch 1 is the
    // initial parallel bucketed load, batch 2 is a SMALL merge whose
    // cost tracks the batch's touched buckets (≤ its key count of 256),
    // NOT the target size — the r9 full-rewrite sink paid O(|target|)
    // per batch, and its harness wrote the whole table twice through
    // coalesce(1) on top. Drop 1 is written as 8 files +
    // maxFilesPerTrigger=8, so file COUNT (not single-core single-file
    // writes) controls the batch boundary. Keyed by (user_id,
    // event_type), latest-by ts: the testdata carries no (key, ts) ties
    // at any SF (checked sf0.001–0.1), so the merged table is uniquely
    // the max-ts row per key whatever the micro-batch boundaries —
    // which is exactly what the oracle replays with one window.
    Q("st_upsert_merge",
      (s, dir) => {
        val drop = cachedDrops("st_upsert_merge", dir) { d =>
          val ev = Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("ts"), col("value"))
          ev.filter(col("user_id") > 8)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          ev.filter(col("user_id") <= 8)
            .coalesce(1).write.mode("append").parquet(s"$d/drop")
        } + "/drop"
        val tmp = Scratch.fresh(upsertScratch)
        val target = s"$tmp/target"; val ckpt = s"$tmp/ckpt"
        phase("st_upsert_merge", "stream") {
          val src = s.readStream
            .schema("event_id LONG, user_id LONG, event_type STRING, " +
              "ts TIMESTAMP_NTZ, value DOUBLE")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.upsertSink(src, target, ckpt,
            keys = Seq("user_id", "event_type"), latestBy = Some("ts"),
            tieBreakers = Seq("event_id"), buckets = Some(256))
            .awaitTermination()
        }
        graft.sources.BucketedTable.read(s, target)
          .select(col("user_id"), col("event_type"), col("event_id"),
            col("ts"), col("value"))
          .orderBy(col("user_id"), col("event_type"))
      },
      Some("""
        SELECT user_id, event_type, event_id, ts, value
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                           ORDER BY ts DESC, event_id) AS rn
              FROM events)
        WHERE rn = 1
        ORDER BY user_id, event_type
      """)),

    // 58: streaming incremental exact-substring dedup END-TO-END — the
    // documents table split into two id-ordered parquet drops (low half
    // as 8 files, high half as 1; maxFilesPerTrigger=8 makes them two
    // micro-batches in mod-time order, the st_upsert_merge discipline),
    // a REAL readStream + substrDedupSink: batch 1 builds the gram index
    // and emits its internal dedup, batch 2 is cut against the PERSISTED
    // index (touched-bucket partition-filtered probe — the standing
    // corpus is never re-read) and appends its grams. Because every
    // repeated gram's first occurrence lies in the earliest drop that
    // contains it, the accumulated stream output equals ONE batch
    // substringDedup over the whole table — so the oracle is EXACTLY
    // d_dedup_substring's SQL: the streaming pipeline must reproduce the
    // batch operator bit-for-bit.
    Q("st_substr_gate",
      (s, dir) => {
        val drop = cachedDrops("st_substr_gate", dir) { d =>
          val dropD = s"$d/drop"
          val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
          val thr = docs.agg(expr("(min(doc_id) + max(doc_id)) DIV 2").as("thr"))
          val withThr = docs.crossJoin(broadcast(thr))
          withThr.filter(col("doc_id") < col("thr")).select("doc_id", "text")
            .repartition(8).write.mode("append").parquet(dropD)
          // Multi-file second drop (r12 s4, the st_drift_gate lesson):
          // the file-stream source assigns one scan task per file, so a
          // coalesce(1) text drop made micro-batch 2 a single-task scan.
          // pinnedSecondDrop stamps ALL of them after batch 1, so the
          // order-sensitivity precondition ("first occurrence lives in
          // the earliest drop") is unchanged — within a batch the sink
          // sorts by id itself. A/B at sf10: 46.0 → 34.5 s same-day.
          pinnedSecondDrop(dropD) {
            withThr.filter(col("doc_id") >= col("thr")).select("doc_id", "text")
              .repartition(4).write.mode("append").parquet(dropD)
          }
        } + "/drop"
        val tmp = Scratch.fresh(substrGateScratch)
        phase("st_substr_gate", "stream") {
          val src = s.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.substrDedupSink(src, s"$tmp/index", s"$tmp/out",
            s"$tmp/ckpt", "doc_id", "text", minTokens = 8)
            .awaitTermination()
        }
        s.read.parquet(s"$tmp/out").orderBy("doc_id")
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        wpos AS (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS pos
                 FROM toks WHERE len(t) >= 8),
        wins AS (SELECT doc_id, pos,
                        array_to_string(t[pos+1 : pos+8], ' ') AS gram
                 FROM wpos),
        del AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         ROW_NUMBER() OVER (PARTITION BY gram
                                            ORDER BY doc_id, pos) AS rn
                  FROM wins) WHERE rn >= 2),
        offs AS (SELECT unnest(range(0, 8)) AS g),
        delpos AS (SELECT DISTINCT doc_id, pos + g AS p FROM del, offs),
        tp AS (SELECT doc_id, unnest(range(0, len(t))) AS p, t FROM toks),
        kept AS (SELECT tp.doc_id, tp.p, tp.t[tp.p + 1] AS tok
                 FROM tp LEFT JOIN delpos d
                   ON tp.doc_id = d.doc_id AND tp.p = d.p
                 WHERE d.p IS NULL),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id)
        SELECT toks.doc_id,
               coalesce(agg.text_clean, '') AS text_clean,
               len(toks.t) - coalesce(agg.n_kept, 0) AS n_dropped
        FROM toks LEFT JOIN agg USING (doc_id) ORDER BY toks.doc_id
      """)),

    // 59: streaming windowed range counts END-TO-END — clicks split into
    // two parquet drops stream through a REAL readStream +
    // StreamOps.rangeCountSink: each micro-batch runs the order-
    // statistics countInInterval against the STATIC signup-window frame
    // and lands its per-interval counts as its one-batch run in the
    // sinks' run store; the publish step sums the visible runs. Because interval counts
    // are distributive over any split of the points, the accumulated
    // output equals ONE batch q_range_join over all clicks — so the
    // oracle IS q_range_join's SQL: the stream must reproduce the batch
    // operator bit-for-bit, whatever the micro-batch boundaries
    // (order-insensitive by construction — the mtime pin below is for
    // a deterministic bench shape, not correctness).
    Q("st_range_gate",
      (s, dir) => {
        val drop = cachedDrops("st_range_gate", dir) { d =>
          val clicks = Tables.events(s, dir)
            .filter(col("event_type") === "click")
            .select(col("event_id").as("click_id"), col("ts"))
          clicks.filter(col("click_id") % 2 === 0)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          // Multi-file second drop (the st_drift_gate lesson: one file =
          // one scan task = a single-task micro-batch); order-insensitive
          // pipeline, but the pin keeps the two-batch shape deterministic.
          pinnedSecondDrop(s"$d/drop") {
            clicks.filter(col("click_id") % 2 =!= 0)
              .repartition(4).write.mode("append").parquet(s"$d/drop")
          }
        } + "/drop"
        val tmp = Scratch.fresh(rangeGateScratch)
        val intervals = Tables.events(s, dir)
          .filter(col("event_type") === "signup")
          .select(col("event_id").as("signup_id"), col("ts").as("w_start"),
            (col("ts") + expr("INTERVAL 1 HOUR")).as("w_end"))
        phase("st_range_gate", "stream") {
          val src = s.readStream.schema("click_id LONG, ts TIMESTAMP")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.rangeCountSink(src, intervals, "ts",
            "w_start", "w_end", "signup_id", s"$tmp/out", s"$tmp/ckpt")
            .awaitTermination()
        }
        StreamOps.rangeCountRead(s, s"$tmp/out", "signup_id")
          .withColumnRenamed("n_points", "n_clicks")
          .orderBy(col("signup_id"))
          .localCheckpoint() // materialize before the scratch is re-wiped
      },
      Some("""
        SELECT s.event_id AS signup_id, COUNT(*) AS n_clicks
        FROM (SELECT * FROM events WHERE event_type = 'signup') s
        JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON c.ts >= s.ts AND c.ts < s.ts + INTERVAL 1 HOUR
        GROUP BY 1 ORDER BY signup_id
      """)),

    // ------------------------------------------------------------------
    // STATEFUL streaming transition matrix end-to-end (ORACLED, r12):
    // events stream through a real readStream in two TIME-split drops
    // (split at the median ts — a pure event-time cut, so each user's
    // drop-1 events precede their drop-2 events and the cross-batch
    // transition is real). Each micro-batch counts its intra-batch
    // consecutive pairs plus the boundary pair against the per-user
    // last-event STATE snapshot of the PREVIOUS batch; state is
    // batchId-versioned so an at-least-once replay recomputes against
    // exactly what it saw the first time (StreamOps.transitionsSink).
    // Accumulated increments == ONE batch q_event_transitions whatever
    // the batch boundaries — the oracle is its SQL verbatim.
    Q("st_event_transitions",
      (s, dir) => {
        val drop = cachedDrops("st_event_transitions", dir) { d =>
          val ev = Tables.events(s, dir).select(
            col("event_id"), col("ts"), col("user_id"), col("event_type"))
          // Deterministic harness threshold (exact interpolated median;
          // need not match any oracle — it only places the batch cut).
          val m = ev.agg(expr("percentile(unix_millis(ts), 0.5)"))
            .head().getDouble(0)
          ev.filter(unix_millis(col("ts")) <= m)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          // Multi-file second drop + mtime pin: transitionsSink is
          // order-SENSITIVE across batches (per-user ts order), so the
          // second drop must land strictly after the first in mtime
          // order — a coarse-mtime tie would interleave drop-2 events
          // into micro-batch 1 and miscount the boundary transitions.
          pinnedSecondDrop(s"$d/drop") {
            ev.filter(unix_millis(col("ts")) > m)
              .repartition(4).write.mode("append").parquet(s"$d/drop")
          }
        } + "/drop"
        val tmp = Scratch.fresh(transGateScratch)
        phase("st_event_transitions", "stream") {
          val src = s.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.transitionsSink(src, s"$tmp/out", s"$tmp/ckpt")
            .awaitTermination()
        }
        StreamOps.transitionsRead(s, s"$tmp/out")
          .orderBy(col("src"), col("dst"))
          .localCheckpoint() // materialize before the scratch is re-wiped
      },
      Some("""
        WITH seq AS (SELECT user_id, event_type AS src,
                            LEAD(event_type) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
                     FROM events),
        c AS (SELECT src, dst, COUNT(*) AS n FROM seq
              WHERE dst IS NOT NULL GROUP BY 1, 2),
        t AS (SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        SELECT c.src, c.dst, c.n,
               CAST(c.n * 1000000 // t.tot AS BIGINT) AS share_ppm
        FROM c JOIN t USING (src) ORDER BY src, dst
      """)),

    // ------------------------------------------------------------------
    // STATEFUL streaming source-quota gate (ORACLED): documents stream
    // in two doc_id-split drops (a pure key-ordered cut, so each
    // source's drop-1 docs precede its drop-2 docs and the quota
    // genuinely fills ACROSS the batch boundary); each micro-batch
    // admits rows whose global per-source rank — batch rank plus the
    // batchId-VERSIONED per-source seen-count of the previous batch —
    // is within the quota (StreamOps.quotaSink, the transitionsSink
    // replay discipline). Admitted increments are disjoint by
    // construction, so the union == ONE batch first-10-per-source
    // answer whatever the batch boundaries — the oracle is that window
    // SQL verbatim. Quota 10 < the 25 docs/source the generator emits,
    // so the gate genuinely REJECTS at every tested SF (a quota ≥ the
    // per-source count would verify a filter that never fires — the
    // q_kcore vacuous-at-scale lesson).
    Q("st_quota_gate",
      (s, dir) => {
        val drop = cachedDrops("st_quota_gate", dir) { d =>
          val docs = Tables.documents(s, dir)
            .select(col("doc_id"), col("source"))
          // Deterministic harness threshold (exact interpolated median;
          // it only places the batch cut, no oracle contact).
          val m = docs.agg(expr("percentile(doc_id, 0.5)"))
            .head().getDouble(0)
          docs.filter(col("doc_id") <= m)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          // Multi-file second drop + mtime pin: quotaSink is
          // order-SENSITIVE across batches (per-source doc_id order —
          // each source's drop-1 docs must precede its drop-2 docs), so
          // a coarse-mtime tie interleaving drop 2 into micro-batch 1
          // would silently break the rank-offset precondition.
          pinnedSecondDrop(s"$d/drop") {
            docs.filter(col("doc_id") > m)
              .repartition(4).write.mode("append").parquet(s"$d/drop")
          }
        } + "/drop"
        val tmp = Scratch.fresh(quotaGateScratch)
        phase("st_quota_gate", "stream") {
          val src = s.readStream.schema("doc_id LONG, source STRING")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.quotaSink(src, 10, s"$tmp/out", s"$tmp/ckpt")
            .awaitTermination()
        }
        StreamOps.quotaRead(s, s"$tmp/out")
          .orderBy(col("doc_id"))
          .localCheckpoint() // materialize before the scratch is re-wiped
      },
      Some("""
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY doc_id) AS rk
          FROM documents)
        WHERE rk <= 10 ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Streaming MinHash-LSH append gate (ORACLED, r13): documents stream
    // in two doc_id-split drops through a REAL readStream +
    // StreamOps.lshPairsSink — each micro-batch writes its portable
    // signatures, band postings and pairs as a batchId-keyed one-batch
    // run, overwritten idempotently with its marker last (band postings
    // one flat directory per run, sorted on MinHashLsh.pb), probes ONLY
    // the posting row groups its own band keys touch (a static
    // pb IN (...) filter pruned from the parquet footers — the standing
    // corpus is never rescanned), and emits its
    // new candidate pairs (new×old + new×new per bucket). Pair emission
    // is symmetric and the occupancy cap is applied against FINAL
    // occupancy at publish, so the accumulated result == the ONE-SHOT banded query
    // over the whole corpus for ANY batch boundaries. Published
    // contract is PER-DOC dedup flags (id, n_matches, best_match,
    // best_n_eq vs lower-id partners at agreement ≥ 16/32 — the
    // minhashIncremental shape): corpus-cardinality output; the raw
    // scored pair set is Σ occ² and OOM'd the sf100 publish. Oracle =
    // d_minhash_portable's sha256 CTE chain + the same per-doc
    // packed-argmax aggregation, bit-exact end to end.
    Q("st_lsh_gate",
      (s, dir) => {
        val drop = cachedDrops("st_lsh_gate", dir) { d =>
          val docs = Tables.documents(s, dir)
            .select(col("doc_id"), col("text"))
          val m = docs.agg(expr("percentile(doc_id, 0.5)"))
            .head().getDouble(0)
          docs.filter(col("doc_id") <= m)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          // Order-insensitive (pairs emit whenever the LATER side
          // arrives); multi-file + pin for the deterministic two-batch
          // shape, as in st_range_gate.
          pinnedSecondDrop(s"$d/drop") {
            docs.filter(col("doc_id") > m)
              .repartition(4).write.mode("append").parquet(s"$d/drop")
          }
        } + "/drop"
        val tmp = Scratch.fresh(lshGateScratch)
        phase("st_lsh_gate", "stream") {
          val src = s.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.lshPairsSink(src, s"$tmp/out", s"$tmp/ckpt")
            .awaitTermination()
        }
        StreamOps.lshPairsRead(s, s"$tmp/out")
          .orderBy(col("id"))
          .localCheckpoint() // materialize before the scratch is re-wiped
      },
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '') AS ts
          FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                      ELSE list_distinct(list_transform(range(0, len(ts) - 2),
                             i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
                 END AS shs
               FROM base),
        hx AS (SELECT doc_id, seed,
                 MIN(('0x' || substr(sha256(CAST(seed // 8 AS VARCHAR) || '|' || shingle),
                                     CAST(1 + 8 * (seed % 8) AS INT), 8))::BIGINT) AS mh
               FROM (SELECT doc_id, unnest(shs) AS shingle FROM sh),
                    (SELECT unnest(range(0, 32)) AS seed)
               GROUP BY doc_id, seed),
        sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM hx GROUP BY doc_id),
        bands AS (SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
                  FROM sig, (SELECT unnest(range(0, 16)) AS b)),
        keepb AS (SELECT b, k1, k2 FROM bands
                  GROUP BY b, k1, k2 HAVING COUNT(*) BETWEEN 2 AND 100),
        cb AS (SELECT bands.* FROM bands JOIN keepb USING (b, k1, k2)),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM cb a JOIN cb b
                    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2
                   AND a.doc_id < b.doc_id),
        hits AS (SELECT id_b AS id, id_a,
                        CAST(len(list_filter(range(1, 33),
                          i -> sa.sig[i] = sb.sig[i])) AS BIGINT) AS n_eq
                 FROM pairs
                 JOIN sig sa ON sa.doc_id = id_a
                 JOIN sig sb ON sb.doc_id = id_b)
        SELECT id, COUNT(*) AS n_matches,
               CAST(MAX(n_eq * 10000000000 + id_a) % 10000000000 AS BIGINT)
                 AS best_match,
               CAST(MAX(n_eq * 10000000000 + id_a) // 10000000000 AS BIGINT)
                 AS best_n_eq
        FROM hits WHERE n_eq >= 16
        GROUP BY id ORDER BY id
      """)),

    // ------------------------------------------------------------------
    // Streaming corpus-drift gate (ORACLED): documents stream in two
    // doc_id-split drops; each micro-batch lands its (source, tok)
    // occurrence counts as its one-batch run in the run store
    // (StreamOps.distDriftSink — idempotent under at-least-once
    // replay), and publish re-aggregates the visible runs through the
    // SHARED TextStats.tvDrift — the same code the batch x_dist_drift
    // runs, so the oracle is its SQL verbatim. Token counts are
    // distributive over any document split: stateless,
    // order-insensitive, increments vocabulary-bounded. This is the
    // drift monitor as an INGEST fence — the mix report updates with
    // every arriving batch without ever re-reading the corpus.
    Q("st_drift_gate",
      (s, dir) => {
        val drop = cachedDrops("st_drift_gate", dir) { d =>
          val docs = Tables.documents(s, dir)
            .select(col("doc_id"), col("source"), col("text"))
          val m = docs.agg(expr("percentile(doc_id, 0.5)"))
            .head().getDouble(0)
          // Both drops multi-file: the file-stream source assigns one
          // scan task per file, so a coalesce(1) TEXT-heavy drop makes
          // its whole micro-batch a single-task explode (the sf100 probe
          // measured the 1-file layout at 1.36× linear; 4 files restore
          // sub-linearity). The doc_id cut, not file order, defines the
          // split — counts are distributive, any layout oracles the same.
          docs.filter(col("doc_id") <= m)
            .repartition(8).write.mode("append").parquet(s"$d/drop")
          docs.filter(col("doc_id") > m)
            .repartition(4).write.mode("append").parquet(s"$d/drop")
        } + "/drop"
        val tmp = Scratch.fresh(driftGateScratch)
        phase("st_drift_gate", "stream") {
          val src = s.readStream
            .schema("doc_id LONG, source STRING, text STRING")
            .option("maxFilesPerTrigger", 8).parquet(drop)
          StreamOps.distDriftSink(src, s"$tmp/out", s"$tmp/ckpt")
            .awaitTermination()
        }
        StreamOps.distDriftRead(s, s"$tmp/out")
          .orderBy(col("source"))
          .localCheckpoint() // materialize before the scratch is re-wiped
      },
      Some(s"""
        WITH tok AS (SELECT source, unnest(list_filter(${Q.duckToks},
                            x -> x <> '')) AS tok
                     FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        n AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns),
        dev AS (SELECT st.source, ns.n_s, n.n_tot,
                       SUM(abs(CAST(c_st AS HUGEINT) * n_tot
                               - CAST(c_t AS HUGEINT) * n_s)) AS present_dev,
                       CAST(SUM(c_t) AS HUGEINT) AS present_ct
                FROM st JOIN ct USING (tok) JOIN ns USING (source), n
                GROUP BY 1, 2, 3)
        SELECT source, n_s AS n_tokens,
               CAST((present_dev + (n_tot - present_ct) * CAST(n_s AS HUGEINT))
                    * 1000000 // (2 * CAST(n_s AS HUGEINT) * n_tot)
                 AS BIGINT) AS tv_ppm
        FROM dev ORDER BY source
      """))
  )
}
