package graft

import org.apache.spark.sql.SparkSession

import graft.sources.LocalFs

/** One-call session factory with graft's recommended configuration —
  * the adoption entry point for a user switching from the reference
  * pipeline: SQL extensions registered (strip_accents/uuid5/shingles/
  * minhash_sig/simhash/vec_dot), AQE on (with skew-join handling),
  * UTC session timezone (cross-engine timestamp parity),
  * nanosecond-parquet compatibility for event feeds, and a fork-free
  * local file system.
  *
  * The local file system: without `libhadoop`, which Spark's
  * distribution does not ship, Hadoop's stock `file:` bindings fork a
  * `chmod` process for every file created and directory made (output
  * files, `.crc` checksums, `_SUCCESS` markers, run and bucket dirs) and
  * a `readlink` process for every FileContext rename (each streaming
  * offset and commit log entry). [[LocalFs]] binds both `fs.file.impl`
  * and `fs.AbstractFileSystem.file.impl` to classes that set the same
  * mode bits through `java.nio`, unless the caller already set either
  * key as a system property. Per call (200 calls, 3 rounds, JDK 17,
  * Hadoop 3.4.2, 4-core shared host): a checksummed create took
  * 11.5-13.7 ms stock and 0.2-0.7 ms bound (a plain Java create:
  * 0.03-0.05 ms); a `mkdirs` 5.1-6.0 ms stock and 0.06-0.12 ms bound.
  *
  * `shufflePartitions` should track the deployment: cores on a laptop,
  * ~2-3× total executor cores (or data-volume-derived) on a cluster —
  * AQE coalesces the excess at runtime.
  */
object GraftSession {

  def builder(master: String = "", shufflePartitions: Int = 0): SparkSession.Builder = {
    var b = LocalFs.install(SparkSession.builder())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // tz-naive parquet (pandas/pyarrow writers) reads as an instant under
      // the UTC session rather than TIMESTAMP_NTZ, which unix_millis/
      // watermarks reject. Tables.events also normalizes NTZ defensively.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Serialized RDD blocks (persist/localCheckpoint disk tier —
      // graft's Materialize discipline runs through it) compress with
      // the default lz4 codec: the dedup/components pipelines checkpoint
      // shingle-array and pair frames whose text-heavy blocks compress
      // 3-5×, and an uncompressed spill tier is what overflowed the
      // disk in the sf100 components probe. Shuffle spill is already
      // compressed by default; this aligns the checkpoint tier with it
      // (lz4 throughput ≫ local-disk bandwidth, so CPU cost is noise).
      .config("spark.rdd.compress", "true")
    if (master.nonEmpty) b = b.master(master)
    if (shufflePartitions > 0)
      b = b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    b
  }

  /** Build (or reuse) the session and register graft's SQL functions. */
  def getOrCreate(master: String = "", shufflePartitions: Int = 0): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    GraftExtensions.register(spark)
    spark
  }

  /** Local-harness session (Bench/Verify/RunOne): GraftSession confs +
    * finer scan splits (tiny test parquet — clusters keep the 128 MB
    * default), no UI, WARN logs, and the SQL surface registered. One
    * entry point so the harness can never drift from `getOrCreate`
    * (e.g. an `s.sql` query using strip_accents/minhash_sig failing
    * only under the harness).
    *
    * Shuffle sizing (r13, measured — both global input-sizing variants
    * REJECTED by A/B): raising `spark.sql.shuffle.partitions` to the
    * input-sized count regressed every iterative operator (q_kcore
    * 36 → 165 s at 298 partitions — a driver loop pays the partition
    * count per round), and the softer AQE
    * `initialPartitionNum`-only variant regressed them too (q_label_prop
    * 24 → 80 s) while NOT fixing the one real fixed-count spill
    * (q_geo_nearest_grid stayed at 129 s). The partition regime a hot
    * exchange needs is a property of the OPERATOR's own input, so the
    * operators that need more than the cores grain size their own
    * exchange from their own cardinality (Geo.nearestFacilityGrid's
    * ring join repartitions to ~5k points/partition — 129 s → 10.1 s
    * at sf10 with no knob); everything else keeps the cpus default.
    * `SPARK_GRAFT_SHUFFLE` still overrides for fixed-partition A/B
    * probes (the sf100 suites run at 256).
    */
  def harness(cpus: Int): SparkSession = {
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE")
      .map(_.trim.toInt).filter(_ > 0).getOrElse(cpus)
    val spark = builder(s"local[$cpus]", shuffle)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // Tungsten pages (sort, aggregation and shuffle-write buffers) are
      // derived as execution memory / cores / 16, i.e. 32 MB per page
      // on a 3 GB, 4-core driver; every sorting task takes at least one
      // whole page however few rows its 4 MB split holds. Whether a GC
      // lands while those pages are held then decides the heap in use:
      // an ETL round's after-GC heap peak read 149-208 MB at 32 MB
      // pages and 123-144 MB at 2 MB pages (6 alternating runs each,
      // 4-core shared host, wall time unchanged). Larger records still
      // get a page of their own size.
      .config("spark.buffer.pageSize", "2m")
      .config("spark.ui.enabled", "false")
      // Probe-scale heaps (64 GB) see full-GC pauses past the 10 s
      // heartbeat default; in local mode the "lost" executor is the
      // driver's own JVM, so the timeout is pure log noise that can
      // escalate to task re-runs mid-probe. Widen both.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Long-lived-session hygiene — call between heavy queries when ONE
    * SparkSession runs many of them (a notebook, a service, a query
    * board). Shuffle files, broadcasts, and localCheckpoint blocks are
    * reclaimed by Spark's ContextCleaner only when their driver-side
    * references are garbage-collected; on a large heap a session can run
    * dozens of heavy queries before any natural full GC, so shuffle
    * scratch directories and block-manager metadata accumulate without
    * bound in the meantime (measured r13/r14: in-board times 2-10× the
    * isolated floors until Bench adopted exactly this reset). This
    * drops the SQL cache and stray persisted RDDs, forces a GC so the
    * cleaner sees the dead references, and gives the (async) cleaner a
    * beat to drain. Bounded cost: one full GC + `drainMillis`.
    * SessionHygieneSpec pins the resulting bound — scratch returns to
    * its baseline after every heavy query instead of growing per-query.
    */
  def reclaimScratch(spark: SparkSession, drainMillis: Long = 200): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    System.gc()
    Thread.sleep(drainMillis)
  }
}
