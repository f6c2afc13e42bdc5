package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Transform

/** Key-hash-bucketed parquet target with per-bucket merge — the
  * BATCH-COST upsert sink (reference etl/load.py:388-460 pays per-row
  * via the Postgres index; a parquet lake can't pay per-row, so the
  * standard granularity is per-BUCKET, the Hudi-bucket-index /
  * partition-level-rewrite shape).
  *
  * Layout: `target/kb=<i>/part-*.parquet`, `i = pmod(xxhash64(keys…),
  * numBuckets)` — plain hive partitioning, so `spark.read.parquet
  * (target)` works everywhere and partition pruning applies to the
  * bucket column; the merge's target read names only the bucket dirs the
  * batch actually touches. `_graft_buckets.json` in the root pins
  * (numBuckets, keys) at creation; every later merge re-reads it, so a
  * caller can't silently re-bucket half a table.
  *
  * Cost model (the point): a micro-batch with `k` distinct keys touches
  * ≤ min(k, numBuckets) buckets, so the merge reads + rewrites
  * O(k · |target| / numBuckets) — batch-shaped, not target-shaped — in
  * one exchange of ≤ shuffle-width tasks, one file per touched bucket,
  * and lists O(touched) directories (the root listing the heal pass
  * makes anyway, then the touched live bucket dirs). The
  * legacy [[graft.streaming.StreamOps.upsertIntoParquet]] full
  * read-merge-swap stays available for small targets; THIS is the shape
  * that survives a 100 TB target (numBuckets sized so a bucket is a few
  * GB: 4096 buckets × 25 GB ≈ 100 TB).
  *
  * Crash contract: the first load is one rename of a staging dir that
  * already holds the meta file; every later merge commits each touched
  * bucket with [[Swap.commit]], the old copy of `kb=i` parked as
  * `.old_kb=i` inside the root (a leading `.` hides it from Spark's
  * listing; a leading `_` would not, since the name contains `=`). A
  * crash mid-merge leaves SOME buckets new and some old — weaker than
  * the full-table swap, same contract as [[Sink.compactPartitioned]] —
  * which the idempotent merge heals: the streaming checkpoint replays the
  * same batch, and re-merging already merged rows is a content no-op
  * (last-writer-wins; the stamped variant replays with the same
  * deterministic batch stamp). [[heal]] runs at the start of every merge
  * and closes any interrupted bucket swap. Between the crash and that
  * heal, [[read]] sees window 2 (new bucket and its old copy) as the new
  * table, and refuses window 1 (old copy only), which would otherwise
  * read silently short.
  */
object BucketedTable {

  val BucketCol = "kb"
  private val MetaFile = "_graft_buckets.json"
  private val OldPrefix = ".old_kb="
  /** The old-copy prefix of tables written before it was hidden. */
  private val LegacyOldPrefix = "_old_kb="
  private val LiveRx = """kb=(\d+)""".r

  /** Bucket id of a key tuple: non-negative, stable across batches and
    * engines that implement xxhash64 (the portability discipline every
    * graft hash column follows).
    */
  def bucketOf(keys: Seq[String], numBuckets: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(numBuckets)).cast("int")

  /** The logical table: the physical layout (bucket column) stripped.
    * Fails while a bucket is caught between its two renames (only its old
    * copy exists): the table would read short until the next merge heals
    * it.
    */
  def read(spark: SparkSession, targetDir: String): DataFrame = {
    val (fs, root) = fsRoot(spark, targetDir)
    if (fs.exists(root)) {
      val names = fs.listStatus(root).map(_.getPath.getName).toSet
      val torn = names.flatMap(liveOf).diff(names)
      if (torn.nonEmpty)
        throw new java.io.IOException(
          s"BucketedTable: $targetDir is mid-swap: ${torn.toSeq.sorted.mkString(", ")} " +
            "exist only as old copies; the next upsert (or heal) restores them")
    }
    spark.read.parquet(targetDir).drop(BucketCol)
  }

  /** Stored (numBuckets, keys) — None when the target doesn't exist. */
  def meta(spark: SparkSession, targetDir: String): Option[(Int, Seq[String])] = {
    val (fs, root) = fsRoot(spark, targetDir)
    readMeta(fs, root)
  }

  /** Merge one batch into the bucketed target (creating it on first
    * call), confined to the batch's buckets. One code path: the first
    * load is a merge into no table. [[Transform.merge]] of the raw batch,
    * so the semantics are
    * [[graft.streaming.StreamOps.upsertIntoParquet]]'s: within-batch
    * keep-latest by (latestBy desc, tieBreakers asc), `latestBy` protects
    * the target against stale re-deliveries, `stamp` threads the
    * inserted_at/updated_at row stamping through the merge.
    *
    * The merge is clustered by kb: kb = f(keys), so all rows of a key
    * share a bucket — a window partitioned by (kb, keys…) groups exactly
    * by keys, and HashPartitioning(kb) already satisfies its
    * ClusteredDistribution; the partitionBy write needs only the
    * kb-prefix of the sort the window ran. ONE exchange per merge, where
    * a keys-hash window plus a kb repartition for the write would be two
    * full shuffles of the batch. Its width is the touched-bucket count,
    * capped at `spark.sql.shuffle.partitions`: foreachBatch turns AQE off,
    * so nothing would coalesce a numBuckets-wide exchange of a small
    * batch.
    */
  def upsert(batch: DataFrame, targetDir: String, keys: Seq[String],
      numBuckets: Int = 256, latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil,
      stamp: Option[Column] = None,
      maxRecordsPerFile: Long = 5000000L): Unit = {
    require(keys.nonEmpty, "bucketed upsert needs at least one key column")
    require(numBuckets > 0, "numBuckets must be positive")
    require(!batch.columns.contains(BucketCol),
      s"batch must not carry a '$BucketCol' column (reserved for the layout)")
    val spark = batch.sparkSession
    val (fs, root) = fsRoot(spark, targetDir)
    val live = heal(fs, root)
    val stored = readMeta(fs, root)
    val n = stored match {
      case Some((n, storedKeys)) =>
        require(storedKeys == keys,
          s"bucketed target $targetDir was created with keys $storedKeys, " +
            s"merge called with $keys")
        n
      case None =>
        // Meta-less non-empty root: NOT ours to destroy — either a
        // foreign dataset the caller mistyped, or (pre-atomic-meta
        // layouts) a crash artifact. Refuse loudly instead of silently
        // treating it as a fresh first load.
        if (fs.exists(root) && fs.listStatus(root).nonEmpty)
          throw new java.io.IOException(
            s"BucketedTable: target $targetDir exists non-empty without " +
              s"$MetaFile — refusing to overwrite; delete it explicitly " +
              "or restore the meta file")
        numBuckets
    }
    // The batch is micro-batch-sized: materialize it once (it feeds the
    // touched-bucket collect AND the merge). RAW batch — the merge window
    // picks each key's winner within it too.
    val bk = graft.operators.Materialize(
      batch.withColumn(BucketCol, bucketOf(keys, n)))
    val touched = bk.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted
    // A first load commits even an empty batch: the table then exists.
    if (touched.isEmpty && stored.nonEmpty) return
    // The target read covers the touched buckets that exist, listed by
    // the heal pass, so an untouched bucket is never listed; basePath
    // keeps kb inferred from the directory names. kb is KEPT on both
    // sides: the merge clusters by it, and the write reuses that layout.
    val liveTouched = touched.filter(live).map(k => new Path(root, s"kb=$k").toString)
    val tgt = if (liveTouched.isEmpty) None
      else Some(spark.read.option("basePath", targetDir).parquet(liveTouched.toIndexedSeq: _*))
    val width = math.max(1, math.min(touched.length,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val merged = Transform.merge(tgt, Seq(bk), keys, latestBy, tieBreakers,
      stamp, clusterBy = Some((BucketCol, width)))
    val staging = new Path(targetDir + ".staging")
    fs.delete(staging, true)
    writePreBucketed(merged, staging.toString, maxRecordsPerFile)
    if (stored.isEmpty) {
      // First load: staging + one root rename, all-or-nothing. The meta
      // file is written INTO the staging dir before the rename, so data
      // and meta become visible in the same atomic step: a crash can
      // never leave a loaded target without meta (which the next upsert
      // would refuse as a foreign dataset).
      writeMeta(fs, staging, n, keys)
      if (fs.exists(root)) Swap.drop(fs, root)
      Swap.move(fs, staging, root)
    } else {
      touched.foreach(k => swapBucket(fs, root, staging, k))
      fs.delete(staging, true)
    }
    // Spark's own writers invalidate cached plans/listings for their
    // output path; our FS-level renames bypass that, so a caller-held
    // cached DataFrame over targetDir would keep serving the pre-swap
    // file list (FAILED_READ_FILE after the _old cleanup). Same hygiene
    // every table format does post-commit.
    spark.catalog.refreshByPath(targetDir)
  }

  /** Finish any interrupted per-bucket swap with [[Swap.heal]]: an old
    * copy whose live `kb=i` is missing is the pre-swap data (restore it);
    * one whose live dir exists is a completed swap's leftover (drop it).
    * Recognises the `_old_kb=i` name of tables written before the old
    * copy was hidden. One listing of the root when nothing needs healing;
    * returns the live bucket ids after the heal.
    */
  def heal(fs: FileSystem, root: Path): Set[Int] = {
    if (!fs.exists(root)) return Set.empty
    fs.listStatus(root).filter(_.isDirectory).map { s =>
      val name = s.getPath.getName
      liveOf(name).fold(name) { live => Swap.heal(fs, new Path(root, live), s.getPath); live }
    }.collect { case LiveRx(k) => k.toInt }.toSet
  }

  /** The live bucket dir an old-copy name stands for. */
  private def liveOf(name: String): Option[String] =
    Seq(OldPrefix, LegacyOldPrefix).find(name.startsWith)
      .map(p => "kb=" + name.stripPrefix(p))

  // The frame arrives already hash-partitioned on kb (the fused window's
  // explicit repartition, at most shuffle-width tasks) and kb-prefix-
  // sorted, so the partitionBy write inserts neither an exchange nor a
  // sort: a task writes its buckets one after another, one file per
  // touched bucket; maxRecordsPerFile splits the occasional oversize
  // bucket.
  private def writePreBucketed(df: DataFrame, dir: String,
      maxRecordsPerFile: Long): Unit =
    df.write.option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(BucketCol)
      .mode("overwrite").parquet(dir)

  private def swapBucket(fs: FileSystem, root: Path, staging: Path, k: Int): Unit = {
    val stg = new Path(staging, s"kb=$k")
    // A touched bucket always has staged output: the batch had a row in
    // it and the merge never deletes keys.
    require(fs.exists(stg), s"missing staged bucket kb=$k under $staging")
    Swap.commit(fs, stg, new Path(root, s"kb=$k"), new Path(root, s"$OldPrefix$k"))
  }

  private def fsRoot(spark: SparkSession, targetDir: String): (FileSystem, Path) = {
    val root = new Path(targetDir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  private def readMeta(fs: FileSystem, root: Path): Option[(Int, Seq[String])] =
    Swap.readString(fs, new Path(root, MetaFile)).map { json =>
      // Tiny fixed-shape doc; parsed with the same regex discipline the
      // RunLog reader uses rather than pulling in a JSON library.
      val n = """"num_buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(json)
        .map(_.group(1).toInt)
        .getOrElse(throw new java.io.IOException(s"bad $MetaFile at $root: $json"))
      val keys = """"keys"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(json)
        .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq)
        .getOrElse(Seq.empty)
      (n, keys)
    }

  private def writeMeta(fs: FileSystem, root: Path, n: Int,
      keys: Seq[String]): Unit = {
    val json = s"""{"num_buckets":$n,"keys":[${keys.map("\"" + _ + "\"").mkString(",")}]}"""
    val out = fs.create(new Path(root, MetaFile), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }
}
