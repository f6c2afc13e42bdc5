package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side layout control — at 100 TB the written layout IS the read
  * performance of every downstream query: partition pruning only works if
  * the data is partitioned on the pruned columns, and small-file storms
  * (one file per task per partition value) destroy listing/scan times.
  */
object Sink {

  /** Hive-style partitioned parquet write with file-count control:
    * repartitioning on the partition columns makes each output partition
    * directory receive data from few tasks (no small-file explosion), and
    * `maxRecordsPerFile` caps file size from above. `bucketTasks` spreads
    * a skewed partition value over that many tasks.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L,
      bucketTasks: Int = 1,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    // The salt must be materialized as a column BEFORE repartition():
    // RepartitionByExpression rejects nondeterministic expressions outright,
    // and a deterministic row-content hash is reproducible anyway.
    val salted =
      if (bucketTasks > 1)
        df.withColumn("__salt", pmod(crc32(concat_ws("§",
          df.columns.map(col).toIndexedSeq: _*)), lit(bucketTasks)))
      else df
    val keys = partitionCols.map(col) ++ (if (bucketTasks > 1) Seq(col("__salt")) else Nil)
    // Explicit partition count: AQE would otherwise coalesce small shuffles
    // back into few tasks and undo the requested writer spread.
    val numParts =
      salted.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    salted.repartition(numParts, keys: _*)
      .drop("__salt")
      .write
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .mode(mode)
      .parquet(path)
  }

  /** Small-file compaction — the maintenance pass after many incremental
    * appends, where a directory of thousands of KB-sized part files
    * destroys listing and scan times. Sizes the output from the INPUT'S
    * ACTUAL BYTES (ceil(totalBytes / targetBytes) files, so compaction is
    * idempotent and never re-fragments), rewrites into the hidden sibling
    * `.<name>.compact_tmp`, and promotes it with [[Swap.commit]], the old
    * files parked in `.<name>.compact_old` until the new ones are in
    * place. Both working dirs start with `.`, so a reader of the parent
    * (a partitioned root, when `path` is one of its leaves) never lists
    * them. A crash leaves either a complete copy at `path` or, between
    * the two renames, only the old copy: `path` is then missing, so a read
    * of it fails rather than returning a partial dataset, and the heal at
    * the start of the next `compact` of `path` (or [[compactPartitioned]]'s
    * walk, before it reads the leaf) restores it. Returns (filesBefore,
    * filesAfter, bytesBefore).
    */
  def compact(df: DataFrame, path: String,
      targetBytes: Long = 128L << 20): (Int, Int, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val old = working(p, "old")
    Swap.heal(fs, p, old)
    val parts = fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val nOut = math.max(1, ((bytes + targetBytes - 1) / targetBytes).toInt)
    val staged = working(p, "tmp")
    fs.delete(staged, true)
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(staged.toString)
    Swap.commit(fs, staged, p, old)
    (parts.length, nOut, bytes)
  }

  /** [[compact]] for a hive-partitioned dataset: every leaf partition
    * directory compacts independently (its own byte-derived file count,
    * its own [[Swap.commit]]), so a huge backlog can be compacted
    * partition-by-partition across maintenance windows. A reader of the
    * root mid-maintenance sees every partition complete, old or new,
    * except for the one leaf between its two renames, whose rows are
    * missing from that instant's listing. The walk skips the hidden
    * working dirs and first heals any leaf a crashed compaction left
    * between its renames, so it converges on the next call. Returns
    * per-partition (relativeDir, filesBefore, filesAfter).
    */
  def compactPartitioned(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long = 128L << 20): Seq[(String, Int, Int)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafDirs(p: Path): Seq[Path] = {
      val dirs = fs.listStatus(p).toIndexedSeq.filter(_.isDirectory).map(_.getPath)
        .flatMap { d =>
          d.getName match {
            case OldCopy(leaf) =>
              val live = new Path(d.getParent, leaf)
              Swap.heal(fs, live, d)
              Some(live)
            case n if n.startsWith(".") => None
            case _ => Some(d)
          }
        }.distinct
      if (dirs.isEmpty) Seq(p) else dirs.flatMap(leafDirs)
    }
    val rootUri = root.toUri.getPath
    leafDirs(root).filter(_ != root).map { leaf =>
      // Partition columns live in the directory name, not the files —
      // read the leaf alone and write back only the file columns.
      val (nb, na, _) = compact(spark.read.parquet(leaf.toString),
        leaf.toString, targetBytes)
      (leaf.toUri.getPath.stripPrefix(rootUri).stripPrefix("/"), nb, na)
    }
  }

  /** A hidden sibling of `p` that [[compact]] works in. */
  private def working(p: Path, what: String): Path =
    new Path(p.getParent, s".${p.getName}.compact_$what")

  private val OldCopy = """\.(.+)\.compact_old""".r

  /** Artifact write with an oversize manifest (reference etl/load.py's
    * artifact upload: artifacts beyond the size cap are recorded as a
    * manifest of their parts instead of one oversized blob). Writes the
    * frame as parquet; when the total byte size exceeds `maxBytes`, a
    * `_manifest.json` listing every part file + size is placed next to
    * the data so downstream consumers page through parts (underscore
    * prefix: Spark/Hadoop readers treat `_`-files as hidden, so
    * spark.read.parquet on the directory still works). Returns the total
    * bytes written and whether a manifest was emitted.
    */
  def writeArtifact(df: DataFrame, path: String, maxBytes: Long): (Long, Boolean) = {
    df.write.mode(SaveMode.Overwrite).parquet(path)
    val hconf = df.sparkSession.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val parts = fs.listStatus(p).toIndexedSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val total = parts.map(_.getLen).sum
    val oversize = total > maxBytes
    if (oversize) {
      val entries = parts.map(s =>
        s"""{"name":"${s.getPath.getName}","bytes":${s.getLen}}""")
      val json =
        s"""{"total_bytes":$total,"max_bytes":$maxBytes,"parts":[${entries.mkString(",")}]}"""
      val out = fs.create(new org.apache.hadoop.fs.Path(p, "_manifest.json"), true)
      try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    (total, oversize)
  }
}
