package graft.sources

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Config-driven incremental ingestion — the Spark analog of the
  * reference's EXTRACT stage (reference etl/extract.py + etl/get_status.py):
  * poll a landing directory, read only files that are new or modified since
  * the stored state, and advance the state on success.
  *
  * Differences from the reference, by design:
  *  - State is a simple properties file on any Hadoop-compatible FS (the
  *    reference round-trips state.json through object storage).
  *  - Resources are files matched by glob + prefix (the reference filters
  *    CKAN resources by name prefix; same role).
  *  - Formats are the Spark-native parquet/csv/json readers plus "xlsx"
  *    via [[Xlsx]] (sheet selection + blacklist + header promotion, the
  *    reference's actual input path).
  *
  * For continuous pipelines prefer StreamOps.readParquetStream (checkpointed
  * file source); this module is the batch/cron-shaped equivalent, like the
  * reference's weekly Railway schedule.
  */
object Ingest {

  final case class SourceCfg(
      format: String, // parquet | csv | json | xlsx
      dir: String,
      glob: String = "*",
      prefix: String = "",
      /** Resource (file) name substrings to skip. */
      blacklist: Seq[String] = Nil,
      /** Sheet names to skip inside xlsx resources (the reference's
        * SHEET_BLACKLIST, matched accent-stripped + lowercased).
        */
      sheetBlacklist: Seq[String] = Nil,
      options: Map[String, String] = Map.empty)

  /** resource path → last-seen modification time (epoch millis). */
  type IngestState = Map[String, Long]

  // ------------------------------------------------------------------
  // State file (reference etl/get_status.py: ensure_state_locally)
  // ------------------------------------------------------------------

  def loadState(spark: SparkSession, statePath: String): IngestState = {
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.healFile(fs, p)
    Swap.readString(fs, p).fold(Map.empty[String, Long]) { text =>
      val props = new java.util.Properties()
      props.load(new java.io.StringReader(text))
      val out = mutable.Map.empty[String, Long]
      props.forEach((k, v) => out(k.toString) = v.toString.toLong)
      out.toMap
    }
  }

  /** Atomic state promotion (reference etl/load.py:534-606,
    * `_promote_state_atomic`, via [[Swap.writeFile]]): the new
    * state is fully written to `.tmp` first, then promoted by rename, so
    * a crash at any point leaves either the previous complete state, a
    * recoverable `.old` (healed by the next load/save), or the new
    * complete state — never a torn file. A plain overwrite of the
    * watermark file would corrupt ALL incremental progress on a
    * mid-write crash.
    */
  def saveState(spark: SparkSession, statePath: String, state: IngestState): Unit = {
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.writeFile(fs, p) { out =>
      val props = new java.util.Properties()
      state.foreach { case (k, v) => props.setProperty(k, v.toString) }
      props.store(out, "graft ingest state")
    }
  }

  // ------------------------------------------------------------------
  // Incremental listing (reference etl/extract.py: extract_updated_dfs)
  // ------------------------------------------------------------------

  /** Files under cfg.dir matching glob+prefix that are new or modified
    * relative to `state`, plus the advanced state covering them.
    */
  def newFiles(spark: SparkSession, cfg: SourceCfg,
      state: IngestState): (Seq[FileStatus], IngestState) = {
    val dir = new Path(cfg.dir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return (Nil, state)
    val all = fs.globStatus(new Path(dir, cfg.glob)).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(cfg.prefix) &&
        !cfg.blacklist.exists(st.getPath.getName.contains))
    val fresh = all.filter { st =>
      state.get(st.getPath.toString).forall(_ < st.getModificationTime)
    }
    val advanced = state ++ fresh.map(st => st.getPath.toString -> st.getModificationTime)
    (fresh, advanced)
  }

  /** Read only new/changed files. Returns None when nothing changed (the
    * reference logs "no new resources" and skips the run). Caller persists
    * results, then calls `saveState` with the returned state — state
    * advances only after a successful load, exactly like the reference's
    * promote-state-after-DB-OK rule (reference etl/load.py).
    */
  def extractUpdated(spark: SparkSession, cfg: SourceCfg,
      statePath: String): Option[(DataFrame, IngestState)] = {
    val state = loadState(spark, statePath)
    val (fresh, advanced) = newFiles(spark, cfg, state)
    if (fresh.isEmpty) None
    else {
      val reader = spark.read.options(cfg.options)
      val paths = fresh.map(_.getPath.toString)
      val df = cfg.format match {
        case "parquet" => reader.parquet(paths: _*)
        case "csv" => reader.option("header", "true").csv(paths: _*)
        case "json" => reader.json(paths: _*)
        case "xlsx" =>
          // Each spreadsheet parses driver-side (an xlsx is one
          // unsplittable zip — same unit of work as the reference's
          // per-resource pandas parse); files union by promoted header.
          paths.map(p => Xlsx.read(spark, p, cfg.sheetBlacklist))
            .filter(_.columns.nonEmpty)
            .reduceOption((a, b) => a.unionByName(b, allowMissingColumns = true))
            .getOrElse(spark.emptyDataFrame)
        case other => throw new IllegalArgumentException(s"unsupported format: $other")
      }
      Some((df, advanced))
    }
  }
}
