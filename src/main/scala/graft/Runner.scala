package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, when}

import graft.config.DatasetConfig
import graft.operators.{Audit, SchemaDiff, Transform}
import graft.streaming.StreamOps

/** The pipeline orchestrator — the analog of the reference's
  * `pipeline.py::etl_process` (EXTRACT → TRANSFORM → LOAD → AUDIT), with
  * Spark-native pieces.
  *
  * A run is ONE lazy plan executed by ONE load action:
  *
  *  - every resource goes through `Transform.prepare` (the transform
  *    stage without its eager critical check) and its own keep-latest
  *    dedup window;
  *  - the resources, in resource-id order, and the current target are
  *    merged by key in one window (`Transform.merge`) — the same rows as
  *    merging the resources one after another, the later resource winning
  *    an exact tie — and written once to the target's staging directory
  *    (`StreamOps.mergeIntoParquet`);
  *  - all audit figures (rows in and out, duplicate keys, critical and
  *    recommended non-null counts) ride that action as `Dataset.observe`
  *    metrics, so no resource is scanned twice;
  *  - the critical check reads those counts after the staging write and
  *    before the swap: a failing resource throws `TransformHardFail` and
  *    the target is left untouched.
  *
  * A run is therefore all-or-nothing: either every resource is merged or
  * none is. `etl_runs` gets a row on success AND failure (the reference
  * records failed runs too); `etl_run_resources` gets one row per resource
  * of a successful run only.
  *
  * State promotion contract mirrors the reference (etl/load.py): callers
  * using `Ingest.extractUpdated` save the advanced state ONLY after this
  * returns successfully.
  */
object Runner {

  final case class RunResult(
      runId: String,
      status: String,
      resources: Seq[Audit.ResourceRow],
      rowsInTotal: Long,
      rowsOutTotal: Long)

  def run(
      spark: SparkSession,
      resources: Map[String, DataFrame],
      cfg: DatasetConfig,
      targetDir: String,
      auditDir: String,
      runId: String): RunResult = {
    val started = new java.sql.Timestamp(System.currentTimeMillis())
    var resourceRows = Seq.empty[Audit.ResourceRow]
    var failure: Throwable = null
    try {
      val staged = resources.toSeq.sortBy(_._1).map { case (rid, raw) => stage(rid, raw, cfg, runId) }
      if (staged.nonEmpty) {
        val keyCol = staged.map(_.keyCol).distinct match {
          case Seq(k) => k
          case ks => throw new IllegalArgumentException(
            s"[${cfg.dataset}] resources resolve different upsert keys: ${ks.mkString(", ")}")
        }
        StreamOps.mergeIntoParquet(staged.head.loaded, targetDir,
          preCommit = () => {
            staged.foreach(s => Transform.enforceCritical(cfg, s.critical.counts))
            resourceRows = staged.map(_.row(runId, cfg))
          }) { (spark, targetExists) =>
          // latestBy participates against the TARGET too: a re-delivered
          // stale row must not regress a newer target row.
          Transform.merge(
            if (targetExists) Some(spark.read.parquet(targetDir)) else None,
            staged.map(_.loaded), Seq(keyCol),
            latestBy = cfg.integrity.latestBy, tieBreakers = cfg.integrity.tieBreakers)
        }
      }
    } catch {
      // Record ANY failure in the audit trail (the reference logs failed
      // runs too), then rethrow the original exception.
      case scala.util.control.NonFatal(e) => failure = e
    }
    val rows = if (failure == null) resourceRows else Nil
    val ended = new java.sql.Timestamp(System.currentTimeMillis())
    Audit.appendRun(spark, auditDir, Audit.RunRow(
      runId, started, ended, if (failure == null) "ok" else "failed", rows.size,
      rows.map(_.rows_in).sum, rows.map(_.rows_out).sum,
      if (failure == null) null else failure.getMessage,
      stamp_local = graft.sources.Log.nowIsoLocal()))
    if (rows.nonEmpty) Audit.appendResources(spark, auditDir, rows)
    if (failure != null) throw failure
    RunResult(runId, "ok", rows, rows.map(_.rows_in).sum, rows.map(_.rows_out).sum)
  }

  /** One resource's branch of the run's plan: `loaded` is its deduped,
    * transformed rows; the observations fill in when the load action runs.
    */
  private final case class Staged(
      rid: String,
      loaded: DataFrame,
      keyCol: String,
      diff: SchemaDiff,
      in: Observation,
      out: Observation,
      critical: NonNull,
      recommended: NonNull) {

    def row(runId: String, cfg: DatasetConfig): Audit.ResourceRow = {
      val rowsIn = in.get("rows_in").asInstanceOf[Long]
      val rowsOut = out.get("rows_out").asInstanceOf[Long]
      val dupKeys = out.get("dup_keys").asInstanceOf[Long]
      val recWarns = Transform.recommendedWarnings(
        loaded, cfg.recommended, precomputed = Some(recommended.counts))
      Audit.ResourceRow(runId, rid, rowsIn, rowsOut, dupKeys,
        math.max(0L, rowsIn - rowsOut), diff.missing.size, diff.extra.size,
        recWarns.mkString(","))
    }
  }

  /** Non-null counts of `cols`, observed on a frame (none when `cols` is empty). */
  private final case class NonNull(cols: Seq[String], obs: Observation) {
    def counts: Map[String, Long] =
      if (cols.isEmpty) Map.empty
      else { val m = obs.get; cols.map(c => c -> m(c).asInstanceOf[Long]).toMap }
  }

  private def observeNonNull(df: DataFrame, cols: Seq[String],
      name: String): (DataFrame, NonNull) = {
    val present = cols.distinct.filter(df.columns.contains)
    val obs = Observation(name)
    val out =
      if (present.isEmpty) df
      else df.observe(obs, count(col(present.head)).as(present.head),
        present.tail.map(c => count(col(c)).as(c)): _*)
    (out, NonNull(present, obs))
  }

  private def stage(rid: String, raw: DataFrame, cfg: DatasetConfig, runId: String): Staged = {
    val inObs = Observation(s"graft_in_${runId}_$rid")
    val prepared = Transform.prepare(raw.observe(inObs, count(lit(1)).as("rows_in")), cfg)
    // The critical counts are taken where `Transform.pipeline` takes them:
    // on the transformed frame, before the load's own dedup.
    val (checked, critical) = observeNonNull(prepared,
      Transform.criticalColumns(cfg.critical), s"graft_crit_${runId}_$rid")
    // Config-driven upsert key (reference load.py honors the YAML's
    // load.upsert_key); fall back to surrogate_id-then-business_key
    // only when the configured key isn't among the output columns.
    val keyCol =
      if (checked.columns.contains(cfg.load.upsertKey)) cfg.load.upsertKey
      else if (checked.columns.contains("surrogate_id")) "surrogate_id"
      else "business_key"
    // The keep-latest dedup window, applied HERE so rows_out and the
    // duplicate-key count (`__rn = 2` ≡ "key has a 2nd row") are observed
    // on it in-flight. The merge would pick the same row per key from the
    // raw rows; these counts are why each resource keeps its own window.
    // A single-exchange variant cut etl_incremental's load jobs 30 → 20 but
    // gained no wall_s and raised heap_peak_mb 40% (see CHANGES.md).
    val ranked = Transform.dedupRank(checked, Seq(keyCol),
      latestBy = cfg.integrity.latestBy, tieBreakers = cfg.integrity.tieBreakers)
    val outObs = Observation(s"graft_out_${runId}_$rid")
    val deduped = ranked.observe(outObs,
        count(lit(1)).as("rows_out"),
        count(when(col("__rn") === 2, true)).as("dup_keys"))
      .filter(col("__rn") === 1).drop("__rn")
    // Recommended-column advisories (reference transform.py:256-270):
    // non-null counts observed on the post-dedup frame.
    val (loaded, recommended) = observeNonNull(deduped,
      cfg.recommended.flatten, s"graft_rec_${runId}_$rid")
    Staged(rid, loaded, keyCol, Transform.schemaDiff(prepared, cfg.expectedColumns),
      inObs, outObs, critical, recommended)
  }
}
