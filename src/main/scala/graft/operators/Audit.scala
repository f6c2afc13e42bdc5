package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Run auditing — the Spark analog of the reference's `etl_runs` /
  * `etl_run_resources` tables (reference sql/020_etl_audit.sql +
  * etl/load.py run-audit inserts). Audit rows are appended to parquet
  * tables; at scale these are tiny and partition-friendly (one row per
  * run / per resource).
  */
object Audit {

  final case class RunRow(
      run_id: String,
      started_at: java.sql.Timestamp,
      ended_at: java.sql.Timestamp,
      status: String,
      resources: Int,
      rows_in_total: Long,
      rows_out_total: Long,
      error: String,
      // Reference load.py `_now_iso_ec`: the run stamp rendered in the
      // pipeline's LOCAL zone (America/Guayaquil, fixed -05:00) — the
      // started_at/ended_at timestamps stay UTC for cross-engine parity.
      stamp_local: String = "")

  final case class ResourceRow(
      run_id: String,
      resource: String,
      rows_in: Long,
      rows_out: Long,
      duplicates_key: Long,
      dedup_rows_dropped: Long,
      schema_missing: Int,
      schema_extra: Int,
      // Non-blocking advisories (reference transform.py `recommended_warnings`):
      // comma-joined `missing:<col>` / `any_of_missing:a|b` entries, "" if none.
      recommended_warnings: String = "")

  /** In-flight audit metrics via `Dataset.observe`: row count and
    * per-column null counts collected DURING whatever action the caller
    * runs next (the upsert write, typically) — at 100 TB this replaces a
    * full second scan of the transformed frame with accumulator updates
    * piggybacked on the load job. `obs.get` blocks until that action
    * completes; metric names are `rows_out` and `nulls_<column>`.
    */
  def observed(df: DataFrame,
      name: String = "graft_audit"): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation(name)
    // count(when(...)), not sum(when(...)): sum over zero observed rows is
    // SQL NULL, and a zero-row load must report 0, not null.
    val nullCounts = df.columns.toIndexedSeq.map(c =>
      count(when(col(c).isNull, 1L)).as(s"nulls_$c"))
    val out = df.observe(obs, count(lit(1)).as("rows_out"), nullCounts: _*)
    (out, obs)
  }

  def appendRun(spark: SparkSession, auditDir: String, row: RunRow): Unit = {
    import spark.implicits._
    Seq(row).toDF().write.mode(SaveMode.Append).parquet(s"$auditDir/etl_runs")
  }

  def appendResources(spark: SparkSession, auditDir: String, rows: Seq[ResourceRow]): Unit = {
    import spark.implicits._
    rows.toDF().write.mode(SaveMode.Append).parquet(s"$auditDir/etl_run_resources")
  }

  def readRuns(spark: SparkSession, auditDir: String): DataFrame =
    spark.read.parquet(s"$auditDir/etl_runs")

  def readResources(spark: SparkSession, auditDir: String): DataFrame =
    spark.read.parquet(s"$auditDir/etl_run_resources")
}
