package perfbench

import java.nio.file.{Files => JFiles, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Runner
import graft.config._
import graft.operators.{Audit, Transform}
import graft.sources.Ingest

/** The ETL spine: an initial load of four resources, then three
  * incremental rounds that each rewrite one loaded resource (newer `ts`,
  * changed values) and land one new one. A round is
  * `Ingest.extractUpdated` → `Runner.run` → `Ingest.saveState`.
  */
final class EtlIncremental(spark: SparkSession, seed: Long, work: Path) extends Workload {
  val name = "etl_incremental"

  private val staged = work.resolve("staged")
  private val landing = work.resolve("landing")
  private val target = work.resolve("target").toString
  private val audit = work.resolve("audit").toString
  private val statePath = work.resolve("state.properties").toString
  private val nRows = 25000L
  private val nResources = 7
  private val initial = 4
  private val rounds = 3

  /** Round 0 lands res_0..res_3 at version 0; round k rewrites
    * res_(k-1) at version k and lands res_(3+k) at version 0.
    */
  private def landed(round: Int): Seq[(Int, Int)] =
    if (round == 0) (0 until initial).map(_ -> 0)
    else Seq((round - 1) -> round, (initial - 1 + round) -> 0)
  private val finalVersion: Map[Int, Int] =
    (0 to rounds).flatMap(landed).toMap

  /** The config `t_pipeline_e2e` uses, keyed on event_id so a rewritten
    * row replaces its earlier version by `ts`.
    */
  val cfg: DatasetConfig = DatasetConfig(
    dataset = "events_canonical",
    padMissing = true,
    normalize = NormalizeCfg(naValues = Seq("", "NA", "null")),
    types = TypesCfg(datetime = Seq("ts"), numeric = Seq("value"),
      category = Seq("event_type"), stringCodes = Seq("props")),
    order = Seq("event_id", "ts", "user_id", "event_type", "value", "props", "channel"),
    critical = CriticalCfg(all = Seq("ts"), anyOf = Seq(Seq("event_type", "props"))),
    categories = Map("event_type" -> CategoryRule(
      map = Map("click" -> "Click", "view" -> "View", "purchase" -> "Purchase"),
      allowed = Seq("Click", "View", "Purchase"),
      coerceTo = Some("Other"))),
    numericRules = Map("value" -> NumericRule(min = Some(0.0), max = Some(150.0))),
    ids = IdStrategy(compositeKey = Seq("event_id"),
      surrogate = SurrogateCfg(enabled = true, method = "sha256")),
    integrity = IntegrityCfg(enforceUniqueBusinessKey = true,
      onDuplicate = "keep_latest", latestBy = Some("ts"), tieBreakers = Seq("event_id")),
    deriveYear = Some(("ts", "ano")))

  private var expectedTarget: (Long, Long, Long) = _
  private var targetCols: Seq[String] = Nil
  /** (resource, version) → (rows, distinct event ids). */
  private var counts: Map[(Int, Int), (Long, Long)] = Map.empty
  /** Every file the current iteration landed → its modification time. */
  private val landedFiles = scala.collection.mutable.Map.empty[String, Long]

  private def versionDir(r: Int, v: Int): Path = staged.resolve(s"dir=res_$r").resolve(s"v=$v")

  /** Every resource version in one job, one file per version directory:
    * version v of resource r is r's events with `ts` v hours later and
    * `value` 3·v higher, plus a stale duplicate of every 13th event (a day
    * older, poisoned values) that keep-latest must drop. Rows name their
    * resource.
    */
  def generate(): Unit = {
    spark.catalog.clearCache() // plans over these paths may be cached from an earlier pass
    Files.deleteRec(work)
    import spark.implicits._
    val versions = ((0 until nResources).map(_ -> 0) ++ (1 to rounds).map(k => (k - 1) -> k))
      .toDF("res", "v")
    val rows = Inputs.events(spark, seed, nRows)
      .withColumn("res", pmod(xxhash64(col("event_id"), lit(seed), lit(99)), lit(nResources)))
      .join(broadcast(versions), "res")
      .withColumn("ts", col("ts") + make_dt_interval(lit(0), col("v")))
      .withColumn("value", col("value") + col("v") * 3.0)
    rows.unionByName(rows.filter(col("event_id") % 13 === 0)
        .withColumn("ts", col("ts") - expr("INTERVAL 1 DAY"))
        .withColumn("value", lit(149.5))
        .withColumn("event_type", lit("view")))
      .withColumn("resource", concat(lit("res_"), col("res")))
      .withColumn("dir", col("resource"))
      .drop("res")
      .repartition(col("dir"), col("v"))
      .write.partitionBy("dir", "v").parquet(staged.toString)
  }

  def reference(): Unit = {
    counts = spark.read.parquet(staged.toString)
      .groupBy(col("resource"), col("v"))
      .agg(count(lit(1)), countDistinct(col("event_id"))).collect()
      .map(c => (c.getString(0).stripPrefix("res_").toInt, c.getInt(1)) -> ((c.getLong(2), c.getLong(3))))
      .toMap
    // The reference result: one keep-latest pass over every resource's final version.
    val finals = finalVersion.toSeq.sorted.map { case (r, v) =>
      spark.read.parquet(versionDir(r, v).toString)
    }.reduce(_.unionByName(_))
    val expected = Transform.pipeline(finals, cfg)
    targetCols = expected.columns.toSeq.sorted
    expectedTarget = Files.fingerprint(expected, targetCols)
  }

  def reset(): Unit = {
    Seq(landing, Path.of(target), Path.of(audit), Path.of(statePath)).foreach(Files.deleteRec)
    Files.deleteRec(Path.of(target + ".old")); Files.deleteRec(Path.of(target + ".staging"))
    JFiles.createDirectories(landing)
    landedFiles.clear()
  }

  def run(it: Iteration): Unit = {
    val src = Ingest.SourceCfg("parquet", landing.toString, "res_*/part-*")
    var state = Map.empty[String, Long]
    (0 to rounds).foreach { round =>
      val arrived = it.untimed {
        landed(round).map { case (r, v) =>
          val dest = landing.resolve(s"res_$r")
          val bytes = Files.landParts(versionDir(r, v), dest)
          Files.parts(dest).foreach(f => landedFiles(new org.apache.hadoop.fs.Path(f.toUri).toString) =
            JFiles.getLastModifiedTime(f).toMillis)
          s"res_$r" -> bytes
        }.toMap
      }
      it.step(if (round == 0) "initial" else "round") {
        val (resources, advanced) = Trace.span("ingest") {
          val (raw, adv) = Ingest.extractUpdated(spark, src, statePath)
            .getOrElse(throw new IllegalStateException(s"round $round: no fresh files"))
          val freshFiles = adv.filter { case (p, m) => !state.get(p).contains(m) }.keys
          val fresh = freshFiles.map(p => new org.apache.hadoop.fs.Path(p).getParent.getName).toSet
          if (fresh != arrived.keySet)
            throw new IllegalStateException(
              s"round $round: watermark surfaced $fresh, landed ${arrived.keySet}")
          it.note("ingest.files_fresh", freshFiles.size)
          (fresh.toSeq.sorted.map(r => r -> raw.filter(col("resource") === r)).toMap, adv)
        }
        Trace.span("runner") {
          Runner.run(spark, resources, cfg, target, audit, s"r$round")
        }
        Trace.span("state") { Ingest.saveState(spark, statePath, advanced) }
        state = advanced
      }
      it.note("input_bytes", arrived.values.sum.toDouble)
      it.items += landed(round).map(counts(_)._1).sum
    }
  }

  def check(it: Iteration): Unit = {
    val got = spark.read.parquet(target)
    val missing = targetCols.filterNot(got.columns.contains)
    if (missing.nonEmpty) throw new IllegalStateException(s"target lacks $missing")
    val fp = Files.fingerprint(got, targetCols)
    if (fp != expectedTarget)
      throw new IllegalStateException(s"target $fp != keep-latest reference $expectedTarget")
    // Audit: one ok run per round, one row per landed resource with its counts.
    val runs = Audit.readRuns(spark, audit).collect()
      .map(r => (r.getAs[String]("run_id"), (r.getAs[String]("status"), r.getAs[Long]("rows_in_total"))))
      .toMap
    val wantRuns = (0 to rounds).map(k =>
      s"r$k" -> (("ok", landed(k).map(counts(_)._1).sum))).toMap
    if (runs != wantRuns) throw new IllegalStateException(s"etl_runs $runs != $wantRuns")
    val res = Audit.readResources(spark, audit).collect().map(r =>
      (r.getAs[String]("run_id"), r.getAs[String]("resource")) ->
        ((r.getAs[Long]("rows_in"), r.getAs[Long]("rows_out"), r.getAs[Long]("dedup_rows_dropped"))))
      .toMap
    val wantRes = (0 to rounds).flatMap(k => landed(k).map { case (r, v) =>
      val (n, d) = counts((r, v))
      (s"r$k", s"res_$r") -> ((n, d, n - d))
    }).toMap
    if (res != wantRes) throw new IllegalStateException(s"etl_run_resources $res != $wantRes")
    // State: exactly the files landed so far (replaced ones included), at
    // their modification times.
    val st = Ingest.loadState(spark, statePath)
    if (st != landedFiles.toMap)
      throw new IllegalStateException(s"state ${st.keySet} != landed ${landedFiles.keySet}")
    it.stateBytes = Files.du(Path.of(target))
    it.recall = 1.0
  }
}
