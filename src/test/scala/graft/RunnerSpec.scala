package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.operators.{Audit, TransformHardFail}

class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val cfg = DatasetConfig(
    dataset = "people",
    padMissing = true,
    types = TypesCfg(numeric = Seq("edad")),
    order = Seq("codigo", "edad"),
    critical = CriticalCfg(all = Seq("codigo")),
    ids = IdStrategy(compositeKey = Seq("codigo"),
      surrogate = SurrogateCfg(enabled = true, method = "sha256")),
    integrity = IntegrityCfg(enforceUniqueBusinessKey = true))

  test("runner: multi-resource transform → upsert target → audit trail") {
    val base = Files.createTempDirectory("graft-run").toString
    val target = base + "/table"
    val audit = base + "/audit"

    val r1 = Seq(("A1", "30"), ("A2", "40")).toDF("Código", "Edad")
    val r2 = Seq(("A2", "41"), ("A3", "50")).toDF("Código", "Edad") // A2 updated
    val res = Runner.run(spark, Map("res1" -> r1, "res2" -> r2), cfg,
      target, audit, runId = "run_1")
    assert(res.status == "ok" && res.rowsInTotal == 4)

    val table = spark.read.parquet(target)
    assert(table.count() == 3) // A1, A2 (updated), A3
    assert(table.filter(col("codigo") === "A2").select("edad").as[Double].head() == 41.0)

    val runs = Audit.readRuns(spark, audit)
    assert(runs.count() == 1 && runs.select("status").as[String].head() == "ok")
    assert(Audit.readResources(spark, audit).count() == 2)
    // No recommended columns configured → no advisories in the audit rows.
    assert(res.resources.forall(_.recommended_warnings.isEmpty))

    // Second run is idempotent: same inputs → same target state.
    Runner.run(spark, Map("res1" -> r1, "res2" -> r2), cfg, target, audit, "run_2")
    assert(spark.read.parquet(target).count() == 3)
    assert(Audit.readRuns(spark, audit).count() == 2)
  }

  test("within-batch duplicate keys keep the LATEST row by latestBy") {
    val base = Files.createTempDirectory("graft-latest").toString
    val cfgLatest = cfg.copy(
      types = TypesCfg(numeric = Seq("edad"), datetime = Seq("fecha")),
      order = Seq("codigo", "edad", "fecha"),
      integrity = IntegrityCfg(enforceUniqueBusinessKey = false,
        latestBy = Some("fecha")))
    // Same key A1 twice in ONE resource: 30 (old) then 99 (new).
    val r = Seq(("A1", "30", "2024-01-01 00:00:00"), ("A1", "99", "2024-06-01 00:00:00"))
      .toDF("Código", "Edad", "Fecha")
    val res = Runner.run(spark, Map("res" -> r), cfgLatest, base + "/t", base + "/a", "run_l")
    val out = spark.read.parquet(base + "/t")
    assert(out.count() == 1)
    assert(out.select("edad").as[Double].head() == 99.0, "stale row won the upsert")
    // Observed in-flight metrics (no separate metric scans): both rows
    // reached the dedup window, and the duplicated key was counted there.
    val m = res.resources.head
    assert(m.rows_in == 2 && m.rows_out == 2 && m.duplicates_key == 1L)
  }

  test("runner: recommended-column advisories reach the audit row") {
    val base = Files.createTempDirectory("graft-rec").toString
    // The geo pair is never supplied (padMissing pads it all-null — the
    // warning must still fire, like the reference's notna().any() check);
    // edad is populated so its singleton group stays silent.
    val cfgRec = cfg.copy(recommended = Seq(Seq("latitud", "longitud"), Seq("edad")))
    val r = Seq(("A1", "30"), ("A2", "40")).toDF("Código", "Edad")
    val res = Runner.run(spark, Map("res" -> r), cfgRec, base + "/t", base + "/a", "run_r")
    assert(res.resources.head.recommended_warnings == "any_of_missing:latitud|longitud")
    // And it is queryable from the persisted audit table.
    val audited = Audit.readResources(spark, base + "/a")
      .select("recommended_warnings").as[String].head()
    assert(audited == "any_of_missing:latitud|longitud")
  }

  test("runner: hard failure still writes the failed-run audit row") {
    val base = Files.createTempDirectory("graft-runfail").toString
    val bad = Seq(("x": String, "y": String)).toDF("otra", "cosa") // no 'codigo'
    intercept[TransformHardFail] {
      Runner.run(spark, Map("res" -> bad), cfg, base + "/t", base + "/a", "run_f")
    }
    val runs = Audit.readRuns(spark, base + "/a")
    assert(runs.select("status").as[String].head() == "failed")
  }

  // ---- one plan, one merge, one commit per run ----

  private val cfgTs = cfg.copy(
    types = TypesCfg(numeric = Seq("edad"), datetime = Seq("fecha")),
    order = Seq("codigo", "edad", "fecha"),
    integrity = IntegrityCfg(enforceUniqueBusinessKey = false, latestBy = Some("fecha")))

  private def people(rows: (String, String)*): DataFrame = rows.toDF("Código", "Edad")

  private def tableRows(dir: String): Seq[Row] =
    spark.read.parquet(dir).orderBy("codigo").collect().toSeq

  private def resourceRows(auditDir: String, runId: String): Seq[Row] =
    Audit.readResources(spark, auditDir).filter(col("run_id") === runId)
      .orderBy("resource").collect().toSeq

  /** Every file under `dir` (relative path) → the SHA-256 of its bytes. */
  private def snapshot(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    def sha(p: java.nio.file.Path) = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> sha(p)).toMap
    finally walk.close()
  }

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  /** Runs `body` and returns the Spark jobs it started on this thread and
    * the output paths of its parquet writes.
    */
  private def traced(body: => Unit): (Int, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"runner-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val writes = new ConcurrentLinkedQueue[String]
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case g if g == group => jobs.incrementAndGet()
          case g if g == group + "-drain" => drained.countDown()
          case _ =>
        }
    }
    val writeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString }
          .foreach(writes.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(writeListener)
    try {
      sc.setJobGroup(group, "runner under test")
      body
      // Both listeners sit on the same ordered queue: once the drain job's
      // start is delivered, every event `body` posted has been too.
      sc.setJobGroup(group + "-drain", "drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(writeListener)
    }
    (jobs.get, writes.asScala.toSeq)
  }

  test("a failed run is all-or-nothing, and the fixed re-run converges") {
    val seed = people(("A1", "30"), ("A2", "40"))
    val res1 = people(("A1", "31"), ("A3", "50"))
    val bad = Seq((Option.empty[String], "7")).toDF("Código", "Edad") // codigo all-null
    val good = people(("A4", "7"))

    val clean = Files.createTempDirectory("graft-run-clean").toString
    Runner.run(spark, Map("res1" -> seed), cfg, clean + "/t", clean + "/a", "run_0")
    Runner.run(spark, Map("res1" -> res1, "res2" -> good), cfg, clean + "/t", clean + "/a", "run_1")

    val base = Files.createTempDirectory("graft-run-atomic").toString
    val target = base + "/t"
    Runner.run(spark, Map("res1" -> seed), cfg, target, base + "/a", "run_0")
    val before = snapshot(target)
    val e = intercept[TransformHardFail] {
      Runner.run(spark, Map("res1" -> res1, "res2" -> bad), cfg, target, base + "/a", "run_1")
    }
    assert(e.getMessage.contains("critical failure"))
    // res1 passed its check, yet nothing of the run reached the target.
    assert(snapshot(target) == before)
    assert(!exists(target + ".staging") && !exists(target + ".old"))
    val failed = Audit.readRuns(spark, base + "/a").filter(col("run_id") === "run_1").collect()
    assert(failed.length == 1 && failed.head.getAs[String]("status") == "failed" &&
      failed.head.getAs[Int]("resources") == 0)
    assert(resourceRows(base + "/a", "run_1").isEmpty)

    Runner.run(spark, Map("res1" -> res1, "res2" -> good), cfg, target, base + "/a", "run_1")
    assert(tableRows(target) == tableRows(clean + "/t"))
    assert(resourceRows(base + "/a", "run_1") == resourceRows(clean + "/a", "run_1"))
  }

  test("an exact latestBy tie across resources goes to the later one, as in sequential runs") {
    val t = "2024-05-01 00:00:00"
    val a = Seq(("K1", "1", t), ("K1", "9", "2024-01-01 00:00:00"), ("K2", "5", t))
      .toDF("Código", "Edad", "Fecha")
    val b = Seq(("K1", "2", t), ("K3", "6", t)).toDF("Código", "Edad", "Fecha")

    val one = Files.createTempDirectory("graft-tie-one").toString
    val res = Runner.run(spark, Map("a" -> a, "b" -> b), cfgTs, one + "/t", one + "/a", "run_ab")
    val seq = Files.createTempDirectory("graft-tie-seq").toString
    val resA = Runner.run(spark, Map("a" -> a), cfgTs, seq + "/t", seq + "/a", "run_a")
    val resB = Runner.run(spark, Map("b" -> b), cfgTs, seq + "/t", seq + "/a", "run_b")

    assert(tableRows(one + "/t") == tableRows(seq + "/t"))
    val k1 = spark.read.parquet(one + "/t").filter(col("codigo") === "K1")
    assert(k1.select("edad").as[Double].collect().toSeq == Seq(2.0), "the later resource must win the tie")
    def counts(rs: Seq[Audit.ResourceRow]) =
      rs.map(r => (r.resource, r.rows_in, r.rows_out, r.duplicates_key, r.dedup_rows_dropped))
    assert(counts(res.resources) == Seq(("a", 3L, 3L, 1L, 0L), ("b", 2L, 2L, 0L, 0L)))
    assert(counts(res.resources) == counts(resA.resources ++ resB.resources))
  }

  test("a run starts one merge: jobs do not grow per resource and the target swaps once") {
    val resources = (1 to 4).map(i => s"res$i" -> people((s"A$i", s"${30 + i}"), ("A0", s"$i"))).toMap
    def measure(rs: Map[String, DataFrame]): (Int, Seq[String]) = {
      val base = Files.createTempDirectory("graft-run-jobs").toString
      Runner.run(spark, Map("res0" -> people(("A0", "1"), ("A9", "9"))), cfg,
        base + "/t", base + "/a", "run_0")
      val (jobs, writes) = traced(Runner.run(spark, rs, cfg, base + "/t", base + "/a", "run_1"))
      (jobs, writes.filter(_.endsWith("/t.staging")))
    }
    val (jobs1, staged1) = measure(resources.filter(_._1 == "res1"))
    val (jobs4, staged4) = measure(resources)
    info(s"jobs: 1 resource $jobs1, 4 resources $jobs4")
    assert(staged1.size == 1 && staged4.size == 1, s"staging writes: $staged1 / $staged4")
    // Each extra resource adds only its own dedup exchanges to the one
    // load action; a per-resource check-and-merge loop adds a dozen jobs.
    assert(jobs4 <= jobs1 + 2 * 3, s"4 resources ran $jobs4 jobs, 1 resource $jobs1")
  }

  test("a crash between the swap's two renames heals on the next run") {
    val seed = people(("A1", "30"), ("A2", "40"))
    val next = people(("A2", "41"), ("A3", "50"))
    val clean = Files.createTempDirectory("graft-heal-clean").toString
    Runner.run(spark, Map("res" -> seed), cfg, clean + "/t", clean + "/a", "run_0")
    Runner.run(spark, Map("res" -> next), cfg, clean + "/t", clean + "/a", "run_1")

    val base = Files.createTempDirectory("graft-heal").toString
    val target = base + "/t"
    Runner.run(spark, Map("res" -> seed), cfg, target, base + "/a", "run_0")
    // The state a crash leaves after `target -> .old` and before `.staging -> target`.
    Files.move(Paths.get(target), Paths.get(target + ".old"))
    // Until that run heals it, a read of the target fails instead of reading the old copy.
    intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(target))
    Runner.run(spark, Map("res" -> next), cfg, target, base + "/a", "run_1")
    assert(!exists(target + ".old"))
    assert(tableRows(target) == tableRows(clean + "/t"))
    assert(resourceRows(base + "/a", "run_1") == resourceRows(clean + "/a", "run_1"))
  }
}
