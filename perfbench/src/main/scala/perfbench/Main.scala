package perfbench

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import graft.GraftSession

/** graft's end-to-end benchmark, one workload per JVM:
  *
  * {{{
  * perfbench.Main --workload <etl_incremental|dedup_corpus|stream_gate>
  *   --seed <n> --seconds <s> --trace <0|1> [--work <dir>]
  * }}}
  *
  * Set-up (session start, input generation, the output references) is
  * timed as `setup_s`; then iterations run in a closed loop for
  * `--seconds`, each checked after it ends. There is no warm-up iteration:
  * the first measured iteration runs in a cold JVM, as a graft job
  * launched by spark-submit does. The last stdout line is one JSON object:
  * end-to-end metrics untraced (`--trace 0`), per-layer metrics traced
  * (`--trace 1`).
  */
object Main {
  /** Every traced layer; each workload exercises some of them and reports 0 for the rest. */
  val Layers = Seq("ingest", "transform", "load", "audit", "state",
    "dedup.signature", "dedup.candidates", "dedup.verify", "dedup.components", "dedup.resolve",
    "stream.lsh", "stream.lsh_publish", "stream.upsert")
  val LayerMetrics = Seq("self_s" -> "s", "jobs" -> "count", "exec_cpu_s" -> "s",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "fs_read_ops" -> "count",
    "fs_write_ops" -> "count", "written_mb" -> "MB")
  val Extras = Seq("runner.driver_s" -> "s", "ingest.files_fresh" -> "count",
    "load.write_amp" -> "ratio", "dedup.candidates.pairs" -> "count",
    "dedup.verify.kept_ratio" -> "ratio", "dedup.components.edges" -> "count",
    "stream.upsert.write_amp" -> "ratio", "stream.lsh.folds" -> "count",
    "stream.lsh.tier_merges" -> "count", "stream.lsh.fold_span" -> "batches")

  /** Every per-layer metric a traced run prints, with its unit. */
  val perLayer: Seq[(String, String)] =
    Layers.flatMap(l => LayerMetrics.map { case (m, u) => s"$l.$m" -> u }) ++ Extras

  /** Step kind behind `step_p50_s` per workload; dedup's step is the whole pass. */
  val StepKind = Map("etl_incremental" -> "round", "stream_gate" -> "batch")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", usage("--workload is required"))
    val seed = opts.get("seed").map(_.toLong).getOrElse(usage("--seed is required"))
    val seconds = opts.get("seconds").map(_.toDouble).getOrElse(usage("--seconds is required"))
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Path.of(opts.getOrElse("work", ".perfbench/work")).toAbsolutePath
    if (!Set("etl_incremental", "dedup_corpus", "stream_gate")(workload))
      usage(s"unknown workload $workload")

    if (traced) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    HeapWatch.install()
    val t0 = System.nanoTime()
    val parts = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def setupPart[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      try body finally parts += name -> (System.nanoTime() - t) / 1e9
    }
    val spark = setupPart("session")(GraftSession.harness(Runtime.getRuntime.availableProcessors))
    val exitCode = try {
      if (traced) {
        val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
          spark.sparkContext.hadoopConfiguration)
        require(fs.isInstanceOf[CountingFileSystem], s"traced run got ${fs.getClass}")
        Trace.install(spark.sparkContext)
        // Runner.run is one call; its jobs and file-system calls split by call stack.
        Trace.classify("runner", Seq("graft.operators.Audit$" -> "audit",
          "graft.streaming.StreamOps$" -> "load"), "transform")
      }
      val dir = work.resolve(workload)
      val cache = work.resolve("cache")
      val w: Workload = workload match {
        case "etl_incremental" => new EtlIncremental(spark, seed, dir)
        case "dedup_corpus" => new DedupCorpus(spark, seed, dir, cache)
        case "stream_gate" => new StreamGate(spark, seed, dir, cache)
      }
      setupPart("generate")(w.generate())
      setupPart("reference")(w.reference())
      val setupS = (System.nanoTime() - t0) / 1e9
      val tracedW = if (traced) new TracedWorkload(w, spark, dir) else w
      Trace.enabled = traced
      val out = Harness.measure(tracedW, seconds, () => GraftSession.reclaimScratch(spark))
      Trace.enabled = false
      val result = Report(workload, traced, setupS, parts.toSeq, out)
      result.lines.foreach(println)
      println(result.json)
      if (result.correct) 0 else 1
    } finally spark.stop()
    sys.exit(exitCode)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: --workload <name> --seed <n> --seconds <s> --trace <0|1>")
    sys.exit(2)
  }
}

/** Traces every measured iteration of `w`; the per-layer metrics of each
  * land in `it.layers`, and the first iteration's span tree is written
  * under the work directory.
  */
final class TracedWorkload(w: Workload, spark: org.apache.spark.sql.SparkSession, dir: Path)
    extends Workload {
  def name: String = w.name
  def generate(): Unit = w.generate()
  def reference(): Unit = w.reference()
  def reset(): Unit = { w.reset(); Trace.reset() }
  def run(it: Iteration): Unit = { Trace.iteration = it.index; w.run(it) }
  def check(it: Iteration): Unit = {
    val rep = Trace.report()
    w.check(it)
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (l <- Main.Layers; (metric, _) <- Main.LayerMetrics)
      m(s"$l.$metric") = rep.get(l, metric)
    m("runner.driver_s") = rep.get("runner", "driver_s")
    m("ingest.files_fresh") = it.notes.getOrElse("ingest.files_fresh", 0.0)
    val inBytes = it.notes.getOrElse("input_bytes", 0.0)
    if (inBytes > 0) {
      m("load.write_amp") = rep.get("load", "written_mb") * 1e6 / inBytes
      m("stream.upsert.write_amp") = rep.get("stream.upsert", "written_mb") * 1e6 / inBytes
    }
    val cands = it.notes.getOrElse("dedup.candidates.pairs", 0.0)
    val kept = it.notes.getOrElse("dedup.verify.pairs", 0.0)
    m("dedup.candidates.pairs") = cands
    m("dedup.verify.kept_ratio") = if (cands > 0) kept / cands else 0.0
    m("dedup.components.edges") = kept
    val lshSpans = rep.spans.filter(_.span.name == "stream.lsh").map(_.span.id).toSet
    val Marker = """cdone_(\d+)_(\d+)""".r
    val runs = Trace.created.asScala.toSeq.collect {
      case (id, Marker(lo, hi)) if lshSpans(id) => hi.toLong - lo.toLong + 1
    }
    // An L0 fold spans at most compactEvery batches; a tier merge more.
    m("stream.lsh.folds") = runs.count(_ <= StreamGate.CompactEvery).toDouble
    m("stream.lsh.tier_merges") = runs.count(_ > StreamGate.CompactEvery).toDouble
    m("stream.lsh.fold_span") = runs.sum.toDouble
    Main.perLayer.foreach { case (k, _) => m.getOrElseUpdate(k, 0.0) }
    it.layers = m.toMap
    if (it.index == 1) TraceDump.write(dir.resolveSibling(s"trace-${w.name}.json"), rep, it)
  }
}
