package perfbench

import java.nio.file.{Files => JFiles, Path}

/** Turns a run's samples into the metrics it prints. */
final case class Report(workload: String, traced: Boolean, setupS: Double,
    setupParts: Seq[(String, Double)], o: Outcome) {

  def correct: Boolean = o.failed == 0 && o.samples.nonEmpty

  private def med(f: Sample => Double): Double =
    if (o.samples.isEmpty) 0.0 else Stats.median(o.samples.map(f))
  private def steps(kind: String): Seq[Double] = o.samples.flatMap(_.it.steps.getOrElse(kind, Nil))

  /** Each sample's steps behind `step_p50_s` (dedup: the pass itself). */
  private def stepsOf(s: Sample): Seq[Double] =
    Main.StepKind.get(workload).map(k => s.it.steps.getOrElse(k, Nil).toSeq).getOrElse(Seq(s.wallS))
  private val stepSamples: Seq[Double] = o.samples.flatMap(stepsOf)

  /** End-to-end metrics: (name, value, unit). */
  def endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", med(_.wallS), "s"),
      ("cpu_s", med(_.cpuS), "s"),
      ("heap_peak_mb", med(_.heapPeakMb), "MB"),
      ("heap_live_mb", med(_.heapLiveMb), "MB"),
      ("step_p50_s", if (stepSamples.isEmpty) 0.0 else Stats.median(stepSamples), "s"),
      ("items_per_s", med(s => s.it.items / s.wallS), "1/s"),
      ("recall", med(_.it.recall), "ratio"),
      ("state_mb", med(_.it.stateBytes / 1e6), "MB"))

  /** Per-layer metrics: the median over traced iterations. */
  def perLayer: Seq[(String, Double, String)] = Main.perLayer.map { case (k, u) =>
    (k, med(_.it.layers.getOrElse(k, 0.0)), u)
  }

  def metrics: Seq[(String, Double, String)] = if (traced) perLayer else endToEnd

  /** Human-readable detail printed before the result line, including the
    * workload-specific names (round_*, batch_*, docs_per_s, failed_frac).
    */
  def lines: Seq[String] = {
    def timing(name: String, xs: Seq[Double]): Seq[String] =
      if (xs.isEmpty) Nil
      else {
        val (t, p) = Stats.tail(xs)
        Seq(f"[perfbench] $name%s_p50_s ${Stats.median(xs)}%.4f s  ${name}_p90_s $t%.4f s " +
          s"(tail is p$p, n=${xs.size})")
      }
    val specific = workload match {
      case "etl_incremental" => timing("round", steps("round")) ++ timing("initial", steps("initial"))
      case "dedup_corpus" => Seq(f"[perfbench] docs_per_s ${med(s => s.it.items / s.wallS)}%.1f docs/s")
      case _ => timing("batch", steps("batch")) ++ timing("upsert_batch", steps("upsert_batch")) ++
        Seq("[perfbench] batch trigger times (s): " +
          o.samples.headOption.map(_.it.steps.getOrElse("batch", Nil).map(x => f"$x%.2f").mkString(" ")).getOrElse(""))
    }
    val slowest = f"[perfbench] slowest step of an iteration (median over iterations) " +
      f"${med(s => stepsOf(s).maxOption.getOrElse(0.0))}%.4f s"
    Seq(s"[perfbench] workload=$workload traced=$traced samples=${o.samples.size} " +
        s"attempted=${o.attempted} failed=${o.failed} failed_frac=${o.failedFrac}",
      "[perfbench] setup: " + setupParts.map { case (k, v) => f"$k $v%.2f s" }.mkString(", ") +
        f", total $setupS%.2f s",
      f"[perfbench] wall_s median ${med(_.wallS)}%.4f s over ${o.samples.size} iterations" +
        (if (traced) " (traced: compare with an untraced run for the tracing overhead)" else "")) ++
      specific ++ Seq(slowest) ++
      metrics.map { case (n, v, u) => s"[perfbench] metric $n $v $u" } ++
      o.errors.map(e => s"[perfbench] error: $e")
  }

  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$n": {"value": $x, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$ms}}"""
  }
}

/** Writes one traced iteration's span tree, per-layer totals and
  * micro-batch breakdown as JSON.
  */
object TraceDump {
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def write(path: Path, rep: TraceReport, it: Iteration): Unit = {
    val t0 = rep.spans.map(_.span.startNs).minOption.getOrElse(0L)
    val spans = rep.spans.map { r =>
      val s = r.span
      s"""{"id": ${s.id}, "name": ${q(s.name)}, "parent": ${s.parent}, "iteration": ${s.iteration}, """ +
        s""""start_s": ${(s.startNs - t0) / 1e9}, "end_s": ${(s.endNs - t0) / 1e9}, "self_s": ${r.selfS}}"""
    }
    val layers = rep.layers.toSeq.sortBy(_._1).map { case (l, m) =>
      s"${q(l)}: {" + m.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "}"
    }
    val batches = it.batches.map { case (kind, id, d) =>
      s"""{"kind": ${q(kind)}, "batch": $id, "durations_ms": {""" +
        d.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: $v" }.mkString(", ") + "}}"
    }
    val jobs = rep.jobs.map { j =>
      s"""{"job": ${j.id}, "layer": ${q(j.layer)}, "start_s": ${(j.startNs - t0) / 1e9}, """ +
        s""""end_s": ${(j.endNs - t0) / 1e9}, "site": ${q(j.site)}}"""
    }
    val metrics = it.layers.toSeq.sortBy(_._1).map { case (k, v) => s"${q(k)}: $v" }
    val body = s"""{"spans": [\n  ${spans.mkString(",\n  ")}\n],\n"jobs": [\n  ${jobs.mkString(",\n  ")}\n],\n""" +
      s""""layers": {\n  ${layers.mkString(",\n  ")}\n},\n""" +
      s""""batches": [\n  ${batches.mkString(",\n  ")}\n],\n"metrics": {${metrics.mkString(", ")}}}\n"""
    JFiles.createDirectories(path.getParent)
    JFiles.write(path, body.getBytes("UTF-8"))
    System.err.println(s"[perfbench] span tree written to $path")
  }
}
