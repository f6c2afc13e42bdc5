package graft

/** Benchmark main: times every SparkEntry query at steady state and
  * prints ONE machine-parseable JSON line (the driver keeps only a
  * short tail of the output — the final line stays compact: headline
  * queries only, ms precision; the full per-query map goes on its own
  * `BENCH_DETAIL` line above it for humans). A query that throws keeps
  * its time on both lines; the `BENCH_FAILED` line maps it to its
  * exception class and the final line counts it in `n_failed`.
  */
object Bench {

  /** Representative queries across the §2 sections (the slow tail +
    * one per family) — the compact set reported in the final JSON line.
    */
  private val headline = Vector(
    "q1_agg", "q2_min_cost_supplier", "q3_shipping", "q5_local_supplier",
    "q9_profit_proxy", "q18_large_orders", "q21_waiting_supplier",
    "q_window_rank", "q_asof_native", "q_range_join", "q_topk_agg",
    "q_session_window", "t_pipeline_e2e", "t_upsert", "st_windowed_agg",
    "d_dedup_exact", "d_dedup_minhash_lsh", "d_dedup_ngram_jaccard",
    "d_dedup_ppjoin", "d_dedup_resolve", "s_cosine_topk", "s_ann_ivf",
    "x_contamination", "x_gopher_filter",
    "d_dedup_spans", "d_dedup_substring", "x_seq_pack", "x_heavy_hitters", "t_cdc_apply",
    "t_fuzzy_match", "d_dedup_semantic", "d_dedup_fuzzy_apply", "x_tfidf",
    "x_curation_e2e", "x_dsir_select", "x_winnow_fingerprint",
    "d_minhash_portable", "q_ntile", "m_multimodal_meta", "m_audio_meta",
    "m_video_frames", "d_dedup_containment", "d_dedup_cdc",
    "q_triangle_count", "s_kmeans_lloyd", "m_image_phash", "x_leakage_split",
    "x_leakage_split_banded", "q_geo_density", "x_dedup_eval",
    "q_geo_nearest_grid", "q_basket_affinity", "st_lsh_gate",
    "x_xlsx_ingest_e2e", "x_ingest_state_e2e")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.harness(cpus)
    // Warmup pass (untimed) over EVERY query: primes JVM/janino codegen
    // per query shape, parquet footers, the FS cache and the cache-manager
    // entries for persisted sketch frames. The timed pass below therefore
    // measures steady-state throughput — the regime a long-lived cluster
    // session actually runs in — instead of ~0.3-5 s of one-time codegen
    // compilation per query.
    // Isolate queries: persisted sketch frames from ~100 queries x 2
    // passes otherwise accumulate in the one session and evict each other
    // (measured +90% total wall time from the churn). catalog.clearCache
    // misses localCheckpoint blocks (star contraction, Materialize,
    // MLlib training caches) — those are RDD-level and only die via GC +
    // ContextCleaner, so heavy dedup queries were polluting whichever
    // query ran next (x_gopher_filter: 2.0 s in-bench vs 0.7 s isolated).
    // Unpersist them explicitly between queries.
    // SPARK_GRAFT_RESET_GC=1 additionally forces a JVM GC between
    // queries: shuffle files and broadcasts are reclaimed by
    // ContextCleaner only when their driver-side references are GC'd,
    // and on a big heap a 241-query board can run many heavy queries
    // before any natural full GC — the accumulated shuffle dirs +
    // block-manager metadata were the prime suspect for in-board times
    // running 2-10× the same-day isolated floors (r13 verdict). The
    // brief sleep lets the (async) cleaner drain before the next query
    // starts. Off by default: the A/B knob for the board-pressure
    // investigation.
    val resetGc = sys.env.get("SPARK_GRAFT_RESET_GC").contains("1")
    def reset(): Unit =
      if (resetGc) GraftSession.reclaimScratch(spark)
      else {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    // SPARK_GRAFT_WARMUP=0 skips the warmup pass — for large-SF scale
    // runs where per-query runtime dwarfs one-time codegen cost and a
    // second full pass would double an already-long wall clock.
    // SPARK_GRAFT_ONLY=a,b,c restricts the board to the named queries —
    // the scale-probe knob (e.g. the df-growth family at sf10) and the
    // sf1 regression gate's fast path (tools/sf_gate.py).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0")
      selected.foreach { case (_, fn) =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        reset()
      }
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = selected.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable => failed(name) = e.getClass.getName }
      val dt = (System.nanoTime() - t0) / 1e9
      reset()
      name -> dt
    }
    // Locale-pinned formatting: f"" uses the JVM default locale, and a
    // comma-decimal locale would emit unparseable JSON numbers.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def jmap(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    println("BENCH_DETAIL " + jmap(results))
    println("BENCH_FAILED " + failed.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}"))
    val head = headline.flatMap(k => results.get(k).map(k -> _))
    // Ambient controls: untouched TPC-H shapes whose times move only
    // with the host, never with graft changes — embedded in every board
    // so tools/sf_gate.py (and a human) can normalize cross-round
    // comparisons by the measured host-day drift instead of
    // hand-adjudicating it (r10 did, twice).
    val controls = Vector("q1_agg", "q3_shipping", "q_window_rank")
      .flatMap(k => results.get(k).map(k -> _))
    // Final line LAST and < ~1 KB: the driver's captured tail is 2000
    // chars, so a full 100+-query map gets its front truncated and fails
    // to parse (rounds 1-2 shipped "parsed": null because of this).
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"controls":${jmap(controls)},"queries":${jmap(head)},"sf":"$sfDir"}"""
    println(line)
    // Also persisted to a file so the result never depends on how much
    // of stdout the harness keeps.
    try {
      val w = new java.io.PrintWriter("bench.json", "UTF-8")
      try w.println(line) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
