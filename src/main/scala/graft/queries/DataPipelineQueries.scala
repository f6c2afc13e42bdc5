package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DedupResolve, MinHashLsh, TextDedup, TextStats, WebText}
import graft.sources.Tables

/** Training-data curation operators beyond the sketch family (SURVEY.md
  * §2.3 extensions): repetition signals, benchmark-contamination checks,
  * stratified/quota sampling, n-gram frequency, and Spark's native
  * session-window aggregation. All are single-shuffle-or-less shapes that
  * hold at corpus scale, and all carry DuckDB oracles.
  *
  * Normalization parity: the DuckDB side re-derives tokens with
  * `Q.duckToks`, the SQL twin of SketchHash.tokenize (parity
  * established by the x_text_quality oracle).
  */
object DataPipelineQueries {

  private val Toks = Q.duckToks

  private lazy val wetScratch = Scratch.slot("wet-e2e")
  private lazy val xlsxScratch = Scratch.slot("xlsx-e2e")
  private lazy val ingestStateScratch = Scratch.slot("ingest-e2e")
  private lazy val runlogScratch = Scratch.slot("runlog-e2e")

  /** Record-level sink for the run-log e2e: each batch lands as ONE
    * file named by the sha256 of its serialized payload, so a retried
    * batch overwrites itself — the idempotence [[graft.sources.Load
    * .BatchWriter]] requires. Batches carrying a marker row (line_id ≡
    * 0 mod `failEvery`) throw on their FIRST attempt per JVM, driving
    * the retry envelope deterministically without changing what lands.
    */
  private final case class LandedSink(dir: String, failEvery: Long)
      extends graft.sources.Load.BatchWriter {
    def write(rows: Seq[org.apache.spark.sql.Row]): Unit = {
      def js(r: org.apache.spark.sql.Row): String = {
        def f(name: String): String = r.getAs[Any](name) match {
          case null => "null"
          case v: String =>
            "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
          case v => v.toString
        }
        "{\"line_id\":" + f("line_id") + ",\"level\":" + f("level") +
          ",\"resource\":" + f("resource") + ",\"n_rows\":" + f("n_rows") +
          ",\"raw\":" + f("raw") + "}"
      }
      val payload = rows.map(js).mkString("", "\n", "\n")
      val key = java.security.MessageDigest.getInstance("SHA-256")
        .digest(payload.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val marker = rows.exists(r =>
        Option(r.getAs[java.lang.Long]("line_id")).exists(_ % failEvery == 0))
      if (marker && LandedSinkState.attempts.putIfAbsent(key, true) == null)
        throw new java.io.IOException(s"transient sink failure for batch $key")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, s"$key.json"), payload.getBytes("UTF-8"))
      ()
    }
  }

  private object LandedSinkState {
    val attempts =
      new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  }

  private val EnStop = TextStats.stopwords("en")

  /** Leakage-safe split from an arbitrary near-dup EDGE frame
    * (id_a, id_b): connected components are the split unit, the
    * component label's sha256 decides the side. Any edge SUPERSET of
    * the true near-dup pairs preserves split integrity — extra edges
    * only merge more components, so two near-duplicates can never land
    * on opposite sides (LeakageSplitSpec pins the refinement property
    * between the exact and candidate edge sources).
    */
  private def leakageSplitFrom(docs: org.apache.spark.sql.DataFrame,
      edges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    leakageSplitFromComps(docs, DedupResolve.connectedComponents(
        edges.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "doc_id"))

  /** Split tail shared by the edge-based and bucket-based variants:
    * component label (falling back to the doc itself for singletons) →
    * sha256 side decision.
    */
  private def leakageSplitFromComps(docs: org.apache.spark.sql.DataFrame,
      comps: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    docs.select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("grp"))
      .withColumn("bucket",
        conv(substring(sha2(col("grp").cast("string"), 256), 1, 8), 16, 10)
          .cast("long") % 100)
      .select(col("doc_id"), col("grp"),
        when(col("bucket") < 90, lit("train")).otherwise(lit("heldout"))
          .as("split"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // Gopher-style composite document filter: quality bands (tokens,
    // stopword ratio, punctuation ratio, mean token length) AND the
    // repetition rule (duplicate-2-gram fraction) decided in ONE narrow
    // projection over the corpus — at scale this is the single-pass
    // keep/drop decision stage, no joins between metric families.
    Q("x_gopher_filter",
      (s, dir) => {
        // Metric formulas come from TextStats' shared builders — the same
        // Columns qualityMetrics uses, so the families cannot drift.
        val t = col("text")
        val nChars = TextStats.nCharsCol(t)
        val nToks = graft.functions.tokenCount(t).cast("double")
        val punct = TextStats.punctCol(t)
        val hits = TextStats.enStopHitsCol(t)
        val nNorm = graft.functions.normTokenCount(t).cast("double")
        val d2 = size(TextDedup.wordShingles(t, 2)).cast("double")
        val dup2 = when(nNorm <= 1, lit(0.0))
          .otherwise(round(lit(1.0) - d2 / (nNorm - 1), 6))
        Tables.documents(s, dir)
          .select(col("doc_id"),
            nToks.as("n_tokens"),
            round(punct / nChars, 6).as("punct_ratio"),
            round(hits / nToks, 6).as("stopword_ratio"),
            round(TextStats.meanTokenLenCol(nChars, nToks), 6).as("mean_token_len"),
            dup2.as("dup_2gram_frac"))
          .filter(col("n_tokens").between(50, 2000) &&
            col("stopword_ratio") >= 0.01 && col("punct_ratio") < 0.2 &&
            col("mean_token_len").between(2, 12) && col("dup_2gram_frac") < 0.05)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(len(list_filter(
                   ${Q.duckToks},
                   x -> list_contains([${EnStop.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) AS hits,
                 $Toks AS toks
          FROM documents),
        m AS (SELECT doc_id, n_chars, n_tokens, punct, hits, len(toks) AS nn,
                     CASE WHEN len(toks) <= 2 THEN 1
                          ELSE len(list_distinct(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1]))) END AS d2
              FROM t)
        SELECT doc_id FROM m
        WHERE n_tokens BETWEEN 50 AND 2000
          AND round(hits / n_tokens, 6) >= 0.01
          AND round(punct / n_chars, 6) < 0.2
          AND round((n_chars - (n_tokens - 1)) / n_tokens, 6) BETWEEN 2 AND 12
          AND (CASE WHEN nn <= 1 THEN 0.0
                    ELSE round(1.0 - CAST(d2 AS DOUBLE) / (nn - 1), 6) END) < 0.05
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Repetition signals (the Gopher-style quality rules): fraction of
    // duplicate tokens and duplicate word-2-grams per document. One
    // narrow projection — the shingle sets come from the native
    // Shingles expression, so no shuffle at all.
    Q("x_repetition",
      (s, dir) => {
        // normTokenCount, NOT tokenCount: d1/d2 come from the Shingles
        // tokenizer, and mixing tokenizers lets the fractions leave [0,1]
        // on exotic whitespace.
        val nTok = graft.functions.normTokenCount(col("text")).cast("double")
        Tables.documents(s, dir)
          .select(col("doc_id"), nTok.as("n_tokens"),
            size(TextDedup.wordShingles(col("text"), 1)).cast("double").as("d1"),
            size(TextDedup.wordShingles(col("text"), 2)).cast("double").as("d2"))
          .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
            round(lit(1.0) - col("d1") / col("n_tokens"), 6).as("dup_token_frac"),
            when(col("n_tokens") <= 1, lit(0.0))
              .otherwise(round(lit(1.0) - col("d2") / (col("n_tokens") - 1), 6))
              .as("dup_2gram_frac"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
        m AS (SELECT doc_id, len(toks) AS n_tokens,
                     len(list_distinct(toks)) AS d1,
                     CASE WHEN len(toks) <= 2 THEN 1
                          ELSE len(list_distinct(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1]))) END AS d2
              FROM t)
        SELECT doc_id, n_tokens,
               round(1.0 - CAST(d1 AS DOUBLE) / n_tokens, 6) AS dup_token_frac,
               CASE WHEN n_tokens <= 1 THEN 0.0
                    ELSE round(1.0 - CAST(d2 AS DOUBLE) / (n_tokens - 1), 6)
               END AS dup_2gram_frac
        FROM m ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Document-length histogram (the corpus-shape overview every
    // curation run starts from): 100-char buckets, count + char mass.
    Q("x_length_histogram",
      (s, dir) => Tables.documents(s, dir)
        .groupBy((floor(col("n_chars") / 100) * 100).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
        .orderBy(col("bucket")),
      Some("""
        SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket,
               COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY bucket
      """)),

    // ------------------------------------------------------------------
    // Benchmark-contamination check (decontamination pass of a training
    // pipeline): corpus docs sharing any word-5-gram with the benchmark
    // set (here: doc_id < 10), with the shared-shingle count. The
    // benchmark's distinct shingle set is tiny → broadcast; the corpus
    // side stays a narrow explode, no self-join.
    Q("x_contamination",
      (s, dir) => {
        // Materialized (leak-free localCheckpoint, see Materialize): the
        // shingled frame feeds the benchmark distinct-set build AND the
        // corpus side — without it the whole scan+tokenize pass runs
        // twice; with a bare persist each invocation pinned a new cached
        // copy for the session's lifetime.
        val grams = graft.operators.Materialize(Tables.documents(s, dir)
          .select(col("doc_id"), explode(TextDedup.wordShingles(col("text"), 5)).as("shingle")))
        val bench = grams.filter(col("doc_id") < 10).select("shingle").distinct()
        grams.filter(col("doc_id") >= 10)
          .join(broadcast(bench), Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("shingle")).as("n_shared"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) <= 5 THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(range(1, len(toks) - 3),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                                 toks[i+3] || ' ' || toks[i+4])) END AS grams
              FROM t),
        ex AS (SELECT doc_id, unnest(grams) AS shingle FROM g),
        bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id < 10)
        SELECT ex.doc_id, COUNT(DISTINCT ex.shingle) AS n_shared
        FROM ex JOIN bench USING (shingle)
        WHERE ex.doc_id >= 10
        GROUP BY 1 ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // k-anonymity generalization over the (lang, source) quasi-identifier:
    // any combination observed in fewer than k=5 documents is generalized
    // to '*' before release — the standard privacy gate ahead of sharing
    // corpus metadata. One count window over the quasi-identifier (same
    // shuffle as a groupBy on it); the data rows never leave executors.
    Q("x_k_anonymity",
      (s, dir) => {
        val w = Window.partitionBy(col("lang"), col("source"))
        Tables.documents(s, dir)
          .withColumn("qi_n", count(lit(1)).over(w))
          .select(col("doc_id"),
            when(col("qi_n") >= 5, col("lang")).otherwise(lit("*")).as("lang_g"),
            when(col("qi_n") >= 5, col("source")).otherwise(lit("*")).as("source_g"),
            col("qi_n"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               CASE WHEN qi_n >= 5 THEN lang ELSE '*' END AS lang_g,
               CASE WHEN qi_n >= 5 THEN source ELSE '*' END AS source_g,
               qi_n
        FROM (SELECT doc_id, lang, source,
                     COUNT(*) OVER (PARTITION BY lang, source) AS qi_n
              FROM documents)
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Robust outlier screen: flag documents whose length sits more than
    // 3 MADs from their language's median (median absolute deviation —
    // the robust spread that a heavy tail can't drag the way it drags a
    // stddev). Exactness: medians of BIGINT lengths interpolate to .5
    // grain and MADs to .25 grain — all exactly representable — and the
    // 3-MAD test is integer-scaled (×4) on both engines, so no float
    // comparison ever decides a row. Plan: two tiny per-lang aggs
    // broadcast-joined back; no data-sized window.
    Q("x_mad_outliers",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val med = docs.groupBy("lang")
          .agg(expr("percentile(n_chars, 0.5)").as("med"))
        val withMed = docs.join(broadcast(med), Seq("lang"))
          .withColumn("dev4",
            abs(col("n_chars") * lit(4) - col("med") * lit(4)).cast("long"))
        val mad = withMed.groupBy("lang")
          .agg(expr("CAST(percentile(dev4, 0.5) AS BIGINT)").as("mad4"))
        withMed.join(broadcast(mad), Seq("lang"))
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (col("dev4") > lit(3) * col("mad4")).as("is_outlier"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH med AS (SELECT lang, median(n_chars) AS med FROM documents GROUP BY lang),
        dev AS (SELECT d.doc_id, d.lang, d.n_chars,
                       CAST(ABS(d.n_chars * 4 - m.med * 4) AS BIGINT) AS dev4
                FROM documents d JOIN med m USING (lang)),
        mad AS (SELECT lang, CAST(median(dev4) AS BIGINT) AS mad4
                FROM dev GROUP BY lang)
        SELECT dev.doc_id, dev.lang, dev.n_chars,
               dev.dev4 > 3 * mad.mad4 AS is_outlier
        FROM dev JOIN mad USING (lang)
        ORDER BY dev.doc_id
      """)),

    // ------------------------------------------------------------------
    // Stratified deterministic sampling: per-language rates off the same
    // content-hash bucket as x_hash_sample (en 10%, everything else 50%)
    // — the reproducible mixture-reweighting primitive. Pure filter.
    Q("x_stratified_sample",
      (s, dir) => Tables.documents(s, dir)
        .withColumn("bucket",
          (conv(substring(sha2(col("text"), 256), 1, 8), 16, 10).cast("long") % 100))
        .filter(col("bucket") < when(col("lang") === "en", 10).otherwise(50))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, lang,
               CAST(('0x' || substr(sha256(text), 1, 8))::UBIGINT % 100 AS BIGINT) AS bucket
        FROM documents
        WHERE ('0x' || substr(sha256(text), 1, 8))::UBIGINT % 100
              < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Per-source quota (cap any one domain/source's contribution): keep a
    // deterministic content-hash-ranked top-25 per source. One shuffle on
    // source; at scale this is the standard skew-bounded domain cap.
    Q("x_source_quota",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(sha2(col("text"), 256), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 25)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY sha256(text), doc_id) AS rk
          FROM documents)
        WHERE rk <= 25 ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Corpus n-gram document frequency, top-20 (the n-gram-LM / analysis
    // counting pass). Shingles are distinct per doc, so counts are
    // document frequency; map-side partial agg keeps the shuffle small.
    Q("x_ngram_freq",
      (s, dir) => Tables.documents(s, dir)
        .select(explode(TextDedup.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("bigram"))
        .limit(20),
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(range(1, len(toks)),
                                 i -> toks[i] || ' ' || toks[i+1])) END AS grams
              FROM t)
        SELECT bigram, COUNT(*) AS df
        FROM (SELECT unnest(grams) AS bigram FROM g)
        GROUP BY 1
        ORDER BY df DESC, bigram LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // Native session windows: Spark's built-in session_window aggregation
    // (merging gap-based windows inside the agg operator — the batch twin
    // of the streaming session window). Same 30-min gap as the
    // lag/cumsum formulation in q_events_sessionize, which is exactly
    // what the oracle replays; boundary semantics are `diff > gap`
    // starts a new session (two events EXACTLY gap apart merge —
    // verified against session_window), at microsecond precision.
    Q("q_session_window",
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), Q.dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""
        WITH x AS (
          SELECT user_id, ts, value,
                 CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 1800000000
                      THEN 1 ELSE 0 END AS new_s
          FROM (SELECT user_id, ts, value,
                       LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
                FROM events)),
        s AS (SELECT user_id, ts, value,
                     SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS sid
              FROM x)
        SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM s GROUP BY user_id, sid
        ORDER BY user_id, session_start
      """)),

    // ------------------------------------------------------------------
    // TF-IDF top terms per document, INTEGER-EXACT: idf is the scaled
    // integer ratio (N*1e6) div df — rank-equivalent to log-idf for
    // per-doc ordering and exact on both engines (ln() is libm-dependent
    // and can differ by an ulp across engines). Two shuffles: the tf agg
    // keyed by (doc, term) and the per-doc top-k window; the df table is
    // vocabulary-sized and broadcasts. Ties break by term asc.
    Q("x_tfidf",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val docs = Tables.documents(s, dir)
        val ex = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = ex.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("tok"))
        tf.join(broadcast(dfreq), "tok")
          .crossJoin(broadcast(n))
          .withColumn("idf_e6", expr("(n_docs * 1000000) div df"))
          .withColumn("tfidf", col("tf") * col("idf_e6"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select(col("doc_id"), col("tok"), col("tf"), col("idf_e6"),
            col("tfidf"), col("rk"))
          .orderBy(col("doc_id"), col("rk"))
      },
      Some("""
        WITH ex AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ex GROUP BY 1, 2),
        dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok, tf,
                 (n_docs * 1000000) // df AS idf_e6,
                 tf * ((n_docs * 1000000) // df) AS tfidf
          FROM tf JOIN dfreq USING (tok), n)
        SELECT doc_id, tok, tf, idf_e6, tfidf, rk FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, tok) AS rk
          FROM scored) WHERE rk <= 3
        ORDER BY doc_id, rk
      """)),

    // ------------------------------------------------------------------
    // Dataset card: the per-source summary a curation run publishes
    // (docs, bytes, languages, exact-dup rate, token volume) in ONE pass
    // over the corpus plus a token count — all integer-exact. The
    // "how much of each source survives and how big is it really"
    // artifact every training-data pipeline reports.
    Q("x_dataset_card",
      (s, dir) => Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(sha2(col("text"), 256)).as("n_uniq_texts"),
          sum(graft.functions.tokenCount(col("text"))).as("total_toks"))
        .withColumn("toks_per_doc", expr("total_toks div n_docs"))
        .withColumn("dup_pm", expr("((n_docs - n_uniq_texts) * 1000000) div n_docs"))
        .orderBy(col("source")),
      Some("""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT sha256(text)) AS n_uniq_texts,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_toks,
               CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                 // COUNT(*) AS toks_per_doc,
               ((COUNT(*) - COUNT(DISTINCT sha256(text))) * 1000000)
                 // COUNT(*) AS dup_pm
        FROM documents GROUP BY source ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // 61: deterministic training-order shuffle — the data-ordering stage
    // before export: shuffle_key = sha256(epoch_salt | doc_id); a
    // range-sort on the key IS the shuffled order (distributed sort, no
    // global row_number — position is implicit in the key order, which is
    // what a sharded writer consumes). Reshuffling = new salt.
    Q("x_corpus_shuffle",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          sha2(concat(lit("ep1|"), col("doc_id").cast("string")), 256)
            .as("shuffle_key"))
        .orderBy(col("shuffle_key")),
      Some("""
        SELECT doc_id, sha256('ep1|' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM documents ORDER BY shuffle_key
      """)),

    // ------------------------------------------------------------------
    // 62: shard assignment for training export — shard = first 8 hex
    // chars of the content-keyed sha256 mod N (content-keyed so a doc
    // lands in the same shard across reruns regardless of upstream order;
    // the mod of a cryptographic prefix is uniform, so shards balance).
    // Publishes the per-shard manifest (doc count + char volume).
    Q("x_shard_assign",
      (s, dir) => Tables.documents(s, dir)
        .withColumn("shard",
          (conv(substring(sha2(concat(lit("sh|"), col("doc_id").cast("string")), 256), 1, 8),
            16, 10).cast("long") % 16).cast("int"))
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("shard")),
      Some("""
        SELECT CAST(CAST(('0x' || substr(sha256('sh|' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 16 AS INTEGER) AS shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1 ORDER BY shard
      """)),

    // ------------------------------------------------------------------
    // 63: cross-source dedup with SOURCE PRECEDENCE — when the same
    // content arrives from several sources, keep the copy from the most
    // trusted one (curated beats crawl; here priority = the source's
    // numeric rank). One window on the content hash — same scale shape
    // as t_dedup_keep_latest, different survivor rule.
    Q("d_dedup_precedence",
      (s, dir) => {
        val pri = substring(col("source"), 4, 10).cast("int")
        Tables.documents(s, dir)
          .withColumn("rk", row_number().over(
            Window.partitionBy(sha2(col("text"), 256))
              .orderBy(pri, col("doc_id"))))
          .filter(col("rk") === 1)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"))
          .orderBy(col("source"))
      },
      Some("""
        WITH ranked AS (
          SELECT source, doc_id,
                 row_number() OVER (
                   PARTITION BY sha256(text)
                   ORDER BY CAST(substr(source, 4) AS INTEGER), doc_id) AS rk
          FROM documents)
        SELECT source, COUNT(*) AS n_kept
        FROM ranked WHERE rk = 1
        GROUP BY source ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // Temperature-smoothed token-budget mix plan (the α=0.5 exponent
    // sampling of multilingual pretraining, e.g. XLM): per-source token
    // counts → weights n^0.5 → per-source token allocations for a fixed
    // budget. Counts are integer-exact; sqrt is IEEE correctly-rounded
    // (bit-identical cross-engine, unlike pow/ln); the weight total is
    // summed in DECIMAL after quantizing, so accumulation order can't
    // flip a bit. One groupBy + one broadcast total — corpus-scale-safe.
    Q("x_mix_budget",
      (s, dir) => {
        val nTok = size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .cast("long")
        val per = Tables.documents(s, dir)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
          .withColumn("w", sqrt(col("n_tokens")).cast("decimal(28,12)"))
        per.crossJoin(broadcast(per.agg(sum(col("w")).as("tot"))))
          .withColumn("alloc_tokens",
            floor(lit(50000.0) * (col("w").cast("double") / col("tot").cast("double")))
              .cast("long"))
          .select(col("source"), col("n_docs"), col("n_tokens"), col("alloc_tokens"))
          .orderBy(col("source"))
      },
      Some("""
        WITH per AS (
          SELECT source, COUNT(*) AS n_docs,
                 SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> ''))) AS n_tok,
                 CAST(sqrt(SUM(len(list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '')))) AS DECIMAL(28,12)) AS w
          FROM documents GROUP BY source),
        tot AS (SELECT SUM(w) AS tot FROM per)
        SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tok AS BIGINT) AS n_tokens,
               CAST(floor(50000.0 * (CAST(w AS DOUBLE) / CAST(tot AS DOUBLE))) AS BIGINT)
                 AS alloc_tokens
        FROM per, tot ORDER BY source
      """)),

    // ------------------------------------------------------------------
    // DSIR importance resampling (Xie et al. 2023), stage 1: hashed
    // unigram+bigram bucket counts for the target (lang='en') vs raw
    // (whole corpus) distributions. The hash is the portable sha256
    // prefix, so the entire integer feature pipeline — tokenize, bigram
    // join, bucketing, counts — is hash-checked cross-engine. Top-50
    // buckets by raw mass, bucket id as tiebreak.
    Q("x_dsir_features",
      (s, dir) => {
        import graft.operators.Dsir
        val docs = Tables.documents(s, dir)
        val t = Dsir.features(docs.filter(col("lang") === "en"), "doc_id", "text")
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt_t"))
        val r = Dsir.features(docs, "doc_id", "text")
          .groupBy(col("bucket")).agg(sum(col("cnt")).as("cnt_r"))
        r.join(t, Seq("bucket"), "left").na.fill(0L, Seq("cnt_t"))
          .select(col("bucket"), col("cnt_t"), col("cnt_r"))
          .orderBy(col("cnt_r").desc, col("bucket"))
          .limit(50)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents),
        ngs AS (
          SELECT doc_id, lang, unnest(ts) AS ng FROM base
          UNION ALL
          SELECT doc_id, lang,
                 unnest(list_transform(range(1, len(ts)),
                        i -> ts[i] || ' ' || ts[i + 1])) AS ng
          FROM base),
        b AS (SELECT lang,
                     ('0x' || substr(sha256(ng), 1, 8))::BIGINT % 4096 AS bucket
              FROM ngs)
        SELECT bucket,
               CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_t,
               CAST(COUNT(*) AS BIGINT) AS cnt_r
        FROM b GROUP BY bucket ORDER BY cnt_r DESC, bucket LIMIT 50
      """)),

    // ------------------------------------------------------------------
    // Length-bucketed sequence packing: assign each doc to a token-length
    // band (CASE ladder — integer-exact on both engines; floor(log2(n))
    // would hit ln-ulp drift in Spark's log(base, x)), then pack
    // greedily WITHIN each band, longest-first. Unlike x_seq_pack's
    // global concatenate-and-split, the cumulative sums here are windows
    // PARTITIONED by band — embarrassingly parallel at corpus scale, and
    // the per-band packing wastes far less padding than mixing lengths.
    Q("x_pack_length_buckets",
      (s, dir) => {
        val nTok = size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
          .cast("long")
        val bkt = when(col("n_tok") <= 32, 32L).when(col("n_tok") <= 64, 64L)
          .when(col("n_tok") <= 128, 128L).when(col("n_tok") <= 256, 256L)
          .otherwise(512L)
        val w = Window.partitionBy(col("bkt"))
          .orderBy(col("n_tok").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.documents(s, dir)
          .select(col("doc_id"), nTok.as("n_tok"))
          .withColumn("bkt", bkt)
          .withColumn("cb", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .select(col("doc_id"), col("n_tok"), col("bkt"),
            expr("cb DIV 256").as("bin"), // integer div: `/` would detour through double
            (col("cb") % 256).as("bin_off"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(lower(text), '\s+'),
                     x -> x <> '')) AS n_tok
          FROM documents),
        bk AS (SELECT doc_id, n_tok,
                      CASE WHEN n_tok <= 32 THEN 32 WHEN n_tok <= 64 THEN 64
                           WHEN n_tok <= 128 THEN 128 WHEN n_tok <= 256 THEN 256
                           ELSE 512 END AS bkt
               FROM toks),
        cum AS (SELECT doc_id, n_tok, bkt,
                       COALESCE(SUM(n_tok) OVER (PARTITION BY bkt
                         ORDER BY n_tok DESC, doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
                FROM bk)
        SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok, CAST(bkt AS BIGINT) AS bkt,
               CAST(cb // 256 AS BIGINT) AS bin, CAST(cb % 256 AS BIGINT) AS bin_off
        FROM cum ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // DSIR stage 2+3: smoothed bucket log-likelihood-ratio model
    // (4096 rows — broadcast), per-doc importance weights, deterministic
    // Gumbel top-k sample. ORACLED via integer-scaled publication: the
    // selected id set plus round(log_w·1e6) as BIGINT — cross-engine
    // ln() differs by ~1 ulp (1e-16 relative) and the distributed float
    // sum reorders at ~1e-12, both far inside the 1e-6 publication
    // grain, so DuckDB replays the whole pipeline (features → smoothed
    // LLR model → weights → sha256-Gumbel top-k) and hash-matches; a
    // key collision inside float noise would need two Gumbel keys equal
    // to ~1e-13, which the deterministic testdata does not contain.
    // DsirSpec additionally asserts determinism, target-language
    // enrichment, and the TakeOrdered (no global sort) plan.
    Q("x_dsir_select",
      (s, dir) => {
        import graft.operators.Dsir
        val docs = Tables.documents(s, dir)
        // NOT Materialized: the raw feature frame feeds both the model
        // fit and the scorer, but a localCheckpoint here measured
        // SLOWER (3.7 s vs 2.5 s at sf0.1) — AQE's runtime exchange
        // reuse already dedups the feature shuffle, so the checkpoint
        // pays its write without saving a recompute.
        val raw = Dsir.features(docs, "doc_id", "text")
        val ratios = Dsir.bucketLogRatio(
          Dsir.features(docs.filter(col("lang") === "en"), "doc_id", "text"),
          raw, numBuckets = 4096)
        Dsir.resample(Dsir.importanceWeights(raw, ratios), k = 100,
            salt = "graft-dsir")
          .withColumnRenamed("id", "doc_id")
          .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
          .select(col("doc_id"), col("lang"), col("source"),
            round(col("log_w") * 1e6).cast("long").as("lw_fx"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, lang,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents),
        ngs AS (
          SELECT doc_id, unnest(ts) AS ng FROM base
          UNION ALL
          SELECT doc_id,
                 unnest(list_transform(range(1, len(ts)),
                        i -> ts[i] || ' ' || ts[i + 1])) AS ng
          FROM base),
        feat AS (SELECT doc_id,
                        ('0x' || substr(sha256(ng), 1, 8))::BIGINT % 4096 AS bucket,
                        COUNT(*) AS cnt
                 FROM ngs GROUP BY doc_id, bucket),
        tb AS (SELECT f.bucket, SUM(f.cnt) AS cnt_t
               FROM feat f JOIN documents d USING (doc_id)
               WHERE d.lang = 'en' GROUP BY f.bucket),
        rb AS (SELECT bucket, SUM(cnt) AS cnt_r FROM feat GROUP BY bucket),
        j AS (SELECT COALESCE(rb.bucket, tb.bucket) AS bucket,
                     COALESCE(cnt_t, 0) AS cnt_t, COALESCE(cnt_r, 0) AS cnt_r
              FROM rb FULL JOIN tb ON rb.bucket = tb.bucket),
        tot AS (SELECT SUM(cnt_t) AS tot_t, SUM(cnt_r) AS tot_r FROM j),
        model AS (SELECT bucket,
                         ln((cnt_t + 0.5) / (tot_t + 2048.0)) -
                         ln((cnt_r + 0.5) / (tot_r + 2048.0)) AS log_ratio
                  FROM j, tot),
        w AS (SELECT f.doc_id, SUM(f.cnt * m.log_ratio) AS log_w
              FROM feat f JOIN model m USING (bucket) GROUP BY f.doc_id),
        keyed AS (SELECT doc_id, log_w,
                         log_w - ln(-ln(
                           (('0x' || substr(sha256('graft-dsir|' ||
                              CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT + 0.5)
                           / 4503599627370496.0)) AS key
                  FROM w),
        sel AS (SELECT doc_id, log_w FROM keyed
                ORDER BY key DESC, doc_id LIMIT 100)
        SELECT s.doc_id, d.lang, d.source,
               CAST(round(s.log_w * 1000000) AS BIGINT) AS lw_fx
        FROM sel s JOIN documents d USING (doc_id)
        ORDER BY s.doc_id
      """)),

    // ------------------------------------------------------------------
    // URL canonicalization — the crawl dedup key. The documents table
    // carries no URLs, so a messy one (mixed-case scheme/host, default
    // and explicit ports, duplicate slashes, dot segments, trailing
    // slash, unsorted + tracking query params, fragment) is synthesized
    // from doc_id IDENTICALLY on both engines; each side then normalizes
    // with its own machinery (Spark: parse_url + codegen string ops;
    // DuckDB: regexp part extraction), so a rule drifting on either side
    // breaks the hash.
    Q("x_url_normalize",
      (s, dir) => {
        val m4 = col("doc_id") % 4
        val url = concat(
          when(m4 === 0, "HTTP").when(m4 === 1, "https")
            .when(m4 === 2, "HTTP").otherwise("HttpS"),
          lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
          when(m4 === 0, ":80").when(m4 === 1, ":443")
            .when(m4 === 2, ":8080").otherwise(""),
          lit("//Docs//"), (col("doc_id") % 13).cast("string"), lit("/./page"),
          when(col("doc_id") % 3 === 0, "/").otherwise(""),
          lit("?utm_source=feed&b="), (col("doc_id") % 5).cast("string"), lit("&a=1"),
          when(m4 === 0, "&fbclid=xyz").otherwise(""),
          lit("#sec"), (col("doc_id") % 11).cast("string"))
        Tables.documents(s, dir)
          .select(col("doc_id"), url.as("url"))
          .select(col("doc_id"),
            graft.operators.WebText.urlNormalize(col("url")).as("url_norm"),
            graft.operators.WebText.urlHost(col("url")).as("host"),
            size(graft.operators.WebText.keptParams(col("url"))).cast("long")
              .as("n_params"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH urls AS (
          SELECT doc_id,
                 CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
                      WHEN 2 THEN 'HTTP' ELSE 'HttpS' END
                 || '://WWW.Example' || (doc_id % 7) || '.COM'
                 || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                         WHEN 2 THEN ':8080' ELSE '' END
                 || '//Docs//' || (doc_id % 13) || '/./page'
                 || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
                 || '?utm_source=feed&b=' || (doc_id % 5) || '&a=1'
                 || CASE WHEN doc_id % 4 = 0 THEN '&fbclid=xyz' ELSE '' END
                 || '#sec' || (doc_id % 11) AS url
          FROM documents),
        parts AS (
          SELECT doc_id,
                 lower(regexp_extract(url, '^([^:]+)://', 1)) AS scheme,
                 regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?#]*)', 1)),
                                '^(www\.)+', '') AS auth0,
                 regexp_replace(regexp_replace(
                     regexp_extract(url, '^[^:]+://[^/?#]*([^?#]*)', 1),
                     '/{2,}', '/', 'g'), '/\./', '/', 'g') AS p2,
                 regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS q
          FROM urls),
        norm AS (
          SELECT doc_id, scheme,
                 CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
                      ELSE auth0 END AS host,
                 CASE WHEN p2 = '' OR p2 = '/' THEN '/'
                      ELSE regexp_replace(p2, '/$', '') END AS path,
                 list_sort(list_filter(string_split(q, '&'),
                   p -> p <> '' AND substr(p, 1, 4) <> 'utm_'
                        AND NOT list_contains(['fbclid', 'gclid'],
                                              string_split(p, '=')[1]))) AS kept
          FROM parts)
        SELECT doc_id,
               scheme || '://' || host || path ||
                 CASE WHEN len(kept) = 0 THEN ''
                      ELSE '?' || array_to_string(kept, '&') END AS url_norm,
               host,
               CAST(len(kept) AS BIGINT) AS n_params
        FROM norm ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // WET ingest END-TO-END — the crawl-to-corpus staging pipeline over
    // a REAL WET round trip: documents are serialized into WARC/1.0
    // record files (conversion records with mixed-case/tracking-param
    // URLs, plus warcinfo records the reader must exclude), written as
    // a distributed text file, re-read through the Wet source's
    // lineSep record split + codegen'd header parse, then staged the
    // way a training pipeline would: urlNormalize → min-length clean
    // gate → exact content dedup (min-url_norm representative) → per-
    // host corpus stats. The oracle re-derives every stage analytically
    // from doc_id + text (the construction IS the ground truth; the
    // urlNormalize internals are separately regex-replayed by
    // x_url_normalize's oracle), so the whole file round trip — record
    // framing, CRLF body trim, warcinfo exclusion — must come back
    // bit-exact. Scale shape: the writer is a distributed text sink,
    // the reader one scan (records split AT SCAN TIME by lineSep — no
    // whole-file driver reads), and the pipeline is two narrow
    // projections + one dedup shuffle + interval-free host aggs.
    Q("x_wet_ingest_e2e",
      (s, dir) => {
        import graft.sources.Wet
        val docs = Tables.documents(s, dir)
        val url = concat(
          when(col("doc_id") % 2 === 0, "HTTP").otherwise("https"),
          lit("://WWW.Site"), (col("doc_id") % 7).cast("string"),
          lit(".Example"),
          when(col("doc_id") % 2 === 0, ":80").otherwise(":443"),
          lit("//p//"), col("doc_id").cast("string"),
          lit("?utm_source=crawl&b="), (col("doc_id") % 5).cast("string"),
          lit("&a=1#frag"))
        val conv = docs.select(concat(
          lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
          url, lit("\r\nContent-Length: "),
          length(col("text")).cast("string"),
          lit("\r\n\r\n"), col("text")).as("value"))
        val info = docs.filter(col("doc_id") % 97 === 0).select(
          lit("WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 19" +
            "\r\n\r\nisPartOf: graft-wet").as("value"))
        wetScratch.synchronized {
          Scratch.fresh(wetScratch)
          val path = wetScratch.resolve("wet").toString
          conv.unionByName(info).write.mode("overwrite").text(path)
          val staged = Wet.conversions(s, path)
            .select(WebText.urlNormalize(col("url")).as("url_norm"),
              WebText.urlHost(col("url")).as("host"), col("content"))
          val gated = staged.filter(length(col("content")) >= 20)
          val reps = gated.groupBy(col("content"))
            .agg(min(col("url_norm")).as("url_norm"))
          val raw = staged.groupBy(col("host")).agg(count(lit(1)).as("n_raw"))
          val g = gated.groupBy(col("host")).agg(count(lit(1)).as("n_gated"))
          val u = reps
            .withColumn("host", WebText.urlHost(col("url_norm")))
            .groupBy(col("host"))
            .agg(count(lit(1)).as("n_unique"),
              sum(length(col("content"))).as("n_chars_kept"))
          raw.join(g, Seq("host"), "left").join(u, Seq("host"), "left")
            .select(col("host"), col("n_raw"),
              coalesce(col("n_gated"), lit(0L)).as("n_gated"),
              coalesce(col("n_unique"), lit(0L)).as("n_unique"),
              coalesce(col("n_chars_kept"), lit(0L)).as("n_chars_kept"))
            .orderBy(col("host"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some(raw"""
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END
                   || '://site' || (doc_id % 7) || '.example/p/' || doc_id
                   || '?a=1&b=' || (doc_id % 5) AS url_norm,
                 'site' || (doc_id % 7) || '.example' AS host,
                 regexp_replace(regexp_replace(text, '^\s+', ''),
                                '\s+$$', '') AS content
          FROM documents),
        g AS (SELECT * FROM c WHERE length(content) >= 20),
        reps AS (SELECT content, MIN(url_norm) AS url_norm
                 FROM g GROUP BY content),
        u AS (SELECT regexp_extract(url_norm, '^[^:]+://([^/?#]*)', 1)
                       AS host,
                     COUNT(*) AS n_unique,
                     CAST(SUM(length(content)) AS BIGINT) AS n_chars_kept
              FROM reps GROUP BY 1),
        raw AS (SELECT host, COUNT(*) AS n_raw FROM c GROUP BY 1),
        gg AS (SELECT host, COUNT(*) AS n_gated FROM g GROUP BY 1)
        SELECT raw.host, raw.n_raw,
               COALESCE(gg.n_gated, 0) AS n_gated,
               COALESCE(u.n_unique, 0) AS n_unique,
               COALESCE(u.n_chars_kept, 0) AS n_chars_kept
        FROM raw LEFT JOIN gg USING (host) LEFT JOIN u USING (host)
        ORDER BY raw.host
      """)),

    // ------------------------------------------------------------------
    // XLSX ingest END-TO-END — the reference's ACTUAL ingest format
    // (multi-sheet spreadsheets with messy headers and junk sheets,
    // extract.py:240-289) driven through the full library stack over a
    // REAL xlsx round trip: a 3-file landing zone is synthesized IN
    // PARALLEL (one executor task per workbook via Xlsx.write — zips
    // are unsplittable, so file-level fan-out is the distributed
    // shape), each file carrying two data sheets + a blacklisted
    // "Notas" sheet, with per-file header chaos (accented/cased/spaced
    // names, a REORDERED column layout, a file MISSING a column, a
    // numeric-preamble file whose header must be DETECTED below junk
    // rows). Ingest = the graft-xlsx DSv2 connector (one partition per
    // (file, sheet), FixHeader-scored header detection, by-name column
    // alignment) → canonical transform (na-token nulling + defensive
    // numeric casts). Every cell derives from doc_id alone, so the
    // oracle re-derives the entire landing zone analytically — sheet
    // selection, blacklist, header normalization/alignment, the
    // missing column, inline strings, numeric cells — and the per-row
    // output must come back bit-exact.
    Q("x_xlsx_ingest_e2e",
      (s, dir) => {
        import graft.sources.Xlsx
        xlsxScratch.synchronized {
          Scratch.fresh(xlsxScratch)
          val landing = java.nio.file.Files
            .createDirectories(xlsxScratch.resolve("landing")).toString
          import s.implicits._
          val docs = Tables.documents(s, dir).select(col("doc_id")).as[Long]
          // Workbook count scales with the corpus (~50k rows/file,
          // min 3): zips are unsplittable, so a FIXED file count made
          // both the write and the parse 3-way-parallel forever — the
          // sf100 probe measured 1.66× super-linear. A real landing
          // zone has many resources; file-level fan-out is the scale
          // axis. The count is replayed by the oracle (greatest(3,
          // ceil(n/50000))), and the three header variants cycle over
          // files via fid mod 3.
          val nFiles = math.max(3L, (docs.count() + 49999L) / 50000L).toInt
          docs.rdd.keyBy(_ % nFiles)
            .partitionBy(new org.apache.spark.HashPartitioner(nFiles))
            .foreachPartition { it =>
              val ids = it.map(_._2).toArray.sorted
              if (ids.nonEmpty) {
                val fid = (ids.head % nFiles).toInt
                val variant = fid % 3
                def codigo(id: Long) = "C" + "%012d".format(id)
                def edad(id: Long): Any =
                  if (id % 11 == 0) "n/a"
                  else java.lang.Long.valueOf(id % 80 + 10)
                def monto(id: Long): Any = java.lang.Long.valueOf(id * 37 % 10000)
                def row(id: Long): Seq[Any] = variant match {
                  case 0 => Seq(codigo(id), edad(id), monto(id))
                  case 1 => Seq(monto(id), codigo(id), edad(id)) // reordered
                  case _ => Seq(codigo(id), edad(id)) // monto column absent
                }
                val header: Seq[Any] = variant match {
                  case 0 => Seq("Código", "Edad", "Monto Total")
                  case 1 => Seq("monto total", "CÓDIGO", "edad")
                  case _ => Seq("codigo", "Edad")
                }
                // variant 2 carries a preamble the header scorer must
                // skip (the second row is numeric-heavy, so it scores
                // below the real header — the reference's _fix_header
                // case).
                val pre: Seq[Seq[Any]] =
                  if (variant == 2) Seq(Seq("Reporte mensual"),
                    Seq("Generado", java.lang.Long.valueOf(45321L)))
                  else Nil
                def grid(parity: Int): Seq[Seq[Any]] =
                  pre ++ (header +: ids.iterator
                    .filter(id => id / 3 % 2 == parity)
                    .map(row).toSeq)
                // Zero-padded name: files sort lexically and schema
                // inference reads files.head, which must be a
                // variant-0 (full-schema) workbook.
                Xlsx.write(new org.apache.hadoop.conf.Configuration(),
                  f"$landing%s/drop_$fid%05d.xlsx", Seq(
                    "1" -> grid(0), "2" -> grid(1),
                    "Notas" -> Seq(Seq("junk"),
                      Seq("do not ingest", java.lang.Long.valueOf(99L)))))
              }
            }
          val raw = s.read.format("graft-xlsx")
            .option("path", landing)
            .option("sheetBlacklist", "notas").load()
          graft.operators.Transform.applyNaTokens(raw, Seq("n/a"))
            .select(col("codigo"),
              expr("try_cast(edad AS BIGINT)").as("edad"),
              expr("try_cast(monto_total AS BIGINT)").as("monto_cents"))
            .orderBy(col("codigo"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some("""
        WITH nf AS (SELECT greatest(3, CAST(ceil(COUNT(*) / 50000.0) AS BIGINT)) AS n
                    FROM documents)
        SELECT 'C' || lpad(CAST(doc_id AS VARCHAR), 12, '0') AS codigo,
               CASE WHEN doc_id % 11 = 0 THEN NULL
                    ELSE doc_id % 80 + 10 END AS edad,
               CASE WHEN (doc_id % nf.n) % 3 = 2 THEN NULL
                    ELSE doc_id * 37 % 10000 END AS monto_cents
        FROM documents, nf ORDER BY codigo
      """)),

    // ------------------------------------------------------------------
    // Incremental STATE→EXTRACT→LOAD spine END-TO-END — the reference's
    // core weekly loop (get_status.py state watermark + extract.py
    // new/changed-only extraction + load.py upsert/audit/state-promote)
    // driven through the REAL library stack across TWO ingest rounds
    // over a parquet landing zone: round 1 lands resources res_0+res_1
    // and loads them (initial stamped load); round 2 REWRITES res_1
    // (changed values) and adds res_2, and the Ingest mtime/path
    // watermark must pick exactly those two — re-reading untouched
    // res_0 would restamp its rows and emit a spurious audit row, both
    // oracle-caught. Each round: extractUpdated → keep-latest dedup
    // (each resource carries poison duplicate rows that must lose) →
    // stamped upsert merge (inserted_at survives the res_1 rewrite —
    // the stamped merge's provenance rule — while updated_at moves to
    // run 2) → etl_runs/etl_run_resources appended → state promoted
    // LAST (the reference's promote-after-load-OK rule). Output = the
    // final target per-row JOINED to both runs' per-resource audit
    // counts; every cell derives from doc_id, so DuckDB re-derives the
    // loaded table AND the audit history analytically. Scale shape:
    // each round's cost is O(fresh files) — the landing zone is never
    // rescanned; the merge is the full-swap upsert (the reference's
    // whole-table load unit; a 100 TB target would pass buckets= to
    // confine the merge to touched key-hash buckets, same API).
    Q("x_ingest_state_e2e",
      (s, dir) => {
        import graft.operators.Audit
        import graft.sources.Ingest
        ingestStateScratch.synchronized {
          val root = Scratch.fresh(ingestStateScratch)
          val landing = java.nio.file.Files
            .createDirectories(root.resolve("landing")).toString
          val statePath = s"$root/state.properties"
          val target = s"$root/target"
          val auditDir = s"$root/audit"
          val docs = Tables.documents(s, dir).select(col("doc_id"))
          // A resource drop: rows keyed C<doc_id>, values a pure doc_id
          // formula (+10000 marks the round-2 rewrite), plus one STALE
          // duplicate row per doc_id % 13 key (poison valor, lower seq)
          // the keep-latest dedup must drop. Spark's overwrite gives the
          // rewrite fresh part-file names, which is exactly what the
          // path/mtime watermark keys on — no mtime pinning needed.
          def writeRes(rid: Int, runSeq: Int, rewrite: Boolean = false): Unit = {
            val base = docs.filter(pmod(col("doc_id"), lit(3L)) === rid)
              .select(col("doc_id"),
                concat(lit("C"), lpad(col("doc_id").cast("string"), 12, "0"))
                  .as("codigo"),
                (col("doc_id") * 7 % 1000 +
                  lit(if (rewrite) 10000L else 0L)).as("valor"),
                lit(runSeq * 10L + 1L).as("seq"),
                lit(s"res_$rid").as("resource"))
            base.unionByName(base.filter(col("doc_id") % 13 === 0)
                .withColumn("valor", lit(999999L))
                .withColumn("seq", lit(runSeq * 10L)))
              .write.mode("overwrite").parquet(s"$landing/res_$rid")
          }
          def round(runSeq: Int): Unit = {
            val runId = s"r$runSeq"
            val cfg = Ingest.SourceCfg("parquet", landing, "res_*/part-*")
            val (raw, advanced) = Ingest.extractUpdated(s, cfg, statePath)
              .getOrElse(throw new IllegalStateException(
                s"$runId: watermark surfaced no new resources"))
            // Per-resource audit metrics in ONE distributed agg
            // (resource count is config-bounded — the reference loops a
            // handful of CKAN resources); each poison duplicate is one
            // extra row on one key, so dup keys == rows_in - rows_out.
            val m = raw.groupBy(col("resource"))
              .agg(count(lit(1)).as("rows_in"),
                countDistinct(col("codigo")).as("rows_out"))
              .collect().sortBy(_.getString(0))
            val resRows = m.toIndexedSeq.map { r =>
              Audit.ResourceRow(runId, r.getString(0), r.getLong(1),
                r.getLong(2), r.getLong(1) - r.getLong(2),
                r.getLong(1) - r.getLong(2), 0, 0)
            }
            graft.streaming.StreamOps.upsertIntoParquet(
              raw.drop("doc_id"), target, keys = Seq("codigo"),
              latestBy = Some("seq"), stamp = Some(lit(runSeq.toLong)))
            Audit.appendResources(s, auditDir, resRows)
            Audit.appendRun(s, auditDir, Audit.RunRow(runId,
              new java.sql.Timestamp(runSeq * 1000L),
              new java.sql.Timestamp(runSeq * 1000L + 500L), "ok",
              resRows.size, resRows.map(_.rows_in).sum,
              resRows.map(_.rows_out).sum, ""))
            // State promotion LAST — a failed load must leave the
            // watermark untouched so the next run re-extracts.
            Ingest.saveState(s, statePath, advanced)
          }
          writeRes(0, 1); writeRes(1, 1)
          round(1)
          writeRes(1, 2, rewrite = true); writeRes(2, 2)
          round(2)
          val res = Audit.readResources(s, auditDir)
          def runCols(runId: String, p: String) = res
            .filter(col("run_id") === runId)
            .select(col("resource"), col("rows_in").as(s"${p}_rows_in"),
              col("rows_out").as(s"${p}_rows_out"),
              col("duplicates_key").as(s"${p}_dup_keys"))
          // -1 sentinel (not NULL) for "resource absent from that run":
          // an all-null long column downgrades to float in the pandas
          // compare and the dtype-kind gate would flag it.
          def sent(c: String) = coalesce(col(c), lit(-1L)).as(c)
          s.read.parquet(target)
            .join(broadcast(runCols("r1", "r1")), Seq("resource"), "left")
            .join(broadcast(runCols("r2", "r2")), Seq("resource"), "left")
            .select(col("codigo"), col("valor"), col("resource"),
              col("inserted_at").as("run_inserted"),
              col("updated_at").as("run_updated"),
              sent("r1_rows_in"), sent("r1_rows_out"), sent("r1_dup_keys"),
              sent("r2_rows_in"), sent("r2_rows_out"), sent("r2_dup_keys"))
            .orderBy(col("codigo"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some("""
        WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS BIGINT) AS rid
                   FROM documents),
        per AS (SELECT rid, COUNT(*) AS n,
                       CAST(SUM(CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS dups
                FROM d GROUP BY rid)
        SELECT 'C' || lpad(CAST(d.doc_id AS VARCHAR), 12, '0') AS codigo,
               CAST(d.doc_id * 7 % 1000
                    + CASE WHEN d.rid = 1 THEN 10000 ELSE 0 END
                 AS BIGINT) AS valor,
               'res_' || CAST(d.rid AS VARCHAR) AS resource,
               CAST(CASE WHEN d.rid = 2 THEN 2 ELSE 1 END AS BIGINT)
                 AS run_inserted,
               CAST(CASE WHEN d.rid = 0 THEN 1 ELSE 2 END AS BIGINT)
                 AS run_updated,
               CAST(CASE WHEN d.rid = 2 THEN -1 ELSE per.n + per.dups END
                 AS BIGINT) AS r1_rows_in,
               CAST(CASE WHEN d.rid = 2 THEN -1 ELSE per.n END AS BIGINT)
                 AS r1_rows_out,
               CAST(CASE WHEN d.rid = 2 THEN -1 ELSE per.dups END AS BIGINT)
                 AS r1_dup_keys,
               CAST(CASE WHEN d.rid = 0 THEN -1 ELSE per.n + per.dups END
                 AS BIGINT) AS r2_rows_in,
               CAST(CASE WHEN d.rid = 0 THEN -1 ELSE per.n END AS BIGINT)
                 AS r2_rows_out,
               CAST(CASE WHEN d.rid = 0 THEN -1 ELSE per.dups END AS BIGINT)
                 AS r2_dup_keys
        FROM d JOIN per USING (rid) ORDER BY codigo
      """)),

    // ------------------------------------------------------------------
    // Run-log upload END-TO-END — the reference's upload_log.py driven
    // through the real library stack: a JSON-lines pipeline log (one
    // line per doc_id; ids ≡ 0 mod 17 are UNPARSEABLE lines that must
    // survive whole in the `raw` column — the read_log_to_df fallback)
    // is written by a distributed text sink, read back through
    // RunLog.readLogDf (PERMISSIVE + corrupt-record column), and pushed
    // through the chunked retry loader (reference chunks of 500):
    // batches carrying a marker row fail their first attempt, so the
    // retry envelope genuinely fires, and the content-hash-named landing
    // makes the retried batch idempotent — exactly once per row lands.
    // Every field derives from doc_id, so DuckDB re-derives the landed
    // table analytically; a lost/duplicated batch or a dropped corrupt
    // line is a row-count/hash mismatch. Scale shape: the load loop
    // runs per PARTITION on executors (no driver funnel); landing is
    // one bounded file per 500-row chunk, the reference's payload unit.
    Q("x_runlog_ingest_e2e",
      (s, dir) => {
        runlogScratch.synchronized {
          val root = Scratch.fresh(runlogScratch)
          val logDir = root.resolve("log").toString
          val landed = java.nio.file.Files
            .createDirectories(root.resolve("landed")).toString
          Tables.documents(s, dir).select(col("doc_id"))
            .select(
              when(col("doc_id") % 17 === 0,
                concat(lit("{bad log line "), col("doc_id").cast("string")))
              .otherwise(concat(
                lit("{\"line_id\":"), col("doc_id").cast("string"),
                lit(",\"level\":\""),
                when(col("doc_id") % 5 === 0, "WARN").otherwise("INFO"),
                lit("\",\"resource\":\"res_"),
                (col("doc_id") % 3).cast("string"),
                lit("\",\"n_rows\":"), (col("doc_id") % 100).cast("string"),
                lit("}"))).as("value"))
            .write.mode("overwrite").text(logDir)
          val res = graft.sources.RunLog.uploadLog(s, logDir,
            LandedSink(landed, failEvery = 4000L), batchSize = 500,
            sleeper = _ => ())
          require(res.failedBatches == 0 && res.rowsFailed == 0,
            s"run-log load left failures: $res")
          s.read.schema("line_id LONG, level STRING, resource STRING, " +
              "n_rows LONG, raw STRING")
            .json(landed)
            .select(col("line_id"), col("level"), col("resource"),
              col("n_rows"), col("raw"))
            .orderBy(col("line_id").asc_nulls_first, col("raw"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some("""
        SELECT CAST(CASE WHEN doc_id % 17 = 0 THEN NULL ELSE doc_id END
                 AS BIGINT) AS line_id,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    WHEN doc_id % 5 = 0 THEN 'WARN' ELSE 'INFO' END AS level,
               CASE WHEN doc_id % 17 = 0 THEN NULL
                    ELSE 'res_' || CAST(doc_id % 3 AS VARCHAR) END AS resource,
               CAST(CASE WHEN doc_id % 17 = 0 THEN NULL
                         ELSE doc_id % 100 END AS BIGINT) AS n_rows,
               CASE WHEN doc_id % 17 = 0
                    THEN '{bad log line ' || CAST(doc_id AS VARCHAR)
                    ELSE NULL END AS raw
        FROM documents
        ORDER BY line_id NULLS FIRST, raw
      """)),

    // ------------------------------------------------------------------
    // Outlink / anchor extraction from HTML — the link-graph feed of a
    // crawl pipeline. Markup with mixed-case tags, single- and
    // double-quoted hrefs, a fragment link and an href-less anchor is
    // synthesized identically on both sides; extraction is
    // regexp_extract_all group 1 in both engines.
    Q("x_anchor_extract",
      (s, dir) => {
        val html = concat(
          lit("<p>see <a href=\"http://x"), (col("doc_id") % 7).cast("string"),
          lit(".com/p"), (col("doc_id") % 13).cast("string"),
          lit("\">link one</a> and <A HREF='/rel/"), (col("doc_id") % 5).cast("string"),
          lit("'>two</A>"),
          when(col("doc_id") % 3 === 0, " <a class=\"x\" href=\"#frag\">self</a>")
            .otherwise(""),
          lit(" <a name=\"n\">nohref</a></p>"))
        Tables.documents(s, dir)
          .select(col("doc_id"), graft.operators.WebText.extractHrefs(html).as("links"))
          .select(col("doc_id"),
            size(col("links")).cast("long").as("n_links"),
            array_join(col("links"), " ").as("hrefs"),
            element_at(col("links"), 1).as("first_href"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
                 '<p>see <a href="http://x' || (doc_id % 7) || '.com/p' || (doc_id % 13)
                 || '">link one</a> and <A HREF=''/rel/' || (doc_id % 5) || '''>two</A>'
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' <a class="x" href="#frag">self</a>' ELSE '' END
                 || ' <a name="n">nohref</a></p>' AS html
          FROM documents),
        l AS (SELECT doc_id,
                     regexp_extract_all(html,
                       '(?i)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1) AS links
              FROM h)
        SELECT doc_id,
               CAST(len(links) AS BIGINT) AS n_links,
               array_to_string(links, ' ') AS hrefs,
               links[1] AS first_href
        FROM l ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Corpus-level boilerplate line removal (CCNet/RefinedWeb line
    // dedup). Every document gets a universal banner line and a
    // per-source footer injected (identically on both sides); lines
    // whose trimmed form appears in >= 10 distinct documents vanish,
    // the rest reassemble in order. The Spark side anti-joins the
    // FILTERED boilerplate frame (small by definition → AQE broadcast).
    Q("x_boilerplate_lines",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select(col("doc_id"),
          concat(lit("cookie notice please accept\n"), col("text"),
            lit("\ncopyright "), col("source")).as("text"))
        graft.operators.WebText.stripBoilerplateLines(docs, "doc_id", "text",
            minDocs = 10L)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH lined AS (
          SELECT doc_id,
                 'cookie notice please accept' || chr(10) || text || chr(10)
                   || 'copyright ' || source AS t
          FROM documents),
        ls AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM lined),
        ex AS (SELECT doc_id, ls, unnest(range(1, len(ls) + 1)) AS i FROM ls),
        ex2 AS (SELECT doc_id, i, ls[i] AS line, trim(ls[i]) AS k FROM ex),
        freq AS (SELECT k FROM ex2 GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 10),
        kept AS (SELECT e.doc_id, e.i, e.line
                 FROM ex2 e ANTI JOIN freq f ON e.k = f.k),
        agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY i) AS clean_text,
                       COUNT(*) AS n_kept
                FROM kept GROUP BY doc_id),
        tot AS (SELECT doc_id, len(string_split(t, chr(10))) AS n_total FROM lined)
        SELECT t.doc_id,
               coalesce(a.clean_text, '') AS clean_text,
               CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped
        FROM tot t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Integer-weight linear quality classifier (the fastText-style
    // "trained filter applied at scale" shape, distinct from the
    // rule-band filters above): margin = w · [n_stop, n_short,
    // n_distinct, n_tokens] with integer weights, keep = margin >= 0.
    // All-integer arithmetic → bit-exact cross-engine.
    Q("x_quality_classifier",
      (s, dir) => {
        import graft.functions.normText
        val toksC = split(normText(col("text")), " ")
        val nTok = size(toksC).cast("long")
        val nStop = size(filter(toksC, t => t.isin(EnStop: _*))).cast("long")
        val nShort = size(filter(toksC, t => length(t) <= 2)).cast("long")
        val nDist = size(array_distinct(toksC)).cast("long")
        val margin = lit(240L) * nStop - lit(90L) * nShort +
          lit(110L) * nDist - lit(100L) * nTok
        Tables.documents(s, dir)
          .select(col("doc_id"),
            margin.as("margin_num"),
            nTok.as("n_tokens"),
            (margin >= 0).cast("int").as("keep"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS tk FROM documents),
        f AS (SELECT doc_id,
                     len(tk) AS n_tokens,
                     len(list_filter(tk, x -> list_contains(
                       ['the','a','of','and','to','in','is','that','it','for'], x))) AS n_stop,
                     len(list_filter(tk, x -> length(x) <= 2)) AS n_short,
                     len(list_distinct(tk)) AS n_distinct
              FROM t)
        SELECT doc_id,
               CAST(240 * n_stop - 90 * n_short + 110 * n_distinct
                    - 100 * n_tokens AS BIGINT) AS margin_num,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               CASE WHEN 240 * n_stop - 90 * n_short + 110 * n_distinct
                         - 100 * n_tokens >= 0 THEN 1 ELSE 0 END AS keep
        FROM f ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Host-level link graph — the crawl-frontier / domain-ranking feed:
    // page URL and outlinks synthesized as in x_url_normalize /
    // x_anchor_extract, edges = (src host, resolved dst host), exact
    // in/out degree and distinct-neighbor counts per host via a full
    // outer join of the two degree aggregates. Scale shape: one narrow
    // explode, two host-keyed aggregations, output is host-cardinality.
    Q("x_link_graph",
      (s, dir) => {
        val m4 = col("doc_id") % 4
        val url = concat(
          when(m4 === 0, "HTTP").when(m4 === 1, "https")
            .when(m4 === 2, "HTTP").otherwise("HttpS"),
          lit("://WWW.Example"), (col("doc_id") % 7).cast("string"), lit(".COM"),
          when(m4 === 0, ":80").when(m4 === 1, ":443")
            .when(m4 === 2, ":8080").otherwise(""),
          lit("/p"))
        val html = concat(
          lit("<p>see <a href=\"http://x"), (col("doc_id") % 7).cast("string"),
          lit(".com/p"), (col("doc_id") % 13).cast("string"),
          lit("\">link one</a> and <A HREF='/rel/"), (col("doc_id") % 5).cast("string"),
          lit("'>two</A>"),
          when(col("doc_id") % 3 === 0, " <a class=\"x\" href=\"#frag\">self</a>")
            .otherwise(""),
          lit(" <a name=\"n\">nohref</a></p>"))
        val edges = Tables.documents(s, dir)
          .select(WebText.urlHost(url).as("src_host"),
            explode(WebText.extractHrefs(html)).as("href"))
          .select(col("src_host"),
            WebText.resolveDstHost(col("href"), col("src_host")).as("dst_host"))
        val out = edges.groupBy(col("src_host").as("host"))
          .agg(count(lit(1)).as("out_links"),
            countDistinct(col("dst_host")).as("out_hosts"))
        val in = edges.groupBy(col("dst_host").as("host"))
          .agg(count(lit(1)).as("in_links"),
            countDistinct(col("src_host")).as("in_hosts"))
        out.join(in, Seq("host"), "full_outer")
          .select(col("host"),
            coalesce(col("out_links"), lit(0L)).as("out_links"),
            coalesce(col("out_hosts"), lit(0L)).as("out_hosts"),
            coalesce(col("in_links"), lit(0L)).as("in_links"),
            coalesce(col("in_hosts"), lit(0L)).as("in_hosts"))
          .orderBy(col("host"))
      },
      Some("""
        WITH urls AS (
          SELECT doc_id,
                 CASE doc_id % 4 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https'
                      WHEN 2 THEN 'HTTP' ELSE 'HttpS' END
                 || '://WWW.Example' || (doc_id % 7) || '.COM'
                 || CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                         WHEN 2 THEN ':8080' ELSE '' END
                 || '/p' AS url
          FROM documents),
        hosts AS (
          SELECT doc_id,
                 CASE WHEN scheme = 'http' THEN regexp_replace(a0, ':80$', '')
                      WHEN scheme = 'https' THEN regexp_replace(a0, ':443$', '')
                      ELSE a0 END AS src_host
          FROM (SELECT doc_id,
                       lower(regexp_extract(url, '^([^:]+)://', 1)) AS scheme,
                       regexp_replace(lower(regexp_extract(url, '^[^:]+://([^/?#]*)', 1)),
                                      '^(www\.)+', '') AS a0
                FROM urls)),
        h AS (
          SELECT doc_id,
                 '<p>see <a href="http://x' || (doc_id % 7) || '.com/p' || (doc_id % 13)
                 || '">link one</a> and <A HREF=''/rel/' || (doc_id % 5) || '''>two</A>'
                 || CASE WHEN doc_id % 3 = 0
                         THEN ' <a class="x" href="#frag">self</a>' ELSE '' END
                 || ' <a name="n">nohref</a></p>' AS html
          FROM documents),
        links AS (SELECT doc_id,
                         unnest(regexp_extract_all(html,
                           '(?i)<a\s[^>]*href\s*=\s*["'']([^"'']*)["'']', 1)) AS href
                  FROM h),
        edges AS (
          SELECT s.src_host,
                 CASE WHEN lower(href) LIKE 'http://%'
                      THEN regexp_replace(regexp_replace(lower(
                             regexp_extract(href, '^[^:]+://([^/?#]*)', 1)),
                             '^(www\.)+', ''), ':80$', '')
                      WHEN lower(href) LIKE 'https://%'
                      THEN regexp_replace(regexp_replace(lower(
                             regexp_extract(href, '^[^:]+://([^/?#]*)', 1)),
                             '^(www\.)+', ''), ':443$', '')
                      ELSE s.src_host END AS dst_host
          FROM links l JOIN hosts s USING (doc_id)),
        o AS (SELECT src_host AS host, COUNT(*) AS out_links,
                     COUNT(DISTINCT dst_host) AS out_hosts
              FROM edges GROUP BY 1),
        i AS (SELECT dst_host AS host, COUNT(*) AS in_links,
                     COUNT(DISTINCT src_host) AS in_hosts
              FROM edges GROUP BY 1)
        SELECT coalesce(o.host, i.host) AS host,
               CAST(coalesce(o.out_links, 0) AS BIGINT) AS out_links,
               CAST(coalesce(o.out_hosts, 0) AS BIGINT) AS out_hosts,
               CAST(coalesce(i.in_links, 0) AS BIGINT) AS in_links,
               CAST(coalesce(i.in_hosts, 0) AS BIGINT) AS in_hosts
        FROM o FULL JOIN i ON o.host = i.host ORDER BY host
      """)),

    // ------------------------------------------------------------------
    // T5/UL2-style span corruption (operators/SpanMask): deterministic
    // sha256-decided mask spans → numbered sentinels in the input,
    // sentinel+swallowed tokens in the target. The whole denoising
    // preprocessing — start decisions, span lengths, run merging,
    // sentinel numbering, both reassemblies — is integer/window logic,
    // replayed in DuckDB with the portable sha256-prefix hash.
    Q("x_span_corrupt",
      (s, dir) => graft.operators.SpanMask.spanCorrupt(
          Tables.documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH toks AS (SELECT doc_id, $Toks AS tk FROM documents),
        ex AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS i, tk FROM toks),
        hx AS (SELECT doc_id, i - 1 AS pos, tk[i] AS tok,
                      sha256('m:' || doc_id || ':' || (i - 1)) AS h
               FROM ex),
        flg AS (SELECT doc_id, pos, tok,
                       (('0x' || substr(h, 1, 8))::BIGINT % 1000) < 80 AS start,
                       CASE WHEN (('0x' || substr(h, 1, 8))::BIGINT % 1000) < 80
                            THEN pos + (('0x' || substr(h, 9, 8))::BIGINT % 3) + 1
                       END AS span_end
                FROM hx),
        mk AS (SELECT *, coalesce(MAX(span_end) OVER
                   (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) >= pos,
                 FALSE) AS masked
               FROM flg),
        rn AS (SELECT *, masked AND NOT coalesce(lag(masked) OVER
                   (PARTITION BY doc_id ORDER BY pos), FALSE) AS new_run
               FROM mk),
        ri AS (SELECT *, SUM(CASE WHEN new_run THEN 1 ELSE 0 END) OVER
                   (PARTITION BY doc_id ORDER BY pos) AS run_idx
               FROM rn),
        inp AS (SELECT doc_id,
                       string_agg(CASE WHEN masked THEN '<m' || (run_idx - 1) || '>'
                                       ELSE tok END, ' ' ORDER BY pos) AS masked_input
                FROM ri WHERE NOT masked OR new_run GROUP BY doc_id),
        tgt AS (SELECT doc_id,
                       string_agg(CASE WHEN new_run
                                       THEN '<m' || (run_idx - 1) || '> ' || tok
                                       ELSE tok END, ' ' ORDER BY pos) AS target
                FROM ri WHERE masked GROUP BY doc_id),
        st AS (SELECT doc_id,
                      SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS n_masked,
                      SUM(CASE WHEN new_run THEN 1 ELSE 0 END) AS n_spans
               FROM ri GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(i.masked_input, '') AS masked_input,
               coalesce(t.target, '') AS target,
               CAST(coalesce(st.n_masked, 0) AS BIGINT) AS n_masked,
               CAST(coalesce(st.n_spans, 0) AS BIGINT) AS n_spans
        FROM documents d
        LEFT JOIN inp i USING (doc_id)
        LEFT JOIN tgt t ON t.doc_id = d.doc_id
        LEFT JOIN st ON st.doc_id = d.doc_id
        ORDER BY d.doc_id
      """)),

    // ------------------------------------------------------------------
    // PageRank (3 unrolled iterations) in FIXED-POINT INTEGER arithmetic
    // — every step is a join + sum + floor division, so the iterative
    // ranks themselves are bit-exact cross-engine (floor div of
    // positives is engine-independent; float PageRank never hashes).
    // Edge set is a deterministic doc_id-derived host graph; dangling
    // mass drops identically on both sides. Scale shape per iteration:
    // one equi-join on src (ranks side is node-cardinality → broadcast),
    // one dst-keyed sum — the standard distributed PageRank step with no
    // driver-side state beyond the single-row node count.
    Q("q_pagerank",
      (s, dir) => {
        val S = 1000000000000L
        val edges = Tables.documents(s, dir).select(
            concat(lit("h"), (col("doc_id") % 7).cast("string")).as("src"),
            concat(lit("h"), ((col("doc_id") * 3 + 1) % 11).cast("string")).as("dst"))
          .distinct()
        val nodes = edges.select(col("src").as("host"))
          .union(edges.select(col("dst").as("host"))).distinct()
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val base = nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("n"))))
        var ranks = base.select(col("host"), col("n"), expr(s"$S div n").as("r"))
        for (_ <- 1 to 3) {
          val contrib = edges
            .join(ranks.select(col("host").as("src"), col("r")), Seq("src"))
            .join(deg, Seq("src"))
            .select(col("dst"), expr("r div deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("s"))
          ranks = base.join(contrib, base("host") === contrib("dst"), "left")
            .select(base("host"), base("n"),
              (expr(s"${15 * S} div (100 * n)") +
                expr("(85 * coalesce(s, 0)) div 100")).as("r"))
        }
        ranks.select(col("host"), col("r").as("rank_e12")).orderBy(col("host"))
      },
      Some("""
        WITH edges AS (SELECT DISTINCT 'h' || (doc_id % 7) AS src,
                                       'h' || ((doc_id * 3 + 1) % 11) AS dst
                       FROM documents),
        nodes AS (SELECT src AS host FROM edges UNION SELECT dst FROM edges),
        deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        q AS (SELECT host, n FROM nodes CROSS JOIN nn),
        r0 AS (SELECT host, n, 1000000000000 // n AS r FROM q),
        c1 AS (SELECT e.dst, SUM(r.r // d.deg) AS s FROM edges e
               JOIN r0 r ON r.host = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r1 AS (SELECT q.host, q.n, 15000000000000 // (100 * q.n)
                      + (85 * coalesce(c.s, 0)) // 100 AS r
               FROM q LEFT JOIN c1 c ON c.dst = q.host),
        c2 AS (SELECT e.dst, SUM(r.r // d.deg) AS s FROM edges e
               JOIN r1 r ON r.host = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r2 AS (SELECT q.host, q.n, 15000000000000 // (100 * q.n)
                      + (85 * coalesce(c.s, 0)) // 100 AS r
               FROM q LEFT JOIN c2 c ON c.dst = q.host),
        c3 AS (SELECT e.dst, SUM(r.r // d.deg) AS s FROM edges e
               JOIN r2 r ON r.host = e.src JOIN deg d ON d.src = e.src GROUP BY e.dst),
        r3 AS (SELECT q.host, 15000000000000 // (100 * q.n)
                      + (85 * coalesce(c.s, 0)) // 100 AS r
               FROM q LEFT JOIN c3 c ON c.dst = q.host)
        SELECT host, CAST(r AS BIGINT) AS rank_e12 FROM r3 ORDER BY host
      """)),

    // ------------------------------------------------------------------
    // CCNet-style LM buckets: per-language head/middle/tail terciles by
    // the char-bigram LM fluency proxy (mean corpus df per bigram,
    // integer-scaled with floor division → engine-exact ordering and
    // NTILE boundaries; the float bits/char the users consume orders
    // identically). Per-LANG windows — bounded partitions, unlike a
    // global sort; the sketch-boundary q_ntile_approx is the path when
    // even one language outgrows a partition.
    Q("x_ccnet_buckets",
      (s, dir) => {
        import graft.operators.TextClean
        val docs = Tables.documents(s, dir)
        val scored = TextClean.charLmScore(docs, "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_bigrams"), col("sum_df"))
        val w = Window.partitionBy(col("lang"))
          .orderBy(col("metric").desc, col("doc_id"))
        scored.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
          .withColumn("metric", expr("(sum_df * 1000000) div n_bigrams"))
          .withColumn("bucket", ntile(3).over(w).cast("long"))
          .select(col("doc_id"), col("lang"), col("metric"), col("bucket"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, length(text)),
                        i -> substr(text, i, 2))) AS bigram
          FROM documents),
        cnt AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY 1),
        scored AS (SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                          CAST(SUM(c) AS BIGINT) AS sum_df
                   FROM bg JOIN cnt USING (bigram) GROUP BY bg.doc_id),
        m AS (SELECT s.doc_id, d.lang,
                     (sum_df * 1000000) // n_bigrams AS metric
              FROM scored s JOIN documents d USING (doc_id))
        SELECT doc_id, lang, CAST(metric AS BIGINT) AS metric,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY metric DESC, doc_id) AS bucket
        FROM m ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Leakage-safe train/heldout split: near-dup COMPONENTS (the same
    // deterministic exact-Jaccard edges + star-contraction d_dedup_
    // components verifies) are the split unit, so two near-duplicate
    // documents can never land on opposite sides of the split — the
    // group-integrity property a plain per-doc hash split (x_hash_
    // sample) cannot give. Deterministic: the component label's sha256
    // decides the side. The oracle replays closure + split in DuckDB.
    Q("x_leakage_split",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // connectedComponents, not starComponents directly: it persists
        // the expensive jaccard-join pair pipeline (one evaluation, not
        // one per consumer) and solves the usually-tiny pair graph with
        // the driver union-find fast path (measured 7.2 s → ~2.5 s at
        // sf0.1; label semantics identical — spec'd in DedupResolveSpec).
        leakageSplitFrom(docs,
          TextDedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.8))
      },
      Some("""
        WITH RECURSIVE
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        p AS (SELECT c.id_a, c.id_b
              FROM cand c
              JOIN sh a ON a.doc_id = c.id_a
              JOIN sh b ON b.doc_id = c.id_b
              WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                    (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.8),
        e AS (SELECT id_a AS u, id_b AS v FROM p
              UNION SELECT id_b, id_a FROM p
              UNION SELECT id_a, id_a FROM p
              UNION SELECT id_b, id_b FROM p),
        reach(u, v) AS (SELECT u, v FROM e
                        UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        lab AS (SELECT u AS id, MIN(v) AS label FROM reach GROUP BY u),
        g AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS grp
              FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
        SELECT doc_id, grp,
               CASE WHEN ('0x' || substr(sha256(CAST(grp AS VARCHAR)), 1, 8))::UBIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'heldout' END AS split
        FROM g ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // The CORPUS-SCALE leakage split: same split semantics, but the
    // edges are the PPJoin prefix-filter CANDIDATES without the
    // per-pair exact-Jaccard verification — the CPU-dominant stage of
    // the exact query (one array_intersect per candidate). Candidates
    // are a deterministic SUPERSET of the Jaccard ≥ t pairs (prefix
    // bound), and for split integrity a superset is conservative: extra
    // edges only merge more components, so two true near-duplicates
    // still always share a side (LeakageSplitSpec proves the exact
    // split's groups refine into this one's). At sf0.1/32 cores the
    // saving is modest (2.0 vs 2.2 s isolated — spread() hides the
    // verify stage behind parallelism); the point is the COST MODEL:
    // the dropped stage does one array_intersect over both FULL shingle
    // sets per candidate, O(cands·|doc|), while everything kept is
    // prefix-sized — at corpus scale the verify stage dominates and the
    // gap grows with candidate count. Oracle replays prefix selection
    // (rarest-first (df, shingle) order), candidate join, closure, and
    // split.
    Q("x_leakage_split_fast",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        leakageSplitFrom(docs,
          TextDedup.ppjoinCandidates(docs, "doc_id", "text", threshold = 0.8))
      },
      Some("""
        WITH RECURSIVE
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        dfreq AS (SELECT shingle, COUNT(*) AS df FROM ex GROUP BY shingle),
        szs AS (SELECT doc_id, len(sh) AS sz FROM sh),
        pfx AS (SELECT doc_id, sz, shingle FROM (
                  SELECT e.doc_id, e.shingle, s.sz,
                         ROW_NUMBER() OVER (PARTITION BY e.doc_id
                                            ORDER BY d.df, e.shingle) AS rn
                  FROM ex e
                  JOIN dfreq d USING (shingle)
                  JOIN szs s USING (doc_id))
                WHERE rn <= sz - CAST(ceil(sz * 0.8) AS BIGINT) + 1),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM pfx a JOIN pfx b
                   ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  AND b.sz >= a.sz * 0.8 AND a.sz >= b.sz * 0.8),
        e AS (SELECT id_a AS u, id_b AS v FROM cand
              UNION SELECT id_b, id_a FROM cand
              UNION SELECT id_a, id_a FROM cand
              UNION SELECT id_b, id_b FROM cand),
        reach(u, v) AS (SELECT u, v FROM e
                        UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        lab AS (SELECT u AS id, MIN(v) AS label FROM reach GROUP BY u),
        g AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS grp
              FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
        SELECT doc_id, grp,
               CASE WHEN ('0x' || substr(sha256(CAST(grp AS VARCHAR)), 1, 8))::UBIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'heldout' END AS split
        FROM g ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // The BANDED leakage split: same split semantics, but the groups
    // come from MinHash-band BUCKET MEMBERSHIP fed through the
    // bucket-star contraction (`DedupResolve.bucketComponents`): each
    // band bucket contracts to (min member → other members) STAR edges
    // — the same transitive closure as the within-bucket clique
    // (LeakageSplitSpec proves the equivalence) without ever generating
    // pairs. That removes the Σ bucket² pair-join term that makes both
    // sibling variants grow with corpus-wide shingle df: per-doc cost
    // is a constant 16 band memberships, a flood bucket costs n−1
    // star edges instead of n²/2 pairs, and no maxBucket cap is
    // needed. The trade: unlike the prefix-filter candidates this edge
    // set is NOT a deterministic superset of the Jaccard ≥ t pairs —
    // recall per true pair at J ≥ 0.8 is 1−(1−J²)¹⁶ ≥ 1−8.7e−8
    // (16 bands × 2 rows), so the guarantee is
    // probabilistic-but-astronomical rather than proved. Signatures and
    // bands are the sha256 portable family, so the WHOLE pipeline —
    // minhash, band buckets, star edges, closure, split — replays
    // bit-exactly in the oracle.
    Q("x_leakage_split_banded",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bands = MinHashLsh.portableBands(MinHashLsh.portableMinhashSig(docs))
        leakageSplitFromComps(docs,
          DedupResolve.bucketComponents(
              bands.select(col("doc_id"),
                struct(col("b"), col("k1"), col("k2")).as("bucket")),
              idCol = "doc_id")
            .withColumnRenamed("id", "doc_id"))
      },
      Some("""
        WITH RECURSIVE
        base AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                        x -> x <> '') AS ts
                 FROM documents),
        sh AS (SELECT doc_id,
                 CASE WHEN len(ts) < 3 THEN [array_to_string(ts, ' ')]
                      ELSE list_distinct(list_transform(range(0, len(ts) - 2),
                             i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))
                 END AS shs
               FROM base),
        hx AS (SELECT doc_id, seed,
                 MIN(('0x' || substr(sha256(CAST(seed // 8 AS VARCHAR) || '|' || shingle),
                                     CAST(1 + 8 * (seed % 8) AS INT), 8))::BIGINT) AS mh
               FROM (SELECT doc_id, unnest(shs) AS shingle FROM sh),
                    (SELECT unnest(range(0, 32)) AS seed)
               GROUP BY doc_id, seed),
        sig AS (SELECT doc_id, list(mh ORDER BY seed) AS sig FROM hx GROUP BY doc_id),
        bands AS (SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
                  FROM sig, (SELECT unnest(range(0, 16)) AS b)),
        mn AS (SELECT b, k1, k2, MIN(doc_id) AS m
               FROM bands GROUP BY b, k1, k2),
        p AS (SELECT DISTINCT mn.m AS u, bands.doc_id AS v
              FROM bands JOIN mn USING (b, k1, k2)
              WHERE bands.doc_id <> mn.m),
        e AS (SELECT u, v FROM p
              UNION SELECT v, u FROM p
              UNION SELECT u, u FROM p
              UNION SELECT v, v FROM p),
        reach(u, v) AS (SELECT u, v FROM e
                        UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
        lab AS (SELECT u AS id, MIN(v) AS label FROM reach GROUP BY u),
        g AS (SELECT d.doc_id, coalesce(l.label, d.doc_id) AS grp
              FROM documents d LEFT JOIN lab l ON l.id = d.doc_id)
        SELECT doc_id, grp,
               CASE WHEN ('0x' || substr(sha256(CAST(grp AS VARCHAR)), 1, 8))::UBIGINT
                         % 100 < 90
                    THEN 'train' ELSE 'heldout' END AS split
        FROM g ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // The banded split over the FAST xxhash64 minhash family — the
    // production-path twin of x_leakage_split_banded, same band
    // geometry (16×2 over 32 positions) and the same bucket-star
    // component shape, with the sha256 portability discipline swapped
    // for the native xxhash64 signatures
    // (MinHashLsh.withMinhashSignature/bandKeys — one narrow codegen'd
    // projection, no per-shingle join). rows-only like every xxhash64
    // query (no DuckDB builtin) — the portable twin is the bit-level
    // oracle anchor, same pattern as d_dedup_minhash_lsh (32) /
    // d_minhash_portable (32b).
    Q("x_leakage_split_banded_fast",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        // Doc-keyed repartition BEFORE the signature projection: the
        // corpus parquet is few-files/compact (58 MB at sf10 = ONE scan
        // split), and the per-doc 32-way minhash is the CPU-dominant
        // stage — computed in the scan projection it runs on one core
        // (246 s at sf10 vs 8.5 s spread, r8 measurement). Same
        // discipline as MinHashLsh.portableMinhashSig's repartition.
        val spreadDocs = docs.select(col("doc_id"), col("text"))
          .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
            col("doc_id"))
        val bands = MinHashLsh.withMinhashSignature(
            spreadDocs, "text",
            shingleN = 3, numHashes = 32)
          .select(col("doc_id"),
            posexplode(MinHashLsh.bandKeys(col("sig"), 32, 2))
              .as(Seq("band", "key")))
        leakageSplitFromComps(docs,
          DedupResolve.bucketComponents(
              bands.select(col("doc_id"),
                xxhash64(col("band"), col("key")).as("bucket")),
              idCol = "doc_id")
            .withColumnRenamed("id", "doc_id"))
      },
      None),

    // ------------------------------------------------------------------
    // Deterministic weighted sampling WITHOUT replacement (per-language
    // top-k), the quality-weighted document sampler a mixing stage runs.
    // Efraimidis–Spirakis semantics with an INTEGER-EXACT key: a doc of
    // integer weight w draws w independent 32-bit hashes h(doc_id, j)
    // and keeps the minimum. P(min_i < min_j) = w_i / (w_i + w_j) — the
    // exact A-ES pairwise inclusion law — with no transcendental math
    // (no ln/pow), so Spark and DuckDB agree bit-for-bit and the draw is
    // reproducible run-to-run. Weights are bounded (1..8 from a length
    // bucket), so the explode is a ≤8× narrow fan-out; the per-doc min
    // is a map-side partial agg; the per-group top-k goes through
    // TopKAgg's bounded heaps (k rows per group per partition cross the
    // shuffle — never a data-sized window sort). That is the 100 TB
    // shape: linear scan, bounded fan-out, bounded shuffle.
    Q("x_weighted_sample",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            least(greatest(expr("n_chars DIV 64"), lit(1)), lit(8)).as("w"))
        val keyed = d
          .select(col("doc_id"), col("lang"),
            explode(sequence(lit(1), col("w"))).as("j"))
          .select(col("doc_id"), col("lang"),
            conv(substring(sha2(concat(col("doc_id").cast("string"), lit(":"),
              col("j").cast("string")), 256), 1, 8), 16, 10)
              .cast("long").as("hk"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(min(col("hk")).as("samp_key"))
        // score = -key: TopKAgg keeps the k highest scores, i.e. the k
        // SMALLEST keys; its tie-break (equal score → smaller payload
        // retained first) matches the oracle's ORDER BY samp_key, doc_id.
        graft.operators.ScaleJoins.topKPerGroup(
            keyed.withColumn("neg_key", -col("samp_key")),
            Seq("lang"), "neg_key", "doc_id", k = 5)
          .select(col("lang"), col("doc_id"),
            (-col("neg_key")).cast("long").as("samp_key"),
            col("rk").cast("int").as("rk"))
          .orderBy(col("lang"), col("rk"))
      },
      Some("""
        WITH d AS (SELECT doc_id, lang,
                          least(greatest(n_chars // 64, 1), 8) AS w
                   FROM documents),
        keyed AS (SELECT doc_id, lang,
                         MIN(('0x' || substr(sha256(CAST(doc_id AS VARCHAR) || ':' ||
                                             CAST(j AS VARCHAR)), 1, 8))::BIGINT)
                           AS samp_key
                  FROM d, unnest(range(1, w + 1)) AS t(j)
                  GROUP BY doc_id, lang),
        ranked AS (SELECT lang, doc_id, samp_key,
                          ROW_NUMBER() OVER (PARTITION BY lang
                                             ORDER BY samp_key, doc_id) AS rk
                   FROM keyed)
        SELECT lang, doc_id, samp_key, CAST(rk AS INT) AS rk
        FROM ranked WHERE rk <= 5 ORDER BY lang, rk
      """)),

    // ------------------------------------------------------------------
    // Count-Min token frequencies (CountMinAgg): point-estimates for the
    // exact top-20 tokens read from ONE depth×width counter grid whose
    // shuffle is constant-size regardless of vocabulary (the per-item
    // frequency plan that survives an open 100 TB token space; see the
    // aggregate's scaladoc). The published columns are the exact counts
    // (oracled) plus the sketch's soundness verdicts: est_ge_exact must
    // be TRUE for every token (one-sidedness is unconditional), and
    // est_within_bound must be TRUE at this corpus (deterministic
    // dataset + deterministic hashes → the ≤ 2N/width overshoot either
    // always holds or never does). The estimate itself is read back with
    // pure Catalyst array ops — same builtin xxhash64 family as the
    // update path. Magnitude checks live in CountMinSpec.
    Q("x_countmin_freq",
      (s, dir) => {
        import graft.functions.{countMin, tokens, CountMinAgg}
        val toks = Tables.documents(s, dir)
          .select(explode(tokens(col("text"))).as("tok"))
        val sk = toks.agg(countMin(col("tok"), 4, 2048).as("sk"))
        val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n_exact"))
          .orderBy(col("n_exact").desc, col("tok")).limit(20)
        val est = CountMinAgg.estimate(col("sk"), col("tok"), 4, 2048)
        exact.crossJoin(broadcast(sk))
          .select(col("tok"), col("n_exact"),
            (est >= col("n_exact")).as("est_ge_exact"),
            (est - col("n_exact") <=
              col("sk").getField("total") * 2 / 2048).as("est_within_bound"))
          .orderBy(col("n_exact").desc, col("tok"))
      },
      Some(s"""
        WITH t AS (SELECT $Toks AS toks FROM documents),
        e AS (SELECT unnest(toks) AS tok FROM t),
        counts AS (SELECT tok, COUNT(*) AS n_exact FROM e GROUP BY 1)
        SELECT tok, n_exact, TRUE AS est_ge_exact, TRUE AS est_within_bound
        FROM counts ORDER BY n_exact DESC, tok LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // URL-keyed dedup — the FIRST dedup pass of a crawl corpus (before
    // any content hashing): canonicalize the page URL, keep the best
    // fetch per canonical URL (longest content, then lowest doc_id).
    // Every decoration here (scheme case, www, default :80, duplicate
    // slashes, trailing slash, utm_*/fbclid params, fragment) must be
    // erased by WebText.urlNormalize for the groups to form — the
    // oracle builds the canonical form ARITHMETICALLY, so a normalizer
    // regression surfaces as a hash mismatch, not just a changed group
    // count. Scale shape: one narrow projection then a url-keyed window
    // (WindowGroupLimit pushes the top-1); output is one row per
    // canonical URL.
    Q("x_dedup_url",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val m4 = col("doc_id") % 4
        val url = concat(
          when(m4 === 0, "HTTP").when(m4 === 1, "http")
            .when(m4 === 2, "hTTp").otherwise("HtTP"),
          lit("://"),
          when(m4 % 2 === 0, "WWW.").otherwise(""),
          lit("Example"), (col("doc_id") % 5).cast("string"), lit(".COM"),
          when(m4 === 0, ":80").otherwise(""),
          when(m4 === 1, "//Pg//").otherwise("/Pg/"),
          (col("doc_id") % 10).cast("string"),
          when(m4 === 3, "/").otherwise(""),
          lit("?utm_source=feed"),
          when(m4 === 1, "&fbclid=z").otherwise(""),
          lit("#s"))
        val w = Window.partitionBy(col("url_norm"))
        val keyed = Tables.documents(s, dir)
          .select(col("doc_id"), col("n_chars"),
            graft.operators.WebText.urlNormalize(url).as("url_norm"))
        keyed
          .withColumn("rn", row_number().over(
            w.orderBy(col("n_chars").desc, col("doc_id"))))
          .withColumn("n_dups", count(lit(1)).over(w))
          .filter(col("rn") === 1)
          .select(col("url_norm"), col("doc_id").as("keep_id"), col("n_dups"))
          .orderBy(col("url_norm"))
      },
      Some("""
        WITH d AS (SELECT doc_id, n_chars,
                          'http://example' || (doc_id % 5) || '.com/Pg/' ||
                          (doc_id % 10) AS url_norm
                   FROM documents)
        SELECT url_norm, doc_id AS keep_id,
               COUNT(*) OVER (PARTITION BY url_norm) AS n_dups
        FROM d
        QUALIFY ROW_NUMBER() OVER (PARTITION BY url_norm
                                   ORDER BY n_chars DESC, doc_id) = 1
        ORDER BY url_norm
      """)),

    // ------------------------------------------------------------------
    // Repeated-passage mining — the boilerplate detector ABOVE line
    // granularity (x_boilerplate_lines catches repeated lines; this
    // catches repeated 8-gram passages anywhere in the text — license
    // headers, navigation chrome, templated sentences): per-doc distinct
    // 8-grams (one narrow native-expression projection), document
    // frequency + first-seen example per passage, df ≥ 2 survivors
    // ranked. TakeOrdered top-20 — at corpus scale the heavy tail stays
    // distributed and only k rows reach the driver.
    Q("x_passage_mine",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), explode(TextDedup.wordShingles(col("text"), 8))
          .as("passage"))
        .groupBy(col("passage"))
        .agg(count(lit(1)).as("df"), min(col("doc_id")).as("example_doc"))
        .filter(col("df") >= 2)
        .orderBy(col("df").desc, col("passage"))
        .limit(20),
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
        g AS (SELECT doc_id,
                     CASE WHEN len(toks) <= 8 THEN [array_to_string(toks, ' ')]
                          ELSE list_distinct(list_transform(range(1, len(toks) - 6),
                                 i -> array_to_string(toks[i:i+7], ' '))) END AS grams
              FROM t)
        SELECT passage, COUNT(*) AS df, MIN(doc_id) AS example_doc
        FROM (SELECT doc_id, unnest(grams) AS passage FROM g)
        GROUP BY 1 HAVING COUNT(*) >= 2
        ORDER BY df DESC, passage LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // Math/code-density router — the pretraining-mix stage that routes
    // documents to a math/code-specialist pipeline vs the prose path
    // (OpenWebMath/StackExchange-style selection): symbol-class counts
    // (digits, operators, brackets) and LaTeX-ish command hits in ONE
    // narrow codegen'd projection, densities integer-exact in ppm so
    // the routing decision replays bit-for-bit. The corpus text is
    // prose-only, so docs are deterministically augmented from doc_id
    // (the x_link_graph synthesis pattern) to exercise both routes.
    Q("x_math_density",
      (s, dir) => {
        val suffix = when(col("doc_id") % 7 === 0,
            lit(" E = mc^2 and \\frac{a}{b} + \\alpha * (x + y) / z^2 = 0.5"))
          .when(col("doc_id") % 7 === 3,
            lit(" for (i = 0; i < 10; i++) { s += arr[i] * 2; }"))
          .otherwise(lit(""))
        val body = concat(col("text"), suffix)
        def classCount(pat: String) =
          (length(body) - length(regexp_replace(body, pat, ""))).cast("long")
        Tables.documents(s, dir)
          .select(col("doc_id"),
            length(body).cast("long").as("n_chars"),
            classCount("[0-9]").as("digits"),
            classCount("[=+*/^<>]").as("mathsym"),
            classCount("[(){}\\[\\]]").as("brackets"),
            regexp_count(body, lit("\\\\[a-zA-Z]+")).cast("long")
              .as("latex_cmds"))
          .withColumn("density_e6",
            expr("(digits + mathsym + brackets) * 1000000 DIV nullif(n_chars, 0)"))
          .withColumn("route",
            when(col("density_e6") >= 15000 || col("latex_cmds") >= 2,
              lit("math")).otherwise(lit("prose")))
          .orderBy(col("doc_id"))
      },
      Some(raw"""
        WITH b AS (
          SELECT doc_id,
                 text || CASE doc_id % 7
                   WHEN 0 THEN ' E = mc^2 and \frac{a}{b} + \alpha * (x + y) / z^2 = 0.5'
                   WHEN 3 THEN ' for (i = 0; i < 10; i++) { s += arr[i] * 2; }'
                   ELSE '' END AS body
          FROM documents),
        m AS (
          SELECT doc_id,
                 CAST(length(body) AS BIGINT) AS n_chars,
                 CAST(length(body) - length(regexp_replace(body, '[0-9]', '', 'g')) AS BIGINT) AS digits,
                 CAST(length(body) - length(regexp_replace(body, '[=+*/^<>]', '', 'g')) AS BIGINT) AS mathsym,
                 CAST(length(body) - length(regexp_replace(body, '[(){}\[\]]', '', 'g')) AS BIGINT) AS brackets,
                 CAST(len(regexp_extract_all(body, '\\[a-zA-Z]+')) AS BIGINT) AS latex_cmds
          FROM b)
        SELECT doc_id, n_chars, digits, mathsym, brackets, latex_cmds,
               CAST((digits + mathsym + brackets) * 1000000 // nullif(n_chars, 0) AS BIGINT) AS density_e6,
               CASE WHEN (digits + mathsym + brackets) * 1000000 // nullif(n_chars, 0) >= 15000
                         OR latex_cmds >= 2
                    THEN 'math' ELSE 'prose' END AS route
        FROM m ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Weighted-blocklist safety filter — the wordlist pass every corpus
    // release runs before training: per-term hit counts on NORMALIZED
    // tokens (the duckToks twin — substring hits like 'slowly' must NOT
    // fire a 'slow' rule), a severity score as the weighted sum, and a
    // keep/flag/drop verdict. One narrow projection, no shuffle: the
    // hit counters are codegen'd array-filter sizes over the same token
    // array, so adding rules widens the projection, not the plan.
    Q("x_blocklist_filter",
      (s, dir) => {
        import graft.operators.TextStats.stopwordHits
        val toks = split(graft.functions.normText(col("text")), " ")
        def hits(w: String) = stopwordHits(toks, Seq(w)).cast("long")
        Tables.documents(s, dir)
          .select(col("doc_id"),
            hits("slow").as("n_slow"), hits("merge").as("n_merge"),
            hits("vector").as("n_vector"), hits("big").as("n_big"))
          .withColumn("score",
            col("n_slow") * 3 + col("n_merge") * 2 + col("n_vector") * 5 +
              col("n_big"))
          .withColumn("verdict",
            when(col("score") >= 40, lit("drop"))
              .when(col("score") >= 30, lit("flag")).otherwise(lit("keep")))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents),
        h AS (
          SELECT doc_id,
                 CAST(len(list_filter(toks, x -> x = 'slow')) AS BIGINT) AS n_slow,
                 CAST(len(list_filter(toks, x -> x = 'merge')) AS BIGINT) AS n_merge,
                 CAST(len(list_filter(toks, x -> x = 'vector')) AS BIGINT) AS n_vector,
                 CAST(len(list_filter(toks, x -> x = 'big')) AS BIGINT) AS n_big
          FROM t)
        SELECT doc_id, n_slow, n_merge, n_vector, n_big,
               n_slow * 3 + n_merge * 2 + n_vector * 5 + n_big AS score,
               CASE WHEN n_slow * 3 + n_merge * 2 + n_vector * 5 + n_big >= 40
                    THEN 'drop'
                    WHEN n_slow * 3 + n_merge * 2 + n_vector * 5 + n_big >= 30
                    THEN 'flag' ELSE 'keep' END AS verdict
        FROM h ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // Hashing-trick featurizer (signed feature hashing): per-document
    // sparse 64-bucket bag-of-tokens vectors — bucket from the token's
    // sha256 prefix, ±1 sign from the next hex digit — the classic
    // collision-unbiased input representation for the fastText-style
    // quality classifier (x_quality_classifier) and any linear probe.
    // Scale shape: explode → (doc, bucket) partial-agg — ONE shuffle
    // whose width is min(tokens, 64)/doc, never a vocabulary build; the
    // sha256 hash family keeps it engine-portable (the x_dsir_features
    // anchor pattern). Deterministic doc_id sample bounds the output.
    Q("x_hashed_bow",
      (s, dir) => {
        val toks = split(graft.functions.normText(col("text")), " ")
        Tables.documents(s, dir).filter(col("doc_id") % 11 === 0)
          .select(col("doc_id"), explode(toks).as("tok"))
          .filter(col("tok") =!= "")
          .withColumn("h", sha2(col("tok"), 256))
          .select(col("doc_id"),
            (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 64)
              .as("bucket"),
            when(conv(substring(col("h"), 9, 1), 16, 10).cast("int") >= 8,
              lit(-1L)).otherwise(lit(1L)).as("sgn"))
          .groupBy(col("doc_id"), col("bucket"))
          .agg(sum(col("sgn")).as("w"))
          .filter(col("w") =!= 0)
          .orderBy(col("doc_id"), col("bucket"))
      },
      Some(s"""
        WITH t AS (SELECT doc_id, $Toks AS toks FROM documents
                   WHERE doc_id % 11 = 0),
        h AS (SELECT doc_id, sha256(tok) AS hh
              FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
              WHERE tok <> ''),
        b AS (SELECT doc_id,
                     ('0x' || substr(hh, 1, 8))::BIGINT % 64 AS bucket,
                     CASE WHEN ('0x' || substr(hh, 9, 1))::BIGINT >= 8
                          THEN -1 ELSE 1 END AS sgn
              FROM h)
        SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS w
        FROM b GROUP BY 1, 2 HAVING SUM(sgn) <> 0
        ORDER BY doc_id, bucket
      """)),

    // ------------------------------------------------------------------
    // Corpus novelty curve: per doc, how many of its distinct 3-gram
    // shingles appear in NO earlier (lower doc_id) document — the
    // contribution-ordering metric behind dataset dedup ROI and
    // curriculum ordering (a late doc with novelty ~0 is pure repeat).
    // One partial-agg'd min(doc_id) per shingle; the attribution join
    // reuses the explode's exchange (same subtree, same key), so the
    // whole query is ONE logical shuffle of the shingle stream plus the
    // per-doc agg — no pair join, flood shingles cost one row each.
    Q("x_shingle_novelty",
      (s, dir) => {
        val sh = Tables.documents(s, dir).select(col("doc_id"),
          explode(TextDedup.wordShingles(col("text"), 3)).as("shingle"))
        val firsts = sh.groupBy("shingle").agg(min("doc_id").as("first_doc"))
        sh.join(firsts, Seq("shingle"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_shingles"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .withColumn("novelty_ppm",
            expr("n_novel * 1000000 DIV n_shingles"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY 1)
        SELECT e.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
        FROM ex e JOIN f USING (shingle)
        GROUP BY e.doc_id ORDER BY e.doc_id
      """)),

    // ------------------------------------------------------------------
    // Corpus bigram association (PMI-style lift): for adjacent token
    // pairs, occurrence count and integer-ppm lift vs the unigram
    // marginals — (n_xy·N·1e6)/(n_x·n_y), the collocation detector
    // behind phrase mining and tokenizer merge candidates (a lift far
    // above 1e6 = the pair co-occurs far beyond independence). The
    // integer ratio is rank-equivalent to log-PMI and engine-exact —
    // the x_tfidf discipline (ln() is libm-dependent). Positional
    // bigrams come straight off the token array (zip_with of two
    // slices, zero shuffle); then ONE vocabulary-sized groupBy each for
    // pairs and marginals and two vocabulary-keyed joins — nothing is
    // ever document-pair shaped, flood tokens cost one row each.
    // Decimal/HUGEINT arithmetic keeps n_xy·N·1e6 exact at corpus
    // scale; min-support 5 bounds the reported tail.
    Q("x_token_pmi",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(split(graft.functions.normText(col("text")), " ").as("t0"))
          .select(expr("filter(t0, x -> x <> '')").as("toks"))
        val uni = t.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        // Σ n over uni ≡ Σ size(toks) over t — but the narrow-scan form
        // needs no explode and no shuffle, and (unlike a third `uni`
        // consumer) cannot re-execute the vocabulary aggregation: the
        // single-partition total-agg exchange can't reuse uni's hash
        // exchange, so deriving the total from uni would run the
        // explode+groupBy a third time (measured at factor 1000).
        val tot = t.agg(
          sum(size(col("toks")).cast("long")).as("n_tot"))
        val bi = t.filter(size(col("toks")) >= 2)
          .select(explode(expr(
            """zip_with(slice(toks, 1, size(toks) - 1),
                        slice(toks, 2, size(toks) - 1),
                        (a, b) -> named_struct('x', a, 'y', b))""")).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"))
          .groupBy(col("x"), col("y")).agg(count(lit(1)).as("n_xy"))
          .filter(col("n_xy") >= 5)
        bi.join(uni.toDF("x", "n_x"), Seq("x"))
          .join(uni.toDF("y", "n_y"), Seq("y"))
          .crossJoin(broadcast(tot))
          .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
            expr("""CAST((CAST(n_xy AS DECIMAL(38,0)) * n_tot * 1000000)
                    DIV (CAST(n_x AS DECIMAL(38,0)) * n_y) AS BIGINT)""")
              .as("lift_ppm"))
          .orderBy(col("lift_ppm").desc, col("x"), col("y"))
          .limit(20)
      },
      Some(s"""
        WITH t AS (SELECT list_filter($Toks, x -> x <> '') AS toks
                   FROM documents),
        uni AS (SELECT unnest(toks) AS tok FROM t),
        u AS (SELECT tok, COUNT(*) AS n FROM uni GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM u),
        bg AS (SELECT unnest(list_transform(range(1, len(toks)),
                     i -> toks[i] || ' ' || toks[i+1])) AS b
               FROM t WHERE len(toks) >= 2),
        p AS (SELECT string_split(b, ' ')[1] AS x,
                     string_split(b, ' ')[2] AS y, COUNT(*) AS n_xy
              FROM bg GROUP BY 1, 2 HAVING COUNT(*) >= 5)
        SELECT x, y, n_xy, ux.n AS n_x, uy.n AS n_y,
               CAST(CAST(n_xy AS HUGEINT) * n_tot * 1000000
                    // (CAST(ux.n AS HUGEINT) * uy.n) AS BIGINT)
                 AS lift_ppm
        FROM p JOIN u ux ON p.x = ux.tok JOIN u uy ON p.y = uy.tok, tot
        ORDER BY lift_ppm DESC, x, y LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // Vocabulary coverage curve: the top-100 tokens by occurrence with
    // cumulative corpus coverage in ppm — the tokenizer-budget planning
    // readout ("how much of the token stream do the first k vocabulary
    // entries absorb"). ONE vocabulary-sized groupBy; the top-100 is a
    // TakeOrdered merge (per-partition heaps, never a global sort), and
    // the ordered cum-sum window runs AFTER the 100-row truncation, so
    // its single partition holds exactly 100 rows at ANY corpus size.
    // Decimal cum·1e6 arithmetic cannot overflow long at 100 TB token
    // counts (the q_basket_affinity discipline).
    Q("x_vocab_coverage",
      (s, dir) => {
        val t = Tables.documents(s, dir)
          .select(split(graft.functions.normText(col("text")), " ").as("t0"))
          .select(expr("filter(t0, x -> x <> '')").as("toks"))
        val uni = t.select(explode(col("toks")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        // Narrow-scan total (the x_token_pmi discipline): a second `uni`
        // consumer would re-run the explode+vocabulary groupBy.
        val tot = t.agg(
          sum(size(col("toks")).cast("long")).as("n_tot"))
        // Bounded frame: the window runs over the limit(100) rows only —
        // the "No Partition Defined" WARN is benign here.
        val w = Window.orderBy(col("n").desc, col("tok"))
        uni.orderBy(col("n").desc, col("tok")).limit(100)
          .crossJoin(broadcast(tot))
          .withColumn("rk", row_number().over(w))
          .withColumn("cum_n", sum(col("n")).over(w))
          .select(col("rk"), col("tok"), col("n"),
            expr("""CAST((CAST(cum_n AS DECIMAL(38,0)) * 1000000)
                    DIV n_tot AS BIGINT)""").as("cum_share_ppm"))
          .orderBy(col("rk"))
      },
      Some(s"""
        WITH uni AS (SELECT unnest(list_filter($Toks, x -> x <> '')) AS tok
                     FROM documents),
        u AS (SELECT tok, COUNT(*) AS n FROM uni GROUP BY 1),
        tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM u),
        top AS (SELECT tok, n,
                       ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
                FROM u ORDER BY n DESC, tok LIMIT 100)
        SELECT rk, tok, n,
               CAST(CAST(SUM(n) OVER (ORDER BY rk) AS HUGEINT) * 1000000
                    // n_tot AS BIGINT) AS cum_share_ppm
        FROM top, tot ORDER BY rk
      """)),

    // ------------------------------------------------------------------
    // Corpus drift monitor: per source, the total-variation distance
    // between the source's token distribution and the corpus-wide one,
    // in ppm — the distribution-shift readout behind "did this domain's
    // content change / does this slice skew the mix". TV = ½ Σ_t
    // |p_t − q_t| is chosen over KL/JS because it is EXACT in integer
    // arithmetic (no logs): with common denominators,
    // Σ = Σ_present |c_st·N − c_t·n_s| + (N − Σ_present c_t)·n_s
    // (the absent-token mass folds into one closed term), and
    // tv_ppm = Σ·1e6 DIV (2·n_s·N). Σ ≤ 2·n_s·N by construction, so
    // Σ·1e6 stays inside decimal(38)/HUGEINT at ANY corpus size. One
    // (source, tok) shuffle; the vocab and per-source marginals re-agg
    // from that small frame, never rescan; join keyed on vocab.
    Q("x_dist_drift",
      (s, dir) => TextStats.tvDrift(
          TextStats.sourceTokenCounts(Tables.documents(s, dir)))
        .orderBy(col("source")),
      Some(s"""
        WITH tok AS (SELECT source, unnest(list_filter($Toks, x -> x <> ''))
                            AS tok
                     FROM documents),
        st AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY 1, 2),
        ct AS (SELECT tok, CAST(SUM(c_st) AS BIGINT) AS c_t FROM st GROUP BY 1),
        ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM st GROUP BY 1),
        n AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n_tot FROM ns),
        dev AS (SELECT st.source, ns.n_s, n.n_tot,
                       SUM(abs(CAST(c_st AS HUGEINT) * n_tot
                               - CAST(c_t AS HUGEINT) * n_s)) AS present_dev,
                       CAST(SUM(c_t) AS HUGEINT) AS present_ct
                FROM st JOIN ct USING (tok) JOIN ns USING (source), n
                GROUP BY 1, 2, 3)
        SELECT source, n_s AS n_tokens,
               CAST((present_dev + (n_tot - present_ct) * CAST(n_s AS HUGEINT))
                    * 1000000 // (2 * CAST(n_s AS HUGEINT) * n_tot)
                 AS BIGINT) AS tv_ppm
        FROM dev ORDER BY source
      """))
  )
}
