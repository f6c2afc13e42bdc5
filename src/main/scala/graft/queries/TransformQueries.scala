package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.config._
import graft.functions.{normText, uuid5}
import graft.operators.{Diff, Transform}
import graft.sources.Tables

/** The reference's transform/load operators (SURVEY.md §2.1), each applied
  * to a driver test table with a semantically identical DuckDB oracle.
  * Reference citations in graft.operators.Transform.
  */
object TransformQueries {

  /** NA token list from the reference config (normalize.na_values) plus the
    * demo tokens used to exercise the path on clean synthetic data.
    */
  private val NaTokens = Seq("", "NA", "N/A", "na", "null", "None", "none", "Nan", "NaN", "src0")
  private def sqlList(xs: Seq[String]) = xs.map(s => s"'$s'").mkString(", ")

  private lazy val bucketScratch = Scratch.slot("bucket-twin")

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // 2: free-text normalization (trim→strip accents→lower→collapse ws)
    Q("t_norm_text",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), normText(col("text")).as("norm"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               regexp_replace(lower(strip_accents(trim(text))), '\s+', ' ', 'g') AS norm
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 1: column-name normalization (snake_case/ascii) — exercised by feeding
    // messy aliases through normalizeColumnNames.
    Q("t_norm_colnames",
      (s, dir) => {
        val messy = Tables.nation(s, dir)
          .select(col("n_nationkey").as("N NationKey "), col("n_name").as("Ñombre-Nación"))
        Transform.normalizeColumnNames(messy).orderBy(col("n_nationkey"))
      },
      Some("""
        SELECT n_nationkey AS n_nationkey, n_name AS nombre_nacion
        FROM nation ORDER BY n_nationkey
      """)),

    // ------------------------------------------------------------------
    // 3: declared NA tokens → NULL (strings trimmed first)
    Q("t_na_tokens",
      (s, dir) => Transform.applyNaTokens(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
          NaTokens)
        .orderBy(col("doc_id")),
      Some(s"""
        SELECT doc_id,
               CASE WHEN trim(lang)   IN (${sqlList(NaTokens)}) THEN NULL ELSE trim(lang)   END AS lang,
               CASE WHEN trim(source) IN (${sqlList(NaTokens)}) THEN NULL ELSE trim(source) END AS source
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 4: drop rows where all (listed) columns are null
    Q("t_drop_null_rows",
      (s, dir) => {
        val d = Transform.applyNaTokens(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source")),
          Seq("es", "src0"), cols = Seq("lang", "source"))
        Transform.dropAllNullRows(d, Seq("lang", "source")).orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id,
               CASE WHEN trim(lang) = 'es' THEN NULL ELSE trim(lang) END AS lang,
               CASE WHEN trim(source) = 'src0' THEN NULL ELSE trim(source) END AS source
        FROM documents
        WHERE NOT (trim(lang) = 'es' AND trim(source) = 'src0')
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 5: defensive type coercion (errors → NULL, pandas errors='coerce')
    Q("t_coerce_types",
      (s, dir) => Transform.coerceTypes(
          Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          TypesCfg(datetime = Seq("source"), numeric = Seq("lang"), stringCodes = Seq("n_chars")))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               TRY_CAST(lang AS DOUBLE) AS lang,
               TRY_CAST(source AS TIMESTAMP) AS source,
               CAST(n_chars AS VARCHAR) AS n_chars
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 6: derive year from a date column (derive.ano_from_fecha)
    Q("t_derive_year",
      (s, dir) => Transform.deriveYear(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderdate")),
          "o_orderdate", "ano")
        .orderBy(col("o_orderkey")),
      Some("""
        SELECT o_orderkey, o_orderdate, CAST(year(o_orderdate) AS INT) AS ano
        FROM orders ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 7: category mapping + allowed-domain coercion
    Q("t_category_map",
      (s, dir) => Transform.applyCategoryRules(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          Map("lang" -> CategoryRule(
            map = Map("EN " -> "English", "Es" -> "Español", "fr" -> "Français"),
            allowed = Seq("English", "Español", "Français"),
            coerceTo = Some("Other"))))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
          CASE WHEN mapped IS NOT NULL AND mapped NOT IN ('English','Español','Français')
               THEN 'Other' ELSE mapped END AS lang
        FROM (
          SELECT doc_id,
            COALESCE(CASE regexp_replace(lower(strip_accents(trim(lang))), '\s+', ' ', 'g')
                     WHEN 'en' THEN 'English'
                     WHEN 'es' THEN 'Español'
                     WHEN 'fr' THEN 'Français' END,
                     lang) AS mapped
          FROM documents)
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 8: numeric bounds → out-of-range to NULL
    Q("t_numeric_bounds",
      (s, dir) => Transform.applyNumericRules(
          Tables.customer(s, dir).select(col("c_custkey"), col("c_acctbal")),
          Map("c_acctbal" -> NumericRule(min = Some(0.0), max = Some(9000.0))))
        .orderBy(col("c_custkey")),
      Some("""
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0.0 OR c_acctbal > 9000.0 THEN NULL
                    ELSE c_acctbal END AS c_acctbal
        FROM customer ORDER BY c_custkey
      """)),

    // ------------------------------------------------------------------
    // 9: composite business key (pipe-joined, null→'')
    Q("t_business_key",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.select(col("o_orderkey"),
            Transform.businessKeyCol(o, Seq("o_orderkey", "o_custkey", "o_orderdate"))
              .as("business_key"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), ''),
                              COALESCE(CAST(o_custkey AS VARCHAR), ''),
                              COALESCE(CAST(o_orderdate AS VARCHAR), '')) AS business_key
        FROM orders ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 10: sha256 surrogate id over the key seed
    Q("t_surrogate_sha256",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.select(col("o_orderkey"),
            sha2(Transform.businessKeyCol(o, Seq("o_orderkey", "o_custkey")), 256)
              .as("surrogate_id"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey,
               sha256(concat_ws('|', COALESCE(CAST(o_orderkey AS VARCHAR), ''),
                                     COALESCE(CAST(o_custkey AS VARCHAR), ''))) AS surrogate_id
        FROM orders ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 11: uuid5 surrogate (no SHA-1 in DuckDB → rows-only here; exact
    // byte-level parity with Python uuid.uuid5 is covered in TransformSpec)
    Q("t_surrogate_uuid5",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        o.select(col("o_orderkey"),
            uuid5("https://graft.dev/orders",
              Transform.businessKeyCol(o, Seq("o_orderkey", "o_custkey")))
              .as("surrogate_id"))
          .orderBy(col("o_orderkey"))
      },
      None),

    // ------------------------------------------------------------------
    // 12: enforce unique business key, keep latest by date
    Q("t_dedup_keep_latest",
      (s, dir) => Transform.dedupByKey(
          Tables.events(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("ts")),
          keys = Seq("user_id", "event_type"),
          latestBy = Some("ts"), tieBreakers = Seq("event_id"))
        .orderBy(col("user_id"), col("event_type")),
      Some("""
        SELECT event_id, user_id, event_type, ts FROM (
          SELECT event_id, user_id, event_type, ts,
                 ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                    ORDER BY ts DESC, event_id) AS rn
          FROM events) WHERE rn = 1
        ORDER BY user_id, event_type
      """)),

    // ------------------------------------------------------------------
    // 14: pad missing expected columns + canonical reorder
    Q("t_reorder_pad",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"))
        val padded = Transform.padMissing(d, Set("doc_id", "lang", "source", "quality_tier", "region"))
        Transform.reorder(padded, Seq("doc_id", "quality_tier", "region", "lang", "source"))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, CAST(NULL AS VARCHAR) AS quality_tier,
               CAST(NULL AS VARCHAR) AS region, lang, source
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 15: pack non-canonical columns into a JSON extras column
    Q("t_extras_json",
      (s, dir) => Transform.packExtras(
          Tables.documents(s, dir).select(col("doc_id"), col("n_chars"), col("lang"), col("source")),
          canonical = Set("doc_id", "n_chars"), extrasCol = "extras")
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, n_chars,
               to_json(struct_pack(lang := lang, source := source)) AS extras
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 19: destination timestamp rendering 'YYYY-MM-DD HH:MM:SS'
    Q("t_to_iso_local",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"), Transform.toIsoLocal(col("ts")).as("ts_iso"))
        .orderBy(col("event_id")),
      Some("""
        SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_iso
        FROM events ORDER BY event_id
      """)),

    // ------------------------------------------------------------------
    // 18: idempotent merge-by-key (LOAD upsert): updates win over current
    Q("t_upsert",
      (s, dir) => {
        val o = Tables.orders(s, dir)
        val current = o.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val updates = o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_totalprice") * 2).as("o_totalprice"))
        Transform.merge(Some(current), Seq(updates), keys = Seq("o_orderkey"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
          FROM (
            SELECT o_orderkey, o_custkey, o_totalprice, 0 AS src
            FROM orders WHERE o_orderkey % 3 <> 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, 1 AS src
            FROM orders WHERE o_orderkey % 2 = 0))
        WHERE rn = 1
        ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 18e: the BATCH-COST physical upsert sink end-to-end — not a frame
    // merge but the real key-hash-BUCKETED parquet target
    // (sources/BucketedTable): batch 1 creates the bucketed layout,
    // batch 2 merges through the per-bucket swap touching only its own
    // buckets, and the query publishes the final table. Same merge
    // semantics as t_upsert, so the oracle is the identical
    // last-writer-wins window — a hash-match proves the physical layout
    // (bucket routing, partition-pruned target read, per-bucket swap)
    // loses nothing vs the logical merge.
    Q("t_upsert_bucketed",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        bucketScratch.synchronized {
          Scratch.fresh(bucketScratch)
          val t = bucketScratch.toString + "/t"
          val b1 = o.filter(col("o_orderkey") % 3 =!= 0)
          val b2 = o.filter(col("o_orderkey") % 2 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2)
          graft.sources.BucketedTable.upsert(b1, t, Seq("o_orderkey"),
            numBuckets = 64)
          graft.sources.BucketedTable.upsert(b2, t, Seq("o_orderkey"),
            numBuckets = 64)
          graft.sources.BucketedTable.read(s, t)
            .orderBy(col("o_orderkey"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn
          FROM (
            SELECT o_orderkey, o_custkey, o_totalprice, 0 AS src
            FROM orders WHERE o_orderkey % 3 <> 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, 1 AS src
            FROM orders WHERE o_orderkey % 2 = 0))
        WHERE rn = 1
        ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 18d: the stamped upsert — the reference's inserted_at/updated_at
    // row-stamping (sql/002_fn_set_updated_at.sql trigger + sql/010:49-57
    // column defaults) riding the merge. Three deterministic batches
    // (stamp = batch seq 0/1/2, which is what makes wall-clock-free
    // cross-engine checking possible): initial load stamps both columns,
    // each later merge preserves a key's inserted_at and refreshes
    // updated_at only on keys it actually writes — untouched keys keep
    // both stamps. The oracle states the closed form per key.
    Q("t_upsert_stamped",
      (s, dir) => {
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val keys = Seq("o_orderkey")
        val init = Transform.merge(None, Seq(o.filter(col("o_orderkey") % 3 =!= 0)),
          keys, stamp = Some(lit(0L)))
        val b1 = o.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val m1 = Transform.merge(Some(init), Seq(b1), keys, stamp = Some(lit(1L)))
        val b2 = o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 3)
        Transform.merge(Some(m1), Seq(b2), keys, stamp = Some(lit(2L)))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 3
                    WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice,
               CAST(CASE WHEN o_orderkey % 3 <> 0 THEN 0
                         WHEN o_orderkey % 2 = 0 THEN 1
                         ELSE 2 END AS BIGINT) AS inserted_at,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2
                         WHEN o_orderkey % 2 = 0 THEN 1
                         ELSE 0 END AS BIGINT) AS updated_at
        FROM orders
        WHERE o_orderkey % 3 <> 0 OR o_orderkey % 2 = 0 OR o_orderkey % 5 = 0
        ORDER BY o_orderkey
      """)),

    // ------------------------------------------------------------------
    // 17b: incremental aggregate maintenance (`IncrementalAgg`): orders
    // arrive in three batches, each reduced to per-key partials and merged
    // into a persisted state table through the crash-recoverable swap —
    // history is never re-scanned (per-batch cost O(batch), state =
    // |keys|). Decimal sums make the fold order-insensitive, so the final
    // state hash-matches the oracle's one-shot GROUP BY exactly.
    Q("t_incremental_agg",
      (s, dir) => {
        import graft.operators.IncrementalAgg
        import graft.operators.IncrementalAgg.AggCol
        val stateDir =
          s"${System.getProperty("java.io.tmpdir")}/graft_incr_agg-" +
            s"${ProcessHandle.current().pid()}/state"
        // Fresh fold per invocation — leftover state would double-count.
        val p = new org.apache.hadoop.fs.Path(stateDir)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p.getParent)) fs.delete(p.getParent, true)
        val orders = Tables.orders(s, dir)
        val aggs = Seq(
          AggCol("n", "count", lit(1)),
          AggCol("sum_price", "sum", col("o_totalprice").cast("decimal(18,2)")),
          AggCol("max_date", "max", col("o_orderdate")))
        (0 until 3).foreach { i =>
          IncrementalAgg.updateParquet(
            orders.filter(col("o_orderkey") % 3 === i),
            stateDir, Seq("o_custkey"), aggs)
        }
        s.read.parquet(stateDir)
          .select(col("o_custkey"), col("n"),
            col("sum_price").cast("double"), col("max_date"))
          .orderBy(col("o_custkey"))
      },
      Some("""
        SELECT o_custkey, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               MAX(o_orderdate) AS max_date
        FROM orders GROUP BY 1 ORDER BY o_custkey
      """)),

    // ------------------------------------------------------------------
    // 17: incremental-state extract analog: only rows past the stored
    // watermark, plus the new per-partition watermark for the next run
    Q("t_incremental_state",
      (s, dir) => Tables.events(s, dir)
        .filter(col("ts") > lit("2024-01-15 00:00:00").cast("timestamp"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_new"), max(col("ts")).as("new_watermark"))
        .orderBy(col("event_type")),
      Some("""
        SELECT event_type, COUNT(*) AS n_new, MAX(ts) AS new_watermark
        FROM events
        WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
        GROUP BY event_type ORDER BY event_type
      """)),

    // ------------------------------------------------------------------
    // 16: per-resource audit metrics (rows, distinct keys, dup keys —
    // reference transform report + etl_run_resources)
    Q("t_audit_report",
      (s, dir) => {
        val e = Tables.events(s, dir)
          .select(concat_ws("|", col("user_id").cast(StringType), col("event_type")).as("business_key"))
        e.groupBy(col("business_key")).agg(count(lit(1)).as("cnt"))
          .agg(
            sum(col("cnt")).as("rows_in"),
            count(lit(1)).as("distinct_keys"),
            sum(when(col("cnt") > 1, 1).otherwise(0)).as("dup_keys"),
            sum(when(col("cnt") > 1, col("cnt") - 1).otherwise(0)).as("dedup_rows_would_drop"))
      },
      Some("""
        SELECT CAST(SUM(cnt) AS BIGINT) AS rows_in, COUNT(*) AS distinct_keys,
               CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_keys,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt - 1 ELSE 0 END) AS BIGINT) AS dedup_rows_would_drop
        FROM (SELECT concat_ws('|', CAST(user_id AS VARCHAR), event_type) AS business_key,
                     COUNT(*) AS cnt
              FROM events GROUP BY 1)
      """)),

    // ------------------------------------------------------------------
    // 16b: order-independent table checksum — the migration-validation
    // primitive for anyone switching engines: canonical per-row
    // serialization (null-marked, pipe-joined in column order) → sha256
    // prefix as int → per-group SUM + count. Any cell drift anywhere
    // flips the checksum; sums are order/partitioning-independent, so
    // the comparison is valid across engines and cluster layouts. Both
    // engines compute it independently from their own scans.
    Q("t_table_checksum",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        val rowStr = concat_ws("|",
          d.columns.toIndexedSeq.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)
        d.select(col("lang"),
            conv(substring(sha2(rowStr, 256), 1, 8), 16, 10).cast("long").as("h"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))
          .orderBy(col("lang"))
      },
      Some("""
        SELECT lang, COUNT(*) AS n_rows,
               CAST(SUM(('0x' || substr(sha256(
                   coalesce(CAST(doc_id AS VARCHAR), '\N') || '|' ||
                   coalesce(text, '\N') || '|' ||
                   coalesce(lang, '\N') || '|' ||
                   coalesce(source, '\N') || '|' ||
                   coalesce(CAST(n_chars AS VARCHAR), '\N')), 1, 8))::BIGINT)
                 AS BIGINT) AS checksum
        FROM documents GROUP BY lang ORDER BY lang
      """)),

    // ------------------------------------------------------------------
    // 13: schema validation report. Oracled: DuckDB re-derives the
    // actual column set from DESCRIBE over the same projection, diffs it
    // against the expected set, and recomputes the populated-ness checks
    // (critical / recommended) from real COUNTs — presence of the absent
    // geo pair is checked against DESCRIBE, not hardcoded.
    Q("t_schema_validate",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        val cfg = DatasetConfig(
          dataset = "documents_demo",
          types = TypesCfg(numeric = Seq("n_chars"), category = Seq("lang", "quality_tier")),
          order = Seq("doc_id", "lang", "source"),
          critical = CriticalCfg(all = Seq("doc_id"), anyOf = Seq(Seq("lang", "source"))),
          // `lang` is present+populated (no warning); the geo pair is
          // absent → the reference-style any_of_missing advisory fires.
          recommended = Seq(Seq("lang"), Seq("latitud", "longitud")))
        val diff = Transform.schemaDiff(d, cfg.expectedColumns)
        val (missAll, missAny) = Transform.criticalIssues(d, cfg.critical)
        val recWarns = Transform.recommendedWarnings(d, cfg.recommended)
        val spark = s
        import spark.implicits._
        Seq((cfg.dataset, diff.missing.mkString(","), diff.extra.mkString(","),
          diff.diffs.toLong, missAll.mkString(","), missAny.size.toLong,
          recWarns.mkString(",")))
          .toDF("dataset", "missing_cols", "extra_cols", "n_diffs",
            "critical_missing_all", "critical_missing_any_groups", "recommended_warnings")
      },
      Some("""
        WITH actual AS (
          SELECT column_name AS c
          FROM (DESCRIBE SELECT doc_id, lang, source, n_chars FROM documents)),
        expected AS (
          SELECT * FROM (VALUES ('doc_id'), ('lang'), ('source'), ('n_chars'),
                                ('quality_tier'), ('latitud'), ('longitud')) v(c)),
        miss AS (SELECT c FROM expected EXCEPT SELECT c FROM actual),
        ext AS (SELECT c FROM actual EXCEPT SELECT c FROM expected),
        counts AS (SELECT COUNT(doc_id) AS n_doc_id, COUNT(lang) AS n_lang,
                          COUNT(source) AS n_source
                   FROM documents)
        SELECT 'documents_demo' AS dataset,
               coalesce((SELECT string_agg(c, ',' ORDER BY c) FROM miss), '') AS missing_cols,
               coalesce((SELECT string_agg(c, ',' ORDER BY c) FROM ext), '') AS extra_cols,
               CAST((SELECT COUNT(*) FROM miss) + (SELECT COUNT(*) FROM ext) AS BIGINT)
                 AS n_diffs,
               CASE WHEN n_doc_id = 0 THEN 'doc_id' ELSE '' END AS critical_missing_all,
               CAST(CASE WHEN n_lang + n_source = 0 THEN 1 ELSE 0 END AS BIGINT)
                 AS critical_missing_any_groups,
               concat_ws(',',
                 CASE WHEN n_lang = 0 THEN 'missing:lang' ELSE NULL END,
                 CASE WHEN (SELECT COUNT(*) FROM actual
                            WHERE c IN ('latitud', 'longitud')) = 0
                      THEN 'any_of_missing:latitud|longitud' ELSE NULL END)
                 AS recommended_warnings
        FROM counts
      """)),

    // ------------------------------------------------------------------
    // 20: the full reference transform pipeline composed end-to-end
    // (na tokens → coerce → category map → numeric bounds → keys →
    //  surrogate sha256 → dedup keep-latest → pad → reorder)
    Q("t_pipeline_e2e",
      (s, dir) => {
        val cfg = DatasetConfig(
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
          ids = IdStrategy(
            compositeKey = Seq("user_id", "event_type", "ts"),
            surrogate = SurrogateCfg(enabled = true, method = "sha256")),
          integrity = IntegrityCfg(enforceUniqueBusinessKey = true,
            onDuplicate = "keep_latest", latestBy = Some("ts"), tieBreakers = Seq("event_id")),
          deriveYear = Some(("ts", "ano")))
        Transform.pipeline(Tables.events(s, dir), cfg).orderBy(col("event_id"))
      },
      Some("""
        WITH base AS (
          SELECT event_id, ts, user_id,
                 CASE WHEN m_et IS NOT NULL AND m_et NOT IN ('Click','View','Purchase')
                      THEN 'Other' ELSE m_et END AS event_type,
                 CASE WHEN value < 0.0 OR value > 150.0 THEN NULL ELSE value END AS value,
                 props, CAST(year(ts) AS INT) AS ano
          FROM (
            SELECT event_id, ts, user_id, value, trim(props) AS props,
                   COALESCE(CASE regexp_replace(lower(strip_accents(trim(event_type))), '\s+', ' ', 'g')
                            WHEN 'click' THEN 'Click'
                            WHEN 'view' THEN 'View'
                            WHEN 'purchase' THEN 'Purchase' END,
                            trim(event_type)) AS m_et
            FROM events)),
        keyed AS (
          SELECT *,
                 concat_ws('|', COALESCE(CAST(user_id AS VARCHAR), ''),
                                COALESCE(event_type, ''),
                                COALESCE(CAST(ts AS VARCHAR), '')) AS business_key
          FROM base),
        deduped AS (
          SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY business_key
                                         ORDER BY ts DESC, event_id) AS rn
            FROM keyed) WHERE rn = 1)
        SELECT sha256(business_key) AS surrogate_id, business_key,
               event_id, ts, user_id, event_type, value, props,
               CAST(NULL AS VARCHAR) AS channel, ano
        FROM deduped
        ORDER BY event_id
      """)),

    // ------------------------------------------------------------------
    // Referential-integrity audit: orphan FK rows per relationship (the
    // data-quality check a warehouse load runs next to schema checks).
    // Anti-joins against broadcast dimension key sets — one fact pass.
    Q("t_fk_orphans",
      (s, dir) => {
        val orphanOrders = Tables.orders(s, dir)
          .join(broadcast(Tables.customer(s, dir).select(col("c_custkey"))),
            col("o_custkey") === col("c_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("relationship", lit("orders.custkey"))
        val orphanLineitem = Tables.lineitem(s, dir)
          .join(broadcast(Tables.part(s, dir).select(col("p_partkey"))),
            col("l_partkey") === col("p_partkey"), "left_anti")
          .agg(count(lit(1)).as("n")).withColumn("relationship", lit("lineitem.partkey"))
        orphanOrders.unionByName(orphanLineitem)
          .select(col("relationship"), col("n"))
          .orderBy(col("relationship"))
      },
      Some("""
        SELECT relationship, n FROM (
          SELECT 'orders.custkey' AS relationship, COUNT(*) AS n
          FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
          UNION ALL
          SELECT 'lineitem.partkey', COUNT(*)
          FROM lineitem WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        ORDER BY relationship
      """)),

    // ------------------------------------------------------------------
    // SCD2 history build: compress each user's event_type timeline into
    // state intervals (valid_from / valid_to / is_current) — the
    // slowly-changing-dimension shape a warehouse load maintains. Two
    // windows over ONE (user_id, ts) sort: change-detection lag, then
    // lead for the closing timestamp.
    Q("t_scd2_history",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_state", lag(col("event_type"), 1).over(wOrd))
          .filter(col("prev_state").isNull || col("event_type") =!= col("prev_state"))
          .withColumn("valid_to", lead(col("ts"), 1).over(wOrd))
          .select(col("user_id"), col("event_id"), col("event_type").as("state"),
            col("ts").as("valid_from"), col("valid_to"),
            col("valid_to").isNull.as("is_current"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""
        WITH marked AS (
          SELECT user_id, event_id, event_type, ts,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev_state
          FROM events),
        changes AS (
          SELECT user_id, event_id, event_type, ts
          FROM marked
          WHERE prev_state IS NULL OR event_type <> prev_state)
        SELECT user_id, event_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
               (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
                 AS is_current
        FROM changes
        ORDER BY user_id, event_id
      """)),

    // ------------------------------------------------------------------
    // 16c: keyed snapshot diff (Diff.tableDiff) — when t_table_checksum
    // says two snapshots drifted, this names every drifted key and the
    // columns that moved, in ONE full-outer join on the key. The two
    // versions are derived deterministically from events: "old" drops
    // event_id % 7 == 0 (those become 'added'), "new" drops
    // event_id % 11 == 3 ('removed') and mutates value (% 5) and
    // event_type (% 13) ('changed', with changed_cols naming which).
    // The oracle replays the full-outer classification with
    // IS DISTINCT FROM — the SQL spelling of the null-safe compare.
    Q("t_table_diff",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val oldV = ev.filter(col("event_id") % 7 =!= 0)
        val newV = ev.filter(col("event_id") % 11 =!= 3)
          .withColumn("value",
            when(col("event_id") % 5 === 0, col("value") + 1.0)
              .otherwise(col("value")))
          .withColumn("event_type",
            when(col("event_id") % 13 === 0, concat(col("event_type"), lit("_v2")))
              .otherwise(col("event_type")))
        Diff.tableDiff(oldV, newV, Seq("event_id"),
            Seq("user_id", "event_type", "value", "props"))
          .filter(col("diff_status") =!= "unchanged")
          .orderBy(col("event_id"))
      },
      Some("""
        WITH oldv AS (SELECT * FROM events WHERE event_id % 7 <> 0),
        newv AS (SELECT event_id, user_id,
                        CASE WHEN event_id % 13 = 0 THEN event_type || '_v2'
                             ELSE event_type END AS event_type,
                        CASE WHEN event_id % 5 = 0 THEN value + 1.0
                             ELSE value END AS value,
                        props
                 FROM events WHERE event_id % 11 <> 3),
        j AS (SELECT o.event_id AS o_id, n.event_id AS n_id,
                     o.user_id IS DISTINCT FROM n.user_id AS d_user,
                     o.event_type IS DISTINCT FROM n.event_type AS d_type,
                     o.value IS DISTINCT FROM n.value AS d_value,
                     o.props IS DISTINCT FROM n.props AS d_props
              FROM oldv o FULL OUTER JOIN newv n ON o.event_id = n.event_id),
        c AS (SELECT coalesce(n_id, o_id) AS event_id,
                     CASE WHEN o_id IS NULL THEN 'added'
                          WHEN n_id IS NULL THEN 'removed'
                          WHEN d_user OR d_type OR d_value OR d_props THEN 'changed'
                          ELSE 'unchanged' END AS diff_status,
                     d_user, d_type, d_value, d_props
              FROM j)
        SELECT event_id, diff_status,
               CASE WHEN diff_status = 'changed' THEN concat_ws(',',
                      CASE WHEN d_user THEN 'user_id' END,
                      CASE WHEN d_type THEN 'event_type' END,
                      CASE WHEN d_value THEN 'value' END,
                      CASE WHEN d_props THEN 'props' END)
                    ELSE '' END AS changed_cols,
               CASE WHEN diff_status = 'changed'
                    THEN CAST(d_user AS INT) + CAST(d_type AS INT) +
                         CAST(d_value AS INT) + CAST(d_props AS INT)
                    ELSE 0 END::BIGINT AS n_changed
        FROM c WHERE diff_status <> 'unchanged'
        ORDER BY event_id
      """)),

    // ------------------------------------------------------------------
    // 16d: PARTITION-PRUNED diff (Diff.partitionPrunedDiff) — the same
    // row-level answer as t_table_diff, reached the way a 100 TB run
    // must: per-day checksums on each side first (one narrow agg, no
    // join), then the full-outer row diff over ONLY the drifted days
    // (here 2 of 30 — the literal isin filter is what a date-partitioned
    // lake pushes down to skip 28/30 of both scans). Drift is partition-
    // local by construction: changed rows on Jan 5 (value bump, %5),
    // added (%3) and removed (%7) rows on Jan 20. The oracle replays the
    // PLAIN full diff — pruning must be semantically invisible, so the
    // pruned path hash-matching the unpruned SQL is itself the
    // correctness claim.
    Q("t_partition_diff",
      (s, dir) => {
        val ev = Tables.events(s, dir).withColumn("day", to_date(col("ts")))
        val oldV = ev.filter(
          !(col("day") === lit("2024-01-20").cast("date") && col("event_id") % 3 === 0))
        val newV = ev.filter(
            !(col("day") === lit("2024-01-20").cast("date") && col("event_id") % 7 === 1))
          .withColumn("value",
            when(col("day") === lit("2024-01-05").cast("date") && col("event_id") % 5 === 0,
              col("value") + 1.0).otherwise(col("value")))
        Diff.partitionPrunedDiff(oldV, newV, Seq("event_id"),
            Seq("user_id", "event_type", "value", "props"), "day")
          .filter(col("diff_status") =!= "unchanged")
          .orderBy(col("event_id"))
      },
      Some("""
        WITH ev AS (SELECT event_id, CAST(ts AS DATE) AS day, user_id,
                           event_type, value, props FROM events),
        oldv AS (SELECT * FROM ev
                 WHERE NOT (day = DATE '2024-01-20' AND event_id % 3 = 0)),
        newv AS (SELECT event_id, day, user_id, event_type,
                        CASE WHEN day = DATE '2024-01-05' AND event_id % 5 = 0
                             THEN value + 1.0 ELSE value END AS value,
                        props
                 FROM ev WHERE NOT (day = DATE '2024-01-20' AND event_id % 7 = 1)),
        j AS (SELECT o.event_id AS o_id, n.event_id AS n_id,
                     o.user_id IS DISTINCT FROM n.user_id AS d_user,
                     o.event_type IS DISTINCT FROM n.event_type AS d_type,
                     o.value IS DISTINCT FROM n.value AS d_value,
                     o.props IS DISTINCT FROM n.props AS d_props
              FROM oldv o FULL OUTER JOIN newv n ON o.event_id = n.event_id),
        c AS (SELECT coalesce(n_id, o_id) AS event_id,
                     CASE WHEN o_id IS NULL THEN 'added'
                          WHEN n_id IS NULL THEN 'removed'
                          WHEN d_user OR d_type OR d_value OR d_props THEN 'changed'
                          ELSE 'unchanged' END AS diff_status,
                     d_user, d_type, d_value, d_props
              FROM j)
        SELECT event_id, diff_status,
               CASE WHEN diff_status = 'changed' THEN concat_ws(',',
                      CASE WHEN d_user THEN 'user_id' END,
                      CASE WHEN d_type THEN 'event_type' END,
                      CASE WHEN d_value THEN 'value' END,
                      CASE WHEN d_props THEN 'props' END)
                    ELSE '' END AS changed_cols,
               CASE WHEN diff_status = 'changed'
                    THEN CAST(d_user AS INT) + CAST(d_type AS INT) +
                         CAST(d_value AS INT) + CAST(d_props AS INT)
                    ELSE 0 END::BIGINT AS n_changed
        FROM c WHERE diff_status <> 'unchanged'
        ORDER BY event_id
      """))
  )
}
