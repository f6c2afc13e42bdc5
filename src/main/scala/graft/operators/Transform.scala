package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

import graft.config._
import graft.functions._

/** Critical-rule violation (reference etl/transform.py:41-43 TransformHardFail). */
class TransformHardFail(msg: String) extends RuntimeException(msg)

/** Schema drift result (reference etl/transform.py:233-237). */
final case class SchemaDiff(missing: Seq[String], extra: Seq[String]) {
  def diffs: Int = missing.size + extra.size
}

/** The reference's transform stage re-expressed as composable DataFrame
  * operators. Every operator is a narrow projection/filter (no shuffle)
  * except dedup/merge (one shuffle on the key) — at 100 TB the whole
  * cleanup chain fuses into a single whole-stage-codegen'd scan.
  *
  * Reference: etl/transform.py (per-function citations below).
  */
object Transform {

  // ------------------------------------------------------------------
  // Column-name handling (reference etl/transform.py:53-74,124-129)
  // ------------------------------------------------------------------

  /** snake_case/ascii-normalize all column names (metadata-only, no job). */
  def normalizeColumnNames(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normColname).toIndexedSeq: _*)

  /** Apply declared renames (both sides name-normalized, like the reference). */
  def applyRename(df: DataFrame, rename: Map[String, String]): DataFrame = {
    if (rename.isEmpty) return df
    val m = rename.map { case (k, v) => normColname(k) -> normColname(v) }
    df.columns.foldLeft(df)((d, c) => m.get(c).fold(d)(d.withColumnRenamed(c, _)))
  }

  // ------------------------------------------------------------------
  // Base normalization (reference etl/transform.py:131-154)
  // ------------------------------------------------------------------

  /** Trim string columns and null out declared NA tokens. */
  def applyNaTokens(df: DataFrame, naValues: Seq[String], cols: Seq[String] = Nil): DataFrame = {
    val targets = (if (cols.nonEmpty) cols else df.columns.toSeq)
      .filter(c => df.schema(c).dataType == StringType)
    targets.foldLeft(df) { (d, c) =>
      val t = trim(col(c))
      d.withColumn(c, if (naValues.isEmpty) t else when(t.isin(naValues: _*), lit(null)).otherwise(t))
    }
  }

  /** Drop rows where every listed column is null (reference drop_all_null_rows). */
  def dropAllNullRows(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val cs = if (cols.nonEmpty) cols else df.columns.toSeq
    df.filter(cs.map(col(_).isNotNull).reduce(_ || _))
  }

  /** Drop columns that are entirely null. Requires one aggregation pass —
    * the reference does this in-memory; here it is one map-side-combined agg.
    */
  def dropAllNullCols(df: DataFrame): DataFrame = {
    val counts = df.select(df.columns.map(c => count(col(c)).as(c)).toIndexedSeq: _*).head()
    val keep = df.columns.zipWithIndex.collect { case (c, i) if counts.getLong(i) > 0 => c }
    df.select(keep.map(col).toIndexedSeq: _*)
  }

  // ------------------------------------------------------------------
  // Defensive typing (reference etl/transform.py:160-182)
  // ------------------------------------------------------------------

  /** Tolerant casts: failures become NULL, never errors (pandas
    * `errors="coerce"` ≙ Spark `try_cast`).
    */
  def coerceTypes(df: DataFrame, t: TypesCfg): DataFrame = {
    def cast(d: DataFrame, cols: Seq[String], to: String): DataFrame =
      cols.filter(d.columns.contains).foldLeft(d)((dd, c) =>
        dd.withColumn(c, expr(s"try_cast(`$c` as $to)")))
    var out = df
    out = cast(out, t.datetime, "timestamp")
    out = cast(out, t.numeric, "double")
    out = cast(out, t.category, "string")
    out = cast(out, t.stringCodes, "string")
    out
  }

  /** Derive a year column from a date column when absent or all-null
    * (reference etl/transform.py:444-453).
    */
  def deriveYear(df: DataFrame, dateCol: String, yearCol: String): DataFrame = {
    if (!df.columns.contains(dateCol)) return df
    if (!df.columns.contains(yearCol))
      df.withColumn(yearCol, year(col(dateCol)))
    else {
      // Only overwrite when the existing column is entirely null (one agg).
      val nonNull = df.select(count(col(yearCol))).head().getLong(0)
      if (nonNull == 0L) df.withColumn(yearCol, year(col(dateCol))) else df
    }
  }

  // ------------------------------------------------------------------
  // Category / numeric rules (reference etl/transform.py:284-350)
  // ------------------------------------------------------------------

  /** Map text-normalized values through the rule map; unmapped values keep
    * their ORIGINAL form; out-of-domain values coerce to `coerceTo` when set
    * (reference semantics exactly — including "only rewrite the column when
    * a map or coerce_to is configured").
    */
  def applyCategoryRules(df: DataFrame, rules: Map[String, CategoryRule]): DataFrame =
    rules.foldLeft(df) { case (d, (c, r)) =>
      if (!d.columns.contains(c) || (r.map.isEmpty && r.coerceTo.isEmpty)) d
      else {
        val normMap = r.map.map { case (k, v) => normTextScala(k) -> v }
        val mapped = normMap.foldLeft(lit(null).cast(StringType)) { case (acc, (k, v)) =>
          when(normText(col(c)) === k, lit(v)).otherwise(acc)
        }
        val withMap = coalesce(mapped, col(c))
        val out =
          if (r.allowed.nonEmpty && r.coerceTo.isDefined)
            when(withMap.isNotNull && !withMap.isin(r.allowed: _*),
              r.coerceTo.map(lit(_): Column).getOrElse(lit(null).cast(StringType)))
              .otherwise(withMap)
          else withMap
        d.withColumn(c, out)
      }
    }

  /** Driver-side normText for map keys — must strip the SAME mark classes
    * as the executor-side StripAccents (Mn, Mc, Me), or keys containing
    * e.g. Indic combining spacing marks would never match the normalized
    * column value.
    */
  private[graft] def normTextScala(s: String): String = {
    val noAcc = java.text.Normalizer.normalize(s.trim, java.text.Normalizer.Form.NFKD)
      .filterNot { ch =>
        val t = Character.getType(ch)
        t == Character.NON_SPACING_MARK || t == Character.COMBINING_SPACING_MARK ||
          t == Character.ENCLOSING_MARK
      }
    noAcc.toLowerCase.split("\\s+").mkString(" ")
  }

  /** Category-rule report (reference etl/transform.py:312-317
    * `category_checks`): per rule column, the distinct post-map cardinality
    * and the out-of-domain values/count BEFORE any coercion. One
    * distributed agg per rule column, no collect of raw data.
    */
  def categoryReport(df: DataFrame, rules: Map[String, CategoryRule]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = rules.toSeq.sortBy(_._1).flatMap { case (c, r) =>
      if (!df.columns.contains(c)) None
      else {
        val normMap = r.map.map { case (k, v) => normTextScala(k) -> v }
        val mapped = coalesce(
          normMap.foldLeft(lit(null).cast(StringType)) { case (acc, (k, v)) =>
            when(normText(col(c)) === k, lit(v)).otherwise(acc)
          }, col(c))
        val oob = mapped.isNotNull &&
          (if (r.allowed.nonEmpty) !mapped.isin(r.allowed: _*) else lit(false))
        Some(df.select(mapped.as("mapped"), oob.as("oob"))
          .agg(
            countDistinct(col("mapped")).as("mapped_distinct"),
            sort_array(collect_set(when(col("oob"), col("mapped"))))
              .as("out_of_domain_values"),
            // Count of DISTINCT out-of-domain values (reference reports
            // len(set(...)), not row occurrences).
            countDistinct(when(col("oob"), col("mapped"))).as("out_of_domain_count"))
          .withColumn("column", lit(c)))
      }
    }
    parts.reduceOption(_ unionByName _)
      .map(_.select("column", "mapped_distinct", "out_of_domain_values", "out_of_domain_count"))
      .getOrElse(Seq.empty[(String, Long, Seq[String], Long)]
        .toDF("column", "mapped_distinct", "out_of_domain_values", "out_of_domain_count"))
  }

  /** Numeric-rule report (reference etl/transform.py:344-348
    * `numeric_checks`): out-of-bounds count plus null counts before/after
    * the rule, per rule column — one agg per column.
    */
  def numericReport(df: DataFrame, rules: Map[String, NumericRule]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = rules.toSeq.sortBy(_._1).flatMap { case (c, r) =>
      if (!df.columns.contains(c)) None
      else {
        val v = expr(s"try_cast(`$c` as double)")
        val oob = Seq(
          r.min.map(m => v < lit(m)), r.max.map(m => v > lit(m))).flatten
            .reduceOption(_ || _).getOrElse(lit(false))
        Some(df.agg(
            sum(when(oob, 1L).otherwise(0L)).as("oob_count"),
            sum(when(v.isNull, 1L).otherwise(0L)).as("na_count_before"),
            sum(when(v.isNull || oob, 1L).otherwise(0L)).as("na_count_after"))
          .withColumn("column", lit(c)))
      }
    }
    parts.reduceOption(_ unionByName _)
      .map(_.select("column", "oob_count", "na_count_before", "na_count_after"))
      .getOrElse(Seq.empty[(String, Long, Long, Long)]
        .toDF("column", "oob_count", "na_count_before", "na_count_after"))
  }

  /** Out-of-bounds numeric values → NULL (reference numeric_rules). */
  def applyNumericRules(df: DataFrame, rules: Map[String, NumericRule]): DataFrame =
    rules.foldLeft(df) { case (d, (c, r)) =>
      if (!d.columns.contains(c)) d
      else {
        val v = expr(s"try_cast(`$c` as double)")
        val oob = Seq(
          r.min.map(m => v < lit(m)),
          r.max.map(m => v > lit(m))).flatten
            .reduceOption(_ || _).getOrElse(lit(false))
        d.withColumn(c, when(oob, lit(null)).otherwise(v))
      }
    }

  // ------------------------------------------------------------------
  // Keys (reference etl/transform.py:356-370,461-493)
  // ------------------------------------------------------------------

  /** Pipe-joined composite business key; null/absent parts become ''. */
  def businessKeyCol(df: DataFrame, fields: Seq[String]): Column = {
    val parts = fields.map { f =>
      if (df.columns.contains(f)) coalesce(col(f).cast(StringType), lit("")) else lit("")
    }
    if (parts.isEmpty) lit("") else concat_ws("|", parts: _*)
  }

  def withBusinessKey(df: DataFrame, ids: IdStrategy): DataFrame = {
    val fields =
      if (ids.mode == "composite_first" && ids.compositeKey.nonEmpty) ids.compositeKey
      else if (ids.singleKey.nonEmpty) ids.singleKey
      else ids.compositeKey
    df.withColumn("business_key", businessKeyCol(df, fields))
  }

  /** Deterministic surrogate id: uuid5 (reference default) or sha256 hex. */
  def withSurrogate(df: DataFrame, s: SurrogateCfg): DataFrame = {
    if (!s.enabled) return df
    val seed = if (s.fields.nonEmpty) businessKeyCol(df, s.fields) else col("business_key")
    val id = s.method.toLowerCase match {
      case "sha256" => sha2(seed, 256)
      case _ => uuid5(s.namespace, seed)
    }
    df.withColumn("surrogate_id", id)
  }

  // ------------------------------------------------------------------
  // Dedup / merge (reference etl/transform.py:495-507, etl/load.py upsert)
  // ------------------------------------------------------------------

  /** Keep exactly one row per key. `latestBy` descending picks "latest";
    * `tieBreakers` make the pick total and deterministic (the pandas
    * reference depended on input order — unusable distributed).
    * One shuffle on the key columns; window + filter, no driver collect.
    */
  def dedupByKey(
      df: DataFrame,
      keys: Seq[String],
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil): DataFrame =
    dedupRank(df, keys, latestBy, tieBreakers).filter(col("__rn") === 1).drop("__rn")

  /** The dedup window WITHOUT the survivor filter: every row annotated
    * with its keep-rank `__rn` (1 = survivor). Exposed so callers can
    * observe duplicate metrics in-flight — `count(__rn = 2)` is exactly
    * "keys with more than one row" — before filtering, all inside the one
    * action that consumes the frame (see Runner).
    */
  def dedupRank(
      df: DataFrame,
      keys: Seq[String],
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(keepOrdering(latestBy, tieBreakers, tagged = false): _*)
    df.withColumn("__rn", row_number().over(w))
  }

  /** The keep-latest ordering of every keyed window ([[dedupRank]] and
    * [[merge]]): `latestBy` descending (nulls last); over a [[tagSources]]
    * union, the later source next; then `tieBreakers` ascending. Without
    * `latestBy` and `tieBreakers`, the pick among one source's rows is
    * arbitrary but stable (`monotonically_increasing_id`).
    */
  private def keepOrdering(latestBy: Option[String], tieBreakers: Seq[String],
      tagged: Boolean): Seq[Column] = {
    val ordering = latestBy.map(col(_).desc_nulls_last).toSeq ++
      (if (tagged) Seq(col("__src").desc) else Nil) ++ tieBreakers.map(col(_).asc)
    if (latestBy.nonEmpty || tieBreakers.nonEmpty) ordering
    else ordering :+ monotonically_increasing_id().asc
  }

  /** Apply an insert/update/delete CHANGELOG to a snapshot (the CDC
    * sibling of [[merge]], which cannot express deletes). `changes` must
    * carry the snapshot's columns plus `opCol` ('I'/'U'/'D' — I and U are
    * both upserts; D removes the key) and the `latestBy`/`tieBreakers`
    * ordering columns; per key the LATEST change wins, then extras are
    * dropped. Two shuffles on the key (last-change window + anti join),
    * no driver state — at scale this is the standard "compact a CDC
    * stream onto a snapshot" job shape.
    */
  def applyChangelog(
      snapshot: DataFrame,
      changes: DataFrame,
      keys: Seq[String],
      opCol: String = "op",
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil): DataFrame = {
    val last = dedupByKey(changes, keys, latestBy, tieBreakers)
    val payload = snapshot.columns.map(col).toIndexedSeq
    snapshot.join(last.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(last.filter(col(opCol) =!= "D").select(payload: _*))
  }

  /** The LOAD merge by key (reference etl/load.py:388-460, re-expressed as
    * a distributed keep-latest merge): one row per key out of `current`
    * and the `updates` frames, in ONE window over one key shuffle.
    *
    * Per key the newest `latestBy` wins, nulls last, so a stale
    * re-delivery cannot regress the target; an exact tie goes to the later
    * update frame, and any update beats the current row; `tieBreakers`
    * decide among one frame's rows. An update frame may hold several rows
    * per key: within a frame the pick is exactly [[dedupByKey]]'s, so
    * merging a raw batch equals merging its dedup, and several frames
    * merge as if one after another in order.
    *
    * stamp: the reference's row stamping (sql/002_fn_set_updated_at.sql +
    * sql/010:49-57: `inserted_at`/`updated_at` column defaults and a
    * before-update trigger). `current` carries both columns and `updates`
    * the payload only. Per key a winning update row keeps the key's
    * existing `inserted_at` (a new key gets `stamp`) and sets `updated_at`
    * to `stamp`, as the trigger fires on every executed UPDATE; a winning
    * current row keeps both. With no current table every row gets `stamp`
    * in both. `stamp` is any Column: `current_timestamp()` in production,
    * a batch sequence number where results must hash-match across
    * engines. The carry-over is one more window function over the same
    * partitioning, so it reuses the one exchange.
    *
    * clusterBy = (c, n): the ONE exchange is an explicit n-partition hash
    * repartition on column c instead of the window's implicit key
    * exchange, and the window partitions by (c, keys…). Requires c =
    * f(keys) carried by every input (e.g. a key-hash bucket column): then
    * grouping by (c, keys) ≡ grouping by keys, and HashPartitioning(c)
    * satisfies the window's ClusteredDistribution — so a caller that must
    * WRITE partitioned by c afterwards (the bucketed table) gets merge and
    * write layout from a single exchange.
    */
  def merge(
      current: Option[DataFrame],
      updates: Seq[DataFrame],
      keys: Seq[String],
      latestBy: Option[String] = None,
      tieBreakers: Seq[String] = Nil,
      stamp: Option[Column] = None,
      clusterBy: Option[(String, Int)] = None): DataFrame = {
    require(updates.nonEmpty, "merge needs at least one update frame")
    val (ins, upd) = ("inserted_at", "updated_at")
    if (stamp.nonEmpty) {
      require(updates.forall(u => !u.columns.contains(ins) && !u.columns.contains(upd)),
        "updates carry the payload only — stamps are assigned by the merge")
      require(current.forall(c => c.columns.contains(ins) && c.columns.contains(upd)),
        s"current must carry $ins/$upd (a stamped merge into no table creates them)")
    }
    // A stamped merge into an existing table carries the current stamps.
    val carry = stamp.nonEmpty && current.nonEmpty
    val payload = if (!carry) updates else {
      val cur = current.get.schema
      updates.map(_.withColumn(ins, lit(null).cast(cur(ins).dataType))
        .withColumn(upd, lit(null).cast(cur(upd).dataType)))
    }
    val tagged0 = tagSources(current, payload)
    val tagged = clusterBy.map { case (c, n) => tagged0.repartition(n, col(c)) }
      .getOrElse(tagged0)
    val wKey = Window.partitionBy(clusterBy.map(c => col(c._1)).toSeq ++ keys.map(col): _*)
    val ranked = tagged.withColumn("__rn",
      row_number().over(wKey.orderBy(keepOrdering(latestBy, tieBreakers, tagged = true): _*)))
    val winners = stamp match {
      case None => ranked.filter(col("__rn") === 1)
      case Some(st) if !carry =>
        ranked.filter(col("__rn") === 1).withColumn(ins, st).withColumn(upd, st)
      case Some(st) =>
        ranked
          // The key's pre-merge insert stamp, visible to whichever row wins
          // (current side is unique per key by construction, so max == it).
          .withColumn("__cur_ins", max(when(col("__src") === 0, col(ins))).over(wKey))
          .filter(col("__rn") === 1)
          .withColumn(ins, when(col("__src") =!= 0, coalesce(col("__cur_ins"), st))
            .otherwise(col(ins)))
          .withColumn(upd, when(col("__src") =!= 0, st).otherwise(col(upd)))
          .drop("__cur_ins")
    }
    winners.drop("__rn", "__src")
  }

  /** `current` (tagged `__src` 0) and each update frame (1, 2, …) in one union. */
  private def tagSources(current: Option[DataFrame], updates: Seq[DataFrame]): DataFrame =
    (current.map(_.withColumn("__src", lit(0))).toSeq ++
      updates.zipWithIndex.map { case (u, i) => u.withColumn("__src", lit(i + 1)) })
      .reduce(_ unionByName _)

  // ------------------------------------------------------------------
  // Schema rules (reference etl/transform.py:188-237,509-571)
  // ------------------------------------------------------------------

  private val AutoCols = Set("surrogate_id", "business_key")

  def schemaDiff(df: DataFrame, expected: Set[String]): SchemaDiff = {
    val cols = df.columns.toSet -- AutoCols
    SchemaDiff((expected -- cols).toSeq.sorted, (cols -- expected).toSeq.sorted)
  }

  /** Add NULL string columns for expected-but-absent names (pad_missing). */
  def padMissing(df: DataFrame, expected: Set[String]): DataFrame = {
    val missing = (expected -- df.columns.toSet).toSeq.sorted
    missing.foldLeft(df)((d, c) => d.withColumn(c, lit(null).cast(StringType)))
  }

  /** IDs first, then declared order, then the rest in current order
    * (reference etl/transform.py:272-278,573-579).
    */
  def reorder(df: DataFrame, order: Seq[String]): DataFrame = {
    val front = (Seq("surrogate_id", "business_key").filter(df.columns.contains) ++
      order.filter(df.columns.contains)).distinct
    val rest = df.columns.filterNot(front.contains)
    df.select((front ++ rest).map(col).toIndexedSeq: _*)
  }

  /** Non-null count per listed column (absent columns count 0) — one agg
    * pass shared by the critical check and the recommended warnings.
    */
  private def nonNullCounts(df: DataFrame, cols: Seq[String]): Map[String, Long] = {
    val probeCols = cols.distinct.filter(df.columns.contains)
    if (probeCols.isEmpty) Map.empty
    else {
      val row = df.select(probeCols.map(c => count(col(c)).as(c)).toIndexedSeq: _*).head()
      probeCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    }
  }

  /** Critical-columns check: `all` must each have ≥1 non-null value; each
    * `anyOf` group needs ≥1 column with ≥1 non-null value. Single agg pass.
    */
  def criticalIssues(df: DataFrame, cc: CriticalCfg): (Seq[String], Seq[Seq[String]]) = {
    if (cc.all.isEmpty && cc.anyOf.isEmpty) return (Nil, Nil)
    criticalMissing(cc, nonNullCounts(df, criticalColumns(cc)))
  }

  /** The columns whose non-null counts decide the critical check. */
  def criticalColumns(cc: CriticalCfg): Seq[String] = (cc.all ++ cc.anyOf.flatten).distinct

  /** The critical verdict over non-null counts (absent columns count 0):
    * the `all` columns with no value, and the `anyOf` groups with none.
    */
  private def criticalMissing(cc: CriticalCfg,
      counts: Map[String, Long]): (Seq[String], Seq[Seq[String]]) = {
    val missingAll = cc.all.filter(c => counts.getOrElse(c, 0L) == 0L)
    val missingAny = cc.anyOf.filter(g => !g.exists(c => counts.getOrElse(c, 0L) > 0L))
    (missingAll, missingAny)
  }

  /** Throw [[TransformHardFail]] when the critical check fails under
    * `promote.onCriticalFail = "error"`. Pure over the counts, so the
    * eager check in [[pipeline]] and the count Runner observes on its
    * load action give the same verdict.
    */
  def enforceCritical(cfg: DatasetConfig, counts: Map[String, Long]): Unit = {
    val (missAll, missAny) = criticalMissing(cfg.critical, counts)
    if (cfg.promote.onCriticalFail == "error" && (missAll.nonEmpty || missAny.nonEmpty))
      throw new TransformHardFail(
        s"[${cfg.dataset}] critical failure: missing_all=$missAll missing_any_of=${missAny.size}")
  }

  /** Recommended-columns warnings (reference etl/transform.py:256-270
    * `_warn_recommended`): non-blocking advisories the per-resource report
    * carries. A singleton group warns `missing:<col>` when the column is
    * absent or all-null; a multi-column group warns
    * `any_of_missing:a|b|...` when NO member has a non-null value.
    * One agg pass; pass precomputed `counts` (e.g. from an observe) to
    * skip the scan entirely.
    */
  def recommendedWarnings(df: DataFrame, rec: Seq[Seq[String]],
      precomputed: Option[Map[String, Long]] = None): Seq[String] = {
    if (rec.isEmpty) return Nil
    val counts = precomputed.getOrElse(nonNullCounts(df, rec.flatten))
    rec.flatMap {
      case Seq(single) if counts.getOrElse(single, 0L) == 0L => Some(s"missing:$single")
      case group if group.size > 1 && !group.exists(c => counts.getOrElse(c, 0L) > 0L) =>
        Some(s"any_of_missing:${group.mkString("|")}")
      case _ => None
    }
  }

  // ------------------------------------------------------------------
  // Extras packing (reference etl/load.py:318-378)
  // ------------------------------------------------------------------

  /** Pack non-canonical columns into a JSON column and drop them. */
  def packExtras(df: DataFrame, canonical: Set[String], extrasCol: String): DataFrame = {
    val extras = df.columns.filterNot(c => canonical.contains(c) || AutoCols.contains(c)).sorted
    if (extras.isEmpty) df.withColumn(extrasCol, lit(null).cast(StringType))
    else df.withColumn(extrasCol, to_json(struct(extras.map(col).toIndexedSeq: _*)))
      .drop(extras.toIndexedSeq: _*)
  }

  /** Destination timestamp rendering (reference etl/load.py:62-76). */
  def toIsoLocal(c: Column): Column = date_format(c.cast(TimestampType), "yyyy-MM-dd HH:mm:ss")

  // ------------------------------------------------------------------
  // Full pipeline (reference run_transform, etl/transform.py:376-608)
  // ------------------------------------------------------------------

  /** Compose the reference's transform stage 1:1 over one DataFrame.
    * Throws TransformHardFail per promote_policy, like the reference. The
    * critical check is an eager aggregation; callers that consume the frame
    * in one later action use [[prepare]] and observe the counts instead.
    */
  def pipeline(df0: DataFrame, cfg: DatasetConfig): DataFrame = {
    var df = steps(df0, cfg)
    // The critical check is an eager aggregation over the transformed frame;
    // persist so the final consumer does not recompute the whole chain
    // (keys + dedup shuffle) a second time.
    val needsCheck = cfg.critical.all.nonEmpty || cfg.critical.anyOf.nonEmpty
    if (needsCheck) df = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    enforceCritical(cfg,
      if (needsCheck) nonNullCounts(df, criticalColumns(cfg.critical)) else Map.empty)
    enforceSchema(df, cfg)
    reorder(df, cfg.order)
  }

  /** [[pipeline]] without its critical check: no action of its own (only
    * `dropAllNullCols` and `deriveYear` over an existing year column scan,
    * when configured) and no persist. The schema-policy checks are
    * metadata-only and still throw here. The caller owns the critical
    * check: observe the non-null counts of [[criticalColumns]] on the
    * returned frame and pass them to [[enforceCritical]] once the
    * consuming action has run.
    */
  def prepare(df0: DataFrame, cfg: DatasetConfig): DataFrame = {
    val df = steps(df0, cfg)
    enforceSchema(df, cfg)
    reorder(df, cfg.order)
  }

  /** The transform steps shared by [[pipeline]] and [[prepare]]. */
  private def steps(df0: DataFrame, cfg: DatasetConfig): DataFrame = {
    var df = normalizeColumnNames(df0)
    df = applyRename(df, cfg.rename)
    df = applyNaTokens(df, cfg.normalize.naValues)
    if (cfg.normalize.dropAllNullRows) df = dropAllNullRows(df)
    if (cfg.normalize.dropAllNullCols) df = dropAllNullCols(df)
    df = coerceTypes(df, cfg.types)
    cfg.deriveYear.foreach { case (src, tgt) => df = deriveYear(df, src, tgt) }
    df = applyCategoryRules(df, cfg.categories)
    df = applyNumericRules(df, cfg.numericRules)
    df = withBusinessKey(df, cfg.ids)
    df = withSurrogate(df, cfg.ids.surrogate)
    if (cfg.integrity.enforceUniqueBusinessKey)
      df = dedupByKey(df, Seq("business_key"),
        latestBy = cfg.integrity.latestBy, tieBreakers = cfg.integrity.tieBreakers)
    if (cfg.padMissing) df = padMissing(df, cfg.expectedColumns)
    df
  }

  /** The schema-policy checks (missing / extra columns, drift budget). */
  private def enforceSchema(df: DataFrame, cfg: DatasetConfig): Unit = {
    val diff = schemaDiff(df, cfg.expectedColumns)
    if (cfg.promote.failOnMissingExpected && diff.missing.nonEmpty)
      throw new TransformHardFail(s"[${cfg.dataset}] missing expected cols: ${diff.missing.take(10)}")
    if (cfg.promote.failOnExtraColumns && diff.extra.nonEmpty)
      throw new TransformHardFail(s"[${cfg.dataset}] extra cols present: ${diff.extra.take(10)}")
    if (cfg.promote.failOnSchemaDrift && diff.diffs > cfg.allowedSchemaDiffs)
      throw new TransformHardFail(s"[${cfg.dataset}] schema drift ${diff.diffs} > ${cfg.allowedSchemaDiffs}")
  }
}
