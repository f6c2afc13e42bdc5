package graft.config

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, JValue}
import org.json4s.jackson.JsonMethods

/** Data-driven config loading — the analog of the reference's YAML loader
  * (reference etl/yaml_config_loader.py). Two front-ends, one extraction
  * path: JSON (json4s ships with Spark) and a YAML-subset parser
  * ([[Yaml]]) that loads the reference's actual `configs YAML files`
  * unmodified. The key shape mirrors the reference config key-for-key
  * (snake_case keys).
  */
object ConfigLoader {

  private implicit val formats: DefaultFormats.type = DefaultFormats

  def fromJsonString(json: String): DatasetConfig =
    fromJValue(JsonMethods.parse(json))

  /** Load a reference-shaped YAML config (the reference's own
    * `configs YAML files` parse unmodified — ConfigLoaderSpec proves it
    * against the JSON transcription).
    */
  def fromYamlString(yaml: String): DatasetConfig =
    fromJValue(Yaml.parse(yaml))

  private def fromJValue(j: JValue): DatasetConfig = {
    def sel(v: JValue, path: String): JValue =
      path.split('.').foldLeft(v)((acc, k) => acc \ k)
    def str(path: String, default: String = ""): String =
      sel(j, path).extractOpt[String].getOrElse(default)
    def strs(path: String): Seq[String] =
      sel(j, path).extractOpt[Seq[String]].getOrElse(Nil)
    def strss(path: String): Seq[Seq[String]] =
      sel(j, path).extractOpt[Seq[Seq[String]]].getOrElse(Nil)
    // The reference allows each item to be a bare column name OR an
    // any-of group (transform.py:256-270) — normalize both to groups.
    def strsOrGroups(path: String): Seq[Seq[String]] =
      sel(j, path) match {
        case org.json4s.JArray(items) => items.flatMap {
          case org.json4s.JString(s) => Some(Seq(s))
          case arr: org.json4s.JArray => arr.extractOpt[Seq[String]]
          case _ => None
        }
        case _ => Nil
      }
    def bool(path: String, default: Boolean): Boolean =
      sel(j, path).extractOpt[Boolean].getOrElse(default)
    def int(path: String, default: Int): Int =
      sel(j, path).extractOpt[Int].getOrElse(default)

    val categories = (j \ "categories").extractOpt[Map[String, JValue]]
      .getOrElse(Map.empty).map { case (colName, rules) =>
        colName -> CategoryRule(
          map = (rules \ "map").extractOpt[Map[String, String]].getOrElse(Map.empty),
          allowed = (rules \ "allowed").extractOpt[Seq[String]].getOrElse(Nil),
          coerceTo = (rules \ "coerce_to").extractOpt[String])
      }
    val numericRules = (j \ "numeric_rules").extractOpt[Map[String, JValue]]
      .getOrElse(Map.empty).map { case (colName, rules) =>
        colName -> NumericRule(
          min = (rules \ "min").extractOpt[Double],
          max = (rules \ "max").extractOpt[Double])
      }

    DatasetConfig(
      dataset = str("dataset", "dataset"),
      allowedSchemaDiffs = int("allowed_schema_diffs", 0),
      padMissing = bool("schema.pad_missing", false),
      promote = PromotePolicy(
        onCriticalFail = str("promote_policy.on_critical_fail", "error"),
        failOnMissingExpected = bool("promote_policy.fail_on_missing_expected", true),
        failOnExtraColumns = bool("promote_policy.fail_on_extra_columns", false),
        failOnSchemaDrift = bool("promote_policy.fail_on_schema_drift", false)),
      normalize = NormalizeCfg(
        naValues = strs("normalize.na_values"),
        dropAllNullRows = bool("normalize.drop_all_null_rows", false),
        dropAllNullCols = bool("normalize.drop_all_null_cols", false)),
      rename = (j \ "rename").extractOpt[Map[String, String]].getOrElse(Map.empty),
      types = TypesCfg(
        datetime = strs("types.datetime"),
        numeric = strs("types.numeric"),
        category = strs("types.category"),
        stringCodes = strs("types.string_codes")),
      order = strs("order"),
      critical = CriticalCfg(all = strs("critical.all"), anyOf = strss("critical.any_of")),
      recommended = strsOrGroups("recommended"),
      categories = categories,
      numericRules = numericRules,
      ids = IdStrategy(
        mode = str("id_strategy.mode", "composite_first"),
        singleKey = strs("id_strategy.single_key"),
        compositeKey = strs("id_strategy.composite_key"),
        compositeAllowNulls = bool("id_strategy.composite_allow_nulls", true),
        surrogate = SurrogateCfg(
          enabled = bool("id_strategy.surrogate.enabled", false),
          method = str("id_strategy.surrogate.method", "uuid5"),
          namespace = str("id_strategy.surrogate.namespace"),
          fields = strs("id_strategy.surrogate.fields"))),
      integrity = IntegrityCfg(
        enforceUniqueBusinessKey = bool("integrity.enforce_unique_business_key", false),
        onDuplicate = str("integrity.on_duplicate", "keep_first"),
        latestBy = sel(j, "integrity.latest_by").extractOpt[String],
        tieBreakers = strs("integrity.tie_breakers")),
      deriveYear = {
        val generic = for {
          src <- sel(j, "derive.year_from").extractOpt[String]
          tgt <- sel(j, "derive.year_col").extractOpt[String]
        } yield (src, tgt)
        // Reference key: derive.ano_from_fecha=true hardcodes the dataset's
        // date column and 'ano' (reference etl/transform.py:444-453).
        generic.orElse(
          if (bool("derive.ano_from_fecha", false))
            Some(("fecha_detencion_aprehension", "ano"))
          else None)
      },
      load = LoadCfg(
        table = str("load.table"),
        upsertKey = str("load.upsert_key", "surrogate_id"),
        extrasJsonColumn = sel(j, "load.extras_json_column").extractOpt[String]))
  }

  /** Load from any Hadoop-visible path. */
  def fromJsonFile(spark: SparkSession, path: String): DatasetConfig =
    fromJsonString(read(spark, path))

  /** Load a YAML config from any Hadoop-visible path. */
  def fromYamlFile(spark: SparkSession, path: String): DatasetConfig =
    fromYamlString(read(spark, path))

  /** Load by extension: `.yaml`/`.yml` → YAML, anything else JSON. */
  def fromFile(spark: SparkSession, path: String): DatasetConfig =
    if (path.endsWith(".yaml") || path.endsWith(".yml"))
      fromYamlFile(spark, path)
    else fromJsonFile(spark, path)

  private def read(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    graft.sources.Swap.readString(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
      .getOrElse(throw new java.io.FileNotFoundException(s"config file $path does not exist"))
  }
}
