package graft.sources

import java.time.{LocalDate, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, JValue}
import org.json4s.jackson.JsonMethods

/** Remote catalog extraction — the Spark analog of the reference's CKAN
  * layer (reference etl/extract.py:51-70 `_session_with_retries`,
  * :110-157 `extract_package`, :160-184 `diff_resources`, :258-276
  * `_download_raw`): list the resources of a catalog package over HTTP,
  * diff their metadata fingerprints against a persisted state, and stage
  * only the new/changed raw files for [[Ingest]]/[[Xlsx]] to parse.
  *
  * The HTTP client is behind the [[Catalog.Fetcher]] trait so the retry
  * policy, the catalog protocol, and the diff logic are testable without
  * network (this sandbox has zero egress); [[Catalog.HttpFetcher]] is the
  * production JDK-http implementation. All of this is driver-side by
  * design, like the reference: the catalog lists tens of resources, not
  * millions — the 100 TB path is the *content* of those resources, which
  * lands in a raw dir and is read by distributed Spark scans.
  */
object Catalog {

  // ------------------------------------------------------------------
  // HTTP with retries (reference extract.py:51-70)
  // ------------------------------------------------------------------

  final case class FetchResponse(status: Int, body: Array[Byte]) {
    def bodyString: String = new String(body, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Minimal GET client. Implementations raise on transport errors;
    * HTTP-level failures come back as `status`.
    */
  trait Fetcher {
    def get(url: String, params: Map[String, String] = Map.empty): FetchResponse
  }

  /** Production fetcher over the JDK's HttpClient, with the reference
    * session's identifying User-Agent and (connect, read) timeouts
    * (extract.py:66-67, :143 `timeout=(10, 60)`). Redirects follow, as
    * `allow_redirects=True` does (extract.py:261).
    */
  final class HttpFetcher(
      connectTimeoutSec: Int = 10,
      readTimeoutSec: Int = 60,
      userAgent: String = "graft-etl/1.0 (+jdk-http)") extends Fetcher {
    private lazy val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(connectTimeoutSec))
      .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
      .build()

    override def get(url: String, params: Map[String, String]): FetchResponse = {
      val qs = params.map { case (k, v) =>
        java.net.URLEncoder.encode(k, "UTF-8") + "=" + java.net.URLEncoder.encode(v, "UTF-8")
      }.mkString("&")
      val full = if (qs.isEmpty) url else url + (if (url.contains("?")) "&" else "?") + qs
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(full))
        .timeout(java.time.Duration.ofSeconds(readTimeoutSec))
        .header("User-Agent", userAgent)
        .GET().build()
      val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofByteArray())
      FetchResponse(resp.statusCode(), resp.body())
    }
  }

  /** Wrap a fetcher with the reference's retry policy (extract.py:59-64:
    * `Retry(total=5, backoff_factor=0.6, status_forcelist=(429, 500,
    * 502, 503, 504))`): up to `total` retries on a forcelisted status or
    * a transport exception, sleeping `backoffFactor * 2^k` before retry
    * k (urllib3's exponential backoff), capped at 120 s. Any other
    * status returns as-is — 4xx semantics are the caller's to judge
    * (`raise_for_status` lives in [[packageShow]]/[[downloadRaw]]).
    *
    * `sleeper` is injectable for tests.
    */
  def withRetries(
      inner: Fetcher,
      total: Int = 5,
      backoffFactor: Double = 0.6,
      statusForcelist: Set[Int] = Set(429, 500, 502, 503, 504),
      sleeper: Double => Unit = s => Thread.sleep((s * 1000).toLong)): Fetcher =
    new Fetcher {
      override def get(url: String, params: Map[String, String]): FetchResponse = {
        var attempt = 0
        while (true) {
          val result =
            try Right(inner.get(url, params))
            catch { case scala.util.control.NonFatal(e) => Left(e) }
          result match {
            case Right(r) if !statusForcelist.contains(r.status) => return r
            case Right(r) if attempt >= total =>
              return r // retries exhausted: surface the last status
            case Left(e) if attempt >= total => throw e
            case _ =>
              sleeper(math.min(backoffFactor * math.pow(2, attempt), 120.0))
              attempt += 1
          }
        }
        sys.error("unreachable")
      }
    }

  // ------------------------------------------------------------------
  // Resource metadata (reference extract.py:97-107 `_minimal_fp_payload`)
  // ------------------------------------------------------------------

  /** The fingerprint-bearing subset of a catalog resource. `lastModified`
    * is normalized ISO UTC; `format` is upper-cased — both exactly as the
    * reference stores them, so states interconvert.
    */
  final case class ResourceMeta(
      id: String,
      name: String,
      url: String,
      format: String,
      lastModified: String,
      size: Long)

  private implicit val formats: DefaultFormats.type = DefaultFormats

  /** Normalize a catalog datetime to `YYYY-MM-DDTHH:MM:SSZ` (reference
    * extract.py:85-95 `_normalize_dt`): naive timestamps are assumed UTC,
    * zoned ones convert to UTC; empty/absent → "". A date that parses as
    * NOTHING comes back verbatim — the fingerprint only needs change
    * COMPARABILITY, and one weird date must not sink the whole sync.
    */
  def normalizeDt(s: String): String = {
    val in = Option(s).getOrElse("").trim
    if (in.isEmpty) return ""
    def attempt(f: => LocalDateTime): Option[LocalDateTime] =
      try Some(f) catch { case _: Exception => None }
    attempt(OffsetDateTime.parse(in).withOffsetSameInstant(ZoneOffset.UTC).toLocalDateTime)
      .orElse(attempt(LocalDateTime.parse(in)))
      // Space-separated forms the reference's dateutil accepts: with an
      // offset ("2024-06-01 12:00:00+03:00") or a trailing Z — only then
      // fall back to naive-assumed-UTC.
      .orElse(attempt(OffsetDateTime.parse(in.replace(' ', 'T'))
        .withOffsetSameInstant(ZoneOffset.UTC).toLocalDateTime))
      .orElse(attempt(LocalDateTime.parse(in.replace(' ', 'T'))))
      .orElse(attempt(LocalDateTime.parse(in.stripSuffix("Z").replace(' ', 'T'))))
      .orElse(attempt(LocalDate.parse(in).atStartOfDay()))
      .map(_.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")) + "Z")
      .getOrElse(in)
  }

  private def resourceMeta(res: JValue): ResourceMeta = {
    def str(k: String): String = (res \ k).extractOpt[String].getOrElse("")
    val lm = Seq("last_modified", "metadata_modified").map(str).find(_.nonEmpty)
    ResourceMeta(
      id = str("id"),
      name = str("name"),
      url = str("url"),
      format = str("format").toUpperCase,
      lastModified = normalizeDt(lm.getOrElse("")),
      size = (res \ "size").extractOpt[Long]
        .orElse((res \ "size").extractOpt[String].flatMap(_.toLongOption))
        .getOrElse(0L))
  }

  // ------------------------------------------------------------------
  // package_show (reference extract.py:110-157)
  // ------------------------------------------------------------------

  /** Fetch a package's resource list, optionally filtered by normalized
    * name/id prefix with the reference's contains-fallback
    * (extract.py:131-151): prefer `startswith`, and only if nothing
    * matches fall back to substring containment.
    */
  def packageShow(fetcher: Fetcher, apiUrl: String, packageId: String,
      prefix: String = ""): Seq[ResourceMeta] = {
    val r = fetcher.get(apiUrl, Map("id" -> packageId))
    if (r.status / 100 != 2)
      throw new java.io.IOException(s"package_show HTTP ${r.status} for $packageId")
    val j = JsonMethods.parse(r.bodyString)
    if ((j \ "success").extractOpt[Boolean].contains(false))
      throw new RuntimeException(s"catalog returned success=false for package_id=$packageId")
    val resources = (j \ "result" \ "resources") match {
      case org.json4s.JArray(items) => items.map(resourceMeta)
      case _ => Nil
    }
    val p = Xlsx.norm(prefix.stripPrefix("\"").stripSuffix("\"")
      .stripPrefix("'").stripSuffix("'"))
    if (p.isEmpty) resources
    else {
      val byPrefix = resources.filter(res =>
        Xlsx.norm(res.name).startsWith(p) || Xlsx.norm(res.id).startsWith(p))
      if (byPrefix.nonEmpty) byPrefix
      else resources.filter(res =>
        Xlsx.norm(res.name).contains(p) || Xlsx.norm(res.id).contains(p))
    }
  }

  // ------------------------------------------------------------------
  // Diff vs persisted state (reference extract.py:160-184)
  // ------------------------------------------------------------------

  final case class DiffReason(id: String, reason: String)

  /** Split current resources into (toDownload, unchanged) against the
    * previous state, recording per-resource reasons — "new" or the
    * comma-joined list of changed fingerprint fields, field order
    * matching the reference (extract.py:176).
    */
  def diffResources(resources: Seq[ResourceMeta], prev: Map[String, ResourceMeta])
      : (Seq[ResourceMeta], Seq[ResourceMeta], Seq[DiffReason]) = {
    val toDownload = Seq.newBuilder[ResourceMeta]
    val unchanged = Seq.newBuilder[ResourceMeta]
    val reasons = Seq.newBuilder[DiffReason]
    resources.foreach { cur =>
      prev.get(cur.id) match {
        case None =>
          toDownload += cur
          reasons += DiffReason(cur.id, "new")
        case Some(old) =>
          val changed = Seq(
            "last_modified" -> (cur.lastModified != old.lastModified),
            "size" -> (cur.size != old.size),
            "url" -> (cur.url != old.url),
            "format" -> (cur.format != old.format)).collect { case (f, true) => f }
          if (changed.nonEmpty) {
            toDownload += cur
            reasons += DiffReason(cur.id, changed.mkString(","))
          } else unchanged += cur
      }
    }
    (toDownload.result(), unchanged.result(), reasons.result())
  }

  // ------------------------------------------------------------------
  // Catalog state file (reference state.json {"resources": {id: fp}})
  // ------------------------------------------------------------------

  /** Read the catalog state — `{"resources": {id: fingerprint}}`, the
    * reference's state.json shape (extract.py:73-78). Missing file means
    * empty state. Heals a half-finished [[saveCatalogState]] swap first.
    */
  def loadCatalogState(spark: SparkSession, statePath: String): Map[String, ResourceMeta] = {
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.healFile(fs, p)
    Swap.readString(fs, p).fold(Map.empty[String, ResourceMeta]) { text =>
      val j = JsonMethods.parse(text)
      (j \ "resources").extractOpt[Map[String, JValue]].getOrElse(Map.empty)
        .map { case (id, v) =>
          id -> ResourceMeta(
            id = (v \ "id").extractOpt[String].getOrElse(id),
            name = (v \ "name").extractOpt[String].getOrElse(""),
            url = (v \ "url").extractOpt[String].getOrElse(""),
            format = (v \ "format").extractOpt[String].getOrElse(""),
            lastModified = (v \ "last_modified").extractOpt[String].getOrElse(""),
            size = (v \ "size").extractOpt[Long].getOrElse(0L))
        }
    }
  }

  /** Persist the catalog state with the same atomic tmp→old→final swap
    * as [[Ingest.saveState]] (reference load.py:534-606
    * `_promote_state_atomic`): a crash at any point leaves a complete
    * previous or complete new state, never a torn JSON.
    */
  def saveCatalogState(spark: SparkSession, statePath: String,
      state: Map[String, ResourceMeta]): Unit = {
    val entries = state.toSeq.sortBy(_._1).map { case (id, m) =>
      s"""    ${jstr(id)}: {"id": ${jstr(m.id)}, "name": ${jstr(m.name)}, """ +
        s""""url": ${jstr(m.url)}, "format": ${jstr(m.format)}, """ +
        s""""last_modified": ${jstr(m.lastModified)}, "size": ${m.size}}"""
    }
    val json = "{\n  \"resources\": {\n" + entries.mkString(",\n") + "\n  }\n}\n"
    val p = new Path(statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Swap.writeFile(fs, p)(_.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
  }

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  // ------------------------------------------------------------------
  // Raw-file naming (reference extract.py:189-225)
  // ------------------------------------------------------------------

  /** Expected raw extension from format, else from the URL, else ".bin"
    * (extract.py:189-199 `_infer_ext`).
    */
  def inferExt(res: ResourceMeta): String = res.format match {
    case "XLSX" => ".xlsx"
    case "XLS" => ".xls"
    case "CSV" => ".csv"
    case _ =>
      val u = res.url.toLowerCase
      Seq(".xlsx", ".xls", ".csv").find(u.endsWith).getOrElse(".bin")
  }

  /** Filesystem-safe stem: known extension stripped, every run of
    * non-[A-Za-z0-9._-] collapsed to "_", resource id as fallback
    * (extract.py:201-213).
    */
  def safeStem(name: String, fallback: String): String = {
    val trimmed = Option(name).getOrElse("").trim
    val lower = trimmed.toLowerCase
    val stripped = Seq(".xlsx", ".xls", ".csv").find(lower.endsWith)
      .map(ext => trimmed.dropRight(ext.length)).getOrElse(trimmed)
    val base = if (stripped.isEmpty) fallback else stripped
    val stem = base.replaceAll("[^A-Za-z0-9._-]+", "_")
    if (stem.isEmpty) fallback else stem
  }

  /** Local raw path for a resource under `rawDir` (extract.py:215-225). */
  def rawPath(res: ResourceMeta, rawDir: String): String = {
    val stem = safeStem(res.name, if (res.id.nonEmpty) res.id else "resource")
    s"${rawDir.stripSuffix("/")}/$stem${inferExt(res)}"
  }

  // ------------------------------------------------------------------
  // Download (reference extract.py:258-276 `_download_raw`)
  // ------------------------------------------------------------------

  /** Stage one resource to `dest` on any Hadoop-visible FS. Raises on a
    * non-2xx status (the reference's `raise_for_status`); the retry
    * policy lives in the fetcher wrapper.
    */
  def downloadRaw(spark: SparkSession, fetcher: Fetcher, url: String, dest: String): Unit = {
    val r = fetcher.get(url)
    if (r.status / 100 != 2)
      throw new java.io.IOException(s"download HTTP ${r.status} for $url")
    val p = new Path(dest)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(r.body) finally out.close()
  }

  // ------------------------------------------------------------------
  // Orchestration
  // ------------------------------------------------------------------

  final case class SyncResult(
      downloaded: Seq[String],
      unchanged: Int,
      reasons: Seq[DiffReason],
      /** The advanced state. NOT yet persisted — promote with
        * [[saveCatalogState]] only after the downstream load succeeds,
        * the reference's promote-after-DB-OK rule.
        */
      state: Map[String, ResourceMeta])

  /** One catalog sync pass: package_show → diff vs state → download the
    * changed resources into `rawDir`. Returns the staged paths plus the
    * advanced state for the caller to promote after a successful load
    * (reference etl/extract.py `extract_updated_dfs` + etl/load.py's
    * state promotion ordering).
    */
  def sync(spark: SparkSession, fetcher: Fetcher, apiUrl: String, packageId: String,
      prefix: String, rawDir: String, statePath: String): SyncResult = {
    val prev = loadCatalogState(spark, statePath)
    val resources = packageShow(fetcher, apiUrl, packageId, prefix)
    val (toDownload, unchanged, reasons) = diffResources(resources, prev)
    val staged = toDownload.map { res =>
      val dest = rawPath(res, rawDir)
      downloadRaw(spark, fetcher, res.url, dest)
      dest
    }
    val advanced = prev ++ toDownload.map(r => r.id -> r)
    SyncResult(staged, unchanged.size, reasons, advanced)
  }

  /** Initialize the state from catalog metadata without downloading
    * anything (reference extract.py:280-289 `seed_state_from_metadata`) —
    * the "start incremental from now" bootstrap.
    */
  def seedStateFromMetadata(spark: SparkSession, fetcher: Fetcher, apiUrl: String,
      packageId: String, prefix: String, statePath: String): Unit = {
    val prev = loadCatalogState(spark, statePath)
    val resources = packageShow(fetcher, apiUrl, packageId, prefix)
    saveCatalogState(spark, statePath, prev ++ resources.map(r => r.id -> r))
  }
}
