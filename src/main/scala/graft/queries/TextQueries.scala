package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{DedupResolve, IvfIndex, MediaFeatureStore, MinHashLsh, Multimodal, SemDedup, Similarity, TextClean, TextDedup, TextStats}
import graft.sources.Tables

/** LLM-training-data operators (SURVEY.md §2.3) wired to the driver tables.
  * Sketch-based ops (minhash/simhash/LSH) are rows-only: their hash
  * families aren't expressible in DuckDB SQL; determinism is covered by
  * TextOpsSpec and the row counts recorded by the driver.
  */
object TextQueries {

  private val EnStop = TextStats.stopwords("en")

  /** Learned BPE merges, memoized per corpus dir: x_bpe_learned and
    * x_tokenize_ids share one training run per session instead of each
    * re-running the word-count job + driver merge loop (same params →
    * identical merges, so sharing cannot change results).
    */
  private val bpeMergeCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, String)]]()

  private def learnedMerges(s: org.apache.spark.sql.SparkSession, dir: String): Seq[(String, String)] =
    bpeMergeCache.computeIfAbsent(dir, _ =>
      graft.operators.Bpe.trainFromCorpus(
        Tables.documents(s, dir), "text", numMerges = 50, maxWords = 2000))

  private lazy val ivfPqScratch = Scratch.slot("ivfpq-twin")
  private lazy val substrScratch = Scratch.slot("substr-index")

  // ------------------------------------------------------------------
  // Decode-once media feature store (SURVEY §2.3 rows 41/41c/41d/88):
  // ONE decode pass per session per corpus dir writes the parquet
  // feature store; every registered media query reads FEATURES, never
  // bytes. m_features_build FORCES a rebuild so the full decode cost is
  // visible in exactly one board slot regardless of query order.
  // ------------------------------------------------------------------

  private lazy val mediaScratch = Scratch.slot("media-store")

  private val mediaStoreBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** All four synthetic media kinds in one frame — the single decode
    * pass generates AND decodes each media item exactly once.
    *
    * Repartition with an EXPLICIT count: `repartition(col)` alone is an
    * AQE-coalescible exchange, and a 500k-row doc_id projection is ~4 MB
    * of shuffle — AQE folds it to 1-2 partitions and the entire
    * synth+decode chain (the most expensive per-row work in the repo)
    * runs on 1-2 cores. That was the real shape of m_features_build's
    * 590-645 s at sf10: ~1.5 ms/doc of media CPU × 500k docs ≈ 750 s
    * single-threaded — the board was measuring serialization, not decode
    * (r9 find; the r8 banded_fast one-split scan was the same class on
    * the scan side). An explicit numPartitions is REPARTITION_BY_NUM,
    * which AQE never coalesces.
    */
  private def synthMedia(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions", "32").toInt,
        col("doc_id")).as[Long]
      .mapPartitions(_.flatMap(id => Iterator(
        ("png", id, Multimodal.synthPng(id)),
        ("pattern", id, Multimodal.synthPatternPng(id)),
        ("wav", id, Multimodal.synthWav(id)),
        ("video", id, Multimodal.synthVideo(id, 4)))))
      .toDF("kind", "id", "media")
  }

  private def mediaStore(s: org.apache.spark.sql.SparkSession, dir: String,
      forceRebuild: Boolean = false): org.apache.spark.sql.DataFrame = {
    if (forceRebuild) mediaStoreBuilt.remove(dir)
    val path = mediaStoreBuilt.computeIfAbsent(dir, _ => {
      val p = mediaScratch
        .resolve("sf" + Integer.toHexString(dir.hashCode)).toString
      MediaFeatureStore.build(synthMedia(s, dir), p)
      p
    })
    MediaFeatureStore.load(s, path)
  }

  val all: Seq[Q] = Seq(

    // ------------------------------------------------------------------
    // 30: exact dedup by content hash
    Q("d_dedup_exact",
      (s, dir) => TextDedup.exactDedup(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("text_hash")),
      Some("""
        SELECT sha256(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM documents GROUP BY 1 ORDER BY text_hash
      """)),

    // ------------------------------------------------------------------
    // 30d: Bloom-gated incremental exact dedup (TextDedup.bloomGate):
    // corpus keys fold into a Bloom filter (treeAggregate — the corpus
    // is READ once, never shuffled), the batch probes the broadcast
    // filter, and the tiny might-contain survivor set is confirmed with
    // a broadcast semi-join. Exactness is the oracle: the published
    // survivors must equal a plain anti-join (Bloom has no false
    // negatives; false positives die in the confirm join) — so any
    // filter-logic bug hash-mismatches.
    Q("d_dedup_bloom",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        TextDedup.bloomGate(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "h", expectedItems = 10000, fpp = 0.03)
          .select(col("doc_id"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH d AS (SELECT doc_id, sha256(text) AS h FROM documents),
        c AS (SELECT h FROM d WHERE doc_id % 5 <> 0),
        b AS (SELECT doc_id, h FROM d WHERE doc_id % 5 = 0)
        SELECT doc_id FROM b ANTI JOIN c USING (h) ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 31: word-3-gram Jaccard set-similarity join, top-20 pairs. Oracle-
    // checked: the corpus is ASCII/lowercase/single-spaced, so the native
    // tokenizer reduces to string_split and the whole posting/df-cut/
    // pair-count pipeline is exact integer arithmetic on both engines;
    // the only double (shared / union) divides identical ints.
    Q("d_dedup_ngram_jaccard",
      (s, dir) => TextDedup.ngramJaccardTopK(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(jaccard * 1e9) AS BIGINT)").as("jaccard_e9")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
        cutx AS (SELECT * FROM ex WHERE shingle NOT IN
                   (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) > 200)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
                  FROM cutx a JOIN cutx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        shared AS (SELECT id_a, id_b, sz_a, sz_b, COUNT(*) AS shared
                   FROM pairs GROUP BY 1, 2, 3, 4),
        scored AS (SELECT id_a, id_b,
                          CAST(shared AS DOUBLE) / (sz_a + sz_b - shared) AS jaccard
                   FROM shared)
        SELECT id_a, id_b, CAST(floor(jaccard * 1e9) AS BIGINT) AS jaccard_e9
        FROM scored ORDER BY jaccard DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 31e: overlap-coefficient containment top-20 — |A∩B| / min(|A|,|B|)
    // over the same word-3-gram posting join. Catches quoted/embedded
    // subset documents whose Jaccard stays low because the union is
    // dominated by the longer side. Same exactness argument as
    // d_dedup_ngram_jaccard: integer set arithmetic, one double divide
    // of identical ints on both engines.
    Q("d_dedup_containment",
      (s, dir) => TextDedup.ngramContainmentTopK(
          Tables.documents(s, dir), "doc_id", "text")
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(containment * 1e9) AS BIGINT)").as("containment_e9")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
        cutx AS (SELECT * FROM ex WHERE shingle NOT IN
                   (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) > 200)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
                  FROM cutx a JOIN cutx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        shared AS (SELECT id_a, id_b, sz_a, sz_b, COUNT(*) AS shared
                   FROM pairs GROUP BY 1, 2, 3, 4),
        scored AS (SELECT id_a, id_b,
                          CAST(shared AS DOUBLE) / LEAST(sz_a, sz_b) AS containment
                   FROM shared)
        SELECT id_a, id_b, CAST(floor(containment * 1e9) AS BIGINT) AS containment_e9
        FROM scored ORDER BY containment DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 43j: content-defined chunk dedup — rolling-hash boundaries
    // (CdcChunks) instead of d_dedup_spans' fixed word grid, so SHIFTED
    // copies still dedup (insertion re-syncs cuts; spec'd in TextOpsSpec).
    // Oracle: every boundary test fires at in-chunk length >= minLen(32)
    // > window(16), where CdcChunks' rolling state equals the PURE local
    // window hash H(i) = sum_{k<16} c(i-k)*POLY^k mod 2^64 — independent
    // of the chunk start. So the greedy cut is reconstructible from
    // position-local flags: DuckDB computes H(i) via a 16-term join with
    // precomputed POLY^k constants (HUGEINT sums, explicit mod 2^64;
    // mask test = mod 32), then a recursive CTE replays the greedy
    // min/max-bounded chunking: next cut = least(cut+maxLen, first flag
    // in [cut+minLen, cut+maxLen]); tail chunk if the last cut falls
    // short of the end. Kept-chunk/reassembly semantics mirror the Spark
    // side verbatim (first (doc_id, chunk_idx) occurrence per chunk).
    Q("d_dedup_cdc",
      (s, dir) => TextDedup.cdcDedup(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""
        WITH RECURSIVE
        docs AS (SELECT doc_id, text, length(text) AS n FROM documents),
        ex AS (SELECT doc_id, CAST(u.i AS BIGINT) AS i,
                      unicode(substr(text, CAST(u.i AS INT) + 1, 1))::HUGEINT AS c
               FROM docs, unnest(range(n)) AS u(i)),
        pw(k, p) AS (VALUES
          (0, 1::HUGEINT), (1, 1099511628211::HUGEINT),
          (2, 956575116354345::HUGEINT), (3, 624165263380053675::HUGEINT),
          (4, 11527715348014283921::HUGEINT), (5, 913917546033277539::HUGEINT),
          (6, 15895002104753931833::HUGEINT), (7, 14218562807570617051::HUGEINT),
          (8, 2232315406967589409::HUGEINT), (9, 10622396531520239123::HUGEINT),
          (10, 1775861927039214153::HUGEINT), (11, 3510945102848213515::HUGEINT),
          (12, 17673114087473428657::HUGEINT), (13, 10372170898125509827::HUGEINT),
          (14, 104005896588101465::HUGEINT), (15, 2442422338666789947::HUGEINT)),
        flags AS (
          SELECT a.doc_id, a.i
          FROM ex a JOIN pw ON pw.k <= 15
               JOIN ex b ON b.doc_id = a.doc_id AND b.i = a.i - pw.k
          WHERE a.i >= 15
          GROUP BY a.doc_id, a.i
          HAVING (SUM(b.c * pw.p) % 18446744073709551616::HUGEINT) % 32 = 0
        ),
        cuts AS (
          SELECT doc_id, CAST(-1 AS BIGINT) AS cut, n FROM docs
          UNION ALL
          SELECT c.doc_id,
                 LEAST(c.cut + 128,
                       COALESCE((SELECT MIN(f.i) FROM flags f
                                 WHERE f.doc_id = c.doc_id
                                   AND f.i BETWEEN c.cut + 32 AND c.cut + 128),
                                c.cut + 128)) AS cut,
                 c.n
          FROM cuts c
          WHERE LEAST(c.cut + 128,
                      COALESCE((SELECT MIN(f.i) FROM flags f
                                WHERE f.doc_id = c.doc_id
                                  AND f.i BETWEEN c.cut + 32 AND c.cut + 128),
                               c.cut + 128)) <= c.n - 1
        ),
        bounds AS (
          SELECT doc_id, cut,
                 LEAD(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS next_cut, n
          FROM cuts
        ),
        chunks0 AS (
          SELECT b.doc_id,
                 ROW_NUMBER() OVER (PARTITION BY b.doc_id ORDER BY b.cut) - 1
                   AS chunk_idx,
                 substr(d.text, CAST(b.cut + 2 AS INT),
                        CAST(COALESCE(b.next_cut, b.n - 1) - b.cut AS INT)) AS ch
          FROM bounds b JOIN docs d USING (doc_id)
          WHERE COALESCE(b.next_cut,
                         CASE WHEN b.cut < b.n - 1 THEN b.n - 1 END) IS NOT NULL
        ),
        kept AS (
          SELECT doc_id, chunk_idx, ch
          FROM chunks0
          QUALIFY ROW_NUMBER() OVER (PARTITION BY ch ORDER BY doc_id, chunk_idx) = 1
        )
        SELECT doc_id,
               string_agg(ch, '' ORDER BY chunk_idx) AS text_clean,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 43n: INCREMENTAL exact-substring dedup against a persisted gram
    // index (SubstrIndex — the standing artifact a crawl pipeline
    // maintains): the corpus half (doc_id below the id midpoint) builds
    // the index, the batch half dedups against it WITHOUT re-reading
    // the corpus (touched-bucket partition-filtered probe). Oracle: the
    // full-union ExactSubstr rerun restricted to batch rows — equality
    // holds because corpus ids precede batch ids (the crawl timeline
    // the index encodes; spec'd in SubstrIndexSpec).
    Q("d_dedup_substring_incr",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val thr = docs.agg(
          expr("(min(doc_id) + max(doc_id)) DIV 2").as("thr"))
        val withThr = docs.crossJoin(broadcast(thr))
        val corpus = withThr.filter(col("doc_id") < col("thr"))
          .select("doc_id", "text")
        val batch = withThr.filter(col("doc_id") >= col("thr"))
          .select("doc_id", "text")
        substrScratch.synchronized {
          Scratch.fresh(substrScratch)
          val path = substrScratch.toString
          graft.operators.SubstrIndex.build(
            corpus, "doc_id", "text", path, minTokens = 8)
          graft.operators.SubstrIndex.dedupBatch(
              s, path, batch, "doc_id", "text")
            .orderBy("doc_id")
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      Some("""
        WITH thr AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS thr FROM documents),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        wpos AS (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS pos
                 FROM toks WHERE len(t) >= 8),
        wins AS (SELECT doc_id, pos,
                        array_to_string(t[pos+1 : pos+8], ' ') AS gram
                 FROM wpos),
        del AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         ROW_NUMBER() OVER (PARTITION BY gram
                                            ORDER BY doc_id, pos) AS rn
                  FROM wins) WHERE rn >= 2),
        offs AS (SELECT unnest(range(0, 8)) AS g),
        delpos AS (SELECT DISTINCT doc_id, pos + g AS p FROM del, offs),
        tp AS (SELECT doc_id, unnest(range(0, len(t))) AS p, t FROM toks),
        kept AS (SELECT tp.doc_id, tp.p, tp.t[tp.p + 1] AS tok
                 FROM tp LEFT JOIN delpos d
                   ON tp.doc_id = d.doc_id AND tp.p = d.p
                 WHERE d.p IS NULL),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id)
        SELECT toks.doc_id,
               coalesce(agg.text_clean, '') AS text_clean,
               len(toks.t) - coalesce(agg.n_kept, 0) AS n_dropped
        FROM toks LEFT JOIN agg USING (doc_id), thr
        WHERE toks.doc_id >= thr.thr ORDER BY toks.doc_id
      """)),

    // ------------------------------------------------------------------
    // 43m: EXACT-SUBSTRING dedup (Lee et al. 2022's ExactSubstr tier) —
    // every ≥8-token run that occurs more than once corpus-wide keeps
    // only its first (doc_id, pos) occurrence; later occurrences are cut
    // out of their docs, which reassemble from surviving tokens. The
    // positional, token-granular sibling of d_dedup_spans (fixed grid)
    // and d_dedup_cdc (content-defined chunks). Spark side flags via a
    // partial-aggregable min(struct(doc,pos))+count groupBy (no hot-gram
    // window sort); oracle replays window-frequency, first-occurrence,
    // DISTINCT deleted positions and reassembly directly.
    Q("d_dedup_substring",
      (s, dir) => TextDedup.substringDedup(
          Tables.documents(s, dir), "doc_id", "text", minTokens = 8)
        .orderBy("doc_id"),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        wpos AS (SELECT doc_id, t, unnest(range(0, len(t) - 7)) AS pos
                 FROM toks WHERE len(t) >= 8),
        wins AS (SELECT doc_id, pos,
                        array_to_string(t[pos+1 : pos+8], ' ') AS gram
                 FROM wpos),
        del AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos,
                         ROW_NUMBER() OVER (PARTITION BY gram
                                            ORDER BY doc_id, pos) AS rn
                  FROM wins) WHERE rn >= 2),
        offs AS (SELECT unnest(range(0, 8)) AS g),
        delpos AS (SELECT DISTINCT doc_id, pos + g AS p FROM del, offs),
        tp AS (SELECT doc_id, unnest(range(0, len(t))) AS p, t FROM toks),
        kept AS (SELECT tp.doc_id, tp.p, tp.t[tp.p + 1] AS tok
                 FROM tp LEFT JOIN delpos d
                   ON tp.doc_id = d.doc_id AND tp.p = d.p
                 WHERE d.p IS NULL),
        agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
                       count(*) AS n_kept
                FROM kept GROUP BY doc_id)
        SELECT toks.doc_id,
               coalesce(agg.text_clean, '') AS text_clean,
               len(toks.t) - coalesce(agg.n_kept, 0) AS n_dropped
        FROM toks LEFT JOIN agg USING (doc_id) ORDER BY toks.doc_id
      """)),

    // ------------------------------------------------------------------
    // 31b: the same top-k join with the df-cut driven by the SpaceSaving
    // heavy-hitter sketch instead of an exact count agg — constant-size
    // summaries per partition instead of a distinct-shingle-wide partial-
    // agg shuffle, hot set applied as a broadcast literal NOT-isin.
    // Capacity is sized ≥ N/maxDf (soundness bound), so the hot set is a
    // superset of the exact one; equality at ample capacity is spec'd in
    // TextOpsSpec. NOTE perf: at sf0.1 this measures SLOWER than the
    // exact cut (2.7 s vs 1.9 s) — the synthetic vocabulary keeps the
    // distinct-shingle shuffle tiny while the sketch pays an extra corpus
    // pass + a capacity-sized driver merge. The sketch is the plan that
    // survives a high-cardinality (web-scale) shingle space, where the
    // exact path's partial-agg shuffle is vocabulary-sized; exact stays
    // the default.
    // Oracle: the capacity (65536) is far above the soundness bound
    // (occurrences/maxDf ≈ 1.3k at sf0.1), so the sketch's hot set is a
    // superset of the exact one and the df-cut — hence the whole output
    // — EQUALS the exact path's (asserted in TextOpsSpec). The oracle is
    // therefore the same exact-cut SQL as d_dedup_ngram_jaccard.
    Q("d_dedup_ngram_sketch",
      (s, dir) => TextDedup.ngramJaccardTopK(Tables.documents(s, dir),
          "doc_id", "text", sketchCapacity = 1 << 16)
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(jaccard * 1e9) AS BIGINT)").as("jaccard_e9")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, len(sh) AS sz, unnest(sh) AS shingle FROM sh),
        cutx AS (SELECT * FROM ex WHERE shingle NOT IN
                   (SELECT shingle FROM ex GROUP BY shingle HAVING COUNT(*) > 200)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b
                  FROM cutx a JOIN cutx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        shared AS (SELECT id_a, id_b, sz_a, sz_b, COUNT(*) AS shared
                   FROM pairs GROUP BY 1, 2, 3, 4),
        scored AS (SELECT id_a, id_b,
                          CAST(shared AS DOUBLE) / (sz_a + sz_b - shared) AS jaccard
                   FROM shared)
        SELECT id_a, id_b, CAST(floor(jaccard * 1e9) AS BIGINT) AS jaccard_e9
        FROM scored ORDER BY jaccard DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 31c: PPJoin-style EXACT thresholded Jaccard self-join (prefix
    // filtering under a rarest-first shingle order) — the exact-at-any-
    // scale sibling of the top-k variant. Oracle = brute-force DuckDB
    // join (candidates by any shared shingle, exact intersection over the
    // full sets); equality with brute force also spec'd in TextOpsSpec.
    Q("d_dedup_ppjoin",
      (s, dir) => TextDedup.ngramJaccardJoin(
          Tables.documents(s, dir), "doc_id", "text", threshold = 0.8)
        .groupBy()
        .agg(count(lit(1)).as("n_pairs"),
          sum(expr("CAST(floor(jaccard * 1e9) AS BIGINT)")).as("sum_jaccard_e9")),
      Some("""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        sh AS (SELECT doc_id,
                      CASE WHEN len(t) <= 3 THEN [array_to_string(t, ' ')]
                           ELSE list_distinct(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                      END AS sh
               FROM toks),
        ex AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
        scored AS (SELECT c.id_a, c.id_b,
                          CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
                   FROM cand c
                   JOIN sh a ON a.doc_id = c.id_a
                   JOIN sh b ON b.doc_id = c.id_b)
        SELECT COUNT(*) AS n_pairs,
               CAST(sum(CAST(floor(jaccard * 1e9) AS BIGINT)) AS BIGINT) AS sum_jaccard_e9
        FROM scored WHERE jaccard >= 0.8
      """)),

    // ------------------------------------------------------------------
    // 32: MinHash + LSH banding, top-20 candidates by estimated Jaccard
    Q("d_dedup_minhash_lsh",
      (s, dir) => TextDedup.minhashLshTopK(Tables.documents(s, dir), "doc_id", "text"),
      None),

    // ------------------------------------------------------------------
    // 33: SimHash near-dup, top-20 pairs by hamming distance
    Q("d_dedup_simhash",
      (s, dir) => TextDedup.simhashTopK(Tables.documents(s, dir), "doc_id", "text"),
      None),

    // ------------------------------------------------------------------
    // 40c: winnowing fingerprints APPLIED to near-dup detection — the
    // MOSS use case: docs sharing many selected fingerprints are
    // near-duplicates. Distinct (doc, fp) → df-cut on degenerate
    // fingerprints (same skew guard as every LSH join here) → fp
    // equi-join (never all-pairs) → pairs ranked by shared-fingerprint
    // count. Integer-exact end to end, so the whole chain — selection,
    // cut, join, ranking — hash-matches the oracle.
    Q("d_dedup_winnow",
      (s, dir) => {
        val fps = graft.operators.Winnow.fingerprints(
            Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
          .select(col("id"), col("fp")).distinct()
        val kept = fps.join(
          fps.groupBy("fp").agg(count(lit(1)).as("df_"))
            .filter(col("df_") <= 200).select("fp"),
          Seq("fp"))
        kept.as("a").join(kept.as("b"),
            col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("shared"))
          .orderBy(col("shared").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '') AS ts
          FROM documents),
        g AS (SELECT doc_id, list_transform(range(0, len(ts) - 5 + 1),
                i -> ('0x' || substr(sha256(array_to_string(ts[i+1:i+5], ' ')), 1, 8))::BIGINT) AS hs
              FROM base WHERE len(ts) >= 5),
        wnd AS (SELECT doc_id, hs,
                       unnest(range(0, greatest(len(hs) - 4, 0) + 1)) AS j
                FROM g),
        fps AS (SELECT DISTINCT doc_id, list_min(hs[j+1 : j+4]) AS fp FROM wnd),
        kept AS (SELECT * FROM fps WHERE fp IN
                   (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 200)),
        pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared
                  FROM kept a JOIN kept b
                    ON a.fp = b.fp AND a.doc_id < b.doc_id
                  GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared
        FROM pairs ORDER BY shared DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 32b: bit-level cross-engine twin of MinHash+LSH. The production
    // path (d_dedup_minhash_lsh) hashes with XXH64 — no DuckDB analog —
    // so the ALGORITHM (per-seed min over distinct shingles, banding,
    // collision join, signature-agreement scoring) is verified here with
    // the portable sha256-prefix hash. Everything through n_eq is exact
    // integer arithmetic; publication is the top-20 pairs by agreeing
    // positions with full (id_a, id_b) tiebreak. Same join shape as
    // production: band-key equi-join, never all-pairs — WITH the native
    // sibling's flood-bucket guard (occupancy ≤ 100, replayed by the
    // oracle): the r10 sf100 probe disk-killed the unguarded join,
    // because pairwise LSH candidates grow with the SQUARE of duplicate-
    // family size (a 1000-member family = half a million pairs from one
    // bucket; the banded leakage-split survives the same corpus by
    // contracting buckets to n−1 star edges instead). Dropping flood
    // buckets is standard LSH practice — a bucket that saturated its
    // occupancy cap carries no discrimination.
    Q("d_minhash_portable",
      (s, dir) => {
        val sig = MinHashLsh.portableMinhashSig(Tables.documents(s, dir))
        val pairs = MinHashLsh.bandPairs(MinHashLsh.portableBands(sig),
          "doc_id", Seq("b", "k1", "k2"), Some(100))
        pairs
          .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
          .withColumn("n_eq", MinHashLsh.agreement(col("sa"), col("sb")).cast("long"))
          .select("id_a", "id_b", "n_eq")
          .orderBy(col("n_eq").desc, col("id_a"), col("id_b"))
          .limit(20)
      },
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
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
        keepb AS (SELECT b, k1, k2 FROM bands
                  GROUP BY b, k1, k2 HAVING COUNT(*) BETWEEN 2 AND 100),
        cb AS (SELECT bands.* FROM bands JOIN keepb USING (b, k1, k2)),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM cb a JOIN cb b
                    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2
                   AND a.doc_id < b.doc_id),
        scored AS (SELECT id_a, id_b,
                     len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) AS n_eq
                   FROM pairs
                   JOIN sig sa ON sa.doc_id = id_a
                   JOIN sig sb ON sb.doc_id = id_b)
        SELECT id_a, id_b, CAST(n_eq AS BIGINT) AS n_eq
        FROM scored ORDER BY n_eq DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 32c: DEDUP EVALUATION — precision/recall of the banded-MinHash
    // candidate detector (signature agreement ≥ 16/32 ≈ est. Jaccard
    // ≥ 0.5) against the EXACT Jaccard-≥-0.5 truth set over the same
    // portable shingles. "Measure, don't guess" for dedup: a production
    // pipeline runs exactly this before trusting a sketch config, and
    // tunes bands/rows until the numbers clear its bar. Both pipelines
    // are engine-exact (sha256 portable family), so candidates, truth
    // AND their intersection replay in the oracle bit-for-bit. The truth
    // side is the only all-pairs-by-shared-shingle join, so the WHOLE
    // eval (candidates, est, truth — one consistent universe) runs on a
    // deterministic 50% probe sample of documents (sha256(doc_id) mod —
    // same splitmix-free idiom as x_hash_sample, replayed in the
    // oracle). At corpus scale the same bound is how this runs: truth
    // cost scales with the sample's square, never the corpus's, and the
    // probe fraction is the knob.
    Q("x_dedup_eval",
      (s, dir) => {
        // BOUNDED probe sample, not a fixed fraction: pct =
        // min(50, ⌈2.5M/n⌉) caps the sample near 25k docs however big
        // the corpus is. A fixed 50% made the quadratic truth join grow
        // with the corpus' square — 12 s at sf1 but 695 s at sf10 (r8
        // isolated measurement, the round's third scale-killer). At
        // every driver SF (n ≤ 50k) pct stays 50, so oracle outputs are
        // unchanged; the pct rides in-plan via a broadcast scalar
        // (integer arithmetic, replayed by the oracle's COUNT(*)
        // subquery) — no driver-side action.
        val base = Tables.documents(s, dir)
        val docs = base
          .crossJoin(broadcast(base.agg(count(lit(1)).as("__n"))))
          .filter(
            conv(substring(sha2(col("doc_id").cast("string"), 256), 1, 8), 16, 10)
              .cast("long") % 100 <
            least(lit(50L), expr("(2500000 + __n - 1) DIV __n")))
          .drop("__n")
        // ONE tokenize+shingle pass (and one evaluation of the sampling
        // sha256 filter) shared by the signature pipeline and the
        // exact-truth explode below — the shingle frame is sample-sized
        // (≤ ~25k docs by the pct bound), so the localCheckpoint is
        // cheap and the saved work is a full second tokenize+shingle
        // evaluation of the sampled corpus.
        val shs = graft.operators.Materialize(MinHashLsh.portableShingles(docs))
        val sig = MinHashLsh.portableMinhashSigFromShingles(shs)
        val cand = MinHashLsh.bandPairs(MinHashLsh.portableBands(sig),
          "doc_id", Seq("b", "k1", "k2"), None)
        val est = cand
          .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")), "id_a")
          .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")), "id_b")
          .filter(MinHashLsh.agreement(col("sa"), col("sb")) >= 16)
          .select("id_a", "id_b")
        val ex = shs
          .select(col("doc_id"), size(col("shs")).as("sz"),
            explode(col("shs")).as("shingle"))
        val truth = ex.as("a").join(ex.as("b"),
            col("a.shingle") === col("b.shingle") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
            col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") * 2 >= col("sz_a") + col("sz_b") - col("shared"))
          .select("id_a", "id_b")
        val hit = est.join(truth, Seq("id_a", "id_b"))
        est.agg(count(lit(1)).as("n_est"))
          .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
          .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
          .select(col("n_est"), col("n_truth"), col("n_hit"),
            when(col("n_est") > 0, expr("n_hit * 1000000 DIV n_est"))
              .otherwise(lit(0L)).as("precision_e6"),
            when(col("n_truth") > 0, expr("n_hit * 1000000 DIV n_truth"))
              .otherwise(lit(0L)).as("recall_e6"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '') AS ts
          FROM documents
          WHERE ('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100 <
                LEAST(50, (2500000 + (SELECT COUNT(*) FROM documents) - 1)
                          // (SELECT COUNT(*) FROM documents))),
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
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b
                   ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2
                  AND a.doc_id < b.doc_id),
        est AS (SELECT id_a, id_b FROM cand
                JOIN sig sa ON sa.doc_id = id_a
                JOIN sig sb ON sb.doc_id = id_b
                WHERE len(list_filter(range(1, 33), i -> sa.sig[i] = sb.sig[i])) >= 16),
        ex AS (SELECT doc_id, len(shs) AS sz, unnest(shs) AS shingle FROM sh),
        truth AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           a.sz AS sz_a, b.sz AS sz_b, COUNT(*) AS shared
                    FROM ex a JOIN ex b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2, 3, 4)
                  WHERE shared * 2 >= sz_a + sz_b - shared),
        hit AS (SELECT * FROM est INTERSECT SELECT * FROM truth)
        SELECT (SELECT COUNT(*) FROM est) AS n_est,
               (SELECT COUNT(*) FROM truth) AS n_truth,
               (SELECT COUNT(*) FROM hit) AS n_hit,
               CASE WHEN (SELECT COUNT(*) FROM est) > 0
                    THEN (SELECT COUNT(*) FROM hit) * 1000000
                         // (SELECT COUNT(*) FROM est) ELSE 0 END AS precision_e6,
               CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                    THEN (SELECT COUNT(*) FROM hit) * 1000000
                         // (SELECT COUNT(*) FROM truth) ELSE 0 END AS recall_e6
      """)),

    // ------------------------------------------------------------------
    // 33b: bit-level cross-engine twin of SimHash. The production path
    // above hashes tokens with XXH64 (no DuckDB analog), so the sign-sum
    // + bit-assembly ALGORITHM is verified here with a portable token
    // hash: the first 16 hex chars of sha256, split into two 32-bit
    // halves so every step is exact BIGINT arithmetic on both engines.
    // Shape is the production shape: one token explode, (doc, token)
    // count pre-aggregation (vocabulary-sized, not corpus-sized), 64
    // sign-sums per doc — no custom expression needed.
    Q("d_simhash_portable",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .filter(col("tok") =!= "")
          .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        val halves = toks
          .withColumn("hex", sha2(col("tok"), 256))
          .withColumn("hi", conv(substring(col("hex"), 1, 8), 16, 10).cast("long"))
          .withColumn("lo", conv(substring(col("hex"), 9, 8), 16, 10).cast("long"))
        val signs = halves
          .select(col("doc_id"), col("cnt"), col("hi"), col("lo"),
            explode(sequence(lit(0), lit(63))).as("j"))
          .withColumn("s_term", col("cnt") *
            (expr("shiftright(CASE WHEN j < 32 THEN lo ELSE hi END, j % 32)")
              .bitwiseAND(lit(1L)) * 2 - 1))
          .groupBy(col("doc_id"), col("j")).agg(sum(col("s_term")).as("s"))
        signs.groupBy(col("doc_id")).agg(
            sum(when(col("j") >= 32 && col("s") > 0,
              expr("shiftleft(1L, j - 32)")).otherwise(lit(0L))).as("sh_hi"),
            sum(when(col("j") < 32 && col("s") > 0,
              expr("shiftleft(1L, j)")).otherwise(lit(0L))).as("sh_lo"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, tok, COUNT(*) AS cnt FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split_regex(lower(text), '\s+'),
                          x -> x <> '')) AS tok
            FROM documents) GROUP BY doc_id, tok),
        hh AS (SELECT doc_id, cnt,
                 ('0x' || substr(sha256(tok), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(sha256(tok), 9, 8))::BIGINT AS lo
               FROM toks),
        b AS (SELECT doc_id, j,
                SUM(cnt * (2 * (((CASE WHEN j < 32 THEN lo ELSE hi END) >> (j % 32)) & 1) - 1)) AS s
              FROM hh, (SELECT unnest(range(0, 64)) AS j) GROUP BY doc_id, j)
        SELECT doc_id,
          CAST(SUM(CASE WHEN j >= 32 AND s > 0 THEN 1::BIGINT << (j - 32) ELSE 0 END) AS BIGINT) AS sh_hi,
          CAST(SUM(CASE WHEN j < 32 AND s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS sh_lo
        FROM b GROUP BY doc_id ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 34: embedding near-dup via hyperplane-LSH buckets — ALL bucket-
    // colliding pairs at cosine ≥ 0.30 (pair emission; collapse is
    // d_dedup_resolve / d_dedup_semantic). Runs on the sha256-derived
    // portable planes so the whole path — plane literals, 0.0-seeded dot
    // folds, sign tests, bucket OR, threshold compare — is bit-identical
    // in DuckDB and the pair set hash-matches (the splitmix64 plane
    // family stays on s_ann_lsh, rows-only).
    Q("d_dedup_embedding",
      (s, dir) => Similarity.annLshNearDup(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          Similarity.portablePlanes(8, 64), threshold = 0.30)
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(cosine * 1e9) AS BIGINT)").as("cosine_e9"))
        .orderBy("id_a", "id_b"),
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM v),
        planes AS (SELECT p, list_transform(range(0, 64), d ->
                     ((('0x' || substr(sha256(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                       - 2147483648) / 2147483648.0)) AS pl
                   FROM (SELECT unnest(range(0, 8)) AS p)),
        bits AS (SELECT vec_id,
                   CAST(SUM(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * pl[i]),
                                                  (a, b) -> a + b) >= 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                 FROM n, planes GROUP BY vec_id),
        b2 AS (SELECT n.vec_id, bucket, v, nrm FROM n JOIN bits USING (vec_id)),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                                (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
                  FROM b2 a JOIN b2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, CAST(floor(cos * 1e9) AS BIGINT) AS cosine_e9
        FROM pairs WHERE cos >= 0.30 ORDER BY id_a, id_b
      """)),

    // ------------------------------------------------------------------
    // 34c: bit-level cross-engine check of hyperplane-LSH TOP-K RANKING
    // (d_dedup_embedding verifies the thresholded pair set; this entry
    // verifies the ordering). The splitmix64 plane family (s_ann_lsh)
    // uses wrapping 64-bit multiplies that DuckDB's checked integer
    // arithmetic can't express, so both oracle entries run on the
    // sha256-derived portable planes: exact 32-bit integers scaled to
    // [-1,1), so plane literals, the fixed-order dot folds (0.0-seeded
    // accumulate == DuckDB's left fold), the >= 0 sign test and the
    // bucket OR are all bit-identical in both engines. Cosine publishes
    // floor-scaled.
    Q("s_ann_lsh_portable",
      (s, dir) => Similarity.annLshPairs(
          Tables.embeddings(s, dir), "vec_id", "embedding",
          Similarity.portablePlanes(8, 64))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b")).limit(20)
        .select(col("id_a"), col("id_b"),
          expr("CAST(floor(cosine * 1e9) AS BIGINT)").as("cosine_e9")),
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM v),
        planes AS (SELECT p, list_transform(range(0, 64), d ->
                     ((('0x' || substr(sha256(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                       - 2147483648) / 2147483648.0)) AS pl
                   FROM (SELECT unnest(range(0, 8)) AS p)),
        bits AS (SELECT vec_id,
                   CAST(SUM(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * pl[i]),
                                                  (a, b) -> a + b) >= 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                 FROM n, planes GROUP BY vec_id),
        b2 AS (SELECT n.vec_id, bucket, v, nrm FROM n JOIN bits USING (vec_id)),
        pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                    list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                                (x, y) -> x + y) / (a.nrm * b.nrm) AS cos
                  FROM b2 a JOIN b2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, CAST(floor(cos * 1e9) AS BIGINT) AS cosine_e9
        FROM pairs ORDER BY cos DESC, id_a, id_b LIMIT 20
      """)),

    // ------------------------------------------------------------------
    // 35: brute-force cosine top-5 neighbors for 10 query vectors, on the
    // fast native VecDot path. Oracle-checked: VecDot is a left-to-right
    // accumulate from 0.0, exactly DuckDB's list_reduce left fold
    // (0.0 + e1 == e1), and cosine divides by sqrt(na)*sqrt(nb) on both
    // sides — so the NATIVE expression is verified bit-level against the
    // portable fold, not just row counts.
    Q("s_cosine_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
          .select(col("query_id"), col("id"),
            expr("CAST(floor(cosine * 1e9) AS BIGINT)").as("cosine_e9"),
            col("rk").cast("long").as("rk"))
          .orderBy(col("query_id"), col("rk"))
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM v),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
        pairs AS (
          SELECT query_id, n.vec_id AS id,
                 list_reduce(list_transform(range(1, 65), i -> v[i] * qv[i]), (a, b) -> a + b)
                   / (qnrm * nrm) AS cosine
          FROM q, n WHERE n.vec_id <> query_id),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, id) AS rk FROM pairs)
        SELECT query_id, id, CAST(floor(cosine * 1e9) AS BIGINT) AS cosine_e9, rk
        FROM ranked WHERE rk <= 5 ORDER BY query_id, rk
      """)),

    // ------------------------------------------------------------------
    // 35b: ANN EVALUATION — recall@10 of the bucketed hyperplane-LSH
    // search against the exact cosine top-10, per probe. The missing
    // piece between "an ANN index exists" and "the ANN index is good
    // enough to deploy": a production pipeline runs exactly this query
    // on a probe sample after every index build, and tunes
    // planes/nProbe until recall clears its bar. Everything is engine-
    // exact (portable sha256 planes, fixed-order dot folds, ties broken
    // by id), so the WHOLE eval — both rankings and their intersection —
    // is replayed by the oracle bit-for-bit. Scale shape: probes are a
    // broadcast sample (never the corpus), the corpus is scanned once
    // for buckets, candidates ride the bucket equi-join, and the
    // per-probe windows sort candidate sets, not the corpus.
    Q("x_recall_eval",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val emb = Tables.embeddings(s, dir)
        val planes = Similarity.portablePlanes(4, 64)
        val b = emb.select(col("vec_id"), col("embedding"),
          Similarity.lshBucketFromPlanes(col("embedding"), planes).as("bucket"))
        val probes = b.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
            col("bucket"))
        val cand = b.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cosine", Similarity.cosine(col("embedding"), col("qvec")))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("vec_id"))
        val ann = cand.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10).select(col("query_id"), col("vec_id").as("id"))
        val exact = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("id"))
        val nCand = cand.groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_candidates"))
        val nHits = ann.join(exact, Seq("query_id", "id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
        probes.select(col("query_id"))
          .join(nCand, Seq("query_id"), "left")
          .join(nHits, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (coalesce(col("n_hits"), lit(0L)) * 100000L).as("recall_e6"))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        n AS (SELECT vec_id, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM v),
        planes AS (SELECT p, list_transform(range(0, 64), d ->
                     ((('0x' || substr(sha256(CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                       - 2147483648) / 2147483648.0)) AS pl
                   FROM (SELECT unnest(range(0, 4)) AS p)),
        bits AS (SELECT vec_id,
                   CAST(SUM(CASE WHEN list_reduce(list_transform(range(1, 65), i -> v[i] * pl[i]),
                                                  (a, b) -> a + b) >= 0
                            THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket
                 FROM n, planes GROUP BY vec_id),
        b2 AS (SELECT n.vec_id, bucket, v, nrm FROM n JOIN bits USING (vec_id)),
        probes AS (SELECT vec_id AS query_id, bucket, v AS qv, nrm AS qnrm
                   FROM b2 WHERE vec_id < 10),
        cand AS (SELECT query_id, b2.vec_id AS id,
                        list_reduce(list_transform(range(1, 65), i -> v[i] * qv[i]),
                                    (a, b) -> a + b) / (qnrm * nrm) AS cosine
                 FROM probes JOIN b2 USING (bucket)
                 WHERE b2.vec_id <> query_id),
        ann AS (SELECT query_id, id FROM (
                  SELECT query_id, id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, id) AS rk
                  FROM cand) WHERE rk <= 10),
        pairs AS (SELECT q.query_id, n.vec_id AS id,
                         list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]),
                                     (a, b) -> a + b) / (q.qnrm * n.nrm) AS cosine
                  FROM probes q, n WHERE n.vec_id <> q.query_id),
        exact AS (SELECT query_id, id FROM (
                    SELECT query_id, id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cosine DESC, id) AS rk
                    FROM pairs) WHERE rk <= 10),
        nc AS (SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
        nh AS (SELECT a.query_id, COUNT(*) AS n_hits
               FROM ann a JOIN exact e ON a.query_id = e.query_id AND a.id = e.id
               GROUP BY 1)
        SELECT p.query_id,
               COALESCE(nc.n_candidates, 0) AS n_candidates,
               COALESCE(nh.n_hits, 0) AS n_hits,
               COALESCE(nh.n_hits, 0) * 100000 AS recall_e6
        FROM probes p
        LEFT JOIN nc ON nc.query_id = p.query_id
        LEFT JOIN nh ON nh.query_id = p.query_id
        ORDER BY p.query_id
      """)),

    // ------------------------------------------------------------------
    // 95: IVF×PQ recall gate — the quality eval the persisted billion-
    // scale layout (36f) was missing: recall@10 of the full IVF(nProbe)
    // × PQ(ADC) retrieval chain against exact cosine, per probe, with
    // PORTABLE quantizers (sha256 centroids, sampled codebook = the 16
    // lowest-id vectors) so the ENTIRE eval — cell assignment, PQ
    // codes, probe cell ranking, the left-associated ADC sums, both
    // top-10 rankings and their intersection — replays bit-for-bit in
    // DuckDB. The MLlib-trained IvfPq itself can't be oracled (float
    // k-means); this measures the same retrieval shape's quality with
    // replayable quantizers, and IvfPqSpec pins the persisted path's
    // recall floor separately.
    Q("x_recall_ivfpq",
      (s, dir) => Similarity.portableIvfPqRecall(
        Tables.embeddings(s, dir), "vec_id", "embedding"),
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        cents AS (SELECT p, list_transform(range(0, 64), d ->
                    ((('0x' || substr(sha256('ivf:' || CAST(p AS VARCHAR) || ',' || CAST(d AS VARCHAR)), 1, 8))::BIGINT
                      - 2147483648) / 2147483648.0)) AS c
                  FROM (SELECT unnest(range(0, 16)) AS p)),
        cdist AS (SELECT vec_id, p,
                         list_reduce(list_transform(range(1, 65),
                           i -> (v.v[i] - c[i]) * (v.v[i] - c[i])), (a, b) -> a + b) AS d
                  FROM v, cents),
        cellass AS (SELECT vec_id, p AS cell FROM (
                      SELECT vec_id, p,
                             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, p) AS rn
                      FROM cdist) WHERE rn = 1),
        cb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, v AS cv
               FROM v ORDER BY vec_id LIMIT 16),
        subd AS (SELECT v.vec_id, mm.m, cb.j,
                        list_reduce(list_transform(range(1, 9),
                          i -> (v.v[mm.m*8 + i] - cb.cv[mm.m*8 + i])
                             * (v.v[mm.m*8 + i] - cb.cv[mm.m*8 + i])),
                          (a, b) -> a + b) AS d
                 FROM v, (SELECT unnest(range(0, 8)) AS m) mm, cb),
        pqcode AS (SELECT vec_id, m, j AS code FROM (
                     SELECT vec_id, m, j,
                            ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
                     FROM subd) WHERE rn = 1),
        probes AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 10),
        pdist AS (SELECT pr.query_id, cents.p,
                         list_reduce(list_transform(range(1, 65),
                           i -> (pr.qv[i] - c[i]) * (pr.qv[i] - c[i])), (a, b) -> a + b) AS d
                  FROM probes pr, cents),
        pcell AS (SELECT query_id, p AS cell FROM (
                    SELECT query_id, p,
                           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, p) AS rn
                    FROM pdist) WHERE rn <= 2),
        cand AS (SELECT pc.query_id, ca.vec_id AS id
                 FROM pcell pc JOIN cellass ca ON ca.cell = pc.cell
                 WHERE ca.vec_id <> pc.query_id),
        adcterm AS (SELECT c.query_id, c.id, co.m,
                           list_reduce(list_transform(range(1, 9),
                             i -> pr.qv[co.m*8 + i] * cb.cv[co.m*8 + i]),
                             (a, b) -> a + b) AS t
                    FROM cand c
                    JOIN pqcode co ON co.vec_id = c.id
                    JOIN cb ON cb.j = co.code
                    JOIN probes pr ON pr.query_id = c.query_id),
        adc AS (SELECT query_id, id,
                       max(CASE WHEN m=0 THEN t END)
                         + max(CASE WHEN m=1 THEN t END)
                         + max(CASE WHEN m=2 THEN t END)
                         + max(CASE WHEN m=3 THEN t END)
                         + max(CASE WHEN m=4 THEN t END)
                         + max(CASE WHEN m=5 THEN t END)
                         + max(CASE WHEN m=6 THEN t END)
                         + max(CASE WHEN m=7 THEN t END) AS adc
                FROM adcterm GROUP BY query_id, id),
        ann AS (SELECT query_id, id FROM (
                  SELECT query_id, id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adc DESC, id) AS rk
                  FROM adc) WHERE rk <= 10),
        n AS (SELECT vec_id, v,
                     sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm
              FROM v),
        q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
        pairs AS (SELECT q.query_id, n.vec_id AS id,
                         list_reduce(list_transform(range(1, 65), i -> n.v[i] * q.qv[i]),
                                     (a, b) -> a + b) / (q.qnrm * n.nrm) AS cosine
                  FROM q, n WHERE n.vec_id <> q.query_id),
        exact AS (SELECT query_id, id FROM (
                    SELECT query_id, id,
                           row_number() OVER (PARTITION BY query_id
                                              ORDER BY cosine DESC, id) AS rk
                    FROM pairs) WHERE rk <= 10),
        nc AS (SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY 1),
        nh AS (SELECT a.query_id, COUNT(*) AS n_hits
               FROM ann a JOIN exact e ON a.query_id = e.query_id AND a.id = e.id
               GROUP BY 1)
        SELECT p.query_id,
               COALESCE(nc.n_candidates, 0) AS n_candidates,
               COALESCE(nh.n_hits, 0) AS n_hits,
               COALESCE(nh.n_hits, 0) * 100000 AS recall_e6
        FROM probes p
        LEFT JOIN nc ON nc.query_id = p.query_id
        LEFT JOIN nh ON nh.query_id = p.query_id
        ORDER BY p.query_id
      """)),

    // ------------------------------------------------------------------
    // 36: ANN via wider LSH buckets (4 planes → coarser, higher recall)
    Q("s_ann_lsh",
      // maxBucket opts into the occupancy guard HERE, not in the operator
      // default: 4 fixed planes = 16 buckets, so bucket population grows
      // linearly with the corpus and the unguarded within-bucket self-join
      // was the r8 sf10 scale-killer (398.6 s). The cap is this query's
      // scale policy; exact-contract callers of annLshPairs stay unbounded.
      (s, dir) => Similarity.annLshTopK(
          Tables.embeddings(s, dir), "vec_id", "embedding", numPlanes = 4, dim = 64, k = 50,
          maxBucket = 1024)
        .withColumn("cosine", round(col("cosine"), 6)),
      None),

    // ------------------------------------------------------------------
    // 31b: end-to-end dedup decision: minhash candidates → connected
    // components → survivors (rows-only; component algebra tested in spec)
    Q("d_dedup_resolve",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = TextDedup.minhashLshTopK(docs, "doc_id", "text", k = 200)
          .filter(col("est_jaccard") >= 0.5)
          .select("id_a", "id_b")
        DedupResolve.resolve(pairs)
          .groupBy(col("keep")).agg(count(lit(1)).as("n"))
          .orderBy(col("keep"))
      },
      None),

    // ------------------------------------------------------------------
    // 36b: IVF (k-means cells) ANN — the partition-pruned scale path
    Q("s_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // Sampled, short training — at corpus scale the IVF codebook is
        // always trained on a uniform sample, never the full table.
        val model = graft.operators.IvfIndex.train(
          emb, "embedding", k = 16, sampleFraction = 0.25, maxIter = 5)
        val assigned = graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", model)
        graft.operators.IvfIndex.search(
            assigned, emb.filter(col("vec_id") < 10), "vec_id", "embedding", model,
            k = 5, nProbe = 4)
          .withColumn("cosine", round(col("cosine"), 6))
          .orderBy(col("query_id"), col("rk"))
      },
      None),

    // ------------------------------------------------------------------
    // 36e: product-quantized ADC search (`PqIndex`): 64 float dims → 8
    // codes (32× footprint cut), candidate distance = 8 table lookups in
    // a fixed chain, multi-query batch in ONE pass over the codes.
    // Recall/reconstruction bounds spec'd in SessionizeIvfSpec.
    Q("s_pq_adc",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = graft.operators.PqIndex.train(
          emb, "embedding", m = 8, k = 16, maxIter = 5)
        val encoded = graft.operators.PqIndex.encode(emb, "vec_id", "embedding", model)
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"), col("embedding").cast("array<double>"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
        graft.operators.PqIndex.searchADC(encoded, queries, model, topK = 5)
          .withColumn("est_d2", round(col("est_d2"), 6))
          .orderBy(col("query_id"), col("rk"))
      },
      None),

    // ------------------------------------------------------------------
    // 36f: the composed PERSISTED billion-scale layout (`IvfPq`): IVF
    // cells hive-partition the PQ code table, a probe's nProbe cells
    // arrive as a static partition filter (unprobed dirs never listed),
    // and candidates are m-byte codes scored by ADC table lookups —
    // partition pruning bounds WHICH bytes, PQ bounds HOW MANY per
    // candidate. Rows-only: k-means training isn't expressible in
    // DuckDB SQL; probe ≡ in-memory IVF×ADC and append ≡ rebuild are
    // pinned by IvfPqSpec, pruning by its plan assertion.
    Q("s_ivfpq_persisted",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val ivf = graft.operators.IvfIndex.train(
          emb, "embedding", k = 16, sampleFraction = 0.25, maxIter = 5)
        val pq = graft.operators.PqIndex.train(
          emb, "embedding", m = 8, k = 16, maxIter = 5)
        ivfPqScratch.synchronized {
          Scratch.fresh(ivfPqScratch)
          val path = ivfPqScratch.toString
          graft.operators.IvfPq.build(emb, "vec_id", "embedding", path, ivf, pq)
          val queries = emb.filter(col("vec_id") < 5)
            .select(col("vec_id"), col("embedding").cast("array<double>"))
            .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
          graft.operators.IvfPq.search(s, path, queries, k = 5, nProbe = 4)
            .withColumn("est_d2", round(col("est_d2"), 6))
            .orderBy(col("query_id"), col("rk"))
            .localCheckpoint() // materialize before the scratch is re-wiped
        }
      },
      None),

    // ------------------------------------------------------------------
    // 37b: BPE-style pre-tokenizer count (GPT-2 pattern family, RE2-safe
    // subset so the DuckDB oracle matches; real BPE merges happen
    // downstream of pre-tokenization)
    Q("x_token_count_bpe",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          size(regexp_extract_all(lower(col("text")),
            lit(TextStats.BpePretokenRegex), lit(0)))
            .as("n_bpe_tokens"))
        .orderBy(col("doc_id")),
      Some("SELECT doc_id, len(regexp_extract_all(lower(text), " +
        "'''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9[:space:]]+'" +
        ")) AS n_bpe_tokens FROM documents ORDER BY doc_id")),

    // ------------------------------------------------------------------
    // 37: token counting
    Q("x_token_count",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), graft.functions.tokenCount(col("text")).as("n_tokens"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 37i: tokenizer fertility report — the eval a tokenizer rollout
    // runs before training: chars per BPE token and BPE tokens per
    // whitespace word, per language (a language whose fertility sits
    // far above the corpus mean is under-served by the vocab — its
    // text fragments into byte-ish pieces and burns sequence length).
    // Same GPT-2-family pre-tokenizer as x_token_count_bpe (37b); one
    // narrow projection + one lang-keyed agg, ppm ratios by BIGINT
    // floor division — integer-exact cross-engine, no float sums.
    Q("x_tokenizer_stats",
      (s, dir) => TextStats.tokenizerFertility(Tables.documents(s, dir))
        .orderBy(col("lang")),
      Some("""
        WITH t AS (
          SELECT lang, CAST(length(text) AS BIGINT) AS nc,
                 CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw,
                 CAST(len(regexp_extract_all(lower(text),
                   '''s|''t|''re|''ve|''m|''ll|''d| ?[a-z]+| ?[0-9]+| ?[^a-z0-9[:space:]]+')) AS BIGINT) AS nb
          FROM documents),
        g AS (SELECT lang, COUNT(*) AS n_docs,
                     CAST(SUM(nc) AS BIGINT) AS n_chars,
                     CAST(SUM(nw) AS BIGINT) AS n_words,
                     CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens
              FROM t GROUP BY lang)
        SELECT lang, n_docs, n_chars, n_words, n_bpe_tokens,
               (n_chars * 1000000) // nullif(n_bpe_tokens, 0) AS chars_per_tok_ppm,
               (n_bpe_tokens * 1000000) // nullif(n_words, 0) AS toks_per_word_ppm
        FROM g ORDER BY lang
      """)),

    // ------------------------------------------------------------------
    // 38: quality metrics (length/punct/stopword/mean-token-len + score)
    Q("x_text_quality",
      (s, dir) => TextStats.qualityMetrics(Tables.documents(s, dir), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(len(list_filter(
                   ${Q.duckToks},
                   x -> list_contains([${EnStop.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) AS hits
          FROM documents)
        SELECT doc_id, n_chars, n_tokens,
               round(punct / n_chars, 6) AS punct_ratio,
               round(hits / n_tokens, 6) AS stopword_ratio,
               round((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_token_len,
               round(least(1.0, 0.25 + least(hits / n_tokens * 2, 0.5) +
                     CASE WHEN punct / n_chars < 0.1 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
        FROM t ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 38b: quality FILTER — the decision stage a training pipeline runs
    // on top of the metrics (band filters on tokens/stopwords/punct)
    Q("x_quality_filter",
      (s, dir) => TextStats.qualityMetrics(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("n_tokens").between(50, 2000) &&
          col("stopword_ratio") >= 0.01 && col("punct_ratio") < 0.2)
        .select(col("doc_id"))
        .orderBy(col("doc_id")),
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE) AS n_tokens,
                 CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE) AS punct,
                 CAST(len(list_filter(
                   ${Q.duckToks},
                   x -> list_contains([${EnStop.map(w => s"'$w'").mkString(",")}], x))) AS DOUBLE) AS hits
          FROM documents)
        SELECT doc_id FROM t
        WHERE n_tokens BETWEEN 50 AND 2000
          AND round(hits / n_tokens, 6) >= 0.01
          AND round(punct / n_chars, 6) < 0.2
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 30b: dedup APPLIED — survivors with full rows (min doc_id per
    // distinct content)
    Q("d_dedup_apply",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, text, lang, source, n_chars FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY sha256(text)
                                       ORDER BY doc_id) AS rn
          FROM documents) WHERE rn = 1
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 37c: PII redaction (emails, long digit runs) — single projection
    Q("x_pii_redact",
      (s, dir) => Tables.events(s, dir)
        .select(col("event_id"),
          regexp_replace(
            regexp_replace(col("props"), "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
            "\\d{3,}", "<NUM>").as("props_redacted"))
        .orderBy(col("event_id")),
      Some("""
        SELECT event_id,
               regexp_replace(
                 regexp_replace(props, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'),
                 '\d{3,}', '<NUM>', 'g') AS props_redacted
        FROM events ORDER BY event_id
      """)),

    // ------------------------------------------------------------------
    // 37d: deterministic hash sampling (stable 10% sample — the standard
    // reproducible train/eval split technique; no rand() state)
    Q("x_hash_sample",
      (s, dir) => Tables.documents(s, dir)
        .withColumn("bucket",
          (conv(substring(sha2(col("text"), 256), 1, 8), 16, 10).cast("long") % 100))
        .filter(col("bucket") < 10)
        .select(col("doc_id"), col("bucket"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               CAST(('0x' || substr(sha256(text), 1, 8))::UBIGINT % 100 AS BIGINT) AS bucket
        FROM documents
        WHERE ('0x' || substr(sha256(text), 1, 8))::UBIGINT % 100 < 10
        ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 39: heuristic language ID (stopword-profile argmax, fixed en>es>
    // fr>de tie precedence, 'und' when nothing hits) — fully replayed in
    // the oracle, so the whole heuristic is hash-checked.
    Q("x_lang_id",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.langId(col("text")).as("lang_guess"))
        .groupBy(col("lang_guess")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_guess")),
      Some {
        val langs = Seq("en", "es", "fr", "de")
        val hitCols = langs.map { l =>
          val words = TextStats.stopwords(l).map(w => s"'$w'").mkString(",")
          s"len(list_filter(toks, x -> list_contains([$words], x))) AS ${l}_hits"
        }.mkString(",\n                 ")
        val whens = langs.map(l =>
          s"WHEN ${l}_hits = best AND ${l}_hits > 0 THEN '$l'").mkString("\n                      ")
        s"""
        WITH t AS (
          SELECT doc_id,
                 ${Q.duckToks} AS toks
          FROM documents),
        h AS (SELECT doc_id,
                 $hitCols
              FROM t),
        g AS (SELECT doc_id,
                     greatest(en_hits, es_hits, fr_hits, de_hits) AS best,
                     en_hits, es_hits, fr_hits, de_hits
              FROM h)
        SELECT CASE $whens
                    ELSE 'und' END AS lang_guess,
               COUNT(*) AS n
        FROM g GROUP BY 1 ORDER BY lang_guess
      """
      }),

    // ------------------------------------------------------------------
    // Language-label audit: the DECLARED lang column crossed with the
    // heuristic prediction — the label-quality confusion matrix behind
    // "can I trust this corpus's metadata" (row share in floor-ppm per
    // declared lang). One narrow projection + one agg to ≤ |langs|²
    // rows; the share window runs on that bounded aggregate, never on
    // document-cardinality.
    Q("x_lang_confusion",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables.documents(s, dir)
          .select(col("lang"), TextStats.langId(col("text")).as("lang_guess"))
          .groupBy(col("lang"), col("lang_guess"))
          .agg(count(lit(1)).as("n"))
        g.withColumn("tot",
            sum(col("n")).over(Window.partitionBy(col("lang"))))
          .select(col("lang"), col("lang_guess"), col("n"),
            expr("n * 1000000 DIV tot").as("share_ppm"))
          .orderBy(col("lang"), col("lang_guess"))
      },
      Some {
        val langs = Seq("en", "es", "fr", "de")
        val hitCols = langs.map { l =>
          val words = TextStats.stopwords(l).map(w => s"'$w'").mkString(",")
          s"len(list_filter(toks, x -> list_contains([$words], x))) AS ${l}_hits"
        }.mkString(",\n                 ")
        val whens = langs.map(l =>
          s"WHEN ${l}_hits = best AND ${l}_hits > 0 THEN '$l'").mkString("\n                      ")
        s"""
        WITH t AS (
          SELECT doc_id, lang,
                 ${Q.duckToks} AS toks
          FROM documents),
        h AS (SELECT doc_id, lang,
                 $hitCols
              FROM t),
        g AS (SELECT doc_id, lang,
                     greatest(en_hits, es_hits, fr_hits, de_hits) AS best,
                     en_hits, es_hits, fr_hits, de_hits
              FROM h),
        c AS (SELECT lang,
                     CASE $whens
                          ELSE 'und' END AS lang_guess,
                     COUNT(*) AS n
              FROM g GROUP BY 1, 2),
        tl AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        SELECT c.lang, c.lang_guess, c.n,
               CAST(c.n * 1000000 // tl.tot AS BIGINT) AS share_ppm
        FROM c JOIN tl USING (lang)
        ORDER BY lang, lang_guess
      """
      }),

    // ------------------------------------------------------------------
    // 40: content fingerprint (sha256-prefix hex, engine-stable)
    Q("x_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextStats.fingerprintHex(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id, substr(sha256(text), 1, 16) AS fp
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 40b: winnowing fingerprints (Schleimer et al. 2003 / MOSS): k-gram
    // hashes, sliding window of w, keep each window's rightmost minimum.
    // One narrow projection + explode — no shuffle; the portable
    // sha256-prefix hash makes the whole selection integer-exact, so the
    // oracle checks the algorithm (windows, tie rule, dedup) bit-level.
    Q("x_winnow_fingerprint",
      (s, dir) => graft.operators.Winnow.fingerprints(
          Tables.documents(s, dir), "doc_id", "text", k = 5, w = 4)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("pos")),
      Some("""
        WITH base AS (
          SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'),
                 x -> x <> '') AS ts
          FROM documents),
        g AS (SELECT doc_id, list_transform(range(0, len(ts) - 5 + 1),
                i -> ('0x' || substr(sha256(array_to_string(ts[i+1:i+5], ' ')), 1, 8))::BIGINT) AS hs
              FROM base WHERE len(ts) >= 5),
        wnd AS (SELECT doc_id, hs,
                       unnest(range(0, greatest(len(hs) - 4, 0) + 1)) AS j
                FROM g),
        sel AS (SELECT doc_id,
                  j + len(hs[j+1 : j+4])
                    - list_position(list_reverse(hs[j+1 : j+4]), list_min(hs[j+1 : j+4])) AS pos,
                  list_min(hs[j+1 : j+4]) AS fp
                FROM wnd)
        SELECT DISTINCT doc_id, pos, fp FROM sel ORDER BY doc_id, pos
      """)),

    // ------------------------------------------------------------------
    // 41: multimodal plumbing — binary column + mapPartitions feature
    // extraction (decode stubbed; see Multimodal.decodeStub)
    Q("m_multimodal_meta",
      (s, dir) =>
        // REAL media features (true ImageIO dims, sniffed format, sampled
        // luminance) read from the decode-once feature store — the bytes
        // were decoded exactly once when the session's store was built
        // (MediaStoreSpec pins store == per-query decoder bit-for-bit).
        // Rows-only (DuckDB has no image codec); TextOpsSpec pins exact
        // dims/format/brightness.
        mediaStore(s, dir).filter(col("kind") === "png")
          .select(col("id"), col("byte_len"), col("content_hash"),
            col("width"), col("height"), col("format"), col("brightness"))
          .orderBy(col("id")),
      None),

    // ------------------------------------------------------------------
    // 41e: the decode-once build pass itself, registered so the FULL
    // decode cost sits in exactly one board slot: forces a rebuild
    // (session memo dropped), decodes all four media kinds in ONE
    // mapPartitions pass, and publishes CONTENT-BEARING per-kind decode
    // aggregates, not just row accounting: dim_sum folds every DECODED
    // width/height (top-level for stills, per-frame for the container
    // walk) and time_sum folds the audio parse readout (rate, channels,
    // frames, duration) plus the container frame count. DuckDB
    // recomputes all of it from the generative formulas — so the build
    // query ALONE hash-mismatches if ImageIO decode, the RIFF parse or
    // the PNG-chunk container walk breaks, without relying on the
    // consumer queries to notice.
    Q("m_features_build",
      (s, dir) => mediaStore(s, dir, forceRebuild = true)
        .groupBy(col("kind"))
        .agg(count(lit(1)).as("n"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"),
          sum(col("width").cast("long") + col("height").cast("long") +
            coalesce(aggregate(col("frames"), lit(0L),
              (acc, f) => acc + f.getField("width") + f.getField("height")),
              lit(0L))).as("dim_sum"),
          sum(col("sample_rate").cast("long") + col("channels").cast("long") +
            col("n_frames") + col("duration_ms")).as("time_sum"))
        .orderBy(col("kind")),
      Some("""
        WITH d AS (SELECT doc_id FROM documents),
        png AS (SELECT 'png' AS kind, doc_id,
                  (8 + doc_id % 16) + (8 + (doc_id // 16) % 16) AS dim,
                  0 AS tim
                FROM d),
        pat AS (SELECT 'pattern' AS kind, doc_id, 96 AS dim, 0 AS tim FROM d),
        wav AS (SELECT 'wav' AS kind, doc_id, 0 AS dim,
                  8000 + 1 + frames + CAST(ROUND(frames / 8.0) AS BIGINT) AS tim
                FROM (SELECT doc_id, 800 + (doc_id % 7) * 100 AS frames FROM d)),
        vid AS (SELECT 'video' AS kind, doc_id,
                  SUM((8 + (doc_id + 3 * f) % 16) +
                      (8 + (doc_id // 16 + f) % 16)) AS dim,
                  4 AS tim
                FROM d, (SELECT unnest(range(4)) AS f)
                GROUP BY doc_id),
        u AS (SELECT * FROM png UNION ALL SELECT * FROM pat
              UNION ALL SELECT * FROM wav UNION ALL SELECT * FROM vid)
        SELECT kind, COUNT(*) AS n, MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id, CAST(SUM(dim) AS BIGINT) AS dim_sum,
               CAST(SUM(tim) AS BIGINT) AS time_sum
        FROM u GROUP BY kind ORDER BY kind
      """)),

    // ------------------------------------------------------------------
    // 41d: image NEAR-DUP dedup by DCT perceptual hash — the multimodal
    // twin of SimHash dedup: deterministic textured PNGs (each decade of
    // doc_ids is a planted near-dup scene: brightness variants hash
    // IDENTICALLY — pHash drops the DC term — and stripe-phase variants
    // land Hamming-near, while every byte/content hash differs, so exact
    // dedup finds nothing). REAL ImageIO decode + 32×32 DCT per row on
    // executors; exact-equal hashes pair via a direct groupBy (star
    // contraction past maxBucket — floods can never vanish), Hamming≥1
    // candidates from an equi-join over overlapping band windows on the
    // DISTINCT hash values (Multimodal.defaultBands: 16×12-bit, ≤5
    // flips guaranteed, maxBucket cap — scale-safe), native bit_count
    // verify. Rows-only (no codec in DuckDB); PhashSpec pins the
    // planted-cluster geometry, the recall floors, and the skew bound.
    Q("m_image_phash",
      (s, dir) => {
        // Hashes come from the decode-once store (kind 'pattern'); only
        // the 64-bit-key candidate/verify pipeline runs here. Same
        // result as hashing in-query: store phash == Multimodal.pHash
        // per id (MediaStoreSpec), and rows with null phash (undecodable
        // bytes) are dropped exactly like pHash's None.
        val hashed = mediaStore(s, dir).filter(col("kind") === "pattern")
          .filter(col("phash").isNotNull)
          .select(col("id"), col("phash").as("ph"))
        Multimodal.phashPairsFromHashes(hashed, maxHamming = 10)
          .orderBy(col("id_a"), col("id_b"))
      },
      None),

    // ------------------------------------------------------------------
    // 41c: REAL audio decode — deterministic PCM WAVs (Multimodal
    // .synthWav: freq/duration/amplitude are pure functions of doc_id)
    // parsed on executors by javax.sound.sampled (zero external codecs).
    // ORACLED the strong way: Spark publishes what the DECODER read out
    // of the RIFF bytes (rate, channels, frame count, duration, byte
    // length); DuckDB recomputes the same fields from the generative
    // formula — a broken parser cannot hash-match. RMS (float sine
    // arithmetic) is pinned in TextOpsSpec instead.
    Q("m_audio_meta",
      (s, dir) =>
        // RIFF/PCM readout from the decode-once store (kind 'wav') — the
        // oracle still recomputes every field from the generative
        // formula, so a broken parser in the BUILD pass cannot
        // hash-match either.
        mediaStore(s, dir).filter(col("kind") === "wav")
          .select(col("id"), col("byte_len").cast("long").as("byte_len"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("channels").cast("long").as("channels"),
            col("n_frames"), col("duration_ms"))
          .orderBy(col("id")),
      Some("""
        SELECT doc_id AS id,
               44 + 2 * frames AS byte_len,
               CAST(8000 AS BIGINT) AS sample_rate,
               CAST(1 AS BIGINT) AS channels,
               frames AS n_frames,
               CAST(ROUND(frames / 8.0) AS BIGINT) AS duration_ms
        FROM (SELECT doc_id, 800 + (doc_id % 7) * 100 AS frames FROM documents)
        ORDER BY id
      """)),

    // ------------------------------------------------------------------
    // 41d: REAL video-style frame extraction — deterministic motion-PNG
    // streams (concatenated stills, the MJPEG container shape in the
    // codec the JDK parses) walked by the PNG chunk grammar on executors,
    // each frame decoded by the real ImageIO path. Oracled like the audio
    // twin: Spark publishes what the container walk + decoder READ
    // (frame index, true dims, frames found); DuckDB recomputes them
    // from the generative formula. Brightness/offsets are spec'd.
    Q("m_video_frames",
      (s, dir) =>
        // Container walk + per-frame decode happened once in the build
        // pass; this explodes the stored frame features. Oracle still
        // recomputes dims/frame count from the generative formula.
        mediaStore(s, dir).filter(col("kind") === "video")
          .select(col("id"), explode(col("frames")).as("f"))
          .select(col("id"), col("f.frame_idx").cast("long").as("frame_idx"),
            col("f.width").cast("long").as("width"),
            col("f.height").cast("long").as("height"),
            col("f.n_frames").cast("long").as("n_frames"))
          .orderBy(col("id"), col("frame_idx")),
      Some("""
        SELECT d.doc_id AS id, f.f AS frame_idx,
               8 + (d.doc_id + 3 * f.f) % 16 AS width,
               8 + (d.doc_id // 16 + f.f) % 16 AS height,
               CAST(4 AS BIGINT) AS n_frames
        FROM documents d, (SELECT unnest(range(4)) AS f) f
        ORDER BY id, frame_idx
      """)),

    // ------------------------------------------------------------------
    // 41b: frame sampling — 1 media row in → nFrames feature rows out
    // (the ffmpeg-shaped batch contract; decode stubbed, plumbing real)
    Q("m_multimodal_frames",
      (s, dir) => Multimodal.sampleFrames(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("text").cast("binary").as("media")),
          "doc_id", "media", nFrames = 4)
        .orderBy(col("id"), col("frame_idx")),
      None),

    // ------------------------------------------------------------------
    // 31d: incremental dedup — every 5th doc plays the "incoming batch",
    // checked against the rest as the standing corpus; join cost scales
    // with the batch, not corpus². Rows-only; TextOpsSpec pins the
    // cross-boundary duplicate/non-duplicate cases (bucket-cap semantics
    // intentionally differ from the self-join variant: the cap applies
    // to the corpus index side only).
    Q("d_dedup_incremental",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextDedup.minhashIncremental(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
      },
      None),

    // ------------------------------------------------------------------
    // 37e: REAL BPE — merges learned from the corpus (distributed word
    // counts → driver-side pair merging, the standard trainer split),
    // applied as a native expression. Token counts shrink as merges
    // fire; rows-only (no BPE in DuckDB), trainer+apply spec'd in
    // TextOpsSpec.
    Q("x_bpe_learned",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = learnedMerges(s, dir)
        docs.select(col("doc_id"),
            graft.operators.Bpe.tokenCount(col("text"), merges).as("n_bpe_tokens"))
          .orderBy(col("doc_id"))
      },
      None),

    // ------------------------------------------------------------------
    // 37h: BPE ENCODE — token ids (codepoint / 0x110000+rank scheme),
    // the array the packing step actually consumes. Same learned merges
    // as x_bpe_learned (shared training run). Rows-only (no BPE in
    // DuckDB); lossless-decode contract spec'd in BpeSpec.
    // Published as driver-sortable SCALARS (length + sha2 of the joined
    // ids) — a raw array<long> column crashes the driver's rows-check
    // sort (pandas cannot factorize ndarray cells).
    Q("x_tokenize_ids",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val merges = learnedMerges(s, dir)
        docs.select(col("doc_id"),
            graft.operators.Bpe.encodeIds(col("text"), merges).as("ids"))
          .select(col("doc_id"), size(col("ids")).as("n_ids"),
            sha2(concat_ws(",", col("ids").cast("array<string>")), 256).as("ids_sha"))
          .orderBy(col("doc_id"))
      },
      None),

    // ------------------------------------------------------------------
    // 36c: per-label centroids (decimal-exact sum per dimension — order-
    // independent, so the result is bit-stable under any shuffle — cast
    // to double, then one IEEE division by the count) and nearest-
    // centroid assignment: the k-means-iteration primitive the IVF
    // index builds on, as one DataFrame pass + broadcast argmax.
    // Oracle-checked: VecDot's 0.0-seeded left fold equals DuckDB's
    // list_reduce fold bit-for-bit, the argmax compares (score, label)
    // structs identically on both engines, and the publication is
    // integer confusion counts.
    // ------------------------------------------------------------------
    // 36f: ITERATED k-means (two full Lloyd rounds), bit-level verified
    // cross-engine — the "does distributed iterative ML stay exact"
    // proof on top of the single-step s_label_centroids: deterministic
    // seeds (vec_id < 8), fixed-order squared-L2 folds, ties to the
    // lower centroid id, decimal-exact centroid means with one IEEE
    // division; round-2 distances sum as floor-scaled integers (order-
    // independent). Scale shape per round: one broadcast of k rows over
    // one corpus scan, one (cid, pos)-keyed agg — no collect anywhere.
    Q("s_kmeans_lloyd",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val c0 = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"),
            transform(col("embedding"), x => x.cast("double")).as("cvec"))
        val a1 = Similarity.lloydAssign(emb, "vec_id", "embedding", c0)
        val c1 = Similarity.lloydMeans(a1)
        val a2 = Similarity.lloydAssign(emb, "vec_id", "embedding", c1)
        a2.groupBy(col("cid").as("centroid_id"))
          .agg(count(lit(1)).as("n_members"),
            sum(floor(col("dist") * 1e6).cast("long")).as("inertia_e6"))
          .orderBy(col("centroid_id"))
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cvec FROM v WHERE vec_id < 8),
        d1 AS (SELECT vec_id, cid,
                      list_reduce(list_transform(range(1, 65),
                        i -> (v.v[i] - cvec[i]) * (v.v[i] - cvec[i])),
                        (a, b) -> a + b) AS dist
               FROM v, c0),
        a1 AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
                 FROM d1) WHERE rn = 1),
        ex AS (SELECT a1.cid, unnest(v.v) AS x,
                      unnest(range(1, len(v.v) + 1)) AS pos
               FROM a1 JOIN v USING (vec_id)),
        m1 AS (SELECT cid, pos,
                      CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS cx
               FROM ex GROUP BY cid, pos),
        c1 AS (SELECT cid, list(cx ORDER BY pos) AS cvec FROM m1 GROUP BY cid),
        d2 AS (SELECT vec_id, cid,
                      list_reduce(list_transform(range(1, 65),
                        i -> (v.v[i] - cvec[i]) * (v.v[i] - cvec[i])),
                        (a, b) -> a + b) AS dist
               FROM v, c1),
        a2 AS (SELECT vec_id, cid, dist FROM (
                 SELECT vec_id, cid, dist,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
                 FROM d2) WHERE rn = 1)
        SELECT cid AS centroid_id, COUNT(*) AS n_members,
               CAST(SUM(CAST(floor(dist * 1e6) AS BIGINT)) AS BIGINT) AS inertia_e6
        FROM a2 GROUP BY cid ORDER BY centroid_id
      """)),

    // ------------------------------------------------------------------
    // 36g: cluster-balanced diversity sampling — the D4-style curation
    // stage (Tirumala et al. 2023: dedup + diversify before training):
    // assign every vector to its nearest deterministic-seed centroid
    // (the SAME bit-exact lloydAssign pass s_kmeans_lloyd proves), then
    // keep at most CAP members per cluster by a deterministic sha256
    // ranking — over-dense embedding regions are down-sampled toward
    // uniform cluster representation, sparse clusters survive whole.
    // Scale shape: selection rides TopKAgg's bounded map-side heaps
    // (cap rows per cluster per partition cross the shuffle) — NEVER a
    // window sort that would drag the corpus into k partitions. The
    // rank key is a 48-bit sha256 prefix negated into the heap's score
    // (exactly representable in double), so heap order ==
    // (hash asc, vec_id asc) == the oracle's ROW_NUMBER.
    Q("x_cluster_sample",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val c0 = emb.filter(col("vec_id") < 8)
          .select(col("vec_id").as("cid"),
            transform(col("embedding"), x => x.cast("double")).as("cvec"))
        Similarity.clusterSample(emb, "vec_id", "embedding", c0, cap = 32)
          .orderBy(col("cid"), col("rk"))
      },
      Some("""
        WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        c0 AS (SELECT vec_id AS cid, v AS cvec FROM v WHERE vec_id < 8),
        d1 AS (SELECT v.vec_id, cid,
                      list_reduce(list_transform(range(1, 65),
                        i -> (v.v[i] - cvec[i]) * (v.v[i] - cvec[i])),
                        (a, b) -> a + b) AS dist
               FROM v, c0),
        a1 AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY dist, cid) AS rn
                 FROM d1) WHERE rn = 1),
        h AS (SELECT cid, vec_id,
                     CAST(('0x' || substr(sha256('cs|' || CAST(vec_id AS VARCHAR)), 1, 12))::UBIGINT AS BIGINT) AS hv
              FROM a1),
        r AS (SELECT cid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY cid ORDER BY hv, vec_id) AS rk
              FROM h)
        SELECT cid, vec_id, rk FROM r WHERE rk <= 32 ORDER BY cid, rk
      """)),

    Q("s_label_centroids",
      (s, dir) => Similarity.labelCentroidAssign(
        Tables.embeddings(s, dir), "vec_id", "embedding", "label"),
      Some("""
        WITH ex AS (
          SELECT label, unnest(embedding) AS x,
                 unnest(range(1, len(embedding) + 1)) AS pos
          FROM embeddings WHERE label IS NOT NULL),
        cent AS (
          SELECT label AS clabel, pos,
                 CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS cx
          FROM ex GROUP BY 1, 2),
        cvecs AS (SELECT clabel, list(cx ORDER BY pos) AS cvec FROM cent GROUP BY 1),
        cn AS (SELECT clabel, cvec,
                 sqrt(list_reduce(list_transform(cvec, x -> x * x),
                      (a, b) -> a + b)) AS cnrm
               FROM cvecs),
        vn AS (SELECT vec_id, label, embedding AS v,
                 sqrt(list_reduce(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      (a, b) -> a + b)) AS vnrm
               FROM embeddings),
        assigned AS (
          SELECT vn.vec_id, vn.label,
                 max(struct_pack(
                   score := list_reduce(list_transform(range(1, len(v) + 1),
                              i -> CAST(v[i] AS DOUBLE) * cvec[i]),
                            (a, b) -> a + b) / (vnrm * cnrm),
                   cl := clabel)) AS best
          FROM vn, cn GROUP BY 1, 2)
        SELECT label, best.cl AS assigned, count(*) AS n
        FROM assigned GROUP BY 1, 2 ORDER BY label, assigned
      """)),

    // ------------------------------------------------------------------
    // 30c: the full fuzzy-dedup production path composed end-to-end:
    // MinHash-LSH candidates → connected components → min-id survivor →
    // anti-join the corpus (the SlimPajama/CCNet-style pipeline). Every
    // stage is an operator already verified on its own (d_dedup_minhash
    // _lsh, d_dedup_resolve, d_dedup_apply); this registers their
    // COMPOSITION, which is what a user actually runs. Rows-only
    // (minhash family not SQL-expressible); end-to-end collapse
    // semantics spec'd in TextOpsSpec.
    Q("d_dedup_fuzzy_apply",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = TextDedup.minhashLshTopK(docs, "doc_id", "text", k = 500)
          .filter(col("est_jaccard") >= 0.5)
          .select("id_a", "id_b")
        DedupResolve.dropDuplicates(docs, "doc_id", pairs)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"), Q.dsum(col("n_chars")).as("chars_kept"))
          .orderBy(col("source"))
      },
      None),

    // ------------------------------------------------------------------
    // 34c: SemDeDup — semantic (embedding-space) dedup, cluster-bounded:
    // k-means cells confine the quadratic compare, oversized cells
    // refine by hyperplane sign bits (operators/SemDedup.scala). The
    // codebook is the same IVF training path the ANN index uses.
    // Rows-only (k-means + float cosine); collapse semantics and the
    // oversized-cell guard spec'd in SessionizeIvfSpec.
    Q("d_dedup_semantic",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val model = IvfIndex.train(emb, "embedding", k = 16, seed = 42L)
        SemDedup.semanticDedup(emb, "vec_id", "embedding", model, tau = 0.99)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_kept"))
          .orderBy(col("label"))
      },
      None),

    // ------------------------------------------------------------------
    // 34d: connected components over a DETERMINISTIC edge set (the exact
    // PPJoin Jaccard pairs at t=0.8) — the one composition that lets the
    // distributed large-star/small-star contraction itself be
    // hash-checked against SQL: DuckDB computes the same components via
    // recursive-CTE transitive closure + min-reachable-id. (The fuzzy
    // pipeline above uses minhash edges — not SQL-expressible — so the
    // resolver was rows-only until this query.)
    Q("d_dedup_components",
      // connectedComponents, not starComponents directly (r16 — the same
      // switch x_leakage_split made in r13 and DedupResolveSpec pins):
      // it persists the expensive jaccard-join pair pipeline once, and a
      // candidate-pair graph below the threshold solves in ONE driver
      // union-find collect instead of O(log n) distributed star rounds
      // of ~8 tiny jobs each; above the threshold it falls back to the
      // identical starComponents rounds — labels are the same either way.
      (s, dir) => DedupResolve.connectedComponents(
          TextDedup.ngramJaccardJoin(
            Tables.documents(s, dir), "doc_id", "text", threshold = 0.8)
            .select(col("id_a"), col("id_b")))
        .orderBy(col("id")),
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
                        UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u)
        SELECT u AS id, MIN(v) AS label FROM reach GROUP BY u ORDER BY id
      """)),

    // ------------------------------------------------------------------
    // 37h: HTML strip — tags → space, entities unescaped (&amp; last),
    // whitespace collapsed (operators/TextClean.scala). The documents
    // table is plain text, so markup is injected deterministically on
    // BOTH sides to exercise every rule.
    Q("x_html_strip",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextClean.htmlStrip(concat(
            lit("<div class=\"doc\"><p>"), col("text"),
            lit("</p>&nbsp;<a href=\"/x?a=1&amp;b=2\">"), col("lang"),
            lit("</a> &#39;&quot;&lt;raw&gt;</div>"))).as("clean"))
        .withColumn("n_chars", length(col("clean")))
        .orderBy(col("doc_id")),
      Some("""
        WITH marked AS (
          SELECT doc_id,
                 '<div class="doc"><p>' || text || '</p>&nbsp;<a href="/x?a=1&amp;b=2">'
                   || lang || '</a> &#39;&quot;&lt;raw&gt;</div>' AS html
          FROM documents)
        SELECT doc_id,
               trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                 '[ \t\n\r]+', ' ', 'g')) AS clean,
               length(trim(regexp_replace(
                 replace(replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                 '[ \t\n\r]+', ' ', 'g'))) AS n_chars
        FROM marked ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 37i: Unicode NFC canonicalization (native codegen'd expression,
    // functions/NfcNormalize) + C0 control strip. Decomposed sequences
    // and a BEL are injected on both sides; DuckDB's nfc_normalize is
    // the oracle twin.
    Q("x_unicode_nfc",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextClean.nfcClean(concat(
            col("text"), lit(" café Å!"))).as("clean"))
        .withColumn("n_chars", length(col("clean")))
        .orderBy(col("doc_id")),
      Some("""
        SELECT doc_id,
               regexp_replace(nfc_normalize(text || ' cafe' || chr(769) || ' A'
                   || chr(778) || chr(7) || '!'),
                 '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g') AS clean,
               length(regexp_replace(nfc_normalize(text || ' cafe' || chr(769) || ' A'
                   || chr(778) || chr(7) || '!'),
                 '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS n_chars
        FROM documents ORDER BY doc_id
      """)),

    // ------------------------------------------------------------------
    // 38c: char-bigram LM quality signal (CCNet-style, self-trained).
    // The published columns are the integer-exact corpus-frequency
    // stats (hash-checkable); the float bits_per_char users consume is
    // the same aggregate in log space, spec'd in TextOpsSpec.
    Q("x_charlm_score",
      (s, dir) => TextClean.charLmScore(
          Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_bigrams"),
          col("sum_df"), col("min_df"))
        .orderBy(col("doc_id")),
      Some("""
        WITH bg AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, length(text)),
                        i -> substr(text, i, 2))) AS bigram
          FROM documents),
        cnt AS (SELECT bigram, COUNT(*) AS c FROM bg GROUP BY 1),
        scored AS (
          SELECT bg.doc_id, COUNT(*) AS n_bigrams,
                 CAST(SUM(c) AS BIGINT) AS sum_df,
                 CAST(MIN(c) AS BIGINT) AS min_df
          FROM bg JOIN cnt USING (bigram) GROUP BY bg.doc_id)
        SELECT d.doc_id,
               COALESCE(s.n_bigrams, 0) AS n_bigrams,
               COALESCE(s.sum_df, 0) AS sum_df,
               COALESCE(s.min_df, 0) AS min_df
        FROM documents d LEFT JOIN scored s USING (doc_id)
        ORDER BY d.doc_id
      """))
  )
}
