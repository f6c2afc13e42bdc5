package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import org.apache.spark.sql.GraftBridge

import graft.functions.MinhashSig

/** MinHash-LSH, the near-duplicate engine behind every banded dedup path
  * (SURVEY.md rows 32, 32b, 31d, 31e, 91, 63): the two hash families,
  * the `pb` posting key, and the five kernels the consumers compose —
  * capped band pairs, a batch's capped pairs against a standing index,
  * signature agreement, the index-side bucket cap and the incremental
  * best-match tail. A change to banding, agreement or the bucket cap is
  * made here and nowhere else.
  *
  * Two families, kept apart until a measurement of both on the same
  * dedup pipeline settles which one stays:
  *  - xxhash64 ([[withMinhashSignature]], [[bandKeys]]): the native
  *    MinhashSig expression, one narrow projection; rows-only, no
  *    DuckDB analog (TextDedup, LshIndex, x_leakage_split_banded_fast).
  *  - portable sha256 lanes ([[portableMinhashSig]], [[portableBands]]):
  *    32 values, 16 bands × 2 rows, replayed bit-for-bit by the DuckDB
  *    oracles (d_minhash_portable, x_dedup_eval, x_leakage_split_banded,
  *    the streaming lshPairsSink).
  */
object MinHashLsh {

  // ------------------------------------------------------------------
  // xxhash64 family
  // ------------------------------------------------------------------

  /** MinHash signature column of a shingle-array column. */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    GraftBridge.column(MinhashSig(GraftBridge.expression(shingles), numHashes))

  /** Add a minhash signature column `sig` (array<bigint>, `numHashes`
    * long). Hash family: xxhash64(shingle, seed_i) via the native
    * MinhashSig expression — one narrow projection, no shuffle.
    */
  def withMinhashSignature(df: DataFrame, textCol: String,
      shingleN: Int = 3, numHashes: Int = 32): DataFrame =
    df.withColumn("sig",
      minhashSig(TextDedup.wordShingles(col(textCol), shingleN), numHashes))

  /** LSH band keys from a minhash signature: one 64-bit key per band of
    * `rowsPerBand` signature positions.
    */
  def bandKeys(sig: Column, numHashes: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numHashes / rowsPerBand - 1)),
      b => xxhash64(concat_ws("_",
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string"))), b))

  /** (`idAs`, sig, bands) over `df`'s `idCol`/`textCol`: the xxhash64
    * signature and its band keys, the frame every xxhash consumer
    * explodes into postings and scores from.
    */
  def signatureFrame(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int, rowsPerBand: Int,
      idAs: String = "id"): DataFrame =
    withMinhashSignature(
        df.select(col(idCol).as(idAs), col(textCol)), textCol, shingleN, numHashes)
      .select(col(idAs), col("sig"), bandKeys(col("sig"), numHashes, rowsPerBand).as("bands"))

  // ------------------------------------------------------------------
  // Portable (sha256-lane) family
  // ------------------------------------------------------------------

  /** Distinct lowercase-whitespace 3-gram shingles — the portable (sha256-
    * replayable) tokenization shared by d_minhash_portable, x_dedup_eval
    * and the banded leakage split. Shifted-zip kGrams: lambdas must not
    * touch the `ts` alias — CollapseProject would inline the tokenizer per
    * shingle (quadratic interpreted re-evaluation).
    *
    * Short-doc rule (mirrors `Shingles`' native wordShingles): a doc with
    * fewer than 3 tokens gets ONE whole-text shingle instead of being
    * dropped. Dropping made identical short docs singletons keyed by their
    * own ids — a DETERMINISTIC leakage-split violation (two copies of the
    * same 2-token doc could land on opposite split sides), far worse than
    * the banded tier's 8.7e-8 probabilistic miss. The oracles replay the
    * rule as a CASE on len(ts).
    */
  private[graft] def portableShingles(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("ts"))
    base.select(col("doc_id"),
      when(size(col("ts")) < 3, array(array_join(col("ts"), " ")))
        .otherwise(array_distinct(
          slice(Winnow.kGrams(col("ts"), 3), lit(1),
            greatest(size(col("ts")) - 2, lit(0))))).as("shs"))
  }

  /** Materialized portable MinHash signatures (doc_id, sig[32]) over a
    * caller-prepared (doc_id, shs) shingle frame — for callers that ALSO
    * consume the shingles (x_dedup_eval's exact-truth side): sharing the
    * tokenize+shingle pass beats running it once per consumer.
    *
    * 4 sha256 digests per shingle OCCURRENCE, each digest yielding 8
    * independent 32-bit values (its lanes); per-doc elementwise-min
    * through VecMinAgg (fixed 32-long buffer, map-side). Doc-keyed
    * repartition BEFORE the explode spreads the single-file scan — and
    * because the hash→min chain never re-keys, that ONE exchange of the
    * compact doc frame is the pipeline's ONLY shuffle: explode, sha256,
    * and the partial+final vecMin all run inside the doc-partitioned
    * stage.
    *
    * r10 scale lesson (the sf100 probe's disk kill): the previous shape
    * hashed per DISTINCT shingle and joined the signatures back to the
    * exploded (doc, shingle) frame — "save 10× the sha256 calls". But
    * that join re-keys 500M occurrence rows by shingle and then ships a
    * 264-byte 32-long array per row (plus per-partition partials ×
    * numPartitions) into the doc_id exchange: ~150 GB of shuffle at
    * sf100, which overflowed the box's disk — while the sha256 calls it
    * saved are embarrassingly parallel CPU (~1 µs each, no shuffle at
    * any corpus size). Hash-per-occurrence is identical semantically
    * (the per-doc min ranges over the same values) and trades the
    * engine's scarce resource (shuffle bytes) for its abundant one.
    */
  private[graft] def portableMinhashSigFromShingles(shs: DataFrame): DataFrame = {
    // sha256 digest bytes read as 8 unsigned-int lanes directly
    // (graft.functions.sha256Lanes) — value-identical to the previous
    // conv(substr(sha2-hex))-per-lane formula (Sha256LanesSpec pins it;
    // the oracle SQL is unchanged), minus 9 string allocations + 8 hex
    // parses per digest in THE per-shingle-occurrence hot path of the
    // whole portable family (this sig feeds d_minhash_portable,
    // x_dedup_eval, s_ann_lsh_portable scoring and the streaming
    // lshPairsSink). Interleaved one-JVM micro-bench (4M shingles × 32
    // lanes, both formulas over the same shingle column with the same
    // vecMin consumer): 3.5-3.8 s hex formula vs 0.4-0.8 s lanes,
    // identical bit_xor checksum.
    val hs = flatten(array((0 until 4).map(g =>
      graft.functions.sha256Lanes(concat(lit(s"$g|"), col("shingle")))): _*))
    // Explicit count: a bare repartition(col) is AQE-coalescible and the
    // compact doc frame coalesces to 1-2 partitions, serializing the
    // CPU-dominant shingle/sha256 stage (see TextQueries.synthMedia's
    // note).
    Materialize(shs
      .repartition(shs.sparkSession.conf
        .get("spark.sql.shuffle.partitions", "32").toInt, col("doc_id"))
      .select(col("doc_id"), explode(col("shs")).as("shingle"))
      .select(col("doc_id"), hs.as("hs"))
      .groupBy("doc_id")
      .agg(graft.functions.vecMin(col("hs"), 32).as("sig")))
  }

  /** [[portableMinhashSigFromShingles]] over [[portableShingles]] of a
    * (doc_id, text) frame. */
  private[graft] def portableMinhashSig(docs: DataFrame): DataFrame =
    portableMinhashSigFromShingles(portableShingles(docs))

  /** 16 bands × 2 rows over a 32-long signature frame. */
  private[graft] def portableBands(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(
        transform(sequence(lit(0), lit(15)),
          b => struct(b.as("b"),
            element_at(col("sig"), b * 2 + 1).as("k1"),
            element_at(col("sig"), b * 2 + 2).as("k2")))).as("bd"))
      .select(col("doc_id"), col("bd.b").as("b"),
        col("bd.k1").as("k1"), col("bd.k2").as("k2"))

  // ------------------------------------------------------------------
  // Posting key
  // ------------------------------------------------------------------

  /** band·keyBuckets + (key mod keyBuckets) — the value a persisted band
    * index sorts (or partitions) its postings on, shared by every writer
    * and probe so build and probe cannot drift: band alone would never
    * prune (every doc populates every band), while a small batch touches
    * at most batch×numBands of the numBands×keyBuckets values.
    */
  def pb(band: Column, key: Column, keyBuckets: Int): Column =
    (band.cast("long") * keyBuckets + pmod(key, lit(keyBuckets.toLong))).cast("int")

  // ------------------------------------------------------------------
  // Kernels
  // ------------------------------------------------------------------

  /** Number of positions at which two equal-length signatures agree. */
  def agreement(a: Column, b: Column): Column =
    size(filter(zip_with(a, b, (x, y) => x === y), p => p))

  /** Postings joined to their bucket's occupancy `bucket_n`, kept where
    * `keep(bucket_n)` holds. */
  private def byOccupancy(postings: DataFrame, bucket: Seq[String],
      keep: Column => Column): DataFrame =
    postings.join(
      postings.groupBy(bucket.map(col): _*).agg(count(lit(1)).as("bucket_n"))
        .filter(keep(col("bucket_n"))),
      bucket)

  /** Distinct candidate pairs (id_a < id_b) of `idCol` values sharing a
    * `bucket` in `postings`. With `maxBucket`, only buckets of 2 to
    * maxBucket members take part — the degenerate-bucket skew guard:
    * pairwise candidates grow with the square of a bucket's occupancy,
    * and a bucket at the cap carries no discrimination. Without it
    * every bucket pairs (a caller whose input is already bounded).
    *
    * A join, not one aggregate as in [[incrementalPairs]], which emits
    * the same capped pair set when its `old` side is empty. Measured on
    * `dedup_corpus` (traced, seed 601): a one-aggregate form (collect_list
    * per bucket, cap, explode) emitted the same 1173 candidates but
    * doubled `dedup.candidates.exec_cpu_s` (3.88 → 7.75 s) and raised its
    * shuffle from 4.6 to 5.8 MB. Most postings sit in over-cap buckets,
    * which the aggregate must collect before it can drop them; the
    * occupancy join drops them first.
    */
  def bandPairs(postings: DataFrame, idCol: String, bucket: Seq[String],
      maxBucket: Option[Int]): DataFrame = {
    val capped = maxBucket.fold(postings)(cap =>
      byOccupancy(postings, bucket, n => n > 1 && n <= cap))
    capped.as("a").join(capped.as("b"),
        bucket.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b")).distinct()
  }

  /** Index-side cap: postings whose bucket holds at most `maxBucket`
    * rows — the same skew guard as [[bandPairs]], applied to the
    * standing-corpus side an incremental probe joins against.
    */
  def capBuckets(postings: DataFrame, bucket: Seq[String], maxBucket: Int): DataFrame =
    byOccupancy(postings, bucket, _ <= maxBucket)

  /** Candidate pairs one batch adds to a standing band index. `fresh`
    * and `old` are (`idCol`, bucket…) postings of the batch and of the
    * standing corpus (its postings in the batch's buckets suffice). ONE
    * aggregate over their union, grouped by bucket, counts occupancy and
    * collects the fresh and the old members; a bucket of at most
    * `maxBucket` members with at least one fresh member emits fresh×fresh
    * and fresh×old pairs as distinct (bucket…, id_a, id_b), id_a < id_b.
    * The cap applies before any pair exists, so an over-full bucket never
    * expands: a batch emits at most maxBucket² pairs per bucket. Old×old
    * pairs are the earlier batches' own, so an old-only bucket emits
    * nothing, and an id on both sides (a re-delivered doc) never pairs
    * with itself.
    */
  def incrementalPairs(fresh: DataFrame, old: DataFrame, idCol: String,
      bucket: Seq[String], maxBucket: Int): DataFrame = {
    val keys = bucket.map(col)
    def side(df: DataFrame, isFresh: Boolean) =
      df.select(keys :+ col(idCol).as("id") :+ lit(isFresh).as("fresh"): _*)
    val members = side(fresh, isFresh = true).unionByName(side(old, isFresh = false))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("occ"),
        collect_list(when(col("fresh"), col("id"))).as("nw"),
        collect_list(when(!col("fresh"), col("id"))).as("od"))
      .filter(col("occ") <= maxBucket && size(col("nw")) > 0)
    def pair(a: Column, b: Column) = struct(a.as("id_a"), b.as("id_b"))
    val pairs = flatten(transform(col("nw"), x => concat(
      transform(filter(col("nw"), y => x < y), y => pair(x, y)),
      transform(filter(col("od"), y => x =!= y), y => pair(least(x, y), greatest(x, y))))))
    members.select(keys :+ explode(pairs).as("p"): _*)
      .select(keys :+ col("p.id_a") :+ col("p.id_b"): _*)
      .distinct()
  }

  /** Incremental best-match tail: candidates (id, corpus_id) scored by
    * estimated Jaccard (agreeing positions / numHashes) between the new
    * doc's `sig` (`newSigs`: id, sig) and the corpus doc's (`corpusSigs`:
    * corpus_id, sig), kept at ≥ `threshold`, and reduced per new doc to
    * (id, n_matches, best_match, best_est) — best by (est, corpus_id).
    */
  def bestMatches(cands: DataFrame, newSigs: DataFrame, corpusSigs: DataFrame,
      numHashes: Int, threshold: Double): DataFrame =
    cands
      .join(newSigs.select(col("id"), col("sig")), "id")
      .join(corpusSigs.select(col("corpus_id").as("cid"), col("sig").as("csig")),
        col("corpus_id") === col("cid"))
      .withColumn("est_jaccard",
        agreement(col("sig"), col("csig")).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_matches"),
        max(struct(col("est_jaccard"), col("corpus_id"))).as("best"))
      .select(col("id"), col("n_matches"),
        col("best.corpus_id").as("best_match"), col("best.est_jaccard").as("best_est"))
      .orderBy(col("id"))
}
