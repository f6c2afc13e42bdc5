package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash-LSH band index with partition-pruned probes — the
  * dedup twin of [[IvfIndex]] (ANN) and [[TextIndex]] (keyword): build
  * the standing-corpus side of [[TextDedup.minhashIncremental]] ONCE,
  * then dedup every incoming batch against it by reading only the band
  * partitions the batch actually collides with.
  *
  * Layout: `path/index` holds (band, key, corpus_id) posting rows
  * HIVE-PARTITIONED BY `pb = band·keyBuckets + (key mod keyBuckets)` —
  * band alone would never prune (every doc populates every band), but a
  * SMALL batch touches ≤ batch×numBands of the numBands×keyBuckets
  * partitions, and incremental dedup of a crawl drop against a huge
  * standing corpus is exactly the small-batch case. `path/sigs` holds
  * (corpus_id, sig) for the verification join; `path/meta` pins the
  * hash parameters so a probe can never run with mismatched banding.
  * Degenerate buckets (occupancy > maxBucket) are dropped at BUILD time
  * — the same skew guard the in-memory incremental path applies per
  * run, paid once here.
  *
  * A probe never self-joins the corpus: batch band keys equi-join the
  * index (cost scales with the batch), and est-Jaccard verification
  * reads only the colliding corpus signatures. Probed (band, bucket)
  * combos arrive as a STATIC `pb IN (...)` filter, so unprobed
  * partition directories are never listed.
  */
object LshIndex {

  def build(corpus: DataFrame, idCol: String, textCol: String, path: String,
      shingleN: Int = 3, numHashes: Int = 32, rowsPerBand: Int = 2,
      maxBucket: Int = 100, keyBuckets: Int = 64): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sigs = MinHashLsh.signatureFrame(corpus, idCol, textCol,
      shingleN, numHashes, rowsPerBand, idAs = "corpus_id")
    Seq((shingleN, numHashes, rowsPerBand, maxBucket, keyBuckets))
      .toDF("shingle_n", "num_hashes", "rows_per_band", "max_bucket", "key_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    sigs.select(col("corpus_id"), col("sig"))
      .write.mode("overwrite").parquet(s"$path/sigs")
    val ix = sigs
      .select(col("corpus_id"), posexplode(col("bands")).as(Seq("band", "key")))
    MinHashLsh.capBuckets(ix, Seq("band", "key"), maxBucket)
      .withColumn("pb", MinHashLsh.pb(col("band"), col("key"), keyBuckets))
      // Cluster by partition value so each task writes only its own pb
      // directories — one file per dir instead of tasks × dirs.
      .repartition(col("pb"))
      .select(col("band"), col("key"), col("corpus_id"), col("pb"))
      .write.mode("overwrite").partitionBy("pb").parquet(s"$path/index")
  }

  /** Append a batch to a persisted index WITHOUT a rebuild: signature
    * rows and band postings land as new files in only the partition
    * directories the batch touches (bounded by batch × numBands — the
    * incremental crawl-drop case never rewrites the standing corpus).
    * The build-time bucket cap is enforced against COMBINED occupancy,
    * read from just the touched partitions: a bucket that would cross
    * `maxBucket` receives no new postings (its existing rows remain, so
    * per-bucket candidate cost stays bounded either way — a full
    * [[build]] remains the periodic defrag/repair pass). Probe equality
    * with a rebuild over the union holds while no bucket crosses the
    * cap (spec'd).
    */
  def append(newDocs: DataFrame, idCol: String, textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val meta = spark.read.parquet(s"$path/meta").head()
    val (shingleN, numHashes, rowsPerBand, maxBucket, keyBuckets) = (
      meta.getAs[Int]("shingle_n"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("rows_per_band"), meta.getAs[Int]("max_bucket"),
      meta.getAs[Int]("key_buckets"))
    // Materialize: the signature computation feeds two writes and the
    // occupancy counts — compute it once.
    val sigs = Materialize(MinHashLsh.signatureFrame(newDocs, idCol, textCol,
      shingleN, numHashes, rowsPerBand, idAs = "corpus_id"))
    sigs.select(col("corpus_id"), col("sig"))
      .write.mode("append").parquet(s"$path/sigs")
    val ix = Materialize(sigs
      .select(col("corpus_id"), posexplode(col("bands")).as(Seq("band", "key")))
      .withColumn("pb", MinHashLsh.pb(col("band"), col("key"), keyBuckets)))
    val pbs = ix.select("pb").distinct().collect().map(_.getInt(0)).sorted
    val existing = spark.read.parquet(s"$path/index")
      .filter(col("pb").isin(pbs.map(Int.box): _*))
      .groupBy("band", "key").agg(count(lit(1)).as("n_old"))
    val keep = ix.groupBy("band", "key").agg(count(lit(1)).as("n_new"))
      .join(existing, Seq("band", "key"), "left")
      .filter(coalesce(col("n_old"), lit(0L)) + col("n_new") <= maxBucket)
      .select("band", "key")
    ix.join(keep, Seq("band", "key"))
      .repartition(col("pb"))
      .select(col("band"), col("key"), col("corpus_id"), col("pb"))
      .write.mode("append").partitionBy("pb").parquet(s"$path/index")
  }

  /** Flag new-batch docs whose bands collide with the persisted corpus
    * and whose signature similarity clears `threshold`. Output matches
    * [[TextDedup.minhashIncremental]]: (id, n_matches, best_match,
    * best_est) — and IS equal to it for the same corpus/batch (spec'd).
    */
  def probe(spark: SparkSession, path: String, newBatch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val (shingleN, numHashes, rowsPerBand, keyBuckets) = (
      meta.getAs[Int]("shingle_n"), meta.getAs[Int]("num_hashes"),
      meta.getAs[Int]("rows_per_band"), meta.getAs[Int]("key_buckets"))
    val newSigs = Materialize(MinHashLsh.signatureFrame(newBatch, idCol, textCol,
      shingleN, numHashes, rowsPerBand))
    val probes = Materialize(newSigs
      .select(col("id"), posexplode(col("bands")).as(Seq("band", "key")))
      .withColumn("pb", MinHashLsh.pb(col("band"), col("key"), keyBuckets)))
    // The (band, key-bucket) partitions this batch actually touches, as
    // STATIC literals: bounded by batch×numBands, and far below
    // numBands×keyBuckets for the incremental small-batch case — the
    // unprobed partition directories are never listed.
    val pbs = probes.select("pb").distinct().collect().map(_.getInt(0)).sorted
    val cands = spark.read.parquet(s"$path/index")
      .filter(col("pb").isin(pbs.map(Int.box): _*))
      .join(probes.select("band", "key", "id"), Seq("band", "key"))
      .select(col("id"), col("corpus_id")).distinct()
    MinHashLsh.bestMatches(cands, newSigs, spark.read.parquet(s"$path/sigs"),
      numHashes, threshold)
  }
}
