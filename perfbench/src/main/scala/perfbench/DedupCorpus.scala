package perfbench

import java.nio.file.{Files => JFiles, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DedupResolve, Materialize, TextDedup}

/** Near-duplicate removal over a generated corpus shaped like the sf0.1
  * `documents` table: `TextDedup.minhashLshTopK` (xxhash64 MinHash
  * signatures, LSH band candidates with its bucket cap, every candidate
  * kept) → exact Jaccard verify of the candidates (t = 0.8, benchmark
  * code: graft has no public verify of given pairs) →
  * `DedupResolve.connectedComponents` → `DedupResolve.dropDuplicates`,
  * written out as the surviving corpus. The verified pairs, read by both
  * resolve calls, go through `Materialize`; traced runs add a barrier
  * after the candidates too.
  *
  * Recall is scored against the exact pairs from
  * [[Inputs.jaccardPairs]], computed once per seed and cached on disk.
  */
final class DedupCorpus(spark: SparkSession, seed: Long, work: Path, cache: Path)
    extends Workload {
  val name = "dedup_corpus"

  val docs = 20000
  val threshold = 0.8
  val numHashes = 64
  val rowsPerBand = 4

  private val corpusDir = work.resolve("corpus").toString
  private val outDir = work.resolve("survivors").toString
  /** The exact pairs, computed on a thread of their own while Spark writes the corpus. */
  private var pendingTruth: Future[Array[(Long, Long)]] = _
  private var truth: Array[(Long, Long)] = Array.empty
  private var truthLabels: Array[Long] = Array.empty
  private var labels: Map[Long, Long] = Map.empty

  def generate(): Unit = {
    spark.catalog.clearCache() // plans over these paths may be cached from an earlier pass
    Files.deleteRec(work)
    val texts = Inputs.documents(seed, docs)
    pendingTruth = Future(cachedTruth(texts))(ExecutionContext.global)
    Inputs.documentsFrame(spark, texts).repartition(4).write.parquet(corpusDir)
  }

  def reference(): Unit = {
    truth = Await.result(pendingTruth, Duration.Inf)
    truthLabels = Inputs.components(docs, truth)
  }

  private def cachedTruth(texts: Array[String]): Array[(Long, Long)] = {
    val f = cache.resolve(s"dedup_truth_${seed}_${docs}.txt")
    if (JFiles.exists(f)) {
      val lines = JFiles.readAllLines(f)
      Array.tabulate(lines.size) { i =>
        val Array(a, b) = lines.get(i).split(' '); (a.toLong, b.toLong)
      }
    } else {
      val pairs = Inputs.jaccardPairs(texts, threshold)
      JFiles.createDirectories(cache)
      val tmp = cache.resolve(s"${f.getFileName}.tmp")
      JFiles.write(tmp, pairs.map { case (a, b) => s"$a $b" }.mkString("\n").getBytes("UTF-8"))
      JFiles.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      pairs
    }
  }

  def reset(): Unit = Files.deleteRec(Path.of(outDir))

  /** In traced runs a stage's output is materialized (and counted) before
    * the next stage starts, so its cost lands in its own span.
    */
  private def barrier(df: DataFrame, it: Iteration, note: String): DataFrame =
    if (!Trace.enabled) df
    else {
      val m = Materialize(df)
      it.note(note, m.count().toDouble)
      m
    }

  def run(it: Iteration): Unit = {
    val corpus = spark.read.parquet(corpusDir)
    // The call materializes the signatures; the band join and the
    // estimate it returns run when the candidates are first read.
    val ranked = Trace.span("dedup.signature") {
      TextDedup.minhashLshTopK(corpus, "doc_id", "text", numHashes = numHashes,
        rowsPerBand = rowsPerBand, k = Int.MaxValue)
    }
    val candidates = Trace.span("dedup.candidates") {
      barrier(ranked.select("id_a", "id_b"), it, "dedup.candidates.pairs")
    }
    val verified = Trace.span("dedup.verify") {
      val sh = corpus.select(col("doc_id"), TextDedup.wordShingles(col("text"), 3).as("sh"))
      val v = Materialize(candidates
        .join(sh.toDF("id_a", "sa"), "id_a")
        .join(sh.toDF("id_b", "sb"), "id_b")
        .filter(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))) >= threshold)
        .select("id_a", "id_b"))
      if (Trace.enabled) it.note("dedup.verify.pairs", v.count().toDouble)
      v
    }
    labels = Trace.span("dedup.components") {
      DedupResolve.connectedComponents(verified).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    Trace.span("dedup.resolve") {
      DedupResolve.dropDuplicates(corpus, "doc_id", verified).write.parquet(outDir)
    }
    it.items += docs
  }

  def check(it: Iteration): Unit = {
    def label(id: Long): Long = labels.getOrElse(id, id)
    // Exact verification can only join true near-duplicates: every
    // component found must sit inside one reference component.
    labels.foreach { case (id, l) =>
      if (truthLabels(id.toInt) != truthLabels(l.toInt))
        throw new IllegalStateException(s"doc $id joined to $l across reference components")
    }
    val survivors = spark.read.parquet(outDir).count()
    val want = docs - labels.count { case (id, l) => id != l }
    if (survivors != want)
      throw new IllegalStateException(s"survivors $survivors != $want from the components")
    it.recall = if (truth.isEmpty) 1.0
      else truth.count { case (a, b) => label(a) == label(b) }.toDouble / truth.length
    if (it.recall < 0.9) throw new IllegalStateException(s"recall ${it.recall} < 0.9")
    it.stateBytes = Files.du(Path.of(outDir))
    it.note("dedup.truth.pairs", truth.length)
  }
}
