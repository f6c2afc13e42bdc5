package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators and the references the output checks use.
  * Everything here is computed by the benchmark itself, never by the
  * operators it measures.
  */
object Inputs {

  // ------------------------------------------------------------------
  // Documents: the shape of the sf0.1 `documents` table
  // ------------------------------------------------------------------

  /** The 30 words of the sf0.1 `documents` text, each about equally frequent. */
  val vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
    "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
    "vector", "window")
  /** The word a near-copy gains at its end; no original document holds it. */
  val DupWord = "dup"
  val CopyRate = 0.05

  /** `n` documents (ids 0 until n) shaped like the sf0.1 `documents`
    * table (5000 rows): originals of 10-99 words drawn uniformly from
    * [[vocab]]; a [[CopyRate]] share are near-copies of a random earlier
    * document (copies of copies included) with [[DupWord]] appended. Ids
    * are a seeded permutation of generation order, so a copy's id may
    * sort before its source's.
    */
  def documents(seed: Long, n: Int): Array[String] = {
    val rnd = new SplittableRandom(seed)
    val words = new Array[Array[String]](n)
    var i = 0
    while (i < n) {
      words(i) =
        if (i > 0 && rnd.nextDouble() < CopyRate) words(rnd.nextInt(i)) :+ DupWord
        else Array.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.length)))
      i += 1
    }
    val ids = Array.range(0, n)
    var j = n - 1
    while (j > 0) { val k = rnd.nextInt(j + 1); val t = ids(j); ids(j) = ids(k); ids(k) = t; j -= 1 }
    val out = new Array[String](n)
    (0 until n).foreach(g => out(ids(g)) = words(g).mkString(" "))
    out
  }

  def documentsFrame(spark: SparkSession, texts: Array[String]): DataFrame = {
    import spark.implicits._
    texts.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** Distinct word 3-grams of a document (its tokens are already
    * lowercase words separated by single spaces).
    */
  def shingles(text: String): Array[String] = {
    val t = text.split(' ')
    if (t.length < 3) Array(t.mkString(" "))
    else (0 to t.length - 3).map(i => s"${t(i)} ${t(i + 1)} ${t(i + 2)}").distinct.toArray
  }

  /** Every pair (a < b) with word-3-gram Jaccard ≥ `threshold`, exactly.
    * A pair is scored only if the two documents share a shingle among
    * their first |S| - ceil(threshold·|S|) + 1 shingles, rarest first
    * (the prefix filter): Jaccard ≥ t forces an overlap of at least
    * ceil(t·|S|) shingles for either set S, so no qualifying pair is
    * skipped; every candidate is then scored on its full sets. Documents
    * are probed in id order against the prefixes indexed so far, each
    * candidate once.
    */
  def jaccardPairs(texts: Array[String], threshold: Double): Array[(Long, Long)] = {
    val ids = mutable.HashMap.empty[String, Int]
    val raw = texts.map(t => shingles(t).map(s => ids.getOrElseUpdate(s, ids.size)))
    val freq = new Array[Int](ids.size)
    raw.foreach(_.foreach(s => freq(s) += 1))
    // Each set as the sorted ranks of its shingles, rarest first.
    val rank = new Array[Int](ids.size)
    Array.range(0, ids.size).sortBy(s => (freq(s), s)).zipWithIndex.foreach { case (s, r) => rank(s) = r }
    val sets = raw.map(_.map(rank).sorted)
    def overlap(x: Array[Int], y: Array[Int]): Int = {
      var (i, j, n) = (0, 0, 0)
      while (i < x.length && j < y.length)
        if (x(i) == y(j)) { n += 1; i += 1; j += 1 } else if (x(i) < y(j)) i += 1 else j += 1
      n
    }
    // Posting list of each shingle: the documents so far whose prefix holds it.
    val postings = Array.fill(ids.size)(new Array[Int](4))
    val postingLen = new Array[Int](ids.size)
    val seenBy = Array.fill(sets.length)(-1)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var d = 0
    while (d < sets.length) {
      val x = sets(d)
      val prefix = x.length - math.ceil(threshold * x.length - 1e-9).toInt + 1
      var k = 0
      while (k < prefix) {
        val p = postings(x(k))
        var i = 0
        while (i < postingLen(x(k))) {
          val c = p(i)
          if (seenBy(c) != d) {
            seenBy(c) = d
            val y = sets(c)
            val ov = overlap(x, y)
            if (ov.toDouble / (x.length + y.length - ov) >= threshold) out += ((c.toLong, d.toLong))
          }
          i += 1
        }
        k += 1
      }
      k = 0
      while (k < prefix) {
        val sh = x(k)
        if (postingLen(sh) == postings(sh).length)
          postings(sh) = java.util.Arrays.copyOf(postings(sh), 2 * postingLen(sh))
        postings(sh)(postingLen(sh)) = d
        postingLen(sh) += 1
        k += 1
      }
      d += 1
    }
    out.toArray.sorted
  }

  /** Union-find component label (smallest member) of every id in 0 until n. */
  def components(n: Int, pairs: Iterable[(Long, Long)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    Array.tabulate(n)(i => find(i).toLong)
  }

  // ------------------------------------------------------------------
  // The portable banded MinHash gate, one shot over a whole corpus
  // ------------------------------------------------------------------

  /** 32 MinHash values per document: for group g in 0..3 the SHA-256 of
    * "g|shingle" gives eight big-endian unsigned 32-bit lanes; value
    * 8g+lane is the minimum of that lane over the document's distinct
    * word 3-grams of its lowercased, whitespace-split text.
    */
  def portableSignature(text: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val sh =
      if (toks.length < 3) Array(toks.mkString(" "))
      else (0 to toks.length - 3).map(i => s"${toks(i)} ${toks(i + 1)} ${toks(i + 2)}").distinct.toArray
    val sig = Array.fill(32)(Long.MaxValue)
    sh.foreach { s =>
      (0 until 4).foreach { g =>
        val d = md.digest(s"$g|$s".getBytes("UTF-8"))
        (0 until 8).foreach { lane =>
          val v = ((d(4 * lane) & 0xffL) << 24) | ((d(4 * lane + 1) & 0xffL) << 16) |
            ((d(4 * lane + 2) & 0xffL) << 8) | (d(4 * lane + 3) & 0xffL)
          if (v < sig(8 * g + lane)) sig(8 * g + lane) = v
        }
      }
    }
    sig
  }

  /** Per-document flags of the banded gate (16 bands of 2 values, buckets
    * of 2..maxBucket members, partners agreeing on ≥ minAgree values):
    * doc id → (partners with a lower id, best partner, its agreement),
    * the best partner being the one with the highest (agreement, id).
    */
  def bandedFlags(ids: Array[Long], texts: Array[String], maxBucket: Int = 100,
      minAgree: Int = 16): Map[Long, (Long, Long, Long)] = {
    val sigs = texts.map(portableSignature)
    val buckets = mutable.HashMap.empty[(Int, Long, Long), mutable.ArrayBuffer[Int]]
    sigs.zipWithIndex.foreach { case (s, d) =>
      (0 until 16).foreach(b => buckets.getOrElseUpdate((b, s(2 * b), s(2 * b + 1)),
        mutable.ArrayBuffer.empty) += d)
    }
    val pairs = mutable.HashSet.empty[(Int, Int)]
    buckets.valuesIterator.filter(m => m.length > 1 && m.length <= maxBucket).foreach { m =>
      for (x <- m; y <- m if ids(x) < ids(y)) pairs += ((x, y))
    }
    pairs.toSeq.flatMap { case (a, b) =>
      val eq = (0 until 32).count(i => sigs(a)(i) == sigs(b)(i))
      if (eq >= minAgree) Some((ids(b), ids(a), eq.toLong)) else None
    }.groupBy(_._1).map { case (id, ps) =>
      val best = ps.maxBy(p => (p._3, p._2))
      id -> ((ps.size.toLong, best._2, best._3))
    }
  }

  // ------------------------------------------------------------------
  // Events
  // ------------------------------------------------------------------

  /** `n` events (event_id 0 until n) in the shape of the `events` table:
    * event_id, ts, user_id, event_type (with case/space variants the
    * category rule must fold), value (some outside [0, 150]) and props.
    * Every column derives from (seed, event_id).
    */
  def events(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    def h(salt: Int) = pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000007L))
    val types = array(Seq("click", "view", "purchase", "signup", "error", " Click ", "VIEW")
      .map(lit): _*)
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 30000000L +
        h(1) % 29000000L).as("ts"),
      (h(2) % 5000L).as("user_id"),
      element_at(types, (h(3) % 7L + 1L).cast("int")).as("event_type"),
      ((h(4) % 17000L).cast("double") / 100.0 - 10.0).as("value"),
      concat(lit("{\"k\": "), (h(5) % 100L).cast("string"), lit("}")).as("props"))
  }
}
