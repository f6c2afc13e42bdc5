package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{DedupResolve, TextDedup}

/** Pins the property that makes `x_leakage_split_fast` safe: the PPJoin
  * prefix-filter CANDIDATE edge set is a deterministic superset of the
  * exact Jaccard ≥ t edge set, so the candidate-edge split's groups are
  * a COARSENING of the exact split's groups — two true near-duplicates
  * can never land on opposite sides of the fast split.
  */
class LeakageSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"
  import spark.implicits._

  // ~60 docs: 10 near-dup families (one-token edits of a 24-token base —
  // word-3-gram Jaccard well above 0.8 within a family) + unique
  // background docs that share common words but not 3-grams densely.
  private lazy val docs = {
    val rnd = new scala.util.Random(23)
    def sentence(seed: Int, n: Int = 24): Seq[String] =
      (0 until n).map(i => s"w${(seed * 31 + i * 7) % 97}_$i")
    val families = (0 until 10).flatMap { f =>
      val base = sentence(f)
      val variants = (0 until 3).map { v =>
        val t = base.toArray
        if (v > 0) t(rnd.nextInt(t.length)) = s"edit_${f}_$v"
        (f * 10L + v, t.mkString(" "))
      }
      variants
    }
    val background = (0 until 30).map { i =>
      (1000L + i, sentence(100 + i * 13).mkString(" "))
    }
    (families ++ background).toDF("doc_id", "text")
  }

  private def split(edges: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    DedupResolve.connectedComponents(edges.select(col("id_a"), col("id_b")))
      .withColumnRenamed("id", "doc_id")
      .as[(Long, Long)].collect().toMap

  test("a duplicate FLOOD still routes through the exact-dup collapse " +
      "(r12: the small-corpus fast path must not reopen the flood cliff)") {
    // 750 byte-identical copies → C(750,2) = 280,875 intra pairs —
    // past the collapseWorthwhile dup-pair probe's cutover
    // (DirectVerifyMaxPairs/4 = 262,144), so this corpus MUST take the
    // collapsed branch even though it is tiny by doc count. One
    // engineered near-variant (one mid-word edit of a 30-token doc:
    // 3 of 28 shingles die → J = 25/31 ≈ 0.806) pins the cross-group
    // expansion, and distinct background docs pin no-overfire.
    val base = (0 until 30).map(i => s"fl${i * 13 % 89}_$i")
    val varnt = { val t = base.toArray; t(15) = "edited_once"; t.toSeq }
    val rows =
      (0 until 750).map(i => (i.toLong, base.mkString(" "))) ++
        Seq((9000L, varnt.mkString(" "))) ++
        (0 until 20).map(i => (9100L + i,
          (0 until 25).map(j => s"bg${i}_$j").mkString(" ")))
    val df = rows.toDF("doc_id", "text")
    val got = TextDedup.ngramJaccardJoin(df, "doc_id", "text", threshold = 0.8)
    val intra = 750L * 749 / 2
    assert(got.filter(col("jaccard") === 1.0).count() == intra,
      "every intra-family pair must surface at jaccard 1.0")
    val cross = got.filter(col("jaccard") < 1.0)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(cross.length == 750 &&
      cross.forall { case (_, b, j) =>
        b == 9000L && math.abs(j - 25.0 / 31.0) < 1e-12 },
      s"variant must pair with every family member at 25/31: ${cross.take(3).toSeq}")
  }

  test("PackedJaccard: 0/0 empty-set case returns 0.0, never NaN " +
      "(NaN sorts ABOVE all doubles, so >= threshold would emit a pair)") {
    import org.apache.spark.sql.GraftBridge
    val df = Seq(
      (Array.empty[Long], Array.empty[Long]),
      (Array(1L, 2L), Array(1L, 2L)),
      (Array(1L, 2L, 3L, 4L), Array(1L, 2L, 5L, 6L))).toDF("a", "b")
    val j = df.select(GraftBridge.column(graft.functions.PackedJaccard(
        GraftBridge.expression(col("a")), GraftBridge.expression(col("b"))))
        .as("j"))
      .as[Double].collect()
    assert(!j(0).isNaN && j(0) == 0.0)
    assert(j(1) == 1.0)
    assert(j(2) == 1.0 / 3.0)
  }

  test("candidate edges are a superset of the exact Jaccard edges") {
    val exact = TextDedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cands = TextDedup.ppjoinCandidates(docs, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "test corpus must plant exact near-dup pairs")
    assert(exact.subsetOf(cands),
      s"prefix-filter candidates lost exact pairs: ${(exact -- cands).take(5)}")
  }

  test("exact split groups refine into candidate split groups (no cross-side leaks)") {
    val exactLabels = split(
      TextDedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.8))
    val candLabels = split(
      TextDedup.ppjoinCandidates(docs, "doc_id", "text", threshold = 0.8))
    // Refinement: same exact component ⇒ same candidate component. The
    // fast split buckets by candidate component label, so this is
    // exactly "no two near-duplicates on opposite sides".
    val byExact = exactLabels.groupBy(_._2).values
    for (grp <- byExact) {
      val candGrps = grp.keys.map(id => candLabels.getOrElse(id, id)).toSet
      assert(candGrps.size == 1,
        s"exact component ${grp.keys.toSeq.sorted} splits across candidate components $candGrps")
    }
  }

  // --------------------------------------------------------------
  // Banded variant: bipartite doc→bucket edges into components.
  // --------------------------------------------------------------

  /** The banded split's bucket-membership frame over an arbitrary doc
    * table, built the same way the registered query builds it (sha256
    * portable minhash → 16×2 bands → (b,k1,k2) bucket key).
    */
  private def bandedState(d: org.apache.spark.sql.DataFrame) = {
    val bands = graft.operators.MinHashLsh.portableBands(
      graft.operators.MinHashLsh.portableMinhashSig(
        d.select(col("doc_id"), col("text"))))
    bands.select(col("doc_id"),
      struct(col("b"), col("k1"), col("k2")).as("bucket"))
  }

  private def bucketSplit(m: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    DedupResolve.bucketComponents(m, idCol = "doc_id")
      .as[(Long, Long)].collect().toMap

  test("bucket-star components equal pairwise within-bucket components") {
    val be = bandedState(docs).cache()
    val starred = bucketSplit(be)
    val pairwise = split(
      be.as("a").join(be.as("b"),
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b")))
    // The star transform (min member → others) must have exactly the
    // clique's transitive closure: every doc in a shared bucket carries
    // the same min-doc component label under both constructions. Docs
    // only in singleton buckets are absent from both maps.
    assert(pairwise.nonEmpty, "test corpus must produce shared buckets")
    assert(starred == pairwise,
      s"star/pairwise disagree: ${(starred.toSet diff pairwise.toSet).take(5)}")
    be.unpersist()
  }

  test("exact split groups refine into banded split groups on the planted corpus") {
    // NOT a theorem (band recall is probabilistic: pair miss prob at
    // J ≥ 0.8 is ≤ (1−0.8²)¹⁶ ≈ 8.7e−8) — but on the planted families
    // it must hold, and a band-geometry regression that dents recall
    // materially fails here.
    val exactLabels = split(
      TextDedup.ngramJaccardJoin(docs, "doc_id", "text", threshold = 0.8))
    val banded = bucketSplit(bandedState(docs))
    val byExact = exactLabels.groupBy(_._2).values
    for (grp <- byExact) {
      val bandedGrps = grp.keys.map(id => banded.getOrElse(id, id)).toSet
      assert(bandedGrps.size == 1,
        s"exact component ${grp.keys.toSeq.sorted} splits across banded components $bandedGrps")
    }
  }

  test("family members always share a side under the banded split") {
    val result = SparkEntry.queries("x_leakage_split_banded")(spark, sfDir)
    val sides = result.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(sides.values.toSet.subsetOf(Set("train", "heldout")))
    val d = graft.sources.Tables.documents(spark, sfDir)
    assert(sides.keySet == d.select("doc_id").as[Long].collect().toSet,
      "banded split must cover every document exactly once")
    val exact = TextDedup.ngramJaccardJoin(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(exact.nonEmpty, "sf0.001 corpus must contain near-dup pairs")
    exact.foreach { case (a, b) =>
      assert(sides(a) == sides(b), s"near-dups $a,$b split across banded sides")
    }
  }

  test("family members always share a side under the banded fast (xxhash64) split") {
    val result = SparkEntry.queries("x_leakage_split_banded_fast")(spark, sfDir)
    val sides = result.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(sides.values.toSet.subsetOf(Set("train", "heldout")))
    val d = graft.sources.Tables.documents(spark, sfDir)
    assert(sides.keySet == d.select("doc_id").as[Long].collect().toSet)
    val exact = TextDedup.ngramJaccardJoin(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    exact.foreach { case (a, b) =>
      assert(sides(a) == sides(b), s"near-dups $a,$b split across banded-fast sides")
    }
  }

  test("identical short docs (<3 tokens) share a banded component") {
    // The r8 gap: MinHashLsh.portableShingles DROPPED <3-token docs, so
    // two copies of the same 2-token doc were singletons keyed by their
    // own doc_ids and could land on opposite split sides — a
    // DETERMINISTIC integrity violation, not the 8.7e-8 band miss. The
    // short-doc rule (whole-text shingle, mirroring native wordShingles)
    // makes them share every band bucket; non-identical short docs must
    // NOT be forced together.
    val shorts = Seq(
      (1L, "hola mundo"), (2L, "hola mundo"),       // identical 2-token
      (3L, "uno"), (4L, "uno"),                     // identical 1-token
      (5L, "otra cosa"),                            // distinct 2-token
      (6L, "a b c d e f g h")                       // a normal doc
    ).toDF("doc_id", "text")
    val comps = bucketSplit(bandedState(shorts))
    assert(comps.get(1L).nonEmpty && comps.get(1L) == comps.get(2L),
      s"identical 2-token docs must share a component, got $comps")
    assert(comps.get(3L).nonEmpty && comps.get(3L) == comps.get(4L),
      s"identical 1-token docs must share a component, got $comps")
    assert(comps.getOrElse(5L, 5L) != comps.getOrElse(1L, 1L),
      "distinct short docs must not be merged")
  }

  test("exact-dup collapse: verified pairs and candidates match brute force on a dup-flooded corpus") {
    // r10 sf100 regression pin: 34 exact-dup families of 1000 docs
    // disk-killed the direct verify join (~17M foregone-conclusion
    // pairs, each shipping two shingle arrays). The collapse must leave
    // the output PAIR SET byte-identical — candidacy and Jaccard are
    // functions of the shingle sets alone — including families that mix
    // exact copies with near-dup edits, and identical short docs on the
    // whole-text-shingle path.
    def sentence(seed: Int, n: Int = 20): Array[String] =
      (0 until n).map(i => s"t${(seed * 37 + i * 11) % 89}_$i").toArray
    val rows = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val baseA = sentence(1)
    (0 until 8).foreach(i => rows += ((100L + i, baseA.mkString(" "))))
    (0 until 2).foreach { v =>
      val t = baseA.clone(); t(3 + v) = s"editA_$v"
      rows += ((110L + v, t.mkString(" ")))
    }
    val baseB = sentence(2)
    (0 until 5).foreach(i => rows += ((200L + i, baseB.mkString(" "))))
    rows += ((300L, "hola mundo")); rows += ((301L, "hola mundo"))
    rows += ((302L, "otra cosa"))
    (0 until 10).foreach(i => rows += ((400L + i, sentence(50 + i * 3).mkString(" "))))
    val d = rows.toSeq.toDF("doc_id", "text")

    // Brute force over the operator's OWN shingle sets (isolates the
    // join/collapse logic from shingle semantics).
    val sets = d.select(col("doc_id"),
        TextDedup.wordShingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, sh) => id -> sh.toSet }.sortBy(_._1)
    val brute = (for {
      Seq((ia, sa), (ib, sb)) <- sets.toSeq.combinations(2)
      inter = sa.intersect(sb).size
      j = inter.toDouble / (sa.size + sb.size - inter)
      if j >= 0.8
    } yield ((ia, ib), j)).toMap
    assert(brute.size >= 8 * 7 / 2 + 5 * 4 / 2 + 1,
      "corpus must flood: exact families + short twins expected")

    val got = TextDedup.ngramJaccardJoin(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(got.keySet == brute.keySet,
      s"collapse vs brute force: missing=${(brute.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- brute.keySet).take(5)}")
    for ((k, j) <- brute)
      assert(math.abs(got(k) - j) < 1e-12, s"jaccard mismatch at $k: ${got(k)} vs $j")

    val cands = TextDedup.ppjoinCandidates(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(brute.keySet.subsetOf(cands),
      s"collapsed candidates lost true pairs: ${(brute.keySet -- cands).take(5)}")

    // Candidate-level collapse ≡ direct: the collapsed path's weighted
    // df (Σ group size) must reproduce the FULL-CORPUS (df, shingle)
    // prefix order bit-exactly, so the candidate set — not just its
    // closure — matches the no-collapse join. This corpus is the
    // adversarial case: an 8-copy family drops shingle df from 10 to 3
    // under unweighted rep-only counting, which reorders prefixes and
    // perturbs candidacy (and the x_leakage_split_fast oracle replays
    // full-corpus df, so any divergence is an oracle mismatch).
    val directSets = d.select(col("doc_id").as("id"),
        TextDedup.wordShingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")))
      .withColumn("w", lit(1L))
    val directCands = TextDedup.ppjoinCandidatesFromSets(directSets, 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands == directCands,
      s"collapsed vs direct candidates: missing=${(directCands -- cands).take(5)} " +
        s"extra=${(cands -- directCands).take(5)}")

    // And collapsed ≡ direct end to end (same prepared sets, no collapse).
    val prepped = d.select(col("doc_id").as("id"),
        TextDedup.wordShingles(col("text"), 3).as("sh"))
      .withColumn("sz", size(col("sh")))
    val direct = TextDedup.verifiedJaccardPairs(prepped, 0.8)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(direct.keySet == got.keySet,
      "direct (no-collapse) pipeline disagrees with collapsed pipeline")

    // Both verify branches of the adaptive cutover must emit the SAME
    // pairs with bit-identical jaccard: force the pair-priced direct
    // verify (directMaxPairs = ∞) and the cluster-priced chunked verify
    // (directMaxPairs = 0) over the same sets and compare exactly.
    val viaDirect = TextDedup.verifiedJaccardPairs(prepped, 0.8,
        directMaxPairs = Long.MaxValue)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    val viaCluster = TextDedup.verifiedJaccardPairs(prepped, 0.8,
        directMaxPairs = 0L)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => ((a, b), j) }.toMap
    assert(viaDirect == viaCluster,
      s"adaptive verify branches diverge: onlyDirect=${(viaDirect.toSet -- viaCluster.toSet).take(5)} " +
        s"onlyCluster=${(viaCluster.toSet -- viaDirect.toSet).take(5)}")
  }

  test("family members always share a side under the fast split") {
    val result = SparkEntry.queries("x_leakage_split_fast")(spark, sfDir)
    val sides = result.select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(sides.values.toSet.subsetOf(Set("train", "heldout")))
    // Replay the exact near-dup pairs over the driver table and assert
    // side agreement pair-by-pair — the integrity contract itself.
    val d = graft.sources.Tables.documents(spark, sfDir)
    val exact = TextDedup.ngramJaccardJoin(d, "doc_id", "text", threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    exact.foreach { case (a, b) =>
      assert(sides(a) == sides(b), s"near-dups $a,$b split across sides")
    }
  }
}
