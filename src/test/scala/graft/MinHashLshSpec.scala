package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MinHashLsh

/** Boundary behaviour of the MinHash-LSH kernels on hand-built inputs:
  * the occupancy cap's edges, pair dedup across bands, agreement and
  * the pb key.
  */
class MinHashLshSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val bucket = Seq("band", "key")

  // (id, band, key) postings, maxBucket = 3: bucket (0,10) holds exactly
  // 3 ids, (0,20) holds 4, (0,30) is a singleton, and ids 9 and 10
  // collide in two bands (10 listed first, so id order is not input
  // order).
  private def postings = Seq(
    (1L, 0, 10L), (2L, 0, 10L), (3L, 0, 10L),
    (4L, 0, 20L), (5L, 0, 20L), (6L, 0, 20L), (7L, 0, 20L),
    (8L, 0, 30L),
    (10L, 0, 40L), (9L, 0, 40L), (10L, 1, 40L), (9L, 1, 40L)
  ).toDF("id", "band", "key")

  private def pairs(maxBucket: Option[Int]): Seq[(Long, Long)] =
    MinHashLsh.bandPairs(postings, "id", bucket, maxBucket)
      .as[(Long, Long)].collect().toSeq.sorted

  test("bandPairs: a bucket of exactly maxBucket pairs, maxBucket + 1 and " +
      "singletons do not, a two-band collision is emitted once as id_a < id_b") {
    assert(pairs(Some(3)) == Seq((1L, 2L), (1L, 3L), (2L, 3L), (9L, 10L)))
  }

  test("bandPairs without a cap pairs every bucket, singletons still alone") {
    val full = (for (a <- 4L to 7L; b <- a + 1 to 7L) yield (a, b)) ++
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (9L, 10L))
    assert(pairs(None) == full.sorted)
  }

  test("capBuckets keeps buckets of at most maxBucket rows, singletons included") {
    val kept = MinHashLsh.capBuckets(postings, bucket, 3)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    assert(kept.map(_._1) == Set(1L, 2L, 3L, 8L, 9L, 10L))
    assert(kept.size == 8)
  }

  test("agreement counts equal positions of two signatures") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, 9L, 3L, 9L, 5L)),
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(1L, 2L, 3L, 4L, 5L)),
      (Seq(1L, 2L, 3L, 4L, 5L), Seq(5L, 4L, 9L, 2L, 1L))
    ).toDF("a", "b")
    assert(df.select(MinHashLsh.agreement(col("a"), col("b")))
      .as[Int].collect().toSeq == Seq(3, 5, 0))
  }

  test("pb is band·keyBuckets + (key mod keyBuckets), non-negative for negative keys") {
    val df = Seq((0, 5L), (2, -1L), (3, 8L)).toDF("band", "key")
    assert(df.select(MinHashLsh.pb(col("band"), col("key"), 4))
      .as[Int].collect().toSeq == Seq(1, 11, 12))
  }

  // incrementalPairs at maxBucket = 3, (id, band, key) postings of a batch
  // and of the standing corpus: (0,10) holds exactly 3 with an old member;
  // (0,20) holds 4, one fresh; (0,30) is old-only; (0,40) and (1,40) hold
  // the same two fresh ids, listed out of order; (0,50) has id 14 on both
  // sides; (0,60) is a fresh singleton; (0,70) pairs a fresh id above an
  // old one.
  private def fresh = Seq((1L, 0, 10L), (2L, 0, 10L), (4L, 0, 20L), (12L, 0, 40L),
    (11L, 0, 40L), (12L, 1, 40L), (11L, 1, 40L), (14L, 0, 50L), (15L, 0, 60L),
    (20L, 0, 70L)).toDF("id", "band", "key")
  private def standing = Seq((3L, 0, 10L), (5L, 0, 20L), (6L, 0, 20L), (7L, 0, 20L),
    (8L, 0, 30L), (9L, 0, 30L), (14L, 0, 50L), (13L, 0, 50L), (16L, 0, 70L))
    .toDF("id", "band", "key")

  test("incrementalPairs: a bucket of exactly maxBucket pairs across the batch " +
      "boundary, maxBucket + 1 does not, old-only buckets and singletons emit " +
      "nothing, an id on both sides never pairs with itself") {
    val got = MinHashLsh.incrementalPairs(fresh, standing, "id", bucket, 3)
      .select("band", "key", "id_a", "id_b").as[(Int, Long, Long, Long)]
      .collect().toSeq.sorted
    assert(got == Seq((0, 10L, 1L, 2L), (0, 10L, 1L, 3L), (0, 10L, 2L, 3L),
      (0, 40L, 11L, 12L), (0, 50L, 13L, 14L), (0, 70L, 16L, 20L), (1, 40L, 11L, 12L)))
  }

  test("incrementalPairs == the join formulation (new×new ∪ new×old ⋈ occupancy " +
      "≤ cap) on random postings with distinct ids per side") {
    val rnd = new scala.util.Random(7)
    // 60 fresh and 200 standing ids over 3 bands × 80 keys: buckets of every
    // occupancy around the cap of 4.
    def postings(ids: Range) = ids.flatMap(id =>
      (0 until 3).map(b => (id.toLong, b, rnd.nextInt(80).toLong))).toDF("id", "band", "key")
    val (f, o) = (postings(0 until 60), postings(1000 until 1200))
    val occOk = f.unionByName(o).groupBy("band", "key").agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= 4).select("band", "key")
    val nn = f.toDF("id_a", "band", "key").join(f.toDF("id_b", "band", "key"), bucket)
      .filter(col("id_a") < col("id_b"))
    val no = f.toDF("x", "band", "key").join(o.toDF("y", "band", "key"), bucket)
      .select(col("band"), col("key"), least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"))
    val want = nn.select("band", "key", "id_a", "id_b").unionByName(no)
      .join(occOk, bucket).distinct()
      .select("band", "key", "id_a", "id_b").as[(Int, Long, Long, Long)].collect().toSeq.sorted
    val got = MinHashLsh.incrementalPairs(f, o, "id", bucket, 4)
      .select("band", "key", "id_a", "id_b").as[(Int, Long, Long, Long)].collect().toSeq.sorted
    assert(got == want && got.nonEmpty)
  }
}
