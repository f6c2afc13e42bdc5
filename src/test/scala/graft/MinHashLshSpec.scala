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
}
