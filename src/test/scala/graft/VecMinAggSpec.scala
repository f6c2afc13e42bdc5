package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VecMinAgg — elementwise-min signature aggregation (used by
  * MinHashLsh.portableMinhashSig): equals the posexplode + min +
  * reassemble shape, survives multi-partition merge, ignores null rows.
  */
class VecMinAggSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("vecMin equals posexplode + min groupBy + ordered reassembly") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 400).map { i =>
      (i % 13).toLong -> Array.fill(8)(rnd.nextLong())
    }
    val df = rows.toDF("g", "v").repartition(16, col("g") + col("v")(0))
    val got = df.groupBy("g").agg(graft.functions.vecMin(col("v"), 8).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val want = rows.groupBy(_._1).view.mapValues(
      _.map(_._2).reduce((a, b) => a.zip(b).map(t => math.min(t._1, t._2))).toSeq).toMap
    assert(got == want)
  }

  test("null input rows are ignored like built-in aggregates") {
    val df = Seq(
      (1L, Some(Seq(5L, 9L))), (1L, None), (1L, Some(Seq(7L, 3L))))
      .toDF("g", "v")
    val out = df.groupBy("g")
      .agg(graft.functions.vecMin(col("v"), 2).as("sig"))
      .as[(Long, Seq[Long])].head()
    assert(out == ((1L, Seq(5L, 3L))))
  }

  test("width mismatch is a loud failure, not silent truncation") {
    val df = Seq((1L, Seq(1L, 2L, 3L))).toDF("g", "v")
    val e = intercept[Exception] {
      df.groupBy("g").agg(graft.functions.vecMin(col("v"), 8)).collect()
    }
    assert(e.getMessage != null)
  }
}
