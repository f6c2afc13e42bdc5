package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSession

/** Loads the classes benchmark runs share, so that the JVM running this
  * can archive them for class-data sharing (`run.py` starts it once per
  * build with `-XX:ArchiveClassesAtExit`, and every run maps the archive):
  * a session, parquet writes and reads, aggregates, a window, joins and
  * one AvailableNow micro-batch. It calls no graft operator, so the
  * archive does not depend on the code a workload measures.
  *
  * {{{
  * perfbench.Prime <scratch dir>
  * }}}
  */
object Prime {
  def main(args: Array[String]): Unit = {
    val dir = Path.of(args(0)).toAbsolutePath
    Files.deleteRec(dir)
    val spark = GraftSession.harness(Runtime.getRuntime.availableProcessors)
    try {
      val events = Inputs.events(spark, 1L, 2000L)
        .withColumn("key", pmod(xxhash64(col("event_id")), lit(50L)))
        .withColumn("sig", sha2(col("props"), 256))
      val src = dir.resolve("src").toString
      events.repartition(4).write.parquet(src)
      val read = spark.read.parquet(src)
      val latest = read.withColumn("rn",
        row_number().over(Window.partitionBy(col("key")).orderBy(col("ts").desc)))
        .filter(col("rn") === 1)
      val words = read.select(col("event_id"), split(col("props"), " ").as("w"))
      val joined = latest.join(words, "event_id")
        .select(col("key"), size(array_intersect(col("w"), col("w"))).as("n"))
        .groupBy(col("key")).agg(count(lit(1)), sum(col("n")), countDistinct(col("n")))
      joined.write.parquet(dir.resolve("out").toString)
      Files.fingerprint(read, read.columns.toSeq)
      val q = spark.readStream.schema(read.schema).parquet(src)
        .writeStream.option("checkpointLocation", dir.resolve("ckpt").toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, id: Long) =>
          b.write.mode("append").parquet(dir.resolve("sink").toString)
        }.start()
      q.awaitTermination()
    } finally spark.stop()
    Files.deleteRec(dir)
  }
}
