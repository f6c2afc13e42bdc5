package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftBridge

/** Dev probe: decompose sharedShingleCounts' hot stage (the posting
  * collect_set -> PairCombos -> pair agg) into timed pieces to find
  * where the CPU actually goes. Measurement tooling only (the RunOne
  * class); not part of the library surface.
  */
object ShinglePipeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.harness(cpus)
    import graft.sources.Tables

    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-40s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
      r
    }

    val docs = Tables.documents(spark, sfDir)
    val sets = graft.operators.Materialize(
      docs.repartition(cpus, col("doc_id"))
        .select(col("doc_id").as("id"),
          graft.operators.TextDedup.wordShingles(col("text"), 3).as("sh"))
        .withColumn("sz", size(col("sh"))))
    time("warm sets count")(sets.count())

    val ex = sets.select(col("id"), col("sz"), explode(col("sh")).as("shingle"))
      .repartition(cpus, col("shingle"))
    val hot = ex.groupBy("shingle").agg(count(lit(1)).as("df_"))
      .filter(col("df_") > 200).select("shingle")
    val cut = ex.join(hot, Seq("shingle"), "left_anti")

    // Piece A: the exploded+cut frame alone
    for (i <- 1 to 2) time(s"A explode+anticut count ($i)")(cut.count())

    // Piece B: + collect_set (no sort_array)
    val postRaw = cut.groupBy("shingle")
      .agg(collect_set(struct(col("id"), col("sz"))).as("docs"))
      .filter(size(col("docs")) >= 2)
    for (i <- 1 to 2) time(s"B +collect_set ($i)")(postRaw.count())

    // C: + sort_array
    val postings = cut.groupBy("shingle")
      .agg(sort_array(collect_set(struct(col("id"), col("sz")))).as("docs"))
      .filter(size(col("docs")) >= 2)
    for (i <- 1 to 2) time(s"C +sort_array ($i)")(postings.count())

    // C2: collect_list instead of collect_set
    val postList = cut.groupBy("shingle")
      .agg(sort_array(collect_list(struct(col("id"), col("sz")))).as("docs"))
      .filter(size(col("docs")) >= 2)
    for (i <- 1 to 2) time(s"C2 collect_list ($i)")(postList.count())

    // D: + PairCombos explode (count pairs only)
    val pairs = postings.select(explode(GraftBridge.column(
      graft.functions.PairCombos(GraftBridge.expression(col("docs"))))).as("p"))
    for (i <- 1 to 2) time(s"D +paircombos count ($i)")(pairs.count())

    // E: + pair agg
    val agg = pairs.groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("shared"),
        first(col("p.sz_a")).as("sz_a"), first(col("p.sz_b")).as("sz_b"))
    for (i <- 1 to 2) time(s"E +pair agg ($i)")(agg.count())

    spark.stop()
  }
}
