package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Audit
import graft.sources.Ingest

class EngineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("GraftSession factory registers the SQL surface on the active session") {
    // getOrCreate on an existing session cannot swap static confs, so
    // this covers the registration path only; the builder's conf block
    // is exercised for real by Bench/Verify/RunOne, which build their
    // sessions from GraftSession.builder.
    SparkTestSession.spark // force the shared session into existence first
    val s = GraftSession.getOrCreate()
    assert(s.sql("SELECT strip_accents('más') AS x").head().getString(0) == "mas")
  }

  test("SQL functions registered via GraftExtensions builders") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT strip_accents('canción') AS sa,
                uuid5('https://graft.dev/test', 'a|b') AS u5,
                simhash('a b c') AS sh,
                shingles('a b c d', 3) AS sg,
                minhash_sig(shingles('a b c d', 3), 4) AS ms,
                vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd,
                nfc_normalize('café') AS nfc
      """).head()
    assert(r.getAs[String]("sa") == "cancion")
    assert(r.getAs[String]("nfc") == "café")
    assert(r.getAs[String]("u5") == "58b14cc9-7d40-5f55-bbd6-1f9bd52e547f")
    assert(r.getSeq[String](r.fieldIndex("sg")).toSeq == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](r.fieldIndex("ms")).length == 4)
    assert(r.getAs[Double]("vd") == 11.0)
  }

  test("SQL surface: scalar chunkers/tokenizers and custom aggregates") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT tokens(' A  b\tC ') AS tk,
                norm_token_count(' A  b\tC ') AS ntc,
                cdc_chunks(repeat('xyz ', 64)) AS cc,
                pair_combos(array(named_struct('id', 1L, 'sz', 2),
                                  named_struct('id', 2L, 'sz', 3))) AS pc,
                substr_windows('a b c d', 3) AS sw
      """).head()
    assert(r.getSeq[String](r.fieldIndex("tk")).toSeq == Seq("a", "b", "c"))
    assert(r.getAs[Long]("ntc") == 3L)
    // chunks must concatenate losslessly back to the input
    assert(r.getSeq[String](r.fieldIndex("cc")).mkString == "xyz " * 64)
    assert(r.getSeq[Row](r.fieldIndex("pc")).length == 1)
    assert(r.getSeq[String](r.fieldIndex("sw")).toSeq == Seq("a b c", "b c d"))

    // aggregates resolve through the registry and group correctly
    Seq(("a", 1.0, 10L), ("a", 3.0, 30L), ("b", 2.0, 20L))
      .toDF("g", "score", "payload").createOrReplaceTempView("agg_in")
    val top = spark.sql(
      "SELECT g, top_k_pairs(score, payload, 1) AS t FROM agg_in GROUP BY g ORDER BY g")
      .collect()
    assert(top.length == 2)
    assert(top(0).getSeq[Row](1).head.getLong(1) == 30L)
    val hh = spark.sql(
      "SELECT space_saving(g, 4) AS s FROM agg_in").head().getSeq[Row](0)
    assert(hh.map(x => x.getString(0) -> x.getLong(1)).toMap
      == Map("a" -> 2L, "b" -> 1L))
    val vm = spark.sql(
      """SELECT vec_min(v, 2) AS m FROM VALUES (array(3L, 9L)), (array(5L, 1L)) t(v)
      """).head().getSeq[Long](0)
    assert(vm.toSeq == Seq(3L, 1L))
  }

  test("incremental ingest: only new/modified files, state advances after save") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    val statePath = dir + "/state.properties"
    val cfg = Ingest.SourceCfg(format = "parquet", dir = dir, glob = "drop*")

    Seq((1, "a"), (2, "b")).toDF("id", "v")
      .coalesce(1).write.parquet(dir + "/drop1")
    // parquet dirs are directories; ingest matches files → use the part files
    val cfg2 = cfg.copy(glob = "drop*/part-*.parquet")

    val first = Ingest.extractUpdated(spark, cfg2, statePath)
    assert(first.isDefined)
    val (df1, st1) = first.get
    assert(df1.count() == 2)
    Ingest.saveState(spark, statePath, st1)

    // No new files → None
    assert(Ingest.extractUpdated(spark, cfg2, statePath).isEmpty)

    // New drop → only its rows
    Seq((3, "c")).toDF("id", "v").coalesce(1).write.parquet(dir + "/drop2")
    val second = Ingest.extractUpdated(spark, cfg2, statePath)
    assert(second.isDefined)
    assert(second.get._1.as[(Int, String)].collect().toSeq == Seq((3, "c")))
  }

  test("partitioned sink: hive layout, bounded files per partition, pruned reads") {
    val dir = Files.createTempDirectory("graft-sink").toString + "/t"
    val df = Seq.tabulate(1000)(i => (i.toLong, s"v$i", i % 4)).toDF("id", "v", "part")
    graft.sources.Sink.writePartitioned(df, dir, Seq("part"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1000)
    // Hive-style directories, one data file per partition (repartitioned).
    val d0 = new java.io.File(dir + "/part=0")
    assert(d0.isDirectory)
    assert(d0.listFiles().count(_.getName.endsWith(".parquet")) == 1)
    // Partition pruning reaches the scan.
    val plan = back.filter(col("part") === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(part"), s"no pruning:\n$plan")
    // Skew-spreading path must plan (salt materialized before repartition —
    // a raw nondeterministic expr in repartition() fails analysis).
    val dir2 = Files.createTempDirectory("graft-sink2").toString + "/t"
    graft.sources.Sink.writePartitioned(df, dir2, Seq("part"), bucketTasks = 8)
    assert(spark.read.parquet(dir2).count() == 1000)
    // 8 salts spread over the shuffle partitions → more than one writer
    // task (exact count depends on hash placement).
    assert(new java.io.File(dir2 + "/part=0").listFiles()
      .count(_.getName.endsWith(".parquet")) >= 2)
  }

  test("compaction: size-derived file count, atomic swap, content preserved") {
    val dir = Files.createTempDirectory("graft-compact").toString + "/ds"
    spark.range(2000).toDF("id").repartition(16).write.parquet(dir)
    def nFiles = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles == 16)
    val (nb, na, bytes) =
      graft.sources.Sink.compact(spark.read.parquet(dir), dir, 1L << 30)
    assert(nb == 16 && na == 1 && bytes > 0L)
    assert(nFiles == 1)
    // content survives the swap bit-for-bit
    assert(spark.read.parquet(dir).agg(sum(col("id"))).head().getLong(0)
      == 1999L * 2000 / 2)
    // idempotent: a compacted dataset re-compacts to itself
    val (nb2, na2, _) =
      graft.sources.Sink.compact(spark.read.parquet(dir), dir, 1L << 30)
    assert(nb2 == 1 && na2 == 1)
    // no working dirs left behind
    val parent = new java.io.File(dir).getParent
    assert(!new java.io.File(parent, ".ds.compact_tmp").exists())
    assert(!new java.io.File(parent, ".ds.compact_old").exists())
  }

  test("compaction of a hive-partitioned dataset: per-partition, reads intact") {
    val dir = Files.createTempDirectory("graft-compact-part").toString + "/ds"
    val df = Seq.tabulate(900)(i => (i.toLong, i % 3)).toDF("id", "part")
    df.repartition(6).write.partitionBy("part").parquet(dir)
    val results = graft.sources.Sink.compactPartitioned(spark, dir, 1L << 30)
    assert(results.length == 3 && results.forall(_._3 == 1))
    assert(results.forall { case (rel, nb, _) => rel.startsWith("part=") && nb > 1 })
    val back = spark.read.parquet(dir)
    assert(back.count() == 900)
    // partition columns still resolve from the directory layout
    assert(back.filter(col("part") === 1).count() == 300)
    assert(new java.io.File(dir + "/part=2").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
  }

  test("a leftover compaction working dir does not change what the partitioned root reads") {
    val dir = Files.createTempDirectory("graft-compact-left").toString + "/ds"
    Seq.tabulate(9)(i => (i.toLong, i % 3)).toDF("id", "part")
      .repartition(3).write.partitionBy("part").parquet(dir)
    def rows() = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    val want = rows()
    val root = new java.io.File(dir)
    val before = root.list().toSet
    // Compact one leaf while a watcher notes every name that appears in
    // the root: the working dirs are among them. They live for the whole
    // staging write job, far longer than one listing.
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val compacting = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() => while (compacting.get) root.list().foreach(seen.add))
    watcher.start()
    val leaf = dir + "/part=1"
    try graft.sources.Sink.compact(spark.read.parquet(leaf), leaf, 1L << 30)
    finally { compacting.set(false); watcher.join() }
    val working = seen.asScala.toSet -- before
    assert(working.nonEmpty, "the staging write made no dir in the root")
    // A crash after the staging write leaves a full copy of the leaf there.
    working.foreach(w => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(leaf), new java.io.File(root, w)))
    assert(rows() == want)
    assert(spark.read.parquet(dir).schema("part").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("artifact write emits an oversize manifest listing every part") {
    val dir = Files.createTempDirectory("graft-artifact").toString
    val df = spark.range(1000).toDF("id")
    // Generous cap → no manifest.
    val (bytes1, over1) = graft.sources.Sink.writeArtifact(df, dir + "/small", 100L << 20)
    assert(bytes1 > 0 && !over1)
    assert(!new java.io.File(dir + "/small/_manifest.json").exists())
    // 1-byte cap → manifest with every part and the true total.
    val (bytes2, over2) = graft.sources.Sink.writeArtifact(df, dir + "/big", 1L)
    assert(over2)
    val manifest = new String(java.nio.file.Files.readAllBytes(
      Paths.get(dir + "/big/_manifest.json")))
    assert(manifest.contains(s""""total_bytes":$bytes2"""))
    assert(manifest.contains("part-"))
    // The underscore prefix keeps the directory readable as parquet.
    assert(spark.read.parquet(dir + "/big").count() == 1000)
  }

  test("observe-based audit collects metrics during the main action, matching a direct agg") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.sources.Tables.events(spark, sfDir)
      .withColumn("maybe_null", when(col("value") > 50, col("value")))
    val (observed, obs) = Audit.observed(df)
    val dir = Files.createTempDirectory("graft-observe").toString
    observed.write.mode("overwrite").parquet(dir) // the "load" action
    val m = obs.get
    assert(m("rows_out") == df.count())
    val expNulls = df.filter(col("maybe_null").isNull).count()
    assert(m("nulls_maybe_null") == expNulls)
    assert(m("nulls_event_id") == 0L)
  }

  test("plans: filter pushdown and column pruning reach the parquet scan") {
    val sfDir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q1_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushdown in plan:\n$plan")
    // Projection: only the 7 needed columns, not all 11.
    assert(plan.contains("l_returnflag") && !plan.contains("l_partkey"),
      s"column pruning failed:\n$plan")
  }

  test("plans: dimension joins are broadcast, not shuffled") {
    val sfDir = "/root/testdata/sf0.001"
    val p3 = SparkEntry.queries("q3_shipping")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p3.contains("BroadcastHashJoin"), s"q3 lost its broadcast:\n$p3")
    val p5 = SparkEntry.queries("q5_local_supplier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p5.contains("BroadcastHashJoin"), s"q5 lost its broadcast:\n$p5")
    // The fact-side scan must not appear under a CartesianProduct anywhere.
    assert(!p3.contains("CartesianProduct") && !p5.contains("CartesianProduct"))
  }

  test("plans: TopKAgg runs as partial ObjectHashAggregate (map-side combine)") {
    val sfDir = "/root/testdata/sf0.001"
    val plan = SparkEntry.queries("q_topk_agg")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object hash agg:\n$plan")
    // partial_topkagg before the exchange = only k rows/group/partition shuffle
    assert(plan.contains("partial_topkagg"), s"no partial aggregation:\n$plan")
  }

  test("plans: new TPC-H shapes broadcast dims and avoid duplicate wide exchanges") {
    val sfDir = "/root/testdata/sf0.001"
    for (q <- Seq("q2_min_cost_supplier", "q8_market_share", "q16_supplier_cnt")) {
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin"), s"$q lost its dim broadcast:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    // q21: single repartition serves the agg, the window AND the join —
    // exactly one exchange on l_orderkey; the only other exchange is the
    // final tiny s_name aggregation.
    // Plain substring count: tree-prefix anchoring silently missed the
    // ':'-branch lines where the repartition exchange actually renders.
    val p21 = SparkEntry.queries("q21_waiting_supplier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p21).length
    assert(exchanges >= 1 && exchanges <= 2,
      s"q21 regained extra shuffles ($exchanges):\n$p21")
  }

  test("plans: round-3 curation ops keep their scale shape") {
    val sfDir = "/root/testdata/sf0.001"
    // docChunk is a pure narrow projection: explode + substr, NO shuffle.
    val chunk = SparkEntry.queries("x_doc_chunk")(spark, sfDir)
    // Strip the final presentation sort (driver output ordering): nothing
    // below it may exchange.
    val chunkPlan = chunk.queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange hashpartitioning"),
      s"docChunk gained a hash shuffle:\n$chunkPlan")
    // seqPack: the recursive prefix sum leaves exactly ONE single-
    // partition pass in the whole plan — the recursion-floor window over
    // ≤ bucketRows rows. A second SinglePartition exchange would mean an
    // unpartitioned window crept back over a data-sized frame.
    val pack = SparkEntry.queries("x_seq_pack")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val singles = "Exchange SinglePartition".r.findAllIn(pack).length
    assert(singles == 1,
      s"seqPack should have exactly 1 SinglePartition exchange (recursion floor), got $singles:\n$pack")
    // rarity: the vocabulary-sized tf table reaches the probe side as a
    // broadcast, never a shuffle join.
    val rar = SparkEntry.queries("x_rarity_score")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(rar.contains("BroadcastHashJoin"), s"rarity tf join not broadcast:\n$rar")
    // cosine-exact: corpus×queries is an explicit bounded broadcast
    // nested loop (10 query rows), not a shuffled cartesian.
    val cos = SparkEntry.queries("s_cosine_exact")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(cos.contains("BroadcastNestedLoopJoin") && !cos.contains("CartesianProduct"),
      s"cosine-exact lost its broadcast:\n$cos")
    // curation e2e: the dedup window is the ONLY exchange keyed on
    // document text (everything after the explode aggregates on
    // (source, doc_id) — a join-back on doc_id would add two more
    // text-free but data-sized exchanges), and Spark pushes a
    // WindowGroupLimit partial top-1 below the window shuffle.
    val e2e = SparkEntry.queries("x_curation_e2e")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!e2e.contains("SortMergeJoin") && !e2e.contains("BroadcastHashJoin"),
      s"curation e2e regained a join-back:\n$e2e")
    assert(e2e.contains("WindowGroupLimit"),
      s"dedup window lost its pushed partial top-1:\n$e2e")
    assert("Exchange hashpartitioning\\(clean".r.findAllIn(e2e).length == 1,
      s"expected exactly one text-keyed exchange:\n$e2e")
  }

  test("plans: runtime bloom filter prunes the probe side of a shuffled fact-fact join") {
    val sfDir = "/root/testdata/sf0.01"
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Force the shuffle-join path (runtime filters only help there) and
    // let the selective creation side qualify at test scale.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = graft.sources.Tables.lineitem(spark, sfDir)
      val ord = graft.sources.Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      val plan = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)))
        .queryExecution.executedPlan.toString
      // InjectRuntimeFilter builds a bloom from the filtered orders keys
      // and pushes might_contain into the lineitem scan stage — at 100 TB
      // that's the difference between shuffling all of lineitem and
      // shuffling only rows whose orderkey can match.
      assert(plan.contains("bloom_filter_agg") && plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("plans: AQE splits a skewed join partition at runtime") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // Force the sort-merge path and scale the skew thresholds to test
    // size (the detection RULE is identical at 100 TB: a partition
    // > factor × median and > threshold splits into advisory-sized
    // chunks joined against a replicated other side).
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    // Pin the partition count: the median-vs-hot math must not depend on
    // what another test left in the shared session.
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // The join feeds an aggregate, so splitting would add a shuffle and
    // the rule declines by default — force it, which is also the right
    // call when one straggler partition dominates the stage wall-clock.
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // 90% of the left side lands on one key → one shuffle partition
      // dwarfs the median.
      // High-entropy payload: shuffle blocks are compressed, and a
      // repetitive string would shrink the hot partition below the
      // detection threshold.
      val left = spark.range(0, 120000).select(
        when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        sha2(concat(lit("x"), col("id").cast("string")), 256).as("v"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        col("id").cast("string").as("w"))
      // matches: 108000 rows with k=0, plus k=id ∈ {10,20,…,990} (99)
      // and id=0 itself → 108100. collect() (NOT head(), which executes
      // a separate limited plan) finalizes THIS dataset's adaptive plan.
      // max(v) keeps the payload alive through the shuffle — count alone
      // would let column pruning strip it and deflate the hot partition
      // below the skew threshold.
      val j = left.join(right, "k")
        .groupBy().agg(count(lit(1)).as("n"), max(col("v")).as("mx"))
      assert(j.collect()(0).getLong(0) == 108100L)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"no skew split in final plan:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
      spark.conf.unset(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("plans: dynamic partition pruning reaches a hive-partitioned fact scan") {
    val dir = Files.createTempDirectory("graft-dpp").toString + "/t"
    val fact = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    graft.sources.Sink.writePartitioned(fact, dir, Seq("event_type"))
    // The dim must be a SCAN with a surviving Filter node — a local
    // relation constant-folds its filter away and DPP sees no selective
    // predicate to derive the pruning subquery from.
    val dimDir = Files.createTempDirectory("graft-dpp-dim").toString + "/dim"
    Seq(("click", 1), ("view", 2), ("purchase", 3), ("signup", 4))
      .toDF("event_type", "type_id").write.parquet(dimDir)
    // At test scale the stats-based benefit estimate rounds to zero —
    // force the ratio heuristic (real fact tables pass on stats alone).
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    val (joined, plan) =
      try {
        val j = spark.read.parquet(dir)
          .join(spark.read.parquet(dimDir).filter(col("type_id") === 1), Seq("event_type"))
          .groupBy("event_type").agg(count(lit(1)))
        (j, j.queryExecution.executedPlan.toString)
      } finally spark.conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    // The selective dim filter must reach the fact scan as a runtime
    // partition filter — at 100 TB this skips every non-matching
    // partition directory instead of scanning them.
    assert(plan.contains("dynamicpruning"), s"no dynamic partition pruning:\n$plan")
    assert(joined.collect().map(_.getString(0)).toSeq == Seq("click"))
  }

  test("plans: whole-stage codegen covers the transform pipeline projections") {
    val sfDir = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("t_norm_text")(spark, sfDir)
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan.toString
    // WholeStageCodegen stages render as "*(n)" prefixes in the plan tree.
    assert(plan.contains("*("), s"no codegen span:\n$plan")
  }
}
