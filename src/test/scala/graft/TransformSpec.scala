package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config._
import graft.functions.{normText, stripAccents, uuid5, normColname}
import graft.operators.{Transform, TransformHardFail}

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

class TransformSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("stripAccents matches NFKD-minus-marks semantics") {
    val out = Seq("canción", "Ñandú", "über", "plain", "café  olé")
      .toDF("s").select(stripAccents(col("s")).as("x")).as[String].collect()
    assert(out.toSeq == Seq("cancion", "Nandu", "uber", "plain", "cafe  ole"))
  }

  test("normText trims, lowers, strips accents, collapses whitespace") {
    val out = Seq("  Canción   DE  Prueba ", "a\tb\nc")
      .toDF("s").select(normText(col("s")).as("x")).as[String].collect()
    assert(out.toSeq == Seq("cancion de prueba", "a b c"))
  }

  test("normColname matches the reference's snake_case normalization") {
    assert(normColname("N NationKey ") == "n_nationkey")
    assert(normColname("Ñombre-Nación") == "nombre_nacion")
    assert(normColname("__Fecha Detención__") == "fecha_detencion")
    assert(normColname("a!!b??c") == "a_b_c")
  }

  test("uuid5 is byte-identical with Python uuid.uuid5 over the URL namespace") {
    // Expected values computed with CPython:
    //   ns = uuid.uuid5(uuid.NAMESPACE_URL, 'https://graft.dev/test')
    //   uuid.uuid5(ns, seed)
    val out = Seq("a|b", "", "canción|2024").toDF("s")
      .select(uuid5("https://graft.dev/test", col("s")).as("u")).as[String].collect()
    assert(out.toSeq == Seq(
      "58b14cc9-7d40-5f55-bbd6-1f9bd52e547f",
      "77c45a85-fc20-5848-92a9-65b034a9dd16",
      "494e2302-bed6-5b71-942a-24c8c2139c46"))
  }

  test("dedupByKey keeps exactly one deterministic row per key") {
    val df = Seq(
      (1L, "a", "2024-01-02 00:00:00", 10),
      (2L, "a", "2024-01-03 00:00:00", 20), // latest for key a
      (3L, "a", "2024-01-01 00:00:00", 30),
      (4L, "b", "2024-01-01 00:00:00", 40),
      (5L, "b", "2024-01-01 00:00:00", 50) // same ts: tie-break on id asc → 4
    ).toDF("id", "k", "ts", "v").withColumn("ts", col("ts").cast("timestamp"))
    val out = Transform.dedupByKey(df, Seq("k"), Some("ts"), Seq("id"))
      .orderBy("k").select("id").as[Long].collect()
    assert(out.toSeq == Seq(2L, 4L))
  }

  test("upsert: updates replace current rows, new keys inserted, others kept") {
    val current = Seq((1, "old1"), (2, "old2")).toDF("k", "v")
    val updates = Seq((2, "new2"), (3, "new3")).toDF("k", "v")
    val out = Transform.merge(Some(current), Seq(updates), Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "old1"), (2, "new2"), (3, "new3")))
  }

  test("upsert with latestBy: stale update cannot regress a newer current row") {
    val current = Seq((1, "new", "2026-06-01"), (2, "cur", "2020-01-01")).toDF("k", "v", "u")
    val stale = Seq((1, "old", "2020-01-01"), (2, "upd", "2026-01-01")).toDF("k", "v", "u")
    val out = Transform.merge(Some(current), Seq(stale), Seq("k"), latestBy = Some("u"))
      .orderBy("k").select("v").as[String].collect().toSeq
    assert(out == Seq("new", "upd")) // k=1 keeps newer current; k=2 takes newer update
  }

  test("stamped merge: inserted_at survives, updated_at moves on written keys") {
    // The reference's updated_at trigger semantics (sql/002 + sql/010):
    // batch 1 inserts k=1,2; batch 2 re-writes k=2 and inserts k=3.
    val init = Transform.merge(None,
      Seq(Seq((1, "a"), (2, "b")).toDF("k", "v")), Seq("k"), stamp = Some(lit(10L)))
    val cur = Transform.merge(Some(init),
      Seq(Seq((2, "b2"), (3, "c")).toDF("k", "v")), Seq("k"), stamp = Some(lit(20L)))
    val m = cur.orderBy("k").select("k", "v", "inserted_at", "updated_at")
      .as[(Int, String, Long, Long)].collect().toSeq
    assert(m == Seq(
      (1, "a", 10L, 10L),    // untouched: both stamps stable
      (2, "b2", 10L, 20L),   // re-written: inserted_at preserved, updated_at advanced
      (3, "c", 20L, 20L)))   // new key: both = merge stamp
    // Third merge re-delivers k=2 with the SAME payload: the trigger
    // fires on every executed UPDATE, so updated_at still advances.
    val m2 = Transform.merge(Some(cur),
      Seq(Seq((2, "b2")).toDF("k", "v")), Seq("k"), stamp = Some(lit(30L)))
      .orderBy("k").select("k", "inserted_at", "updated_at")
      .as[(Int, Long, Long)].collect().toSeq
    assert(m2 == Seq((1, 10L, 10L), (2, 10L, 30L), (3, 20L, 20L)))
  }

  test("stamped merge with latestBy: a rejected stale row leaves both stamps") {
    val cur = Transform.merge(None,
      Seq(Seq((1, "new", "2026-06-01")).toDF("k", "v", "u")), Seq("k"), stamp = Some(lit(5L)))
    val out = Transform.merge(Some(cur),
      Seq(Seq((1, "old", "2020-01-01")).toDF("k", "v", "u")),
      Seq("k"), latestBy = Some("u"), stamp = Some(lit(9L)))
      .select("v", "inserted_at", "updated_at")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("new", 5L, 5L)),
      "losing batch row must not refresh updated_at")
  }

  test("stamped merge rejects stamp columns in the updates payload") {
    val stamped = Transform.merge(None, Seq(Seq((1, "a")).toDF("k", "v")), Seq("k"),
      stamp = Some(lit(1L)))
    val e = intercept[IllegalArgumentException] {
      Transform.merge(Some(stamped), Seq(stamped), Seq("k"), stamp = Some(lit(2L)))
    }
    assert(e.getMessage.contains("payload"))
  }

  /** Hash exchanges in the final plan of `df`, after running it. */
  private def hashExchanges(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    df.collect()
    // AQE plan strings repeat the tree under "== Initial Plan ==" — count
    // exchanges only in the final section.
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    "Exchange hashpartitioning\\(\\w+".r.findAllIn(plan).toSeq
  }

  /** A 64-key parquet target (k, ts, v, kb) with kb the 8-way key bucket. */
  private def bucketedTarget(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-merge-$tag").toString + "/t"
    Seq.tabulate(64)(i => (i.toLong, 10L, s"v$i")).toDF("k", "ts", "v")
      .withColumn("kb", graft.sources.BucketedTable.bucketOf(Seq("k"), 8))
      .write.partitionBy("kb").parquet(dir)
    dir
  }

  // In-batch duplicate keys and a stale re-delivery: the raw batch the
  // sinks hand to merge.
  private def rawBatch = Seq((1L, 20L, "a"), (1L, 20L, "b"), (2L, 30L, "c"),
    (3L, 5L, "stale")).toDF("k", "ts", "v")

  test("kb-clustered merge of a pruned target and a raw batch: one exchange") {
    val batch = rawBatch.withColumn("kb", graft.sources.BucketedTable.bucketOf(Seq("k"), 8))
    val touched = batch.select("kb").distinct().as[Int].collect()
    val tgt = spark.read.parquet(bucketedTarget("kb"))
      .filter(col("kb").isin(touched.map(Int.box).toIndexedSeq: _*))
    val merged = Transform.merge(Some(tgt), Seq(batch), Seq("k"), latestBy = Some("ts"),
      tieBreakers = Seq("v"), clusterBy = Some(("kb", touched.length)))
    val ex = hashExchanges(merged)
    assert(ex == Seq("Exchange hashpartitioning(kb"), s"expected one kb exchange, got $ex")
  }

  test("raw-batch merge into a full target: one hash exchange, on the key") {
    val tgt = spark.read.parquet(bucketedTarget("full")).drop("kb")
    val merged = Transform.merge(Some(tgt), Seq(rawBatch), Seq("k"), latestBy = Some("ts"),
      tieBreakers = Seq("v"))
    val ex = hashExchanges(merged)
    assert(ex == Seq("Exchange hashpartitioning(k"), s"expected one k exchange, got $ex")
    val byK = merged.as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    assert(byK(1L) == "a" && byK(2L) == "c" && byK(3L) == "v3" && byK.size == 64)
  }

  test("pipeline hard-fails when a critical column is entirely null") {
    val df = Seq((1, null: String), (2, null: String)).toDF("id", "crit")
    val cfg = DatasetConfig(
      dataset = "t",
      order = Seq("id", "crit"),
      critical = CriticalCfg(all = Seq("crit")))
    val e = intercept[TransformHardFail](Transform.pipeline(df, cfg))
    assert(e.getMessage.contains("critical failure"))
  }

  test("pipeline hard-fails on missing expected column without padding") {
    val df = Seq((1, "x")).toDF("id", "a")
    val cfg = DatasetConfig(dataset = "t", order = Seq("id", "a", "gone"))
    val e = intercept[TransformHardFail](Transform.pipeline(df, cfg))
    assert(e.getMessage.contains("missing expected cols"))
  }

  test("pipeline pads missing expected column when padMissing is set") {
    val df = Seq((1, "x")).toDF("id", "a")
    val cfg = DatasetConfig(dataset = "t", padMissing = true, order = Seq("id", "a", "gone"))
    val out = Transform.pipeline(df, cfg)
    assert(out.columns.toSeq == Seq("business_key", "id", "a", "gone"))
    assert(out.select("gone").as[String].collect().toSeq == Seq(null))
  }

  test("recommended warnings mirror the reference: absent/all-null warn, populated don't") {
    // latitud/longitud entirely absent → the any_of advisory; nota present
    // but all-null → missing:nota; id populated → silent.
    val df = Seq((1, null: String), (2, null: String)).toDF("id", "nota")
    val warns = Transform.recommendedWarnings(df, Seq(
      Seq("latitud", "longitud"), Seq("nota"), Seq("id")))
    assert(warns == Seq("any_of_missing:latitud|longitud", "missing:nota"))
    // An any_of group with one populated member stays silent.
    assert(Transform.recommendedWarnings(df, Seq(Seq("nota", "id"))).isEmpty)
    // Precomputed counts (the Runner's observe path) bypass the scan.
    val pre = Transform.recommendedWarnings(df, Seq(Seq("nota"), Seq("id")),
      precomputed = Some(Map("id" -> 2L)))
    assert(pre == Seq("missing:nota"))
  }

  test("category rules: unmapped keeps original, out-of-domain coerces") {
    val df = Seq("M", "masculino", "x-other", "FEMENINO").toDF("sexo")
    val out = Transform.applyCategoryRules(df, Map("sexo" -> CategoryRule(
      map = Map("m" -> "Masculino", "masculino" -> "Masculino",
        "f" -> "Femenino", "femenino" -> "Femenino"),
      allowed = Seq("Masculino", "Femenino"),
      coerceTo = Some("Desconocido"))))
      .as[String].collect()
    assert(out.toSeq == Seq("Masculino", "Masculino", "Desconocido", "Femenino"))
  }

  test("category and numeric reports match the reference report semantics") {
    // "zzz" occurs TWICE: the count is of distinct out-of-domain VALUES
    // (reference len(sorted(set(...)))), not rows — must stay 1.
    val df = Seq(("m", "30"), ("masculino", "200"), ("zzz", "x"),
      ("zzz", "7"), ("F", null: String)).toDF("sexo", "edad")
    val catRep = Transform.categoryReport(df, Map("sexo" -> CategoryRule(
      map = Map("m" -> "Masculino", "masculino" -> "Masculino", "f" -> "Femenino"),
      allowed = Seq("Masculino", "Femenino"))))
      .head()
    assert(catRep.getAs[String]("column") == "sexo")
    assert(catRep.getAs[Long]("mapped_distinct") == 3) // Masculino, Femenino, zzz
    assert(catRep.getSeq[String](catRep.fieldIndex("out_of_domain_values")) == Seq("zzz"))
    assert(catRep.getAs[Long]("out_of_domain_count") == 1)

    val numRep = Transform.numericReport(df,
      Map("edad" -> NumericRule(min = Some(0), max = Some(120)))).head()
    assert(numRep.getAs[Long]("oob_count") == 1) // 200
    assert(numRep.getAs[Long]("na_count_before") == 2) // 'x' and null
    assert(numRep.getAs[Long]("na_count_after") == 3) // plus the coerced 200
  }

  test("extras packing keeps canonical cols and serializes the rest") {
    val df = Seq((1, "core", "e1", 7)).toDF("id", "keep", "x1", "x2")
    val out = Transform.packExtras(df, Set("id", "keep"), "extras")
    assert(out.columns.toSeq == Seq("id", "keep", "extras"))
    assert(out.select("extras").as[String].head() == """{"x1":"e1","x2":7}""")
  }

  test("incremental agg state equals one-shot recompute under any batch split") {
    import graft.operators.IncrementalAgg
    import graft.operators.IncrementalAgg.AggCol
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val aggs = Seq(
      AggCol("n", "count", lit(1)),
      AggCol("sum_v", "sum", col("value").cast("decimal(18,2)")),
      AggCol("min_v", "min", col("value")),
      AggCol("max_ts", "max", col("ts")))
    val stateDir = java.nio.file.Files
      .createTempDirectory("incragg").toString + "/state"
    // Uneven split (hash mod 4): batches of different sizes, some keys
    // absent from some batches.
    (0 until 4).foreach { i =>
      IncrementalAgg.updateParquet(
        ev.filter(abs(hash(col("event_id"))) % 4 === i),
        stateDir, Seq("user_id"), aggs)
    }
    val state = spark.read.parquet(stateDir)
      .select("user_id", "n", "sum_v", "min_v", "max_ts")
      .collect().map(_.toSeq).toSet
    val direct = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_v"),
        min(col("value")).as("min_v"),
        max(col("ts")).as("max_ts"))
      .select(col("user_id"), col("n"),
        col("sum_v").cast("decimal(38,2)"), col("min_v"), col("max_ts"))
      .collect().map(_.toSeq).toSet
    assert(state == direct)
  }
}
