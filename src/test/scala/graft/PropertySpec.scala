package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.normColname
import graft.operators.{ScaleJoins, Transform}

/** Property-based invariants over random inputs (scalacheck). Spark jobs
  * are expensive per case, so DataFrame properties run few, larger cases;
  * pure functions get the full default case count.
  */
class PropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Draw `n` samples from a scalacheck generator (no scalatest-plus
    * bridge in the dependency set — raw Gen + loop).
    */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("diffResources partitions the catalog: down ∪ unchanged == all, reasons align") {
    import graft.sources.Catalog
    import graft.sources.Catalog.ResourceMeta
    val genMeta = for {
      id <- Gen.choose(0, 19).map(i => s"r$i")
      url <- Gen.oneOf("u1", "u2", "u3")
      fmt <- Gen.oneOf("CSV", "XLSX", "")
      lm <- Gen.oneOf("", "2024-01-01T00:00:00Z", "2024-06-01T00:00:00Z")
      size <- Gen.choose(0L, 3L)
    } yield ResourceMeta(id, s"name-$id", url, fmt, lm, size)
    val genCase = for {
      cur0 <- Gen.listOfN(12, genMeta)
      prev0 <- Gen.listOfN(12, genMeta)
    } yield (cur0.distinctBy(_.id), prev0.distinctBy(_.id).map(m => m.id -> m).toMap)

    samples(genCase, 200).foreach { case (cur, prev) =>
      val (down, same, reasons) = Catalog.diffResources(cur, prev)
      // Partition: every current resource lands in exactly one bucket.
      assert((down ++ same).sortBy(_.id) == cur.sortBy(_.id))
      // Reasons: one per download, "new" iff absent from prev, field
      // names iff the fingerprint actually changed.
      assert(reasons.map(_.id) == down.map(_.id))
      reasons.zip(down).foreach { case (r, m) =>
        prev.get(m.id) match {
          case None => assert(r.reason == "new")
          case Some(old) =>
            assert(r.reason.nonEmpty && r.reason != "new")
            r.reason.split(",").foreach {
              case "last_modified" => assert(m.lastModified != old.lastModified)
              case "size" => assert(m.size != old.size)
              case "url" => assert(m.url != old.url)
              case "format" => assert(m.format != old.format)
              case other => fail(s"unknown reason field $other")
            }
        }
      }
      // Unchanged really means fingerprint-identical.
      same.foreach { m =>
        val old = prev(m.id)
        assert(m.lastModified == old.lastModified && m.size == old.size &&
          m.url == old.url && m.format == old.format)
      }
    }
  }

  test("normColname is idempotent and emits only [a-z0-9_]") {
    samples(Gen.asciiPrintableStr, 500).foreach { s =>
      val once = normColname(s)
      assert(normColname(once) == once, s"not idempotent on ${s.take(40)}")
      assert(once.matches("[a-z0-9_]*"), s"bad chars from ${s.take(40)}")
    }
  }

  test("tokenize equals normText+split on printable strings") {
    samples(Gen.listOfN(8, Gen.oneOf(Gen.alphaNumStr, Gen.const("  "),
        Gen.const("Canción"), Gen.const("\tÜber\n"))), 30).foreach { parts =>
      val s = parts.mkString(" ")
      val viaExpr = Seq(s).toDF("t")
        .select(split(graft.functions.normText(col("t")), " ").as("x"))
        .as[Seq[String]].head().filter(_.nonEmpty)
      val viaTokenize = graft.functions.SketchHash.tokenize(s).toSeq
      assert(viaTokenize == viaExpr, s"input=${s.take(60)}")
    }
  }

  private val rowsGen = Gen.listOfN(400,
    for {
      g <- Gen.chooseNum(0L, 5L)
      score <- Gen.oneOf(Gen.chooseNum(0, 50).map(_.toDouble), Gen.const(10.0))
      payload <- Gen.chooseNum(0L, 1000L)
    } yield (g, score, payload))

  test("repetition fractions match a brute-force model on random token streams") {
    // Random texts over a small vocabulary (to force real duplication).
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val genText = Gen.chooseNum(1, 60)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val texts = samples(genText, 60).distinct
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val nTok = graft.functions.normTokenCount(col("text")).cast("double")
    val got = df.select(col("doc_id"), col("text"),
        (lit(1.0) - size(graft.operators.TextDedup.wordShingles(col("text"), 1))
          .cast("double") / nTok).as("dup_token_frac"),
        when(nTok <= 1, lit(0.0))
          .otherwise(lit(1.0) - size(graft.operators.TextDedup.wordShingles(col("text"), 2))
            .cast("double") / (nTok - 1)).as("dup_2gram_frac"))
      .collect()
    got.foreach { r =>
      val toks = r.getString(1).split(" ").toSeq
      val expTok = 1.0 - toks.distinct.size.toDouble / toks.size
      val grams =
        if (toks.size <= 2) Seq(toks.mkString(" "))
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      val expGram =
        if (toks.size <= 1) 0.0 else 1.0 - grams.distinct.size.toDouble / (toks.size - 1)
      assert(math.abs(r.getDouble(2) - expTok) < 1e-9, s"token frac off for '${r.getString(1)}'")
      assert(math.abs(r.getDouble(3) - expGram) < 1e-9, s"2gram frac off for '${r.getString(1)}'")
    }
  }

  test("TopKAgg equals window row_number on random data with heavy ties") {
    samples(rowsGen, 5).foreach { rows =>
      {
        val df = rows.toDF("g", "score", "payload")
          .groupBy("g", "score", "payload").agg(count(lit(1)))
          .select("g", "score", "payload") // distinct payloads per (g,score)
        val viaAgg = ScaleJoins.topKPerGroup(df, Seq("g"), "score", "payload", k = 3)
          .select("g", "payload", "rk").as[(Long, Long, Int)].collect().toSet
        val w = Window.partitionBy(col("g")).orderBy(col("score").desc, col("payload"))
        val viaWindow = df.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 3)
          .select("g", "payload", "rk").as[(Long, Long, Int)].collect().toSet
        assert(viaAgg == viaWindow)
      }
    }
  }

  test("upsert is idempotent and last-writer-wins on random batches") {
    val batchGen = Gen.listOfN(100, Gen.zip(Gen.chooseNum(0L, 30L), Gen.alphaNumStr))
    samples(Gen.zip(batchGen, batchGen), 5).foreach { case (currentRows, updateRows) =>
      val current = Transform.dedupByKey(
        currentRows.toDF("k", "v"), Seq("k"), None, Seq("v"))
      val updates = Transform.dedupByKey(
        updateRows.toDF("k", "v"), Seq("k"), None, Seq("v"))
      val once = Transform.merge(Some(current), Seq(updates), Seq("k"))
      val twice = Transform.merge(Some(once), Seq(updates), Seq("k"))
      // Idempotent: re-applying the same updates changes nothing.
      assert(twice.except(once).count() == 0 && once.except(twice).count() == 0)
      // Updates win: every update key carries the update's value.
      val updMap = updates.as[(Long, String)].collect().toMap
      val onceMap = once.as[(Long, String)].collect().toMap
      updMap.foreach { case (k, v) => assert(onceMap(k) == v) }
      // Non-updated current keys survive untouched.
      val curMap = current.as[(Long, String)].collect().toMap
      (curMap.keySet -- updMap.keySet).foreach(k => assert(onceMap(k) == curMap(k)))
    }
  }

  test("merging a raw batch equals merging its dedupByKey, stamped or not") {
    // 16 keys over few ts values (null too): in-batch duplicate keys, and
    // batch rows older than the current row of their key (stale
    // re-deliveries). `id` is unique per row, so a `latestBy` tie has
    // exactly one tie-break winner.
    val rowGen = Gen.zip(Gen.chooseNum(0L, 15L),
      Gen.frequency(9 -> Gen.chooseNum(0L, 4L).map(Option(_)), 1 -> Gen.const(None)),
      Gen.alphaNumStr)
    def frame(rows: Seq[(Long, Option[Long], String)], tag: String) =
      rows.zipWithIndex.map { case ((k, ts, v), i) => (k, ts, f"$tag$i%03d", v) }
        .toDF("k", "ts", "id", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val cases = Gen.zip(Gen.listOfN(30, rowGen), Gen.listOfN(40, rowGen),
      Gen.oneOf(true, false), Gen.oneOf(true, false))
    samples(cases, 8).foreach { case (curRows, rawRows, ordered, stamped) =>
      val keys = Seq("k")
      // Unordered: no latestBy or tieBreakers, where the pick falls back
      // to dedupByKey's arbitrary-but-stable row order.
      val (latestBy, tieBreakers) = if (ordered) (Some("ts"), Seq("id")) else (None, Nil)
      def stamp(n: Long) = if (stamped) Some(lit(n)) else None
      val raw = frame(rawRows, "r")
      val cur = Transform.merge(None, Seq(frame(curRows, "c")), keys, latestBy, tieBreakers,
        stamp(1L))
      val viaRaw = Transform.merge(Some(cur), Seq(raw), keys, latestBy, tieBreakers, stamp(2L))
      val viaDedup = Transform.merge(Some(cur),
        Seq(Transform.dedupByKey(raw, keys, latestBy, tieBreakers)),
        keys, latestBy, tieBreakers, stamp(2L))
      assert(rows(viaRaw) == rows(viaDedup), s"ordered=$ordered stamped=$stamped")
      // With no current table a merge is exactly the batch's dedup.
      if (!stamped) assert(rows(Transform.merge(None, Seq(raw), keys, latestBy, tieBreakers)) ==
        rows(Transform.dedupByKey(raw, keys, latestBy, tieBreakers)))
    }
  }

  test("applyChangelog matches a sequential map fold on random changelogs") {
    val chgGen = Gen.listOfN(120, for {
      k <- Gen.chooseNum(0L, 25L)
      v <- Gen.alphaNumStr
      op <- Gen.frequency(3 -> Gen.const("U"), 2 -> Gen.const("I"), 2 -> Gen.const("D"))
    } yield (k, v, op))
    val snapGen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(0L, 25L), Gen.alphaNumStr))
    samples(Gen.zip(snapGen, chgGen), 4).foreach { case (snapRows, chgRows) =>
      val snapshot = Transform.dedupByKey(snapRows.toDF("k", "v"), Seq("k"), None, Seq("v"))
      // seq gives each change a unique, total position.
      val chg = chgRows.zipWithIndex
        .map { case ((k, v, op), i) => (k, v, op, i.toLong) }
        .toDF("k", "v", "op", "seq")
      val got = Transform.applyChangelog(snapshot, chg, Seq("k"),
          opCol = "op", latestBy = Some("seq"))
        .as[(Long, String)].collect().toMap
      // Reference: fold the changelog over the snapshot map in order.
      val ref = chgRows.zipWithIndex.foldLeft(
        snapshot.as[(Long, String)].collect().toMap) {
        case (m, ((k, v, "D"), _)) => m - k
        case (m, ((k, v, _), _)) => m.updated(k, v)
      }
      assert(got == ref, s"changelog fold mismatch: got=${got.size} ref=${ref.size}")
    }
  }

  test("seqPack partitions the token stream: contiguous offsets, bins never overflow") {
    val docsGen = Gen.listOfN(60, Gen.chooseNum(1, 40))
    samples(Gen.zip(docsGen, Gen.chooseNum(8, 64)), 4).foreach { case (lens, cap) =>
      val docs = lens.zipWithIndex
        .map { case (n, i) => (i.toLong, Seq.fill(n)("w").mkString(" ")) }
        .toDF("doc_id", "text")
      val out = graft.operators.Pack.seqPack(docs, "doc_id", "text",
          capacity = cap, bucketRows = 7)
        .orderBy("doc_id")
        .as[(Long, Long, Long, Long, Long)].collect()
      // Reconstruct the stream: each doc starts where the previous ended.
      var cum = 0L
      out.foreach { case (id, nTok, bin, binOff, nBins) =>
        assert(bin == cum / cap && binOff == cum % cap, s"doc $id misplaced")
        val end = cum + nTok
        assert(nBins == (end - 1) / cap - cum / cap + 1, s"doc $id span wrong")
        cum = end
      }
      assert(cum == lens.map(_.toLong).sum)
    }
  }

  test("SpaceSaving bounds are sound on random skewed streams at any capacity") {
    val streamGen = for {
      nHot <- Gen.chooseNum(1, 3)
      hot <- Gen.listOfN(nHot, Gen.chooseNum(50, 150))
      tail <- Gen.listOfN(80, Gen.chooseNum(0, 30))
    } yield hot.zipWithIndex.flatMap { case (n, i) => Seq.fill(n)(s"hot$i") } ++
      tail.map(t => s"t$t")
    samples(Gen.zip(streamGen, Gen.chooseNum(4, 12)), 4).foreach { case (items, cap) =>
      val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val out = spark.sparkContext.parallelize(items, 6).toDF("tok")
        .agg(graft.functions.heavyHitters(col("tok"), cap).as("hh"))
        .select(explode(col("hh")).as("e"))
        .select("e.item", "e.count_hi", "e.count_lo")
        .as[(String, Long, Long)].collect()
      out.foreach { case (item, hi, lo) =>
        assert(lo <= exact(item) && exact(item) <= hi,
          s"cap=$cap $item: [$lo,$hi] excludes ${exact(item)}")
      }
      // Every true heavy hitter (count > n/cap) must be reported.
      val n = items.size
      exact.filter(_._2 > n.toLong / cap).keys.foreach { h =>
        assert(out.exists(_._1 == h), s"cap=$cap missed heavy hitter $h")
      }
    }
  }

  test("urlNormalize is idempotent over messy generated URLs") {
    import graft.operators.WebText
    val genUrl = for {
      scheme <- Gen.oneOf("http", "HTTP", "https", "HttpS", "ftp")
      www <- Gen.oneOf("", "www.", "WWW.", "www.www.")
      host <- Gen.oneOf("Example.COM", "site.org", "h7.io")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.oneOf("", "/", "//a//b/./c/", "/x/y", "/x/")
      query <- Gen.oneOf("", "?b=2&a=1", "?utm_source=t&z=9&fbclid=k",
        "?utm_a=1&utm_b=2")
      frag <- Gen.oneOf("", "#frag")
    } yield s"$scheme://$www$host$port$path$query$frag"
    val urls = samples(genUrl, 120).distinct
    val once = urls.toDF("u").select(WebText.urlNormalize(col("u")).as("n"))
      .collect().map(_.getString(0))
    val twice = once.toSeq.toDF("u").select(WebText.urlNormalize(col("u")).as("n"))
      .collect().map(_.getString(0))
    once.zip(twice).zip(urls).foreach { case ((a, b), raw) =>
      assert(a == b, s"not idempotent for $raw: $a -> $b")
    }
  }

  test("stripBoilerplateLines: identity above corpus size, annihilation at 1") {
    import graft.operators.WebText
    val genDoc = Gen.listOfN(3, Gen.oneOf("alpha", "beta b", "gamma", "common"))
      .map(_.mkString("\n"))
    val docs = samples(genDoc, 12).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val identity = WebText.stripBoilerplateLines(docs, "id", "text",
        minDocs = 1000L)
      .join(docs, "id").collect()
    identity.foreach { r =>
      assert(r.getAs[String]("clean_text") == r.getAs[String]("text"))
      assert(r.getAs[Long]("n_dropped") == 0L)
    }
    val nothing = WebText.stripBoilerplateLines(docs, "id", "text", minDocs = 1L)
      .collect()
    nothing.foreach { r =>
      assert(r.getAs[String]("clean_text") == "")
      assert(r.getAs[Long]("n_kept") == 0L)
    }
  }
}
