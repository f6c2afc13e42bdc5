package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Turns near-duplicate candidate PAIRS into a dedup DECISION: connected
  * components over the pair graph, then one survivor per component
  * (min id — deterministic).
  *
  * The distributed path runs alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond" — public): large-star hangs every larger neighbor of a node
  * onto its minimum neighborhood id, small-star re-hangs the smaller
  * ones, and the edge set converges to min-rooted stars in O(log²·n)
  * rounds regardless of graph DIAMETER (min-label propagation needs
  * O(diameter) rounds — a 200-node path graph would blow any sane
  * iteration cap). Every phase is an agg + equi-join shuffling on vertex
  * id. Hitting the iteration cap without convergence THROWS rather than
  * silently splitting components; intermediate frames are persisted and
  * freed per round (mandatory for any DataFrame loop — otherwise lineage
  * grows without bound and replans every round).
  */
object DedupResolve {

  /** Connected components over a BUCKET-MEMBERSHIP frame (`id`,
    * `bucket`): all ids sharing a bucket land in one component, without
    * ever generating within-bucket PAIRS. Each bucket is contracted to
    * a STAR — edges (min id of the bucket → other members) — which has
    * the same transitive closure as the bucket clique (every member
    * reaches every other through the minimum), so a flood bucket of n
    * rows costs n−1 edges, not n²/2. This is the scale shape for every
    * LSH-band / fingerprint-bucket grouping consumer that needs GROUPS
    * rather than scored pairs (e.g. the banded leakage split): at sf10
    * the bipartite doc→bucket-node alternative left a 6M-vertex graph
    * that star contraction ground through in 131 s; the bucket-star
    * transform solves the same components in 24 s (2.5M doc-only
    * edges, r8 measurement). Ids absent from every shared bucket are
    * singletons and simply don't appear in the output (the usual
    * coalesce-to-self contract downstream).
    */
  def bucketComponents(membership: DataFrame, idCol: String = "id",
      bucketCol: String = "bucket"): DataFrame = {
    // Materialized: the membership frame feeds BOTH sides of the
    // min-per-bucket join below, and upstream is typically the expensive
    // part (a 32-way minhash projection for the banded splits) — without
    // this an unmaterialized pipeline evaluates twice (the
    // x_leakage_split_banded_fast path measured exactly that).
    val m = Materialize(
      membership.select(col(idCol).as("id"), col(bucketCol).as("bucket")))
    val starEdges = m
      .join(m.groupBy("bucket").agg(min(col("id")).as("id_a")), "bucket")
      .filter(col("id_a") =!= col("id"))
      .select(col("id_a"), col("id").as("id_b"))
      // Distinct BEFORE the driver-vs-distributed probe: the same
      // (min, member) edge repeats once per shared band, and the raw
      // multiplicity is what pushes mid-size graphs past the driver
      // union-find threshold.
      .distinct()
    connectedComponents(starEdges)
  }

  /** labels(id → component) for every vertex present in `pairs`
    * (columns id_a, id_b). Component id = min vertex id in the component.
    *
    * Adaptive: candidate-pair graphs are usually tiny relative to the
    * corpus (that is the point of LSH); below `driverThreshold` edges the
    * graph is solved with driver-side union-find in one collect instead of
    * O(log n) distributed rounds of join+agg jobs (measured ~0.5 s of
    * scheduler overhead per round). Above it, alternating large-star/
    * small-star rounds ([[starComponents]], diameter-independent) run
    * distributed.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // Persist + exact count: BOTH branches consume every pair (driver
    // collect or distributed edge build), and upstream pair generation is
    // typically an expensive sketch join — without the cache the probe
    // and the consumer each run that pipeline in full (measured 2x).
    // Thresholds are capped below Int.MaxValue so the driver collect
    // stays representable.
    val cached = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    try {
    val effThreshold = math.min(driverThreshold, Int.MaxValue.toLong - 1L)
    // ONE probe action, not count-then-collect: fetch up to threshold+1
    // edges directly — the common (tiny-graph) case pays a single job
    // over the expensive pair pipeline instead of two (measured 1.95 s →
    // 1.49 s on the registered d_dedup_resolve at sf0.1).
    val probe = cached.select(col("id_a"), col("id_b"))
      .limit((effThreshold + 1L).toInt).collect()
    if (probe.length <= effThreshold) {
      // Generic over the id type (numeric, string, ...) — same contract as
      // the distributed path, which never casts either.
      val idType = pairs.schema("id_a").dataType
      val edges = probe.map(r => (r.get(0), r.get(1)))
      cached.unpersist()
      def lt(a: Any, b: Any): Boolean =
        a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
      val parent = scala.collection.mutable.Map.empty[Any, Any]
      def find(x: Any): Any = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { val (lo, hi) = if (lt(ra, rb)) (ra, rb) else (rb, ra); parent(hi) = lo }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("label", idType)))
      val rows = parent.keys.toSeq
        .map(v => org.apache.spark.sql.Row(v, find(v)))
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    } else starComponents(cached, maxIter, inputPersisted = true)
    } catch {
      // Don't leak the cache when the collect OOMs or a checkpoint job
      // fails mid-flight (unpersisting twice is a harmless no-op).
      case t: Throwable => cached.unpersist(); throw t
    }
  }

  /** Alternating star contraction → (id, label) with label = component's
    * min id. Public so high-diameter graphs can skip the driver probe.
    * When `inputPersisted`, `pairs` is released once the projected pair
    * set is materialized.
    *
    * The pair pipeline is evaluated exactly ONCE: the two-column
    * projection is checkpointed up front and vertices + the canonical
    * edge set both derive from it. (This replaces r5's negative result —
    * "checkpointing pairs measured slower at sf0.1, 6.2 → 7.6 s" —
    * which didn't survive scale: the r9 sf10 profile showed the
    * contraction itself converging in 2 rounds / ~3 s while the TWO
    * separate evaluations of the exact-Jaccard pair pipeline cost
    * 2 × ~34 s of the query's 71.7 s. The projection checkpoint is pair-
    * graph-sized — small by LSH construction — and turns the second
    * evaluation into a block read; 71.7 → 33.4 s measured at sf10.)
    */
  def starComponents(pairs: DataFrame, maxIter: Int = 20,
      inputPersisted: Boolean = false): DataFrame = {
    // ONE evaluation of the (typically expensive) upstream pair pipeline.
    val canon = pairs
      .select(col("id_a").as("u"), col("id_b").as("v"))
      .localCheckpoint(true)
    if (inputPersisted) pairs.unpersist()
    // Every vertex in the input keeps a label, even one appearing only in
    // self-loop pairs — the contract the driver union-find path has.
    // Lazy (no checkpoint): consumed once by the final label join, and
    // its lineage is one distinct over the checkpointed projection.
    val vertices = canon.select(col("u").as("id"))
      .union(canon.select(col("v").as("id")))
      .distinct()
    // Canonical undirected edge set, self-loops dropped. Each round ends
    // in an EAGER localCheckpoint: persist alone keeps the compounding
    // logical plan (two joins + three distincts per round nest into a
    // tree that OOMs just rendering explain strings after ~10 rounds);
    // the checkpoint truncates lineage to the materialized blocks, and
    // the ContextCleaner frees rounds no longer referenced.
    var edges = canon
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    // Edge-set fingerprint for convergence: count + two independent hash
    // sums (order-insensitive; a collision would need both seeded sums to
    // collide at equal cardinality).
    def fingerprint(e: DataFrame): (Long, String, String) = {
      // Decimal sums: exact and order-insensitive; raw long sums would
      // overflow under ANSI mode.
      val r = e.agg(count(lit(1)),
        sum(xxhash64(col("u"), col("v")).cast("decimal(28,0)")),
        sum(xxhash64(col("v"), col("u"), lit(7)).cast("decimal(28,0)"))).head()
      (r.getLong(0), String.valueOf(r.get(1)), String.valueOf(r.get(2)))
    }
    var sig = fingerprint(edges)

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // LARGE-STAR: every neighbor v > u hangs onto m = min(Γ(u) ∪ {u}).
      val dirL = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mnL = dirL.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val ls = dirL.join(mnL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), least(col("u"), col("mn")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // SMALL-STAR: direct big→small; all smaller neighbors (and u) hang
      // onto u's minimum smaller neighbor.
      val dirS = ls.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .distinct()
      val mnS = dirS.groupBy(col("u")).agg(min(col("v")).as("mn"))
      val joinedS = dirS.join(mnS, "u")
      val ss = joinedS.select(col("v").as("u"), col("mn").as("v"))
        .union(joinedS.select(col("u"), col("mn").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      val nsig = fingerprint(ss)
      edges = ss
      converged = nsig == sig
      sig = nsig
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxIter rounds; raise maxIter")
    // Converged edges are min-rooted stars: u → center v. Centers and
    // vertices absent from the contracted edges label themselves. Final
    // checkpoint detaches callers from the last round's blocks.
    vertices
      .join(edges.select(col("u").as("id"), col("v").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      .localCheckpoint(true)
  }

  /** Resolve candidate pairs into per-document decisions:
    * (id, component, keep) — keep=false means the row is a near-duplicate
    * of the component's survivor (min id). Documents absent from `pairs`
    * are implicit survivors.
    */
  def resolve(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .withColumn("keep", col("id") === col("label"))
      .select(col("id"), col("label").as("component"), col("keep"))

  /** Apply the decision: corpus minus non-survivors. One shuffle (the
    * left-anti join on id).
    */
  def dropDuplicates(corpus: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = resolve(pairs).filter(!col("keep")).select(col("id"))
    corpus.join(losers, corpus(idCol) === losers("id"), "left_anti")
  }
}
