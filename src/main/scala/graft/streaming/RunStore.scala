package graft.streaming

import java.io.FileNotFoundException

import scala.util.matching.Regex

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.types.StructType

import graft.sources.Swap

/** The one run store behind every streaming sink target in [[StreamOps]]:
  * the LSH index's families and the increment sinks' counts and
  * admissions are all kept as marker-gated RUNS.
  *
  * A run covers batches `lo..hi` and is one directory per family,
  * `<family>_<lo>_<hi>`, plus the empty marker `cdone_<lo>_<hi>`, written
  * LAST ([[Target.write]]). A run is DONE iff its marker and every family
  * directory exist: a half-written run is invisible. It is VISIBLE iff done
  * and not strictly contained in another done run: a merge writes the wide
  * run's marker last, so the narrow runs flip invisible atomically with the
  * wide one appearing. Visible runs are disjoint; every reader reads them
  * and nothing else.
  *
  * Each batch `b` of a sink, in this order: [[Target.begin]] (adopt and
  * sweep from one listing, drop its own stale marker, the tiered merge
  * pass, the tiling check), then its own writes, its one-batch run last.
  * Every step is exists-then-act or an overwrite of a named directory, so a
  * crash anywhere leaves a state the next batch or read heals.
  *
  * CONCURRENCY: do not read a target with an ACTIVE sink. A merge sweeps
  * superseded runs after its marker lands, so a reader that resolved the
  * visible runs just before a merge can hit FileNotFoundException on the
  * swept paths mid-scan. Publish between stream stops (the AvailableNow
  * discipline every caller here uses), or retry on a fresh listing. This
  * holds for all five sinks on the store.
  */
private[graft] object RunStore {

  /** The batch range `lo..hi` of a run. */
  type Run = (Long, Long)

  /** The L0 unit and tier fanout of [[Target.begin]]'s merge pass unless a
    * sink passes its own (`lshPairsSink` does).
    */
  val CompactEvery = 8
  val TierFanout = 4

  /** One family of a sink's runs. `tail` is the per-batch directory prefix
    * earlier versions wrote (`<tail>_<i>`), adopted as run `i..i`. `schema`
    * is declared where the sink knows it, so no root costs a
    * schema-inference job; without one a read infers it. `fold` turns the
    * union of a merge window's runs into the merged run's rows: identity (a
    * union) for disjoint rows, a sum by key for distributive counts. With
    * `origin`, a one-batch run may leave that column out (it would only
    * repeat the batch id) and every read fills it with the run's `lo`; it
    * needs a `schema`.
    */
  final case class Family(name: String, tail: String,
      schema: Option[StructType] = None,
      fold: DataFrame => DataFrame = identity,
      origin: Option[String] = None)

  /** The fold of a count family: `value` summed per `keys`. */
  def sumBy(keys: String*)(value: String): DataFrame => DataFrame =
    _.groupBy(keys.map(col): _*).agg(sum(col(value)).as(value))

  /** Test/ops instrumentation: per (targetDir, batchId), how many runs came
    * before the batch, the roots `lshPairsSink` probes. StreamingSpec
    * asserts this stays within the tiered bound at any stream age. BOUNDED:
    * a ring of the most recent [[diagRing]] batches per targetDir.
    */
  private[graft] val diagRing = 256
  private[graft] val probeRoots =
    scala.collection.concurrent.TrieMap.empty[String, Vector[(Long, Int)]]

  /** Test/ops instrumentation for the tiered fold: per targetDir, the
    * cumulative BATCH-SPAN of all merge inputs (an L0 fold of compactEvery
    * one-batch runs adds compactEvery; a tier merge of runs covering s
    * batches adds s; a batch writing its own run adds nothing). Each
    * batch's rows are re-written once per tier they climb, so this sum is
    * O(N·log N) in stream age N. One counter per targetDir, not state.
    */
  private[graft] val foldSpans =
    scala.collection.concurrent.TrieMap.empty[String, Long]

  private val DoneRx = """^cdone_(\d+)_(\d+)$""".r
  private val StateRx = """^state_(\d+)$""".r

  /** One sink target directory holding `families`, all sharing one marker
    * per run. `sink` names the sink in errors. Cheap to build: nothing is
    * touched until a call. `fs` is the target's file system (a spec
    * overrides it to count calls).
    */
  class Target(spark: SparkSession, dir: String, sink: String,
      families: Seq[Family], compactEvery: Int = CompactEvery,
      fanout: Int = TierFanout) {
    private val root = new Path(dir)
    protected lazy val fs: FileSystem =
      root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Managed-name shapes. Anything NOT matching is a stranger (user temp
    // file, `_bak` copy) and is skipped by discovery and cleanup rather
    // than crashing the stream on a NumberFormatException.
    private def alt(part: Family => String) =
      families.map(f => Regex.quote(part(f))).mkString("|")
    private val TailRx = s"^(${alt(_.tail)})_(\\d+)$$".r
    private val RunRx = s"^(${alt(_.name)})_(\\d+)_(\\d+)$$".r
    private def runName(f: Family, r: Run) = s"${f.name}_${r._1}_${r._2}"
    private def marker(r: Run) = s"cdone_${r._1}_${r._2}"
    private def must(ok: Boolean, what: String) =
      Swap.must(ok, s"$sink: $what under $dir")

    /** A target lost while its checkpoint survived: not a cold start. */
    private def lost(what: String) = new IllegalStateException(
      s"$sink: $what under $dir — target lost while checkpoint survived; " +
        "wipe the checkpoint and replay")

    private def visibleOf(done: Seq[Run]): Seq[Run] =
      done.filterNot { case (lo, hi) =>
        done.exists { case (l2, h2) => l2 <= lo && hi <= h2 && (l2, h2) != (lo, hi) }
      }.sortBy(_._1)

    /** Adopt, then sweep, from ONE listing; returns the visible runs.
      * ADOPTION: a live tail of an earlier version (`<tail>_<i>` with i
      * above every visible run) becomes the one-batch run `i..i` by rename,
      * its marker written last; a rerun after a crash between the renames
      * skips the families already renamed, and a tail replaces a
      * marker-less run of the same name. A tail missing a family (its batch
      * crashed; it replays) gets no marker. With `own = Some(b)`, batch b
      * is about to (re)write its run: its marker is dropped, so a replay
      * never merges a run it is about to rewrite, and snapshots older than
      * `state_<b-1>` are swept. CLEANUP: dead markers first, then merged
      * (contained) and marker-less run dirs and every tail name left
      * (folded originals, replay strays); unrecognized names are left
      * alone.
      */
    def settle(own: Option[Long] = None): Seq[Run] = {
      val names = scala.collection.mutable.LinkedHashSet.from(
        try fs.listStatus(root).map(_.getPath.getName).toSeq
        catch { case _: FileNotFoundException => Nil })
      def done = names.toSeq.collect { case DoneRx(lo, hi) => (lo.toLong, hi.toLong) }
        .filter(r => families.forall(f => names(runName(f, r))))
      val hi = visibleOf(done).map(_._2).foldLeft(-1L)(math.max)
      names.toSeq.collect { case TailRx(_, i) if i.toLong > hi => i.toLong }
        .distinct.sorted.foreach { i =>
          val adopted = families.map { f =>
            val (tail, run) = (s"${f.tail}_$i", runName(f, (i, i)))
            if (names(tail)) {
              if (names(run)) must(fs.delete(new Path(root, run), true), s"delete $run")
              must(fs.rename(new Path(root, tail), new Path(root, run)), s"adopt $tail")
              names -= tail
              names += run
            }
            names(run)
          }
          if (adopted.forall(identity)) {
            fs.create(new Path(root, marker((i, i))), true).close()
            names += marker((i, i))
          }
        }
      val visible = visibleOf(done.filterNot(r => own.contains(r._1) && r._2 == r._1))
      val keep = visible.toSet
      names.toSeq.filter {
        case DoneRx(lo, h) => !keep((lo.toLong, h.toLong))
        case RunRx(_, lo, h) => !keep((lo.toLong, h.toLong))
        case TailRx(_, _) => true
        case StateRx(k) => own.exists(k.toLong < _ - 1)
        case _ => false
      }.sortBy(n => !DoneRx.matches(n))
        .foreach(n => must(fs.delete(new Path(root, n), true), s"cleanup delete $n"))
      visible
    }

    /** Batch `b`'s preamble: settle as `own` (one listing), the merge pass
      * (before the batch writes, since a merge's sweep deletes marker-less
      * run dirs), then the one missing-increment check: the visible runs
      * starting before `b` must tile [0, hi] from 0 with hi ≥ b-1, else the
      * target was lost. Returns those runs: the standing rows batch `b`
      * may read. A replayed batch whose run is already merged sees that
      * merged run here (its rewritten one-batch run is contained, so
      * invisible, and swept by the next batch).
      */
    def begin(b: Long): Seq[Run] = {
      val settled = settle(Some(b))
      val prior = (if (compactEvery > 0) mergeTiers(settled) else settled)
        .filter(_._1 < b)
      val hi = prior.lastOption.fold(-1L)(_._2)
      if (prior.map(_._1) != (0L +: prior.map(_._2 + 1)).take(prior.size) || hi < b - 1)
        throw lost(s"runs ${prior.mkString(" ")} do not cover batches 0..${b - 1} " +
          s"at batch $b")
      probeRoots.updateWith(dir) { p =>
        Some((p.getOrElse(Vector.empty) :+ (b -> prior.size)).takeRight(diagRing))
      }
      prior
    }

    /** The one run writer: run `r`'s family dirs (`frames` in `families`
      * order), overwritten, then its marker LAST, so the run appears
      * atomically.
      */
    def write(r: Run, frames: Seq[DataFrame]): Unit = {
      families.zip(frames).foreach { case (f, df) =>
        df.write.mode("overwrite").parquet(s"$dir/${runName(f, r)}")
      }
      fs.create(new Path(root, marker(r)), true).close()
    }

    /** Family `name` of `runs`; no runs read as an empty frame of a
      * declared schema. A family without `origin` is one multi-path read,
      * so the scan packs the runs' small files into a few splits (and a
      * merge writes as few). With `origin` it is read per run and unioned:
      * an earlier version's hive run beside flat runs in one read call
      * would break partition discovery, and the origin fill needs each
      * run's `lo`.
      */
    def read(name: String, runs: Seq[Run]): DataFrame = {
      val f = families.find(_.name == name).get
      val reader = f.schema.fold(spark.read)(s => spark.read.schema(s))
      def path(r: Run) = s"$dir/${runName(f, r)}"
      f.origin match {
        case _ if runs.isEmpty && f.schema.nonEmpty =>
          spark.createDataFrame(java.util.List.of[Row](), f.schema.get)
        case None => reader.parquet(runs.map(path): _*)
        case Some(c) => runs.map(r => reader.parquet(path(r))
            .withColumn(c, coalesce(col(c), lit(r._1))))
          .reduce(_.unionByName(_))
      }
    }

    /** The publish of family `name`: its visible runs after a settle,
      * merged with its fold.
      */
    def publish(name: String): DataFrame =
      families.find(_.name == name).get.fold(read(name, settle()))

    /** The state snapshot batch `b` reads, `state_<b-1>` (None at batch
      * 0), never "the latest": an at-least-once replay of `b` recomputes
      * against exactly the state it saw the first time. A missing one at
      * b > 0 is a lost target, not a cold start.
      */
    def priorState(b: Long): Option[DataFrame] = {
      val p = new Path(root, s"state_${b - 1}")
      if (b == 0) None
      else if (fs.exists(p)) Some(spark.read.parquet(p.toString))
      else throw lost(s"state snapshot ${p.getName} missing for batch $b")
    }

    /** Batch `b`'s state snapshot, overwritten; batch b+1 sweeps the ones
      * before it.
      */
    def writeState(b: Long, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/state_$b")

    /** The one merge routine, an LSM-shaped fold. Size classes are
      * geometric in the L0 unit u = compactEvery: class t covers spans in
      * [u·fanout^t, u·fanout^(t+1)), and spans below u (the one-batch runs,
      * when u > 1) form class −1. While a window of adjacent visible runs
      * shares a class and is full — u runs in class −1 (the L0 fold),
      * `fanout` runs in a class t ≥ 0 (a tier merge) — merge the OLDEST
      * such window into one run with each family's fold. At u = 1 a
      * one-batch run already is an L0 run, so every merge is a tier merge.
      * Each batch's rows therefore climb at most log_fanout(N/u) + 1 times
      * over the stream's life — cumulative write volume O(N·log N), vs the
      * O(N²) of re-writing one standing generation every u batches — while
      * a reader reads ≤ (fanout-1)·tiers + u roots. Idempotent whenever it
      * runs, so a crash between a merge's marker and the merges it carries
      * into heals on the next batch. Returns the visible runs after it.
      */
    private def mergeTiers(settled: Seq[Run]): Seq[Run] = {
      val unit = math.max(1, compactEvery)
      def sizeClass(r: Run): Int = {
        var span = (r._2 - r._1 + 1) / unit
        var t = if (span == 0) -1 else 0
        while (fanout > 1 && span >= fanout) { span /= fanout; t += 1 }
        t
      }
      def width(cls: Int) = if (cls < 0) unit else fanout
      // Adjacency matters: a replay drops its own marker first, and a window
      // across that gap would claim the batch's range without its rows.
      def due(w: Seq[Run]) = {
        val cls = w.map(sizeClass).distinct
        cls.size == 1 && w.size == width(cls.head) && w.size > 1 &&
          w.zip(w.tail).forall { case (a, b) => b._1 == a._2 + 1 }
      }
      def oldestDue(visible: Seq[Run]) = visible.indices.iterator
        .map(i => visible.slice(i, i + width(sizeClass(visible(i))))).find(due)
      var visible = settled
      var window = oldestDue(visible)
      while (window.nonEmpty) {
        val w = window.get
        val r = (w.head._1, w.last._2)
        write(r, families.map(f => f.fold(read(f.name, w))))
        foldSpans.updateWith(dir)(p => Some(p.getOrElse(0L) + (r._2 - r._1 + 1)))
        visible = settle()
        window = oldestDue(visible)
      }
      visible
    }
  }
}
