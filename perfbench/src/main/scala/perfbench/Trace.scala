package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call into a layer made by the benchmark. */
final case class Span(id: Long, name: String, parent: Long, iteration: Int,
    startNs: Long, var endNs: Long = -1L)

/** Interval arithmetic for self time. */
object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** `outer` minus the part of it that any of `inner` covers (inner
    * intervals may overlap each other and stick out of `outer`).
    */
  def selfLength(outer: (Long, Long), inner: Seq[(Long, Long)]): Long = {
    val (s, e) = outer
    (e - s) - unionLength(inner.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
  }
}

/** Per-layer counters, summed over the jobs and file-system calls
  * attributed to the layer.
  */
final class LayerCounts {
  val jobs = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val writtenBytes = new AtomicLong
  val fsReads = new AtomicLong
  val fsWrites = new AtomicLong
}

/** Records spans around the benchmark's calls into each layer, and
  * attributes Spark jobs and Hadoop file-system calls to them.
  *
  * Jobs carry the job group of the span that was innermost when they were
  * submitted (set on the calling thread); streaming queries run their
  * batches under their own run id, which [[bindGroup]] maps to the span
  * that ran the query. Jobs and file-system calls made inside a span
  * registered with a classifier are split further by the call stack
  * (Spark's recorded call site for jobs, the live stack for driver-side
  * file-system calls). Everything stays in memory until [[report]].
  *
  * Disabled (the default), [[span]] only runs its body.
  */
object Trace {
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  @volatile var iteration = 0
  private val JobGroupKey = "spark.jobGroup.id" // SparkContext.SPARK_JOB_GROUP_ID

  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  /** Span id → (name, stack frame substrings → sub-layer name; first match wins, else default). */
  private val classifiers = new ConcurrentHashMap[String, (Seq[(String, String)], String)]()
  private val groups = new ConcurrentHashMap[String, Long]() // job group → span id
  private val counts = new ConcurrentHashMap[String, LayerCounts]() // "<spanId>/<layer>" → counts
  private val jobIntervals = new ConcurrentHashMap[Int, (String, Long, Long)]() // job → (key, start, end)
  private val jobSites = new ConcurrentHashMap[Int, String]() // job → Spark's short call site
  /** SQL execution id → the call stack that started it. Adaptive query
    * stages run as jobs on Spark's own threads, whose call sites show no
    * caller; their execution's start event still carries it.
    */
  private val execFrames = new ConcurrentHashMap[String, Seq[String]]()
  private val stageKey = new ConcurrentHashMap[Int, String]() // stage → counts key
  private val pendingStageFs = new ConcurrentHashMap[Int, (AtomicLong, AtomicLong)]()
  val created = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]() // (span, file name)

  /** Listener event times are epoch millis; spans use the nano clock. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def eventNs(epochMs: Long): Long = epochMs * 1000000L - epochOffsetNs

  def install(context: SparkContext): Unit = {
    sc = context
    context.addSparkListener(Listener)
  }

  /** Split the jobs and file-system calls of spans named `name` by stack frame. */
  def classify(name: String, rules: Seq[(String, String)], default: String): Unit =
    classifiers.put(name, (rules, default))

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = synchronized(stack.headOption)
    val s = Span(nextId.getAndIncrement(), name, parent.map(_.id).getOrElse(0L),
      iteration, System.nanoTime())
    synchronized { spans += s; stack.push(s) }
    val prevGroup = Option(sc).flatMap(c => Option(c.getLocalProperty(JobGroupKey)))
    val group = s"perfbench-span-${s.id}"
    groups.put(group, s.id)
    Option(sc).foreach(_.setJobGroup(group, name))
    try body
    finally {
      s.endNs = System.nanoTime()
      synchronized { stack.pop() }
      Option(sc).foreach { c =>
        prevGroup match {
          case Some(g) => c.setJobGroup(g, "")
          case None => c.clearJobGroup()
        }
      }
    }
  }

  /** Jobs submitted under `group` (a streaming query's run id) belong to `spanId`. */
  def bindGroup(group: String, spanId: Long): Unit = groups.put(group, spanId)

  def currentSpanId: Long = synchronized(stack.headOption.map(_.id).getOrElse(0L))

  private def spanName(id: Long): String =
    synchronized(spans.find(_.id == id).map(_.name).getOrElse("unattributed"))

  /** Counts key of a call made while span `id` is innermost. */
  private def keyFor(id: Long, frames: => Seq[String]): String = {
    val name = spanName(id)
    val layer = Option(classifiers.get(name)) match {
      case Some((rules, default)) =>
        val fs = frames
        rules.collectFirst { case (frag, l) if fs.exists(_.contains(frag)) => l }
          .getOrElse(default)
      case None => name
    }
    s"$id/$layer"
  }

  private def countsFor(key: String): LayerCounts =
    counts.computeIfAbsent(key, _ => new LayerCounts)

  /** A file-system call from [[CountingFileSystem]]. */
  private[perfbench] def fsCall(write: Boolean, createdName: String = null): Unit = if (enabled) {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) {
      val (r, w) = pendingStageFs.computeIfAbsent(tc.stageId(), _ => (new AtomicLong, new AtomicLong))
      (if (write) w else r).incrementAndGet()
    } else {
      val id = currentSpanId
      // Spark's own threads (adaptive stages, commit) carry their SQL
      // execution id; its start event holds the caller's stack.
      def frames = Thread.currentThread.getStackTrace.toSeq.map(_.toString) ++
        Option(sc).flatMap(c => Option(c.getLocalProperty("spark.sql.execution.id")))
          .flatMap(x => Option(execFrames.get(x))).getOrElse(Nil)
      val c = countsFor(keyFor(id, frames))
      (if (write) c.fsWrites else c.fsReads).incrementAndGet()
      if (createdName != null) created.add((id, createdName))
    }
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
      val exec = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
      val frames = e.stageInfos.flatMap(_.details.linesIterator.toSeq) ++
        e.stageInfos.map(_.name) ++ exec.flatMap(x => Option(execFrames.get(x)).getOrElse(Nil))
      // A streaming query's group may be bound after its first jobs start:
      // those keys resolve in [[report]].
      val key = Option(group).flatMap(g => Option(groups.get(g))) match {
        case Some(id) => keyFor(id.longValue, frames)
        case None => s"group:$group"
      }
      countsFor(key).jobs.incrementAndGet()
      jobIntervals.put(e.jobId, (key, eventNs(e.time), -1L))
      jobSites.put(e.jobId, e.stageInfos.headOption.map(_.name).getOrElse(""))
      e.stageIds.foreach(stageKey.put(_, key))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        execFrames.put(s.executionId.toString, s.details.linesIterator.toSeq)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobIntervals.computeIfPresent(e.jobId, (_, v) => (v._1, v._2, eventNs(e.time)))
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      val key = stageKey.get(t.stageId)
      if (m != null && key != null) {
        val c = countsFor(key)
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.writtenBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  def reset(): Unit = synchronized {
    spans.clear(); stack.clear(); groups.clear(); counts.clear()
    jobIntervals.clear(); jobSites.clear(); execFrames.clear(); stageKey.clear(); pendingStageFs.clear(); created.clear()
  }

  /** Wait for the listener bus to deliver every event posted so far. */
  def drain(): Unit = Option(sc).foreach { c =>
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val n = jobIntervals.size + counts.size
      val open = jobIntervals.values.asScala.count(_._3 < 0)
      if (n == last && open == 0) stable += 1 else stable = 0
      last = n
    }
  }

  /** Spans recorded so far (a copy). */
  def recorded: Seq[Span] = synchronized(spans.toList)

  /** Per-layer totals and per-span detail for everything recorded since
    * the last [[reset]]. Wall times in seconds, bytes in MB.
    */
  def report(): TraceReport = {
    drain()
    // Task-thread file-system calls go to their stage's layer.
    pendingStageFs.asScala.foreach { case (stage, (r, w)) =>
      val c = countsFor(Option(stageKey.get(stage)).getOrElse("0/unattributed"))
      c.fsReads.addAndGet(r.get); c.fsWrites.addAndGet(w.get)
    }
    pendingStageFs.clear()
    counts.asScala.keys.filter(_.startsWith("group:")).toSeq.foreach { k =>
      Option(groups.get(k.stripPrefix("group:"))).foreach { id =>
        val to = countsFor(keyFor(id.longValue, Nil))
        val from = counts.remove(k)
        to.jobs.addAndGet(from.jobs.get); to.cpuNs.addAndGet(from.cpuNs.get)
        to.shuffleBytes.addAndGet(from.shuffleBytes.get); to.spillBytes.addAndGet(from.spillBytes.get)
        to.writtenBytes.addAndGet(from.writtenBytes.get)
        to.fsReads.addAndGet(from.fsReads.get); to.fsWrites.addAndGet(from.fsWrites.get)
      }
    }
    val all = recorded
    val jobs = jobIntervals.values.asScala.toSeq
    val layer = mutable.LinkedHashMap.empty[String, mutable.Map[String, Double]]
    def add(l: String, m: String, v: Double): Unit =
      layer.getOrElseUpdate(l, mutable.LinkedHashMap.empty).updateWith(m)(p => Some(p.getOrElse(0.0) + v))
    counts.asScala.foreach { case (key, c) =>
      val l = key.substring(key.indexOf('/') + 1)
      add(l, "jobs", c.jobs.get.toDouble)
      add(l, "exec_cpu_s", c.cpuNs.get / 1e9)
      add(l, "shuffle_mb", c.shuffleBytes.get / 1e6)
      add(l, "spill_mb", c.spillBytes.get / 1e6)
      add(l, "written_mb", c.writtenBytes.get / 1e6)
      add(l, "fs_read_ops", c.fsReads.get.toDouble)
      add(l, "fs_write_ops", c.fsWrites.get.toDouble)
    }
    val details = all.map { s =>
      val children = all.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
      val self = Intervals.selfLength((s.startNs, s.endNs), children)
      classifiers.asScala.get(s.name) match {
        case Some((rules, default)) =>
          // A classified span's self time splits into its sub-layers' job
          // time; what no job covers is driver time.
          val mine = jobs.filter(_._1.startsWith(s"${s.id}/")).filter(_._3 > 0)
          (rules.map(_._2) :+ default).distinct.foreach { l =>
            add(l, "self_s", Intervals.unionLength(
              mine.filter(_._1 == s"${s.id}/$l").map(j => (j._2, j._3))) / 1e9)
          }
          add(s"${s.name}", "driver_s",
            Intervals.selfLength((s.startNs, s.endNs), children ++ mine.map(j => (j._2, j._3))) / 1e9)
        case None => add(s.name, "self_s", self / 1e9)
      }
      SpanRow(s, self / 1e9)
    }
    val jobRows = jobIntervals.asScala.toSeq.sortBy(_._1).map { case (id, (key, s, e)) =>
      JobRow(id, key.substring(key.indexOf('/') + 1), s, e, Option(jobSites.get(id)).getOrElse(""))
    }
    TraceReport(layer.map { case (k, v) => k -> v.toMap }.toMap, details, jobRows)
  }
}

final case class SpanRow(span: Span, selfS: Double)
final case class JobRow(id: Int, layer: String, startNs: Long, endNs: Long, site: String)
final case class TraceReport(layers: Map[String, Map[String, Double]], spans: Seq[SpanRow],
    jobs: Seq[JobRow]) {
  def get(layer: String, metric: String): Double =
    layers.get(layer).flatMap(_.get(metric)).getOrElse(0.0)
}

/** The local file system, counting the calls made through it for
  * [[Trace]]. Installed (as `fs.file.impl`) only in traced runs.
  */
class CountingFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  private def r(): Unit = Trace.fsCall(write = false)
  private def w(): Unit = Trace.fsCall(write = true)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = { r(); super.open(f, bufferSize) }
  override def listStatus(f: Path): Array[FileStatus] = { r(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { r(); super.listLocatedStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { r(); super.getFileStatus(f) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Trace.fsCall(write = true, f.getName)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { w(); super.mkdirs(f, permission) }
  override def rename(src: Path, dst: Path): Boolean = { w(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { w(); super.delete(f, recursive) }
}
