package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

/** What one iteration measured, filled in by the workload. */
final class Iteration(val index: Int) {
  /** Timed steps by kind (an ETL round, a micro-batch), in seconds. */
  val steps: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  var items = 0L // input records the iteration processed
  var stateBytes = 0L // bytes on disk of the result the iteration leaves
  var recall = Double.NaN // output recall against the independent reference
  val notes: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Traced runs: (step kind, batch id, streaming progress durations in ms). */
  val batches = mutable.ArrayBuffer.empty[(String, Long, Map[String, Long])]
  /** Traced runs: the iteration's per-layer metrics. */
  var layers: Map[String, Double] = Map.empty

  /** Wall and CPU seconds spent in [[untimed]] blocks, left out of the iteration's figures. */
  var untimedS = 0.0
  var untimedCpuS = 0.0

  /** Add `v` to the per-layer note `key`. */
  def note(key: String, v: Double): Unit = notes.updateWith(key)(p => Some(p.getOrElse(0.0) + v))

  /** Run `body` (input arrival, bookkeeping) outside the iteration's timing. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime(); val c0 = Harness.processCpuS
    try body finally {
      untimedS += (System.nanoTime() - t0) / 1e9
      untimedCpuS += Harness.processCpuS - c0
    }
  }

  def addStep(kind: String, seconds: Double): Unit =
    steps.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += seconds

  /** Run `body` as one step of `kind`, timed on the wall clock. */
  def step[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally addStep(kind, (System.nanoTime() - t0) / 1e9)
  }
}

/** A benchmark workload: inputs made from the seed, then a closed loop of
  * identical iterations whose output is checked after each one.
  */
trait Workload {
  def name: String
  /** Generate every input from the seed; repeatable, same inputs each time. */
  def generate(): Unit
  /** The references the output checks compare against, from the generated inputs. */
  def reference(): Unit
  /** Untimed: remove what the previous iteration left behind. */
  def reset(): Unit
  /** One timed iteration. */
  def run(it: Iteration): Unit
  /** Untimed: throw if the iteration's output is wrong; fill in recall and state size. */
  def check(it: Iteration): Unit
}

final case class Sample(wallS: Double, cpuS: Double, heapPeakMb: Double, heapLiveMb: Double,
    it: Iteration)

final case class Outcome(attempted: Int, failed: Int, samples: Seq[Sample],
    errors: Seq[String]) {
  def failedFrac: Double = if (attempted == 0) 1.0 else failed.toDouble / attempted
}

/** Peak heap in use right after a collection, from the JVM's GC
  * notifications (all collectors, all heap pools).
  */
object HeapWatch {
  @volatile private var peak = 0L
  private var installed = false

  def install(): Unit = synchronized {
    if (!installed) {
      installed = true
      ManagementFactory.getGarbageCollectorMXBeans.forEach {
        case e: javax.management.NotificationEmitter =>
          e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              var used = 0L
              info.getGcInfo.getMemoryUsageAfterGc.forEach((pool, u) =>
                if (heapPools(pool)) used += u.getUsed)
              HeapWatch.synchronized { if (used > peak) peak = used }
            }
          }, null, null)
        case _ =>
      }
    }
  }

  private lazy val heapPools: Set[String] = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  }

  /** Start a new window; the next collection's result opens it. */
  def reset(): Unit = synchronized { peak = 0L }
  def peakBytes: Long = synchronized(peak)
}

object Harness {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** Run iterations until `seconds` have passed (at least one). An
    * iteration that throws, in `run` or in `check`, is a failure and
    * contributes no sample. `between` runs untimed before each iteration
    * (session hygiene and a forced collection, whose after-GC heap opens
    * the iteration's heap window).
    */
  def measure(w: Workload, seconds: Double, between: () => Unit = () => (),
      log: String => Unit = System.err.println): Outcome = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (attempted == 0 || System.nanoTime() < deadline) {
      attempted += 1
      val it = new Iteration(attempted)
      try {
        w.reset()
        HeapWatch.reset()
        between()
        val c0 = processCpuS
        val t0 = System.nanoTime()
        w.run(it)
        val wall = (System.nanoTime() - t0) / 1e9 - it.untimedS
        val cpu = processCpuS - c0 - it.untimedCpuS
        val heap = HeapWatch.peakBytes / 1e6
        // What stays after the session's hygiene (cached and checkpointed
        // blocks released, their cleanup drained) and a full collection is
        // what the iteration left resident.
        between()
        System.gc()
        val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        w.check(it)
        samples += Sample(wall, cpu, heap, live, it)
        log(f"[perfbench] ${w.name} iteration $attempted: wall=$wall%.3fs cpu=$cpu%.3fs")
      } catch {
        case NonFatal(e) =>
          errors += s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"
          log(s"[perfbench] ${w.name} iteration $attempted FAILED: ${errors.last}")
      }
    }
    Outcome(attempted, errors.size, samples.toSeq, errors.toSeq)
  }
}
