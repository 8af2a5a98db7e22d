package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{LakebenchBus, SparkContext}
import org.apache.spark.scheduler._

/** Counts what Spark did, from the outside: a listener the benchmark
  * registers itself. Counters only grow; a call's share is the difference
  * of two snapshots taken around it (after the bus drained).
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val c = Probe.Names.map(_ -> new AtomicLong()).toMap
  // job intervals (start, end) in epoch ms, for the driver-gap split
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    c("jobs").incrementAndGet()
    jobStarts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { t0 =>
      intervals.synchronized { intervals += ((t0.longValue, e.time)) }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("shuffle_read_bytes").addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("output_bytes").addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Counter values once every event posted so far has been delivered. */
  def snapshot(): Map[String, Long] = {
    LakebenchBus.drain(sc)
    c.map { case (k, v) => k -> v.get } + ("gc_ms" -> Probe.gcMillis())
  }

  /** Milliseconds of [t0, t1] (epoch ms) during which no job ran. */
  def idleMillis(t0: Long, t1: Long): Long = {
    val within = intervals.synchronized {
      intervals.iterator.filter { case (a, b) => b > t0 && a < t1 }
        .map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }.toVector
    }.sortBy(_._1)
    var busy = 0L
    var curA = -1L; var curB = -1L
    within.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0L, (t1 - t0) - busy)
  }
}

object Probe {
  val Names: Seq[String] = Seq("jobs", "stages", "tasks", "task_cpu_ns",
    "task_run_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "input_bytes", "output_bytes")

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** Heap still in use after a full collection: what the workload keeps
  * alive (sessions, caches, pins nobody released), not the garbage it
  * makes on the way.
  */
object HeapLive {
  def mb(sc: SparkContext): Double = {
    // released pins leave the block store asynchronously: wait (bounded)
    // until they are gone, so a pin released just before the end does not
    // count
    val deadline = System.nanoTime() + 3000000000L
    while (sc.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    // collect until the heap stops shrinking: Spark's cleaner frees shuffle and broadcast
    // blocks only after a collection has dropped their references
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var last = used()
    var now = { Thread.sleep(300); used() }
    var rounds = 0
    while (last - now > (1L << 20) && rounds < 8) {
      last = now; Thread.sleep(300); now = used(); rounds += 1
    }
    now / (1024.0 * 1024.0)
  }
}

/** In-memory spans, written out once the run ends. A span brackets one call
  * into a layer; `op` ties the spans of one benchmark operation together.
  */
final class Tracer(probe: Probe) {
  final case class Span(id: Int, parent: Int, name: String, op: Int,
      start: Long, end: Long, counts: Map[String, Long], idleMs: Long,
      attrs: Map[String, Long])

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, mutable.Map[String, Long])]()
  private var nextId = 1

  /** Runs `body` as span `name` of operation `op`. Single client only: the
    * traced run replays every operation from one thread, so every Spark job
    * falls inside exactly one open span.
    */
  def span[A](name: String, op: Int)(body: => A): A = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val attrs = mutable.Map[String, Long]()
    val c0 = probe.snapshot()
    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    stack.push((id, attrs))
    try body
    finally {
      stack.pop()
      val n1 = System.nanoTime()
      val c1 = probe.snapshot()
      val t1 = t0 + (n1 - n0) / 1000000
      spans += Span(id, parent, name, op, n0, n1, Probe.delta(c0, c1),
        probe.idleMillis(t0, t1), attrs.toMap)
    }
  }

  /** Attaches a measured value (files written, pins left, …) to the
    * innermost open span.
    */
  def note(key: String, value: Long): Unit =
    stack.headOption.foreach { case (_, a) => a(key) = a.getOrElse(key, 0L) + value }

  def all: Seq[Span] = spans.toSeq
}
