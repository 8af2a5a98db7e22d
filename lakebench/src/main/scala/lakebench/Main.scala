package lakebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM.
  *
  *   lakebench.Main run <inputs.json>       set up, measure, write out/result.json
  *   lakebench.Main readback <inputs.json>  reopen lake-write's tables from disk
  *                                          and fingerprint every acknowledged version
  *
  * The inputs file holds everything the run feeds the engine (generated
  * from the seed before the JVM starts). Results are raw records; the
  * Python side turns them into metrics and checks the answers.
  */
object Main {
  val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val in = new Inputs(json.readValue(new File(args(1)), classOf[java.util.Map[String, Object]]))
    val spark = graft.Graft.session(Some(s"local[${in.nproc}]"), "lakebench")
    spark.sparkContext.setLogLevel("ERROR")
    args(0) match {
      case "run" =>
        val rec = new Recorder(spark, in)
        in.workload match {
          case "lake-sql" => new LakeSql(spark, in, rec).run()
          case "lake-write" => new LakeWrite(spark, in, rec).run()
          case "corpus-batch" => new CorpusBatch(spark, in, rec).run()
          case w => sys.error(s"unknown workload $w")
        }
        rec.write()
      case "readback" => LakeWrite.readback(spark, in)
    }
    // Results are on disk. Skip the shutdown hooks (context stop, temp-dir
    // sweep: seconds per run); the work directory is wiped before the next
    // run anyway.
    Runtime.getRuntime.halt(0)
  }
}

/** Typed view of inputs.json. */
final class Inputs(m: java.util.Map[String, Object]) {
  def str(k: String): String = m.get(k).toString
  def int(k: String): Int = m.get(k).toString.toInt
  def list(k: String): Seq[Object] =
    Option(m.get(k)).map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq).getOrElse(Nil)
  def strings(k: String): Seq[String] = list(k).map(_.toString)
  def maps(k: String): Seq[Map[String, Object]] =
    list(k).map(_.asInstanceOf[java.util.Map[String, Object]].asScala.toMap)

  val workload: String = str("workload")
  val seconds: Int = int("seconds")
  val trace: Boolean = int("trace") == 1
  val nproc: Int = int("nproc")
  val data: String = str("data")
  val work: String = str("work")
  val out: String = str("out")
  val setups: Int = int("setups")
}

/** Collects what a run measured and writes it as out/result.json (and the
  * spans as out/trace.jsonl on a traced run).
  */
final class Recorder(spark: SparkSession, in: Inputs) {
  val probe = new Probe(spark.sparkContext)
  val tracer = new Tracer(probe)
  val setupSeconds = mutable.ArrayBuffer[Double]()
  val ops = java.util.Collections.synchronizedList(new java.util.ArrayList[java.util.Map[String, Any]]())
  val extra = mutable.LinkedHashMap[String, Any]()
  private var t0 = 0L; private var t1 = 0L
  private var cpu0 = 0L; private var cpu1 = 0L

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Times `k` set-ups (the first also pays JIT and class loading). */
  def setup(k: Int)(body: Int => Unit): Unit = (0 until k).foreach { i =>
    val s = System.nanoTime()
    body(i)
    setupSeconds += (System.nanoTime() - s) / 1e9
  }

  def started: Long = t0

  def log(msg: String): Unit =
    System.err.println(f"lakebench: [${(System.nanoTime() - born) / 1e9}%6.1f s] $msg")
  private val born = System.nanoTime()

  def startMeasure(): Unit = {
    log(s"set-ups took ${setupSeconds.map(s => f"$s%.1f").mkString(", ")} s")
    cpu0 = cpuNs(); t0 = System.nanoTime()
  }
  def stopMeasure(): Unit = {
    t1 = System.nanoTime(); cpu1 = cpuNs()
    log(s"measured ${ops.size} ops")
    extra("heap_live_mb") = HeapLive.mb(spark.sparkContext)
  }

  /** Records one operation; `fields` carries workload-specific data. */
  def op(client: Int, index: Int, kind: String, start: Long, end: Long,
      error: Option[String], fields: (String, Any)*): Unit = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("c", client); m.put("i", index); m.put("k", kind)
    m.put("t0", (start - t0) / 1e6); m.put("t1", (end - t0) / 1e6)
    m.put("ok", error.isEmpty)
    error.foreach(e => m.put("err", e.take(300)))
    fields.foreach { case (k, v) => m.put(k, v) }
    ops.add(m)
  }

  /** Runs `clients` closed-loop threads until the deadline; `body(c)`
    * runs client c's next operation and says whether it had one.
    */
  def closedLoop(clients: Int, seconds: Int)(body: Int => Boolean): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        var go = true
        while (go && System.nanoTime() < deadline) go = body(c)
      }, s"lakebench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  def write(): Unit = {
    log("done")
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("setup_s", setupSeconds.asJava)
    m.put("elapsed_s", (t1 - t0) / 1e9)
    m.put("cpu_s", (cpu1 - cpu0) / 1e9)
    extra.foreach { case (k, v) => m.put(k, toJava(v)) }
    m.put("ops", ops)
    Main.json.writeValue(new File(s"${in.out}/result.json"), m)
    if (in.trace) {
      val w = Files.newBufferedWriter(Paths.get(s"${in.out}/trace.jsonl"))
      try tracer.all.foreach { s =>
        val r = new java.util.LinkedHashMap[String, Any]()
        r.put("id", s.id); r.put("parent", s.parent); r.put("name", s.name)
        r.put("op", s.op); r.put("start_ms", s.start / 1e6); r.put("end_ms", s.end / 1e6)
        r.put("idle_ms", s.idleMs)
        r.put("counts", s.counts.asJava)
        r.put("attrs", s.attrs.asJava)
        w.write(Main.json.writeValueAsString(r)); w.newLine()
      } finally w.close()
    }
  }

  private def toJava(v: Any): Any = v match {
    case s: Seq[_] => s.map(toJava).asJava
    case m: collection.Map[_, _] => m.map { case (k, x) => k -> toJava(x) }.asJava
    case x => x
  }
}

object Fs {
  /** (bytes, files) of every regular file under `root`. */
  def usage(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      var b = 0L; var n = 0L
      s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
        b += Files.size(f); n += 1
      }
      (b, n)
    } finally s.close()
  }

  def files(root: String): Set[String] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Set.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSet
    finally s.close()
  }
}
