package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** `corpus-batch`: the LLM data pipeline, one client running registry
  * steps `SparkEntry.queries(name)(spark, dir)` in seed order, each
  * followed by one action (`collect`; the answer is kept for the check).
  * Every pass runs each step once; a run measures at least one pass.
  */
final class CorpusBatch(spark: SparkSession, in: Inputs, rec: Recorder) {
  private val steps = in.strings("steps")
  private val passLen = in.int("pass_len")
  /** Each step's first answer, kept for the oracle check. */
  private val answers = mutable.LinkedHashMap[String, (Int, Array[Row], StructType)]()

  /** Pins are released after each step, as `graft.Bench` does. */
  private def release(): Int = {
    val pins = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    pins
  }

  private def outDir(i: Int) = s"${in.out}/steps/$i"

  def run(): Unit = {
    // a set-up is one pass over the corpus: the first also pays JIT and
    // class loading, so the measured steps run warm
    rec.setup(in.setups) { _ =>
      steps.take(passLen).foreach { s =>
        SparkEntry.queries(s)(spark, in.data).collect()
        release()
      }
    }
    if (in.trace) traced() else untraced()
    // untimed: the answers land as parquet for the oracle check
    answers.values.foreach { case (i, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.parquet(outDir(i))
    }
    rec.extra("oracle") = steps.distinct.flatMap(s => SparkEntry.oracleSql.get(s).map(s -> _)).toMap
  }

  /** One step: build the frame, run the action, release the pins. A
    * repeated step's answer is recorded as a digest, which the check
    * compares with the first answer's.
    */
  private def step(i: Int, build: => DataFrame, action: DataFrame => Array[Row]): Unit = {
    val t0 = System.nanoTime()
    var rows = Array.empty[Row]
    val error = try {
      val df = build
      rows = action(df)
      answers.getOrElseUpdate(steps(i), (i, rows, df.schema)); None
    } catch { case e: Exception => Some(e.toString) }
    val pins = release()
    val t1 = System.nanoTime()
    if (in.trace) rec.tracer.note("pins_left", pins)
    val first = answers.get(steps(i)).exists(_._1 == i)
    rec.op(0, i, steps(i), t0, t1, error, "pins" -> pins,
      "digest" -> Lake.digest(rows.toSeq.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0001"))),
      "out" -> (if (first) outDir(i) else null))
  }

  private def untraced(): Unit = {
    rec.startMeasure()
    val deadline = rec.started + in.seconds * 1000000000L
    var i = 0
    while (i < steps.size && (System.nanoTime() < deadline || i < passLen)) {
      step(i, SparkEntry.queries(steps(i))(spark, in.data), _.collect())
      i += 1
    }
    rec.stopMeasure()
  }

  /** First half of the time untraced (the overhead reference, answers
    * discarded), then the same steps with spans: the step's frame build
    * (including its eager inner actions) and the action, with the
    * action's planning phases read from its QueryExecution tracker.
    */
  private def traced(): Unit = {
    val tr = rec.tracer
    @volatile var lastQe: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = lastQe = qe
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    rec.startMeasure()
    val half = rec.started + in.seconds * 500000000L
    val plain = Iterator.from(0).takeWhile(i => i < steps.size && System.nanoTime() < half).map { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(steps(i))(spark, in.data).collect()
      release()
      (System.nanoTime() - t0) / 1e6
    }.toVector
    plain.indices.foreach { i =>
      tr.span("op", i) {
        step(i, tr.span("operators.build", i)(SparkEntry.queries(steps(i))(spark, in.data)), { df =>
          tr.span("operators.exec", i) {
            val rows = df.collect()
            org.apache.spark.LakebenchBus.drain(spark.sparkContext)
            Option(lastQe).foreach { qe =>
              val ph = qe.tracker.phases
              Seq("analysis" -> "plan_analyze_ms", "optimization" -> "plan_optimize_ms",
                "planning" -> "plan_physical_ms").foreach { case (k, n) =>
                ph.get(k).foreach(p => tr.note(n, p.durationMs))
              }
            }
            rows
          }
        })
      }
    }
    rec.stopMeasure()
    rec.extra("untraced_ms") = plain
  }
}
