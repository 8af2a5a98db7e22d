package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** A Spark-job ceiling per CommitLog DML writer: each call runs once on a
  * small four-file table under a job listener, and the jobs it starts
  * must not exceed the count recorded for it. A writer that grows a scan,
  * a collect or a broadcast fails here before it shows up as commit
  * latency. Lower a ceiling in the change that earns it.
  */
class DmlJobBudgetSpec extends SparkTestBase {

  import CommitLog.{TxnDel, TxnIns, TxnMerge, TxnUpd}

  /** Jobs per call on the four-file table below (local[4], 4 shuffle
    * partitions, AQE on: every shuffle and broadcast stage is a job).
    */
  private val ceiling = Map(
    "update" -> 3,
    "delete" -> 3,
    "merge" -> 8,
    "applySnapshot" -> 9,
    "replaceWhere" -> 3,
    "deleteDV" -> 5,
    "deleteDV over prior DVs" -> 5,
    "updateDV" -> 6,
    "forgetKeys" -> 10,
    "multiDml" -> 12)

  private def table(): String = {
    val root = Files.createTempDirectory("graft-dml-jobs").toString
    CommitLog.append(spark.range(0, 400, 1, 4)
      .selectExpr("id", "id % 10 AS k", "id * 2 AS v"), root)
    root
  }

  private def rows(ids: Seq[Long], v: Long): DataFrame =
    spark.createDataFrame(ids.map(i => (i, i % 10, v)))
      .toDF("id", "k", "v")

  /** Jobs `body` starts. Sentinel jobs fence the count: the listener bus
    * delivers in order, so every job between the two sentinels is the
    * body's (the writers' own concurrent staging included).
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = s"dml-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val state = new java.util.concurrent.atomic.AtomicInteger // 0 before, 1 in, 2 done
    val done = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.job.description")) match {
          case Some(d) if d == s"$tag-start" => state.set(1)
          case Some(d) if d == s"$tag-end" => state.set(2); done.countDown()
          case _ => if (state.get == 1) jobs.incrementAndGet()
        }
    }
    val sc = spark.sparkContext
    def sentinel(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(l)
    try {
      sentinel(s"$tag-start")
      body
      sentinel(s"$tag-end")
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(l)
  }

  private def budget(name: String)(body: => Unit): Unit = {
    val n = jobsOf(body)
    info(s"$name: $n jobs (ceiling ${ceiling(name)})")
    assert(n <= ceiling(name), s"$name started $n jobs, ceiling ${ceiling(name)}")
  }

  test("every DML writer stays within its job ceiling") {
    val updT = table()
    budget("update")(CommitLog.update(spark, updT,
      Seq("v" -> (col("v") + 1)), col("id") < 50))

    val delT = table()
    budget("delete")(CommitLog.delete(spark, delT, col("id") < 50))

    val mergeT = table()
    val mergeSrc = rows(0L until 10L, -1L).unionByName(rows(1000L to 1004L, 5L))
    budget("merge")(CommitLog.merge(spark, mergeT, mergeSrc, Seq("id")))

    val snapT = table()
    val snap = rows((0L until 100L).filter(_ % 10 == 1), 7L)
    budget("applySnapshot")(CommitLog.applySnapshot(spark, snapT, snap,
      Seq("id"), scope = Some(col("k") === 1)))

    val rwT = table()
    budget("replaceWhere")(CommitLog.replaceWhere(spark, rwT, col("id") < 50,
      rows(0L until 50L, 0L)))

    val dvT = table()
    budget("deleteDV")(CommitLog.deleteDV(spark, dvT, col("id") < 50))

    val dv2T = table()
    CommitLog.deleteDV(spark, dv2T, col("id") % 10 === 0)
    budget("deleteDV over prior DVs")(
      CommitLog.deleteDV(spark, dv2T, col("id") < 150))

    val udvT = table()
    budget("updateDV")(CommitLog.updateDV(spark, udvT,
      Seq("v" -> -col("v")), col("id") < 50))

    val (fa, fb) = (table(), table())
    val coord = Files.createTempDirectory("graft-dml-jobs-coord").toString
    budget("forgetKeys")(CommitLog.forgetKeys(spark,
      Seq((fa, "k"), (fb, "k")), Seq(3L), coord))

    val txT = table()
    val ops = Seq(
      TxnIns(rows(Seq(5000L, 5001L), 1L)),
      TxnUpd(Seq("v" -> (col("v") + 1)), col("id") < 50),
      TxnDel(col("id").between(300, 310)),
      TxnMerge(rows((60L until 65L) ++ (2000L until 2003L), 9L), Seq("id"),
        deleteFlag = None, insertUnmatched = true, replaceMatched = true,
        bySource = None))
    budget("multiDml")(CommitLog.multiDml(spark,
      Seq((txT, CommitLog.currentVersion(txT), ops)), coord))
  }
}
