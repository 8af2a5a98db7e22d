package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The r8 footer-derived commit statistics, unit-proven where the pruning
  * suites can't see: (1) rendering equality — footer-derived min/max
  * strings must be byte-identical to the historical aggregate rendering
  * for EVERY tracked type; (2) semantic edges — NaN floats, all-null
  * columns, >4 KB string bounds degrade to the residual pass or to
  * absent stats, never to wrong values; (3) the cost claim itself — a
  * plain append runs no Spark read of its data (the exact sums come off
  * the same per-file open as the footer), machine-checked through Spark's
  * own task input metrics; (4) the exact sums equal a per-file scan on
  * both dispatch branches and beside the untrusted-column pass.
  */
class CommitLogFooterStatsSpec extends SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-footer").toString

  private def statsOf(root: String): Seq[CommitLog.FileStat] =
    CommitLog.readManifest(root, CommitLog.currentVersion(root).get).statsOrNil

  /** Jackson + erasure reads nullCounts back as boxed Integers. */
  private def nullsOf(st: CommitLog.FileStat, c: String): Long =
    st.nullCounts.asInstanceOf[Map[String, Any]](c)
      .asInstanceOf[Number].longValue

  test("footer min/max/null rendering matches the aggregate path for every " +
      "tracked type (bool, integrals, fp, string, date, ts, ntz, decimal)") {
    val root = tmp()
    val df = spark.range(7).selectExpr(
      "id % 2 = 0 AS b",
      "CAST(id - 3 AS TINYINT) AS i8",
      "CAST(id * 100 - 300 AS SMALLINT) AS i16",
      "CAST(id * 1000 - 3000 AS INT) AS i32",
      "id * 100000 - 300000 AS i64",
      "CAST(id AS FLOAT) / 4 AS f",
      "CAST(id AS DOUBLE) / 8 AS d",
      "concat('s', lpad(CAST(id AS STRING), 3, '0')) AS s",
      "date_add(DATE'2024-02-27', CAST(id AS INT)) AS dt",
      "timestamp_micros(1700000000000000 + id * 86400000001) AS ts",
      "CAST(timestamp_micros(1700000000123456 + id) AS TIMESTAMP_NTZ) AS tsn",
      "CAST(id AS DECIMAL(10,2)) * 1.25 AS dec1",
      "CAST(id AS DECIMAL(38,8)) * 123456789.12345678 AS dec38")
      .coalesce(1)
    CommitLog.append(df, root)
    val st = statsOf(root)
    assert(st.size == 1)
    val got = st.head
    // expected strings: the HISTORICAL rendering (statRender semantics) —
    // min/max aggregates cast to string, timestamps as unix micros
    val cols = df.schema.fields.map(_.name).toSeq
    def render(c: Column, dt: DataType): Column = dt match {
      case TimestampType => unix_micros(c).cast("string")
      case _ => c.cast("string")
    }
    val exp = df.select(cols.flatMap { c =>
      val dt = df.schema(c).dataType
      Seq(render(min(col(c)), dt).as(s"min_$c"),
        render(max(col(c)), dt).as(s"max_$c"))
    }: _*).collect()(0)
    cols.foreach { c =>
      // float/double: parquet normalizes zero bounds to -0.0/+0.0
      // (PARQUET-1222) — value-equal to the aggregate rendering under
      // every comparison both engines make, so compare PARSED
      val fp = Set("f", "d")(c)
      def cmp(a: String, b: String): Boolean =
        if (fp) a.toDouble == b.toDouble else a == b
      assert(cmp(got.minsOrEmpty(c), exp.getAs[String](s"min_$c")),
        s"min($c): footer=${got.minsOrEmpty(c)} agg=${exp.getAs[String](s"min_$c")}")
      assert(cmp(got.maxsOrEmpty(c), exp.getAs[String](s"max_$c")),
        s"max($c): footer=${got.maxsOrEmpty(c)} agg=${exp.getAs[String](s"max_$c")}")
      assert(nullsOf(got, c) == 0L)
    }
    assert(got.rows == 7L)
    // and the pruner actually uses them: equality outside bounds prunes
    assert(CommitLog.readPruned(spark, root, col("i64") > 10000000L).count() == 0L)
    assert(CommitLog.readPruned(spark, root, col("s") === "s003").count() == 1L)
  }

  test("NaN floats degrade to the residual pass with Spark semantics " +
      "(NaN is the MAX); all-null and absent columns derive as all-null") {
    val root = tmp()
    val df = spark.range(4).selectExpr(
      "id",
      "CASE WHEN id = 2 THEN CAST('NaN' AS FLOAT) ELSE CAST(id AS FLOAT) END AS f",
      "CAST(NULL AS STRING) AS sn").coalesce(1)
    CommitLog.append(df, root)
    val st = statsOf(root).head
    // parquet drops NaN-bearing fp stats; the residual pass recomputes
    // them with Spark's ordering, where NaN sorts above everything
    assert(st.maxsOrEmpty("f") == "NaN", st.maxsOrEmpty.toString)
    assert(st.minsOrEmpty("f") == "0.0")
    // all-null column: no bounds, nulls == rows
    assert(!st.minsOrEmpty.contains("sn") && nullsOf(st, "sn") == 4L)
    // schema evolution: a new column is all-null in OLD files when stats
    // refresh over them
    CommitLog.evolveSchema(root,
      StructType(Seq(StructField("extra", LongType))))
    CommitLog.refreshStats(spark, root, onlyMissing = false)
    val st2 = statsOf(root).head
    assert(!st2.minsOrEmpty.contains("extra"))
    assert(nullsOf(st2, "extra") == 4L)
  }

  test("oversized string bounds (>4 KB, parquet omits them) fall to the " +
      "residual pass and still prune") {
    val root = tmp()
    val df = spark.range(3).selectExpr(
      "id", "concat(repeat('x', 5000), CAST(id AS STRING)) AS big")
      .coalesce(1)
    CommitLog.append(df, root)
    val st = statsOf(root).head
    assert(st.minsOrEmpty("big").startsWith("xxxx") &&
      st.minsOrEmpty("big").endsWith("0"))
    assert(st.maxsOrEmpty("big").endsWith("2"))
  }

  test("TIMESTAMP(MILLIS) foreign files degrade to the residual pass: " +
      "bounds land in unix micros and pruning keeps matching files") {
    // refreshStats over imported snapshots is the foreign-file path:
    // parquet-avro/Flink/pre-2.6-Spark annotate INT64 timestamps as
    // TIMESTAMP(MILLIS). Trusting those footer values as micros would
    // render bounds 1000× too small and prune files that DO match.
    val root = tmp()
    val foreign = Files.createTempDirectory("graft-millis").toString
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try {
      spark.range(2).selectExpr("id",
        "timestamp_millis(1700000000000 + id * 1000) AS ts")
        .coalesce(1).write.parquet(s"$foreign/a")
      spark.range(2).selectExpr("id + 2 AS id",
        "timestamp_millis(1800000000000 + id * 1000) AS ts")
        .coalesce(1).write.parquet(s"$foreign/b")
    } finally spark.conf.unset(key)
    val parts = Seq("a", "b").map { d =>
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(foreign, d)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.head
    }
    CommitLog.importSnapshot(root,
      StructType(Seq(StructField("id", LongType),
        StructField("ts", TimestampType))),
      parts.map(p => CommitLog.FileStat(p, 2L)))
    CommitLog.refreshStats(spark, root)
    val st = statsOf(root)
    // bounds must be the residual pass's micros rendering, never the raw
    // millis footer values read as micros
    val minsTs = st.map(_.minsOrEmpty("ts")).sorted
    assert(minsTs == Seq("1700000000000000", "1800000000000000"), minsTs)
    // and the pruner keeps exactly the matching file
    val hit = CommitLog.readPruned(spark, root,
      col("ts") >= timestamp_millis(lit(1800000000000L)))
    assert(hit.count() == 2L)
    assert(CommitLog.readPruned(spark, root,
      col("ts") > timestamp_millis(lit(1800000001000L))).count() == 0L)
  }

  test("a plain append never re-reads the staged bytes: input bytes stay " +
      "bounded by the residual columns, and ~zero with sums off") {
    def inputBytesDuring(f: => Unit): Long = {
      val read = new java.util.concurrent.atomic.AtomicLong(0L)
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          read.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      }
      spark.sparkContext.addSparkListener(l)
      try { f; Thread.sleep(500) } // listener bus drains asynchronously
      finally spark.sparkContext.removeSparkListener(l)
      read.get()
    }
    // a fat string column dominates the bytes; one long key rides along
    val df = spark.range(2000).selectExpr(
      "id", "repeat(uuid(), 20) AS payload")
    // default ('*'): the exact sums come off the same per-file open as
    // the footer, so no Spark job reads the staged bytes
    val root1 = tmp()
    val withSums = inputBytesDuring { CommitLog.append(df, root1) }
    val staged = statsOf(root1).map(_.bytes).sum
    assert(staged > 100000L, s"fixture too small: $staged")
    assert(withSums < staged / 2,
      s"append re-read $withSums of $staged staged bytes — the footer " +
        "path is not in effect")
    // sums off: pure-footer commit — no data re-read at all
    val root2 = tmp()
    spark.conf.set("spark.graft.sums.columns", "")
    val noSums =
      try inputBytesDuring { CommitLog.append(df, root2) }
      finally spark.conf.unset("spark.graft.sums.columns")
    assert(noSums < 65536L,
      s"sums-off append still read $noSums bytes of data")
    // both manifests carry identical footer-derived bounds
    assert(statsOf(root1).head.minsOrEmpty("id") ==
      statsOf(root2).head.minsOrEmpty("id"))
    // and the sums-off table answers SUM by scan, not metadata (absent
    // sums decline — correctness is unaffected)
    assert(CommitLog.read(spark, root2).agg(sum("id")).collect()(0)
      .getLong(0) == (0L until 2000L).sum)
  }

  test("the distributed footer branch (>192 files) agrees with the " +
      "driver-parallel branch, and 0-row files are filtered at import") {
    import scala.jdk.CollectionConverters._
    // 193 one-row files — partitionBy guarantees exactly one non-empty
    // leaf per key, pushing readFileStats onto its Spark-job path
    val dir = tmp() + "/t"
    spark.range(193).selectExpr("id AS k", "id * 10 AS v", "uuid() AS s")
      .repartition(8)
      .write.partitionBy("k").parquet(dir)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        java.nio.file.Files.isRegularFile(p) &&
          n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .map(_.toString).toSeq.sorted
    assert(files.size == 193, s"fixture wrote ${files.size} leaf files")
    val schema = StructType(Seq(
      StructField("v", LongType), StructField("s", StringType)))
    val big = CommitLog.importFooterStats(spark, schema, files) // job path
    assert(big.size == 193)
    val byPath = big.map(s => s.path -> s).toMap
    // the driver-parallel branch over a subset must agree field-for-field
    val sub = files.take(25)
    CommitLog.importFooterStats(spark, schema, sub).foreach { s =>
      val b = byPath(s.path)
      assert((s.rows, s.bytes, s.minsOrEmpty, s.maxsOrEmpty,
        s.nullCounts) == (b.rows, b.bytes, b.minsOrEmpty, b.maxsOrEmpty,
        b.nullCounts))
    }
    // spot-check values: every file holds exactly its one row, min==max
    big.foreach { s =>
      assert(s.rows == 1L)
      assert(s.minsOrEmpty("v") == s.maxsOrEmpty("v"))
    }

    // the job branch computes exact sums too: refreshStats over all 193
    // imported files (job path) and over the subset (driver-parallel)
    def refreshed(paths: Seq[String]): Map[String, Map[String, String]] = {
      val root = tmp()
      CommitLog.importSnapshot(root, schema,
        paths.map(p => CommitLog.FileStat(p, 1L)))
      CommitLog.refreshStats(spark, root, onlyMissing = false)
      statsOf(root).map(s => s.path -> s.sumsOrEmpty).toMap
    }
    val jobSums = refreshed(files)
    assert(jobSums.size == 193)
    refreshed(sub).foreach { case (p, sums) =>
      assert(sums == jobSums(p), s"driver vs job sums of $p")
    }
    val scan = scannedSums(files, Seq("v"))
    files.foreach(f => assert(jobSums(f) == Map("v" -> scan(f).head), f))

    // 0-row files never enter import-derived stats (the native-commit
    // manifest invariant holds for imports too)
    val emptyDir = tmp() + "/e"
    spark.range(5).selectExpr("id AS v", "uuid() AS s").filter("v < 0")
      .coalesce(1).write.parquet(emptyDir)
    val emptyFile = java.nio.file.Files.walk(
        java.nio.file.Paths.get(emptyDir)).iterator().asScala
      .find(_.toString.endsWith(".parquet")).map(_.toString)
    // Spark may or may not emit a physical part file for an empty write;
    // when it does, the import filter must drop it
    emptyFile.foreach { ef =>
      val got = CommitLog.importFooterStats(spark, schema,
        Seq(files.head, ef))
      assert(got.map(_.path) == Seq(files.head))
    }
  }

  /** Per-file `sum(CAST(c AS DECIMAL(38,0)))` by a direct scan — the
    * reference the stats reader's exact sums must equal — keyed by the
    * file's absolute path; all-null columns map to null.
    */
  private def scannedSums(files: Seq[String], cols: Seq[String])
      : Map[String, Seq[String]] =
    spark.read.parquet(files: _*)
      .groupBy(input_file_name().as("f"))
      .agg(sum(col(cols.head).cast("decimal(38,0)")).cast("string"),
        cols.tail.map(c => sum(col(c).cast("decimal(38,0)")).cast("string")): _*)
      .collect().map { r =>
        new java.net.URI(r.getString(0)).getPath ->
          cols.indices.map(i => r.getString(i + 1))
      }.toMap

  test("per-file sums from the stats reader match a per-file scan on a " +
      "plain append and when the untrusted-column pass runs (negatives, " +
      "nulls, multi-file, overflow-safe accumulation)") {
    // values exercising sign, null skipping, and large magnitudes
    val df = spark.range(10000).selectExpr(
      "id",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 1000000007 - 5000000000000 END AS big",
      "CAST(id % 100 - 50 AS INT) AS i32",
      "CAST(NULL AS BIGINT) AS allnull",
      "uuid() AS s")
      .repartition(3)
    val summed = Seq("id", "big", "i32")
    def check(root: String, stats: Seq[CommitLog.FileStat]): Unit = {
      assert(stats.size > 1, "fixture must stage multiple files")
      val abs = stats.map(st => CommitLog.dataPath(root, st.path))
      val scan = scannedSums(abs, summed)
      stats.zip(abs).foreach { case (st, a) =>
        summed.zip(scan(a)).foreach { case (c, exp) =>
          assert(st.sumsOrEmpty.get(c).contains(exp), s"$c sum of ${st.path}")
        }
        // all-null columns are omitted (sum-of-empty is null)
        assert(!st.sumsOrEmpty.contains("allnull"))
      }
    }
    // a native append: footer stats only, no Spark pass
    val r1 = tmp()
    CommitLog.append(df, r1)
    check(r1, statsOf(r1))

    // refreshStats over TIMESTAMP(MILLIS) foreign files: the ts column's
    // footer is untrusted, so the Spark pass runs beside the sums
    val foreign = tmp() + "/millis"
    val key = "spark.sql.parquet.outputTimestampType"
    spark.conf.set(key, "TIMESTAMP_MILLIS")
    try df.selectExpr("*", "timestamp_millis(1700000000000 + id) AS ts")
      .write.parquet(foreign)
    finally spark.conf.unset(key)
    val parts = {
      import scala.jdk.CollectionConverters._
      Files.list(java.nio.file.Paths.get(foreign)).iterator().asScala
        .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
    }
    val r2 = tmp()
    CommitLog.importSnapshot(r2,
      df.selectExpr("*", "CAST(NULL AS TIMESTAMP) AS ts").schema,
      parts.map(p => CommitLog.FileStat(p,
        spark.read.parquet(p).count())))
    CommitLog.refreshStats(spark, r2)
    val refreshed = statsOf(r2)
    // the untrusted-column pass ran: ts bounds exist, in unix micros
    refreshed.foreach(st =>
      assert(st.minsOrEmpty("ts").toLong >= 1700000000000000L, st.minsOrEmpty))
    check(r2, refreshed)
  }
}
