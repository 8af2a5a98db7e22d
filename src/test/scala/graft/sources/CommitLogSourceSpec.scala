package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkTestBase

class CommitLogSourceSpec extends SparkTestBase {

  private def table(): String = {
    val root = Files.createTempDirectory("graft-dsv1").toString
    (0 until 4).foreach { i =>
      CommitLog.append(spark.range(i * 100, i * 100 + 100)
        .selectExpr("id", s"'tag$i' AS tag"), root)
    }
    root
  }

  test("format('graft-commitlog') reads snapshots and time travel") {
    val root = table()
    val df = spark.read.format("graft-commitlog").load(root)
    assert(df.count() == 400)
    assert(df.schema.fieldNames.toSeq == Seq("id", "tag"))
    val v1 = spark.read.format("graft-commitlog")
      .option("version", 1).load(root)
    assert(v1.count() == 100)
    assert(v1.agg(max("id")).collect()(0).getLong(0) == 99L)
  }

  test("option('tag', name) reads the tagged snapshot by name") {
    val root = table()
    CommitLog.tag(root, "release", Some(2L))
    val df = spark.read.format("graft-commitlog")
      .option("tag", "release").load(root)
    assert(df.count() == 200)
    intercept[IllegalArgumentException](
      spark.read.format("graft-commitlog").option("tag", "nope").load(root))
  }

  test("WHERE clauses push down and skip files; results stay exact") {
    val root = table()
    val df = spark.read.format("graft-commitlog").load(root)
    // value correctness through the format API under pushed filters
    assert(df.filter(col("id") >= 150 && col("id") < 250).count() == 100)
    assert(df.filter(col("tag") === "tag0").agg(sum("id")).collect()(0).getLong(0) ==
      (0L until 100L).sum)
    // the pushed filters reach the manifest pruner: only matching file
    // sets are opened (commit 2's files for this range)
    val m = CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
    val pruned = CommitLog.pruneForSourceFilters(spark, m, Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("id", 150L),
      org.apache.spark.sql.sources.LessThan("id", 250L)))
    assert(pruned.size < m.files.size)
    assert(pruned.nonEmpty)
    // unsupported shapes prune nothing and stay correct
    val odd = df.filter((col("id") % 2) === 1)
    assert(odd.count() == 200)
    // a predicate pruning EVERY file yields an empty scan, not an error
    assert(df.filter(col("id") > 100000L).count() == 0)
    assert(df.filter(col("tag") === "absent").count() == 0)
  }

  test("streaming source tails commits: versions are offsets, batches are changes()") {
    val root = Files.createTempDirectory("graft-dsv1-stream").toString
    CommitLog.append(spark.range(3).toDF("id"), root)
    val q = spark.readStream.format("graft-commitlog").load(root)
      .writeStream.format("memory").queryName("cl_tail")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv1-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cl_tail").collect()(0).getLong(0) == 3)
      // new commits stream through as fresh micro-batches
      CommitLog.append(spark.range(3, 7).toDF("id"), root)
      CommitLog.append(spark.range(7, 8).toDF("id"), root)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cl_tail").collect()(0).getLong(0) == 8)
      assert(spark.sql("SELECT sum(id) FROM cl_tail").collect()(0).getLong(0) ==
        (0L until 8L).sum)
    } finally q.stop()
  }

  test("SQL DDL: CREATE TEMPORARY VIEW ... USING graft-commitlog") {
    val root = table()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW commitlog_sql
                 |USING `graft-commitlog` OPTIONS (path '$root')""".stripMargin)
    val n = spark.sql(
      "SELECT count(*) AS n FROM commitlog_sql WHERE id < 100")
      .collect()(0).getLong(0)
    assert(n == 100)
  }

  test("reads execute as vectorized FileScan with pushed filters skipping files") {
    val root = table()
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val df = spark.read.format("graft-commitlog").load(root)
        .filter(col("id") >= 150 && col("id") < 250)
      // the plan is Spark's own columnar parquet scan (codegen above it),
      // not a row-producing V1 relation scan
      val plan = df.queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size == 1, s"expected FileSourceScanExec in:\n$plan")
      assert(scans.head.metadata("PushedFilters").contains("GreaterThanOrEqual(id,150)"))
      // execute THIS plan (count() would build a fresh QueryExecution and
      // leave the inspected scan's metrics untouched)
      assert(df.collect().length == 100)
      // manifest-stats skipping: the scan opened only files whose id range
      // intersects [150, 250) — strictly fewer than the table's file count
      val total = CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
        .files.size
      val opened = scans.head.metrics("numFiles").value
      assert(opened < total, s"opened $opened of $total files — no skipping")
      assert(opened >= 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("an unpinned view tracks the table; a version-pinned read stays pinned") {
    val root = table()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW commitlog_live
                 |USING `graft-commitlog` OPTIONS (path '$root')""".stripMargin)
    val pinned = spark.read.format("graft-commitlog").option("version", 4).load(root)
    assert(spark.table("commitlog_live").count() == 400)
    CommitLog.append(spark.range(400, 500).selectExpr("id", "'tag4' AS tag"), root)
    // the view resolves the CURRENT snapshot per scan (no DDL-time freeze)
    assert(spark.table("commitlog_live").count() == 500)
    // time travel still pins
    assert(pinned.count() == 400)
  }

  test("SQL INSERT INTO / INSERT OVERWRITE land atomic commits through the log") {
    val root = table()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW commitlog_dml
                 |USING `graft-commitlog` OPTIONS (path '$root')""".stripMargin)
    val v0 = CommitLog.currentVersion(root).get
    spark.sql("INSERT INTO commitlog_dml SELECT id, 'sql' AS tag FROM range(400, 450)")
    val v1 = CommitLog.currentVersion(root).get
    assert(v1 == v0 + 1, "INSERT must be exactly one atomic commit")
    assert(CommitLog.readManifest(root, v1).op == "append")
    assert(spark.table("commitlog_dml").count() == 450)
    assert(spark.table("commitlog_dml").filter("tag = 'sql'").count() == 50)
    // INSERT only ever writes through the log — no stray files at the root
    import scala.jdk.CollectionConverters._
    val strays = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(strays == Set("_graft_log", "data"))
    spark.sql("INSERT OVERWRITE commitlog_dml SELECT id, 'ow' AS tag FROM range(7)")
    val v2 = CommitLog.currentVersion(root).get
    assert(CommitLog.readManifest(root, v2).op == "overwrite")
    assert(spark.table("commitlog_dml").count() == 7)
    // history intact: the pre-overwrite snapshot still reads
    assert(CommitLog.read(spark, root, Some(v1)).count() == 450)
  }

  test("df.write.format(graft-commitlog): append, overwrite, create-on-first-write") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsv2-w").toString
    // first write creates the table
    spark.range(5).selectExpr("id", "'a' AS tag")
      .write.format("graft-commitlog").mode("append").save(root)
    assert(CommitLog.currentVersion(root).contains(1L))
    assert(CommitLog.read(spark, root).count() == 5)
    spark.range(5, 8).selectExpr("id", "'b' AS tag")
      .write.format("graft-commitlog").mode("append").save(root)
    assert(CommitLog.read(spark, root).count() == 8)
    spark.range(3).selectExpr("id", "'c' AS tag")
      .write.format("graft-commitlog").mode("overwrite").save(root)
    assert(CommitLog.read(spark, root).count() == 3)
    assert(CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
      .op == "overwrite")
    // the whole history is commits — nothing wrote around the log
    assert(CommitLog.read(spark, root, Some(2L)).count() == 8)
  }

  test("df.write.partitionBy lands partitioned commits (exact pruning layout)") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsv2-p").toString
    spark.range(90).selectExpr("id",
      "CASE WHEN id % 3 = 0 THEN 'x' WHEN id % 3 = 1 THEN 'y' ELSE 'z' END AS k")
      .write.format("graft-commitlog").partitionBy("k").mode("append").save(root)
    val m = CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
    assert(m.partitionByOrNil == Seq("k"))
    assert(m.statsOrNil.size == 3)
    m.statsOrNil.foreach(s => assert(s.partitionsOrEmpty == Map("k" -> s.mins("k"))))
    assert(CommitLog.prunedFiles(spark, m, col("k") === "y").size == 1)
    // and the read path actually skips: data column intact through the scan
    assert(spark.read.format("graft-commitlog").load(root)
      .filter(col("k") === "y").count() == 30)
  }

  test("persistent catalog: CREATE TABLE USING graft-commitlog, DML by name, live reads") {
    val root = table()
    CatalogOps.createCommitLogTable(spark, "lake", "events_cl", root)
    try {
      assert(spark.table("lake.events_cl").count() == 400)
      spark.sql("INSERT INTO lake.events_cl SELECT id, 'cat' AS tag FROM range(400, 420)")
      assert(CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
        .op == "append")
      assert(spark.table("lake.events_cl").count() == 420)
      // an EXTERNAL writer's commit is visible with no re-registration:
      // the catalog stores a pointer, the log is the source of truth
      CommitLog.append(spark.range(420, 430).selectExpr("id", "'x' AS tag"), root)
      assert(spark.table("lake.events_cl").count() == 430)
      assert(spark.sql("SELECT sum(id) FROM lake.events_cl").collect()(0).getLong(0) ==
        (0L until 430L).sum)
    } finally spark.sql("DROP TABLE lake.events_cl")
  }

  test("a session that resolved a catalog table sees columns a later append added") {
    val root = Files.createTempDirectory("graft-dsv1-evolve").toString
    CommitLog.append(spark.range(3).toDF("id"), root)
    val s = spark.newSession()
    val name = s"cat_evolve_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    s.sql(s"CREATE TABLE $name USING `graft-commitlog` OPTIONS (path '$root')")
    try {
      val before = s.sql(s"SELECT * FROM $name")
      assert(before.columns.toSeq == Seq("id"))
      CommitLog.append(spark.range(3, 5).selectExpr("id", "id * 10 AS x"), root)
      val after = s.sql(s"SELECT * FROM $name")
      assert(after.columns.toSeq == Seq("id", "x"))
      assert(after.collect().map(r => (r.getLong(0), Option(r.get(1)))).sortBy(_._1).toSeq ==
        Seq((0L, None), (1L, None), (2L, None), (3L, Some(30L)), (4L, Some(40L))))
      // a frame resolved earlier keeps the columns it resolved with
      assert(before.count() == 5 && before.columns.toSeq == Seq("id"))
    } finally s.sql(s"DROP TABLE $name")
  }

  test("a new stream can start on a table with rewrite history (snapshot first batch)") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsv1-s2").toString
    CommitLog.append(spark.range(4).toDF("id"), root)
    CommitLog.append(spark.range(4, 6).toDF("id"), root)
    CommitLog.compact(spark, root) // rewrite PRE-DATING the stream
    val q = spark.readStream.format("graft-commitlog").load(root)
      .writeStream.format("memory").queryName("cl_tail2")
      .option("checkpointLocation",
        Files.createTempDirectory("graft-dsv1-ckpt2").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cl_tail2").collect()(0).getLong(0) == 6)
      CommitLog.append(spark.range(6, 9).toDF("id"), root)
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM cl_tail2").collect()(0).getLong(0) == 9)
    } finally q.stop()
  }

  test("CDC slice over SQL: changesFrom/changesTo options expose changes()") {
    val root = java.nio.file.Files.createTempDirectory("graft-dsv1-cdc").toString
    CommitLog.append(spark.range(10).selectExpr("id", "id * 2 AS v"), root)
    CommitLog.append(spark.range(10, 25).selectExpr("id", "id * 2 AS v"), root)
    CommitLog.append(spark.range(25, 30).selectExpr("id", "id * 2 AS v"), root)
    // (1, 3] = the second and third appends
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW cdc_slice USING `graft-commitlog` " +
      s"OPTIONS (path '$root', changesFrom '1', changesTo '3')")
    assert(spark.table("cdc_slice").count() == 20)
    assert(spark.sql("SELECT min(id), max(id) FROM cdc_slice").collect()(0)
      .toSeq == Seq(10L, 29L))
    // pushed filters apply as the residual condition
    assert(spark.sql("SELECT count(*) FROM cdc_slice WHERE id >= 25").collect()(0)
      .getLong(0) == 5L)
    // open-ended tail: changesTo defaults to the current version
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW cdc_tail USING `graft-commitlog` " +
      s"OPTIONS (path '$root', changesFrom '2')")
    assert(spark.table("cdc_tail").collect().map(_.getLong(0)).sorted.toSeq ==
      (25L until 30L))
    // a rewrite inside the range fails loudly (append-only contract) —
    // at relation creation, where changes() resolves the range
    CommitLog.compact(spark, root, nFiles = 1)
    val e = intercept[Exception] {
      spark.sql("CREATE OR REPLACE TEMPORARY VIEW cdc_bad USING `graft-commitlog` " +
        s"OPTIONS (path '$root', changesFrom '3')")
      spark.table("cdc_bad").count()
    }
    assert(e.getMessage.contains("append-only"))
  }
}
