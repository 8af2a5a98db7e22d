package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Merge-on-read DELETE via deletion vectors: positions die, files don't.
  * Covers the write path (DV commit shape, accumulation, full-file drop),
  * every read surface (Scala API, pruned scan, registered data source,
  * SQL), interop with the copy-on-write DML and maintenance ops, and the
  * vacuum/restore lifecycle.
  */
class CommitLogDVSpec extends SparkTestBase {
  import CommitLog._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-dv").toString

  private def ids(root: String): Seq[Long] =
    read(spark, root).select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** Single-file append, so tests can reason about exact file counts. */
  private def append1(df: org.apache.spark.sql.DataFrame, root: String): Long =
    append(df.coalesce(1), root)

  test("deleteDV removes rows without rewriting a single data file") {
    val root = tmpTable()
    append1(spark.range(10).selectExpr("id", "id * 2 AS v"), root)
    append1(spark.range(10, 20).selectExpr("id", "id * 2 AS v"), root)
    val before = readManifest(root, 2L)
    val v = deleteDV(spark, root, col("id") % 5 === 0)
    assert(v == 3L)
    val m = readManifest(root, 3L)
    // merge-on-read: the data file set is IDENTICAL — only DVs attached
    assert(m.files.sorted == before.files.sorted)
    assert(m.dvsOrEmpty.keySet == before.files.toSet) // both files had hits
    assert(m.op == "delete-dv")
    assert(ids(root) == (0L until 20L).filter(_ % 5 != 0))
    // the PRIOR version still reads every row (snapshot isolation)
    assert(read(spark, root, Some(2L)).count() == 20)
  }

  test("repeat deletes accumulate into ONE live DV per file") {
    val root = tmpTable()
    append1(spark.range(100).toDF("id"), root)
    deleteDV(spark, root, col("id") < 10)
    deleteDV(spark, root, col("id") >= 90)
    val m = readManifest(root, 3L)
    assert(m.dvsOrEmpty.size == 1) // one data file -> exactly one DV
    assert(ids(root) == (10L until 90L))
    // a row already dead cannot match again: deleting an overlapping range
    // unions positions, never duplicates them
    deleteDV(spark, root, col("id") < 50)
    assert(ids(root) == (50L until 90L))
  }

  test("a file whose every row dies is dropped from the snapshot, not DV'd") {
    val root = tmpTable()
    append1(spark.range(5).toDF("id"), root) // file A: 0..4
    append1(spark.range(5, 9).toDF("id"), root) // file B: 5..8
    deleteDV(spark, root, col("id") < 6) // kills ALL of A, part of B
    val m = readManifest(root, 3L)
    assert(m.files.size == 1) // A is gone outright
    assert(m.dvsOrEmpty.size == 1) // B carries the partial DV
    assert(ids(root) == (6L until 9L))
  }

  test("copy-on-write DML on a DV table cannot resurrect dead rows") {
    val root = tmpTable()
    append1(spark.range(20).selectExpr("id", "id AS v"), root)
    deleteDV(spark, root, col("id") % 2 === 1) // odd rows die
    // UPDATE touches the (only) file -> copy-on-write rewrite must carry
    // live rows only and drop the file's DV
    update(spark, root, Seq("v" -> lit(-1L)), col("id") < 4)
    val m = readManifest(root, currentVersion(root).get)
    assert(m.dvsOrEmpty.isEmpty) // rewrite materialized the DV away
    val rows = read(spark, root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.keySet == (0L until 20L by 2).toSet)
    assert(rows(0L) == -1L && rows(2L) == -1L && rows(4L) == 4L)
  }

  test("merge on a DV table sees live rows only") {
    val root = tmpTable()
    append(spark.range(10).selectExpr("id", "CAST(id AS DOUBLE) AS v"), root)
    deleteDV(spark, root, col("id") === 7)
    // source upserts ids 6..8: 7 is dead, so it must INSERT (not update)
    val src = spark.range(6, 9).selectExpr("id", "CAST(100 AS DOUBLE) AS v")
    merge(spark, root, src, Seq("id"))
    val rows = read(spark, root).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows.size == 10)
    assert(rows(6L) == 100.0 && rows(7L) == 100.0 && rows(8L) == 100.0)
    assert(rows(5L) == 5.0)
  }

  test("purgeDeletionVectors rewrites exactly the DV'd files and clears DVs") {
    val root = tmpTable()
    append1(spark.range(10).toDF("id"), root) // file A
    append1(spark.range(10, 20).toDF("id"), root) // file B
    deleteDV(spark, root, col("id") === 3) // DV only on A
    val before = readManifest(root, 3L)
    val untouched = before.files.filterNot(before.dvsOrEmpty.contains)
    purgeDeletionVectors(spark, root)
    val m = readManifest(root, 4L)
    assert(m.op == "purge-dv")
    assert(m.dvsOrEmpty.isEmpty)
    assert(untouched.forall(m.files.contains)) // B moved by reference
    assert(!m.files.exists(before.dvsOrEmpty.contains)) // A was rewritten
    assert(ids(root) == (0L until 20L).filterNot(_ == 3L))
    // idempotent: nothing left to purge -> no new commit
    assert(purgeDeletionVectors(spark, root) == 4L)
  }

  test("RESTORE reverts deletion-vector state along with the data") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root) // v1
    deleteDV(spark, root, col("id") < 3) // v2
    restore(root, 1L) // v3: rows back, DV map gone
    assert(readManifest(root, 3L).dvsOrEmpty.isEmpty)
    assert(ids(root) == (0L until 10L))
    restore(root, 2L) // v4: the delete is back
    assert(readManifest(root, 4L).dvsOrEmpty.nonEmpty)
    assert(ids(root) == (3L until 10L))
  }

  test("vacuum keeps live DV files and reclaims orphaned ones") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root)
    deleteDV(spark, root, col("id") === 0)
    val dvRel = readManifest(root, 2L).dvsOrEmpty.values.head
    vacuum(root, keepVersions = 1, retentionMs = 0L)
    assert(Files.exists(java.nio.file.Paths.get(root, dvRel))) // still live
    assert(ids(root) == (1L until 10L))
    purgeDeletionVectors(spark, root) // v3: DV now unreferenced by current
    vacuum(root, keepVersions = 1, retentionMs = 0L)
    assert(!Files.exists(java.nio.file.Paths.get(root, dvRel))) // reclaimed
    assert(ids(root) == (1L until 10L))
  }

  test("changes() refuses a range containing a deletion-vector commit") {
    val root = tmpTable()
    append(spark.range(5).toDF("id"), root)
    deleteDV(spark, root, col("id") === 1)
    append(spark.range(5, 8).toDF("id"), root)
    val e = intercept[IllegalArgumentException](
      changes(spark, root, 1L, 3L).count())
    assert(e.getMessage.contains("delete-dv"))
  }

  test("a set-props commit after a DV delete carries no DVs: changes() " +
      "passes it and changedFileStats removes nothing for it") {
    val root = tmpTable()
    append1(spark.range(10).toDF("id"), root)
    deleteDV(spark, root, col("id") === 4)
    setTableProperties(root, Map("owner" -> "x"))
    append(spark.range(10, 11).toDF("id"), root)
    val cur = currentVersion(root).get
    assert(changes(spark, root, cur - 2, cur).collect().map(_.getLong(0))
      .toSeq == Seq(10L))
    val props = changedFileStats(root, cur - 2, cur)
      .find(_._2 == "set-props").get
    assert(props._3.isEmpty && props._4.isEmpty)
    // the DV itself still holds
    assert(ids(root) == (0L to 10L).filter(_ != 4L))
  }

  test("changedFileStats surfaces DV'd files as removed-range stats") {
    val root = tmpTable()
    append1(spark.range(10).toDF("id"), root)
    deleteDV(spark, root, col("id") === 4)
    val Seq((v, op, added, removed)) = changedFileStats(root, 1L, 2L)
    assert(v == 2L && op == "delete-dv" && added.isEmpty)
    assert(removed.size == 1) // the DV'd file's stats: its range changed
    assert(removed.head.minsOrEmpty("id") == "0")
  }

  test("registered data source reads DV snapshots (merge-on-read relation)") {
    val root = tmpTable()
    append(spark.range(30).selectExpr("id", "id % 3 AS g"), root)
    deleteDV(spark, root, col("id") >= 20)
    val df = spark.read.format("graft-commitlog").load(root)
    assert(df.count() == 20)
    // filters still evaluate correctly through the MoR scan
    assert(df.filter(col("g") === 1).count() == 7) // 1,4,7,10,13,16,19
    // time travel through the source: pre-delete version sees every row
    assert(spark.read.format("graft-commitlog").option("version", 1)
      .load(root).count() == 30)
    // aggregation over a pruned projection
    assert(df.agg(sum("id")).collect()(0).getLong(0) == (0L until 20L).sum)
    // time travel through a temp view over the DV snapshot
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW dv_tt USING `graft-commitlog` " +
      s"OPTIONS (path '$root')")
    assert(spark.sql("SELECT count(*) FROM dv_tt VERSION AS OF 1")
      .collect()(0).getLong(0) == 30)
  }

  test("a frame made before DVs landed reads its analyzed snapshot") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root)
    val stale = spark.read.format("graft-commitlog").load(root)
    assert(stale.count() == 10)
    deleteDV(spark, root, col("id") === 0)
    // the frame's own plan was analyzed before the DV commit: it reads
    // that one snapshot whole (Delta's one-snapshot-per-query rule), never
    // a mix of the two versions
    assert(stale.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    // count() analyzes a new query over the frame, which re-routes it
    assert(stale.count() == 9)
    assert(spark.read.format("graft-commitlog").load(root).count() == 9)
  }

  test("a session that resolved a catalog table reads it again after a DV commit") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root)
    val s = spark.newSession()
    val name = s"dv_cat_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    s.sql(s"CREATE TABLE $name USING `graft-commitlog` OPTIONS (path '$root')")
    try {
      assert(s.table(name).count() == 10)
      deleteDV(spark, root, col("id") === 0)
      assert(s.table(name).collect().map(_.getLong(0)).sorted.toSeq == (1L until 10L))
      assert(s.sql(s"SELECT count(*) FROM $name").collect()(0).getLong(0) == 9)
      // the session's next relation still writes through the log
      s.sql(s"INSERT INTO $name VALUES (42)")
      assert(readManifest(root, currentVersion(root).get).op == "append")
      assert(s.table(name).collect().map(_.getLong(0)).sorted.toSeq ==
        ((1L until 10L) :+ 42L))
    } finally s.sql(s"DROP TABLE $name")
  }

  test("a temp view created before a DV commit reads the new snapshot") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW dv_before USING `graft-commitlog` " +
      s"OPTIONS (path '$root')")
    assert(spark.table("dv_before").count() == 10)
    deleteDV(spark, root, col("id") === 0)
    assert(spark.table("dv_before").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L until 10L))
    assert(spark.sql("SELECT count(*) FROM dv_before").collect()(0).getLong(0) == 9)
  }

  test("SQL DELETE routes to DVs under the session flag; default stays CoW") {
    val root = tmpTable()
    append(spark.range(10).toDF("id"), root)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_t USING `graft-commitlog` OPTIONS (path '$root')")
    spark.conf.set("spark.graft.commitlog.deletionVectors", "true")
    try spark.sql("DELETE FROM dv_t WHERE id = 5")
    finally spark.conf.unset("spark.graft.commitlog.deletionVectors")
    assert(readManifest(root, 2L).op == "delete-dv")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_t2 USING `graft-commitlog` OPTIONS (path '$root')")
    spark.sql("DELETE FROM dv_t2 WHERE id = 6")
    assert(readManifest(root, 3L).op == "delete")
    assert(spark.sql("SELECT id FROM dv_t2").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(0L, 1L, 2L, 3L, 4L, 7L, 8L, 9L))
  }

  test("updateDV: one commit, matched rows re-staged, everything else by reference") {
    val root = tmpTable()
    append1(spark.range(100).selectExpr("id", "id AS v"), root)
    append1(spark.range(100, 200).selectExpr("id", "id AS v"), root)
    val before = readManifest(root, 2L)
    val ver = updateDV(spark, root, Seq("v" -> lit(-7L)), col("id") % 40 === 0)
    assert(ver == 3L)
    val m = readManifest(root, 3L)
    assert(m.op == "update-dv")
    // both original files survive (each was only partially matched)...
    assert(before.files.forall(m.files.contains))
    // ...with a DV each, plus the appended update images
    assert(m.dvsOrEmpty.keySet == before.files.toSet)
    assert(m.files.size > before.files.size)
    val rows = read(spark, root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.size == 200)
    (0L until 200L).foreach { i =>
      assert(rows(i) == (if (i % 40 == 0) -7L else i), s"id $i")
    }
    // snapshot isolation: pre-update version unchanged
    assert(read(spark, root, Some(2L)).filter(col("v") === -7L).count() == 0)
  }

  test("updateDV equals copy-on-write update; repeat updates converge") {
    val root = tmpTable()
    val cowRoot = tmpTable()
    val src = spark.range(50).selectExpr("id", "id * 10 AS v").coalesce(2)
    append(src, root); append(src, cowRoot)
    updateDV(spark, root, Seq("v" -> (col("v") + 1L)), col("id") < 20)
    update(spark, cowRoot, Seq("v" -> (col("v") + 1L)), col("id") < 20)
    // second MoR update over an overlapping range (hits appended images too)
    updateDV(spark, root, Seq("v" -> (col("v") * 2L)), col("id") < 10)
    update(spark, cowRoot, Seq("v" -> (col("v") * 2L)), col("id") < 10)
    val a = read(spark, root).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = read(spark, cowRoot).orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(a == b)
    // SQL UPDATE routes through DVs under the session flag
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_u USING `graft-commitlog` OPTIONS (path '$root')")
    spark.conf.set("spark.graft.commitlog.deletionVectors", "true")
    try spark.sql("UPDATE dv_u SET v = 0 WHERE id = 42")
    finally spark.conf.unset("spark.graft.commitlog.deletionVectors")
    assert(readManifest(root, currentVersion(root).get).op == "update-dv")
    assert(read(spark, root).filter(col("id") === 42).collect()(0).getLong(1) == 0L)
  }

  test("REORG TABLE ... APPLY (PURGE) materializes DVs through SQL") {
    val root = tmpTable()
    append1(spark.range(10).toDF("id"), root)
    deleteDV(spark, root, col("id") < 2)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_reorg USING `graft-commitlog` OPTIONS (path '$root')")
    val v = spark.sql("REORG TABLE dv_reorg APPLY (PURGE)")
      .collect()(0).getLong(0)
    assert(v == 3L)
    assert(readManifest(root, 3L).dvsOrEmpty.isEmpty)
    assert(ids(root) == (2L until 10L))
  }

  test("DVs on partitioned tables with URI-special partition values") {
    val root = tmpTable()
    val df = spark.range(12).selectExpr(
      "id", "CASE WHEN id % 2 = 0 THEN 'big sale' ELSE 'a=b+c' END AS etype")
    append(df, root, partitionBy = Seq("etype"))
    deleteDV(spark, root, col("id") < 4) // hits both partition dirs
    assert(ids(root) == (4L until 12L))
    assert(read(spark, root).filter(col("etype") === "big sale").count() == 4)
    // positions must have round-tripped the %-encoded paths exactly:
    // a second overlapping delete still converges
    deleteDV(spark, root, col("id") < 6)
    assert(ids(root) == (6L until 12L))
  }

  test("DESCRIBE DETAIL reports DV-aware row counts from metadata + DV files only") {
    val root = tmpTable()
    append1(spark.range(100).selectExpr("id", "id AS v"), root)
    deleteDV(spark, root, col("id") < 10)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_d USING `graft-commitlog` OPTIONS (path '$root')")
    val r = spark.sql("DESCRIBE DETAIL dv_d").collect()(0)
    assert(r.getAs[String]("format") == "graft-commitlog")
    assert(r.getAs[Long]("version") == 2L)
    assert(r.getAs[Long]("num_files") == 1L)
    assert(r.getAs[Long]("num_rows") == 90L) // 100 staged - 10 DV-dead
    assert(r.getAs[Long]("num_deletion_vectors") == 1L)
    assert(r.getAs[Long]("last_modified_ms") > 0L)
  }

  test("SQL MERGE INTO a DV-bearing table goes through the merge-on-read target") {
    val root = tmpTable()
    append1(spark.range(10).selectExpr("id", "id AS v"), root)
    deleteDV(spark, root, col("id") === 4)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dv_m USING `graft-commitlog` OPTIONS (path '$root')")
    spark.range(3, 6).selectExpr("id", "id * 100 AS v")
      .createOrReplaceTempView("dv_m_src")
    spark.sql("""MERGE INTO dv_m t USING dv_m_src s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = read(spark, root).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 was dead -> the source row INSERTS it; 3 and 5 update in place
    assert(rows(3L) == 300L && rows(4L) == 400L && rows(5L) == 500L)
    assert(rows(2L) == 2L && rows.size == 10)
  }

  test("racing DV deletes: losers retry against the fresh DV state and all land") {
    val root = tmpTable()
    append1(spark.range(1000).toDF("id"), root)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        try CommitLog.withRetry(maxRetries = 10) {
          deleteDV(spark, root, col("id") % 100 === t)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"racing deleteDV failed: ${errs.peek()}")
    // every delete landed exactly once: a retry re-reads the winner's DV
    // state and unions into it, never clobbers it
    assert(ids(root) == (0L until 1000L).filterNot(i => i % 100 <= 2))
    assert(currentVersion(root).contains(4L)) // 1 append + 3 delete commits
  }

  test("pruned scan over a DV snapshot skips files AND applies DVs") {
    val root = tmpTable()
    (0L until 4L).foreach { i =>
      append1(spark.range(i * 100, (i + 1) * 100).toDF("id"), root)
    }
    deleteDV(spark, root, col("id") % 100 === 50)
    val pred = col("id") >= 100 && col("id") < 200
    val pruned = prunedFiles(spark, readManifest(root, currentVersion(root).get), pred)
    assert(pruned.size == 1) // stats still prune to the one file
    val got = readPruned(spark, root, pred).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(got.length == 99 && !got.contains(150L))
  }
}
