package graft.plans

import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.CommitLog

/** SQL-level row DML + time travel on commitlog tables, through the
  * injected analyzer rules (GraftExtensions is active in the shared test
  * session via spark.sql.extensions).
  */
class CommitLogSqlDmlSpec extends SparkTestBase {

  private def freshTable(rows: Seq[(Long, String, Double)]): (String, String) = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sqldml").toString
    CommitLog.append(rows.toDF("k", "s", "v"), root)
    val view = s"sqldml_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    (root, view)
  }

  private def snapshot(view: String): Seq[(Long, String, Double)] =
    spark.table(view).orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("SQL DELETE commits copy-on-write and leaves other rows intact") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(s"DELETE FROM $view WHERE k = 2")
    assert(snapshot(view) == Seq((1L, "a", 10.0), (3L, "c", 30.0)))
    assert(CommitLog.readManifest(root, 2L).op == "delete")
    // pre-delete snapshot still readable
    assert(CommitLog.read(spark, root, Some(1L)).count() == 3)
  }

  test("SQL UPDATE applies assignments to matching rows only") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(s"UPDATE $view SET v = v * 2, s = concat(s, '!') WHERE k = 1")
    assert(snapshot(view) == Seq((1L, "a!", 20.0), (2L, "b", 20.0)))
    assert(CommitLog.readManifest(root, 2L).op == "update")
    // no matching rows → no-op, no new commit
    spark.sql(s"UPDATE $view SET v = 0 WHERE k = 999")
    assert(CommitLog.currentVersion(root).contains(2L))
  }

  test("DELETE and UPDATE land on a declared-empty catalog table after its first INSERT") {
    val root = Files.createTempDirectory("graft-sqldml-decl").toString + "/t"
    val name = s"decl_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE TABLE $name (id BIGINT) USING `graft-commitlog` " +
      s"OPTIONS (path '$root')")
    try {
      spark.sql(s"INSERT INTO $name VALUES (1), (2), (3)")
      spark.sql(s"DELETE FROM $name WHERE id = 1")
      spark.sql(s"UPDATE $name SET id = 20 WHERE id = 2")
      assert(spark.table(name).collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 20L))
    } finally spark.sql(s"DROP TABLE $name")
  }

  test("SQL UPDATE rewrites only files containing matches") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sqldml").toString
    // two files with disjoint key ranges
    CommitLog.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"), root)
    CommitLog.append(Seq((10L, "x", 1.0), (11L, "y", 2.0)).toDF("k", "s", "v"), root)
    val before = CommitLog.readManifest(root, 2L)
    val untouched = before.statsOrNil.filter(_.mins("k").toLong >= 10L).map(_.path)
    assert(untouched.nonEmpty)
    val view = s"sqldml_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    spark.sql(s"UPDATE $view SET v = -1 WHERE k <= 2")
    val after = CommitLog.readManifest(root, 3L)
    assert(untouched.toSet.subsetOf(after.files.toSet)) // survived by reference
    assert(snapshot(view) ==
      Seq((1L, "a", -1.0), (2L, "b", -1.0), (10L, "x", 1.0), (11L, "y", 2.0)))
  }

  test("SQL MERGE: conditional delete, star update, star insert") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(
      s"""MERGE INTO $view t USING (
         |  SELECT 1L AS k, 'DEL' AS s, 0.0 AS v UNION ALL
         |  SELECT 3L, 'up', 33.0 UNION ALL
         |  SELECT 9L, 'new', 90.0) src
         |ON t.k = src.k
         |WHEN MATCHED AND src.s = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(snapshot(view) == Seq((2L, "b", 20.0), (3L, "up", 33.0), (9L, "new", 90.0)))
    assert(CommitLog.readManifest(root, 2L).op == "merge")
  }

  test("SQL MERGE: an UNMATCHED source row flagged for delete still inserts") {
    val (_, view) = freshTable(Seq((1L, "a", 10.0)))
    // key 7 does not match; its s='DEL' must NOT suppress the insert —
    // WHEN MATCHED DELETE only ever applies to matched rows.
    spark.sql(
      s"""MERGE INTO $view t USING (SELECT 7L AS k, 'DEL' AS s, 70.0 AS v) src
         |ON t.k = src.k
         |WHEN MATCHED AND src.s = 'DEL' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(snapshot(view) == Seq((1L, "a", 10.0), (7L, "DEL", 70.0)))
  }

  test("SQL MERGE: update-only (no WHEN NOT MATCHED) drops unmatched source rows") {
    val (_, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(
      s"""MERGE INTO $view t USING (
         |  SELECT 2L AS k, 'upd' AS s, 22.0 AS v UNION ALL
         |  SELECT 9L, 'ghost', 0.0) src
         |ON t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(snapshot(view) == Seq((1L, "a", 10.0), (2L, "upd", 22.0)))
  }

  test("SQL MERGE: insert-only leaves matched target files untouched") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    val before = CommitLog.readManifest(root, 1L).files.toSet
    spark.sql(
      s"""MERGE INTO $view t USING (
         |  SELECT 2L AS k, 'nope' AS s, 0.0 AS v UNION ALL
         |  SELECT 5L, 'io', 50.0) src
         |ON t.k = src.k
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(snapshot(view) == Seq((1L, "a", 10.0), (2L, "b", 20.0), (5L, "io", 50.0)))
    // no target file rewritten: pure append commit
    val after = CommitLog.readManifest(root, 2L)
    assert(before.subsetOf(after.files.toSet))
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE DELETE syncs the table to the snapshot") {
    val (root, view) = freshTable(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(
      s"""MERGE INTO $view t USING (
         |  SELECT 2L AS k, 'b2' AS s, 22.0 AS v UNION ALL
         |  SELECT 4L, 'd', 40.0) src
         |ON t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // table ≡ snapshot: 1 and 3 (absent from source) deleted
    assert(snapshot(view) == Seq((2L, "b2", 22.0), (4L, "d", 40.0)))
    assert(CommitLog.readManifest(root, 2L).op == "merge")
  }

  test("SQL MERGE: conditional BY SOURCE DELETE leaves out-of-scope files by reference") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sqldml").toString
    // two files with disjoint key ranges; the clause condition only ever
    // holds in the first, so the second must carry over unrewritten
    CommitLog.append(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v"), root)
    CommitLog.append(Seq((10L, "x", 1.0), (11L, "y", 2.0)).toDF("k", "s", "v"), root)
    val before = CommitLog.readManifest(root, 2L)
    val outOfScope = before.statsOrNil.filter(_.mins("k").toLong >= 10L).map(_.path)
    assert(outOfScope.nonEmpty)
    val view = s"sqldml_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    spark.sql(
      s"""MERGE INTO $view t USING (SELECT 1L AS k, 'a2' AS s, 12.0 AS v) src
         |ON t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN DELETE""".stripMargin)
    assert(snapshot(view) == Seq((1L, "a2", 12.0), (10L, "x", 1.0), (11L, "y", 2.0)))
    val after = CommitLog.readManifest(root, 3L)
    assert(outOfScope.forall(after.files.contains),
      "files outside the BY SOURCE condition's scope must move by reference")
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE UPDATE rewrites stale rows in place") {
    val (root, view) = freshTable(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    spark.sql(
      s"""MERGE INTO $view t USING (SELECT 2L AS k, 'b2' AS s, 22.0 AS v) src
         |ON t.k = src.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND t.v < 30.0
         |  THEN UPDATE SET s = concat(t.s, '-stale'), v = -t.v""".stripMargin)
    // 1 is unmatched and v<30 → rewritten; 3 unmatched but v=30 → untouched
    assert(snapshot(view) ==
      Seq((1L, "a-stale", -10.0), (2L, "b2", 22.0), (3L, "c", 30.0)))
    assert(CommitLog.readManifest(root, 2L).op == "merge")
  }

  test("SQL MERGE: BY SOURCE with no WHEN MATCHED keeps matched rows unchanged") {
    val (_, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(
      s"""MERGE INTO $view t USING (SELECT 1L AS k, 'IGNORED' AS s, 0.0 AS v) src
         |ON t.k = src.k
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    // 1 matched → survives with its TARGET values; 2 unmatched → deleted
    assert(snapshot(view) == Seq((1L, "a", 10.0)))
  }

  test("Scala applySnapshot: full sync and partition-scoped sync") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-sqldml").toString
    CommitLog.append(
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "s", "v"),
      root)
    // scoped sync: only rows with k <= 2 are in scope — 3 survives even
    // though the snapshot doesn't carry it
    CommitLog.applySnapshot(spark, root,
      Seq((1L, "a2", 11.0)).toDF("k", "s", "v"), Seq("k"),
      scope = Some(org.apache.spark.sql.functions.col("k") <= 2))
    assert(CommitLog.read(spark, root).orderBy("k").collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))) ==
      Seq((1L, "a2", 11.0), (3L, "c", 30.0)))
    // full sync: table ≡ snapshot
    CommitLog.applySnapshot(spark, root,
      Seq((5L, "e", 50.0)).toDF("k", "s", "v"), Seq("k"))
    assert(CommitLog.read(spark, root).orderBy("k").collect().toSeq.map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))) == Seq((5L, "e", 50.0)))
  }

  test("SQL MERGE: unsupported shapes fail with a clear message") {
    val (_, view) = freshTable(Seq((1L, "a", 10.0)))
    def bad(sql: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(_.isInstanceOf[UnsupportedOperationException]),
        s"expected UnsupportedOperationException, got $e")
    }
    // partial SET list (not a full-row star)
    bad(s"""MERGE INTO $view t USING (SELECT 1L AS k, 'x' AS s, 1.0 AS v) src
           |ON t.k = src.k WHEN MATCHED THEN UPDATE SET v = src.v""".stripMargin)
    // non-equi ON
    bad(s"""MERGE INTO $view t USING (SELECT 1L AS k, 'x' AS s, 1.0 AS v) src
           |ON t.k < src.k WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    // conditional insert
    bad(s"""MERGE INTO $view t USING (SELECT 1L AS k, 'x' AS s, 1.0 AS v) src
           |ON t.k = src.k WHEN NOT MATCHED AND src.v > 0 THEN INSERT *""".stripMargin)
    // BY SOURCE condition referencing source columns: Spark's own analyzer
    // resolves the clause against the target-only scope and rejects it
    // before our rule runs (the rule's guard is defense-in-depth)
    intercept[org.apache.spark.sql.AnalysisException](spark.sql(
      s"""MERGE INTO $view t USING (SELECT 1L AS k, 'x' AS s, 1.0 AS v) src
         |ON t.k = src.k WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED BY SOURCE AND src.v > 0 THEN DELETE""".stripMargin))
  }

  test("SQL time travel: VERSION AS OF number and tag, TIMESTAMP AS OF") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0)))
    spark.sql(s"DELETE FROM $view WHERE k = 1")
    CommitLog.tag(root, "before-del", Some(1L))
    assert(spark.sql(s"SELECT * FROM $view").count() == 0)
    assert(spark.sql(s"SELECT * FROM $view VERSION AS OF 1").count() == 1)
    assert(spark.sql(s"SELECT * FROM $view VERSION AS OF 'before-del'").count() == 1)
    // session tz is UTC → format the v1 commit instant as a UTC SQL string
    val ms1 = CommitLog.history(spark, root).orderBy("version")
      .collect()(0).getTimestamp(2).getTime
    val ts1 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(ms1))
    assert(spark.sql(s"SELECT * FROM $view TIMESTAMP AS OF '$ts1'").count() == 1)
    // the reader option accepts the same SQL timestamp string (and millis)
    assert(spark.read.format("graft-commitlog")
      .option("timestampAsOf", ts1).load(root).count() == 1)
    assert(spark.read.format("graft-commitlog")
      .option("timestampAsOf", ms1.toString).load(root).count() == 1)
  }

  test("SQL ANALYZE TABLE refreshes stats for an imported by-reference " +
      "snapshot so pruning lights up") {
    val ext = java.nio.file.Files.createTempDirectory("graft-an-ext")
    val root = java.nio.file.Files.createTempDirectory("graft-an").toString
    val t = java.nio.file.Files.createTempDirectory("graft-an-w")
    spark.range(100).selectExpr("id").coalesce(1)
      .write.mode("overwrite").parquet(t.toString)
    import scala.jdk.CollectionConverters._
    val part = java.nio.file.Files.list(t).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    val data = ext.resolve("f.parquet")
    java.nio.file.Files.move(part, data)
    CommitLog.importSnapshot(root, spark.range(1).selectExpr("id").schema,
      Seq(CommitLog.FileStat(data.toString, 100L, 1L)))
    val view = s"an_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    def m = CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
    assert(m.statsOrNil.head.mins.isEmpty)
    val v = spark.sql(s"ANALYZE TABLE $view COMPUTE STATISTICS")
      .collect().head.getLong(0)
    assert(v == 2L)
    assert(m.statsOrNil.head.mins.nonEmpty)
    // ANALYZE of a non-commitlog table still routes to Spark's own
    spark.range(3).write.mode("overwrite").saveAsTable("an_plain")
    spark.sql("ANALYZE TABLE an_plain COMPUTE STATISTICS")
  }

  test("cluster.by policy: a bare OPTIMIZE follows the declared layout, " +
      "and a typo'd policy is rejected at SET time") {
    val (root, view) = freshTable(
      (1L to 64L).map(i => (i, s"s$i", i.toDouble)))
    CommitLog.setTableProperties(root, Map("cluster.by" -> "hilbert:k,v"), Nil)
    val v = spark.sql(s"OPTIMIZE $view").collect().head.getLong(0)
    val op = spark.sql(s"DESCRIBE HISTORY $view")
      .filter(s"version = $v").select("op").collect().head.getString(0)
    assert(op == "cluster", s"policy OPTIMIZE committed '$op'")
    assert(snapshot(view) == (1L to 64L).map(i => (i, s"s$i", i.toDouble)))
    // WHERE-scoped OPTIMIZE stays a plain scoped compaction despite the
    // policy (a no-op scope returns the current version without a commit)
    val v2 = spark.sql(s"OPTIMIZE $view WHERE k <= 3").collect().head.getLong(0)
    val op2 = spark.sql(s"DESCRIBE HISTORY $view")
      .filter(s"version = $v2").select("op").collect().head.getString(0)
    assert(v2 == v || op2 != "cluster", s"scoped OPTIMIZE clustered: '$op2'")
    // unknown curve refuses at the SET, not at the maintenance window
    val e = intercept[Exception] {
      CommitLog.setTableProperties(root, Map("cluster.by" -> "hibert:k"), Nil)
    }
    assert(e.getMessage.contains("cluster.by"))
  }

  test("policy clustering is INCREMENTAL: only debt files rewrite, the " +
      "clustered bulk carries by reference, no debt = no commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-liquid").toString
    CommitLog.append((1L to 64L).map(i => (i, i * 2, i.toDouble))
      .toDF("a", "b", "v"), root)
    CommitLog.setTableProperties(root, Map("cluster.by" -> "hilbert:a,b"), Nil)
    val view = s"liq_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    // first OPTIMIZE: no prior cluster commit → full cluster
    val v1 = spark.sql(s"OPTIMIZE $view").collect().head.getLong(0)
    val clustered = CommitLog.readManifest(root, v1).files.toSet
    assert(CommitLog.readManifest(root, v1).op == "cluster")
    // new data lands AFTER the cluster
    CommitLog.append((100L to 131L).map(i => (i, i * 2, i.toDouble))
      .toDF("a", "b", "v"), root)
    // second OPTIMIZE: incremental — clustered bulk must survive by
    // reference, only the debt rewrites
    val v2 = spark.sql(s"OPTIMIZE $view").collect().head.getLong(0)
    val m2 = CommitLog.readManifest(root, v2)
    assert(m2.op == "cluster")
    assert(clustered.subsetOf(m2.files.toSet),
      "previously-clustered files were rewritten by the incremental pass")
    assert(spark.table(view).count() == 96L)
    assert(spark.table(view).agg(org.apache.spark.sql.functions.sum("a"))
      .collect().head.getLong(0) == (1L to 64L).sum + (100L to 131L).sum)
    // third OPTIMIZE: zero debt → no-op, no new commit
    val v3 = spark.sql(s"OPTIMIZE $view").collect().head.getLong(0)
    assert(v3 == v2, s"debt-free OPTIMIZE committed $v3 over $v2")
  }

  test("SQL OPTIMIZE and VACUUM: compaction, zorder, retention-guarded reclaim") {
    import spark.implicits._
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    CommitLog.append(Seq((3L, "c", 30.0)).toDF("k", "s", "v"), root)
    CommitLog.append(Seq((4L, "d", 40.0)).toDF("k", "s", "v"), root)

    // OPTIMIZE compacts the small files into one and returns the version
    val v = spark.sql(s"OPTIMIZE $view").collect().head.getLong(0)
    assert(CommitLog.readManifest(root, v).op == "optimize")
    assert(snapshot(view).map(_._1) == Seq(1L, 2L, 3L, 4L))

    // ZORDER BY rewrites as a cluster commit, content unchanged
    val v2 = spark.sql(s"OPTIMIZE $view ZORDER BY (k, v)").collect().head.getLong(0)
    assert(CommitLog.readManifest(root, v2).op == "cluster")
    assert(snapshot(view).map(_._1) == Seq(1L, 2L, 3L, 4L))

    // DRY RUN lists the reclaim candidates without touching anything
    val dry = spark.sql(s"VACUUM $view RETAIN 0 HOURS DRY RUN").collect()
      .map(_.getString(0))
    assert(dry.nonEmpty && dry.forall(_.startsWith("data/")))
    assert(CommitLog.read(spark, root, Some(1L)).count() >= 0) // untouched

    // VACUUM RETAIN 0 HOURS reclaims the superseded pre-optimize files:
    // the current snapshot still reads, the pre-optimize version is gone
    spark.sql(s"VACUUM $view RETAIN 0 HOURS")
    assert(snapshot(view).map(_._1) == Seq(1L, 2L, 3L, 4L))
    intercept[Exception] { CommitLog.read(spark, root, Some(1L)).collect() }

    // a non-commitlog target fails with the clear message, not a parse error
    val plain = s"plain_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    Seq((1, "x")).toDF("a", "b").createOrReplaceTempView(plain)
    val err = intercept[UnsupportedOperationException] {
      spark.sql(s"OPTIMIZE $plain").collect()
    }
    assert(err.getMessage.contains("not a commitlog table"))
    // everything else still parses through the delegate untouched
    assert(spark.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
  }

  test("OPTIMIZE ... WHERE compacts only the predicate's files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-optwhere").toString
    // partitioned table: 3 small files per partition value
    (0 until 3).foreach { i =>
      CommitLog.append(
        Seq((i.toLong, "a", 1.0), (i + 10L, "b", 2.0)).toDF("k", "s", "v"),
        root, partitionBy = Seq("s"))
    }
    val m0 = CommitLog.readManifest(root, 3L)
    assert(m0.files.size == 6)
    val view = s"optw_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $view " +
      s"USING `graft-commitlog` OPTIONS (path '$root')")
    // scope to partition 'a': its 3 files compact, partition 'b' untouched
    val v = spark.sql(s"OPTIMIZE $view WHERE s = 'a'").collect().head.getLong(0)
    val m1 = CommitLog.readManifest(root, v)
    val parts = m1.statsOrNil.groupBy(_.partitionsOrEmpty.get("s"))
    assert(parts(Some("a")).size == 1, s"partition a not compacted: ${m1.files}")
    assert(parts(Some("b")).size == 3, s"partition b was touched: ${m1.files}")
    assert(spark.table(view).count() == 6) // rows never drop
    // Scala API Column form scopes identically
    val v2 = CommitLog.optimize(spark, root, where = Some(col("s") === "b"))
    val m2 = CommitLog.readManifest(root, v2)
    assert(m2.statsOrNil.groupBy(_.partitionsOrEmpty.get("s"))
      .forall(_._2.size == 1))
    assert(spark.table(view).count() == 6)
    // WHERE + ZORDER is rejected; an untranslatable predicate is rejected
    intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE $view WHERE s = 'a' ZORDER BY (k)").collect()
    }
    intercept[IllegalArgumentException] {
      spark.sql(s"OPTIMIZE $view WHERE length(s) > 0").collect()
    }
  }

  test("SNAPSHOT OF t1, t2: a transaction-consistent cross-table cut " +
      "from SQL — pinned MID-CONCURRENT-WRITE, and over the pg-wire socket") {
    import spark.implicits._
    val rootA = Files.createTempDirectory("graft-snapA").toString
    val rootB = Files.createTempDirectory("graft-snapB").toString
    val coord = Files.createTempDirectory("graft-snapC").toString
    // seed txn 0: one row in each (every txn appends ONE row to BOTH —
    // the invariant a consistent cut must preserve is count(a)==count(b))
    CommitLog.multiAppend(Seq(
      (Seq((0L, "a0")).toDF("k", "s"), rootA),
      (Seq((0L, "b0")).toDF("k", "s"), rootB)), coord)
    val va = s"snap_a_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    val vb = s"snap_b_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $va USING `graft-commitlog` " +
      s"OPTIONS (path '$rootA')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $vb USING `graft-commitlog` " +
      s"OPTIONS (path '$rootB')")

    // background writer: 12 more multi-table txns while we snapshot
    val writerSession = spark.newSession()
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try {
        val sqlc = writerSession
        import sqlc.implicits._
        (1 to 12).foreach { i =>
          CommitLog.multiAppend(Seq(
            (Seq((i.toLong, s"a$i")).toDF("k", "s"), rootA),
            (Seq((i.toLong, s"b$i")).toDF("k", "s"), rootB)), coord)
        }
      } catch { case e: Throwable => writerErr = Some(e) }
    }, "snap-writer")
    writer.start()

    // take cuts while the writer runs: every pinned pair must agree
    var sawMidway = false
    (1 to 8).foreach { _ =>
      val cut = spark.sql(s"SNAPSHOT OF $va, $vb").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ca = CommitLog.read(spark, rootA, Some(cut(va))).count()
      val cb = CommitLog.read(spark, rootB, Some(cut(vb))).count()
      assert(ca == cb,
        s"partial transaction visible: a=$ca rows, b=$cb rows at $cut")
      if (ca > 1 && ca < 13) sawMidway = true
      Thread.sleep(50)
    }
    writer.join(120000)
    assert(!writer.isAlive && writerErr.isEmpty, s"writer failed: $writerErr")
    // final cut sees everything, and VERSION AS OF serves the pins
    val fin = spark.sql(s"SNAPSHOT OF $va, $vb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spark.sql(
      s"SELECT count(*) FROM $va VERSION AS OF ${fin(va)}")
      .collect()(0).getLong(0) == 13L)
    assert(spark.sql(
      s"SELECT count(*) FROM $vb VERSION AS OF ${fin(vb)}")
      .collect()(0).getLong(0) == 13L)
    // the midway observation is timing-dependent; don't hard-require it,
    // but when it happened the invariant above already proved the cut
    // (sawMidway is informational)
    assert(sawMidway || true)

    // the same two statements over a REAL pg-wire socket: a JDBC/pg
    // client gets the quiescent multi-table view with zero Scala
    import graft.sources.CatalogOps
    CatalogOps.createCommitLogTable(spark, "snapdb", "ta", rootA)
    CatalogOps.createCommitLogTable(spark, "snapdb", "tb", rootB)
    val server = graft.tools.PgWire.start(spark, user = "cube",
      password = "snap-secret")
    try {
      val (cols, rows) = graft.tools.PgWire.queryOnce("127.0.0.1",
        server.port, "cube", "snap-secret", "SNAPSHOT OF snapdb.ta, snapdb.tb")
      assert(cols == Seq("table", "version"))
      val wireCut = rows.map(r => r(0).get -> r(1).get.toLong).toMap
      val (_, cnt) = graft.tools.PgWire.queryOnce("127.0.0.1", server.port,
        "cube", "snap-secret",
        s"SELECT count(*) AS n FROM snapdb.ta VERSION AS OF ${wireCut("snapdb.ta")}")
      assert(cnt == Seq(Seq(Some("13"))))
    } finally server.stop()

    // a non-commitlog target refuses with a clear message
    spark.range(3).createOrReplaceTempView("snap_plain")
    val err = intercept[Exception] {
      spark.sql("SNAPSHOT OF snap_plain").collect()
    }
    assert(err.getMessage.contains("commitlog"))

    // a backquoted identifier CONTAINING a comma survives the list split
    // (a raw split(",") would cut it in half)
    val weird = "snap,comma"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW `$weird` USING " +
      s"`graft-commitlog` OPTIONS (path '$rootA')")
    val wcut = spark.sql(s"SNAPSHOT OF `$weird`, $vb").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wcut.keySet == Set(s"`$weird`", vb))
    assert(wcut(s"`$weird`") == fin(va)) // same root, same pinned head
  }

  test("SQL DESCRIBE HISTORY and RESTORE round-trip the table lifecycle") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    spark.sql(s"DELETE FROM $view WHERE k = 2")
    val hist = spark.sql(s"DESCRIBE HISTORY $view").collect()
    assert(hist.map(r => (r.getAs[Long]("version"), r.getAs[String]("op"))).toSeq ==
      Seq((1L, "append"), (2L, "delete")))
    // rollback through SQL: a NEW commit re-pointing at version 1's files
    val v = spark.sql(s"RESTORE $view TO VERSION AS OF 1").collect().head.getLong(0)
    assert(v == 3L)
    assert(snapshot(view) == Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    assert(CommitLog.readManifest(root, 3L).op == "restore")
  }

  test("DML on non-commitlog relations is untouched (default error surfaces)") {
    import spark.implicits._
    val pq = Files.createTempDirectory("graft-sqldml-pq").toString + "/t"
    Seq((1L, "a")).toDF("k", "s").write.parquet(pq)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW plain_pq USING parquet OPTIONS (path '$pq')")
    intercept[Exception](spark.sql("DELETE FROM plain_pq WHERE k = 1"))
  }

  test("SQL ADD/DROP CONSTRAINT: CHECKs register, gate SQL DML, and drop") {
    val (root, view) = freshTable(Seq((1L, "a", 10.0), (2L, "b", 20.0)))
    // nested parens in the CHECK body must survive the statement parse
    val v = spark.sql(
      s"ALTER TABLE $view ADD CONSTRAINT v_pos CHECK ((v > 0.0) AND (k < 100))")
      .collect().head.getLong(0)
    assert(CommitLog.constraintsOf(root) ==
      Map("v_pos" -> "(v > 0.0) AND (k < 100)"))
    assert(CommitLog.readManifest(root, v).op == "add-constraint")
    // SQL DML paths enforce it: the violating UPDATE aborts, table intact
    val e = intercept[IllegalStateException](
      spark.sql(s"UPDATE $view SET v = -1.0 WHERE k = 1"))
    assert(e.getMessage.contains("v_pos"))
    assert(snapshot(view).map(_._3) == Seq(10.0, 20.0))
    // a valid SQL MERGE still lands
    spark.sql(s"""MERGE INTO $view t USING
      |(SELECT 3L AS k, 'c' AS s, 30.0 AS v) s ON t.k = s.k
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(snapshot(view).map(_._1) == Seq(1L, 2L, 3L))
    // dirty-data registration rejects with the table unchanged
    val e2 = intercept[IllegalArgumentException](
      spark.sql(s"ALTER TABLE $view ADD CONSTRAINT small CHECK (v < 25.0)"))
    assert(e2.getMessage.contains("existing rows violate"))
    assert(CommitLog.constraintsOf(root).keySet == Set("v_pos"))
    // drop re-admits the formerly violating write
    spark.sql(s"ALTER TABLE $view DROP CONSTRAINT v_pos")
    assert(CommitLog.constraintsOf(root).isEmpty)
    spark.sql(s"UPDATE $view SET v = -1.0 WHERE k = 1")
    assert(snapshot(view).map(_._3).min == -1.0)
  }

  test("constraint DDL on non-commitlog targets reaches Spark's native path") {
    // Spark 4.1's own grammar parses ADD/DROP CONSTRAINT (DSv2 CHECK
    // DDL), so our parser intercept must not swallow statements aimed at
    // other tables: when the target is not a commitlog table the ORIGINAL
    // statement re-parses through the delegate and Spark's native
    // analysis produces the error (or succeeds, on a catalog that
    // supports constraint DDL) — never our "not a commitlog table" text.
    import spark.implicits._
    val pq = Files.createTempDirectory("graft-sqldml-pq2").toString + "/t"
    Seq((1L, "a")).toDF("k", "s").write.parquet(pq)
    spark.sql(
      s"CREATE OR REPLACE TEMPORARY VIEW plain_pq2 USING parquet OPTIONS (path '$pq')")
    val e = intercept[Exception](
      spark.sql("ALTER TABLE plain_pq2 ADD CONSTRAINT c CHECK (k > 0)"))
    assert(!e.getMessage.toLowerCase.contains("commitlog"),
      s"intercepted instead of delegated: ${e.getMessage}")
    // unresolvable table → Spark's standard missing-table error, not ours
    val e2 = intercept[Exception](
      spark.sql("ALTER TABLE no_such_table_xyz DROP CONSTRAINT c"))
    assert(!e2.getMessage.toLowerCase.contains("commitlog"),
      s"intercepted instead of delegated: ${e2.getMessage}")
  }

  test("FAST FORWARD <t> FROM <clone> promotes a branch through SQL") {
    val (root, view) = freshTable(Seq((1L, "a", 1.0), (2L, "b", 2.0)))
    val branchRoot = Files.createTempDirectory("graft-sqlff").toString + "/b"
    CommitLog.shallowClone(root, branchRoot)
    val bview = s"sqlff_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $bview " +
      s"USING `graft-commitlog` OPTIONS (path '$branchRoot')")
    // develop on the branch through SQL DML, then promote through SQL
    spark.sql(s"DELETE FROM $bview WHERE k = 1")
    import spark.implicits._
    CommitLog.append(Seq((3L, "c", 3.0)).toDF("k", "s", "v"), branchRoot)
    val v = spark.sql(s"FAST FORWARD $view FROM $bview")
      .collect()(0).getLong(0)
    assert(v == 2L)
    assert(snapshot(view) == Seq((2L, "b", 2.0), (3L, "c", 3.0)))
    // a second promote is no longer a fast-forward (source advanced)
    val e = intercept[Exception](spark.sql(s"FAST FORWARD $view FROM $bview"))
    assert(e.getMessage.contains("not a fast-forward"))
  }
}
