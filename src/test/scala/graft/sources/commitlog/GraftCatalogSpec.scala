package graft.sources.commitlog

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.sources.CommitLog

/** The DSv2 catalog face of the table format: identifier-addressed DDL,
  * DML, reads and time travel, all landing on the same commit log as the
  * path-addressed route. The read plan must be the V1 vectorized scan
  * (the fallback rule), never a V2 row-at-a-time batch.
  */
class GraftCatalogSpec extends SparkTestBase {

  // Strict val: registers the catalog BEFORE any test issues SQL.
  private val root = {
    val d = Files.createTempDirectory("graft-catalog").toString
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", d)
    d
  }

  test("CREATE TABLE / INSERT / SELECT round trip through the catalog") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gold")
    spark.sql("CREATE TABLE graft.gold.t1 (k BIGINT, v STRING)")
    assert(Files.isDirectory(java.nio.file.Paths.get(root, "gold", "t1", "_graft_log")))
    // empty table reads as zero rows with the declared schema
    assert(spark.table("graft.gold.t1").count() == 0)
    assert(spark.table("graft.gold.t1").schema.fieldNames.toSeq == Seq("k", "v"))

    spark.sql("INSERT INTO graft.gold.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft.gold.t1 SELECT 3, 'c'")
    assert(spark.sql("SELECT sum(k) FROM graft.gold.t1").collect()(0).getLong(0) == 6L)

    // the read is the V1 vectorized parquet scan, not a V2 batch
    val plan = spark.table("graft.gold.t1").queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), s"expected V1 file scan:\n$plan")

    // catalog listing sees it
    val tables = spark.sql("SHOW TABLES IN graft.gold").collect().map(_.getString(1))
    assert(tables.contains("t1"))
  }

  test("INSERT OVERWRITE and df.writeTo land as atomic log commits") {
    spark.sql("CREATE TABLE graft.t2 (k BIGINT, v STRING)")
    import spark.implicits._
    Seq((1L, "x"), (2L, "y")).toDF("k", "v").writeTo("graft.t2").append()
    assert(spark.table("graft.t2").count() == 2)
    spark.sql("INSERT OVERWRITE graft.t2 VALUES (9, 'z')")
    assert(spark.table("graft.t2").as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // every write above is one commit in the table's own log
    val dir = s"$root/t2"
    assert(CommitLog.currentVersion(dir).contains(3L)) // create + 2 writes
  }

  test("ALTER TABLE ADD COLUMNS is a metadata-only schema-evolution commit") {
    spark.sql("CREATE TABLE graft.t3 (k BIGINT)")
    spark.sql("INSERT INTO graft.t3 VALUES (1)")
    spark.sql("ALTER TABLE graft.t3 ADD COLUMNS (score DOUBLE)")
    val df = spark.table("graft.t3")
    assert(df.schema.fieldNames.toSeq == Seq("k", "score"))
    // pre-evolution rows read the new column as null
    assert(df.filter(col("score").isNull).count() == 1)
    spark.sql("INSERT INTO graft.t3 VALUES (2, 0.5)")
    assert(spark.sql("SELECT sum(score) FROM graft.t3").collect()(0).getDouble(0) == 0.5)
    // DROP COLUMN is now a metadata-only column-mapping commit: the
    // logical column vanishes, its storage name is retired
    spark.sql("ALTER TABLE graft.t3 DROP COLUMN score")
    assert(spark.table("graft.t3").schema.fieldNames.toSeq == Seq("k"))
    assert(spark.table("graft.t3").count() == 2)
    // ...and re-adding under the retired storage name is rejected
    intercept[Exception](spark.sql("ALTER TABLE graft.t3 ADD COLUMNS (score DOUBLE)"))
  }

  test("DELETE / UPDATE / MERGE SQL on catalog tables via the DML rewrite") {
    spark.sql("CREATE TABLE graft.t4 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.t4 VALUES (1,'a'), (2,'b'), (3,'c'), (4,'d')")
    spark.sql("DELETE FROM graft.t4 WHERE k % 2 = 0")
    assert(spark.table("graft.t4").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(1L, 3L))
    spark.sql("UPDATE graft.t4 SET v = 'up' WHERE k = 3")
    assert(spark.sql("SELECT v FROM graft.t4 WHERE k = 3").collect()(0).getString(0) == "up")
    spark.sql(
      """MERGE INTO graft.t4 t USING (SELECT 1 AS k, 'm' AS v UNION ALL SELECT 5, 'n') s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.table("graft.t4").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, "m"), (3L, "up"), (5L, "n")))
  }

  test("VERSION AS OF / TIMESTAMP AS OF / tag through native SQL syntax") {
    spark.sql("CREATE TABLE graft.t5 (k BIGINT)")
    spark.sql("INSERT INTO graft.t5 VALUES (1)") // v2
    val tsAfterV2 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.t5 VALUES (2)") // v3
    CommitLog.tag(s"$root/t5", "first-load", Some(2L))

    assert(spark.sql("SELECT count(*) FROM graft.t5 VERSION AS OF 2")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.t5 VERSION AS OF 'first-load'")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.t5").collect()(0).getLong(0) == 2L)
    val ts = new java.sql.Timestamp(tsAfterV2).toString
    assert(spark.sql(s"SELECT count(*) FROM graft.t5 TIMESTAMP AS OF '$ts'")
      .collect()(0).getLong(0) == 1L)
  }

  test("partitioned create: spec persists and later appends keep it") {
    spark.sql(
      "CREATE TABLE graft.t6 (k BIGINT, part STRING) PARTITIONED BY (part)")
    spark.sql("INSERT INTO graft.t6 VALUES (1, 'a'), (2, 'b')")
    val dir = s"$root/t6"
    val m = CommitLog.readManifest(dir, CommitLog.currentVersion(dir).get)
    assert(m.partitionByOrNil == Seq("part"))
    // partition pruning: only the matching partition's file is read
    val pruned = spark.sql("SELECT k FROM graft.t6 WHERE part = 'a'")
    assert(pruned.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("static and dynamic partition INSERT OVERWRITE replace only their partitions") {
    import spark.implicits._
    spark.sql("CREATE TABLE graft.t12 (k BIGINT, v STRING, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.t12 VALUES (1, 'a', 'p1'), (2, 'b', 'p2'), (3, 'c', 'p3')")
    val dir = s"$root/t12"
    val before = CommitLog.readManifest(dir, CommitLog.currentVersion(dir).get)
    val others = before.statsOrNil.filterNot(_.mins("p") == "p1").map(_.path)
    assert(others.nonEmpty)

    // static spec → replaceWhere: ONE commit, p1 replaced, other
    // partitions' files move by reference
    spark.sql("INSERT OVERWRITE graft.t12 PARTITION (p = 'p1') VALUES (10, 'A')")
    val after = CommitLog.readManifest(dir, CommitLog.currentVersion(dir).get)
    assert(after.op == "replaceWhere")
    assert(others.forall(after.files.contains),
      "untouched partitions must carry by reference")
    assert(spark.table("graft.t12").where("p = 'p1'")
      .select("k", "v").as[(Long, String)].collect().toSeq == Seq((10L, "A")))
    assert(spark.table("graft.t12").count() == 3)

    // dynamic mode: only partitions PRESENT in the data replace; p3 stays
    val p3files = after.statsOrNil.filter(_.mins("p") == "p3").map(_.path)
    assert(p3files.nonEmpty)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.sql(
      "INSERT OVERWRITE graft.t12 VALUES (20, 'B', 'p1'), (30, 'C', 'p2')")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    val after2 = CommitLog.readManifest(dir, CommitLog.currentVersion(dir).get)
    assert(p3files.forall(after2.files.contains),
      "partitions absent from the data must carry by reference")
    assert(spark.table("graft.t12").orderBy("k")
      .select("k").as[Long].collect().toSeq == Seq(3L, 20L, 30L))

    // the replaceWhere contract: out-of-scope input rows refuse loudly
    val ex = intercept[IllegalArgumentException] {
      CommitLog.replaceWhere(spark, dir, col("p") === "p1",
        Seq((99L, "z", "p2")).toDF("k", "v", "p"))
    }
    assert(ex.getMessage.contains("replace predicate"))
  }

  test("DROP TABLE, RENAME, and namespace listing") {
    spark.sql("CREATE TABLE graft.t7 (k BIGINT)")
    spark.sql("INSERT INTO graft.t7 VALUES (1)")
    spark.sql("ALTER TABLE graft.t7 RENAME TO t7renamed")
    assert(spark.table("graft.t7renamed").count() == 1)
    assert(!Files.exists(java.nio.file.Paths.get(root, "t7")))
    spark.sql("DROP TABLE graft.t7renamed")
    assert(!Files.exists(java.nio.file.Paths.get(root, "t7renamed")))
    intercept[Exception](spark.table("graft.t7renamed").count())
  }

  test("CTAS and INSERT with a catalog-table source (read under write)") {
    spark.sql("CREATE TABLE graft.src1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.src1 VALUES (1,'a'), (2,'b')")
    // CTAS through the catalog
    spark.sql("CREATE TABLE graft.ctas1 AS SELECT k, upper(v) AS v FROM graft.src1")
    assert(spark.table("graft.ctas1").collect().map(_.getString(1)).sorted.toSeq
      == Seq("A", "B"))
    // a graft read feeding a graft write in one statement
    spark.sql("INSERT INTO graft.ctas1 SELECT k + 10, v FROM graft.src1")
    assert(spark.table("graft.ctas1").count() == 4)
  }

  test("identifier segments are path-checked") {
    intercept[Exception](spark.sql("CREATE TABLE graft.`..`.`evil` (k BIGINT)"))
  }

  test("DSv2 native constraint DDL: capability, table changes, constraints()") {
    // Spark 4.1 parses ADD/DROP CONSTRAINT into DSv2 table changes when
    // the catalog advertises SUPPORT_TABLE_CONSTRAINT — this path works
    // with NO graft parser extensions installed. Exercise the catalog API
    // directly (the extension-installed session routes SQL through the
    // statement intercept, which lands on the same log).
    import org.apache.spark.sql.connector.catalog._
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    spark.sql("CREATE TABLE graft.t10 (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.t10 VALUES (1, 1.5), (2, 2.5)")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[TableCatalog]
    assert(cat.capabilities().contains(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT))

    val ident = Identifier.of(Array.empty[String], "t10")
    val chk = Constraint.check("v_pos").predicateSql("v > 0").build()
    cat.alterTable(ident, TableChange.addConstraint(chk, null))
    assert(CommitLog.constraintsOf(s"$root/t10") == Map("v_pos" -> "v > 0"))
    // surfaced back through the DSv2 Table.constraints() API
    val cs = cat.loadTable(ident).constraints()
    assert(cs.length == 1 && cs.head.name() == "v_pos" && cs.head.enforced())

    // LIVE enforcement: a violating INSERT through the catalog aborts and
    // publishes nothing
    intercept[Exception](spark.sql("INSERT INTO graft.t10 VALUES (3, -1.0)"))
    assert(spark.table("graft.t10").count() == 2)

    // non-CHECK constraints are rejected with a clear message
    val pk = Constraint.primaryKey("pk",
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("k")))
      .build()
    intercept[UnsupportedOperationException](
      cat.alterTable(ident, TableChange.addConstraint(pk, null)))

    // drop via the native change; IF EXISTS on a missing name is a no-op
    cat.alterTable(ident, TableChange.dropConstraint("v_pos", false, false))
    assert(CommitLog.constraintsOf(s"$root/t10").isEmpty)
    cat.alterTable(ident, TableChange.dropConstraint("nope", true, false))
    assert(spark.table("graft.t10").count() == 2)
  }

  test("CREATE TABLE ... SHALLOW CLONE branches a catalog table instantly") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.clones")
    spark.sql("CREATE TABLE graft.clones.base (k BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.clones.base SELECT id, id * 0.5 FROM range(100)")
    spark.sql("INSERT INTO graft.clones.base SELECT id, id * 0.5 FROM range(100, 120)")
    val v = spark.sql("CREATE TABLE graft.clones.branch SHALLOW CLONE graft.clones.base")
      .collect()(0).getLong(0)
    assert(v == 1L)
    // zero-copy: the clone dir holds only a log, no data files
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "clones", "branch", "data")))
    assert(spark.table("graft.clones.branch").count() == 120)
    // divergence: DML on the branch leaves the base alone
    spark.sql("DELETE FROM graft.clones.branch WHERE k >= 100")
    assert(spark.table("graft.clones.branch").count() == 100)
    assert(spark.table("graft.clones.base").count() == 120)
    // time-travel clone pins the version
    spark.sql("CREATE TABLE graft.clones.early SHALLOW CLONE graft.clones.base VERSION AS OF 2")
    assert(spark.table("graft.clones.early").count() == 100)
    // cloning onto an existing identifier refuses
    intercept[Exception](
      spark.sql("CREATE TABLE graft.clones.branch SHALLOW CLONE graft.clones.base"))
  }

  test("IMPORT TABLE ... FROM DELTA mounts an external table zero-copy " +
      "through SQL alone") {
    // hand-written protocol-1 Delta table: one data file + its log
    val d = Files.createTempDirectory("graft-imp-delta")
    import spark.implicits._
    val w = Files.createTempDirectory("graft-imp-w")
    (1L to 40L).map(i => (i, i * 0.25)).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(w.toString)
    import scala.jdk.CollectionConverters._
    val part = Files.list(w).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.move(part, d.resolve("part-0.parquet"))
    val schemaJson = Seq((1L, 0.25)).toDF("k", "v").schema.json
    val log = d.resolve("_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"${0L}%020d.json"), Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"imp","schemaString":${
        com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(schemaJson)},"format":{"provider":"parquet"},
         |"partitionColumns":[]}}""".stripMargin.replace("\n", ""),
      """{"add":{"path":"part-0.parquet","dataChange":true,"size":1,
        |"modificationTime":0,"partitionValues":{}}}"""
        .stripMargin.replace("\n", "")
    ).asJava)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.imports")
    val v = spark.sql(
      s"IMPORT TABLE graft.imports.dl FROM DELTA '${d.toString}'")
      .collect()(0).getLong(0)
    assert(v == 1L)
    assert(spark.table("graft.imports.dl").count() == 40L)
    // zero-copy: the catalog table holds only a log
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(root, "imports", "dl", "data")))
    // importing onto an existing identifier refuses
    intercept[Exception](spark.sql(
      s"IMPORT TABLE graft.imports.dl FROM DELTA '${d.toString}'"))
  }

  test("catalog reads route DV-bearing tables through the merge-on-read scan") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dv")
    spark.sql("CREATE TABLE graft.dv.t (k BIGINT)")
    spark.sql("INSERT INTO graft.dv.t SELECT id FROM range(50)")
    spark.conf.set("spark.graft.commitlog.deletionVectors", "true")
    try spark.sql("DELETE FROM graft.dv.t WHERE k % 10 = 0")
    finally spark.conf.unset("spark.graft.commitlog.deletionVectors")
    assert(CommitLog.readManifest(s"$root/dv/t",
      CommitLog.currentVersion(s"$root/dv/t").get).op == "delete-dv")
    // identifier-addressed read applies the DVs (falls back to the MoR scan)
    assert(spark.table("graft.dv.t").count() == 45)
    assert(spark.sql("SELECT sum(k) FROM graft.dv.t").collect()(0).getLong(0) ==
      (0L until 50L).filter(_ % 10 != 0).sum)
    // REORG through the catalog identifier, then the vectorized scan returns
    spark.sql("REORG TABLE graft.dv.t APPLY (PURGE)")
    val plan = spark.table("graft.dv.t").queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), s"expected V1 file scan:\n$plan")
    assert(spark.table("graft.dv.t").count() == 45)
  }

  test("TBLPROPERTIES persist in the log and steer bloom indexing per table") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.props")
    spark.sql("CREATE TABLE graft.props.t (id BIGINT, k STRING) " +
      "TBLPROPERTIES ('bloom.columns'='id', 'bloom.bits'='65536', " +
      "'bloom.items'='4000', 'team'='data-eng')")
    val d = java.nio.file.Paths.get(root, "props", "t").toString
    // engine-reserved keys stay out; user keys persist
    val p = CommitLog.tablePropertiesOf(d)
    assert(p.get("bloom.columns").contains("id") && p.get("team").contains("data-eng"))
    assert(!p.contains("provider") && !p.contains("location"))
    // a PROPERTY-driven index: no session conf anywhere, yet INSERTs index
    spark.sql("INSERT INTO graft.props.t SELECT id * 2, concat('k', id) " +
      "FROM range(50)")
    spark.sql("INSERT INTO graft.props.t SELECT id * 2 + 1, concat('j', id) " +
      "FROM range(50)")
    val m = CommitLog.readManifest(d, CommitLog.currentVersion(d).get)
    assert(m.statsOrNil.nonEmpty && m.statsOrNil.forall(_.bloomOpt.isDefined))
    // id 2 is in the even file only; both files' [min,max] contain it? No —
    // ranges interleave (0..98 vs 1..99), so min/max alone keeps both and
    // the bloom keeps exactly one
    assert(CommitLog.prunedFiles(spark, d, m, col("id") === lit(2L)).size == 1)
    // SET/UNSET TBLPROPERTIES commit metadata-only and re-steer writes
    spark.sql("ALTER TABLE graft.props.t SET TBLPROPERTIES ('team'='ml')")
    spark.sql("ALTER TABLE graft.props.t UNSET TBLPROPERTIES ('bloom.columns')")
    val p2 = CommitLog.tablePropertiesOf(d)
    assert(p2.get("team").contains("ml") && !p2.contains("bloom.columns"))
    spark.sql("INSERT INTO graft.props.t SELECT 1000 + id, 'z' FROM range(10)")
    val m2 = CommitLog.readManifest(d, CommitLog.currentVersion(d).get)
    // every file of the new commit (ids ≥ 1000; one file per partition)
    // landed unindexed; all earlier files keep their sidecars
    val (newFiles, oldFiles) = m2.statsOrNil.partition(
      _.mins.get("id").exists(_.toLong >= 1000L))
    assert(newFiles.nonEmpty && newFiles.forall(_.bloomOpt.isEmpty))
    assert(oldFiles.forall(_.bloomOpt.isDefined))
    // the catalog surfaces stored properties to SQL tooling
    val shown = spark.sql("SHOW TBLPROPERTIES graft.props.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("team").contains("ml"))
    assert(spark.table("graft.props.t").count() == 110)
    // clones inherit the property map with the rest of the metadata
    spark.sql("CREATE TABLE graft.props.t2 SHALLOW CLONE graft.props.t")
    val d2 = java.nio.file.Paths.get(root, "props", "t2").toString
    assert(CommitLog.tablePropertiesOf(d2).get("team").contains("ml"))
  }

  test("a table name resolves in the session's current catalog and namespace") {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", root)
    // the same name in spark_catalog, two files so OPTIMIZE would commit
    val other = Files.createTempDirectory("graft-catalog-same-name").toString
    CommitLog.append(s.range(3).toDF("k"), other)
    CommitLog.append(s.range(3, 5).toDF("k"), other)
    s.sql(s"CREATE TABLE spark_catalog.default.t_use USING `graft-commitlog` " +
      s"OPTIONS (path '$other')")
    val mine = java.nio.file.Paths.get(root, "t_use").toString
    try {
      s.sql("CREATE TABLE graft.t_use (k BIGINT)")
      s.sql("INSERT INTO graft.t_use VALUES (1)")
      s.sql("INSERT INTO graft.t_use VALUES (2)")
      s.sql("USE graft")
      assert(CommitLogRelation.tableRoot(s, Seq("t_use")) == Some((mine, None)))
      val v = s.sql("OPTIMIZE t_use").head.getLong(0)
      assert(CommitLog.currentVersion(mine).contains(v))
      assert(CommitLog.currentVersion(other).contains(2L))
      assert(s.sql("SELECT count(*) FROM t_use VERSION AS OF 2").head.getLong(0) == 1L)
      s.sql("USE spark_catalog.default")
      assert(CommitLogRelation.tableRoot(s, Seq("t_use")) == Some((other, None)))
    } finally {
      s.sql("USE spark_catalog.default")
      s.sql("DROP TABLE IF EXISTS spark_catalog.default.t_use")
    }
  }

  test("a persistent view that passes a table's columns through names the table") {
    val base = Files.createTempDirectory("graft-catalog-view-base").toString
    CommitLog.append(spark.range(3).selectExpr("id AS k", "id * 2 AS v"), base)
    spark.sql(s"CREATE TABLE pv_base USING `graft-commitlog` OPTIONS (path '$base')")
    try {
      spark.sql("CREATE VIEW pv_all AS SELECT * FROM pv_base")
      spark.sql("CREATE VIEW pv_renamed AS SELECT v AS k, k AS v FROM pv_base")
      spark.sql("CREATE VIEW pv_some AS SELECT k FROM pv_base")
      assert(CommitLogRelation.tableRoot(spark, Seq("pv_all")) == Some((base, None)))
      assert(CommitLogRelation.tableRoot(spark, Seq("default", "pv_all")) == Some((base, None)))
      assert(CommitLogRelation.tableRoot(spark, Seq("pv_renamed")).isEmpty)
      assert(CommitLogRelation.tableRoot(spark, Seq("pv_some")).isEmpty)
      spark.sql("CREATE TEMPORARY VIEW tv_all AS SELECT * FROM pv_base")
      assert(CommitLogRelation.tableRoot(spark, Seq("tv_all")) == Some((base, None)))
    } finally {
      Seq("pv_all", "pv_renamed", "pv_some").foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
      spark.sql("DROP VIEW IF EXISTS tv_all")
      spark.sql("DROP TABLE pv_base")
    }
  }
}
