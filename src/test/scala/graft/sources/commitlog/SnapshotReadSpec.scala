package graft.sources.commitlog

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.DvLive
import graft.sources.CommitLog

/** One read shape for every snapshot: an analyzed query reads the one
  * version it was routed at, and deletion vectors apply as a filter over
  * Spark's file scan — per file, however the scan splits its files.
  */
class SnapshotReadSpec extends SparkTestBase {

  private def tmp(): String = Files.createTempDirectory("graft-snap").toString

  private def source(root: String): DataFrame =
    spark.read.format("graft-commitlog").load(root)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("a held self-join frame reads one snapshot on both sides") {
    val root = tmp()
    CommitLog.append(spark.range(10).toDF("id"), root)
    val t = source(root)
    val joined = t.as("a").join(t.as("b"), "id")
    t.createOrReplaceTempView("snap_v")
    val inSub = spark.sql("SELECT id FROM snap_v WHERE id IN (SELECT id FROM snap_v)")
    CommitLog.append(spark.range(10, 20).toDF("id"), root)
    // both frames were analyzed before the append: every scan in them
    // reads that version, never a mix of the two
    assert(joined.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
    assert(inSub.collect().length == 10)
    // a new query reads the new version
    assert(t.as("a").join(t.as("b"), "id").count() == 20)
  }

  /** Twin tables of `data` (one file each, many row groups, so a scan
    * splits every file over several tasks): `dv` after `mor`, `cow` after
    * `cowOp`; both read paths of `dv` must equal `cow`, and each task
    * loads each DV'd file's positions at most once.
    */
  private def twins(data: DataFrame, partitionBy: Seq[String],
      dvRoot: String => String)(mor: String => Unit)(cowOp: String => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    val dv0 = tmp(); val cow = tmp()
    hc.set("parquet.block.size", "4096")
    try {
      CommitLog.append(data.coalesce(1), dv0, partitionBy)
      CommitLog.append(data.coalesce(1), cow, partitionBy)
    } finally hc.unset("parquet.block.size")
    val dv = dvRoot(dv0)
    mor(dv); cowOp(cow)
    assert(CommitLog.readManifest(dv, CommitLog.currentVersion(dv).get).dvsOrEmpty.nonEmpty)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try {
      val scan = source(dv)
      val tasks = scan.rdd.getNumPartitions
      val files = CommitLog.readManifest(dv, CommitLog.currentVersion(dv).get).files.size
      assert(tasks > files, s"fixture does not split its $files files: $tasks tasks")
      val before = DvLive.loads.get
      val expected = rows(source(cow))
      assert(rows(scan) == expected)
      assert(DvLive.loads.get - before <= tasks,
        s"${DvLive.loads.get - before} DV loads for $tasks tasks")
      assert(rows(CommitLog.read(spark, dv)) == expected)
    } finally {
      spark.conf.unset("spark.sql.files.maxPartitionBytes")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  private def data = spark.range(6000)
    .selectExpr("id", "id * 3 AS v", "CASE WHEN id % 3 = 0 THEN 'big sale' " +
      "WHEN id % 3 = 1 THEN 'a=b+c' ELSE 'x%y' END AS etype")
  private def cond: Column = col("id") % 7 === 0 || col("id").between(2000, 2500)
  private def set = Seq("v" -> (col("v") + 1))

  test("deleteDV on split files equals copy-on-write delete") {
    twins(data, Nil, identity)(CommitLog.deleteDV(spark, _, cond))(
      CommitLog.delete(spark, _, cond))
  }

  test("updateDV on split files equals copy-on-write update") {
    twins(data, Nil, identity)(CommitLog.updateDV(spark, _, set, cond))(
      CommitLog.update(spark, _, set, cond))
  }

  test("DVs on a shallow clone's absolute file paths, split") {
    twins(data, Nil, { src =>
      val dst = tmp(); CommitLog.shallowClone(src, dst); dst
    })(CommitLog.deleteDV(spark, _, cond))(CommitLog.delete(spark, _, cond))
  }

  test("DVs under URI-special partition values, split") {
    twins(data, Seq("etype"), identity)(CommitLog.deleteDV(spark, _, cond))(
      CommitLog.delete(spark, _, cond))
  }

  test("a DV snapshot's scan without its deletion-vector filter refuses to read") {
    val schema = new org.apache.spark.sql.types.StructType().add("id", "long")
    val e = intercept[IllegalStateException](new CommitLogParquet(Map.empty, hasDvs = true)
      .buildReaderWithPartitionValues(spark, schema, new org.apache.spark.sql.types.StructType(),
        schema, Nil, Map.empty, spark.sessionState.newHadoopConf()))
    assert(e.getMessage.contains("deletion-vector filter"))
  }

  test("a rename swap reads through the file scan, pushed filters on physical names") {
    val root = tmp()
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.block.size", "4096") // many row groups: pruning matters
    try CommitLog.append(spark.range(6000)
      .selectExpr("id", "id AS a", "id * 10 AS b").coalesce(1), root)
    finally hc.unset("parquet.block.size")
    CommitLog.renameColumn(root, "a", "tmp")
    CommitLog.renameColumn(root, "b", "a")
    CommitLog.renameColumn(root, "tmp", "b")
    val got = source(root).filter(col("a") >= 50000 && col("b") < 5500)
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq == (5000L until 5500L))
  }
}
