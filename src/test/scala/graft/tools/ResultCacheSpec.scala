package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.sources.CommitLog

/** The version-keyed result cache: hits serve without touching the base
  * table (proven by deleting it), commits invalidate by re-keying, old
  * entries keep serving their snapshot, and time-travel reads share keys.
  */
class ResultCacheSpec extends SparkTestBase {

  import spark.implicits._

  test("hit serves from the entry alone; a commit re-keys; the old entry " +
      "still serves its snapshot") {
    val root = Files.createTempDirectory("graft-rc-t").toString
    val cache = Files.createTempDirectory("graft-rc-c").toString
    CommitLog.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "s", "n"),
      root)
    def q = CommitLog.read(spark, root).groupBy("s")
      .agg(sum("n").as("total"))
    // miss → computes and publishes one entry
    val r1 = ResultCache.cached(cache, q).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r1 == Set(("a", 10L), ("b", 20L)))
    val entry = scala.util.Using.resource(Files.list(Paths.get(cache)))(
      s => { val l = s.toArray.toSeq; assert(l.size == 1); l.head })
    // doctor the entry: if the second call truly serves from the cache
    // (no recompute, no base scan), it must return the doctored rows
    Seq(("doctored", 999L)).toDF("s", "total").write
      .mode("overwrite").parquet(entry.toString)
    val r2 = ResultCache.cached(cache, q).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(r2 == Set(("doctored", 999L)), "hit must serve the entry bytes")
  }

  test("a new commit changes the key and the fresh result is served") {
    val root = Files.createTempDirectory("graft-rc-t2").toString
    val cache = Files.createTempDirectory("graft-rc-c2").toString
    CommitLog.append(Seq((1L, "a", 10L)).toDF("k", "s", "n"), root)
    def q = CommitLog.read(spark, root).agg(sum("n").as("total"))
    assert(ResultCache.cached(cache, q).collect()(0).getLong(0) == 10L)
    CommitLog.append(Seq((2L, "a", 5L)).toDF("k", "s", "n"), root)
    assert(ResultCache.cached(cache, q).collect()(0).getLong(0) == 15L)
    assert(Files.list(Paths.get(cache)).count() == 2) // both snapshots live
    // a pinned time-travel read of version 1 HITS the old entry: same
    // canonical plan, same (root, version) pin → same key
    val v1 = CommitLog.read(spark, root, version = Some(1L))
      .agg(sum("n").as("total"))
    assert(ResultCache.cached(cache, v1).collect()(0).getLong(0) == 10L)
    assert(Files.list(Paths.get(cache)).count() == 2, "pinned read re-used")
    // a catalog table over a DV snapshot (merge-on-read relation) keys by
    // its version too: an append after the first answer misses the cache
    val dvRoot = Files.createTempDirectory("graft-rc-dv").toString
    CommitLog.append(spark.range(10).toDF("id"), dvRoot)
    CommitLog.deleteDV(spark, dvRoot, col("id") === 0)
    val name = s"rc_dv_${java.util.UUID.randomUUID().toString.replace('-', '_')}"
    spark.sql(s"CREATE TABLE $name USING `graft-commitlog` OPTIONS (path '$dvRoot')")
    try {
      def n = spark.sql(s"SELECT count(id) AS n FROM $name")
      assert(ResultCache.cached(cache, n).collect()(0).getLong(0) == 9L)
      CommitLog.append(spark.range(10, 15).toDF("id"), dvRoot)
      assert(ResultCache.cached(cache, n).collect()(0).getLong(0) == 14L)
    } finally spark.sql(s"DROP TABLE $name")
  }
}
