package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the 2026-08 testdata regen switched events.ts from TIMESTAMP(NANOS)
      // to TIMESTAMP(MICROS, isAdjustedToUTC=false); without this, Spark
      // infers TIMESTAMP_NTZ and unix_micros()-based operators stop
      // resolving. Reading it as LTZ epoch-micros matches the DuckDB
      // oracle's naive-micros view under the UTC session tz.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // Spark 4.1's checkpoint-file checksum writer deadlocks stateful
      // streaming tasks on small local pools (tasks park forever in
      // ChecksumCheckpointFileManager.awaitResult); checksums guard against
      // checkpoint corruption on real DFS — irrelevant for tmp-dir tests.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", Graft.CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}
