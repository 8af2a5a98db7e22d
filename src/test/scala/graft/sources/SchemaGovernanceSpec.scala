package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Write-contract governance: `schema.mode = strict` pins the append shape
  * exactly; `generate.<col>` computes missing columns on write and
  * verifies provided ones against the expression.
  */
class SchemaGovernanceSpec extends SparkTestBase {

  private def tmp(): String =
    Files.createTempDirectory("graft-schemagov").toString

  test("strict mode rejects new, missing, and retyped columns; additive " +
      "default keeps union-schema evolution") {
    val t = tmp()
    CommitLog.append(spark.range(5).selectExpr(
      "id", "CAST(id AS DOUBLE) AS v"), t)
    CommitLog.setTableProperties(t, Map(CommitLog.SchemaModeProp -> "strict"))
    val extra = intercept[IllegalArgumentException] {
      CommitLog.append(spark.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "id AS extra"), t)
    }
    assert(extra.getMessage.contains("strict"))
    // a multi-table (and pg-wire block) insert takes the same preparation
    val extraTxn = intercept[IllegalArgumentException] {
      CommitLog.multiAppend(Seq(spark.range(5).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v", "id AS extra") -> t), tmp())
    }
    assert(extraTxn.getMessage.contains("strict"))
    intercept[IllegalArgumentException] {
      CommitLog.append(spark.range(5).selectExpr("id"), t) // omits v
    }
    intercept[IllegalArgumentException] {
      CommitLog.append(spark.range(5).selectExpr(
        "id", "CAST(id AS FLOAT) AS v"), t) // retype
    }
    // the exact shape still appends
    CommitLog.append(spark.range(5).selectExpr(
      "id + 10 AS id", "CAST(id AS DOUBLE) AS v"), t)
    assert(CommitLog.read(spark, t).count() == 10)
    // back to additive: evolution works again
    CommitLog.setTableProperties(t, Map(CommitLog.SchemaModeProp -> "additive"))
    CommitLog.append(spark.range(2).selectExpr(
      "id + 100 AS id", "CAST(id AS DOUBLE) AS v", "id AS extra"), t)
    assert(CommitLog.read(spark, t).columns.contains("extra"))
    // bogus mode rejected
    intercept[IllegalArgumentException] {
      CommitLog.setTableProperties(t, Map(CommitLog.SchemaModeProp -> "wild"))
    }
  }

  test("generated columns compute when missing, verify when provided, " +
      "and a contradicting writer aborts") {
    val t = tmp()
    CommitLog.append(spark.range(5).selectExpr(
      "id", "CAST(id * 3 AS BIGINT) AS tripled"), t)
    // expression must analyze over the OTHER columns at SET time
    intercept[IllegalArgumentException] {
      CommitLog.setTableProperties(t, Map("generate.tripled" -> "nope + 1"))
    }
    CommitLog.setTableProperties(t,
      Map("generate.tripled" -> "CAST(id * 3 AS BIGINT)"))
    // writer omits the column → computed, on the multi-table path too
    CommitLog.append(spark.range(5).selectExpr("id + 10 AS id"), t)
    CommitLog.multiAppend(Seq(
      spark.range(1).selectExpr("id + 20 AS id") -> t), tmp())
    val rows = CommitLog.read(spark, t)
      .select("id", "tripled").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows(12L) == 36L && rows(3L) == 9L && rows(20L) == 60L)
    // writer provides consistent values → accepted
    CommitLog.append(spark.range(2).selectExpr(
      "id + 100 AS id", "CAST((id + 100) * 3 AS BIGINT) AS tripled"), t)
    assert(CommitLog.read(spark, t).count() == 13)
    // writer contradicts the expression → abort, no commit
    val v = CommitLog.currentVersion(t)
    val e = intercept[IllegalArgumentException] {
      CommitLog.append(spark.range(1).selectExpr(
        "CAST(999 AS BIGINT) AS id", "CAST(5 AS BIGINT) AS tripled"), t)
    }
    assert(e.getMessage.contains("contradict"))
    val eTxn = intercept[IllegalArgumentException] {
      CommitLog.multiAppend(Seq(spark.range(1).selectExpr(
        "CAST(999 AS BIGINT) AS id", "CAST(5 AS BIGINT) AS tripled") -> t),
        tmp())
    }
    assert(eTxn.getMessage.contains("contradict"))
    assert(CommitLog.currentVersion(t) == v)
  }
}
