package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** One statement, three ways: every UPDATE, DELETE, replaceWhere and MERGE
  * shape runs as an autocommit copy-on-write call, as an autocommit call
  * with `spark.graft.commitlog.deletionVectors` on (DELETE/UPDATE; the
  * other statements have no merge-on-read form and run copy-on-write),
  * and as a one-statement `multiDml` block. The three tables must hold
  * the same rows after every step. A last test folds the whole sequence
  * into ONE block and compares it with the autocommit end state.
  */
class DmlDifferentialSpec extends SparkTestBase {

  import CommitLog.{BySourceClause, TxnDel, TxnIns, TxnMerge, TxnOp, TxnUpd}

  private def tmp(): String =
    Files.createTempDirectory("graft-dml-diff").toString

  private def table(): String = {
    val root = tmp()
    CommitLog.append(spark.range(0, 60, 1, 3).selectExpr("id", "id % 5 AS k",
      "id * 10 AS v", "CASE WHEN id % 6 = 0 THEN NULL ELSE id END AS n"), root)
    root
  }

  private def rows(ids: Seq[Long], v: Long): DataFrame =
    spark.createDataFrame(ids.map(i => (i, i % 5, v, Option(i))))
      .toDF("id", "k", "v", "n")

  private val Flag = "__delete"

  /** A statement: its autocommit call and its ops inside a block. */
  private case class Stmt(name: String, auto: String => Unit,
      ops: Seq[TxnOp])

  private def upd(set: Seq[(String, Column)], cond: Column): String => Unit =
    root => CommitLog.updateConfigured(spark, root, set, cond)

  private def del(cond: Column): String => Unit =
    root => CommitLog.deleteConfigured(spark, root, cond)

  private def merge(src: DataFrame, deleteFlag: Option[String],
      insertUnmatched: Boolean, replaceMatched: Boolean,
      bySource: Option[BySourceClause]): Stmt = Stmt("", root =>
    CommitLog.mergeRows(spark, root, src, Seq("id"), deleteFlag,
      insertUnmatched, replaceMatched, bySource),
    Seq(TxnMerge(src, Seq("id"), deleteFlag, insertUnmatched, replaceMatched,
      bySource)))

  private lazy val statements: Seq[Stmt] = {
    val s1 = Seq("v" -> (col("v") + 1))
    val s2 = Seq("id" -> (col("id") + 1000))
    val s3 = Seq("v" -> lit(0L))
    val rw = rows(Seq(1L, 501L, 506L), 8L)
    val withFlag = rows(Seq(2L, 12L, 600L), 5L)
      .unionByName(rows(Seq(23L, 601L), -1L))
      .withColumn(Flag, col("v") < 0)
    Seq(
      Stmt("UPDATE", upd(s1, col("id") < 10), Seq(TxnUpd(s1, col("id") < 10))),
      Stmt("UPDATE of the key", upd(s2, col("id") % 7 === 3),
        Seq(TxnUpd(s2, col("id") % 7 === 3))),
      Stmt("UPDATE under a NULL condition", upd(s3, col("n") > 40),
        Seq(TxnUpd(s3, col("n") > 40))),
      Stmt("DELETE", del(col("k") === 2), Seq(TxnDel(col("k") === 2))),
      Stmt("DELETE under a NULL condition", del(col("n") < 10),
        Seq(TxnDel(col("n") < 10))),
      Stmt("replaceWhere", root =>
        CommitLog.replaceWhere(spark, root, col("k") === 1, rw),
        Seq(TxnDel(col("k") === 1), TxnIns(rw))),
      merge(withFlag, Some(Flag), insertUnmatched = true,
        replaceMatched = true, None).copy(name = "MERGE with deleteWhen"),
      merge(rows(Seq(3L, 13L, 700L), 6L), None, insertUnmatched = true,
        replaceMatched = true,
        Some(BySourceClause(delete = true, Nil, Some(col("k") === 3))))
        .copy(name = "MERGE with a scoped by-source delete"),
      merge(rows(Seq(4L, 800L), 9L), None, insertUnmatched = true,
        replaceMatched = true,
        Some(BySourceClause(delete = false, Seq("v" -> lit(-7L)),
          Some(col("k") === 4))))
        .copy(name = "MERGE with a by-source set"),
      merge(rows(Seq(14L, 24L, 900L), 2L), None, insertUnmatched = true,
        replaceMatched = false,
        Some(BySourceClause(delete = true, Nil, Some(col("k") === 0))))
        .copy(name = "MERGE with replaceMatched = false"),
      merge(rows(Seq(29L, 34L, 950L, 951L), 3L), None, insertUnmatched = true,
        replaceMatched = false, None).copy(name = "insert-only MERGE"))
  }

  private def contents(root: String): Seq[Row] =
    CommitLog.read(spark, root).select("id", "k", "v", "n").collect()
      .toSeq.sortBy(r => (r.getLong(0), r.getLong(2)))

  private def withDvs[A](on: Boolean)(body: => A): A = {
    val key = "spark.graft.commitlog.deletionVectors"
    spark.conf.set(key, on.toString)
    try body finally spark.conf.unset(key)
  }

  private def block(root: String, ops: Seq[TxnOp]): Unit =
    CommitLog.multiDml(spark, Seq((root, CommitLog.currentVersion(root), ops)),
      tmp())

  test("every statement gives the same rows copy-on-write, with deletion " +
      "vectors and inside a block") {
    val (cow, dv, txn) = (table(), table(), table())
    statements.foreach { s =>
      withDvs(on = false)(s.auto(cow))
      withDvs(on = true)(s.auto(dv))
      block(txn, s.ops)
      val want = contents(cow)
      assert(contents(dv) == want, s"deletion vectors differ after ${s.name}")
      assert(contents(txn) == want, s"the block differs after ${s.name}")
    }
  }

  test("the whole sequence in one block ends where autocommit ends") {
    val (auto, txn) = (table(), table())
    statements.foreach(s => withDvs(on = false)(s.auto(auto)))
    block(txn, statements.flatMap(_.ops))
    assert(contents(txn) == contents(auto))
  }
}
