package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Multi-table transactions: atomic cross-table visibility through one
  * marker write, lazy force-abort of crashed coordinators, the exactly-
  * one-winner decision race, chain integrity across aborted versions, and
  * the consistent cross-table snapshot cut.
  */
class CommitLogMultiTxnSpec extends SparkTestBase {

  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("multiAppend: both tables visible together; deltas accumulate") {
    val (a, b, coord) = (tmp("mt-a"), tmp("mt-b"), tmp("mt-coord"))
    val v1 = CommitLog.multiAppend(Seq(
      Seq((1L, "x")).toDF("id", "v") -> a,
      Seq((1L, 10L)).toDF("id", "n") -> b), coord)
    assert(v1 == Map(a -> 1L, b -> 1L))
    assert(CommitLog.read(spark, a).count() == 1
      && CommitLog.read(spark, b).count() == 1)
    val v2 = CommitLog.multiAppend(Seq(
      Seq((2L, "y")).toDF("id", "v") -> a,
      Seq((2L, 20L)).toDF("id", "n") -> b), coord)
    assert(v2 == Map(a -> 2L, b -> 2L))
    assert(CommitLog.read(spark, a).as[(Long, String)].collect().sorted
      .toSeq == Seq((1L, "x"), (2L, "y")))
    assert(CommitLog.read(spark, b).as[(Long, Long)].collect().sorted
      .toSeq == Seq((1L, 10L), (2L, 20L)))
  }

  test("a crashed coordinator's prepares are invisible, force-aborted on " +
      "first resolution, and stay aborted even if the coordinator returns") {
    val (a, b, coord) = (tmp("mt-a2"), tmp("mt-b2"), tmp("mt-coord2"))
    CommitLog.append(Seq((1L, "base")).toDF("id", "v"), a)
    CommitLog.append(Seq((1L, 1L)).toDF("id", "n"), b)
    // simulate the crash: prepares published, marker never written
    val marker = Paths.get(coord).resolve("txn-crashed.json")
      .toAbsolutePath.toString
    def prepare(root: String, df: org.apache.spark.sql.DataFrame): Unit =
      CommitLog.publish(root, CommitLog.Commit(2L, "txn-append",
        df.schema.json,
        add = CommitLog.stageForTest(df, root), multiTxn = marker,
        ts = System.currentTimeMillis() - 60000L)) // long past any grace
    prepare(a, Seq((2L, "ghost")).toDF("id", "v"))
    prepare(b, Seq((2L, 2L)).toDF("id", "n"))
    spark.conf.set(CommitLog.TxnGraceConf, "50")
    try {
      // first read resolves → force-abort; effects invisible on BOTH
      assert(CommitLog.read(spark, a).as[(Long, String)].collect()
        .toSeq == Seq((1L, "base")))
      assert(CommitLog.read(spark, b).count() == 1)
      // the version number is occupied but a no-op
      assert(CommitLog.currentVersion(a).contains(2L))
      // the late-returning coordinator cannot flip the decision
      assert(CommitLog.decideMarker(Paths.get(marker), "committed")
        == "aborted")
      assert(CommitLog.read(spark, a).count() == 1)
      // the chain continues fine past the aborted version
      CommitLog.append(Seq((3L, "after")).toDF("id", "v"), a)
      assert(CommitLog.read(spark, a).as[(Long, String)].collect().sorted
        .toSeq == Seq((1L, "base"), (3L, "after")))
      // time travel: the aborted version reads as its predecessor's state
      assert(CommitLog.read(spark, a, version = Some(2L)).count() == 1)
    } finally spark.conf.unset(CommitLog.TxnGraceConf)
  }

  test("losing the decision race surfaces as TxnAbortedException and no " +
      "table shows any effect") {
    val (a, b, coord) = (tmp("mt-a3"), tmp("mt-b3"), tmp("mt-coord3"))
    CommitLog.append(Seq((1L, "base")).toDF("id", "v"), a)
    CommitLog.append(Seq((1L, 1L)).toDF("id", "n"), b)
    // adversarial resolver: pre-abort the exact marker the next txn will
    // use is impossible (uuid), so race it the honest way — decide while
    // prepares exist. Reproduce deterministically via internals: publish
    // prepares, abort the marker, then run the coordinator's commit step.
    val marker = Paths.get(coord).resolve("txn-raced.json")
      .toAbsolutePath.toString
    CommitLog.publish(a, CommitLog.Commit(2L, "txn-append",
      Seq((2L, "g")).toDF("id", "v").schema.json,
      add = CommitLog.stageForTest(Seq((2L, "g")).toDF("id", "v"), a),
      multiTxn = marker))
    assert(CommitLog.decideMarker(Paths.get(marker), "aborted") == "aborted")
    // coordinator arrives late: its commit attempt must lose
    assert(CommitLog.decideMarker(Paths.get(marker), "committed")
      == "aborted")
    assert(CommitLog.read(spark, a).count() == 1)
  }

  test("vacuum reclaims an aborted txn's staged files; a committed txn's " +
      "survive") {
    val (a, coord) = (tmp("mt-a5"), tmp("mt-coord5"))
    CommitLog.multiAppend(Seq(
      Seq((1L, "keep")).toDF("id", "v") -> a), coord)
    // crashed prepare → force-aborted on resolution → its files orphan
    val marker = Paths.get(coord).resolve("txn-orphan.json")
      .toAbsolutePath.toString
    CommitLog.publish(a, CommitLog.Commit(2L, "txn-append",
      Seq((2L, "ghost")).toDF("id", "v").schema.json,
      add = CommitLog.stageForTest(Seq((2L, "ghost")).toDF("id", "v"), a),
      multiTxn = marker, ts = System.currentTimeMillis() - 60000L))
    spark.conf.set(CommitLog.TxnGraceConf, "50")
    try {
      assert(CommitLog.read(spark, a).count() == 1) // resolves → aborted
      val doomed = CommitLog.vacuumDryRun(a, keepVersions = 10,
        retentionMs = 0L)
      assert(doomed.nonEmpty, "aborted staging should be reclaimable")
      CommitLog.vacuum(a, keepVersions = 10, retentionMs = 0L)
      // committed data intact, ghost files gone
      assert(CommitLog.read(spark, a).as[(Long, String)].collect()
        .toSeq == Seq((1L, "keep")))
      assert(CommitLog.vacuumDryRun(a, keepVersions = 10,
        retentionMs = 0L).isEmpty)
    } finally spark.conf.unset(CommitLog.TxnGraceConf)
  }

  test("a prepare landing on a checkpoint version after vacuumLog leaves " +
      "later versions resolvable") {
    val (a, coord) = (tmp("mt-a6"), tmp("mt-coord6"))
    def row(i: Long) = Seq((i, s"r$i")).toDF("id", "v")
    (1L to 4L).foreach(i => CommitLog.append(row(i), a))
    CommitLog.vacuumLog(a, -1L) // checkpoint at v4, commits below it gone
    (5L to 9L).foreach(i => CommitLog.append(row(i), a))
    // the prepare takes v10 and, by design, writes no checkpoint there
    assert(CommitLog.multiAppend(Seq(row(10L) -> a), coord) == Map(a -> 10L))
    (11L to 15L).foreach(i => CommitLog.append(row(i), a))
    assert(CommitLog.read(spark, a).count() == 15)
  }

  test("consistentSnapshot pins a quiescent cut that advances with a txn") {
    val (a, b, coord) = (tmp("mt-a4"), tmp("mt-b4"), tmp("mt-coord4"))
    CommitLog.multiAppend(Seq(
      Seq((1L, "x")).toDF("id", "v") -> a,
      Seq((1L, 1L)).toDF("id", "n") -> b), coord)
    val cut1 = CommitLog.consistentSnapshot(Seq(a, b))
    assert(cut1 == Map(a -> 1L, b -> 1L))
    CommitLog.multiAppend(Seq(
      Seq((2L, "y")).toDF("id", "v") -> a,
      Seq((2L, 2L)).toDF("id", "n") -> b), coord)
    val cut2 = CommitLog.consistentSnapshot(Seq(a, b))
    assert(cut2 == Map(a -> 2L, b -> 2L))
    // pinned reads hold the old consistent view
    assert(CommitLog.read(spark, a, version = Some(cut1(a))).count() == 1
      && CommitLog.read(spark, b, version = Some(cut1(b))).count() == 1)
  }

  /** A block on a table declaring `constraint.pk = id`: ids 1–3. */
  private def pkTable(name: String): String = {
    val t = tmp(name)
    CommitLog.append(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v"), t)
    CommitLog.setTableProperties(t, Map(CommitLog.PkProp -> "id"))
    t
  }

  private def block(t: String, ops: Seq[CommitLog.TxnOp]): Long =
    CommitLog.multiDml(spark, Seq((t, CommitLog.currentVersion(t), ops)),
      tmp("mt-pk-coord"))(t)

  test("a block's non-key UPDATE on a pk table commits") {
    val t = pkTable("mt-pk1")
    block(t, Seq(CommitLog.TxnUpd(Seq("v" -> (col("v") + 1)), col("id") === 1L)))
    assert(CommitLog.read(spark, t).as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 11L), (2L, 20L), (3L, 30L)))
  }

  test("a block's DELETE-then-INSERT of one key commits") {
    val t = pkTable("mt-pk2")
    block(t, Seq(CommitLog.TxnDel(col("id") === 2L),
      CommitLog.TxnIns(Seq((2L, 99L)).toDF("id", "v"))))
    assert(CommitLog.read(spark, t).as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 10L), (2L, 99L), (3L, 30L)))
  }

  test("a block that INSERTs a live key still aborts") {
    val t = pkTable("mt-pk3")
    val v0 = CommitLog.currentVersion(t)
    val e = intercept[IllegalArgumentException](block(t, Seq(
      CommitLog.TxnUpd(Seq("v" -> lit(0L)), col("id") === 1L),
      CommitLog.TxnIns(Seq((3L, 33L)).toDF("id", "v")))))
    assert(e.getMessage.contains("re-inserts key"))
    assert(CommitLog.currentVersion(t) == v0)
    assert(CommitLog.read(spark, t).count() == 3)
  }
}
