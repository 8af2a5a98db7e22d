package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Golden manifests for every CommitLog DML writer. Each writer runs on
  * four small fixed tables (plain, partitioned, a renamed column, one that
  * already carries deletion vectors), and every version it publishes is
  * recorded as one line: op, live rows, the fixture files it removed, the
  * fixture files carrying a deletion vector, the dead rows those vectors
  * hide, `mutationV`/`modifyV`, and an order-independent digest of the
  * live rows. Paths and the number of files a write adds are physical
  * layout and stay out of the record; a removed or DV'd file written by
  * the DML itself shows as `staged`.
  *
  * A change to what a writer records fails here with the full actual
  * record printed; update an expectation only for an intended change.
  */
class DmlGoldenSpec extends SparkTestBase {

  import CommitLog.{BySourceClause, TxnDel, TxnIns, TxnMerge, TxnUpd}

  private def tmp(): String =
    Files.createTempDirectory("graft-dml-golden").toString

  /** A fixture table: its root, the value column's name and the names of
    * its files at the fixture version (`f0`, `f1`, … by lowest id).
    */
  private case class Fixture(root: String, vc: String,
      names: Map[String, String])

  private def fixture(kind: String): Fixture = {
    val root = tmp()
    val df = spark.range(0, 60, 1, 3)
      .selectExpr("id", "id % 5 AS k", "id * 10 AS v")
    kind match {
      case "partitioned" => CommitLog.append(df, root, partitionBy = Seq("k"))
      case _ => CommitLog.append(df, root)
    }
    if (kind == "renamed") CommitLog.renameColumn(root, "v", "w")
    if (kind == "dv") CommitLog.deleteDV(spark, root, col("id") % 7 === 0)
    val m = CommitLog.readManifest(root, CommitLog.currentVersion(root).get)
    val names = m.statsOrNil.sortBy(s => (s.minsOrEmpty("id").toLong, s.path))
      .zipWithIndex.map { case (s, i) => s.path -> s"f$i" }.toMap
    Fixture(root, if (kind == "renamed") "w" else "v", names)
  }

  private def rows(vc: String, ids: Seq[Long], v: Long): DataFrame =
    spark.createDataFrame(ids.map(i => (i, i % 5, v))).toDF("id", "k", vc)

  /** One line per version published after the fixture version. */
  private def record(fx: Fixture, from: Long): Seq[String] = {
    val to = CommitLog.currentVersion(fx.root).get
    (from + 1 to to).map { v =>
      val prior = CommitLog.readManifest(fx.root, v - 1)
      val m = CommitLog.readManifest(fx.root, v)
      def named(paths: Iterable[String]): String = {
        val fixed = paths.flatMap(fx.names.get).toSeq.sorted
        val staged = paths.exists(p => !fx.names.contains(p))
        (fixed ++ (if (staged) Seq("staged") else Nil)).mkString(",")
      }
      val live = CommitLog.read(spark, fx.root, Some(v))
      val schema = CommitLog.manifestSchema(m)
      val Array(n, digest) = live.agg(count(lit(1)),
        sum(xxhash64(schema.fieldNames.toIndexedSeq.map(col): _*)
          .cast("decimal(38,0)"))).collect().head.toSeq.toArray
      val dead = m.statsOrNil.map(_.rows).sum - n.asInstanceOf[Long]
      s"v$v ${m.op} live=$n removed=[${named(prior.files.toSet -- m.files)}] " +
        s"dvs=[${named(m.dvsOrEmpty.keys)}] dead=$dead " +
        s"mut=${m.mutationVOrZero} mod=${m.modifyVOrZero} digest=$digest"
    }
  }

  private val fixtures = Seq("plain", "partitioned", "renamed", "dv")

  /** The DML writers, each run once on a fresh fixture. */
  private val writers: Seq[(String, Fixture => Unit)] = Seq(
    "update" -> { fx =>
      CommitLog.update(spark, fx.root, Seq(fx.vc -> (col(fx.vc) + 1)),
        col("id") < 10) },
    "update a key" -> { fx =>
      CommitLog.update(spark, fx.root, Seq("id" -> (col("id") + 1000)),
        col("id") % 9 === 4) },
    "delete" -> { fx => CommitLog.delete(spark, fx.root, col("k") === 2) },
    "delete matching nothing" -> { fx =>
      CommitLog.delete(spark, fx.root, col("id") > 1000) },
    "merge with deleteWhen" -> { fx =>
      CommitLog.merge(spark, fx.root,
        rows(fx.vc, Seq(1L, 2L, 100L, 101L), 5L)
          .unionByName(rows(fx.vc, Seq(3L), -1L)),
        Seq("id"), deleteWhen = Some(col(fx.vc) < 0)) },
    "applySnapshot with a scope" -> { fx =>
      CommitLog.applySnapshot(spark, fx.root,
        rows(fx.vc, (0L until 20L).filter(_ % 5 == 1), 7L), Seq("id"),
        scope = Some(col("k") === 1)) },
    "merge setting by source" -> { fx =>
      CommitLog.mergeRows(spark, fx.root, rows(fx.vc, Seq(3L, 8L, 200L), 4L),
        Seq("id"), deleteFlag = None, insertUnmatched = false,
        bySource = Some(BySourceClause(delete = false,
          Seq(fx.vc -> lit(-5L)), Some(col("k") === 3)))) },
    "merge keeping matched rows" -> { fx =>
      CommitLog.mergeRows(spark, fx.root, rows(fx.vc, Seq(4L, 300L), 4L),
        Seq("id"), deleteFlag = None, insertUnmatched = true,
        replaceMatched = false,
        bySource = Some(BySourceClause(delete = true, Nil,
          Some(col("k") === 4 && col("id") > 40)))) },
    "replaceWhere" -> { fx =>
      CommitLog.replaceWhere(spark, fx.root, col("k") === 0,
        rows(fx.vc, Seq(0L, 400L, 405L), 1L)) },
    "overwritePartitionsDynamic" -> { fx =>
      if (CommitLog.readManifest(fx.root, CommitLog.currentVersion(fx.root).get)
          .partitionByOrNil.nonEmpty)
        CommitLog.overwritePartitionsDynamic(spark, fx.root,
          rows(fx.vc, Seq(500L, 505L), 2L)) },
    "deleteDV" -> { fx =>
      CommitLog.deleteDV(spark, fx.root, col("id").between(5, 14)) },
    "updateDV" -> { fx =>
      CommitLog.updateDV(spark, fx.root, Seq(fx.vc -> -col(fx.vc)),
        col("id") % 4 === 1) },
    "forgetKeys" -> { fx =>
      val other = tmp()
      CommitLog.append(rows(fx.vc, Seq(3L, 4L), 0L), other)
      CommitLog.forgetKeys(spark, Seq((fx.root, "k"), (other, "k")),
        Seq(3L), tmp()) },
    "multiDml" -> { fx =>
      CommitLog.multiDml(spark, Seq((fx.root, CommitLog.currentVersion(fx.root),
        Seq(TxnIns(rows(fx.vc, Seq(200L, 201L), 2L)),
          TxnUpd(Seq(fx.vc -> (col(fx.vc) + 1)), col("id") < 10),
          TxnDel(col("k") === 2),
          TxnMerge(rows(fx.vc, Seq(30L, 31L, 300L), 3L), Seq("id"),
            deleteFlag = None, insertUnmatched = true,
            replaceMatched = true, bySource = None)))), tmp()) })

  private def expected(fixture: String, writer: String): Seq[String] =
    DmlGoldenSpec.expected.getOrElse(s"$fixture / $writer", Nil)

  for (kind <- fixtures) test(s"golden manifests on the $kind fixture") {
    val failures = writers.flatMap { case (name, run) =>
      val fx = fixture(kind)
      val from = CommitLog.currentVersion(fx.root).get
      run(fx)
      val got = record(fx, from)
      if (got == expected(kind, name)) None
      else Some(s""""$kind / $name" -> Seq(${got.map(g => s"\n  \"$g\"")
        .mkString(",")}),""")
    }
    assert(failures.isEmpty, failures.mkString("\nactual:\n", "\n", ""))
  }

  test("a DML that touches no file and inserts nothing leaves no file behind") {
    def parquetFiles(root: String): Int = {
      val s = Files.walk(java.nio.file.Paths.get(root, "data"))
      try s.filter(_.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    for (kind <- fixtures) {
      val fx = fixture(kind)
      val version = CommitLog.currentVersion(fx.root)
      val before = parquetFiles(fx.root)
      val empty = rows(fx.vc, Nil, 0L)
      CommitLog.replaceWhere(spark, fx.root, col("id") > 1000, empty)
      assert(parquetFiles(fx.root) == before, s"$kind: replaceWhere")
      CommitLog.merge(spark, fx.root, empty, Seq("id"))
      assert(parquetFiles(fx.root) == before, s"$kind: merge")
      assert(CommitLog.currentVersion(fx.root) == version, kind)
    }
  }
}

object DmlGoldenSpec {
  val expected: Map[String, Seq[String]] = Map(
    "plain / update" -> Seq(
      "v2 update live=60 removed=[f0] dvs=[] dead=0 mut=2 mod=2 digest=-31894656874395665165"),
    "plain / update a key" -> Seq(
      "v2 update live=60 removed=[f0,f1,f2] dvs=[] dead=0 mut=2 mod=2 digest=-6990834577850430069"),
    "plain / delete" -> Seq(
      "v2 delete live=48 removed=[f0,f1,f2] dvs=[] dead=0 mut=2 mod=0 digest=44933242529260302187"),
    "plain / delete matching nothing" -> Seq(), // no match: no commit
    "plain / merge with deleteWhen" -> Seq(
      "v2 merge live=61 removed=[f0] dvs=[] dead=0 mut=2 mod=2 digest=6485893750999872177"),
    "plain / applySnapshot with a scope" -> Seq(
      "v2 merge live=52 removed=[f0,f1,f2] dvs=[] dead=0 mut=2 mod=2 digest=-10956281919830958186"),
    "plain / merge setting by source" -> Seq(
      "v2 merge live=60 removed=[f0,f1,f2] dvs=[] dead=0 mut=2 mod=2 digest=34630096801640764756"),
    "plain / merge keeping matched rows" -> Seq(
      "v2 merge live=57 removed=[f0,f2] dvs=[] dead=0 mut=2 mod=2 digest=11020638129057542621"),
    "plain / replaceWhere" -> Seq(
      "v2 replaceWhere live=51 removed=[f0,f1,f2] dvs=[] dead=0 mut=2 mod=2 digest=3562173360385862648"),
    "plain / deleteDV" -> Seq(
      "v2 delete-dv live=50 removed=[] dvs=[f0] dead=10 mut=2 mod=0 digest=-18670323879151704388"),
    "plain / updateDV" -> Seq(
      "v2 update-dv live=60 removed=[] dvs=[f0,f1,f2] dead=15 mut=2 mod=2 digest=-28756368873757370199"),
    "plain / forgetKeys" -> Seq(
      "v2 delete-dv live=48 removed=[] dvs=[f0,f1,f2] dead=12 mut=2 mod=0 digest=-17045411441334448000"),
    "plain / multiDml" -> Seq(
      "v2 txn-dml live=51 removed=[] dvs=[f0,f1,f2] dead=22 mut=2 mod=2 digest=14182444839556354927"),
    "partitioned / update" -> Seq(
      "v2 update live=60 removed=[f0,f1,f2,f3,f4] dvs=[] dead=0 mut=2 mod=2 digest=-31894656874395665165"),
    "partitioned / update a key" -> Seq(
      "v2 update live=60 removed=[f0,f1,f2,f3,f4] dvs=[] dead=0 mut=2 mod=2 digest=-6990834577850430069"),
    "partitioned / delete" -> Seq(
      "v2 delete live=48 removed=[f2] dvs=[] dead=0 mut=2 mod=0 digest=44933242529260302187"),
    "partitioned / delete matching nothing" -> Seq(), // no match: no commit
    "partitioned / merge with deleteWhen" -> Seq(
      "v2 merge live=61 removed=[f1,f2,f3] dvs=[] dead=0 mut=2 mod=2 digest=6485893750999872177"),
    "partitioned / applySnapshot with a scope" -> Seq(
      "v2 merge live=52 removed=[f1] dvs=[] dead=0 mut=2 mod=2 digest=-10956281919830958186"),
    "partitioned / merge setting by source" -> Seq(
      "v2 merge live=60 removed=[f3] dvs=[] dead=0 mut=2 mod=2 digest=34630096801640764756"),
    "partitioned / merge keeping matched rows" -> Seq(
      "v2 merge live=57 removed=[f4] dvs=[] dead=0 mut=2 mod=2 digest=11020638129057542621"),
    "partitioned / replaceWhere" -> Seq(
      "v2 replaceWhere live=51 removed=[f0] dvs=[] dead=0 mut=2 mod=2 digest=3562173360385862648"),
    "partitioned / overwritePartitionsDynamic" -> Seq(
      "v2 replaceWhere live=50 removed=[f0] dvs=[] dead=0 mut=2 mod=2 digest=-169448733085578577"),
    "partitioned / deleteDV" -> Seq(
      "v2 delete-dv live=50 removed=[] dvs=[f0,f1,f2,f3,f4] dead=10 mut=2 mod=0 digest=-18670323879151704388"),
    "partitioned / updateDV" -> Seq(
      "v2 update-dv live=60 removed=[] dvs=[f0,f1,f2,f3,f4] dead=15 mut=2 mod=2 digest=-28756368873757370199"),
    "partitioned / forgetKeys" -> Seq(
      "v2 delete-dv live=48 removed=[f3] dvs=[] dead=0 mut=2 mod=0 digest=-17045411441334448000"),
    "partitioned / multiDml" -> Seq(
      "v2 txn-dml live=51 removed=[f2] dvs=[f0,f1,f3,f4] dead=10 mut=2 mod=2 digest=14182444839556354927"),
    "renamed / update" -> Seq(
      "v3 update live=60 removed=[f0] dvs=[] dead=0 mut=3 mod=3 digest=-31894656874395665165"),
    "renamed / update a key" -> Seq(
      "v3 update live=60 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=-6990834577850430069"),
    "renamed / delete" -> Seq(
      "v3 delete live=48 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=0 digest=44933242529260302187"),
    "renamed / delete matching nothing" -> Seq(), // no match: no commit
    "renamed / merge with deleteWhen" -> Seq(
      "v3 merge live=61 removed=[f0] dvs=[] dead=0 mut=3 mod=3 digest=6485893750999872177"),
    "renamed / applySnapshot with a scope" -> Seq(
      "v3 merge live=52 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=-10956281919830958186"),
    "renamed / merge setting by source" -> Seq(
      "v3 merge live=60 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=34630096801640764756"),
    "renamed / merge keeping matched rows" -> Seq(
      "v3 merge live=57 removed=[f0,f2] dvs=[] dead=0 mut=3 mod=3 digest=11020638129057542621"),
    "renamed / replaceWhere" -> Seq(
      "v3 replaceWhere live=51 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=3562173360385862648"),
    "renamed / deleteDV" -> Seq(
      "v3 delete-dv live=50 removed=[] dvs=[f0] dead=10 mut=3 mod=0 digest=-18670323879151704388"),
    "renamed / updateDV" -> Seq(
      "v3 update-dv live=60 removed=[] dvs=[f0,f1,f2] dead=15 mut=3 mod=3 digest=-28756368873757370199"),
    "renamed / forgetKeys" -> Seq(
      "v3 delete-dv live=48 removed=[] dvs=[f0,f1,f2] dead=12 mut=3 mod=0 digest=-17045411441334448000"),
    "renamed / multiDml" -> Seq(
      "v3 txn-dml live=51 removed=[] dvs=[f0,f1,f2] dead=22 mut=3 mod=3 digest=14182444839556354927"),
    "dv / update" -> Seq(
      "v3 update live=51 removed=[f0] dvs=[f1,f2] dead=6 mut=3 mod=3 digest=-22530980529480685706"),
    "dv / update a key" -> Seq(
      "v3 update live=51 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=-5631588643166004925"),
    "dv / delete" -> Seq(
      "v3 delete live=41 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=0 digest=37130503040940752270"),
    "dv / delete matching nothing" -> Seq(), // no match: no commit
    "dv / merge with deleteWhen" -> Seq(
      "v3 merge live=52 removed=[f0] dvs=[f1,f2] dead=6 mut=3 mod=3 digest=4771913684372396248"),
    "dv / applySnapshot with a scope" -> Seq(
      "v3 merge live=45 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=-10783377472170161469"),
    "dv / merge setting by source" -> Seq(
      "v3 merge live=51 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=31818368291928129401"),
    "dv / merge keeping matched rows" -> Seq(
      "v3 merge live=49 removed=[f0,f2] dvs=[f1] dead=3 mut=3 mod=3 digest=10796676362711091892"),
    "dv / replaceWhere" -> Seq(
      "v3 replaceWhere live=44 removed=[f0,f1,f2] dvs=[] dead=0 mut=3 mod=3 digest=6497910912544303646"),
    "dv / deleteDV" -> Seq(
      "v3 delete-dv live=43 removed=[] dvs=[f0,f1,f2] dead=17 mut=3 mod=0 digest=-32081413766316940623"),
    "dv / updateDV" -> Seq(
      "v3 update-dv live=51 removed=[] dvs=[f0,f1,f2] dead=22 mut=3 mod=3 digest=-28473344368200193209"),
    "dv / forgetKeys" -> Seq(
      "v3 delete-dv live=40 removed=[] dvs=[f0,f1,f2] dead=20 mut=3 mod=0 digest=-13109824329315200780"),
    "dv / multiDml" -> Seq(
      "v3 txn-dml live=44 removed=[] dvs=[f0,f1,f2] dead=28 mut=3 mod=3 digest=15795865288581031646"))
}
