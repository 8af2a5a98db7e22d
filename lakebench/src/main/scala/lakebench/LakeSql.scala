package lakebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col

import graft.semantic.{CubeViews, ReferenceCubes}
import graft.sources.{CatalogOps, CommitLog}
import graft.tools.PgWire

/** Lake bring-up shared by the lake workloads: the generated parquet lands
  * as CommitLog catalog tables in database `lake`.
  */
object Lake {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  /** Big fact tables land as key-ordered files (one commit), so each file
    * covers one key range and selective lookups can skip files by their
    * stats.
    */
  private val clustered = Map("orders" -> "o_orderkey", "lineitem" -> "l_orderkey")

  def land(spark: SparkSession, data: String, table: String, root: String,
      columns: Seq[String] = Nil): Unit = {
    val df0 = graft.Tables.load(spark, data, table)
    val df = if (columns.isEmpty) df0 else df0.select(columns.map(col): _*)
    CommitLog.append(clustered.get(table) match {
      case Some(key) => df.repartitionByRange(4, col(key)).sortWithinPartitions(key)
      case None => df
    }, root)
  }

  def register(spark: SparkSession, table: String, root: String): Unit =
    CatalogOps.createCommitLogTable(spark, "lake", table, root)

  def server(spark: SparkSession): PgWire.Server =
    PgWire.start(spark, user = PgClient.User, password = "", auth = PgWire.Trust)

  /** Runs every statement of a parse → analyze → optimize → plan → execute
    * pipeline as its own span, in process (no wire).
    */
  def phased(spark: SparkSession, sql: String, tr: Tracer, op: Int): Array[Row] = {
    val parsed = tr.span("plans.parse", op)(spark.sessionState.sqlParser.parsePlan(sql))
    val qe = tr.span("plans.analyze", op) {
      val q = spark.sessionState.executePlan(parsed); q.assertAnalyzed(); q
    }
    tr.span("plans.optimize", op)(qe.optimizedPlan)
    val plan = tr.span("plans.physical", op)(qe.executedPlan)
    tr.span("plans.exec", op)(SQLExecution.withNewExecutionId(qe)(plan.executeCollectPublic()))
  }

  def digest(rows: Seq[Seq[String]]): Int = scala.util.hashing.MurmurHash3.seqHash(rows)

  def javaRows(rows: Seq[Seq[String]]): java.util.List[java.util.List[String]] =
    rows.map(_.asJava).asJava

  def parallel(n: Int)(body: Int => Unit): Unit = {
    var failure: Option[Throwable] = None
    val ts = (0 until n).map { c =>
      val t = new Thread(() => try body(c) catch {
        case e: Throwable => synchronized { if (failure.isEmpty) failure = Some(e) }
      })
      t.start(); t
    }
    ts.foreach(_.join())
    failure.foreach(e => throw e)
  }

  def check(r: PgClient#Reply, sql: String): PgClient#Reply = {
    r.error.foreach { case (code, msg) => sys.error(s"$code $msg :: ${sql.take(200)}") }
    r
  }
}

/** `lake-sql`: analyst reads in a closed loop, one pg-wire connection per
  * client.
  */
final class LakeSql(spark: SparkSession, in: Inputs, rec: Recorder) {
  private val stmts = in.strings("sql")
  private val warm = in.strings("warm")
  private val clients = in.nproc

  /** The lake lands once, as input; each set-up brings the serving side
    * up over it: catalog registration, cube views, the pg-wire endpoint,
    * the client connections and a warm-up statement on each.
    */
  def run(): Unit = {
    val root = s"${in.work}/lake"
    Lake.tables.foreach(t => Lake.land(spark, in.data, t, s"$root/$t"))
    var server: PgWire.Server = null
    var conns: Seq[PgClient] = Nil
    rec.setup(in.setups) { rep =>
      conns.foreach(_.close())
      if (server != null) server.stop()
      spark.sql("DROP DATABASE IF EXISTS lake CASCADE")
      Lake.tables.foreach(t => Lake.register(spark, t, s"$root/$t"))
      CubeViews.register(spark, Seq(ReferenceCubes.eventsCube),
        Some((n: String) => spark.table(s"lake.$n")), grain = "month")
      server = Lake.server(spark)
      conns = (0 until clients).map(_ => new PgClient(server.port))
      // one warm-up statement per connection; the set-ups cycle through
      // the templates
      Lake.parallel(clients) { c =>
        val sql = warm((rep * clients + c) % warm.size)
        Lake.check(conns(c).query(sql), sql)
      }
    }
    if (in.trace) traced(conns.head) else untraced(conns)
    conns.foreach(_.close())
    server.stop()
  }

  private def record(c: Int, i: Int, t0: Long, t1: Long, r: PgClient#Reply,
      first: Boolean): Unit = {
    val rows = r.results.lastOption.map(_.rows).getOrElse(Nil)
    val fields = Seq("digest" -> Lake.digest(rows), "n" -> rows.size) ++
      (if (first) Seq("rows" -> Lake.javaRows(rows)) else Nil)
    rec.op(c, i, "sql", t0, t1, r.error.map { case (s, m) => s"$s $m" }, fields: _*)
  }

  private def untraced(conns: Seq[PgClient]): Unit = {
    val next = new AtomicInteger(0)
    val seen = ConcurrentHashMap.newKeySet[String]()
    rec.startMeasure()
    rec.closedLoop(clients, in.seconds) { c =>
      val i = next.getAndIncrement()
      i < stmts.size && {
        val t0 = System.nanoTime()
        val r = conns(c).query(stmts(i))
        record(c, i, t0, System.nanoTime(), r, seen.add(stmts(i)))
        true
      }
    }
    rec.stopMeasure()
  }

  /** One client. First half of the time: statements untimed by spans (the
    * reference for the tracing overhead); then the same statements again
    * with spans, each followed by an in-process phased run of the same SQL
    * so the wire's share can be split off.
    */
  private def traced(conn: PgClient): Unit = {
    val tr = rec.tracer
    rec.startMeasure()
    val plain = Iterator.from(0).takeWhile(i => i < stmts.size &&
      System.nanoTime() < rec.started + in.seconds * 500000000L).map { i =>
      val t0 = System.nanoTime(); Lake.check(conn.query(stmts(i)), stmts(i))
      (System.nanoTime() - t0) / 1e6
    }.toVector
    val seen = new java.util.HashSet[String]()
    plain.indices.foreach { i =>
      val t0 = System.nanoTime()
      val r = tr.span("op", i)(tr.span("tools.wire", i)(conn.query(stmts(i))))
      record(0, i, t0, System.nanoTime(), r, seen.add(stmts(i)))
      tr.span("inproc", i)(Lake.phased(spark, stmts(i), tr, i))
    }
    rec.stopMeasure()
    rec.extra("untraced_ms") = plain
  }
}
