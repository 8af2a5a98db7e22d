package lakebench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Sanitize
import graft.sources.{CatalogOps, CommitLog, IngestPipeline, SchemaInference, Xlsx}
import graft.tools.PgWire

/** `lake-write`: writes beside reads, closed loop, four clients on one
  * CommitLog table: an ingest client landing files through
  * `IngestPipeline.ingest`, a DML client on one pg-wire connection, and
  * two readers on their own connections. Each read pins the latest
  * acknowledged version (`VERSION AS OF`), so its answer is checked
  * against exactly one replayed snapshot.
  */
final class LakeWrite(spark: SparkSession, in: Inputs, rec: Recorder) {
  import LakeWrite._

  private val dml = in.maps("dml")
  private val reads = in.maps("reads")
  private val batches = in.maps("batches")
  private val config = s"${in.work}/landing_config"
  private var root = ""
  private def sqlOf(m: Map[String, Object], t: String) = m("sql").toString.replace("{t}", t)

  def run(): Unit = {
    var server: PgWire.Server = null
    var conns: Seq[PgClient] = Nil
    rec.setup(in.setups) { rep =>
      conns.foreach(_.close())
      if (server != null) server.stop()
      spark.sql("DROP DATABASE IF EXISTS lake CASCADE")
      root = s"${in.work}/write$rep/orders_w"
      Lake.land(spark, in.data, "orders", root, Columns)
      Lake.register(spark, "orders_w", root)
      val warmRoot = s"${in.work}/write$rep/orders_warm"
      CommitLog.shallowClone(root, warmRoot)
      Lake.register(spark, "orders_warm", warmRoot)
      server = Lake.server(spark)
      conns = (0 until 4).map(_ => new PgClient(server.port))
      Lake.parallel(4) {
        case 0 => IngestPipeline.ingest(spark, in.str("warm_batch"), config, consume = "keep")
        case 1 =>
          Lake.check(conns(1).query("USE lake"), "USE lake")
          in.maps("warm_dml").foreach(d => Lake.check(dmlCall(conns(1), sqlOf(d, "orders_warm")), "warm dml"))
        case c => reads.take(6).zipWithIndex.foreach { case (r, k) =>
          // the first read is unpinned: it resolves the table in the
          // connection's session, which the stale-relation probe needs
          val t = if (k == 0) Table else pinned(CommitLog.currentVersion(root).get)
          Lake.check(conns(c).query(sqlOf(r, t)), "warm read")
        }
      }
    }
    rec.extra("base_version") = CommitLog.currentVersion(root).get
    val before = Fs.files(in.work + "/warehouse") ++ Fs.files(root)
    if (in.trace) traced(conns(1), conns(2)) else untraced(conns)
    rec.extra("stale_reads") = staleReads(conns.drop(2))
    conns.foreach(_.close())
    server.stop()
    afterwards(before)
  }

  /** Sends one DML item; a block that ended in an error is rolled back so
    * the connection is usable for the next item.
    */
  private def dmlCall(conn: PgClient, sql: String): PgClient#Reply = {
    val r = conn.query(sql)
    if (r.status != 'I') conn.query("ROLLBACK")
    r
  }

  private def err(r: PgClient#Reply) = r.error.map { case (s, m) => s"$s $m" }

  private def pinned(v: Long) = s"$Table VERSION AS OF $v"

  /** Known defect, probed untimed after the run: an unpinned read on a
    * reader connection whose session resolved the table before the run.
    * Once a deletion-vector commit has landed since, the session's cached
    * relation refuses the snapshot (XX000). Returns the errors seen.
    */
  private def staleReads(readers: Seq[PgClient]): Seq[String] =
    readers.flatMap(c => err(c.query(sqlOf(reads(0), Table))))

  private def ingestOne(i: Int): Seq[IngestPipeline.IngestedTable] =
    IngestPipeline.ingest(spark, batches(i)("dir").toString, config, consume = "keep")

  private def recordIngest(i: Int, t0: Long, out: Either[Throwable, Seq[IngestPipeline.IngestedTable]]): Unit =
    rec.op(0, i, "ingest", t0, System.nanoTime(), out.left.toOption.map(_.toString),
      "rows" -> out.map(_.map(_.rows).sum).getOrElse(0L),
      "tables" -> out.map(_.map(t => s"${t.db}.${t.table}").asJava).getOrElse(null),
      "bytes" -> batches(i)("bytes"))

  private def untraced(conns: Seq[PgClient]): Unit = {
    val idx = Array(0, 0, 2, 3) // readers take every other read statement
    rec.startMeasure()
    rec.closedLoop(4, in.seconds) { c =>
      val i = idx(c)
      c match {
        case 0 => i < batches.size && {
          val t0 = System.nanoTime()
          recordIngest(i, t0, try Right(ingestOne(i)) catch { case e: Exception => Left(e) })
          idx(0) += 1; true
        }
        case 1 => i < dml.size && {
          val t0 = System.nanoTime()
          val r = dmlCall(conns(1), sqlOf(dml(i), DmlTable))
          val t1 = System.nanoTime()
          rec.op(1, i, "dml", t0, t1, err(r), "version" -> CommitLog.currentVersion(root).get,
            "sql_bytes" -> sqlOf(dml(i), DmlTable).getBytes("UTF-8").length)
          idx(1) += 1; true
        }
        case _ => i < reads.size && {
          val v = CommitLog.currentVersion(root).get
          val t0 = System.nanoTime()
          val r = conns(c).query(sqlOf(reads(i), pinned(v)))
          val t1 = System.nanoTime()
          rec.op(c, i, "read", t0, t1, err(r), "v" -> v,
            "rows" -> Lake.javaRows(r.results.lastOption.map(_.rows).getOrElse(Nil)))
          idx(c) += 2; true
        }
      }
    }
    rec.stopMeasure()
  }

  /** One client replays DML item i, read i and (every third step) the next
    * landing batch. First half of the time untraced on a clone of the
    * table (the reference for the tracing overhead); then the same steps
    * with spans against the measured table, where autocommit DML goes
    * through the CommitLog API, blocks go statement by statement over the
    * wire, reads run phased in process and ingest runs phase by phase.
    */
  private def traced(conn: PgClient, reader: PgClient): Unit = {
    val tr = rec.tracer
    val cloneRoot = s"${in.work}/clone/orders_a"
    CommitLog.shallowClone(root, cloneRoot)
    Lake.register(spark, "orders_a", cloneRoot)
    rec.startMeasure()
    val half = rec.started + in.seconds * 500000000L
    val plain = mutable.ArrayBuffer[Double]()
    while (plain.size < dml.size && System.nanoTime() < half) {
      val i = plain.size
      val t0 = System.nanoTime()
      Lake.check(dmlCall(conn, sqlOf(dml(i), "orders_a")), "dml")
      reader.query(sqlOf(reads(i), s"lake.orders_a VERSION AS OF ${CommitLog.currentVersion(cloneRoot).get}"))
      plain += (System.nanoTime() - t0) / 1e6
    }
    var nextBatch = 0
    plain.indices.foreach { i =>
      var error: Option[String] = None
      val t0 = System.nanoTime()
      tr.span("op", i) {
        val item = dml(i)
        item("kind").toString match {
          case "block" =>
            sqlOf(item, DmlTable).split(";\n").foreach { stmt =>
              val name = if (stmt == "COMMIT") "tools.txn_commit" else "tools.txn_stmt"
              val r = tr.span(name, i)(conn.query(stmt))
              r.error.foreach { case (code, _) => if (code == "40001") tr.note("conflicts_40001", 1) }
              if (error.isEmpty) error = err(r)
            }
            if (error.nonEmpty) conn.query("ROLLBACK")
          case _ =>
            try item("ops").asInstanceOf[java.util.List[java.util.Map[String, Object]]].asScala
              .foreach(o => commitApi(o.asScala.toMap, i))
            catch { case e: Exception => error = Some(e.toString) }
        }
      }
      rec.op(1, i, "dml", t0, System.nanoTime(), error,
        "version" -> CommitLog.currentVersion(root).get,
        "sql_bytes" -> sqlOf(dml(i), DmlTable).getBytes("UTF-8").length)
      val v = CommitLog.currentVersion(root).get
      val r0 = System.nanoTime()
      val r = tr.span("op", i)(tr.span("tools.wire", i)(reader.query(sqlOf(reads(i), pinned(v)))))
      rec.op(2, i, "read", r0, System.nanoTime(), err(r), "v" -> v,
        "rows" -> Lake.javaRows(r.results.lastOption.map(_.rows).getOrElse(Nil)))
      // the same read in process, phase by phase: the wire's share is the
      // difference (its errors are the wire read's, already recorded)
      try tr.span("inproc", i)(tr.span("commitlog.read", i)(Lake.phased(spark, sqlOf(reads(i), pinned(v)), tr, i)))
      catch { case _: Exception => }
      if (i % 3 == 2 && nextBatch < batches.size) {
        val b0 = System.nanoTime()
        val out = try Right(tr.span("op", i)(ingestPhased(nextBatch, i)))
          catch { case e: Exception => Left(e) }
        recordIngest(nextBatch, b0, out)
        nextBatch += 1
      }
    }
    rec.stopMeasure()
    rec.extra("untraced_ms") = plain.toSeq
  }

  /** One structured DML op through the CommitLog API, as its own span,
    * with the files and log bytes it created.
    */
  private def commitApi(o: Map[String, Object], i: Int): Unit = {
    val tr = rec.tracer
    val kind = o("op").toString
    val files0 = Fs.files(root)
    tr.span(s"commitlog.$kind", i) {
      kind match {
        case "insert" => CommitLog.append(rowsDf(o("rows")), root)
        case "update" => CommitLog.updateConfigured(spark, root,
          Seq("o_totalprice" -> (col("o_totalprice") + lit(o("delta").toString.toDouble))), range(o))
        case "delete" => CommitLog.deleteConfigured(spark, root, range(o))
        case "merge" => CommitLog.merge(spark, root, rowsDf(o("rows")), Seq("o_orderkey"))
        case "optimize" => CommitLog.optimize(spark, root)
      }
      val created = Fs.files(root) -- files0
      val (log, data) = created.partition(_.contains("/_graft_log/"))
      tr.note("files_created", data.size)
      tr.note("log_bytes", log.toSeq.map(f => Files.size(Paths.get(f))).sum)
      tr.note("live_files", CommitLog.readManifest(root, CommitLog.currentVersion(root).get).files.size)
    }
  }

  private def range(o: Map[String, Object]): Column =
    col("o_orderkey").between(o("lo").toString.toLong, o("hi").toString.toLong)

  private def rowsDf(rows: Object): DataFrame = {
    val rs = rows.asInstanceOf[java.util.List[java.util.List[Object]]].asScala.map { r =>
      Row(r.get(0).toString.toLong, r.get(1).toString.toLong, r.get(2).toString,
        r.get(3).toString.toDouble)
    }
    spark.createDataFrame(rs.asJava, Schema)
  }

  /** IngestPipeline's parse → infer → coerce → append for one batch, each
    * phase as its own span (the same public pieces `ingest` runs).
    */
  private def ingestPhased(b: Int, op: Int): Seq[IngestPipeline.IngestedTable] = {
    val tr = rec.tracer
    val dir = batches(b)("dir").toString
    val bucket = new File(dir).listFiles().head
    val file = bucket.listFiles().head.getPath
    val db = Sanitize.fixString(bucket.getName)
    val base = new File(file).getName.replaceAll("\\.[a-z]+$", "")
    val table = Sanitize.sanitizeDbName(Sanitize.unidecode(base).replace(" ", "_"))
    val staged: Seq[(String, DataFrame)] = tr.span("sources.read", op) {
      if (file.endsWith(".csv")) Seq(table -> IngestPipeline.readStringly(spark, file))
      else if (file.endsWith(".json")) Seq(table -> IngestPipeline.readStringlyJson(spark, file))
      else Xlsx.readSheets(file).map(s => Sanitize.tableName(base, s.name) -> Xlsx.sheetDf(spark, s))
    }
    staged.map { case (table, raw) =>
      val schema = tr.span("sources.infer", op)(SchemaInference.infer(raw))
      val coerced = tr.span("sources.coerce", op)(SchemaInference.coerce(raw, schema))
      tr.span("sources.append", op)(CatalogOps.appendTable(spark, coerced, db, table))
      IngestPipeline.IngestedTable(db, table, tr.span("sources.count", op)(coerced.count()))
    }
  }

  /** Untimed: in-run time travel to every acknowledged version, the final
    * ingest tables, and the byte counts behind write and space
    * amplification.
    */
  private def afterwards(before: Set[String]): Unit = {
    val ops = rec.ops.asScala.toSeq
    val versions = (Seq(rec.extra("base_version").asInstanceOf[Long]) ++
      ops.filter(_.get("k") == "dml").map(_.get("version").asInstanceOf[Long])).distinct.sorted
    val tables = ops.filter(o => o.get("k") == "ingest" && o.get("ok") == true)
      .flatMap(_.get("tables").asInstanceOf[java.util.List[String]].asScala).distinct.sorted
    val paths = tables.map(t => t -> warehousePath(t))
    // what the fresh-JVM readback reopens: it runs beside the checks below
    val handoff = new java.util.LinkedHashMap[String, Any]()
    handoff.put("root", root)
    handoff.put("versions", versions.asJava)
    handoff.put("ingest", paths.map { case (t, p) => java.util.List.of(t, p) }.asJava)
    Main.json.writeValue(new File(s"${in.out}/handoff.json"), handoff)
    Files.createFile(Paths.get(s"${in.out}/handoff.done"))
    rec.extra("versions") = fingerprints(spark, root, versions)
    rec.extra("ingest") = ingestFingerprints(paths.map { case (t, p) => (t, p, spark.table(t)) })
    if (in.trace) { // write and space amplification are per-layer metrics
      val now = (root +: paths.map(_._2)).flatMap(r => Fs.files(r)).toSet
      val rewrite = s"${in.work}/rewrite"
      CommitLog.read(spark, root).write.mode("overwrite").parquet(s"$rewrite/orders")
      paths.foreach { case (t, _) => spark.table(t).write.mode("overwrite").parquet(s"$rewrite/$t") }
      rec.extra("bytes_created") = (now -- before).toSeq.map(f => Files.size(Paths.get(f))).sum
      rec.extra("bytes_on_disk") = now.toSeq.map(f => Files.size(Paths.get(f))).sum
      rec.extra("bytes_rewritten") = Fs.usage(rewrite)._1
    }
  }

  private def warehousePath(t: String): String = {
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(t)
    spark.sessionState.catalog.getTableMetadata(ident).location.getPath
  }
}

object LakeWrite {
  val Table = "lake.orders_w"
  /** DML runs after `USE lake`: a transaction block may only touch the
    * current database's commitlog tables.
    */
  val DmlTable = "orders_w"
  val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  val Schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  /** Order-independent exact digest of each listed orders_w version:
    * (version, rows, key sum, customer sum, cents sum, status-F count),
    * all versions in one job.
    */
  def fingerprints(spark: SparkSession, root: String, versions: Seq[Long]): Seq[java.util.List[Long]] = {
    val all = versions.map(v => CommitLog.read(spark, root, Some(v)).withColumn("v", lit(v)))
      .reduce(_ unionByName _)
    val got = all.groupBy(col("v")).agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_custkey")),
      sum(floor(col("o_totalprice") * 100).cast("bigint")),
      sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L))).collect()
      .map(r => r.getLong(0) -> (0 until 6).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))).toMap
    versions.map(v => got.getOrElse(v, Seq(v, 0L, 0L, 0L, 0L, 0L)).asJava)
  }

  /** (table, path, rows, key sum, cents sum) of each landed table, in one
    * job. JSON landing files come back with their columns in name order,
    * so the key and price columns are found by name.
    */
  def ingestFingerprints(tables: Seq[(String, String, DataFrame)]): Seq[java.util.List[Any]] = {
    if (tables.isEmpty) return Nil
    val all = tables.map { case (t, _, df) =>
      def pick(names: String*) = col(names.find(df.columns.contains).get)
      df.select(lit(t).as("t"), pick("l_orderkey", "o_orderkey", "p_partkey").cast("bigint").as("k"),
        floor(pick("l_extendedprice", "o_totalprice", "p_retailprice").cast("double") * 100 + 0.5)
          .cast("bigint").as("c"))
    }.reduce(_ union _)
    val got = all.groupBy(col("t")).agg(count(lit(1)), sum(col("k")), sum(col("c"))).collect()
      .map(r => r.getString(0) -> (1 to 3).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))).toMap
    tables.map { case (t, p, _) => (Seq[Any](t, p) ++ got.getOrElse(t, Seq(0L, 0L, 0L))).asJava }
  }

  /** Fresh-JVM check: reopen the table root and the landed tables from
    * disk and fingerprint every acknowledged version again. The JVM
    * starts beside the run's and waits for the measurement to end.
    */
  def readback(spark: SparkSession, in: Inputs): Unit = {
    while (!new File(s"${in.out}/handoff.done").exists()) Thread.sleep(100)
    val res = Main.json.readTree(new File(s"${in.out}/handoff.json"))
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("versions", fingerprints(spark, res.get("root").asText,
      res.get("versions").elements().asScala.map(_.asLong).toSeq).asJava)
    out.put("ingest", ingestFingerprints(res.get("ingest").elements().asScala.map { t =>
      (t.get(0).asText, t.get(1).asText, spark.read.parquet(t.get(1).asText))
    }.toSeq).asJava)
    Main.json.writeValue(new File(s"${in.out}/readback.json"), out)
  }
}
