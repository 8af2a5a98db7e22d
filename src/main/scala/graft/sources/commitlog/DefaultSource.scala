package graft.sources.commitlog

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftBridge, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileIndex, PartitionDirectory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source => V1Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.sources.CommitLog

/** CommitLog as a registered Spark data source — the full format-API
  * surface over [[graft.sources.CommitLog]] tables:
  *
  * {{{
  *   spark.read.format("graft-commitlog").load(root)              // latest snapshot, per query
  *   spark.read.format("graft-commitlog")
  *     .option("version", 3).load(root)                           // time travel
  *   df.write.format("graft-commitlog").mode("append")
  *     .partitionBy("etype").save(root)                           // atomic commit
  *   sql("CREATE TEMPORARY VIEW t USING `graft-commitlog` OPTIONS (path '…')")
  *   sql("INSERT INTO t SELECT …")                                // SQL DML → atomic commit
  * }}}
  *
  * The architecture is the one Delta Lake published for exactly this
  * problem (a log-indexed parquet table under a stock Spark runtime):
  *
  *  - **Reads** resolve a snapshot into a [[CommitLogFileIndex]] fixed at
  *    that version, wrapped in a `HadoopFsRelation` over
  *    [[CommitLogParquet]] (Spark's parquet format, column mapping applied
  *    inside the reader); deletion vectors are a filter inside the same
  *    scan ([[CommitLogRelation.DeletionVectorScan]]). Execution is
  *    Spark's own `FileSourceScanExec`: vectorized columnar parquet reads
  *    inside whole-stage codegen, with pushed filters — strictly better
  *    than any hand-rolled row-producing scan (the previous V1
  *    `PrunedFilteredScan` here ended in `.rdd`, which boxed every value
  *    and severed codegen above the scan). Catalyst hands the index each
  *    query's data filters, so manifest-stats file skipping happens
  *    per-scan; every query re-routes an unpinned relation to the current
  *    snapshot ([[CommitLogRelation.current]]) and then reads that one
  *    version in all its scans — a `CREATE TEMPORARY VIEW` tracks the
  *    table instead of freezing at DDL time, and a self-join never mixes
  *    two versions.
  *  - **Writes** commit through the log, never around it: the relation
  *    mixes in [[InsertableRelation]] (SQL `INSERT INTO`/`INSERT
  *    OVERWRITE` plan `InsertIntoDataSourceCommand` against it) and the
  *    provider implements [[CreatableRelationProvider]] (`df.write…save`
  *    with append/overwrite/error/ignore modes, first-write-creates-table
  *    and `partitionBy`), landing the same atomic
  *    [[CommitLog.append]]/[[CommitLog.overwrite]] commits.
  *
  * Deliberately a PURE V1-relation provider, not a DataSourceV2
  * `TableProvider`: the V1 relation API is the one integration point a
  * stock Spark session routes EVERY surface through — path loads, temp
  * views, `df.write`, and persistent catalog tables (`CREATE TABLE …
  * USING graft-commitlog`, then DML by name). A `TableProvider` without
  * `SupportsRead` makes the session catalog resolve named tables to a V2
  * relation that cannot scan (V2SessionCatalog has no per-table V1
  * fallback — Delta solves this by shipping its own `DeltaCatalog`, a
  * session-config burden this format avoids), and a hand-rolled V2
  * `Batch` scan would REGRESS reads to row-by-row processing: this V1
  * relation already executes as Spark's vectorized, codegen'd
  * `FileSourceScanExec`, which is the entire point.
  */
class DefaultSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-commitlog"

  /** Declared-schema face (`CREATE TABLE t (k INT, …) USING
    * graft-commitlog`): on a root with NO commits yet, serve an empty
    * relation at the declared schema — the pg-style "create the table,
    * then INSERT into it (possibly inside a transaction block)" shape,
    * which the infer-only RelationProvider path refuses with "no
    * commits". Once commits exist the manifest is the schema authority.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    relation(sqlContext.sparkSession, parameters, Some(schema))

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    relation(sqlContext.sparkSession, parameters, None)

  private def rootOf(parameters: Map[String, String]): String =
    CommitLogRelation.localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft-commitlog requires a path")))

  /** Partition columns arrive from `DataFrameWriter.partitionBy` encoded
    * under `__partition_columns` (the V1-source convention), or explicitly
    * via a `partitionBy` option (comma-separated).
    */
  private def partitionSpecOf(parameters: Map[String, String]): Seq[String] =
    parameters.get(DataSourceUtils.PARTITIONING_COLUMNS_KEY)
      .map(DataSourceUtils.decodePartitioningColumns)
      .orElse(parameters.get("partitionBy")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)))
      .getOrElse(Nil)

  private def relation(spark: SparkSession, parameters: Map[String, String],
      declared: Option[StructType]): BaseRelation = {
    val root = rootOf(parameters)
    // `version` pins a numeric snapshot; `tag` resolves a named one (the
    // tagged version is resolved at relation creation — a retag later does
    // not move an open relation, matching `version`'s pinning semantics).
    val version = parameters.get("version").map(_.toLong)
      .orElse(parameters.get("tag").map { t =>
        CommitLog.tags(root).getOrElse(t,
          throw new IllegalArgumentException(s"no tag '$t' at $root"))
      })
      .orElse(parameters.get("timestampAsOf").map { t =>
        // epoch millis or a SQL timestamp string ('2026-08-13 00:00:00'),
        // interpreted in the session time zone like Delta's timestampAsOf
        val ms = t.toLongOption.getOrElse {
          val zone = java.time.ZoneId.of(
            spark.sessionState.conf.sessionLocalTimeZone)
          try {
            val ldt =
              if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay()
              else java.time.LocalDateTime.parse(t.replace(' ', 'T'))
            ldt.atZone(zone).toInstant.toEpochMilli
          } catch {
            case _: java.time.format.DateTimeParseException =>
              throw new IllegalArgumentException(
                s"timestampAsOf expects epoch milliseconds or " +
                  s"'yyyy-MM-dd[ HH:mm:ss[.S]]', got '$t'")
          }
        }
        CommitLog.versionAsOf(root, ms)
      })
    // CDC slice: `changesFrom`/`changesTo` expose CommitLog.changes —
    // the rows the append-only commits in (from, to] added — as a plain
    // relation, so an external JDBC client can read a version range with
    // `CREATE TEMPORARY VIEW d USING graft-commitlog OPTIONS (path …,
    // changesFrom '3' [, changesTo '5'])` and drive incremental ETL over
    // SQL alone (Delta's table_changes persona).
    parameters.get("changesFrom").foreach { f =>
      val toV = parameters.get("changesTo").map(_.toLong)
        .orElse(CommitLog.currentVersion(root))
        .getOrElse(throw new IllegalStateException(s"no commits at $root"))
      return new ChangesRelation(spark, root, f.toLong, toV)
    }
    // the declared schema stands in only until the first commit
    val fixed = declared.filter(_ =>
      version.isEmpty && CommitLog.currentVersion(root).isEmpty)
    CommitLogRelation.route(spark, root, version, fixed, parameters)
  }

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val spec = partitionSpecOf(parameters)
    val exists = CommitLog.currentVersion(root).isDefined
    mode match {
      case SaveMode.Append => CommitLog.append(data, root, spec)
      case SaveMode.Overwrite => CommitLog.overwrite(data, root, spec)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-commitlog table already exists at $root")
        CommitLog.append(data, root, spec)
      case SaveMode.Ignore => if (!exists) CommitLog.append(data, root, spec)
    }
    createRelation(sqlContext, parameters - DataSourceUtils.PARTITIONING_COLUMNS_KEY)
  }

  // ---- streaming source: commit versions ARE the offsets ----------------

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val root = rootOf(parameters)
    val v = CommitLog.currentVersion(root).getOrElse(
      throw new IllegalStateException(
        s"graft-commitlog stream requires an existing table at $root"))
    (shortName(), CommitLog.manifestSchema(CommitLog.readManifest(root, v)))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): V1Source =
    new CommitLogStreamSource(sqlContext, rootOf(parameters))
}

/** The [[FileIndex]] of one snapshot: the bridge between the commit log's
  * metadata and Spark's file-scan planner (Delta's `TahoeLogFileIndex`
  * pattern). It lists exactly the version it was routed at
  * ([[CommitLogRelation.route]]), so every scan of one analyzed query reads
  * one snapshot. `listFiles` is invoked at planning time with the query's
  * data filters; the index evaluates them against the per-file min/max
  * stats and returns only surviving files — so data skipping costs a
  * metadata read, composes with the parquet row-group pruning that happens
  * inside surviving files, and at 100 TB never lists a directory (file
  * sizes come from the manifest, not the filesystem). The snapshot's
  * deletion vectors apply as a filter over the same scan
  * ([[CommitLogRelation.DeletionVectorScan]]) and its column mapping inside
  * the parquet reader ([[CommitLogParquet]]).
  */
class CommitLogFileIndex(
    spark: SparkSession,
    val root: String,
    val pinned: Option[Long],
    val snapshot: CommitLog.SlimSnapshot) extends FileIndex {

  def routedAt: Long = snapshot.meta.version

  override def rootPaths: Seq[HPath] = Seq(new HPath(Paths.get(root).toUri))

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = () // a routed snapshot never changes

  /** Every (file, bytes) of the snapshot, listed once per index. */
  private lazy val all: Seq[(String, Long)] =
    CommitLog.scanListing(spark, root, snapshot, Array.empty)

  private def pathOf(rel: String): java.nio.file.Path =
    Paths.get(CommitLog.absPath(root, rel))

  override def sizeInBytes: Long = all.map { case (p, bytes) =>
    // bytes=0 means a record without sizes (hand-built/external commit):
    // fall back to a stat rather than report ~0, which would make Spark
    // auto-broadcast a table of unknown — possibly huge — size.
    if (bytes > 0L) bytes
    else try Files.size(pathOf(p)) catch { case _: Exception => 0L }
  }.sum

  override def inputFiles: Array[String] =
    all.map { case (f, _) => pathOf(f).toUri.toString }.toArray

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // Catalyst expressions → V1 filters → the manifest pruner. A filter
    // that doesn't translate simply doesn't prune (it still runs above
    // the scan), the standard conservative data-skipping contract. On a
    // slim table the prune runs as a Spark job over the checkpoint's
    // parquet sidecar and only survivors reach this driver (r13 verdict
    // #1) — on ordinary tables the driver fold stays (faster there).
    val v1Filters = dataFilters.flatMap(GraftBridge.toSourceFilter)
    val pairs =
      if (v1Filters.isEmpty) all
      else CommitLog.scanListing(spark, root, snapshot, v1Filters.toArray)
    val statuses = pairs.map { case (rel, bytes) =>
      val p = pathOf(rel)
      val len =
        if (bytes > 0L) bytes
        else Files.size(p) // pre-bytes manifests only
      new FileStatus(len, false, 1, len.max(1L), 0L, new HPath(p.toUri))
    }
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  }
}

/** Parquet reader for a snapshot's files: Spark plans and reads logical
  * column names, the files store the physical ones a column mapping
  * assigned (renames never rewrite data). Parquet rows are positional, so
  * mapping the data schema, the required schema and the pushed filters to
  * physical names is the whole rename — the relation above the scan stays
  * the bare relation every plan rule recognises. A snapshot with deletion
  * vectors must be read through [[CommitLogRelation.DeletionVectorScan]],
  * which asks for the row index; a scan without it fails loudly rather
  * than serve deleted rows.
  */
class CommitLogParquet(physOf: Map[String, String], hasDvs: Boolean)
    extends ParquetFileFormat {

  private def phys(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(name = physOf.getOrElse(f.name, f.name))))

  /** `f` on physical names; None where it cannot be renamed (a nested or
    * dotted name, an unlisted shape) — not pushing a filter only skips
    * row-group pruning, Spark re-applies every filter above the scan. */
  private def phys(f: Filter): Option[Filter] = {
    def n[T](a: String)(g: String => T): Option[T] =
      if (a.contains('.') || a.contains('`')) None else Some(g(physOf.getOrElse(a, a)))
    f match {
      case EqualTo(a, v) => n(a)(EqualTo(_, v))
      case EqualNullSafe(a, v) => n(a)(EqualNullSafe(_, v))
      case GreaterThan(a, v) => n(a)(GreaterThan(_, v))
      case GreaterThanOrEqual(a, v) => n(a)(GreaterThanOrEqual(_, v))
      case LessThan(a, v) => n(a)(LessThan(_, v))
      case LessThanOrEqual(a, v) => n(a)(LessThanOrEqual(_, v))
      case In(a, vs) => n(a)(In(_, vs))
      case IsNull(a) => n(a)(IsNull(_))
      case IsNotNull(a) => n(a)(IsNotNull(_))
      case And(l, r) => (phys(l) ++ phys(r)).reduceOption(And)
      case Or(l, r) => for (pl <- phys(l); pr <- phys(r)) yield Or(pl, pr)
      case _ => None
    }
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    if (hasDvs && !requiredSchema.fieldNames.contains(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME))
      throw new IllegalStateException("a snapshot with deletion vectors is " +
        "read without its deletion-vector filter; build the session with " +
        "spark.sql.extensions=graft.plans.GraftExtensions")
    if (physOf.isEmpty) super.buildReaderWithPartitionValues(sparkSession,
      dataSchema, partitionSchema, requiredSchema, filters, options, hadoopConf)
    else super.buildReaderWithPartitionValues(sparkSession, phys(dataSchema),
      partitionSchema, phys(requiredSchema), filters.flatMap(phys), options, hadoopConf)
  }
}

/** Relation for a registered commitlog table whose root has no commits
  * yet: schema is the CREATE-declared one, scans are empty, inserts land
  * the first commit. Built only when the root was commit-free at
  * RESOLUTION time; the next query after the first commit re-routes it
  * ([[CommitLogRelation.current]]). A plan analyzed before that commit
  * still scans here, so the scan re-probes the log and serves real rows
  * if any have appeared — correct rows in the transition window.
  */
class EmptyCommitLogRelation(
    spark: SparkSession,
    val root: String,
    override val schema: StructType) extends BaseRelation
    with TableScan with CommitLogInsert {

  def pinned: Option[Long] = None

  override def sqlContext: SQLContext = spark.sqlContext

  override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    CommitLog.currentVersion(root) match {
      case Some(_) =>
        // cast to the DECLARED schema: a concurrent first commit may
        // have landed wider types than the CREATE declared, and this
        // relation's consumers trust `schema`
        val aligned = CommitLog.read(spark, root).select(
          schema.fields.toIndexedSeq
            .map(f => org.apache.spark.sql.functions
              .col(s"`${f.name.replace("`", "``")}`")
              .cast(f.dataType).as(f.name)): _*)
        aligned.rdd
      case None => spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
    }
}

/** INSERT through a CommitLog read relation: one append commit (an
  * overwrite commit for `INSERT OVERWRITE`); a version-pinned (time
  * travel) relation refuses it.
  */
private[commitlog] trait CommitLogInsert extends InsertableRelation {
  def root: String
  def pinned: Option[Long]

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(pinned.isEmpty,
      "cannot INSERT through a version-pinned (time travel) relation")
    if (overwrite) CommitLog.overwrite(data, root)
    else CommitLog.append(data, root)
  }
}

/** CDC-slice relation ([[CommitLog.changes]] as a V1 table): the rows the
  * append-only commits in (fromV, toV] added, with pushed filters applied
  * as the residual condition and `needConversion=false` preserving
  * codegen below the boundary (Spark accepts InternalRows from a V1 scan,
  * the fast path file sources themselves use). The append-only range
  * check happens inside
  * `changes` (a rewrite in the range fails loudly, never double-counts).
  */
class ChangesRelation(
    spark: SparkSession,
    val root: String,
    val fromV: Long,
    val toV: Long) extends BaseRelation with PrunedFilteredScan {

  override def sqlContext: SQLContext = spark.sqlContext

  // built ONCE: the version range is immutable, and rebuilding would
  // re-read + re-validate every commit record in (fromV, toV] per scan
  private val frame: DataFrame = CommitLog.changes(spark, root, fromV, toV)

  override val schema: StructType = frame.schema

  override def needConversion: Boolean = false

  override def buildScan(
      requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val projected = frame
      .filter(GraftTable.pushed(filters))
      .select(requiredColumns.toIndexedSeq
        .map(org.apache.spark.sql.functions.col): _*)
    projected.queryExecution.toRdd
      .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
  }
}

/** Tail a CommitLog table as a micro-batch stream: each commit version is
  * an offset; the FIRST batch of a new stream is the full snapshot at the
  * start offset, and every subsequent micro-batch is `changes(start, end]`
  * — so a table written by [[CommitLog.streamingSink]] (exactly-once) can
  * feed the next stage's stream, the medallion bronze→silver loop, with no
  * extra bookkeeping. The append-only contract of `changes` applies only
  * to ranges consumed incrementally: a compaction inside an unconsumed
  * range fails the stream rather than re-delivering old rows (run
  * maintenance when consumers are caught up — the documented lakehouse
  * practice), while rewrites that PRE-DATE the stream are fine because the
  * initial batch is a snapshot read.
  */
class CommitLogStreamSource(sqlContext: SQLContext, root: String)
    extends V1Source {

  private val spark = sqlContext.sparkSession
  private val initial = CommitLog.currentVersion(root).getOrElse(
    throw new IllegalStateException(s"no commits at $root"))

  override val schema: StructType =
    CommitLog.manifestSchema(CommitLog.readManifest(root, initial))

  override def getOffset: Option[V1Offset] =
    CommitLog.currentVersion(root).map(v => LongOffset(v))

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val toV = end.asInstanceOf[LongOffset].offset
    start match {
      // First batch of a new stream: serve the full snapshot at toV. Using
      // changes(0, toV) here would demand an all-append history, so a
      // stream could never START on a table ever compacted/merged — the
      // append-only contract belongs to the incremental ranges only.
      case None =>
        GraftBridge.asStreamingFrame(CommitLog.read(spark, root, Some(toV)))
      case Some(s) =>
        val fromV = s.asInstanceOf[LongOffset].offset
        GraftBridge.asStreamingFrame(CommitLog.changes(spark, root, fromV, toV))
    }
  }

  override def stop(): Unit = ()
}
