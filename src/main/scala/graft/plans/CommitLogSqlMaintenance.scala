package graft.plans

import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, StringType, StructType}

import graft.sources.CommitLog
import graft.sources.commitlog.CommitLogRelation

/** SQL-level table MAINTENANCE for commitlog tables — `OPTIMIZE` and
  * `VACUUM` as statements, completing the JDBC persona's lake-management
  * surface: with DML (q85/q86), time travel (q87) and DDL (GraftCatalog)
  * already SQL-reachable, compaction and file reclamation were the last
  * operations that still required Scala API access.
  *
  * Neither verb exists in Spark's grammar, so interception happens at the
  * PARSER (the injected-parser pattern Delta uses for the same two
  * statements): [[MaintenanceParser]] recognizes exactly these statement
  * shapes and hands everything else to the delegate untouched —
  *
  *   OPTIMIZE <table> [WHERE <pred>] [ZORDER|HILBERT BY (…)]
  *                                   → [[CommitLog.optimize]] / [[CommitLog.cluster]]
  *   VACUUM <table> [RETAIN <n> HOURS] [DRY RUN]   → [[CommitLog.vacuum]]
  *   DESCRIBE HISTORY <table>                       → [[CommitLog.history]]
  *   RESTORE [TABLE] <table> TO VERSION AS OF <n>   → [[CommitLog.restore]]
  *   DESCRIBE DETAIL <table>                        → manifest summary row
  *   DESCRIBE FILES <table>                         → one row per live file
  *   DESCRIBE STATS <table>                         → [[CommitLog.describeStats]]
  *   REORG TABLE <table> APPLY (PURGE)              → [[CommitLog.purgeDeletionVectors]]
  *   CREATE TABLE <t> SHALLOW CLONE <s> [VERSION AS OF <n>] → [[CommitLog.shallowClone]]
  *   FAST FORWARD <t> FROM <clone>                  → [[CommitLog.fastForward]]
  *   ALTER TABLE <t> ADD CONSTRAINT <n> CHECK (<e>) → [[CommitLog.addConstraint]]
  *   ALTER TABLE <t> DROP CONSTRAINT <n>            → [[CommitLog.dropConstraint]]
  *
  * The table name resolves through the catalogs at RUN time
  * ([[CommitLogRelation.tableRoot]]: temp and persistent views,
  * persistent-catalog tables and GraftCatalog identifiers all work, an
  * unqualified name in the session's current catalog and namespace),
  * and a non-commitlog table fails with a clear message instead of a
  * parse error. `RETAIN n HOURS` maps onto the vacuum retention guard
  * (young orphans within the window survive — the same
  * accidental-data-loss fence the Scala API enforces); omitted, the
  * default retention applies.
  *
  * Scale note: the statements are metadata-priced on the driver; the
  * rewrite work they trigger is the same distributed bin-packing /
  * range-partitioned cluster write the Scala API runs — O(small files),
  * never O(table).
  */
object CommitLogSqlMaintenance {

  private val OptimizeRe =
    """(?is)^\s*OPTIMIZE\s+((?:`[^`]+`|[\w.])+)(?:\s+WHERE\s+(.+?))?\s*(?:(ZORDER|HILBERT)\s+BY\s*\(([^)]+)\))?\s*;?\s*$""".r
  private val VacuumRe =
    """(?is)^\s*VACUUM\s+((?:`[^`]+`|[\w.])+)\s*(?:RETAIN\s+(\d+)\s+HOURS)?(?:\s+(DRY\s+RUN))?\s*;?\s*$""".r
  private val HistoryRe =
    """(?is)^\s*DESCRIBE\s+HISTORY\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // `SNAPSHOT OF t1, t2, …` — a transaction-consistent cross-table
  // version cut ([[CommitLog.consistentSnapshot]]) as a STATEMENT: one
  // (table, version) row per target, safe to pin with `VERSION AS OF`.
  // This is the SQL face of the index-pair serving story (q137): a
  // JDBC/pg client gets a quiescent multi-table view with two
  // statements and zero Scala.
  private val SnapshotRe =
    """(?is)^\s*SNAPSHOT\s+OF\s+((?:`[^`]+`|[\w.])+(?:\s*,\s*(?:`[^`]+`|[\w.])+)*)\s*;?\s*$""".r
  private val DetailRe =
    """(?is)^\s*DESCRIBE\s+DETAIL\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // Iceberg's `t.files` metadata-table idea as a statement: one row per
  // live data file with its stats/index/DV attachments
  private val FilesRe =
    """(?is)^\s*DESCRIBE\s+FILES\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // table-level column statistics (rows/nulls from the manifest, NDV from
  // merged per-file HLL sketches) — one row per schema column
  private val StatsRe =
    """(?is)^\s*DESCRIBE\s+STATS\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // ANALYZE for commitlog tables: refresh per-file min/max/null/sum stats
  // (the serviceability step after a by-reference Delta/Iceberg import;
  // FULL re-analyzes every live file instead of only stats-less ones).
  // Non-commitlog targets fall through to Spark's own ANALYZE.
  private val AnalyzeRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+COMPUTE\s+STATISTICS(\s+FULL)?\s*;?\s*$""".r

  // SQL-first migration: mount a Delta/Iceberg/Hudi table as a NEW graft
  // catalog table, zero-copy (the interop importers)
  private val ImportRe =
    """(?is)^\s*IMPORT\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+FROM\s+(DELTA|ICEBERG|HUDI)\s+'([^']+)'\s*;?\s*$""".r

  // Delta's FSCK as a statement: verify manifest ↔ storage, optionally
  // committing the repairs
  private val FsckRe =
    """(?is)^\s*FSCK\s+TABLE\s+((?:`[^`]+`|[\w.])+)(\s+REPAIR)?\s*;?\s*$""".r
  // Delta's published syntax for materializing deletion vectors away
  private val ReorgPurgeRe =
    """(?is)^\s*REORG\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+APPLY\s*\(\s*PURGE\s*\)\s*;?\s*$""".r
  // Delta's CREATE TABLE ... SHALLOW CLONE (target must be a graft
  // catalog identifier — the catalog supplies the new table's location)
  private val CloneRe =
    ("""(?is)^\s*CREATE\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+SHALLOW\s+CLONE\s+""" +
      """((?:`[^`]+`|[\w.])+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s*;?\s*$""").r
  private val RestoreRe =
    """(?is)^\s*RESTORE\s+(?:TABLE\s+)?((?:`[^`]+`|[\w.])+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*$""".r
  // Branch promote (Iceberg's fast_forward procedure as a statement):
  // publish a shallow clone's current snapshot back to its source
  private val FastForwardRe =
    """(?is)^\s*FAST\s+FORWARD\s+((?:`[^`]+`|[\w.])+)\s+FROM\s+((?:`[^`]+`|[\w.])+)\s*;?\s*$""".r
  // Greedy body capture: the CHECK expression may itself contain parens;
  // anchoring on the FINAL ')' keeps nested expressions whole. Known
  // limitation of the regex parse: nothing may follow the closing paren —
  // a trailing SQL comment containing ')' would be captured into the
  // expression text (and then rejected by the expression parser at
  // validation time). Spark 4.1's own grammar ALSO parses these two
  // statements (AddCheckConstraint/DropConstraint for DSv2 catalogs), so
  // the commands below fall back to the DELEGATE-parsed plan at run time
  // whenever the resolved target is not a commitlog table.
  private val AddConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*$""".r
  private val DropConstraintRe =
    """(?is)^\s*ALTER\s+TABLE\s+((?:`[^`]+`|[\w.])+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*$""".r

  /** Split a comma-separated identifier list with backquoted segments
    * opaque — `SnapshotRe`'s `[^`]+` accepts a comma INSIDE a quoted
    * identifier, so a raw `split(",")` would cut such a name in half
    * (failing, or worse, pinning the wrong tables).
    */
  private[plans] def splitIdentList(idents: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new java.lang.StringBuilder()
    var quoted = false
    idents.foreach { c =>
      if (c == '`') { quoted = !quoted; cur.append(c) }
      else if (c == ',' && !quoted) { out += cur.toString; cur.setLength(0) }
      else cur.append(c)
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Delegating parser: the two maintenance statements short-circuit into
    * runnable commands; every other string parses exactly as before.
    */
  class MaintenanceParser(delegate: ParserInterface) extends ParserInterface {
    override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
      case OptimizeRe(ident, where, curve, clusterCols) =>
        val cols = Option(clusterCols).toSeq.flatMap(_.split(",").toSeq)
          .map(_.trim.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        // validate the predicate text at PARSE time (clear error position),
        // re-parse it at run time against the session
        Option(where).foreach(delegate.parseExpression)
        GraftOptimizeCommand(delegate.parseMultipartIdentifier(ident), cols,
          Option(where).map(_.trim),
          curve = Option(curve).map(_.toLowerCase).getOrElse("zorder"))
      case VacuumRe(ident, hours, dry) =>
        GraftVacuumCommand(delegate.parseMultipartIdentifier(ident),
          Option(hours).map(_.toLong), dryRun = dry != null)
      case HistoryRe(ident) =>
        GraftHistoryCommand(delegate.parseMultipartIdentifier(ident))
      case SnapshotRe(idents) =>
        GraftSnapshotCommand(splitIdentList(idents)
          .map(i => i -> delegate.parseMultipartIdentifier(i)))
      case DetailRe(ident) =>
        GraftDetailCommand(delegate.parseMultipartIdentifier(ident))
      case FilesRe(ident) =>
        GraftFilesCommand(delegate.parseMultipartIdentifier(ident))
      case StatsRe(ident) =>
        GraftStatsCommand(delegate.parseMultipartIdentifier(ident))
      case FsckRe(ident, repair) =>
        GraftFsckCommand(delegate.parseMultipartIdentifier(ident),
          repair = repair != null)
      case AnalyzeRe(ident, full) =>
        GraftAnalyzeCommand(delegate.parseMultipartIdentifier(ident),
          full = full != null, sqlText, delegate)
      case ImportRe(ident, fmt, path) =>
        GraftImportCommand(delegate.parseMultipartIdentifier(ident),
          fmt.toUpperCase(java.util.Locale.ROOT), path)
      case ReorgPurgeRe(ident) =>
        GraftPurgeDvCommand(delegate.parseMultipartIdentifier(ident))
      case CloneRe(dst, src, version) =>
        GraftCloneCommand(delegate.parseMultipartIdentifier(dst),
          delegate.parseMultipartIdentifier(src),
          Option(version).map(_.toLong))
      case RestoreRe(ident, version) =>
        GraftRestoreCommand(delegate.parseMultipartIdentifier(ident), version.toLong)
      case FastForwardRe(dst, srcClone) =>
        GraftFastForwardCommand(delegate.parseMultipartIdentifier(dst),
          delegate.parseMultipartIdentifier(srcClone))
      case AddConstraintRe(ident, name, check) =>
        GraftAddConstraintCommand(
          delegate.parseMultipartIdentifier(ident), name, check.trim,
          sqlText, delegate)
      case DropConstraintRe(ident, name) =>
        GraftDropConstraintCommand(delegate.parseMultipartIdentifier(ident),
          name, sqlText, delegate)
      case _ => delegate.parsePlan(sqlText)
    }
    override def parseExpression(sqlText: String): Expression =
      delegate.parseExpression(sqlText)
    override def parseTableIdentifier(sqlText: String): TableIdentifier =
      delegate.parseTableIdentifier(sqlText)
    override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
      delegate.parseFunctionIdentifier(sqlText)
    override def parseMultipartIdentifier(sqlText: String): Seq[String] =
      delegate.parseMultipartIdentifier(sqlText)
    override def parseQuery(sqlText: String): LogicalPlan =
      delegate.parseQuery(sqlText)
    override def parseRoutineParam(sqlText: String): StructType =
      delegate.parseRoutineParam(sqlText)
    override def parseDataType(sqlText: String): DataType =
      delegate.parseDataType(sqlText)
    override def parseTableSchema(sqlText: String): StructType =
      delegate.parseTableSchema(sqlText)
  }

  /** Resolve a multipart identifier to its commitlog root
    * ([[CommitLogRelation.tableRoot]]); anything else fails with a clear
    * message.
    */
  private def rootOf(spark: SparkSession, parts: Seq[String]): String =
    rootOpt(spark, parts).getOrElse(throw new UnsupportedOperationException(
      s"${parts.mkString(".")} is not a commitlog table — OPTIMIZE/VACUUM " +
        "apply to graft-commitlog tables only"))

  /** `OPTIMIZE t` → bin-packing compaction; `OPTIMIZE t ZORDER BY (…)` →
    * interleaved-bits clustering rewrite; `OPTIMIZE t HILBERT BY (…)` →
    * the jump-free Hilbert-curve layout (see [[graft.functions.Hilbert]]).
    * Returns the committed version.
    */
  case class GraftOptimizeCommand(parts: Seq[String], zorder: Seq[String],
      where: Option[String] = None, curve: String = "zorder")
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val root = rootOf(spark, parts)
      require(where.isEmpty || zorder.isEmpty,
        "OPTIMIZE ... WHERE does not combine with ZORDER BY (cluster the " +
          "whole table, or scope a plain compaction)")
      // `OPTIMIZE t WHERE p`: predicate-scoped compaction — p picks the
      // candidate FILES via manifest pruning; partially-matching files
      // rewrite whole (rows are never dropped). The parsed predicate
      // resolves against the table schema and translates to V1 filters —
      // the same path the data source's pushed filters prune through.
      val scope = where.map { w =>
        val m = CommitLog.readManifest(root,
          CommitLog.currentVersion(root).getOrElse(
            throw new IllegalStateException(s"no commits at $root")))
        val schema = CommitLog.manifestSchema(m)
        val attrs = schema.fields.map(f => f.name.toLowerCase ->
          AttributeReference(f.name, f.dataType, f.nullable)()).toMap
        val resolved = spark.sessionState.sqlParser.parseExpression(w)
          .transformUp {
            case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              attrs.getOrElse(ua.name.toLowerCase, ua)
          }
        val filters = GraftBridge.toSourceFilter(resolved).toArray[
          org.apache.spark.sql.sources.Filter]
        require(filters.nonEmpty,
          s"OPTIMIZE WHERE predicate '$w' does not translate to a file-" +
            "pruning filter (supported: comparisons/IN/IS NULL over " +
            "columns and literals, AND/OR)")
        CommitLog.pruneForSourceFilters(spark, m, filters, Some(root)).toSet
      }
      val v =
        if (zorder.nonEmpty) CommitLog.cluster(spark, root, zorder, curve = curve)
        else CommitLog.tablePropertiesOf(root).get("cluster.by") match {
          // declared clustering policy (liquid-clustering UX): a bare
          // OPTIMIZE follows the table's own layout declaration, and it
          // clusters INCREMENTALLY — only files landed since the last
          // cluster commit rewrite (O(debt), never O(table)); a
          // WHERE-scoped OPTIMIZE stays a plain scoped compaction
          case Some(spec) if where.isEmpty =>
            val Array(c, colSpec) = spec.split(":", 2)
            CommitLog.clusterIncremental(spark, root,
              colSpec.split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              curve = c)
          case _ => CommitLog.optimize(spark, root, scopePaths = scope)
        }
      Seq(Row(v))
    }
  }

  /** `DESCRIBE DETAIL t` (Delta's table-metadata summary): one row from
    * the manifest alone — version, file/row/byte totals, partition spec,
    * deletion-vector and constraint counts, last-commit stamp. Pure
    * metadata: no data file opens at any table size.
    */
  case class GraftDetailCommand(parts: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("format", StringType, nullable = false)(),
      AttributeReference("location", StringType, nullable = false)(),
      AttributeReference("version", LongType, nullable = false)(),
      AttributeReference("num_files", LongType, nullable = false)(),
      AttributeReference("num_rows", LongType, nullable = false)(),
      AttributeReference("size_bytes", LongType, nullable = false)(),
      AttributeReference("partition_columns", StringType, nullable = false)(),
      AttributeReference("num_deletion_vectors", LongType, nullable = false)(),
      AttributeReference("num_constraints", LongType, nullable = false)(),
      AttributeReference("num_bloom_indexed_files", LongType, nullable = false)(),
      AttributeReference("last_modified_ms", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val root = rootOf(spark, parts)
      val v = CommitLog.currentVersion(root).getOrElse(
        throw new IllegalStateException(s"no commits at $root"))
      val m = CommitLog.readManifest(root, v)
      // num_rows counts live data-file rows; rows a DV killed are still
      // inside their file, so subtract the dead positions (metadata-free
      // would overcount) — DV files are position lists, rows = positions
      val stats = m.statsOrNil
      val deadRows = m.dvsOrEmpty.values.toSeq.sorted match {
        case Nil => 0L
        case dvs => spark.read
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("pos", LongType))))
          .parquet(dvs.map(f => CommitLog.dataPath(root, f)): _*)
          .count()
      }
      Seq(Row("graft-commitlog", root, v,
        stats.size.toLong, stats.map(_.rows).sum - deadRows,
        stats.map(_.bytes).sum,
        m.partitionByOrNil.mkString(","),
        m.dvsOrEmpty.size.toLong,
        m.constraintsOrEmpty.size.toLong,
        stats.count(_.bloomOpt.isDefined).toLong,
        CommitLog.commitTimestamp(root, v)))
    }
  }

  /** `FSCK TABLE t [REPAIR]` → [[CommitLog.fsck]] / [[CommitLog.fsckRepair]]:
    * one row per inconsistency (kind, path, detail); with REPAIR the
    * fixes are committed first and the POST-repair scan is returned —
    * an empty result after REPAIR means the table verifies clean.
    */
  case class GraftFsckCommand(parts: Seq[String], repair: Boolean)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("kind", StringType, nullable = false)(),
      AttributeReference("path", StringType, nullable = false)(),
      AttributeReference("detail", StringType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val root = rootOf(spark, parts)
      if (repair) CommitLog.fsckRepair(root)
      CommitLog.fsck(root).map(i => Row(i.kind, i.path, i.detail))
    }
  }

  /** `REORG TABLE t APPLY (PURGE)` → rewrite the deletion-vector-carrying
    * files with dead rows materialized away (Delta's published REORG
    * PURGE). Returns the committed version.
    */
  case class GraftPurgeDvCommand(parts: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(CommitLog.purgeDeletionVectors(spark, rootOf(spark, parts))))
  }

  /** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n]` →
    * [[CommitLog.shallowClone]]. The DESTINATION must be an identifier in
    * a [[graft.sources.commitlog.GraftCatalog]] (the catalog maps it to a
    * location under its root); the source is any resolvable commitlog
    * table — catalog-addressed or a temp view over a path.
    */
  case class GraftCloneCommand(dst: Seq[String], src: Seq[String],
      version: Option[Long]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val srcRoot = rootOf(spark, src)
      Seq(Row(CommitLog.shallowClone(srcRoot,
        placement(spark, dst, "SHALLOW CLONE"), version)))
    }
  }

  /** `IMPORT TABLE <catalog.ns.t> FROM DELTA|ICEBERG|HUDI '<path>'` →
    * the zero-copy interop importers, with the graft catalog supplying
    * the new table's location (the SHALLOW CLONE placement rule). An
    * analyst migrates a 100 TB table over JDBC in one statement — then
    * `ANALYZE TABLE … COMPUTE STATISTICS` lights up manifest skipping.
    */
  case class GraftImportCommand(dst: Seq[String], format: String,
      path: String) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      val dir = placement(spark, dst, "IMPORT TABLE")
      val v = format match {
        case "DELTA" =>
          graft.sources.interop.DeltaImport.importTable(spark, path, dir)
        case "ICEBERG" =>
          graft.sources.interop.IcebergImport.importTable(spark, path, dir)
        case "HUDI" =>
          graft.sources.interop.HudiImport.importTable(spark, path, dir)
      }
      Seq(Row(v))
    }
  }

  /** `DESCRIBE STATS t` → table-level column statistics (rows, nulls,
    * merged-HLL NDV) from metadata + sidecars only — never a data scan.
    */
  case class GraftStatsCommand(parts: Seq[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      CommitLog.statsSchema.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())
    override def run(spark: SparkSession): Seq[Row] =
      CommitLog.describeStats(spark, rootOf(spark, parts)).collect().toSeq
  }

  /** `FAST FORWARD t FROM clone` → publish the clone's current snapshot
    * back onto its source as one metadata commit ([[CommitLog.fastForward]]
    * carries the fast-forward-only guard). Returns the committed version.
    */
  case class GraftFastForwardCommand(target: Seq[String], branch: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(CommitLog.fastForward(
        rootOf(spark, target), rootOf(spark, branch))))
  }

  /** `VACUUM t [RETAIN n HOURS]` → reclaim unreferenced files outside the
    * retention window (tagged snapshots stay pinned, young orphans stay).
    */
  case class GraftVacuumCommand(parts: Seq[String], retainHours: Option[Long],
      dryRun: Boolean = false) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      if (dryRun) Seq(AttributeReference("path", StringType, nullable = false)())
      else Nil
    override def run(spark: SparkSession): Seq[Row] = {
      val root = rootOf(spark, parts)
      val retention = retainHours.map(_ * 3600L * 1000L)
      if (dryRun)
        // pre-flight: list what a real vacuum would reclaim, touch nothing
        CommitLog.vacuumDryRun(root,
          retentionMs = retention.getOrElse(
            CommitLog.DefaultVacuumRetentionMs)).map(Row(_))
      else {
        retention match {
          case Some(ms) => CommitLog.vacuum(root, retentionMs = ms)
          case None     => CommitLog.vacuum(root)
        }
        Nil
      }
    }
  }

  /** `DESCRIBE HISTORY t` → the commit log as rows (version, op, stamp,
    * file/row/byte deltas) — the audit view BI clients expect.
    */
  case class GraftHistoryCommand(parts: Seq[String]) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      CommitLog.historySchema.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())
    override def run(spark: SparkSession): Seq[Row] =
      CommitLog.history(spark, rootOf(spark, parts)).collect().toSeq
  }

  /** `SNAPSHOT OF t1, t2, …` → one (table, version) row per target from
    * ONE transaction-consistent cut: the versions come from
    * [[CommitLog.consistentSnapshot]], whose re-read-until-quiescent +
    * marker-resolution protocol guarantees no multi-table transaction
    * shows partially across the returned pins. A client then reads each
    * table `VERSION AS OF` its pinned version — arbitrarily many reads,
    * one consistent view (the multi-table analogue of snapshot
    * isolation, from SQL alone). Cost: two metadata probes + one head
    * fold per table per attempt — driver-side KBs at any table size.
    */
  case class GraftSnapshotCommand(targets: Seq[(String, Seq[String])])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("table", StringType, nullable = false)(),
      AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = {
      require(targets.nonEmpty, "SNAPSHOT OF needs at least one table")
      val roots = targets.map { case (name, parts) =>
        name -> rootOf(spark, parts)
      }
      val cut = CommitLog.consistentSnapshot(roots.map(_._2))
      roots.map { case (name, root) =>
        val v = cut.getOrElse(root, throw new IllegalStateException(
          s"$name has no commits yet — nothing to pin"))
        Row(name, v)
      }
    }
  }

  /** `DESCRIBE FILES t` — the Iceberg `t.files` metadata-table persona
    * as a statement: one row per LIVE data file straight off the
    * manifest (no data I/O), with the file's row/byte counts, partition
    * tuple, and whether a bloom sidecar / deletion vector is attached.
    * The operator's view of what OPTIMIZE, vacuum sizing, skew triage
    * and skipping-efficiency questions actually need.
    */
  case class GraftFilesCommand(parts: Seq[String])
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] = Seq(
      AttributeReference("path", StringType, nullable = false)(),
      AttributeReference("rows", LongType, nullable = false)(),
      AttributeReference("bytes", LongType, nullable = false)(),
      AttributeReference("partition", StringType, nullable = false)(),
      AttributeReference("bloom_index", BooleanType, nullable = false)(),
      AttributeReference("deletion_vector", StringType, nullable = true)())
    override def run(spark: SparkSession): Seq[Row] = {
      val root = rootOf(spark, parts)
      val v = CommitLog.currentVersion(root).getOrElse(
        throw new IllegalStateException(s"no commits at $root"))
      val m = CommitLog.readManifest(root, v)
      m.statsOrNil.sortBy(_.path).map { s =>
        val part = s.partitionsOrEmpty.toSeq.sorted
          .map { case (k, vv) => s"$k=$vv" }.mkString(",")
        Row(s.path, s.rows, s.bytes, part, s.bloomOpt.isDefined,
          m.dvsOrEmpty.get(s.path).orNull)
      }
    }
  }

  /** `RESTORE [TABLE] t TO VERSION AS OF n` → metadata-only rollback (a
    * new commit re-pointing at the old version's files; history intact).
    */
  case class GraftRestoreCommand(parts: Seq[String], toVersion: Long)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] =
      Seq(Row(CommitLog.restore(rootOf(spark, parts), toVersion)))
  }

  /** Resolve to a commitlog root only if the identifier names a live
    * commitlog table; None (no throw) otherwise — the constraint commands
    * use this to decide between our path and the delegate's.
    */
  private def rootOpt(spark: SparkSession, parts: Seq[String]): Option[String] =
    CommitLogRelation.tableRoot(spark, parts).map(CommitLogSqlDml.CommitLogTarget.writable)

  /** The directory a new table `dst` (catalog.[ns.]table) gets from its
    * graft catalog — the placement rule SHALLOW CLONE and IMPORT TABLE
    * share (`what` names the statement in errors).
    */
  private def placement(spark: SparkSession, dst: Seq[String], what: String): String = {
    require(dst.size >= 2,
      s"$what target must be a catalog identifier (catalog.[ns.]table)")
    val gcat = (try spark.sessionState.catalogManager.catalog(dst.head) catch {
      case _: Exception => throw new UnsupportedOperationException(
        s"'${dst.head}' is not a registered catalog — $what " +
          "targets live in a graft catalog, which supplies the location")
    }) match {
      case g: graft.sources.commitlog.GraftCatalog => g
      case other => throw new UnsupportedOperationException(
        s"catalog '${dst.head}' (${other.getClass.getSimpleName}) is not " +
          s"a GraftCatalog — $what needs one to place the new table")
    }
    val ident = org.apache.spark.sql.connector.catalog.Identifier.of(
      dst.tail.init.toArray, dst.last)
    require(!gcat.tableExists(ident),
      s"table ${dst.mkString(".")} already exists")
    val dir = gcat.locationFor(ident)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    dir
  }

  /** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` → validate existing
    * rows, then a metadata-only commit; subsequent writes (SQL or Scala)
    * enforce it (see [[CommitLog.addConstraint]]). When `t` is NOT a
    * commitlog table (or doesn't resolve), the ORIGINAL statement re-parses
    * through the delegate and executes as Spark's native AddCheckConstraint
    * — so a DSv2 catalog with its own CHECK DDL still works, and a
    * missing table surfaces Spark's standard error, not ours.
    */
  /** `ANALYZE TABLE t COMPUTE STATISTICS [FULL]` → [[CommitLog.refreshStats]]
    * for commitlog tables (default: only stats-less files — the
    * post-import case; FULL re-analyzes everything); non-commitlog targets
    * run Spark's own ANALYZE via the delegate.
    */
  case class GraftAnalyzeCommand(parts: Seq[String], full: Boolean,
      original: String, @transient delegate: ParserInterface)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = rootOpt(spark, parts) match {
      case Some(root) =>
        Seq(Row(CommitLog.refreshStats(spark, root, onlyMissing = !full)))
      case None =>
        GraftBridge.ofRows(spark, delegate.parsePlan(original)).collect()
        Nil
    }
  }

  case class GraftAddConstraintCommand(parts: Seq[String],
      name: String, check: String, original: String,
      @transient delegate: ParserInterface) extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = rootOpt(spark, parts) match {
      case Some(root) =>
        Seq(Row(CommitLog.addConstraint(spark, root, name, check)))
      case None =>
        GraftBridge.ofRows(spark, delegate.parsePlan(original)).collect()
        Nil // native constraint DDL returns no rows
    }
  }

  /** `ALTER TABLE t DROP CONSTRAINT name` → metadata-only removal; same
    * delegate fallback as [[GraftAddConstraintCommand]] for non-commitlog
    * targets.
    */
  case class GraftDropConstraintCommand(parts: Seq[String], name: String,
      original: String, @transient delegate: ParserInterface)
      extends LeafRunnableCommand {
    override val output: Seq[Attribute] =
      Seq(AttributeReference("version", LongType, nullable = false)())
    override def run(spark: SparkSession): Seq[Row] = rootOpt(spark, parts) match {
      case Some(root) => Seq(Row(CommitLog.dropConstraint(root, name)))
      case None =>
        GraftBridge.ofRows(spark, delegate.parsePlan(original)).collect()
        Nil
    }
  }
}
