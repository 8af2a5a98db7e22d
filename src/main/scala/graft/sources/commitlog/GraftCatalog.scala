package graft.sources.commitlog

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.CommitLog

/** DataSource V2 [[TableCatalog]] over a directory of CommitLog tables —
  * the catalog-managed face of the table format (the option()-driven
  * `format("graft-commitlog")` path stays for path-addressed use):
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft",
  *   "graft.sources.commitlog.GraftCatalog")
  * spark.conf.set("spark.sql.catalog.graft.root", "/data/lake")
  * spark.sql("CREATE TABLE graft.gold.facts (k BIGINT, v STRING) PARTITIONED BY (k)")
  * spark.sql("INSERT INTO graft.gold.facts SELECT ...")
  * spark.sql("ALTER TABLE graft.gold.facts ADD COLUMNS (score DOUBLE)")
  * spark.sql("DELETE FROM graft.gold.facts WHERE k = 7")
  * spark.sql("SELECT * FROM graft.gold.facts VERSION AS OF 3")
  * df.writeTo("graft.gold.facts").append()
  * }}}
  *
  * Identifiers map to directories: `graft.a.b.t` → `<root>/a/b/t`; a table
  * is a directory with a `_graft_log`; a namespace is any other directory.
  * DDL is a log commit (`CommitLog.create` / `evolveSchema`), so schema
  * history time-travels with the data and survives without any external
  * metastore — the catalog IS the filesystem layout, reconstructable from
  * a bucket listing at any scale.
  *
  * Execution reuses the proven V1 engine end-to-end (the Delta-published
  * catalog pattern, without replacing `spark_catalog`):
  *  - reads: [[graft.plans.GraftExtensions]] rewrites a resolved
  *    [[GraftTable]] relation onto the V1 relation
  *    [[CommitLogRelation.route]] picks — Spark's vectorized, codegen'd
  *    parquet scan with manifest-stats pruning, not a hand-rolled
  *    row-at-a-time V2 `Batch`;
  *  - writes: `V1_BATCH_WRITE` + [[V1Write]] land `INSERT INTO` /
  *    `INSERT OVERWRITE` / `df.writeTo` on the same atomic
  *    `CommitLog.append`/`overwrite` commits as every other path;
  *  - `DELETE FROM` (this file) via [[SupportsDelete]] onto the
  *    copy-on-write `CommitLog.delete`; UPDATE/MERGE SQL are served by the
  *    session-extension DML rewrite (`CommitLogSqlDml`).
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Paths.get(Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root")))
    Files.createDirectories(root)
  }

  override def name(): String = catalogName

  // Path-traversal guard: every identifier segment must be a plain name.
  private def checkSegment(s: String): String = {
    require(s.nonEmpty && !s.contains("/") && !s.contains("\\") &&
      s != "." && s != ".." && !s.contains("\u0000"),
      s"illegal identifier segment '$s'")
    s
  }

  private def dirOf(ident: Identifier): Path =
    (ident.namespace().toSeq :+ ident.name())
      .foldLeft(root)((p, s) => p.resolve(checkSegment(s)))

  private def dirOf(ns: Array[String]): Path =
    ns.toSeq.foldLeft(root)((p, s) => p.resolve(checkSegment(s)))

  private def isTableDir(p: Path): Boolean =
    Files.isDirectory(p.resolve("_graft_log"))

  private def spark: SparkSession = SparkSession.active

  // ---- tables ----------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    Files.list(d).iterator().asScala
      .filter(isTableDir)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTableDir(dirOf(ident))

  override def loadTable(ident: Identifier): Table = {
    val d = dirOf(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    GraftTable(d.toString, fullName(ident), pinned = None)
  }

  /** `VERSION AS OF <v>`: a numeric version, or a named tag. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val d = dirOf(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val v = version.toLongOption.getOrElse(
      CommitLog.tags(d.toString).getOrElse(version,
        throw new IllegalArgumentException(
          s"no version or tag '$version' at $d")))
    GraftTable(d.toString, fullName(ident), pinned = Some(v))
  }

  /** `TIMESTAMP AS OF <ts>`: Spark hands epoch MICROseconds. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val d = dirOf(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    GraftTable(d.toString, fullName(ident),
      pinned = Some(CommitLog.versionAsOf(d.toString, timestamp / 1000L)))
  }

  private def fullName(ident: Identifier): String =
    (catalogName +: ident.namespace().toSeq :+ ident.name()).mkString(".")

  /** Filesystem location an identifier maps to (whether or not a table
    * exists there yet) — the hook SQL `SHALLOW CLONE` uses to place a new
    * table inside this catalog's root.
    */
  def locationFor(ident: Identifier): String = dirOf(ident).toString

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val d = dirOf(ident)
    if (isTableDir(d)) throw new TableAlreadyExistsException(ident)
    // PARTITIONED BY accepts identity columns AND the hidden transforms
    // the log implements (days/months/bucket/truncate) — Spark's grammar
    // parses them into named DSv2 transforms; rendered back into the
    // log's spec-string form.
    val partCols = partitions.toSeq.map { t =>
      def field = t.references()(0).fieldNames().mkString(".")
      def intArg: Int = t.arguments().collectFirst {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value().toString.toInt
      }.getOrElse(throw new IllegalArgumentException(
        s"transform $t needs an integer argument"))
      t.name() match {
        case "identity" => field
        case "days" => s"days($field)"
        case "months" => s"months($field)"
        case "years" => s"years($field)"
        case "bucket" => s"bucket($intArg, $field)"
        case "truncate" => s"truncate($intArg, $field)"
        case other => throw new IllegalArgumentException(
          s"graft catalog supports identity/years/months/days/bucket/" +
            s"truncate PARTITIONED BY transforms, got $other")
      }
    }
    Files.createDirectories(d)
    // TBLPROPERTIES persist in the log (engine-reserved keys the session
    // injects — provider/location/owner/external and write options — are
    // catalog metadata, not table state, and stay out)
    val reserved = Set(TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_EXTERNAL)
    val props = properties.asScala.toMap
      .filterNot { case (k, _) =>
        reserved.contains(k) || k.startsWith(TableCatalog.OPTION_PREFIX)
      }
    CommitLog.create(d.toString, schema, partCols, props)
    GraftTable(d.toString, fullName(ident), pinned = None)
  }

  /** The catalog speaks Spark 4.1's NATIVE constraint DDL (the grammar
    * parses `ALTER TABLE … ADD CONSTRAINT … CHECK (…)` into a DSv2
    * AddConstraint table change when the catalog advertises this
    * capability) — so constraint management works even in sessions that
    * did not install the graft parser extensions.
    */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** ALTER TABLE: ADD COLUMNS and lossless type widening land as one
    * metadata-only `evolve-schema` commit; ADD/DROP CONSTRAINT (CHECK
    * only) land as the same validate-then-metadata-commit the Scala and
    * parser-intercept paths use; anything else (drop, rename,
    * reposition, non-CHECK constraints) is rejected — the log's
    * additive-evolution contract.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val d = dirOf(ident)
    if (!isTableDir(d)) throw new NoSuchTableException(ident)
    val (propOps, rest) = changes.partition {
      case _: TableChange.SetProperty | _: TableChange.RemoveProperty => true
      case _ => false
    }
    if (propOps.nonEmpty) {
      // SET/UNSET TBLPROPERTIES: one metadata commit with the merged map
      val sets = propOps.collect {
        case sp: TableChange.SetProperty => sp.property() -> sp.value()
      }.toMap
      val unsets = propOps.collect {
        case rp: TableChange.RemoveProperty => rp.property()
      }
      CommitLog.setTableProperties(d.toString, sets, unsets)
    }
    val (constraintOps, schemaOps) = rest.partition {
      case _: TableChange.AddConstraint | _: TableChange.DropConstraint => true
      case _ => false
    }
    constraintOps.foreach {
      case add: TableChange.AddConstraint => add.constraint() match {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          CommitLog.addConstraint(spark, d.toString, chk.name(), chk.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft catalog supports only CHECK constraints, got ${other.toDDL}")
      }
      case drop: TableChange.DropConstraint =>
        if (!drop.ifExists() ||
            CommitLog.constraintsOf(d.toString).contains(drop.name()))
          CommitLog.dropConstraint(d.toString, drop.name())
      case _ => () // unreachable by the partition above
    }
    if (schemaOps.nonEmpty) {
      // column-mapping ops commit on their own (one metadata commit each,
      // zero rewrite); only additive/widening changes go through the
      // evolve-schema union
      val (mapChanges, evolveChanges) = schemaOps.partition {
        case _: TableChange.RenameColumn | _: TableChange.DeleteColumn => true
        case _ => false
      }
      mapChanges.foreach {
        case rn: TableChange.RenameColumn =>
          require(rn.fieldNames().length == 1,
            "graft catalog supports only top-level RENAME COLUMN")
          CommitLog.renameColumn(d.toString, rn.fieldNames()(0), rn.newName())
        case del: TableChange.DeleteColumn =>
          require(del.fieldNames().length == 1,
            "graft catalog supports only top-level DROP COLUMN")
          CommitLog.dropColumn(d.toString, del.fieldNames()(0))
        case _ => () // unreachable by the partition above
      }
      if (evolveChanges.nonEmpty) {
        val base = CommitLog.manifestSchema(CommitLog.readManifest(d.toString,
          CommitLog.currentVersion(d.toString).get))
        val evolved = evolveChanges.foldLeft(base) { (sch, ch) => ch match {
          case add: TableChange.AddColumn =>
            require(add.fieldNames().length == 1,
              "graft catalog supports only top-level ADD COLUMNS")
            StructType(sch.fields :+ org.apache.spark.sql.types.StructField(
              add.fieldNames()(0), add.dataType(), nullable = true))
          case upd: TableChange.UpdateColumnType =>
            require(upd.fieldNames().length == 1,
              "graft catalog supports only top-level column retyping")
            StructType(sch.fields.map(f =>
              if (f.name == upd.fieldNames()(0)) f.copy(dataType = upd.newDataType())
              else f))
          case other => throw new UnsupportedOperationException(
            s"graft catalog cannot apply $other — the commit log evolves " +
              "additively (ADD COLUMNS, lossless widening, RENAME/DROP " +
              "COLUMN via column mapping)")
        }}
        CommitLog.evolveSchema(d.toString, evolved)
      }
    }
    GraftTable(d.toString, fullName(ident), pinned = None)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val d = dirOf(ident)
    if (!isTableDir(d)) false
    else { deleteRecursively(d); true }
  }

  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = dirOf(oldIdent)
    if (!isTableDir(from)) throw new NoSuchTableException(oldIdent)
    val to = dirOf(newIdent)
    if (isTableDir(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(to.getParent)
    Files.move(from, to)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }

  // ---- namespaces ------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    Files.list(root).iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => Array(p.getFileName.toString)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d)) throw new NoSuchNamespaceException(
      catalogName +: namespace)
    Files.list(d).iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTableDir(p))
      .map(p => namespace :+ p.getFileName.toString).toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty ||
      (Files.isDirectory(dirOf(namespace)) && !isTableDir(dirOf(namespace)))

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(catalogName +: namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespaceExists(namespace) && namespace.nonEmpty)
      throw new NamespaceAlreadyExistsException(catalogName +: namespace)
    Files.createDirectories(dirOf(namespace))
  }

  override def alterNamespace(
      namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no metadata")

  override def dropNamespace(
      namespace: Array[String], cascade: Boolean): Boolean = {
    val d = dirOf(namespace)
    if (!Files.isDirectory(d) || isTableDir(d)) false
    else {
      if (!cascade && Files.list(d).iterator().asScala.nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty")
      deleteRecursively(d)
      true
    }
  }
}

/** A CommitLog table as seen through [[GraftCatalog]]. Pure metadata here:
  * reads are rewritten to the V1 relation by the extension rule, writes go
  * through [[V1Write]], DELETE through [[SupportsDelete]].
  */
case class GraftTable(rootDir: String, tableName: String, pinned: Option[Long])
    extends Table with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  /** The columns of the V1 relation reads fall back to. */
  override def schema(): StructType =
    CommitLogRelation.route(spark, rootDir, pinned).schema

  override def partitioning(): Array[Transform] = {
    val v = pinned.orElse(CommitLog.currentVersion(rootDir))
    v.map(CommitLog.readManifest(rootDir, _)).toSeq
      .flatMap(_.partitionByOrNil)
      .map { raw =>
        val f = CommitLog.parsePartField(raw)
        f.fn match {
          case "identity" => Expressions.identity(f.source)
          case "days" => Expressions.days(f.source)
          case "months" => Expressions.months(f.source)
          case "years" => Expressions.years(f.source)
          case "bucket" => Expressions.bucket(f.arg, f.source)
          case "truncate" => Expressions.apply("truncate",
            Expressions.literal(f.arg), Expressions.column(f.source))
          case _ => Expressions.identity(f.source)
        }
      }.toArray
  }

  override def properties(): util.Map[String, String] =
    (CommitLog.tablePropertiesOf(rootDir) ++
      Map("provider" -> "graft-commitlog", "location" -> rootDir)).asJava

  /** The table's live CHECK set surfaced through the DSv2 constraints API
    * (DESCRIBE, catalog tooling). Registration validated existing rows, so
    * each reports VALID + enforced — every write path (Scala, SQL DML, V2
    * write) re-validates its staged files before publishing.
    */
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    CommitLog.constraintsOf(rootDir).toSeq.sortBy(_._1).map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .enforced(true)
        .build(): Constraint
    }.toArray
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate with SupportsOverwrite
        with SupportsDynamicOverwrite {
      private var replace = false
      private var dynamic = false
      private var replaceCond: Option[Column] = None
      override def truncate(): WriteBuilder = { replace = true; this }
      // INSERT OVERWRITE arrives as overwrite-by-filter: the always-true
      // filter for a full replace, a real predicate for a static
      // `PARTITION (p = v)` spec — the latter routes to
      // [[CommitLog.replaceWhere]] (ONE commit, only files holding a
      // matching row rewrite, the rest move by reference).
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) replace = true
        else replaceCond = Some(GraftTable.filtersToColumn(filters).getOrElse(
          throw new UnsupportedOperationException(
            "cannot translate INSERT OVERWRITE predicate: " +
              filters.mkString(", "))))
        this
      }
      // `partitionOverwriteMode=dynamic`: replace exactly the partitions
      // present in the incoming data, leave the rest untouched.
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamic = true; this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              require(pinned.isEmpty,
                "cannot write through a version-pinned (time travel) relation")
              if (dynamic)
                CommitLog.overwritePartitionsDynamic(spark, rootDir, data)
              else replaceCond match {
                case Some(c) => CommitLog.replaceWhere(spark, rootDir, c, data)
                case None =>
                  if (replace || overwrite) CommitLog.overwrite(data, rootDir)
                  else CommitLog.append(data, rootDir)
              }
            }
          }
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    GraftTable.filtersToColumn(filters).isDefined

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(pinned.isEmpty,
      "cannot DELETE through a version-pinned (time travel) relation")
    val cond = GraftTable.filtersToColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"cannot translate delete condition: ${filters.mkString(", ")}"))
    CommitLog.deleteConfigured(spark, rootDir, cond)
  }
}

object GraftTable {

  /** V1 [[Filter]] tree → [[Column]], for [[SupportsDelete]]. `None` when
    * any node is untranslatable — `canDeleteWhere` then refuses and Spark
    * reports the unsupported DELETE instead of half-applying it.
    */
  def filtersToColumn(filters: Array[Filter]): Option[Column] =
    filters.toSeq.foldLeft(Option(lit(true))) { (acc, f) =>
      for { a <- acc; c <- toColumn(f) } yield a && c
    }

  /** The conjunction of the pushed filters that translate, for V1 scans
    * (partial translation is safe: Spark re-applies every filter above
    * the scan).
    */
  def pushed(filters: Array[Filter]): Column =
    filters.flatMap(toColumn).reduceOption(_ && _).getOrElse(lit(true))

  private def toColumn(f: Filter): Option[Column] = f match {
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case sources.Or(l, r) => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case sources.Not(c) => toColumn(c).map(!_)
    case _ => None
  }
}
