package graft.sources.commitlog

import java.lang.ref.WeakReference
import java.util.IdentityHashMap

import scala.util.Try

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, UnresolvedRelation}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, FileSourceMetadataAttribute, GetStructField, NamedExpression}
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.functions.CanonicalPath
import graft.sources.CommitLog

/** The one place that recognises and routes a CommitLog read. A table
  * with commits is read by Spark's vectorized file scan over a
  * [[CommitLogFileIndex]] fixed at one snapshot, its deletion vectors a
  * filter over that scan ([[DeletionVectorScan]]) and its column mapping
  * applied inside the parquet reader ([[CommitLogParquet]]); a table with
  * none yet by [[EmptyCommitLogRelation]]. Everything outside this package
  * recognises a read through [[unapply]], [[rootOf]] and [[tableRoot]],
  * builds one through [[route]], and has it re-routed per query through
  * [[current]] — the way Delta fixes one snapshot for every query.
  */
object CommitLogRelation {

  /** (root, pinned version) of a relation that reads a CommitLog table. */
  def unapply(r: BaseRelation): Option[(String, Option[Long])] = r match {
    case h: HadoopFsRelation => h.location match {
      case idx: CommitLogFileIndex => Some((idx.root, idx.pinned))
      case _ => None
    }
    case e: EmptyCommitLogRelation => Some((e.root, None))
    case _ => None
  }

  /** (root, pinned version) of the CommitLog table `plan` reads whole: its
    * relation under alias, view and pass-through projection layers. A
    * catalog table still in its V2 form ([[GraftTable]]) counts too.
    */
  def rootOf(plan: LogicalPlan): Option[(String, Option[Long])] = plan match {
    case SubqueryAlias(_, child) => rootOf(child)
    case v: View => rootOf(v.child)
    case p @ Project(list, child) if list.forall(passesThrough) &&
        p.output.map(a => a.name -> a.dataType) == child.output.map(a => a.name -> a.dataType) =>
      rootOf(child)
    case LogicalRelation(CommitLogRelation(root, pinned), _, _, _, _) =>
      Some((root, pinned))
    case r: DataSourceV2Relation => r.table match {
      case t: GraftTable => Some((t.rootDir, t.pinned))
      case _ => None
    }
    case _ => None
  }

  /** A column a view passes on unchanged: same name, same type. */
  private def passesThrough(e: NamedExpression): Boolean = e match {
    case _: Attribute => true
    case Alias(a: Attribute, name) => a.name == name
    case Alias(c: Cast, name) => c.child match {
      case a: Attribute => a.name == name && a.dataType == c.dataType
      case _ => false
    }
    case _ => false
  }

  /** (root, pinned version) of the CommitLog table a (possibly qualified)
    * name denotes, resolved as Spark resolves a table name: a temp or
    * global temp view first, then the catalog and namespace the name
    * qualifies (the session's current ones where it does not) — a
    * [[GraftCatalog]] table, a `USING graft-commitlog` session-catalog
    * table, or a persistent view over one ([[rootOf]]). Catalog lookups
    * only, except that a view stored as SQL text is analyzed.
    */
  def tableRoot(spark: SparkSession, parts: Seq[String]): Option[(String, Option[Long])] = {
    val cat = spark.sessionState.catalog
    def viewRoot = Try(spark.sessionState.executePlan(UnresolvedRelation(parts)).analyzed)
      .toOption.flatMap(rootOf)
    cat.getLocalOrGlobalTempView(parts) match {
      case Some(view) => if (view.resolved) rootOf(view) else viewRoot
      case None => GraftBridge.catalogAndIdentifier(spark, parts) match {
        case Some((g: GraftCatalog, id)) =>
          Try(g.tableExists(id)).toOption.collect { case true => (g.locationFor(id), None) }
        case Some((c, id))
            if c.name.equalsIgnoreCase("spark_catalog") && id.namespace.length == 1 =>
          Try(cat.getTableMetadata(TableIdentifier(id.name, id.namespace.headOption)))
            .toOption.flatMap { t =>
              if (t.tableType == CatalogTableType.VIEW) viewRoot
              else catalogRoot(t).map((_, None))
            }
        case _ => None
      }
    }
  }

  /** Root of a session-catalog table stored `USING graft-commitlog`. */
  def catalogRoot(t: CatalogTable): Option[String] =
    if (!t.provider.exists(_.equalsIgnoreCase("graft-commitlog"))) None
    else t.storage.properties.get("path")
      .orElse(t.storage.locationUri.map(_.toString)).map(localPath)

  /** A table location as the log addresses it: the session catalog keeps
    * `file:` URIs, the log walks the local filesystem by path.
    */
  private[commitlog] def localPath(p: String): String =
    if (p.startsWith("file:")) java.nio.file.Paths.get(new java.net.URI(p)).toString
    else p

  /** The relation that serves `root` at `pinned` (else the current
    * snapshot). `declared`, a schema the caller already fixed, replaces
    * the snapshot's — served empty while the table has no commits.
    * `options` reach the file scan's parquet reader.
    */
  def route(spark: SparkSession, root: String, pinned: Option[Long],
      declared: Option[StructType] = None,
      options: Map[String, String] = Map.empty): BaseRelation =
    routeAt(spark, root, pinned,
      pinned.orElse(CommitLog.currentVersion(root)).map(CommitLog.readSnapshotSlim(root, _)),
      declared, options)

  private def routeAt(spark: SparkSession, root: String, pinned: Option[Long],
      snap: Option[CommitLog.SlimSnapshot], declared: Option[StructType],
      options: Map[String, String]): BaseRelation = snap match {
    case None => new EmptyCommitLogRelation(spark, root, declared.getOrElse(
      throw new IllegalStateException(s"no commits at $root")))
    case Some(s) =>
      val m = s.meta
      val index = new CommitLogFileIndex(spark, root, pinned, s)
      new HadoopFsRelation(index, new StructType(),
          declared.getOrElse(CommitLog.manifestSchema(m)), None,
          new CommitLogParquet(m.colMapOrEmpty, m.dvsOrEmpty.nonEmpty), options)(spark)
          with CommitLogInsert {
        def root: String = index.root
        def pinned: Option[Long] = index.pinned
      }
  }

  /** The snapshot version `r` reads; None for the empty relation, which
    * is routed while the log has no commit. */
  def routedAt(r: BaseRelation): Option[Long] = r match {
    case h: HadoopFsRelation => h.location match {
      case idx: CommitLogFileIndex => Some(idx.routedAt)
      case _ => None
    }
    case _ => None
  }

  /** What [[current]] saw in the running analysis: each relation it
    * checked, mapped to what it became, and each table's version — read
    * once, so every relation of one root (a self-join, an `IN (SELECT …)`)
    * reads one snapshot. The key is the analysis' relation cache: Spark
    * renews it per analysis and shares it with the analysis' subquery and
    * view contexts. Per thread, so concurrent sessions never share one,
    * and the plan nodes themselves are never written.
    */
  private final class Seen {
    val relations = new IdentityHashMap[LogicalRelation, LogicalRelation]
    val versions = new java.util.HashMap[String, Option[Long]]
  }

  private val seen = ThreadLocal.withInitial(() => (new WeakReference[AnyRef](null), new Seen))

  private def seenInThisAnalysis(): Seen = {
    val key = AnalysisContext.get.relationCache
    if (!(seen.get._1.get eq key)) seen.set((new WeakReference(key), new Seen))
    seen.get._2
  }

  /** `lr` re-routed for the current snapshot: an unpinned relation routed
    * at an older version (or before the first commit) is rebuilt through
    * [[route]] at the current one with `lr`'s output attributes, so
    * operators bound to them still bind. `resolveAgain` (a catalog table
    * this analysis looked up afresh) also takes a changed table schema and
    * drops the session's cached relation, so the next lookup routes at the
    * new snapshot. Pinned relations pass through. Each table costs one
    * `currentVersion` per analysis, not per iteration, plus one snapshot
    * metadata read per relation when a commit landed since its route.
    */
  def current(spark: SparkSession, lr: LogicalRelation,
      resolveAgain: Boolean): LogicalRelation = lr.relation match {
    case CommitLogRelation(root, None) =>
      val s = seenInThisAnalysis()
      Option(s.relations.get(lr)).getOrElse {
        val now = s.versions.computeIfAbsent(root, CommitLog.currentVersion(_))
        val out = reroute(spark, root, now, lr, resolveAgain)
        s.relations.put(lr, out)
        s.relations.put(out, out)
        out
      }
    case _ => lr
  }

  private def reroute(spark: SparkSession, root: String, now: Option[Long],
      lr: LogicalRelation, resolveAgain: Boolean): LogicalRelation = {
    if (now == routedAt(lr.relation)) return lr
    val snap = now.map(CommitLog.readSnapshotSlim(root, _))
    val columns = snap.map(s => CommitLog.manifestSchema(s.meta)).filter(s => resolveAgain &&
      s.map(f => f.name -> f.dataType) != lr.schema.map(f => f.name -> f.dataType))
    // the session's next lookup re-creates the relation through the data
    // source (caching a re-routed relation instead would let Spark's
    // option check copy a file relation into a plain, non-insertable one)
    if (resolveAgain)
      lr.catalogTable.foreach(t => spark.sessionState.catalog.invalidateCachedTable(t.identifier))
    columns match {
      case Some(schema) =>
        val rel = routeAt(spark, root, None, snap, None, Map.empty)
        LogicalRelation(rel, DataTypeUtils.toAttributes(schema).map(a =>
          lr.output.find(o => o.name == a.name && o.dataType == a.dataType).getOrElse(a)),
          lr.catalogTable, isStreaming = false, stream = None)
      case None => lr.copy(relation = routeAt(spark, root, None, snap,
        Some(DataTypeUtils.fromAttributes(lr.output)), Map.empty))
    }
  }

  /** Planner strategy that applies a snapshot's deletion vectors inside
    * Spark's own file scan: a read of a [[CommitLogFileIndex]] whose
    * snapshot carries DVs is planned as that scan plus `_metadata` and a
    * `Filter` of [[CommitLog.dvLive]] over `_metadata.file_path` and
    * `_metadata.row_index` — one `FileSourceScanExec`, no join, no
    * broadcast, nothing executed while planning. The rewrite happens here,
    * after optimization, so every analyzer and optimizer rule still sees
    * the bare relation. [[graft.plans.GraftExtensions]] registers it.
    */
  object DeletionVectorScan extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case ScanOperation(_, _, _, lr @ LogicalRelation(h: HadoopFsRelation, _, _, _, _)) =>
        h.location match {
          case idx: CommitLogFileIndex if idx.snapshot.meta.dvsOrEmpty.nonEmpty =>
            FileSourceStrategy(plan.transformUp {
              case r: LogicalRelation if r eq lr => live(lr, idx)
            })
          case _ => Nil
        }
      case _ => Nil
    }

    private def live(lr: LogicalRelation, idx: CommitLogFileIndex): LogicalPlan = {
      val meta = lr.output.collectFirst { case FileSourceMetadataAttribute(a) => a }
        .getOrElse(lr.metadataOutput.collectFirst { case FileSourceMetadataAttribute(a) => a }.get)
      val fields = meta.dataType.asInstanceOf[StructType]
      def field(n: String) = GetStructField(meta, fields.fieldIndex(n), Some(n))
      val scan = if (lr.output.contains(meta)) lr else lr.copy(output = lr.output :+ meta)
      Project(lr.output, Filter(CommitLog.dvLive(idx.root, idx.snapshot.meta,
        CanonicalPath(field("file_path")), field("row_index")), scan))
    }
  }
}
