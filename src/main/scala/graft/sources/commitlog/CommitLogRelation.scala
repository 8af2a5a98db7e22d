package graft.sources.commitlog

import java.lang.ref.WeakReference
import java.util.IdentityHashMap

import scala.util.Try

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{AnalysisContext, UnresolvedRelation}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.sources.BaseRelation
import org.apache.spark.sql.types.StructType

import graft.sources.CommitLog

/** The one place that recognises and routes a CommitLog read. A read is
  * served by one of three relations, chosen from the snapshot it reads:
  * [[EmptyCommitLogRelation]] (no commits yet), [[MergeOnReadRelation]]
  * (deletion vectors or a column mapping), or Spark's vectorized file
  * scan over a [[CommitLogFileIndex]]. Everything outside this package
  * recognises a read through [[unapply]], [[rootOf]] and [[tableRoot]],
  * builds one through [[route]], and has it re-routed per query through
  * [[current]] — the way Delta resolves its snapshot for every query.
  */
object CommitLogRelation {

  /** (root, pinned version) of a relation that reads a CommitLog table. */
  def unapply(r: BaseRelation): Option[(String, Option[Long])] = r match {
    case h: HadoopFsRelation => h.location match {
      case idx: CommitLogFileIndex => Some((idx.root, idx.pinned))
      case _ => None
    }
    case m: MergeOnReadRelation => Some((m.root, m.pinned))
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
      pinned.orElse(CommitLog.currentVersion(root)).map(CommitLog.metaManifest(root, _)),
      declared, options)

  private def routeAt(spark: SparkSession, root: String, pinned: Option[Long],
      meta: Option[CommitLog.Manifest], declared: Option[StructType],
      options: Map[String, String]): BaseRelation = meta match {
    case None => new EmptyCommitLogRelation(spark, root, declared.getOrElse(
      throw new IllegalStateException(s"no commits at $root")))
    case Some(m) =>
      val schema = declared.getOrElse(CommitLog.manifestSchema(m))
      val at = Some(m.version)
      if (mergeOnRead(m)) new MergeOnReadRelation(spark, root, pinned, at, schema)
      else {
        val index = new CommitLogFileIndex(spark, root, pinned, at)
        new HadoopFsRelation(index, new StructType(), schema, None,
            new ParquetFileFormat, options)(spark) with CommitLogInsert {
          def root: String = index.root
          def pinned: Option[Long] = index.pinned
        }
      }
  }

  /** DVs (dead positions) and column mappings (renames) need the
    * manifest-aware read; neither fits a raw file scan. */
  private def mergeOnRead(m: CommitLog.Manifest): Boolean =
    m.dvsOrEmpty.nonEmpty || m.colMapOrEmpty.nonEmpty

  /** The snapshot version `r`'s route was decided at; None for the empty
    * relation, which is routed while the log has no commit. */
  private def routedAt(r: BaseRelation): Option[Long] = r match {
    case h: HadoopFsRelation => h.location match {
      case idx: CommitLogFileIndex => idx.routedAt
      case _ => None
    }
    case m: MergeOnReadRelation => m.routedAt
    case _ => None
  }

  /** The relations [[current]] checked in the running analysis, each
    * mapped to what it became. The key is the analysis' relation cache:
    * Spark renews it per analysis and shares it with the analysis'
    * subquery and view contexts. Per thread, so concurrent sessions never
    * share a map, and the plan nodes themselves are never written.
    */
  private val checked = ThreadLocal.withInitial(() =>
    (new WeakReference[AnyRef](null), new IdentityHashMap[LogicalRelation, LogicalRelation]))

  private def checkedInThisAnalysis(): IdentityHashMap[LogicalRelation, LogicalRelation] = {
    val key = AnalysisContext.get.relationCache
    if (!(checked.get._1.get eq key)) checked.set((new WeakReference(key), new IdentityHashMap))
    checked.get._2
  }

  /** `lr` re-routed for the current snapshot: an unpinned relation whose
    * route no longer fits it (DVs or a column mapping came or went, the
    * first commit landed) is rebuilt through [[route]] with `lr`'s output
    * attributes, so operators bound to them still bind. `resolveAgain` (a
    * catalog table this analysis looked up afresh) also takes a changed
    * table schema and drops the session's cached relation, so the next
    * lookup decides its route at the new snapshot. Pinned relations pass
    * through. Each relation costs one `currentVersion` per analysis, not
    * per iteration, plus one meta-manifest read when a commit landed
    * since its route was decided.
    */
  def current(spark: SparkSession, lr: LogicalRelation,
      resolveAgain: Boolean): LogicalRelation = lr.relation match {
    case CommitLogRelation(root, None) =>
      val seen = checkedInThisAnalysis()
      Option(seen.get(lr)).getOrElse {
        val out = reroute(spark, root, lr, resolveAgain)
        seen.put(lr, out)
        seen.put(out, out)
        out
      }
    case _ => lr
  }

  private def reroute(spark: SparkSession, root: String, lr: LogicalRelation,
      resolveAgain: Boolean): LogicalRelation = {
    val now = CommitLog.currentVersion(root)
    if (now == routedAt(lr.relation)) return lr
    val meta = now.map(CommitLog.metaManifest(root, _))
    val fits = meta.forall { m => lr.relation match {
      case _: MergeOnReadRelation => mergeOnRead(m)
      case _: HadoopFsRelation => !mergeOnRead(m)
      case _ => false // the empty relation, once a commit exists
    }}
    val columns = meta.map(CommitLog.manifestSchema).filter(s => resolveAgain &&
      s.map(f => f.name -> f.dataType) != lr.schema.map(f => f.name -> f.dataType))
    // the session's next lookup re-creates the relation through the data
    // source (caching a re-routed relation instead would let Spark's
    // option check copy a file relation into a plain, non-insertable one)
    if (resolveAgain)
      lr.catalogTable.foreach(t => spark.sessionState.catalog.invalidateCachedTable(t.identifier))
    columns match {
      case Some(schema) =>
        val rel = routeAt(spark, root, None, meta, None, Map.empty)
        LogicalRelation(rel, DataTypeUtils.toAttributes(schema).map(a =>
          lr.output.find(o => o.name == a.name && o.dataType == a.dataType).getOrElse(a)),
          lr.catalogTable, isStreaming = false, stream = None)
      case None if fits => lr
      case None => lr.copy(relation = routeAt(spark, root, None, meta,
        Some(DataTypeUtils.fromAttributes(lr.output)), Map.empty))
    }
  }
}
