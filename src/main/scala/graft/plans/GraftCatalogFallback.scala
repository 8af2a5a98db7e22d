package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.commitlog.{CommitLogRelation, GraftTable}

/** V1 read fallback for [[graft.sources.commitlog.GraftCatalog]] tables,
  * and per-query routing of every CommitLog read.
  *
  * Fallback — the published Delta catalog pattern: the catalog resolves
  * identifiers to a metadata-only V2 [[GraftTable]], and this rule swaps
  * every READ of one for the V1 relation [[CommitLogRelation.route]]
  * picks (vectorized codegen'd parquet scan, manifest-stats pruning). A
  * hand-rolled V2 `Batch` scan would regress reads to row-at-a-time
  * processing — falling back IS the performance feature.
  *
  * Routing: every unpinned CommitLog relation in the plan (a cached
  * catalog table, a temp view, an earlier DataFrame's plan) is re-routed
  * to the current snapshot ([[CommitLogRelation.current]]); a catalog
  * table looked up afresh (alias not yet analyzed) also takes new columns.
  *
  * What must NOT be rewritten: the target of a [[V2WriteCommand]]
  * (`AppendData`/`OverwriteByExpression` from `INSERT`/`df.writeTo`) —
  * Spark's `V1FallbackWriters` drive the table's `V1Write` there, and the
  * command's `table` field is typed `NamedRelation`, which a
  * `LogicalRelation` is not. Only the write's SOURCE query falls back.
  * Row-level DML (`DELETE`/`UPDATE`/`MERGE`) targets are recognised in
  * either form by [[CommitLogSqlDml.ResolveDml]], which translates them
  * onto the copy-on-write log commands with arbitrary conditions —
  * strictly more capable than the `SupportsDelete` filter subset.
  */
class GraftCatalogFallback(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case w: V2WriteCommand =>
      val q = rewrite(w.query)
      if (q eq w.query) w else w.withNewQuery(q)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
      toV1(r)
    case s @ SubqueryAlias(_, lr: LogicalRelation)
        if lr.catalogTable.isDefined && !s.analyzed =>
      val cur = CommitLogRelation.current(spark, lr, resolveAgain = true)
      if (cur eq lr) s else s.copy(child = cur)
    case lr: LogicalRelation =>
      CommitLogRelation.current(spark, lr, resolveAgain = false)
    case other =>
      other.mapChildren(rewrite).transformExpressionsDown {
        case se: SubqueryExpression => se.withNewPlan(rewrite(se.plan))
      }
  }

  private def toV1(r: DataSourceV2Relation): LogicalPlan = {
    val t = r.table.asInstanceOf[GraftTable]
    // Reuse the resolved output attributes verbatim: downstream operators
    // already bound to these expression ids.
    val rel = CommitLogRelation.route(spark, t.rootDir, t.pinned,
      Some(DataTypeUtils.fromAttributes(r.output)))
    LogicalRelation(rel, r.output, None, isStreaming = false, None)
  }
}
