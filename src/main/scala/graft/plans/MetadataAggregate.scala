package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.CommitLog
import graft.sources.commitlog.CommitLogRelation

/** Answer `SELECT count(*) / count(c) / min(c) / max(c) FROM commitlog_t`
  * from the MANIFEST instead of scanning data — the aggregate-pushdown
  * idea (DSv2 SupportsPushDownAggregates / Iceberg's aggregate pushdown)
  * expressed at the altitude this engine's V1 read path allows: one
  * optimizer rule that replaces a stats-answerable global Aggregate with
  * a LocalRelation. At 100 TB the difference is a driver-side fold over
  * file metadata vs opening every parquet footer in the table.
  *
  * Fires ONLY when the answer is provably exact:
  *   - global aggregate (no grouping), every aggregate expression one of
  *     count(*) / count(col) / min(col) / max(col), no DISTINCT, no
  *     FILTER clause;
  *   - the child is the bare commitlog relation (or a pure column
  *     projection of it) — any Filter/Join/expression in between keeps
  *     the normal scan;
  *   - the snapshot carries no deletion vectors, and every file has the
  *     needed stats (or is provably all-null for the column) — see
  *     [[CommitLog.metadataAggAnswers]], which declines otherwise.
  * min/max parse through the SAME statParse the file pruner trusts, so
  * answering can never disagree with pruning about a value's type.
  * Each relation answers from the manifest of the version its scan reads
  * (its time-travel pin, else the snapshot it was routed at).
  * `spark.graft.metadataAgg.enabled=false` turns the rewrite off.
  */
object MetadataAggregate extends Rule[LogicalPlan] {

  private[plans] val EnabledConf = "spark.graft.metadataAgg.enabled"

  /** (root, pinned) of a commitlog relation reachable through
    * attribute-only Projects (and, when `throughFilter`, Filters) —
    * attribute names are preserved along such a walk, so an attribute of
    * the walked plan's output names the table column directly.
    */
  private[plans] def relationOf(plan: LogicalPlan, throughFilter: Boolean = false)
      : Option[(String, Option[Long])] = plan match {
    case Project(projList, child)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      relationOf(child, throughFilter)
    case Filter(_, child) if throughFilter => relationOf(child, throughFilter)
    case _ => CommitLogRelation.rootOf(plan)
  }

  /** (root, version) of the snapshot [[relationOf]]`(plan)` scans: the pin,
    * else the version the relation was routed at — the one its scan reads.
    */
  private def snapshotOf(plan: LogicalPlan): Option[(String, Option[Long])] =
    relationOf(plan).map { case (root, pinned) => (root, pinned.orElse(
      plan.collectLeaves().collectFirst { case lr: LogicalRelation =>
        CommitLogRelation.routedAt(lr.relation) }.flatten)) }

  private sealed trait Kind
  private case object CountStar extends Kind
  private final case class CountCol(c: String) extends Kind
  private final case class MinCol(c: String) extends Kind
  private final case class MaxCol(c: String) extends Kind
  private final case class SumCol(c: String) extends Kind
  private final case class GroupRef(c: String) extends Kind

  private def classify(ne: NamedExpression): Option[Kind] = ne match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) if l.value != null => Some(CountStar)
        case Count(Seq(a: AttributeReference)) => Some(CountCol(a.name))
        case Min(a: AttributeReference) => Some(MinCol(a.name))
        case Max(a: AttributeReference) => Some(MaxCol(a.name))
        // any eval mode: non-overflow values are identical, and the
        // answerer declines on overflow so each mode keeps its own
        // overflow behavior through the real scan
        case s: Sum => s.child match {
          case a: AttributeReference => Some(SumCol(a.name))
          case _ => None
        }
        case _ => None
      }
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val spark = SparkSession.active
    if (spark.conf.getOption(EnabledConf).contains("false")) return plan
    plan.transform {
      case agg @ Aggregate(Seq(), exprs, child, _) =>
        (for {
          (root, version) <- snapshotOf(child)
          kinds <- {
            val ks = exprs.map(classify)
            if (ks.forall(_.isDefined)) Some(ks.flatten) else None
          }
          answers <- CommitLog.metadataAggAnswers(spark, root, version,
            minMaxCols = kinds.collect {
              case MinCol(c) => c
              case MaxCol(c) => c
            },
            countCols = kinds.collect { case CountCol(c) => c },
            sumCols = kinds.collect { case SumCol(c) => c })
        } yield {
          val out = agg.aggregateExpressions.map(_.toAttribute)
          val values = kinds.zip(out).map { case (k, attr) =>
            val ext = k match {
              case CountStar => answers.totalRows
              case CountCol(c) => answers.nonNullCounts(c)
              case MinCol(c) => answers.minMax(c)._1
              case MaxCol(c) => answers.minMax(c)._2
              case SumCol(c) =>
                answers.sums(c).map(java.lang.Long.valueOf).orNull
              case GroupRef(_) => null // unreachable: no grouping here
            }
            CatalystTypeConverters.createToCatalystConverter(
              attr.dataType)(ext)
          }
          LocalRelation(out, Seq(InternalRow.fromSeq(values)))
        }).getOrElse(agg)

      // GROUP BY over single-valued-per-file columns — the layout
      // identity-partition staging guarantees, so the classic
      // per-partition count/profile query folds from the manifest
      case agg @ Aggregate(groupExprs, exprs, child, _)
          if groupExprs.nonEmpty &&
            groupExprs.forall(_.isInstanceOf[AttributeReference]) =>
        val groupNames = groupExprs.collect {
          case a: AttributeReference => a.name
        }
        def classifyG(ne: NamedExpression): Option[Kind] = ne match {
          case a: AttributeReference if groupNames.contains(a.name) =>
            Some(GroupRef(a.name))
          case Alias(a: AttributeReference, _)
              if groupNames.contains(a.name) =>
            Some(GroupRef(a.name))
          case other => classify(other)
        }
        (for {
          (root, version) <- snapshotOf(child)
          kinds <- {
            val ks = exprs.map(classifyG)
            if (ks.forall(_.isDefined)) Some(ks.flatten) else None
          }
          answers <- CommitLog.metadataGroupAnswers(spark, root, version,
            groupCols = groupNames,
            minMaxCols = kinds.collect {
              case MinCol(c) => c
              case MaxCol(c) => c
            },
            countCols = kinds.collect { case CountCol(c) => c },
            sumCols = kinds.collect { case SumCol(c) => c })
        } yield {
          val out = agg.aggregateExpressions.map(_.toAttribute)
          val converters = out.map(a =>
            CatalystTypeConverters.createToCatalystConverter(a.dataType))
          val data = answers.map { row =>
            InternalRow.fromSeq(kinds.zip(converters).map {
              case (k, conv) =>
                val ext = k match {
                  case GroupRef(c) => row.groupValues(groupNames.indexOf(c))
                  case CountStar => row.rows
                  case CountCol(c) => row.nonNullCounts(c)
                  case MinCol(c) => row.minMax(c)._1
                  case MaxCol(c) => row.minMax(c)._2
                  case SumCol(c) =>
                    row.sums(c).map(java.lang.Long.valueOf).orNull
                }
                conv(ext)
            })
          }
          LocalRelation(out, data)
        }).getOrElse(agg)
    }
  }
}
