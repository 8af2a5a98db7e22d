package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, EqualTo, NamedExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

import graft.sources.CommitLog

/** Eliminate joins the table's DECLARED relational constraints prove
  * redundant — the classic warehouse-optimizer use of RELY constraints
  * (Snowflake join elimination on RELY PK/FK; Oracle's query rewrite with
  * `RELY NOVALIDATE`; Trino/Calcite's FK-based join pruning). Two shapes,
  * both requiring that NOTHING above the join references the dimension
  * side:
  *
  *  1. **LEFT OUTER to a unique key**: `fact LEFT JOIN dim ON fk = pk`
  *     where dim's commitlog table declares `constraint.pk = pk`. A unique
  *     match key means the join can only preserve fact rows 1:1 (matched
  *     or not), so with no dim column consumed the join is the identity on
  *     the fact side. The dim side may be filtered — a subset of a unique
  *     column stays unique.
  *  2. **INNER over declared referential integrity**: `fact JOIN dim ON
  *     fk = pk` where dim declares the pk AND the fact table declares
  *     `constraint.fk.<fkcol> = <dimRoot>::<pkcol>`. The FK declaration
  *     asserts every fact fk is non-null and has exactly one parent, so
  *     the inner join neither drops nor duplicates fact rows. Here the
  *     dim side must be the BARE table (a dim filter could drop parents).
  *
  * Constraints are validated when declared and enforced on append
  * ([[CommitLog.setTableProperties]] / the append-path relational check),
  * so the optimizer may trust them the way Snowflake trusts RELY. Both
  * sides must read the CURRENT table version (no time travel) — a
  * constraint declared today says nothing about a historical snapshot.
  *
  * At 100 TB this removes the most common wasted work in BI/semantic-layer
  * queries: star-schema queries generated over a wide join graph where a
  * given query touches measures only — each eliminated join saves a full
  * shuffle (or broadcast build) of the dimension and lets fact-only
  * pruning run unimpeded. `spark.graft.joinElimination.enabled=false`
  * turns the rewrite off.
  */
object JoinElimination extends Rule[LogicalPlan] {

  private[plans] val EnabledConf = "spark.graft.joinElimination.enabled"

  private def enabled: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .forall(_.conf.get(EnabledConf, "true") != "false")

  private def trust(root: String): CommitLog.ConstraintTrust =
    try CommitLog.constraintTrustOf(root)
    catch { case NonFatal(_) => CommitLog.ConstraintTrust(Map.empty, 0L, 0L) }

  /** A constraint property is trustworthy iff its validation stamp exists
    * and no staleness watermark has passed it — the append path re-
    * validates relationally, but delete/update/merge/DV/overwrite commits
    * do NOT, so a constraint declared before such a commit proves nothing
    * about the rows that exist now. Re-declaring the constraint
    * re-validates the data and refreshes the stamp. Pre-stamp tables
    * (declared before this build) never eliminate until re-declared.
    */
  private def stampFresh(t: CommitLog.ConstraintTrust, stampKey: String,
      watermark: Long): Boolean =
    t.props.get(stampKey).flatMap(_.toLongOption).exists(watermark <= _)

  /** The fact-side replacement for `j`, when `needed` (every attribute the
    * parent consumes) lives entirely on one side and the declared
    * constraints prove the join is the identity on that side.
    */
  private def eliminate(j: Join, needed: AttributeSet): Option[LogicalPlan] = {
    val (fact, dim, fk, pk) = j match {
      case Join(l, r, _, Some(EqualTo(a: AttributeReference, b: AttributeReference)), _)
          if needed.subsetOf(l.outputSet) &&
            a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
        (l, r, a, b)
      case Join(l, r, _, Some(EqualTo(b: AttributeReference, a: AttributeReference)), _)
          if needed.subsetOf(l.outputSet) &&
            a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
        (l, r, a, b)
      case _ => return None
    }
    j.joinType match {
      case LeftOuter =>
        // needs only PK UNIQUENESS on dim: appends re-validate it and pure
        // deletes cannot break it, so the staleness watermark is modifyV
        for {
          (dimRoot, pinned) <- MetadataAggregate.relationOf(dim, throughFilter = true)
          if pinned.isEmpty
          dimT = trust(dimRoot)
          if dimT.props.get("constraint.pk").contains(pk.name)
          if stampFresh(dimT, "constraint.pk.v", dimT.modifyV)
        } yield fact
      case Inner =>
        // needs full referential integrity: dim rows must not have been
        // removed OR modified since the FK validated against them
        // (mutationV), dim PK uniqueness must still hold (modifyV vs the
        // pk stamp), and fact fk VALUES must not have been rewritten since
        // validation (fact modifyV vs the fk stamp — fact deletes are
        // fine, fewer rows still all have parents)
        for {
          (dimRoot, dimPin) <- MetadataAggregate.relationOf(dim)
          if dimPin.isEmpty
          dimT = trust(dimRoot)
          if dimT.props.get("constraint.pk").contains(pk.name)
          if stampFresh(dimT, "constraint.pk.v", dimT.modifyV)
          (factRoot, factPin) <- MetadataAggregate.relationOf(fact, throughFilter = true)
          if factPin.isEmpty
          factT = trust(factRoot)
          if factT.props.get(s"constraint.fk.${fk.name}")
            .contains(s"$dimRoot::${pk.name}")
          if stampFresh(factT, s"constraint.fk.${fk.name}.v", factT.modifyV)
          dimStamp <- factT.props.get(s"constraint.fk.${fk.name}.dimv")
            .flatMap(_.toLongOption)
          if dimT.mutationV <= dimStamp
        } yield fact
      case _ => None
    }
  }

  private def neededBy(exprs: Seq[NamedExpression]): AttributeSet =
    AttributeSet(exprs.flatMap(_.references))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case p @ Project(pl, j: Join) =>
        eliminate(j, neededBy(pl)).map(f => p.copy(child = f)).getOrElse(p)
      // Project/Aggregate INSULATE the plan above (their output is defined
      // by their own expression lists), so "nothing above consumes the dim
      // side" reduces to a local check. A Filter case would not — filters
      // pass their child's output through, so a parent could still
      // reference dim attributes the local condition does not.
      case a @ Aggregate(g, aggs, j: Join, _) =>
        eliminate(j, AttributeSet((g ++ aggs).flatMap(_.references)))
          .map(f => a.copy(child = f)).getOrElse(a)
    }
  }
}
