package org.apache.spark.sql

import org.apache.spark.sql.internal.{ColumnNode, Literal => LitNode, UnresolvedAttribute => AttrNode, UnresolvedFunction => FnNode}

/** Column-introspection bridge for Spark 4's node-based Column API.
  *
  * A `Column` no longer wraps a Catalyst `Expression`; its tree is
  * `internal.ColumnNode`s whose accessors are `private[sql]`. Extension
  * libraries that must inspect a user-supplied predicate (here: CommitLog's
  * manifest-stats file pruning) conventionally expose a package-local
  * shim — the same technique Delta Lake and Sedona use for their Catalyst
  * integrations. The ADT below carries exactly what a data-skipping
  * translator needs: function applications over attributes and literals;
  * anything else degrades to [[GraftBridge.Opaque]] (pruned conservatively).
  */
object GraftBridge {

  sealed trait Pred
  final case class Fn(name: String, args: Seq[Pred]) extends Pred
  final case class Attr(name: String) extends Pred
  final case class Lit(value: Column) extends Pred
  case object Opaque extends Pred

  private def toPred(n: ColumnNode): Pred = n match {
    case f: FnNode => Fn(f.functionName.toLowerCase, f.arguments.map(toPred))
    case a: AttrNode => Attr(a.nameParts.mkString("."))
    case l: LitNode => Lit(Column(l))
    case _ => Opaque
  }

  def pred(c: Column): Pred = toPred(c.node)

  /** The Scala-level literal value inside a literal Column (None for
    * anything that is not a plain literal node) — what a driver-side
    * pruning index needs to hash/compare a pushed constant without a
    * Catalyst evaluation pass.
    */
  def litRaw(c: Column): Option[Any] = c.node match {
    case l: LitNode => Some(l.value)
    case _ => None
  }

  /** Catalyst predicate → V1 `sources.Filter`, for the CommitLog
    * FileIndex's stats pruning (`translateFilter` is `protected[sql]`).
    * Nested-field pushdown is off: manifest stats track top-level atomic
    * columns only.
    */
  def toSourceFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** Wrap a resolved Catalyst expression as a user-facing [[Column]] (the
    * inverse bridge to [[pred]]): Spark 4 Columns carry `ColumnNode`s, and
    * `ExpressionColumnNode` is the sanctioned classic-module adapter for
    * extension code that produces expressions (analyzer rules, DML
    * rewrites). Unresolved attributes inside re-resolve by name against
    * whatever DataFrame the column is applied to.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Column(org.apache.spark.sql.classic.ExpressionColumnNode(e))

  /** A DataFrame over an already-analyzed logical plan (classic
    * `Dataset.ofRows` is `private[sql]`) — how a RunnableCommand re-enters
    * the DataFrame API with the exact resolved child plan the analyzer
    * handed it (same expression ids, no re-resolution drift).
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Re-brand a batch DataFrame's rows as a STREAMING DataFrame — what a V1
    * streaming `Source.getBatch` must return (MicroBatchExecution asserts
    * `isStreaming`). `internalCreateDataFrame` is `private[sql]`; every
    * published V1 source wrapper reaches it the same way.
    */
  def asStreamingFrame(df: DataFrame): DataFrame = {
    val classic = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** The catalog and identifier a table name resolves to, as the analyzer
    * resolves it: an unqualified or partial name takes the session's
    * current catalog and namespace (`LookupCatalog` is `private[sql]`).
    */
  def catalogAndIdentifier(spark: SparkSession, parts: Seq[String])
      : Option[(connector.catalog.CatalogPlugin, connector.catalog.Identifier)] =
    new connector.catalog.LookupCatalog {
      override protected val catalogManager = spark.sessionState.catalogManager
    }.CatalogAndIdentifier.unapply(parts)
}
