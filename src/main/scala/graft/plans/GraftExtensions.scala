package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

import graft.functions.FloatDotQ
import graft.sources.commitlog.CommitLogRelation

/** Optimizer rule: rewrite the declarative higher-order quantized
  * dot-product pattern
  *
  * {{{ aggregate(zip_with(a, b, (x, y) -> floor((x * y) * 1e9)),
  *               0L, (acc, p) -> acc + p) }}}
  *
  * onto the native codegen expression [[FloatDotQ]] — same semantics
  * (proven by the q16–q18 oracles), ~100× faster (tight primitive loop vs
  * an intermediate array plus two interpreted lambdas per element).
  *
  * This is the custom-operator preference order of SURVEY.md §4 in action:
  * users write the composable built-in form; the session extension makes it
  * execute as the specialized expression. Matching is associativity/
  * commutativity/cast tolerant on the product, and strict on everything
  * else (the zero literal, the additive merge, the identity finish) so no
  * semantically different aggregate can be captured.
  */
object RewriteFloatDotProduct extends Rule[LogicalPlan] {

  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case other            => other
  }

  /** Multiplication operand multiset, flattening nested Multiply and casts. */
  private def multiplyOperands(e: Expression): Seq[Expression] = stripCast(e) match {
    case Multiply(l, r, _) => multiplyOperands(l) ++ multiplyOperands(r)
    case other             => Seq(other)
  }

  private def isQuantizedProduct(body: Expression, x: NamedLambdaVariable,
      y: NamedLambdaVariable): Boolean = stripCast(body) match {
    case Floor(m) =>
      val ops = multiplyOperands(m)
      ops.size == 3 &&
        ops.exists { case v: NamedLambdaVariable => v.exprId == x.exprId; case _ => false } &&
        ops.exists { case v: NamedLambdaVariable => v.exprId == y.exprId; case _ => false } &&
        ops.exists { case Literal(d: Double, DoubleType) => d == 1.0e9; case _ => false }
    case _ => false
  }

  private def isAdditiveMerge(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(add, Seq(acc: NamedLambdaVariable, p: NamedLambdaVariable), _) =>
      stripCast(add) match {
        case Add(l, r, _) =>
          Set(stripCast(l), stripCast(r)).collect {
            case v: NamedLambdaVariable => v.exprId
          } == Set(acc.exprId, p.exprId)
        case _ => false
      }
    case _ => false
  }

  private def isIdentityFinish(f: LambdaFunction): Boolean = f match {
    case LambdaFunction(v: NamedLambdaVariable, Seq(a: NamedLambdaVariable), _) =>
      v.exprId == a.exprId
    case _ => false
  }

  /** FloatDotQ reads elements with `getFloat` — rewriting an array<double>
    * pattern (also semantically valid in the higher-order form) would
    * silently corrupt results, so the rule only fires on array<float>.
    */
  private def isFloatArray(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _                       => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b,
            LambdaFunction(body, Seq(x: NamedLambdaVariable, y: NamedLambdaVariable), _)),
          Literal(0L, LongType),
          merge: LambdaFunction,
          finish: LambdaFunction)
        if a.resolved && b.resolved &&
          isFloatArray(a.dataType) && isFloatArray(b.dataType) &&
          isQuantizedProduct(body, x, y) && isAdditiveMerge(merge) &&
          isIdentityFinish(finish) =>
      FloatDotQ(a, b)
  }
}

/** Session extension wiring for cluster deploys:
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` registers the
  * `float_dot_q` function and the rewrite rule at session build. For an
  * already-built session use [[GraftExtensions.install]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteFloatDotProduct)
    e.injectOptimizerRule(_ => MetadataAggregate)
    e.injectOptimizerRule(_ => MvRewrite)
    e.injectOptimizerRule(_ => JoinElimination)
    // SQL row-level DML (MERGE/UPDATE/DELETE) and time travel (VERSION AS
    // OF / TIMESTAMP AS OF) on commitlog tables. Resolution-batch rules
    // cannot be attached to an already-built session, so these two are only
    // active in sessions constructed with this extensions class
    // (spark.sql.extensions=graft.plans.GraftExtensions — Graft.session
    // sets it).
    e.injectResolutionRule(s => new CommitLogSqlDml.ResolveDml(s))
    // SQL maintenance statements (OPTIMIZE / VACUUM) — not in Spark's
    // grammar, so they are recognized at the parser and handed to the
    // table format's native compaction/retention primitives.
    e.injectParser((_, parser) =>
      new CommitLogSqlMaintenance.MaintenanceParser(parser))
    // Catalog-managed commitlog tables (spark.sql.catalog.<name> =
    // graft.sources.commitlog.GraftCatalog): reads fall back to the V1
    // vectorized relation; row-level DML then flows through ResolveDml.
    e.injectResolutionRule(s => new GraftCatalogFallback(s))
    e.injectHintResolutionRule(s => new CommitLogSqlDml.ResolveTimeTravel(s))
    // deletion vectors of commitlog snapshots: a filter inside the file scan
    e.injectPlannerStrategy(_ => CommitLogRelation.DeletionVectorScan)
    e.injectFunction((
      new FunctionIdentifier("float_dot_q"),
      new ExpressionInfo(classOf[FloatDotQ].getName, "float_dot_q"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "float_dot_q takes exactly 2 arguments")
        FloatDotQ(args.head, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("iceberg_bucket"),
      new ExpressionInfo(
        classOf[graft.functions.IcebergBucket].getName, "iceberg_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "iceberg_bucket takes (N, col)")
        val n = args.head match {
          case c if c.foldable &&
            c.dataType == org.apache.spark.sql.types.IntegerType =>
            c.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"iceberg_bucket N must be an INT literal, got $other")
        }
        graft.functions.IcebergBucket(n, args(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("simhash60"),
      new ExpressionInfo(classOf[graft.functions.SimHash60].getName, "simhash60"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "simhash60 takes exactly 1 argument")
        graft.functions.SimHash60(args.head).toAggregateExpression()
      }))
    e.injectFunction((
      new FunctionIdentifier("capped_long_set"),
      new ExpressionInfo(
        classOf[graft.functions.CappedLongSet].getName, "capped_long_set"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "capped_long_set takes (value, cap)")
        val cap = args(1) match {
          case c if c.foldable &&
            c.dataType == org.apache.spark.sql.types.IntegerType =>
            c.eval().asInstanceOf[Int]
          case other => throw new IllegalArgumentException(
            s"capped_long_set cap must be an INT literal, got $other")
        }
        graft.functions.CappedLongSet(args.head, cap).toAggregateExpression()
      }))
    // Spark's own runtime-filter sketch classes as SQL-callable functions
    // (same wiring as GraftFunctions.register) — a JDBC client can build
    // and probe a semi-join prescreen in plain SQL.
    e.injectFunction((
      new FunctionIdentifier("bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "bloom_agg"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "bloom_agg takes (xxhash64 value, estimatedItems, numBits)")
        def asLongLit(x: Expression, what: String): Expression = x match {
          case l if l.foldable &&
              (l.dataType == org.apache.spark.sql.types.IntegerType ||
                l.dataType == org.apache.spark.sql.types.LongType) =>
            org.apache.spark.sql.catalyst.expressions.Literal(
              l.eval().toString.toLong)
          case other => throw new IllegalArgumentException(
            s"bloom_agg $what must be an integral literal, got $other")
        }
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(args.head,
            asLongLit(args(1), "estimatedItems"), asLongLit(args(2), "numBits"))
          .toAggregateExpression()
      }))
    e.injectFunction((
      new FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "bloom_might_contain takes (bloom binary, xxhash64 value)")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          args.head, args(1))
      }))
  }
}

object GraftExtensions {
  /** Attach the rewrites and the deletion-vector scan to an existing
    * session (experimental optimizer and planner hooks) and register the
    * function — idempotent.
    */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    graft.functions.GraftFunctions.register(spark)
    Seq(RewriteFloatDotProduct, MetadataAggregate, MvRewrite,
        JoinElimination).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
    }
    if (!spark.experimental.extraStrategies.contains(CommitLogRelation.DeletionVectorScan))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CommitLogRelation.DeletionVectorScan
  }
}
