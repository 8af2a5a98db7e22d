package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** pg_catalog introspection shims for the [[PgWire]] endpoint.
  *
  * The reference's Postgres endpoint serves REAL clients — DataGrip /
  * Metabase connect to `jdbc:postgresql://localhost:5432/ngods`
  * (reference `README.md:74-76`) and cube's SQL port speaks pg too
  * (`conf/cube/.env:9-11`). A stock pg client's first act after
  * authentication is metadata introspection: pgjdbc's `getMetaData`
  * walks `pg_catalog.pg_namespace/pg_class/pg_attribute/pg_type`, psql's
  * `\d` family issues the same joins with pg operator spellings
  * (`OPERATOR(pg_catalog.~)`, `::regclass` casts), and both call scalar
  * shims (`version()`, `current_schema()`, `pg_get_userbyid`,
  * `format_type`). Without these, the first metadata query errors and
  * the client disconnects — protocol-perfect but unusable.
  *
  * Design: three layers, all driver-side metadata work (KB-scale at any
  * data size — introspection never touches table data):
  *
  *   1. **Catalog tables as temp views** built FRESH from
  *      `spark.catalog` on each introspection query (`ensure`), so DDL
  *      between two `\dt`s is visible. Views are registered under their
  *      bare pg names (`pg_class`, `pg_namespace`, …) in the
  *      connection's isolated session; the rewrite strips the
  *      `pg_catalog.` qualifier. OIDs are stable 31-bit hashes of the
  *      qualified name, so repeated queries and cross-table joins
  *      (pg_class.relnamespace = pg_namespace.oid) agree without any
  *      server-side oid counter.
  *   2. **Scalar function shims** registered once per connection
  *      session (`registerFunctions`) — `version`, `pg_get_userbyid`,
  *      `format_type`, visibility predicates (always true: Spark has no
  *      search-path shadowing), description lookups (always NULL: no
  *      COMMENT ON store), privilege predicates (always true: the
  *      endpoint authenticates a single engine user).
  *   3. **Dialect rewrites** (`rewrite`) for pg spellings Spark's
  *      parser rejects: `::type` casts dropped (results travel as text
  *      anyway, and reg* casts exist only to rename oids), regex-match
  *      operators `~`/`!~`/`~*`/`!~*` and their `OPERATOR(pg_catalog.x)`
  *      spellings → `RLIKE`/`NOT RLIKE`, `COLLATE pg_catalog.default`
  *      dropped. The rewrite only fires on statements that contain a
  *      pg-ism, so normal engine SQL never pays it.
  *
  * What a client sees: every Spark database is a schema (nspname), every
  * table/view in it a pg_class row ('r'/'v'), every column a
  * pg_attribute row with the SAME type OIDs [[PgWire]] renders on the
  * wire, plus the static pg_type rows describing those OIDs. Temp views
  * surface in schema `public`, global temp views in `global_temp` —
  * honest: that is exactly where `SELECT` finds them.
  */
/** One element of pg's `_pg_expandarray(a)` set-returning function:
  * `x` = the element, `n` = its 1-BASED position (pg's record shape,
  * which pgjdbc's getPrimaryKeys dereferences as `(…).n` / `(KEYS).x`).
  */
case class PgExpanded(x: Int, n: Int)

object PgCatalog {

  /** Stable positive 31-bit oid from a qualified name — deterministic
    * across connections and rounds so clients can cache.
    */
  private[tools] def oidOf(kind: String, name: String): Long = {
    val h = scala.util.hashing.MurmurHash3.stringHash(s"$kind:$name")
    (h & 0x7fffffffL) max 1L
  }

  /** The pg type OIDs [[PgWire.pgType]] emits, as pg_type rows:
    * (oid, typname, typlen, typcategory, typelem, typarray, typinput).
    * pgjdbc's type cache SELECTs these columns (plus joins to
    * pg_namespace via typnamespace).
    */
  private val pgTypes: Seq[(Long, String, Int, String, Long, Long, String)] = Seq(
    (16L, "bool", 1, "B", 0L, 1000L, "boolin"),
    (17L, "bytea", -1, "U", 0L, 1001L, "byteain"),
    (19L, "name", 64, "S", 0L, 1003L, "namein"),
    (20L, "int8", 8, "N", 0L, 1016L, "int8in"),
    (21L, "int2", 2, "N", 0L, 1005L, "int2in"),
    (23L, "int4", 4, "N", 0L, 1007L, "int4in"),
    (25L, "text", -1, "S", 0L, 1009L, "textin"),
    (26L, "oid", 4, "N", 0L, 1028L, "oidin"),
    (700L, "float4", 4, "N", 0L, 1021L, "float4in"),
    (701L, "float8", 8, "N", 0L, 1022L, "float8in"),
    (1042L, "bpchar", -1, "S", 0L, 1014L, "bpcharin"),
    (1043L, "varchar", -1, "S", 0L, 1015L, "varcharin"),
    (1082L, "date", 4, "D", 0L, 1182L, "date_in"),
    (1114L, "timestamp", 8, "D", 0L, 1115L, "timestamp_in"),
    (1184L, "timestamptz", 8, "D", 0L, 1185L, "timestamptz_in"),
    (1700L, "numeric", -1, "N", 0L, 1231L, "numeric_in"),
    // array types (typelem points back; typinput = array_in is how
    // pgjdbc's type cache distinguishes arrays)
    (1000L, "_bool", -1, "A", 16L, 0L, "array_in"),
    (1007L, "_int4", -1, "A", 23L, 0L, "array_in"),
    (1009L, "_text", -1, "A", 25L, 0L, "array_in"),
    (1016L, "_int8", -1, "A", 20L, 0L, "array_in"),
    (1022L, "_float8", -1, "A", 701L, 0L, "array_in"))

  private val pgCatalogOid = oidOf("ns", "pg_catalog")

  /** The pg type name `format_type(oid, typmod)` renders. */
  private def typeNameOf(oid: Long): String =
    pgTypes.find(_._1 == oid).map(_._2).getOrElse("text")

  /** Human spelling pg uses in `\d` output (format_type renders these,
    * not the internal typname).
    */
  private def formatTypeName(oid: Long, typmod: Int): String = oid match {
    case 16 => "boolean"
    case 20 => "bigint"
    case 21 => "smallint"
    case 23 => "integer"
    case 700 => "real"
    case 701 => "double precision"
    case 1082 => "date"
    case 1114 => "timestamp without time zone"
    case 1184 => "timestamp with time zone"
    case 1700 =>
      if (typmod >= 4) s"numeric(${(typmod - 4) >> 16},${(typmod - 4) & 0xffff})"
      else "numeric"
    case 1043 =>
      if (typmod >= 4) s"character varying(${typmod - 4})" else "character varying"
    case _ => typeNameOf(oid)
  }

  /** Register the scalar shims into `session`'s function registry.
    * Once per connection (PgWire calls it at session setup);
    * `pg_backend_pid` closes over the connection's pid so a client
    * correlates its own BackendKeyData.
    */
  def registerFunctions(session: SparkSession, user: String, pid: Int): Unit = {
    val udf = session.udf
    udf.register("version",
      () => "PostgreSQL 15.4 (graft engine, Apache Spark " +
        session.version + ")")
    // pg's current_database() names the DATABASE (the endpoint serves
    // one); the schema question is current_schema(). Spark's builtin
    // conflates them — the pg persona separates them.
    udf.register("current_database", () => "graft")
    udf.register("pg_backend_pid", () => pid)
    udf.register("pg_get_userbyid", (_: Long) => user)
    udf.register("current_user_shim", () => user)
    // visibility: Spark resolves unqualified names against the current
    // database + temp views — no search-path shadowing exists, so every
    // catalog object is visible
    udf.register("pg_table_is_visible", (_: Long) => true)
    udf.register("pg_type_is_visible", (_: Long) => true)
    udf.register("pg_function_is_visible", (_: Long) => true)
    // obj_description / col_description re-register inside [[ensure]]
    // with the live comment maps; these are the pre-first-introspection
    // fallbacks (shared objects carry no comments here)
    udf.register("obj_description",
      (_: Long, _: String) => null.asInstanceOf[String])
    udf.register("col_description",
      (_: Long, _: Int) => null.asInstanceOf[String])
    udf.register("shobj_description",
      (_: Long, _: String) => null.asInstanceOf[String])
    // single authenticated engine user → privileges are uniformly held
    udf.register("has_schema_privilege", (_: String, _: String) => true)
    udf.register("has_table_privilege", (_: String, _: String) => true)
    udf.register("has_database_privilege", (_: String, _: String) => true)
    udf.register("format_type", (oid: Long, typmod: Int) =>
      formatTypeName(oid, typmod))
    // column defaults/generation expressions don't exist here
    udf.register("pg_get_expr_shim",
      (_: String, _: Long) => null.asInstanceOf[String])
    udf.register("pg_encoding_to_char", (_: Int) => "UTF8")
    udf.register("pg_total_relation_size", (_: Long) => 0L)
    udf.register("pg_get_partkeydef", (_: Long) => null.asInstanceOf[String])
    udf.register("pg_get_statisticsobjdef_columns",
      (_: Long) => null.asInstanceOf[String])
    udf.register("quote_ident", (s: String) => "\"" + s.replace("\"", "\"\"") + "\"")
    udf.register("set_config", (_: String, v: String, _: Boolean) => v)
    // UDF bodies run on executors — close over the NAME, not the session
    val curDb = session.catalog.currentDatabase
    udf.register("current_schemas", (includeImplicit: Boolean) =>
      if (includeImplicit) Array("pg_catalog", curDb) else Array(curDb))
    udf.register("txid_current", () => 0L)
    udf.register("array_to_string",
      (a: scala.collection.Seq[String], sep: String) =>
        if (a == null) null else a.mkString(sep))
    // 'name'::regclass resolves a relation name to its oid in pg; the
    // rewrite funnels it here. Names we never listed (pg's own catalog
    // tables) get a stable never-matching oid — same observable result
    // as pg's empty description joins.
    udf.register("regclass_oid", (name: String) =>
      oidOf("cls", if (name.contains('.')) name else s"pg_catalog.$name"))
  }

  /** (Re)build the pg_catalog temp views from the live `spark.catalog`.
    * Driver-side metadata only: listDatabases/listTables/listColumns —
    * the cost is the catalog's size, never the data's. PgWire calls
    * this before any statement that references a `pg_` table, so
    * clients see DDL that happened after connect.
    */
  def ensure(session: SparkSession): Unit = {
    import scala.jdk.CollectionConverters._
    val sc = session.catalog

    // ---- pg_namespace: one row per Spark database + the two schemas
    // every pg client assumes exist
    val dbs = sc.listDatabases().collect().map(_.name).toSeq
    val gtdb = session.conf.get("spark.sql.globalTempDatabase", "global_temp")
    val nsRows = (dbs ++ Seq(gtdb, "pg_catalog", "information_schema"))
      .distinct.map { db =>
        Row(oidOf("ns", db), db, 10L, null.asInstanceOf[String])
      }
    val nsSchema = StructType(Seq(
      StructField("oid", LongType), StructField("nspname", StringType),
      StructField("nspowner", LongType), StructField("nspacl", StringType)))
    session.createDataFrame(nsRows.asJava, nsSchema)
      .createOrReplaceTempView("pg_namespace")

    // ---- pass 1: gather every relation's shape + (for commitlog catalog
    // tables) its declared constraints and comments — all driver-side
    // catalog metadata, never data I/O
    final case class RelInfo(db: String, name: String, kind: String,
        fields: Array[StructField], comment: Option[String],
        colComments: Map[String, String], root: Option[String],
        props: Map[String, String], checks: Map[String, String]) {
      val relOid: Long = oidOf("cls", s"$db.$name")
      def attnum(col: String): Option[Int] = {
        val r = session.sessionState.conf.resolver
        val i = fields.indexWhere(f => r(f.name, col))
        if (i < 0) None else Some(i + 1)
      }
    }
    val rels = Seq.newBuilder[RelInfo]
    def addRel(db: String, name: String, kind: String,
        schema: => StructType, meta: Option[
          org.apache.spark.sql.catalyst.catalog.CatalogTable]): Unit = {
      val fields =
        try schema.fields
        catch { case scala.util.control.NonFatal(_) => Array.empty[StructField] }
      val root = meta.flatMap(graft.sources.commitlog.CommitLogRelation.catalogRoot)
      val (props, checks) = root match {
        case Some(r) =>
          try {
            val v = graft.sources.CommitLog.currentVersion(r)
            val checks = v.map(vv => graft.sources.CommitLog
              .readManifest(r, vv).constraintsOrEmpty).getOrElse(Map.empty)
            (graft.sources.CommitLog.tablePropertiesOf(r), checks)
          } catch { case scala.util.control.NonFatal(_) =>
            (Map.empty[String, String], Map.empty[String, String]) }
        case None => (Map.empty[String, String], Map.empty[String, String])
      }
      // column comments live in the CATALOG schema (ALTER COLUMN
      // COMMENT), not the relation's manifest-derived schema — overlay
      val colCms = meta.map(_.schema.fields.flatMap(f =>
        f.getComment().map(f.name -> _)).toMap).getOrElse(Map.empty)
      rels += RelInfo(db, name, kind, fields, meta.flatMap(_.comment),
        colCms, root, props, checks)
    }
    val currentDb = sc.currentDatabase
    dbs.foreach { db =>
      sc.listTables(db).collect().foreach { t =>
        // listTables(db) repeats session temp views (tableType TEMPORARY,
        // database null) for every db — emit them once, under currentDb
        val isTemp = t.tableType == "TEMPORARY" || t.database == null
        if (!isTemp || db == currentDb) {
          val relDb = if (isTemp) currentDb else t.database
          val kind = if (t.tableType == "MANAGED" || t.tableType == "EXTERNAL") "r" else "v"
          val meta =
            if (isTemp) None
            else try Some(session.sessionState.catalog.getTableMetadata(
              org.apache.spark.sql.catalyst.TableIdentifier(t.name, Some(relDb))))
            catch { case scala.util.control.NonFatal(_) => None }
          addRel(relDb, t.name, kind, {
            val qualified =
              if (isTemp) s"`${t.name}`" else s"`$relDb`.`${t.name}`"
            session.table(qualified).schema
          }, meta)
        }
      }
    }
    // global temp views live in their own reserved namespace
    try sc.listTables(gtdb).collect().foreach { t =>
      if (t.database == gtdb)
        addRel(gtdb, t.name, "v",
          session.table(s"`$gtdb`.`${t.name}`").schema, None)
    } catch { case scala.util.control.NonFatal(_) => } // none registered yet

    // ---- pass 2: emit the catalog rows. Constraint rows come from the
    // engine's OWN declared-and-validated metadata: `constraint.pk` /
    // `constraint.fk.<col> = <dimRoot>::<pkCol>` table properties (RELY
    // constraints, q149) and manifest CHECK constraints — rendered the
    // way pg renders them (contype 'p'/'f'/'c', conkey/confkey attribute
    // numbers, a pg_class row of relkind 'i' per PK index) so pgjdbc's
    // getPrimaryKeys/getImportedKeys and Metabase's relationship sync
    // see real keys instead of structurally-empty catalogs.
    val allRels = rels.result()
    val rootToRel: Map[String, RelInfo] =
      allRels.flatMap(r => r.root.map(_ -> r)).toMap
    val clsRows = Seq.newBuilder[Row]
    val attRows = Seq.newBuilder[Row]
    val idxRows = Seq.newBuilder[Row]
    val conRows = Seq.newBuilder[Row]
    val descRows = Seq.newBuilder[Row]
    val isTabRows = Seq.newBuilder[Row] // information_schema.tables
    val isColRows = Seq.newBuilder[Row] // information_schema.columns
    val isTcRows = Seq.newBuilder[Row]  // …table_constraints
    val isKcuRows = Seq.newBuilder[Row] // …key_column_usage
    val isRcRows = Seq.newBuilder[Row]  // …referential_constraints
    val conDefs = scala.collection.mutable.Map.empty[Long, String]
    val idxDefs = scala.collection.mutable.Map.empty[Long, (String, Seq[String], String)]
    def pkIndexOid(r: RelInfo): Long = oidOf("idx", s"${r.db}.${r.name}_pkey")
    def pkCols(r: RelInfo): Seq[String] =
      r.props.get("constraint.pk").toSeq.flatMap(_.split(","))
        .map(_.trim).filter(_.nonEmpty)
    allRels.foreach { r =>
      val pk = pkCols(r)
      val checks = r.checks.toSeq.sortBy(_._1)
      clsRows += Row(r.relOid, r.name, oidOf("ns", r.db), 0L, 10L, 0L, 0L, 0L,
        0L, 0.0, 0L, 0L, pk.nonEmpty, false, "p", r.kind, r.fields.length,
        checks.size, false, false, false, false, true, "d", false, 0L,
        null.asInstanceOf[String], null.asInstanceOf[String])
      isTabRows += Row("graft", r.db, r.name,
        if (r.kind == "r") "BASE TABLE" else "VIEW")
      r.comment.foreach { cm =>
        descRows += Row(r.relOid, oidOf("cls", "pg_catalog.pg_class"), 0, cm)
      }
      r.fields.zipWithIndex.foreach { case (f, i) =>
        val (oid, tlen) = PgWire.pgType(f.dataType)
        attRows += Row(r.relOid, f.name, oid.toLong, -1, tlen, i + 1,
          !f.nullable, false, -1, false, "", "", 0L,
          null.asInstanceOf[String])
        isColRows += Row("graft", r.db, r.name, f.name, i + 1,
          if (f.nullable) "YES" else "NO", formatTypeName(oid.toLong, -1),
          typeNameOf(oid.toLong), null.asInstanceOf[String])
        f.getComment().orElse(r.colComments.get(f.name)).foreach { cm =>
          descRows += Row(r.relOid, oidOf("cls", "pg_catalog.pg_class"),
            i + 1, cm)
        }
      }
      // PRIMARY KEY → pg_index row + an index pg_class row + 'p' constraint
      if (pk.nonEmpty && pk.forall(c => r.attnum(c).isDefined)) {
        val idxName = s"${r.name}_pkey"
        val idxOid = pkIndexOid(r)
        val conOid = oidOf("con", s"${r.db}.${r.name}.$idxName")
        val keyNums = pk.flatMap(r.attnum)
        clsRows += Row(idxOid, idxName, oidOf("ns", r.db), 0L, 10L, 403L, 0L,
          0L, 0L, 0.0, 0L, 0L, false, false, "p", "i", keyNums.length, 0,
          false, false, false, false, true, "d", false, 0L,
          null.asInstanceOf[String], null.asInstanceOf[String])
        idxRows += Row(idxOid, r.relOid, true, true, false, true, false,
          keyNums, keyNums.length, keyNums.length)
        conRows += Row(conOid, idxName, oidOf("ns", r.db), "p", r.relOid,
          0L, keyNums, null.asInstanceOf[Seq[Int]], false, false, true, 0L,
          idxOid, null.asInstanceOf[String], null.asInstanceOf[String],
          null.asInstanceOf[String])
        conDefs(conOid) = s"PRIMARY KEY (${pk.mkString(", ")})"
        idxDefs(idxOid) = (idxName, pk, s"${r.db}.${r.name}")
        isTcRows += Row("graft", r.db, idxName, "graft", r.db, r.name,
          "PRIMARY KEY", "NO", "NO")
        pk.zipWithIndex.foreach { case (c, i) =>
          isKcuRows += Row("graft", r.db, idxName, "graft", r.db, r.name,
            c, i + 1, null.asInstanceOf[Integer])
        }
      }
      // FOREIGN KEYS → 'f' constraints referencing the pk index of the
      // dim table (skipped when the referenced root has no catalog name —
      // pg clients join confrelid to pg_class, a dangling oid helps no one)
      r.props.toSeq.sortBy(_._1).foreach {
        case (k, v) if k.startsWith("constraint.fk.") &&
            !k.endsWith(".v") && !k.endsWith(".dimv") =>
          val fkCol = k.stripPrefix("constraint.fk.")
          val sep = v.lastIndexOf("::")
          if (sep > 0) {
            val dimRoot = v.substring(0, sep)
            val pkCol = v.substring(sep + 2)
            (rootToRel.get(dimRoot), r.attnum(fkCol)) match {
              case (Some(dim), Some(fkNum)) if dim.attnum(pkCol).isDefined =>
                val conName = s"${r.name}_${fkCol}_fkey"
                val conOid = oidOf("con", s"${r.db}.${r.name}.$conName")
                conRows += Row(conOid, conName, oidOf("ns", r.db), "f",
                  r.relOid, dim.relOid, Seq(fkNum),
                  Seq(dim.attnum(pkCol).get), false, false, true, 0L,
                  pkIndexOid(dim), "a", "a", "s")
                conDefs(conOid) =
                  s"FOREIGN KEY ($fkCol) REFERENCES ${dim.name}($pkCol)"
                isTcRows += Row("graft", r.db, conName, "graft", r.db,
                  r.name, "FOREIGN KEY", "NO", "NO")
                isKcuRows += Row("graft", r.db, conName, "graft", r.db,
                  r.name, fkCol, 1, Integer.valueOf(1))
                isRcRows += Row("graft", r.db, conName, "graft", dim.db,
                  s"${dim.name}_pkey", "NONE", "NO ACTION", "NO ACTION")
              case _ =>
            }
          }
        case _ =>
      }
      // CHECK constraints → 'c' rows (definition via pg_get_constraintdef)
      checks.foreach { case (cn, expr) =>
        val conOid = oidOf("con", s"${r.db}.${r.name}.$cn")
        conRows += Row(conOid, cn, oidOf("ns", r.db), "c", r.relOid, 0L,
          null.asInstanceOf[Seq[Int]], null.asInstanceOf[Seq[Int]],
          false, false, true, 0L, 0L, null.asInstanceOf[String],
          null.asInstanceOf[String], null.asInstanceOf[String])
        conDefs(conOid) = s"CHECK ($expr)"
        isTcRows += Row("graft", r.db, cn, "graft", r.db, r.name,
          "CHECK", "NO", "NO")
      }
    }
    val clsSchema = StructType(Seq(
      StructField("oid", LongType), StructField("relname", StringType),
      StructField("relnamespace", LongType), StructField("reloftype", LongType),
      StructField("relowner", LongType), StructField("relam", LongType),
      StructField("relfilenode", LongType), StructField("reltablespace", LongType),
      StructField("relpages", LongType), StructField("reltuples", DoubleType),
      StructField("relallvisible", LongType), StructField("reltoastrelid", LongType),
      StructField("relhasindex", BooleanType), StructField("relisshared", BooleanType),
      StructField("relpersistence", StringType), StructField("relkind", StringType),
      StructField("relnatts", IntegerType), StructField("relchecks", IntegerType),
      StructField("relhasrules", BooleanType), StructField("relhastriggers", BooleanType),
      StructField("relrowsecurity", BooleanType),
      StructField("relforcerowsecurity", BooleanType),
      StructField("relispopulated", BooleanType), StructField("relreplident", StringType),
      StructField("relispartition", BooleanType), StructField("relrewrite", LongType),
      StructField("relacl", StringType), StructField("reloptions", StringType)))
    session.createDataFrame(clsRows.result().asJava, clsSchema)
      .createOrReplaceTempView("pg_class")

    val attSchema = StructType(Seq(
      StructField("attrelid", LongType), StructField("attname", StringType),
      StructField("atttypid", LongType), StructField("attstattarget", IntegerType),
      StructField("attlen", IntegerType), StructField("attnum", IntegerType),
      StructField("attnotnull", BooleanType), StructField("atthasdef", BooleanType),
      StructField("atttypmod", IntegerType), StructField("attisdropped", BooleanType),
      StructField("attidentity", StringType), StructField("attgenerated", StringType),
      StructField("attcollation", LongType), StructField("attacl", StringType)))
    session.createDataFrame(attRows.result().asJava, attSchema)
      .createOrReplaceTempView("pg_attribute")

    // ---- pg_type: the static OID dictionary the wire renders with
    val tySchema = StructType(Seq(
      StructField("oid", LongType), StructField("typname", StringType),
      StructField("typnamespace", LongType), StructField("typowner", LongType),
      StructField("typlen", IntegerType), StructField("typbyval", BooleanType),
      StructField("typtype", StringType), StructField("typcategory", StringType),
      StructField("typisdefined", BooleanType), StructField("typdelim", StringType),
      StructField("typrelid", LongType), StructField("typelem", LongType),
      StructField("typarray", LongType), StructField("typinput", StringType),
      StructField("typnotnull", BooleanType), StructField("typbasetype", LongType),
      StructField("typtypmod", IntegerType), StructField("typndims", IntegerType),
      StructField("typcollation", LongType),
      StructField("typdefault", StringType)))
    val tyRows = pgTypes.map { case (oid, name, len, cat, elem, arr, input) =>
      Row(oid, name, pgCatalogOid, 10L, len, len > 0 && len <= 8,
        "b", cat, true, ",", 0L, elem, arr, input, false, 0L, -1, 0, 0L,
        null.asInstanceOf[String])
    }
    session.createDataFrame(tyRows.asJava, tySchema)
      .createOrReplaceTempView("pg_type")

    // ---- pg_database: the single served database
    val dbSchema = StructType(Seq(
      StructField("oid", LongType), StructField("datname", StringType),
      StructField("datdba", LongType), StructField("encoding", IntegerType),
      StructField("datcollate", StringType), StructField("datctype", StringType),
      StructField("datistemplate", BooleanType),
      StructField("datallowconn", BooleanType),
      // no per-object ACLs → NULL (array-typed: \l feeds it to
      // array_to_string)
      StructField("datacl", ArrayType(StringType))))
    session.createDataFrame(Seq(
      Row(oidOf("db", "graft"), "graft", 10L, 6, "C", "C", false, true,
        null)).asJava,
      dbSchema).createOrReplaceTempView("pg_database")

    // ---- pg_roles: the single engine user
    val roleSchema = StructType(Seq(
      StructField("oid", LongType), StructField("rolname", StringType),
      StructField("rolsuper", BooleanType), StructField("rolcanlogin", BooleanType)))
    session.createDataFrame(
      Seq(Row(10L, "graft", true, true)).asJava, roleSchema)
      .createOrReplaceTempView("pg_roles")

    // ---- pg_index / pg_constraint / pg_description: REAL rows from the
    // engine's declared constraints and catalog comments (r12 — pgjdbc's
    // getPrimaryKeys/getImportedKeys and psql's \d constraint batteries
    // read these; they were structurally empty before)
    session.createDataFrame(idxRows.result().asJava, StructType(Seq(
      StructField("indexrelid", LongType), StructField("indrelid", LongType),
      StructField("indisprimary", BooleanType), StructField("indisunique", BooleanType),
      StructField("indisclustered", BooleanType), StructField("indisvalid", BooleanType),
      StructField("indisreplident", BooleanType),
      StructField("indkey", ArrayType(IntegerType)),
      StructField("indnatts", IntegerType),
      StructField("indnkeyatts", IntegerType))))
      .createOrReplaceTempView("pg_index")
    session.createDataFrame(conRows.result().asJava, StructType(Seq(
      StructField("oid", LongType), StructField("conname", StringType),
      StructField("connamespace", LongType), StructField("contype", StringType),
      StructField("conrelid", LongType), StructField("confrelid", LongType),
      StructField("conkey", ArrayType(IntegerType)),
      StructField("confkey", ArrayType(IntegerType)),
      StructField("condeferrable", BooleanType), StructField("condeferred", BooleanType),
      StructField("convalidated", BooleanType), StructField("conparentid", LongType),
      StructField("conindid", LongType),
      StructField("confupdtype", StringType),
      StructField("confdeltype", StringType),
      StructField("confmatchtype", StringType))))
      .createOrReplaceTempView("pg_constraint")
    val descAll = descRows.result()
    session.createDataFrame(descAll.asJava, StructType(Seq(
      StructField("objoid", LongType), StructField("classoid", LongType),
      StructField("objsubid", IntegerType), StructField("description", StringType))))
      .createOrReplaceTempView("pg_description")

    // def-rendering + description shims need THIS ensure's maps — UDFs
    // re-register per refresh so a new constraint/comment is visible to
    // the very next introspection query
    val conDefMap = conDefs.toMap
    val idxDefMap = idxDefs.toMap
    val tblComments: Map[Long, String] = descAll
      .collect { case Row(o: Long, _, 0, d: String) => o -> d }.toMap
    val colComments: Map[(Long, Int), String] = descAll
      .collect { case Row(o: Long, _, n: Int, d: String) if n != 0 =>
        (o, n) -> d }.toMap
    session.udf.register("pg_get_constraintdef_shim",
      (oid: Long) => conDefMap.get(oid).orNull)
    session.udf.register("pg_get_indexdef_shim", (oid: Long, col: Int) =>
      idxDefMap.get(oid).map { case (idxName, cols, table) =>
        if (col > 0) cols.lift(col - 1).orNull
        else s"CREATE UNIQUE INDEX $idxName ON $table " +
          s"(${cols.mkString(", ")})"
      }.orNull)
    session.udf.register("obj_description",
      (oid: Long, _: String) => tblComments.get(oid).orNull)
    session.udf.register("col_description",
      (oid: Long, n: Int) => colComments.get((oid, n)).orNull)
    // pg's SRF `_pg_expandarray(a)` = rows of (x = element, n = 1-based
    // position); the rewrite lowers calls to explode() over this array
    session.udf.register("_pg_expandarray", (a: Seq[Int]) =>
      if (a == null) Seq.empty[PgExpanded]
      else a.zipWithIndex.map { case (v, i) => PgExpanded(v, i + 1) })

    def empty(name: String, schema: StructType): Unit =
      session.createDataFrame(Seq.empty[Row].asJava, schema)
        .createOrReplaceTempView(name)
    empty("pg_attrdef", StructType(Seq(
      StructField("oid", LongType), StructField("adrelid", LongType),
      StructField("adnum", IntegerType), StructField("adbin", StringType))))
    empty("pg_am", StructType(Seq(
      StructField("oid", LongType), StructField("amname", StringType),
      StructField("amtype", StringType))))
    empty("pg_inherits", StructType(Seq(
      StructField("inhrelid", LongType), StructField("inhparent", LongType),
      StructField("inhseqno", IntegerType))))
    empty("pg_policy", StructType(Seq(
      StructField("oid", LongType), StructField("polname", StringType),
      StructField("polrelid", LongType))))
    empty("pg_statistic_ext", StructType(Seq(
      StructField("oid", LongType), StructField("stxrelid", LongType),
      StructField("stxname", StringType), StructField("stxnamespace", LongType))))
    empty("pg_publication", StructType(Seq(
      StructField("oid", LongType), StructField("pubname", StringType))))
    empty("pg_proc", StructType(Seq(
      StructField("oid", LongType), StructField("proname", StringType),
      StructField("pronamespace", LongType), StructField("prorettype", LongType),
      StructField("proargtypes", StringType), StructField("prokind", StringType))))
    empty("pg_collation", StructType(Seq(
      StructField("oid", LongType), StructField("collname", StringType),
      StructField("collnamespace", LongType))))

    // ---- information_schema: the OTHER introspection dialect (SQL
    // standard; Metabase's sync and many ORMs read it instead of
    // pg_catalog). Views are registered under information_schema_<name>;
    // [[rewrite]] maps the qualified references.
    session.createDataFrame(
      (dbs ++ Seq(gtdb, "pg_catalog", "information_schema")).distinct
        .map(db => Row("graft", db, "graft")).asJava,
      StructType(Seq(
        StructField("catalog_name", StringType),
        StructField("schema_name", StringType),
        StructField("schema_owner", StringType))))
      .createOrReplaceTempView("information_schema_schemata")
    session.createDataFrame(isTabRows.result().asJava, StructType(Seq(
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("table_type", StringType)))
    ).createOrReplaceTempView("information_schema_tables")
    session.createDataFrame(isColRows.result().asJava, StructType(Seq(
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("column_name", StringType),
      StructField("ordinal_position", IntegerType),
      StructField("is_nullable", StringType),
      StructField("data_type", StringType),
      StructField("udt_name", StringType),
      StructField("column_default", StringType)))
    ).createOrReplaceTempView("information_schema_columns")
    // the SQL-standard constraint views (Metabase's sync reads these)
    session.createDataFrame(isTcRows.result().asJava, StructType(Seq(
      StructField("constraint_catalog", StringType),
      StructField("constraint_schema", StringType),
      StructField("constraint_name", StringType),
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("constraint_type", StringType),
      StructField("is_deferrable", StringType),
      StructField("initially_deferred", StringType)))
    ).createOrReplaceTempView("information_schema_table_constraints")
    session.createDataFrame(isKcuRows.result().asJava, StructType(Seq(
      StructField("constraint_catalog", StringType),
      StructField("constraint_schema", StringType),
      StructField("constraint_name", StringType),
      StructField("table_catalog", StringType),
      StructField("table_schema", StringType),
      StructField("table_name", StringType),
      StructField("column_name", StringType),
      StructField("ordinal_position", IntegerType),
      StructField("position_in_unique_constraint", IntegerType)))
    ).createOrReplaceTempView("information_schema_key_column_usage")
    session.createDataFrame(isRcRows.result().asJava, StructType(Seq(
      StructField("constraint_catalog", StringType),
      StructField("constraint_schema", StringType),
      StructField("constraint_name", StringType),
      StructField("unique_constraint_catalog", StringType),
      StructField("unique_constraint_schema", StringType),
      StructField("unique_constraint_name", StringType),
      StructField("match_option", StringType),
      StructField("update_rule", StringType),
      StructField("delete_rule", StringType)))
    ).createOrReplaceTempView("information_schema_referential_constraints")
  }

  /** Run `f` with `spark.sql.ansi.enabled=false` when (and only when)
    * `sql` is a catalog-introspection statement, restoring the prior
    * value after. pg types a bare '' literal as UNKNOWN and coerces it
    * in context (psql's `\d` sends `CASE WHEN … THEN '' ELSE oid::text
    * END`); Spark's ANSI mode instead hard-casts the literal to the
    * other branch's type and throws CAST_INVALID_INPUT. Legacy coercion
    * IS pg's behavior for those queries — but ONLY for them: a
    * session-wide flip (the r11 shape) silently gave every client
    * statement wrapping integer overflow and NULL-returning casts,
    * diverging from both the engine's native ANSI results and real
    * Postgres (which errors). ANSI choices are largely BAKED at
    * analysis (cast eval modes, coercion rules), so callers must both
    * plan AND materialize catalog statements inside the scope —
    * introspection results are catalog-sized, so an eager collect is
    * driver-safe at any data scale.
    */
  def withAnsiScope[A](session: SparkSession, sql: String)(f: => A): A =
    if (!touchesCatalog(sql)) f
    else {
      val key = "spark.sql.ansi.enabled"
      val prev = session.conf.getOption(key)
      session.conf.set(key, "false")
      try f
      finally prev match {
        case Some(v) => session.conf.set(key, v)
        case None => session.conf.unset(key)
      }
    }

  /** True when the statement needs the catalog views refreshed before
    * it runs.
    */
  def touchesCatalog(sql: String): Boolean = {
    val l = sql.toLowerCase(java.util.Locale.ROOT)
    // both spellings: the raw pg form (information_schema.tables) and
    // the REWRITTEN temp-view form (information_schema_tables) — the
    // extended protocol stores rewritten text at Parse, and Describe/
    // Execute re-check THAT when deciding whether to refresh the views
    l.contains("pg_catalog") || l.contains("information_schema") ||
      l.contains("pg_class") ||
      l.contains("pg_namespace") || l.contains("pg_attribute") ||
      l.contains("pg_type") || l.contains("pg_database") ||
      l.contains("pg_roles") || l.contains("pg_index") ||
      l.contains("pg_constraint") || l.contains("pg_attrdef") ||
      l.contains("pg_description") || l.contains("pg_am") ||
      l.contains("pg_proc") || l.contains("pg_inherits") ||
      l.contains("pg_policy") || l.contains("pg_statistic_ext") ||
      l.contains("pg_publication") || l.contains("pg_collation")
  }

  /** True when the statement contains a pg spelling Spark's parser
    * rejects — the gate that keeps normal engine SQL from ever paying
    * the rewrite.
    */
  def needsRewrite(sql: String): Boolean =
    sql.contains("pg_catalog.") || sql.contains("::") ||
      sql.contains("~") || sql.contains("OPERATOR(") ||
      sql.toUpperCase(java.util.Locale.ROOT).contains("COLLATE") ||
      sql.contains("pg_get_expr") || sql.contains("current_user") ||
      sql.contains("information_schema.") || sql.contains("\"") ||
      sql.contains("_pg_expandarray") ||
      sql.toUpperCase(java.util.Locale.ROOT).trim.startsWith("COMMENT ON ")

  /** pg dialect → Spark SQL, string-level. Single-quoted strings are
    * preserved verbatim (the rewrites run segment-wise between quotes),
    * so a literal containing `::` or `~` is safe. Double-quoted tokens
    * become BACKTICK identifiers — pg's rule, always (psql aliases
    * every `\d` column as `"Name"`); through this endpoint double
    * quotes never mean a string, exactly as on a real pg socket.
    */
  def rewrite(sql0: String): String = {
    // COMMENT ON TABLE/COLUMN → Spark's own comment DDL (pg clients and
    // humans write the pg spelling; the comments land in catalog
    // metadata, which ensure() renders back through pg_description)
    commentOnRewrite(sql0) match {
      case Some(translated) => return translated
      case None =>
    }
    // pre-pass across quote boundaries: 'name'::regclass is a
    // name→oid LOOKUP in pg, not a cast — funnel it to the shim (the
    // only rewrite whose pattern spans a string literal)
    val sql1 = sql0.replaceAll(
      "'([\\w.]+)'\\s*::\\s*(pg_catalog\\.)?regclass\\b", "regclass_oid('$1')")
    // SRF lowering spans segments (it inserts a LATERAL VIEW clause
    // before the enclosing subquery's WHERE) — run it before the
    // segment-wise pass
    val sql = rewriteExpandArray(sql1)
    // split into quoted and unquoted segments; rewrite only unquoted
    val out = new java.lang.StringBuilder()
    var i = 0
    val n = sql.length
    val seg = new java.lang.StringBuilder()
    var state = 0 // 0 plain, 1 'str', 2 "ident"
    def flushPlain(): Unit = { out.append(rewriteSegment(seg.toString)); seg.setLength(0) }
    while (i < n) {
      val c = sql.charAt(i)
      state match {
        case 0 =>
          if (c == '\'') {
            // pg escape-string literals: a standalone E/e immediately
            // before the opening quote (psql's `\l` ACL separator
            // E'\n') drops — the payload travels as a plain literal.
            // Decided HERE, where quote context is certain: an E inside
            // a string can never match, and `CASE'x'`/identifiers
            // ending in E keep their E (word-interior).
            val L = seg.length
            if (L > 0 && (seg.charAt(L - 1) == 'E' || seg.charAt(L - 1) == 'e') &&
                (L == 1 || !Character.isLetterOrDigit(seg.charAt(L - 2)) &&
                  seg.charAt(L - 2) != '_'))
              seg.setLength(L - 1)
            flushPlain(); out.append(c); state = 1
          }
          else if (c == '"') { flushPlain(); out.append('`'); state = 2 }
          else seg.append(c)
        case 1 =>
          out.append(c)
          if (c == '\'') {
            if (i + 1 < n && sql.charAt(i + 1) == '\'') { out.append('\''); i += 1 }
            else state = 0
          }
        case 2 =>
          if (c == '"') {
            if (i + 1 < n && sql.charAt(i + 1) == '"') {
              out.append('"'); i += 1 // pg's "" escape = a literal quote
            } else { out.append('`'); state = 0 }
          } else if (c == '`') out.append("``") // escape for Spark
          else out.append(c)
      }
      i += 1
    }
    flushPlain()
    out.toString
  }

  private val CommentTableRe =
    """(?is)^\s*COMMENT\s+ON\s+TABLE\s+((?:"[^"]+"|[\w.])+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$""".r
  private val CommentColumnRe =
    """(?is)^\s*COMMENT\s+ON\s+COLUMN\s+((?:"[^"]+"|[\w.])+)\.((?:"[^"]+")|\w+)\s+IS\s+('(?:[^']|'')*'|NULL)\s*;?\s*$""".r

  private def pgIdentToSpark(ident: String): String =
    ident.split("\\.").map { p =>
      val bare = if (p.length >= 2 && p.head == '"' && p.last == '"')
        p.substring(1, p.length - 1).replace("\"\"", "\"") else p
      if (bare.matches("[A-Za-z0-9_]+")) bare
      else s"`${bare.replace("`", "``")}`"
    }.mkString(".")

  /** pg's COMMENT ON → Spark comment DDL: COMMENT ON TABLE becomes the
    * table-properties comment, COMMENT ON COLUMN becomes ALTER COLUMN
    * COMMENT. `IS NULL` clears. Returns None for non-COMMENT statements.
    */
  private[tools] def commentOnRewrite(sql: String): Option[String] = sql match {
    case CommentTableRe(ident, value) =>
      val t = pgIdentToSpark(ident)
      Some(
        if (value.equalsIgnoreCase("NULL"))
          s"ALTER TABLE $t UNSET TBLPROPERTIES IF EXISTS ('comment')"
        else s"ALTER TABLE $t SET TBLPROPERTIES ('comment' = $value)")
    case CommentColumnRe(ident, colIdent, value) =>
      val t = pgIdentToSpark(ident)
      val c = pgIdentToSpark(colIdent)
      val v = if (value.equalsIgnoreCase("NULL")) "''" else value
      Some(s"ALTER TABLE $t ALTER COLUMN $c COMMENT $v")
    case _ => None
  }

  /** Lower pg's set-returning `information_schema._pg_expandarray(E)` to
    * Spark: every occurrence (field-dereferenced or bare) becomes a
    * reference to ONE generator column, and a `LATERAL VIEW
    * explode(_pg_expandarray(E))` clause is inserted before the
    * enclosing subquery's WHERE — pg's lockstep-SRF semantics (identical
    * calls expand once, multiplying the row). This is exactly the shape
    * pgjdbc's getPrimaryKeys emits; anything more exotic (distinct args
    * at different paren depths) is refused loudly rather than silently
    * mis-joined.
    */
  private[tools] def rewriteExpandArray(sql: String): String = {
    val call = "information_schema._pg_expandarray("
    val at0 = sql.toLowerCase(java.util.Locale.ROOT).indexOf(call)
    if (at0 < 0) return sql
    // collect (start, endExclusive, argText) of every call occurrence
    val lower = sql.toLowerCase(java.util.Locale.ROOT)
    val occ = Seq.newBuilder[(Int, Int, String)]
    var i = 0
    while (i >= 0 && i < sql.length) {
      val at = lower.indexOf(call, i)
      if (at < 0) i = -1
      else {
        var depth = 1
        var j = at + call.length
        while (j < sql.length && depth > 0) {
          val c = sql.charAt(j)
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          j += 1
        }
        occ += ((at, j, sql.substring(at + call.length, j - 1).trim))
        i = j
      }
    }
    val all = occ.result()
    val args = all.map(_._3).distinct
    require(args.size == 1,
      s"_pg_expandarray with ${args.size} distinct arguments is not " +
        "supported (pgjdbc's introspection uses one)")
    val arg = args.head
    val alias = "__pgexp"
    // replace every occurrence (right to left keeps offsets valid)
    val sb = new java.lang.StringBuilder(sql)
    all.sortBy(-_._1).foreach { case (s, e, _) => sb.replace(s, e, alias) }
    val out = sb.toString
    // the enclosing subquery's depth = the MINIMUM paren depth across
    // the replaced occurrences (a field-dereferenced `(…).n` occurrence
    // sits one paren deeper than the select list itself); insert the
    // lateral view before the first WHERE at that depth — or before the
    // subquery's closing paren / end when it has none
    def depthAt(s: String, pos: Int): Int =
      s.take(pos).count(_ == '(') - s.take(pos).count(_ == ')')
    val occOut = Iterator.iterate(out.indexOf(alias))(p =>
      out.indexOf(alias, p + 1)).takeWhile(_ >= 0).toSeq
    val targetDepth = occOut.map(depthAt(out, _)).min
    val lateral = s" LATERAL VIEW explode(_pg_expandarray($arg)) " +
      s"__pgexp_t AS $alias "
    val outLower = out.toLowerCase(java.util.Locale.ROOT)
    var depth = depthAt(out, occOut.head)
    var insertAt = -1
    var k = occOut.head
    while (insertAt < 0 && k < out.length) {
      val c = out.charAt(k)
      if (c == '(') depth += 1
      else if (c == ')') {
        depth -= 1
        // end of the enclosing subquery with no WHERE — insert here
        if (depth < targetDepth) insertAt = k
      } else if (depth == targetDepth && outLower.startsWith("where", k) &&
          (k == 0 || !Character.isLetterOrDigit(out.charAt(k - 1))))
        insertAt = k
      k += 1
    }
    if (insertAt < 0) insertAt = out.length
    out.substring(0, insertAt) + lateral + out.substring(insertAt)
  }

  /** Balanced-paren rewrite of `name(args…)` calls (regex can't nest):
    * finds each call, splits top-level args, re-emits via `build`.
    */
  private def rewriteCall(s: String, name: String)
      (build: Seq[String] => String): String = {
    val lower = s.toLowerCase(java.util.Locale.ROOT)
    val pat = name.toLowerCase(java.util.Locale.ROOT) + "("
    val out = new java.lang.StringBuilder()
    var i = 0
    while (i < s.length) {
      val at = lower.indexOf(pat, i)
      if (at < 0) { out.append(s.substring(i)); i = s.length }
      else if (at > 0 && (Character.isLetterOrDigit(s.charAt(at - 1)) ||
          s.charAt(at - 1) == '_')) {
        // part of a longer identifier — copy through, keep scanning
        out.append(s, i, at + pat.length)
        i = at + pat.length
      } else {
        out.append(s, i, at)
        var depth = 1
        var j = at + pat.length
        val args = Seq.newBuilder[String]
        val cur = new java.lang.StringBuilder()
        while (j < s.length && depth > 0) {
          val c = s.charAt(j)
          if (c == '(') { depth += 1; cur.append(c) }
          else if (c == ')') { depth -= 1; if (depth > 0) cur.append(c) }
          else if (c == ',' && depth == 1) { args += cur.toString.trim; cur.setLength(0) }
          else cur.append(c)
          j += 1
        }
        if (cur.toString.trim.nonEmpty || args.result().nonEmpty)
          args += cur.toString.trim
        out.append(build(args.result()))
        i = j
      }
    }
    out.toString
  }

  private def rewriteSegment(s0: String): String = {
    var s = s0
    // OPERATOR(pg_catalog.~) family → the bare operator, handled next
    s = s.replaceAll("(?i)OPERATOR\\s*\\(\\s*pg_catalog\\.(!?~\\*?)\\s*\\)", " $1 ")
    // regex-match operators (pg spells case-insensitive as ~*) — Spark
    // has RLIKE only, so ~* lowers both sides via (?i)
    s = s.replaceAll("!~\\*", " NOT RLIKE '(?i)' || ")
    s = s.replaceAll("(?<![!<>=~])~\\*", " RLIKE '(?i)' || ")
    s = s.replaceAll("!~(?![*~])", " NOT RLIKE ")
    // `a ~ b`: only the infix form (avoid touching Spark's unary bitwise
    // NOT, which appears as `~x` with no left operand — pg catalog
    // queries never use it)
    s = s.replaceAll("(?<=[\\w\\)\\]])\\s*~(?![*~=])", " RLIKE ")
    // ::type casts: results travel as text and reg* casts exist only to
    // rename oids — drop the cast, keep the operand (array suffix too)
    s = s.replaceAll("::\\s*(pg_catalog\\.)?[a-zA-Z_][a-zA-Z0-9_]*(\\s*\\(\\s*\\d+\\s*(,\\s*\\d+\\s*)?\\))?(\\[\\])?",
      "")
    // COLLATE clauses have no Spark analog
    s = s.replaceAll("(?i)\\bCOLLATE\\b\\s+(pg_catalog\\.)?(\"[^\"]*\"|[\\w.]+)", "")
    // pg_get_expr has 2- and 3-arg forms; the shim ignores the pretty
    // flag either way
    s = s.replaceAll("(?i)(pg_catalog\\.)?pg_get_expr\\s*\\(([^()]*?),\\s*([\\w.]+)\\s*(,\\s*(true|false)\\s*)?\\)",
      "pg_get_expr_shim($2, $3)")
    // CURRENT_USER is a reserved zero-arg form in pg; Spark's
    // current_user() exists but renders the OS user — the endpoint's
    // authenticated user is the honest answer
    s = s.replaceAll("(?i)\\bcurrent_user\\b(\\s*\\(\\s*\\))?", "current_user_shim()")
    // pg array subscripts are 1-BASED; Spark's `[]` is 0-based but
    // element_at is 1-based — rewrite the subscripted current_schemas
    // forms pgjdbc emits (getSchemas, type cache)
    s = s.replaceAll(
      "\\(\\s*(pg_catalog\\.)?current_schemas\\((true|false)\\)\\s*\\)\\s*\\[([^\\]]+)\\]",
      "element_at(current_schemas($2), $3)")
    // set-returning / array helpers pgjdbc's type cache uses:
    // generate_series(a,b) ≡ explode(sequence(a,b)) as a FROM-clause
    // table function; array_upper(a,1) ≡ size(a) for 1-dim arrays
    s = rewriteCall(s, "array_upper")(args => s"size(${args.head})")
    s = rewriteCall(s, "generate_series")(args =>
      s"explode(sequence(${args.mkString(", ")}))")
    // constraint/index definition renderers → the map-backed shims
    // (normalizing away the pretty-print flag; pg_catalog. strips below)
    s = rewriteCall(s, "pg_get_constraintdef")(args =>
      s"pg_get_constraintdef_shim(${args.head})")
    s = rewriteCall(s, "pg_get_indexdef")(args =>
      if (args.size >= 2) s"pg_get_indexdef_shim(${args.head}, ${args(1)})"
      else s"pg_get_indexdef_shim(${args.head}, 0)")
    // pg array subscripts are 1-based; Spark's element_at matches
    // (getImportedKeys probes `con.conkey[pos.n]`)
    s = s.replaceAll("([\\w.]+)\\s*\\[([^\\[\\]]+)\\]", "element_at($1, $2)")
    // information_schema.<view> → the registered temp views
    s = s.replaceAll("(?i)information_schema\\.(table_constraints|" +
      "key_column_usage|referential_constraints|schemata|tables|columns)\\b",
      "information_schema_$1")
    // strip the pg_catalog. qualifier LAST: tables become the bare temp
    // views, functions the bare shims
    s = s.replace("pg_catalog.", "")
    s
  }
}
