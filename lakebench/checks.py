"""Output checks of the lake benchmark, all against DuckDB on the same
generated parquet. Each check returns the set of operation indexes (into
the run's op list) whose answer was wrong, plus human-readable notes."""
import datetime
import decimal
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
SUM = "CAST(SUM(CAST({} AS DECIMAL(18,6))) AS DOUBLE)"


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("CREATE SCHEMA lake")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        con.execute(f"CREATE VIEW lake.{t} AS SELECT * FROM {t}")
    con.execute("CREATE SCHEMA global_temp")
    con.execute(
        "CREATE VIEW global_temp.events_cube AS SELECT event_type, "
        "CAST(date_trunc('month', ts) AS DATE) AS ts_month, count(*) AS n, "
        f"{SUM.format('value')} AS sum_value, "
        f"{SUM.format('value')} / count(value) AS avg_value, "
        "min(value) AS min_value, max(value) AS max_value "
        "FROM events GROUP BY 1, 2")
    return con


def _same(got, want):
    """Wire text `got` against a DuckDB value `want`."""
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, bool):
        return got in ("t", "true") if want else got in ("f", "false")
    if isinstance(want, (int, float, decimal.Decimal)):
        try:
            g, w = float(got), float(want)
        except ValueError:
            return False
        return math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(want, datetime.datetime):
        return got.replace("T", " ").rstrip("0").rstrip(".") == \
            want.isoformat(sep=" ").rstrip("0").rstrip(".") or \
            got == want.isoformat(sep=" ")
    if isinstance(want, datetime.date):
        return got.split(" ")[0] == want.isoformat() and \
            (" " not in got or got.endswith("00:00:00"))
    return got == str(want)


def rows_match(got, want):
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want))


def check_sql(con, stmts, ops):
    """lake-sql: the first answer to each distinct statement equals
    DuckDB's; every repeat answered byte-identically to that first one."""
    bad, notes, digest = set(), [], {}
    for n, op in enumerate(ops):
        if "rows" in op:
            digest[stmts[op["i"]]] = op["digest"]
    for n, op in enumerate(ops):
        sql = stmts[op["i"]]
        if not op["ok"]:
            bad.add(n)
            notes.append(f"sql {op['i']} failed: {op.get('err')}")
        elif "rows" in op:
            want = con.execute(sql).fetchall()
            if not rows_match(op["rows"], want):
                bad.add(n)
                notes.append(f"sql {op['i']} wrong: got {op['rows'][:2]} want {want[:2]} :: {sql[:160]}")
        elif op["digest"] != digest.get(sql):
            bad.add(n)
            notes.append(f"sql {op['i']} repeat answered differently")
    return bad, notes


# ------------------------------------------------------------- lake-write

FP = ("SELECT count(*), sum(o_orderkey), sum(o_custkey), "
      "sum(CAST(floor(o_totalprice * 100) AS BIGINT)), "
      "sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) FROM {}")


def _fp(con, table):
    return [int(x or 0) for x in con.execute(FP.format(table)).fetchone()]


def _apply(con, op):
    kind = op["op"]
    if kind in ("insert", "merge"):
        rows = [tuple(r) for r in op["rows"]]
        if kind == "merge":
            con.executemany("DELETE FROM t WHERE o_orderkey = ?", [(r[0],) for r in rows])
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)
    elif kind == "update":
        con.execute("UPDATE t SET o_totalprice = o_totalprice + ? "
                    "WHERE o_orderkey BETWEEN ? AND ?",
                    [float(op["delta"]), op["lo"], op["hi"]])
    elif kind == "delete":
        con.execute("DELETE FROM t WHERE o_orderkey BETWEEN ? AND ?",
                    [op["lo"], op["hi"]])


def check_write(con, inputs, res, readback):
    """lake-write: replay the acknowledged DML independently; every
    acknowledged version (read back in-run and from a fresh JVM) must
    equal the replay, every read must equal the replay at the version it
    pinned, and every landed table must hold exactly its batches."""
    ops = res["ops"]
    bad, notes = set(), []
    con.execute("CREATE TABLE t AS SELECT o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice FROM orders")
    state = {res["base_version"]: _fp(con, "t")}
    con.execute(f"CREATE TABLE snap_{res['base_version']} AS SELECT * FROM t")
    dml = sorted((n for n, o in enumerate(ops) if o["k"] == "dml"),
                 key=lambda n: ops[n]["i"])
    for n in dml:
        op = ops[n]
        item = inputs["dml"][op["i"]]
        if not op["ok"]:
            bad.add(n)
            notes.append(f"dml {op['i']} failed: {op.get('err')}")
            continue
        if not item.get("rollback"):
            for o in item["ops"]:
                _apply(con, o)
        fp, v = _fp(con, "t"), op["version"]
        if v in state and state[v] != fp:
            bad.add(n)
            notes.append(f"dml {op['i']}: table changed but version {v} did not move")
        elif v not in state:
            state[v] = fp
            con.execute(f"CREATE TABLE snap_{v} AS SELECT * FROM t")
    for label, got in (("in-run", res["versions"]), ("fresh JVM", readback["versions"])):
        for row in got:
            if state.get(row[0]) != list(row[1:]):
                bad.add(-1)
                notes.append(f"{label} time travel to v{row[0]}: {row[1:]} != replay {state.get(row[0])}")
    for n, op in enumerate(ops):
        if op["k"] != "read":
            continue
        if not op["ok"]:
            bad.add(n)
            notes.append(f"read {op['i']} failed: {op.get('err')}")
            continue
        sql = inputs["reads"][op["i"]]["sql"]
        v = op["v"]
        if v not in state or not rows_match(
                op["rows"], con.execute(sql.format(t=f"snap_{v}")).fetchall()):
            bad.add(n)
            notes.append(f"read {op['i']} differs from the replay at v{v}: {op['rows'][:2]}")
    landed = {}
    for n, op in enumerate(ops):
        if op["k"] != "ingest":
            continue
        if not op["ok"]:
            bad.add(n)
            notes.append(f"ingest {op['i']} failed: {op.get('err')}")
            continue
        b = inputs["batches"][op["i"]]
        if op["rows"] != len(b["rows"]):
            bad.add(n)
            notes.append(f"ingest {op['i']}: {op['rows']} rows landed, {len(b['rows'])} sent")
        for t in op["tables"]:
            acc = landed.setdefault(t, [0, 0, 0])
            acc[0] += len(b["rows"])
            acc[1] += sum(int(r[0]) for r in b["rows"])
            acc[2] += sum(math.floor(float(r[-1]) * 100 + 0.5) for r in b["rows"])
    for label, got in (("in-run", res["ingest"]), ("fresh JVM", readback["ingest"])):
        if sorted(g[0] for g in got) != sorted(landed):
            bad.add(-1)
            notes.append(f"{label}: landed tables {sorted(g[0] for g in got)} != {sorted(landed)}")
        for g in got:
            if landed.get(g[0]) != list(g[2:]):
                bad.add(-1)
                notes.append(f"{label}: {g[0]} holds {g[2:]}, batches sent {landed.get(g[0])}")
    return bad, notes


# ----------------------------------------------------------- corpus-batch

def check_corpus(con, res):
    """corpus-batch: each step's first output equals its DuckDB oracle (the
    registry's `oracleSql`), compared as Verify's dumps are, and every
    repeat of the step answers the same rows (digest); a step with no
    oracle must at least produce rows."""
    import pandas as pd
    bad, notes, first = set(), [], {}
    oracle = res["oracle"]
    for n, op in enumerate(res["ops"]):
        step = op["k"]
        if not op["ok"]:
            bad.add(n)
            notes.append(f"{step} failed: {op.get('err')}")
            continue
        if step in first:
            if op["digest"] != first[step]:
                bad.add(n)
                notes.append(f"{step} (op {op['i']}): rows differ from the step's first answer")
            continue
        first[step] = op["digest"]
        got = pd.read_parquet(op["out"])
        sql = oracle.get(step)
        if sql is None:
            if len(got) == 0:
                bad.add(n)
                notes.append(f"{step}: no rows (no oracle)")
            continue
        ok, why = frames_equal(got, con.execute(sql).df())
        if not ok:
            bad.add(n)
            notes.append(f"{step}: {why}")
    return bad, notes


def frames_equal(got, want):
    """Order-insensitive exact comparison (column names, then values)."""
    got = got.sort_index(axis=1)
    want = want.sort_index(axis=1)
    if list(got.columns) != list(want.columns):
        return False, f"columns {list(got.columns)} != {list(want.columns)}"
    for df in (got, want):
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
            elif df[c].dtype == object and len(df) and \
                    isinstance(df[c].iloc[0], datetime.date):
                df[c] = df[c].map(lambda x: None if x is None else
                                  datetime.datetime(x.year, x.month, x.day))
                df[c] = df[c].astype("datetime64[us]")
    cols = list(got.columns)
    try:
        got = got.sort_values(cols).reset_index(drop=True)
        want = want.sort_values(cols).reset_index(drop=True)
    except TypeError:  # unorderable (list) columns: compare as text
        got = got.astype(str).sort_values(cols).reset_index(drop=True)
        want = want.astype(str).sort_values(cols).reset_index(drop=True)
    if got.equals(want):
        return True, ""
    return False, f"values differ ({len(got)} vs {len(want)} rows)"
