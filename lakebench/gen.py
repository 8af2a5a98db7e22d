"""Seeded input generation for the lake benchmark.

Everything a run feeds to the program is made here, before the clock
starts: the lake tables (a TPC-H-shaped star schema plus the events,
documents and embeddings tables the registry queries read), the SQL text
of every statement, the DML script, the landing files and the order of
the corpus steps. The same seed gives byte-identical inputs.
"""
import json
import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. The star schema is about a third of TESTDATA's sf0.1
# (one run has to set the lake up three times and still fit its time box);
# documents and embeddings have sf0.1's row counts.
SIZES = {
    "customer": 5000, "supplier": 300, "part": 6000, "orders": 50000,
    "lineitem": 200000, "events": 40000, "documents": 5000, "embeddings": 2000,
}
# sf0.1's document vocabulary: 30 words, drawn uniformly.
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "big filter group stream vector").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_SHARE = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _ts(days):
    return (EPOCH_1995 + (np.asarray(days, dtype=np.int64) * DAY_US)
            .astype("timedelta64[us]"))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def make_tables(seed, out):
    """Write one parquet file per table under `out`, SIZES rows each."""
    r = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n = SIZES
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[r.integers(0, 5, n["customer"])]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        f"{out}/supplier.parquet")
    adj = np.array(["red", "hot", "new", "small", "big", "old", "blue", "dark"])
    noun = np.array(["bolt", "anvil", "ring", "rod", "plate", "widget", "gear",
                     "pipe"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    npart = n["part"]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, npart)], " "),
                              noun[r.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, npart).astype(str)),
        "p_type": types[r.integers(0, 6, npart)],
        "p_size": pa.array(r.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10.0, 2)}),
        f"{out}/part.parquet")
    nord = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(nord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], nord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, nord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, nord), 2),
        "o_orderdate": _ts(r.integers(0, 2404, nord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            r.integers(0, 5, nord)]}),
        f"{out}/orders.parquet")
    nli = n["lineitem"]
    okey = np.sort(r.integers(0, nord, nli))
    lnum = np.zeros(nli, dtype=np.int32)
    starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
    runs = np.diff(np.r_[starts, nli])
    lnum = (np.arange(nli) - np.repeat(starts, runs) + 1).astype(np.int32)
    qty = r.integers(1, 51, nli).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, npart, nli), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], nli), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, nli), 2),
        "l_discount": r.integers(0, 11, nli) / 100.0,
        "l_tax": r.integers(0, 9, nli) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nli)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nli)],
        "l_shipdate": _ts(r.integers(1, 2500, nli))}),
        f"{out}/lineitem.parquet")
    nev = n["events"]
    jan = np.datetime64("2024-01-01", "us")
    _write(pa.table({
        "event_id": pa.array(np.arange(nev), pa.int64()),
        "ts": jan + np.sort(r.integers(0, 30 * DAY_US, nev)).astype(
            "timedelta64[us]"),
        "user_id": pa.array(r.integers(0, 1500, nev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[r.integers(0, 5, nev)],
        "value": np.round(r.gamma(2.0, 30.0, nev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, nev)]}),
        f"{out}/events.parquet")
    # The corpus follows sf0.1's documents and embeddings, measured there:
    # 10-100 words a document (uniform, mean ~300 characters), one in
    # twenty an exact copy of another document with " dup" appended, 41 %
    # English and the rest fr/es/zh/de, 20 sources round robin; 64-d unit
    # vectors with no cluster structure and a uniform label 0-9. Lengths
    # and copy positions are fixed (10 + 37i mod 91 words, every 20th
    # document) so that runs on different seeds do the same work; the seed
    # draws the words, the copied documents, the languages and the vectors.
    ndoc = n["documents"]
    texts = []
    for i in range(ndoc):
        if i % 20 == 19:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(WORDS[j] for j in
                                  r.integers(0, len(WORDS), 10 + (i * 37) % 91)))
    _write(pa.table({
        "doc_id": pa.array(np.arange(ndoc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), ndoc, p=LANG_SHARE)],
        "source": [f"src{i % 20}" for i in range(ndoc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    nemb = n["embeddings"]
    v = r.normal(0, 1, (nemb, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nemb), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, nemb), pa.int32())}),
        f"{out}/embeddings.parquet")


# --------------------------------------------------------------- lake-sql

SUM = "CAST(SUM(CAST({} AS DECIMAL(18,6))) AS DOUBLE)"


def _sql_templates(r):
    """(family, sql) makers; every statement is ANSI enough for DuckDB."""
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    ev = ["click", "error", "purchase", "signup", "view"]

    def day(lo, hi):
        d = np.datetime64("1995-01-01") + int(r.integers(lo, hi))
        return str(d)

    return [
        ("cube_rollup", lambda: (
            "SELECT event_type, ts_month, n, sum_value, min_value, max_value "
            "FROM global_temp.events_cube WHERE event_type IN ('{}', '{}') "
            "ORDER BY event_type, ts_month").format(*r.choice(ev, 2, replace=False))),
        ("cube_rollup", lambda: (
            "SELECT ts_month, sum(n) AS n, max(max_value) AS max_value "
            "FROM global_temp.events_cube GROUP BY ts_month ORDER BY ts_month")),
        ("q1_agg", lambda: (
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            + SUM.format("l_quantity") + " AS sum_qty, "
            + SUM.format("l_extendedprice * (1 - l_discount)") + " AS sum_disc "
            "FROM lake.lineitem WHERE l_shipdate <= TIMESTAMP '{} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus").format(day(2000, 2300))),
        ("q3_agg", lambda: (
            "SELECT o.o_orderkey, "
            + SUM.format("l.l_extendedprice * (1 - l.l_discount)") + " AS revenue "
            "FROM lake.customer c JOIN lake.orders o ON c.c_custkey = o.o_custkey "
            "JOIN lake.lineitem l ON l.l_orderkey = o.o_orderkey "
            "WHERE c.c_mktsegment = '{}' AND o.o_orderdate < TIMESTAMP '{} 00:00:00' "
            "AND l.l_shipdate > TIMESTAMP '{} 00:00:00' "
            "GROUP BY o.o_orderkey ORDER BY revenue DESC, o.o_orderkey LIMIT 10")
         .format(r.choice(segs), day(1000, 1200), day(1000, 1200))),
        ("star_join", lambda: (
            "SELECT n.n_name, p.p_type, count(*) AS n_lines, "
            + SUM.format("l.l_extendedprice") + " AS gross "
            "FROM lake.lineitem l JOIN lake.part p ON l.l_partkey = p.p_partkey "
            "JOIN lake.supplier s ON l.l_suppkey = s.s_suppkey "
            "JOIN lake.nation n ON s.s_nationkey = n.n_nationkey "
            "WHERE p.p_size BETWEEN {} AND {} "
            "GROUP BY n.n_name, p.p_type ORDER BY n.n_name, p.p_type")
         .format(*(lambda lo: (lo, lo + 9))(int(r.integers(1, 42))))),
        ("range_lookup", lambda: (lambda k: (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
            "FROM lake.orders WHERE o_orderkey BETWEEN {} AND {} "
            "ORDER BY o_orderkey").format(k, k + 40))(
            int(r.integers(0, SIZES["orders"] - 40)))),
        ("point_lookup", lambda: (
            "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
            "l_extendedprice FROM lake.lineitem WHERE l_orderkey = {} "
            "ORDER BY l_linenumber").format(int(r.integers(0, SIZES["orders"])))),
        ("metadata_agg", lambda: (
            "SELECT count(*) AS n, min(o_orderkey) AS lo, max(o_orderkey) AS hi, "
            "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price "
            "FROM lake.orders")),
        ("metadata_agg", lambda: (
            "SELECT count(*) AS n, min(l_shipdate) AS first_ship, "
            "max(l_shipdate) AS last_ship FROM lake.lineitem")),
        ("window_topk", lambda: (
            "SELECT c_mktsegment, c_custkey, spend, rk FROM ("
            "SELECT c.c_mktsegment, c.c_custkey, "
            + SUM.format("o.o_totalprice") + " AS spend, "
            "row_number() OVER (PARTITION BY c.c_mktsegment ORDER BY "
            + SUM.format("o.o_totalprice") + " DESC, c.c_custkey) AS rk "
            "FROM lake.customer c JOIN lake.orders o ON c.c_custkey = o.o_custkey "
            "WHERE o.o_orderpriority = '{}' "
            "GROUP BY c.c_mktsegment, c.c_custkey) t WHERE rk <= {} "
            "ORDER BY c_mktsegment, rk").format(
                r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                          "5-LOW"]), int(r.integers(2, 6)))),
        ("events_agg", lambda: (lambda d: (
            "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users, "
            + SUM.format("value") + " AS total "
            "FROM lake.events WHERE ts >= TIMESTAMP '2024-01-{:02d} 00:00:00' "
            "AND ts < TIMESTAMP '2024-01-{:02d} 00:00:00' "
            "GROUP BY event_type ORDER BY event_type").format(d, d + 7))(
            int(r.integers(1, 23)))),
        ("part_agg", lambda: (
            "SELECT p_brand, count(*) AS n, min(p_retailprice) AS lo, "
            "max(p_retailprice) AS hi FROM lake.part WHERE p_type = '{}' "
            "GROUP BY p_brand ORDER BY p_brand").format(
                r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                          "STANDARD"]))),
    ]


def sql_statements(seed, count=4000, repeats=4):
    """Seeded statement stream in rounds: each round runs every template
    once in shuffled order plus `repeats` exact repeats of statements from
    earlier rounds (a quarter of all statements), so any window of a few
    rounds carries the same mix whatever the seed."""
    r = np.random.default_rng(seed + 1)
    tpl = _sql_templates(r)
    out = []
    while len(out) < count:
        fresh = [{"family": tpl[k][0], "sql": tpl[k][1]()}
                 for k in r.permutation(len(tpl))]
        again = [out[int(r.integers(0, len(out)))] for _ in range(repeats)] if out else []
        rnd = fresh + again
        out += [rnd[k] for k in r.permutation(len(rnd))]
    return out[:count]


# ------------------------------------------------------------- lake-write

ORD_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]


def _row_sql(row):
    k, c, s, p = row
    return f"({k}, {c}, '{s}', {p!r})"


# Statement kinds in the order the DML script uses them (4:3:2:2).
DML_KINDS = ["insert", "update", "insert", "delete", "merge", "update",
             "insert", "merge", "delete", "update", "insert"]


def dml_script(seed, count=400):
    """Seeded DML script for the orders table of the lake-write workload.
    Each item is one wire round trip: an autocommit statement or a whole
    BEGIN..COMMIT/ROLLBACK block. `ops` is the structured form the
    independent replay applies; `sql` is what the program receives.

    The shape is fixed: item i's kind (autocommit, block of 2-4
    statements, rollback, OPTIMIZE) and each statement's kind follow
    their position, so runs on different seeds commit the same kinds of
    work in the same order; the seed draws keys, ranges and values."""
    r = random.Random(seed * 7919 + 3)
    next_key = [10_000_000]
    kinds = iter(DML_KINDS * count)

    def new_rows(n):
        rows = []
        for _ in range(n):
            rows.append((next_key[0], r.randrange(SIZES["customer"]),
                         r.choice("FOP"), round(r.uniform(1000, 500000), 2)))
            next_key[0] += 1
        return rows

    def one_op():
        kind = next(kinds)
        if kind == "insert":
            rows = new_rows(r.randint(5, 40))
            return ({"op": "insert", "rows": rows},
                    "INSERT INTO {t} VALUES " + ", ".join(map(_row_sql, rows)))
        if kind == "update":
            lo = r.randrange(SIZES["orders"] - 200)
            hi = lo + r.randint(20, 200)
            delta = r.choice([1.25, 2.5, -0.75, 10.0])
            return ({"op": "update", "lo": lo, "hi": hi, "delta": delta},
                    f"UPDATE {{t}} SET o_totalprice = o_totalprice + {delta} "
                    f"WHERE o_orderkey BETWEEN {lo} AND {hi}")
        if kind == "delete":
            lo = r.randrange(SIZES["orders"] - 80)
            hi = lo + r.randint(4, 80)
            return ({"op": "delete", "lo": lo, "hi": hi},
                    f"DELETE FROM {{t}} WHERE o_orderkey BETWEEN {lo} AND {hi}")
        # MERGE: half the source keys exist (updated), half are new
        base = r.randrange(SIZES["orders"] - 20)
        rows = [(base + 2 * i, r.randrange(SIZES["customer"]), r.choice("FOP"),
                 round(r.uniform(1000, 500000), 2)) for i in range(r.randint(2, 8))]
        rows += new_rows(r.randint(2, 8))
        src = ("SELECT * FROM VALUES " + ", ".join(map(_row_sql, rows))
               + " AS src(" + ", ".join(ORD_COLS) + ")")
        return ({"op": "merge", "rows": rows},
                f"MERGE INTO {{t}} t USING ({src}) s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")

    out = []
    for i in range(count):
        if i % 25 == 24:
            out.append({"kind": "optimize", "ops": [{"op": "optimize"}],
                        "sql": "OPTIMIZE {t}"})
            continue
        if i % 10 in (2, 5, 8):
            pairs = [one_op() for _ in range(2 + i // 3 % 3)]
            rollback = i % 20 == 5
            sql = ";\n".join(["BEGIN"] + [s for _, s in pairs]
                             + ["ROLLBACK" if rollback else "COMMIT"])
            out.append({"kind": "block", "rollback": rollback,
                        "ops": [o for o, _ in pairs], "sql": sql})
        else:
            o, s = one_op()
            out.append({"kind": "auto", "ops": [o], "sql": s})
    return out


def read_statements(seed, count=2000):
    """Reader mix of the lake-write workload: aggregates and point lookups
    over the orders table the DML client writes. Every answer is checked
    against the replayed table at the version the read pinned."""
    r = random.Random(seed * 104729 + 11)
    out = []
    for _ in range(count):
        if len(out) % 2 == 0:
            lo = r.randrange(SIZES["orders"] - 2000)
            hi = lo + r.randint(100, 2000)
            out.append({"kind": "agg", "lo": lo, "hi": hi,
                        "sql": "SELECT count(*) AS n, sum(o_orderkey) AS keys, "
                               "sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents "
                               f"FROM {{t}} WHERE o_orderkey BETWEEN {lo} AND {hi}"})
        else:
            k = r.randrange(SIZES["orders"])
            out.append({"kind": "point", "key": k,
                        "sql": "SELECT o_orderkey, o_custkey, o_orderstatus, "
                               "CAST(floor(o_totalprice * 100) AS BIGINT) AS cents "
                               f"FROM {{t}} WHERE o_orderkey = {k}"})
    return out


def _xlsx(path, header, rows):
    """Minimal one-sheet workbook (inline strings and numbers)."""
    def cell(ref, v):
        if isinstance(v, (int, float)):
            return f'<c r="{ref}"><v>{v}</v></c>'
        return f'<c r="{ref}" t="inlineStr"><is><t>{escape(str(v))}</t></is></c>'

    def col(i):
        s = ""
        i += 1
        while i:
            i, m = divmod(i - 1, 26)
            s = chr(65 + m) + s
        return s

    sheet_rows = []
    for ri, row in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{col(ci)}{ri}", v) for ci, v in enumerate(row))
        sheet_rows.append(f'<row r="{ri}">{cells}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    files = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.'
            'openxmlformats.org/package/2006/content-types"><Default Extension='
            '"rels" ContentType="application/vnd.openxmlformats-package.relation'
            'ships+xml"/><Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
            'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="'
            'application/vnd.openxmlformats-officedocument.spreadsheetml.'
            'worksheet+xml"/></Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://'
            'schemas.openxmlformats.org/package/2006/relationships"><Relationship'
            f' Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel}">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>'
            '</workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://'
            'schemas.openxmlformats.org/package/2006/relationships"><Relationship'
            f' Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml":
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(sheet_rows) + "</sheetData></worksheet>",
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(files):
            z.writestr(zipfile.ZipInfo(name, (2024, 1, 1, 0, 0, 0)), files[name])


def landing_batches(seed, data_dir, out, count=60, prefix="land"):
    """Landing files for the ingest client: slices of lineitem, orders and
    part as CSV, JSON lines and XLSX. Batch i lives in `out/<i>/<bucket>/`
    so the program ingests exactly one batch per call. Returns the batch
    list with the rows each one carries (the replay's source of truth)."""
    import duckdb
    r = random.Random(seed * 31 + 5)
    con = duckdb.connect()
    tables = {
        "lineitem": ("l_orderkey, l_linenumber, l_quantity, l_extendedprice",
                     SIZES["lineitem"]),
        "orders": ("o_orderkey, o_custkey, o_orderstatus, o_totalprice",
                   SIZES["orders"]),
        "part": ("p_partkey, p_name, p_size, p_retailprice", SIZES["part"]),
    }
    batches = []
    for i in range(count):
        name = sorted(tables)[i // 3 % 3]  # every table in every format
        cols, n = tables[name]
        fmt = ["csv", "json", "xlsx"][i % 3]
        size = r.randint(200, 800) if fmt != "xlsx" else r.randint(50, 200)
        start = r.randrange(n - size)
        res = con.execute(
            f"SELECT {cols} FROM '{data_dir}/{name}.parquet' "
            f"LIMIT {size} OFFSET {start}")
        header = [d[0] for d in res.description]
        rows = [list(x) for x in res.fetchall()]
        bucket = f"{prefix}_{name}"
        d = os.path.join(out, f"{i:04d}", bucket)
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{name}_{fmt}.{fmt}")
        if fmt == "csv":
            with open(path, "w", encoding="utf-8") as f:
                f.write(",".join(header) + "\n")
                for row in rows:
                    f.write(",".join(str(v) for v in row) + "\n")
        elif fmt == "json":
            with open(path, "w", encoding="utf-8") as f:
                for row in rows:
                    f.write(json.dumps(dict(zip(header, row))) + "\n")
        else:
            _xlsx(path, header, rows)
        batches.append({"dir": os.path.join(out, f"{i:04d}"), "db": bucket,
                        "table": f"{name}_{fmt}", "source": name,
                        "columns": header, "rows": rows,
                        "bytes": os.path.getsize(path)})
    return batches


# ----------------------------------------------------------- corpus-batch

# The heavy fanned-out scoring pass beside the cheap consumer the fan-out
# regressed, plus one dedup and one ANN step. A whole pass has to fit a
# run: each registry step costs 1-3 s on four cores even on a small
# corpus, and every run also warms each step up three times.
CORPUS_STEPS = ["q14_simhash", "q16_ann_topk", "q123_lm_score",
                "q138_unigram_segment"]


def corpus_order(seed):
    """Seed-ordered passes: every pass runs each step once."""
    r = random.Random(seed * 613 + 7)
    steps = list(CORPUS_STEPS)
    out = []
    for _ in range(20):
        p = steps[:]
        r.shuffle(p)
        out += p
    return out
