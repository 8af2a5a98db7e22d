"""Pure metric arithmetic of the lake benchmark: percentiles, the tail
rule, the end-to-end and per-layer metric tables, bound checks and the
parsing of a run's printed result line. No engine, no I/O."""
import json
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")

# The tail is the highest of these percentiles with at least MIN_BEYOND
# samples above it. A run logs it with its percentile; it is not gated: a
# measured window holds too few operations (under 40 on corpus-batch) for
# a tail above the median.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10

# End-to-end metrics every workload reports with tracing off, over every
# operation its clients completed: statements (lake-sql); DML
# transactions, landed batches and reads (lake-write); corpus steps
# (corpus-batch). Latency and rate weigh every operation kind and every
# client the same (kind_p50, client_rate). Failed operations are reported
# by the result line's `failed` count and `correct` flag, not by a metric:
# a share that reads 0 cannot carry a relative bound.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("heap_live_mb", "MB", "lower"),
    ("p50_ms", "ms", "lower"),
    ("ops_per_s", "1/s", "higher"),
    ("cpu_ms_per_op", "ms", "lower"),
]

# Per-layer metrics of the traced run; each is a mean per traced
# operation unless the name says otherwise. A layer the workload does not
# touch reports 0.
PER_LAYER = [
    ("tools.wire_ms", "ms"), ("tools.txn_stmt_ms", "ms"),
    ("tools.txn_commit_ms", "ms"), ("tools.conflicts_40001", "count"),
    ("tools.stale_reads", "count"),
    ("plans.parse_ms", "ms"), ("plans.analyze_ms", "ms"),
    ("plans.optimize_ms", "ms"), ("plans.physical_ms", "ms"),
    ("plans.exec_ms", "ms"),
    ("operators.build_ms", "ms"), ("operators.exec_ms", "ms"),
    ("operators.pins_left", "count"),
    ("sources.read_ms", "ms"), ("sources.infer_ms", "ms"),
    ("sources.coerce_ms", "ms"), ("sources.append_ms", "ms"),
    ("commitlog.commit_ms", "ms"), ("commitlog.jobs_per_commit", "count"),
    ("commitlog.readback_bytes", "bytes"),
    ("commitlog.files_per_commit", "count"), ("commitlog.live_files", "count"),
    ("commitlog.log_bytes_per_commit", "bytes"), ("commitlog.read_ms", "ms"),
    ("commitlog.optimize_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.driver_gap_ms", "ms"), ("spark.task_cpu_ms", "ms"),
    ("spark.task_run_ms", "ms"), ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
    ("spark.input_bytes", "bytes"), ("spark.output_bytes", "bytes"),
    ("jvm.gc_ms", "ms"),
    ("write.write_amp", "ratio"), ("write.space_amp", "ratio"),
    ("write.ingest_rows_per_s", "1/s"), ("write.read_p50_ms", "ms"),
    ("corpus.pass_s", "s"),
    ("trace.ops", "count"), ("trace.overhead_ms", "ms"),
]


def quantile(values, p):
    """Nearest-rank percentile `p` (0-100] of a non-empty sample."""
    s = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(values):
    """(percentile, value) of the highest ladder percentile that leaves at
    least MIN_BEYOND samples strictly above its rank; the median when the
    sample is too small for any."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - math.ceil(p / 100.0 * n) >= MIN_BEYOND:
            return p, quantile(values, p)
    return 50.0, statistics.median(values)


def geomean(values):
    values = list(values)
    return math.exp(statistics.fmean(math.log(v) for v in values))


def kind_p50(ops):
    """Geometric mean over operation kinds (`k`: a corpus step, a DML
    item, a read, ...) of each kind's median latency in ms, so that every
    kind weighs the same however many of it a run completes."""
    lat = {}
    for o in ops:
        lat.setdefault(o["k"], []).append(o["t1"] - o["t0"])
    return geomean(statistics.median(v) for v in lat.values())


def client_rate(ops):
    """Operations per second as if every client ran at the geometric mean
    of the clients' rates, so a slow client (lake-write's DML) weighs as
    much as a fast one. A client's rate is 1 s over the mean, across its
    operation kinds, of each kind's mean latency: a closed loop's rate is
    not rounded to whole operations, and a corpus pass cut short at the
    deadline still weighs every step the same."""
    lat = {}
    for o in ops:
        lat.setdefault(o["c"], {}).setdefault(o["k"], []).append(o["t1"] - o["t0"])
    rates = [1000.0 / statistics.fmean(statistics.fmean(v) for v in kinds.values())
             for kinds in lat.values()]
    return len(rates) * geomean(rates)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(metric_better, parent, change):
    """How much worse `change` is than `parent`, as a share of `parent`
    (negative when better)."""
    if metric_better == "lower":
        return (change - parent) / parent
    return (parent - change) / parent


def within_bound(metric_better, bound, parent_values, change_values):
    """The benchmark's regression rule: the change's median is no worse
    than the parent's median by more than `bound`."""
    return worse_by(metric_better, statistics.median(parent_values),
                    statistics.median(change_values)) <= bound


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def result_line(correct, attempted, failed, values, table):
    """The run's last stdout line. `table` lists (name, unit, ...) and
    fixes which metrics appear and in what order."""
    metrics = {}
    for name, unit, *_ in table:
        metrics[name] = {"value": values[name], "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})


def parse_result(stdout):
    """Parse a run's stdout: the last line must be the result object."""
    lines = [x for x in stdout.strip().splitlines() if x.strip()]
    if not lines:
        raise ValueError("no output")
    r = json.loads(lines[-1])
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(r)}")
    if not isinstance(r["attempted"], int) or r["attempted"] < 1:
        raise ValueError("attempted must be a whole number >= 1")
    if not isinstance(r["failed"], int) or r["failed"] < 0:
        raise ValueError("failed must be a whole number >= 0")
    for name, m in r["metrics"].items():
        if not valid_name(name) or set(m) != {"value", "unit"}:
            raise ValueError(f"bad metric {name!r}")
        if not valid_unit(m["unit"]) or not isinstance(m["value"], (int, float)):
            raise ValueError(f"bad metric {name!r}")
    return r
