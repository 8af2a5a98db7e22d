#!/usr/bin/env python3
"""Trace report for the lake benchmark.

  python3 lakebench/report.py TRACE_DIR              per-layer self time and counts
  python3 lakebench/report.py PARENT_DIR CHANGE_DIR  the same, side by side, with deltas

A trace dir is the `out/` directory of a traced run (`--trace 1`): it holds
`trace.jsonl` (one span per line) and `result.json`. Copies of the latest
traced run of each workload are kept under `.lakebench/traces/`.
"""
import json
import os
import statistics
import sys
from collections import defaultdict

COUNTS = ("jobs", "stages", "tasks", "task_cpu_ns", "shuffle_read_bytes",
          "shuffle_write_bytes", "input_bytes", "output_bytes", "gc_ms")


def load(trace_dir):
    with open(os.path.join(trace_dir, "trace.jsonl")) as f:
        spans = [json.loads(x) for x in f if x.strip()]
    with open(os.path.join(trace_dir, "result.json")) as f:
        res = json.load(f)
    return spans, res


def dur(s):
    return s["end_ms"] - s["start_ms"]


def self_table(spans):
    """Per span name: calls, total ms, self ms (total minus the time its
    child spans cover) and self counts (the same subtraction)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        row = out[s["name"]]
        row["calls"] += 1
        row["total_ms"] += dur(s)
        row["self_ms"] += dur(s) - sum(dur(k) for k in kids[s["id"]])
        for c in COUNTS:
            row[c] += s["counts"].get(c, 0) - sum(k["counts"].get(c, 0) for k in kids[s["id"]])
    return out


def _mean(xs):
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def layer_metrics(spans, res, workload, pass_len):
    """The per-layer metric values of one traced run (see
    metrics.PER_LAYER); a layer the workload did not touch reads 0."""
    by = defaultdict(list)
    for s in spans:
        by[s["name"]].append(s)
    roots = by["op"]
    per_op = defaultdict(dict)
    for s in spans:
        per_op[s["op"]].setdefault(s["name"], dur(s))

    def mean_dur(name):
        return _mean(dur(s) for s in by[name])

    def attr_mean(name, key):
        return _mean(s["attrs"][key] for s in by[name] if key in s["attrs"])

    commits = [s for n in ("commitlog.insert", "commitlog.update",
                           "commitlog.delete", "commitlog.merge") for s in by[n]]
    corpus = workload == "corpus-batch"
    m = {
        "tools.wire_ms": _mean(d["tools.wire"] - d["inproc"] for d in per_op.values()
                               if "tools.wire" in d and "inproc" in d),
        "tools.txn_stmt_ms": mean_dur("tools.txn_stmt"),
        "tools.txn_commit_ms": mean_dur("tools.txn_commit"),
        "tools.conflicts_40001": sum(s["attrs"].get("conflicts_40001", 0) for s in spans),
        "tools.stale_reads": len(res.get("stale_reads", [])),
        "plans.parse_ms": mean_dur("plans.parse"),
        "plans.analyze_ms": attr_mean("operators.exec", "plan_analyze_ms") if corpus
        else mean_dur("plans.analyze"),
        "plans.optimize_ms": attr_mean("operators.exec", "plan_optimize_ms") if corpus
        else mean_dur("plans.optimize"),
        "plans.physical_ms": attr_mean("operators.exec", "plan_physical_ms") if corpus
        else mean_dur("plans.physical"),
        "plans.exec_ms": mean_dur("plans.exec"),
        "operators.build_ms": mean_dur("operators.build"),
        "operators.exec_ms": mean_dur("operators.exec"),
        "operators.pins_left": attr_mean("op", "pins_left"),
        "sources.read_ms": mean_dur("sources.read"),
        "sources.infer_ms": mean_dur("sources.infer"),
        "sources.coerce_ms": mean_dur("sources.coerce"),
        "sources.append_ms": mean_dur("sources.append"),
        "commitlog.commit_ms": _mean(dur(s) for s in commits),
        "commitlog.jobs_per_commit": _mean(s["counts"]["jobs"] for s in commits),
        "commitlog.readback_bytes": _mean(s["counts"]["input_bytes"] for s in commits),
        "commitlog.files_per_commit": _mean(s["attrs"].get("files_created", 0) for s in commits),
        "commitlog.live_files": commits[-1]["attrs"].get("live_files", 0) if commits else 0,
        "commitlog.log_bytes_per_commit": _mean(s["attrs"].get("log_bytes", 0) for s in commits),
        "commitlog.read_ms": mean_dur("commitlog.read"),
        "commitlog.optimize_ms": mean_dur("commitlog.optimize"),
        "spark.jobs": _mean(s["counts"]["jobs"] for s in roots),
        "spark.stages": _mean(s["counts"]["stages"] for s in roots),
        "spark.tasks": _mean(s["counts"]["tasks"] for s in roots),
        "spark.driver_gap_ms": _mean(s["idle_ms"] for s in roots),
        "spark.task_cpu_ms": _mean(s["counts"]["task_cpu_ns"] / 1e6 for s in roots),
        "spark.task_run_ms": _mean(s["counts"]["task_run_ms"] for s in roots),
        "spark.shuffle_read_bytes": _mean(s["counts"]["shuffle_read_bytes"] for s in roots),
        "spark.shuffle_write_bytes": _mean(s["counts"]["shuffle_write_bytes"] for s in roots),
        "spark.spill_bytes": _mean(s["counts"]["spill_bytes"] for s in roots),
        "spark.input_bytes": _mean(s["counts"]["input_bytes"] for s in roots),
        "spark.output_bytes": _mean(s["counts"]["output_bytes"] for s in roots),
        "jvm.gc_ms": _mean(s["counts"]["gc_ms"] for s in roots),
        "write.write_amp": 0.0, "write.space_amp": 0.0,
        "write.ingest_rows_per_s": 0.0, "write.read_p50_ms": 0.0,
        "corpus.pass_s": 0.0,
    }
    ops = res["ops"]
    if workload == "lake-write":
        m.update(write_metrics(res))
    if corpus and res.get("untraced_ms"):
        m["corpus.pass_s"] = _mean(res["untraced_ms"]) * pass_len / 1000.0
    # tracing overhead: the traced operations against the same operations
    # replayed untraced just before
    traced = defaultdict(float)
    for s in roots:
        traced[s["op"]] += dur(s)
    plain = res.get("untraced_ms") or []
    n = min(len(plain), len(traced))
    m["trace.ops"] = len(ops)
    m["trace.overhead_ms"] = (sum(traced[i] for i in range(n)) - sum(plain[:n])) / n if n else 0.0
    return m


def write_metrics(res):
    """lake-write's write and space amplification, ingest rate and reader
    median from one run's records."""
    ops = res["ops"]
    ok = [o for o in ops if o["ok"]]
    user = sum(o.get("sql_bytes", 0) for o in ok if o["k"] == "dml") + \
        sum(o.get("bytes", 0) for o in ok if o["k"] == "ingest")
    ingest = [o for o in ok if o["k"] == "ingest"]
    reads = [o["t1"] - o["t0"] for o in ok if o["k"] == "read"]
    ingest_s = sum(o["t1"] - o["t0"] for o in ingest) / 1000.0
    return {
        "write.write_amp": res["bytes_created"] / user if user else 0.0,
        "write.space_amp": res["bytes_on_disk"] / res["bytes_rewritten"]
        if res["bytes_rewritten"] else 0.0,
        "write.ingest_rows_per_s": sum(o["rows"] for o in ingest) / ingest_s if ingest_s else 0.0,
        "write.read_p50_ms": statistics.median(reads) if reads else 0.0,
    }


def show(tables, labels):
    names = sorted(set().union(*tables), key=lambda n: (n.split(".")[0], n))
    head = f"{'span':28}" + "".join(f"{l + ' self_ms':>18}{'calls':>7}{'jobs':>7}{'cpu_ms':>10}"
                                    for l in labels)
    if len(tables) == 2:
        head += f"{'d self_ms':>12}{'d jobs':>8}{'d cpu_ms':>10}"
    print(head)
    for n in names:
        rows = [t.get(n, {}) for t in tables]
        line = f"{n:28}"
        for r in rows:
            line += (f"{r.get('self_ms', 0):18.1f}{int(r.get('calls', 0)):7d}"
                     f"{int(r.get('jobs', 0)):7d}{r.get('task_cpu_ns', 0) / 1e6:10.1f}")
        if len(rows) == 2:
            a, b = rows
            line += (f"{b.get('self_ms', 0) - a.get('self_ms', 0):12.1f}"
                     f"{int(b.get('jobs', 0) - a.get('jobs', 0)):8d}"
                     f"{(b.get('task_cpu_ns', 0) - a.get('task_cpu_ns', 0)) / 1e6:10.1f}")
        print(line)


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    loaded = [load(d) for d in argv[1:]]
    show([self_table(s) for s, _ in loaded], ["parent", "change"][:len(loaded)]
         if len(loaded) == 2 else ["run"])
    for d, (_, res) in zip(argv[1:], loaded):
        plain = res.get("untraced_ms") or []
        print(f"{d}: {len(res['ops'])} traced ops, {len(plain)} untraced reference ops")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
