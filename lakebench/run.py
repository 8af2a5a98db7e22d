#!/usr/bin/env python3
"""The graft lake benchmark: one command, three workloads.

  python3 lakebench/run.py --workload lake-sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed,
sets the lake up several times (the median is `setup_s`), measures for
`--seconds`, checks every answer against DuckDB and prints one JSON
result line last. `--trace 1` replays the same operations from one client
with spans around every call into a layer and prints the per-layer
metrics instead; `lakebench/report.py` reads the trace it leaves.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".lakebench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("lake-sql", "lake-write", "corpus-batch")
SETUPS = 3
HEAP = "3g"
RUN_LIMIT_S = 170
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


T0 = time.time()
JVMS = []  # every JVM this run started; all have ended when it exits


def log(msg):
    print(f"lakebench: [{time.time() - T0:6.1f} s] {msg}", file=sys.stderr)


def fail(msg):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def spark_jars():
    """The directory of Spark's jars, as the engine's own build names it."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    if not m:
        fail("build.sbt names no Spark jar directory (unmanagedBase)")
    return m.group(1)


def build():
    """Compile engine + harness when the sources changed; return the
    classpath."""
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(STATE, "build", "stamp")
    cp = f"{classes}:{spark_jars()}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    tmp = os.path.join(STATE, "build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts),
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    with open(os.path.join(STATE, "build", "sbt.log"), "w") as log:
        # copyResources: the engine's META-INF/services registrations (the
        # graft-commitlog data source) must sit beside the classes
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "Compile/copyResources"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            timeout=840).returncode
    if rc != 0:
        fail(f"build failed (see {os.path.join(STATE, 'build', 'sbt.log')})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


def nproc():
    return len(os.sched_getaffinity(0))


def host_record(args):
    mem = next((int(x.split()[1]) for x in open("/proc/meminfo")
                if x.startswith("MemTotal:")), 0)
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                                capture_output=True, text=True).stdout.strip() or None
    except OSError:
        commit = None
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": nproc(), "mem_total_kb": mem,
            "loadavg": open("/proc/loadavg").read().split()[:3], "commit": commit,
            "time": time.strftime("%Y-%m-%dT%H:%M:%S")}


def make_inputs(args, work):
    """Everything the engine receives, generated from the seed."""
    data = os.path.join(work, "data")
    gen.make_tables(args.seed, data)
    inp = {"workload": args.workload, "seconds": args.seconds, "trace": args.trace,
           "nproc": nproc(), "data": data, "work": work,
           "out": os.path.join(work, "out"), "setups": SETUPS}
    if args.workload == "lake-sql":
        inp["sql"] = [s["sql"] for s in gen.sql_statements(args.seed)]
        inp["warm"] = [s["sql"] for s in
                       gen.sql_statements(args.seed + 10_000, count=12, repeats=0)]
    elif args.workload == "lake-write":
        inp["dml"] = gen.dml_script(args.seed)
        inp["warm_dml"] = gen.dml_script(args.seed + 10_000, count=2)
        inp["reads"] = gen.read_statements(args.seed)
        inp["batches"] = gen.landing_batches(args.seed, data, os.path.join(work, "land"))
        warm = gen.landing_batches(args.seed + 10_000, data, os.path.join(work, "warm_land"),
                                   count=1, prefix="warm")
        inp["warm_batch"] = warm[0]["dir"]
    else:
        inp["steps"] = gen.corpus_order(args.seed)
        inp["pass_len"] = len(gen.CORPUS_STEPS)
    return inp


def start_jvm(mode, inputs_path, cp, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the readback JVM is short-lived and unmeasured: C1 alone starts faster
    # (it starts beside the run JVM and waits for the run's results)
    quick = ["-XX:TieredStopAtLevel=1"] if mode == "readback" else []
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *ADD_OPENS, *quick, f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.cleaner.periodicGC.interval=2min",
           # job/stage/task bookkeeping for a UI nobody opens: a small cap
           # keeps it from growing with the number of operations, so the
           # live heap measures the engine's state
           "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
           "-Dspark.ui.retainedTasks=2000", "-Dspark.sql.ui.retainedExecutions=20",
           "-cp", cp, "lakebench.Main", mode, inputs_path]
    env = dict(os.environ, LC_ALL="C.UTF-8", SPARK_GRAFT_CPUS=str(nproc()))
    with open(os.path.join(work, f"{mode}.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
    proc.mode = mode
    JVMS.append(proc)
    return proc


def wait_jvm(proc, work, deadline):
    log_path = os.path.join(work, f"{proc.mode}.log")
    try:
        rc = proc.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail(f"{proc.mode} JVM ran past the time limit (log: {log_path})")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"{proc.mode} JVM exited with {rc} (log: {log_path})")


def end_to_end(res):
    lat = [o["t1"] - o["t0"] for o in res["ops"]]
    p, tail = metrics.tail(lat)
    log(f"{len(lat)} ops, tail p{p:g} = {tail:.1f} ms")
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "heap_live_mb": res["heap_live_mb"],
        "p50_ms": metrics.kind_p50(res["ops"]),
        "ops_per_s": metrics.client_rate(res["ops"]),
        "cpu_ms_per_op": res["cpu_s"] * 1000.0 / len(lat),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}/src: run from the root of a graft checkout")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "out"))
    log("built")
    inp = make_inputs(args, work)
    log("inputs generated")
    inputs_path = os.path.join(work, "inputs.json")
    with open(inputs_path, "w") as f:
        json.dump(inp, f)
    try:
        run_and_check(args, inp, inputs_path, cp, work, deadline)
    finally:
        for p in JVMS:
            if p.poll() is None:
                p.kill()
            p.wait()


def run_and_check(args, inp, inputs_path, cp, work, deadline):
    readback = start_jvm("readback", inputs_path, cp, work) \
        if args.workload == "lake-write" else None
    wait_jvm(start_jvm("run", inputs_path, cp, work), work, deadline)
    log("run JVM done")
    with open(os.path.join(inp["out"], "result.json")) as f:
        res = json.load(f)
    con = checks.connect(inp["data"])
    if args.workload == "lake-sql":
        bad, notes = checks.check_sql(con, inp["sql"], res["ops"])
    elif args.workload == "lake-write":
        wait_jvm(readback, work, deadline)
        log("readback JVM done")
        with open(os.path.join(inp["out"], "readback.json")) as f:
            bad, notes = checks.check_write(con, inp, res, json.load(f))
    else:
        bad, notes = checks.check_corpus(con, res)
    log("checked")
    for e in res.get("stale_reads", []):
        log(f"KNOWN DEFECT (probed after the run, not counted as failed): {e[:200]}")
    for n in notes[:20]:
        print(f"lakebench: CHECK {n}", file=sys.stderr)
    n_ops = len(res["ops"])
    n_failed = len(bad)
    correct = not bad
    if args.trace:
        with open(os.path.join(inp["out"], "trace.jsonl")) as f:
            spans = [json.loads(x) for x in f if x.strip()]
        values = report.layer_metrics(spans, res, args.workload, inp.get("pass_len", 0))
        table = metrics.PER_LAYER
        keep = os.path.join(STATE, "traces", args.workload)
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("trace.jsonl", "result.json"):
            shutil.copy(os.path.join(inp["out"], f), keep)
    else:
        values = end_to_end(res)
        table = metrics.END_TO_END
    record = host_record(args)
    record.update({"correct": correct, "attempted": n_ops, "failed": n_failed,
                   "metrics": values, "setup_runs_s": res["setup_s"]})
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(metrics.result_line(correct, n_ops, n_failed, values, table))


if __name__ == "__main__":
    main()
