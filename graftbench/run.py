#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout of the repository):

    python3 graftbench/run.py --workload etl_daily --seed 1 --seconds 15 --trace 0

Builds the program and the harness from source with sbt (offline; skipped
when the sources are unchanged since the last build), generates the
workload's inputs from the seed, runs the harness JVM (one closed-loop
client thread, local[4]), checks every job's output against the DuckDB
oracle (the program's own oracle SQL, or SQL written beside the job) and
against invariants and the warm-up run of the same job, and prints one JSON object as the last line:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

All scratch lives under the checkout: .bench_build/ (build stamp and
classpath) and .bench_work/<workload>/ (inputs, stores, logs), the latter
wiped at the start of every run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("etl_daily", "store_refresh")
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
END_TO_END = [("setup_s", "s"), ("rows_per_s", "1/s"), ("read_s_p50", "s"),
              ("read_s_tail", "s"), ("write_s_p50", "s"), ("write_s_tail", "s"),
              ("space_amp", "ratio"), ("peak_heap_mb", "MB")]
# per-layer metrics of a traced run (per timed pass unless a ratio)
PER_LAYER = [
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("scheduler.driver_gap_ms", "ms"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.launch_wait_ms", "ms"),
    ("executor.run_ms", "ms"), ("executor.cpu_ms", "ms"), ("executor.gc_ms", "ms"),
    ("executor.slot_util", "ratio"), ("executor.skew", "ratio"),
    ("executor.failed_tasks", "count"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.fetch_wait_ms", "ms"),
    ("shuffle.spill_bytes", "bytes"), ("scan.input_rows", "count"),
    ("scan.input_bytes", "bytes"), ("scan.rows_per_result", "ratio"),
    ("fs.bytes_written", "bytes"), ("fs.write_ops", "count"), ("fs.read_ops", "count"),
    ("fs.bytes_read", "bytes"), ("io.write_amp", "ratio"), ("io.files_per_commit", "count"),
    ("Tables.call_ms", "ms"), ("ops.call_ms", "ms"), ("pipeline.call_ms", "ms"),
    ("quality.call_ms", "ms"), ("io.call_ms", "ms"), ("dedup.call_ms", "ms"),
    ("text.call_ms", "ms"), ("similarity.call_ms", "ms"), ("tpch.call_ms", "ms"),
    ("action.exec_ms", "ms"), ("jvm.gc_ms", "ms"), ("jvm.heap_after_gc_mb", "MB"),
    ("trace.overhead_pct", "%")]
SBT_OPTS = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
            + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


CHILDREN = []


def stop_children(signum, _frame):
    """Stop and reap every process this run started, then exit."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
        p.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run a child process that stops with this run; returns its exit code,
    or None when it was killed at `timeout` seconds."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, **kw)
    CHILDREN.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return None


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---- preflight ------------------------------------------------------------

def stray_jvms():
    """Other sbt test forks or Spark JVMs that are burning CPU right now."""
    def cpu_ticks(pid):
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return int(fields[11]) + int(fields[12])
    me = {os.getpid(), os.getppid()}
    cands = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        if int(pid) in me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            if "java" in cmd and ("sbt.ForkMain" in cmd or "spark" in cmd.lower()):
                cands[pid] = (cmd, cpu_ticks(pid))
        except OSError:
            continue
    if not cands:
        return []
    time.sleep(1.0)
    hz = os.sysconf("SC_CLK_TCK")
    busy = []
    for pid, (cmd, t0) in cands.items():
        try:
            used = (cpu_ticks(pid) - t0) / hz
        except OSError:
            continue
        if used > 0.5:
            busy.append(f"pid {pid} at {used:.1f} cores: {cmd[:120]}")
    return busy


# ---- build ----------------------------------------------------------------

def source_stamp(root):
    h = hashlib.sha256()
    paths = [os.path.join(root, "build.sbt"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in sorted(os.walk(top)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile program + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    out = os.path.join(root, ".bench_build")
    stamp_file, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = os.environ.get("SBT_OPTS") or SBT_OPTS
    log("building program and harness with sbt (first run in this checkout)")
    t0 = time.time()
    with open(os.path.join(out, "sbt.log"), "w") as lf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       840, cwd=BENCH, env=env, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(out, "sbt.log")) as lf:
            sys.stderr.write(lf.read()[-3000:])
        fail(f"build failed (sbt exit {rc})")
    shutil.copy(os.path.join(BENCH, "target", "classpath.txt"), cp_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f}s")
    with open(cp_file) as f:
        return f.read().strip()


# ---- output checks ----------------------------------------------------------

def canon_value(v):
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon_value(x) for x in v]
    if isinstance(v, dict):
        return [canon_value(x) for x in v.values()]
    return v


def sort_key(v):
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, int):
        return ("n", v)
    if isinstance(v, float):  # rounded, so an ulp of float noise keeps the order
        return ("n", float(f"{v:.9g}")) if math.isfinite(v) else ("f", str(v))
    if isinstance(v, list):
        return ("l", str([sort_key(x) for x in v]))
    return ("s" if v is not None else "0", str(v))


def close(a, b):
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    if isinstance(a, str) and isinstance(b, (int, float)) or \
            isinstance(b, str) and isinstance(a, (int, float)):
        try:  # NaN / Infinity travel as strings from the JVM
            return math.isclose(float(a), float(b)) or (
                math.isnan(float(a)) and math.isnan(float(b)))
        except ValueError:
            return False
    return a == b


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [[canon_value(r[i]) for i in order] for r in rows]
    return [cols[i].lower() for i in order], sorted(out, key=lambda r: [sort_key(v) for v in r])


def oracle_check(data_dir, oracles):
    """DuckDB re-computation of every oracle job; returns failing keys."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{data_dir}/{f}')")
    bad = {}
    for o in oracles:
        try:
            tbl = con.execute(o["sql"]).fetch_arrow_table()
            d_cols, d_rows = canon_rows(tbl.column_names, [list(r.values()) for r in tbl.to_pylist()])
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[o["key"]] = f"oracle error: {e}"[:300]
            continue
        s_cols, s_rows = canon_rows(o["cols"], o["rows"])
        if s_cols != d_cols:
            bad[o["key"]] = f"columns differ: {s_cols} vs {d_cols}"
        elif len(s_rows) != len(d_rows):
            bad[o["key"]] = f"row count {len(s_rows)} vs oracle {len(d_rows)}"
        else:
            diff = next(((a, b) for a, b in zip(s_rows, d_rows) if not close(a, b)), None)
            if diff:
                bad[o["key"]] = f"value differs: {str(diff)[:300]}"
    return bad


# ---- metrics ----------------------------------------------------------------

# The tail percentile. The rule "highest percentile with at least ten jobs
# beyond it" needs 100+ jobs of a kind per run for a p90; a run here times
# one pass (8-13 jobs of a kind), so the tail is a fixed p90 and the output
# states n and how many jobs lie beyond it.
TAIL_PCT = 90


def tail(xs, pct):
    """The pct percentile (inclusive interpolation) and the number of jobs
    beyond it."""
    v = statistics.quantiles(xs, n=100, method="inclusive")[pct - 1]
    return v, sum(x > v for x in xs)


# Facts on record the traced run must reproduce (OPTIMIZATION_r12 Task 1
# and the r12 scale notes): a CorpusRefresh.refresh runs ~100 Spark jobs and
# at most 4 janino compiles once warm; the fixed-cost ETL tier keeps the
# executors far less busy than the executor-bound x8 curation tier. That
# tier's traced slot utilisation is a recorded figure (README.md), not a
# workload of this benchmark.
CURATION_SLOT_UTIL = 0.20


def self_check(workload, layers, facts):
    """The tracer's agreement with facts already on record."""
    out = []
    if workload == "store_refresh":
        jobs, compiles = facts["spark_jobs_per_refresh"], facts["compiles_per_refresh"]
        ok = bool(jobs) and all(70 <= j <= 140 for j in jobs)
        out.append(f"{'pass' if ok else 'FAIL'}: Spark jobs per CorpusRefresh.refresh {jobs} (~100)")
        ok = bool(compiles) and compiles[-1] <= 4
        out.append(f"{'pass' if ok else 'FAIL'}: warm compiles in the last traced refresh "
                   f"{compiles[-1] if compiles else None} (<= 4)")
    if workload == "etl_daily":
        util = layers["executor.slot_util"]
        ok = util < CURATION_SLOT_UTIL / 2
        out.append(f"{'pass' if ok else 'FAIL'}: executor.slot_util {util:.3f} is well below "
                   f"curation_x8's {CURATION_SLOT_UTIL:.3f} (< half)")
    out.append(f"tracing overhead {layers['trace.overhead_pct']:.1f}% (span cost only: "
               "traced vs untraced passes inside the traced JVM, whose listeners "
               "and counting FS run in both)")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop_children)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    busy = stray_jvms()
    if busy:
        fail("refusing to start: stray JVMs are burning CPU and would skew every "
             "timing:\n  " + "\n  ".join(busy), code=3)
    cp = build(root)
    t_built = time.time()

    work = os.path.join(root, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)

    g0 = time.time()
    info = gen.generate(a.workload, a.seed, data)
    gen_s = time.time() - g0
    print("inputs: " + ", ".join(f"{t} {v['rows']} rows {v['bytes']} B"
                                 for t, v in info.items()))

    results = os.path.join(work, "results.jsonl")
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{JVM_HEAP}", "-XX:+UseG1GC", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.scratch={work}/scratch",
              "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--data", data, "--work", work,
              "--out", results])
    budget = RUN_LIMIT_S - (time.time() - t_built) - 15
    with open(os.path.join(work, "jvm.log"), "w") as lf:
        rc = run_child(cmd, max(budget, 30), stdout=lf, stderr=subprocess.STDOUT, cwd=work)
    if rc is None:
        fail("harness JVM exceeded the run's time limit")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail(f"harness JVM failed (exit {rc})")

    recs = [json.loads(l) for l in open(results)]
    meta = next(r for r in recs if r["type"] == "meta")
    jobs = [r for r in recs if r["type"] == "job"]
    oracles = [r for r in recs if r["type"] == "oracle"]
    bad = oracle_check(data, oracles)
    for r in jobs:
        if r["key"] in bad and r["ok"]:
            r["ok"], r["error"] = False, bad[r["key"]]
    timed = [r for r in jobs if r["timed"]]
    failed = sum(not r["ok"] for r in timed)
    for r in jobs:
        if not r["ok"]:
            log(f"job {r['key']} (pass {r['pass']}) failed: {r.get('error')}")
    correct = all(r["ok"] for r in jobs)

    reads = [r["secs"] for r in timed if r["kind"] == "read"]
    writes = [r["secs"] for r in timed if r["kind"] == "write"]
    r_tail, r_beyond = tail(reads, TAIL_PCT)
    w_tail, w_beyond = tail(writes, TAIL_PCT)
    values = {
        "setup_s": gen_s + meta["session_s"] + meta["establish_s"] + meta["warm_s"],
        "rows_per_s": sum(r["in_rows"] for r in timed) / sum(r["secs"] for r in timed),
        "read_s_p50": statistics.median(reads),
        "read_s_tail": r_tail,
        "write_s_p50": statistics.median(writes),
        "write_s_tail": w_tail,
        "space_amp": meta["space_amp"],
        "peak_heap_mb": meta["peak_heap_mb"],
    }
    print(f"run: {a.workload} seed={a.seed} passes={meta['passes']} "
          f"timed_wall_s={meta['timed_wall_s']:.2f} session_s={meta['session_s']:.2f} "
          f"gen_s={gen_s:.2f} establish_s={meta['establish_s']:.2f} warm_s={meta['warm_s']:.2f} "
          f"load=closed-loop 1 client local[4]")
    print(f"samples: read_s_tail=p{TAIL_PCT} of n={len(reads)} ({r_beyond} beyond) "
          f"write_s_tail=p{TAIL_PCT} of n={len(writes)} ({w_beyond} beyond) "
          f"error_rate={failed / max(len(timed), 1):.4f} "
          f"oracle_checked={len(oracles)} oracle_failed={len(bad)}")
    for name, unit in END_TO_END:
        print(f"  {name:14s} {values[name]:.6g} {unit}")
    if a.trace:
        layers = dict(meta["layers"])
        for line in self_check(a.workload, layers, meta["self_check"]):
            print(f"self-check: {line}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": correct, "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
