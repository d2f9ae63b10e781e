#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload repair_job --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the program and the harness
from source (once per checkout, under .bench_build/), runs the workload on the
repository's test-data fixture (copied under perfbench/fixture/), checks the
outputs, and prints as its last line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer metrics of a separate traced run (artifacts
under .bench_build/trace/). See perfbench/README.md.
"""
import argparse
import ast
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170
CORES = min(4, os.cpu_count() or 1)

# Each workload's input and sizes; the harness reads the `params`.
WORKLOADS = {
    # the sf0.1 events table holds 100,000 turns in 1,500 conversations
    "repair_job": {"fixture": "sf0.1", "live_files_per_second_run": 4,
                   "params": {"conversations": 300, "backfill_files": 24,
                              "live_files_per_s": 20}},
    # the oracle's own scale: sf0.01, ten tables
    "operator_queries": {"fixture": "sf0.001", "params": {}},
}

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

CHECK_PY = os.path.join(ROOT, "tools", "check.py")
ORACLE_PASSED = os.path.join(BUILD, "oracle_passed.json")

VERIFY_LINE = re.compile(r"\[verify\] (\S+) (ok ([0-9.]+)s|failed)")


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to reuse a build per checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("digest") == digest:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    # `export` prints the classpath as one bare line among sbt's log lines
    cps = [l for l in out.stdout.splitlines()
           if not l.startswith("[") and "scala-2.13" in l and os.pathsep in l]
    if out.returncode != 0 or not cps:
        errors = [l for l in out.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors)[-4000:] + "\n")
        raise SystemExit("build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cps[-1]}, fh)
    return cps[-1]


def java(cp, work, main_class, args):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java"] + JVM_OPENS +
            ["-Xmx2g", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main_class] + args)


def run_jvm(cmd, log_path, budget_s, on_line=None, env=None):
    """Runs one JVM in its own process group, killed at the deadline.

    Its stderr goes to `log_path`; `on_line(line, monotonic_time)` sees each
    stderr line as it arrives. Returns (exit code, stdout, rusage)."""
    with open(log_path, "w") as err_log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                             text=True, start_new_session=True, env=env)
        timed_out = threading.Event()

        def kill():
            timed_out.set()
            os.killpg(p.pid, signal.SIGKILL)
        timer = threading.Timer(budget_s, kill)
        timer.start()
        out = []
        reader = threading.Thread(target=lambda: out.append(p.stdout.read()))
        reader.start()
        try:
            for line in p.stderr:
                now = time.monotonic()
                err_log.write(line)
                if on_line:
                    on_line(line, now)
            reader.join()
            # wait4 reaps the JVM and gives its CPU time and peak RSS
            _, status, usage = os.wait4(p.pid, 0)
            p.returncode = os.waitstatus_to_exitcode(status)
        finally:
            timer.cancel()
            try:
                os.killpg(p.pid, signal.SIGKILL)  # anything the JVM left behind
            except ProcessLookupError:
                pass
            if p.returncode is None:
                p.wait()
    if timed_out.is_set():
        raise SystemExit(f"{cmd[cmd.index('-cp') + 2]} timed out")
    return p.returncode, "".join(out), usage


def run_harness(cp, args, work, data, params, budget_s):
    trace_out = os.path.join(BUILD, "trace", f"{args.workload}-seed{args.seed}")
    cmd = java(cp, work, "perfbench.Main",
               [args.workload, str(args.seed), str(args.seconds), str(args.trace),
                work, data, trace_out] + [f"{k}={v}" for k, v in params.items()])
    code, out, _ = run_jvm(cmd, os.path.join(work, "jvm.log"), budget_s)
    if code != 0:
        raise SystemExit(f"harness exited with {code}")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    return json.loads(lines[-1])


def operator_queries(cp, work, data, remaining):
    """The timed cold pass: graft.Verify itself, in its own fresh JVM.

    Set-up runs from the launch to the start of the first query. CPU time and
    peak RSS are the Verify process's own, from wait4. The gate is
    tools/check.py, the DuckDB oracle, over Verify's dump."""
    out_dir = os.path.join(work, "verify")
    reports = []  # (query, seconds or None, arrival)
    launch = time.monotonic()

    def on_line(line, now):
        m = VERIFY_LINE.search(line)
        if m:
            reports.append((m.group(1), float(m.group(3)) if m.group(3) else None, now))

    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES))
    code, _, usage = run_jvm(java(cp, work, "graft.Verify", [data, out_dir]),
                             os.path.join(work, "jvm.log"), remaining() - 20, on_line, env)
    if code != 0 or not reports:
        raise SystemExit(f"graft.Verify exited with {code} after {len(reports)} queries")
    log(f"graft.Verify took {time.monotonic() - launch:.1f} s")
    ok = [q for q, s, _ in reports if s is not None]
    attempted = len(reports)
    print("input operator_queries " + json.dumps({"queries": attempted, "ok": len(ok)}))
    for old, new in relocate_oracle_files(out_dir):
        print(f"oracle: reads {os.path.relpath(new, ROOT)} of this checkout for {old}")
    correct = oracle_check(data, out_dir, remaining() - 5) and len(ok) == attempted
    # Verify prints a query's seconds at 10 ms resolution; its median would
    # repeat exactly from run to run. A query's time here is the gap between
    # its report and the one before (the first query's own figure for the
    # first), so the pass runs from the first query's start to the last report.
    _, first_s, first_at = reports[0]
    secs = [first_s or 0.0] + [b[2] - a[2] for a, b in zip(reports, reports[1:])]
    metrics = {
        "setup_s": (first_at - secs[0] - launch, "s"),
        "throughput_per_s": (len(secs) / sum(secs), "1/s"),
        "latency_p50_ms": (statistics.median(secs) * 1e3, "ms"),
        "cpu_s": (usage.ru_utime + usage.ru_stime, "s"),
        "peak_rss_mb": (usage.ru_maxrss / 1024.0, "MB"),
    }
    return {"correct": correct, "attempted": attempted, "failed": 0 if correct else attempted,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def relocate_oracle_files(out_dir):
    """Points the oracle SQL's absolute file paths at this checkout's files.

    An oracle query may name a repository file by the absolute path of the
    checkout it was written in (q_csv_source reads its CSV fixture that
    way), while Verify reads the same file relative to the working
    directory, the root of this checkout. A quoted absolute path outside
    this checkout whose tail names a file this checkout holds is rewritten
    to that file, so the oracle reads the very bytes Verify read. Nothing
    else in the SQL changes. Returns the (old, new) pairs."""
    path = os.path.join(out_dir, "oracle_sql.json")
    with open(path) as fh:
        oracle = json.load(fh)
    moved = {}

    def local(m):
        old = m.group(1)
        parts = old.strip("/").split("/")
        for i in range(len(parts)):
            new = os.path.join(ROOT, *parts[i:])
            if os.path.isfile(new):
                if new != old:
                    moved[old] = new
                return f"'{new}'"
        return m.group(0)
    oracle = {k: re.sub(r"'(/[^']+)'", local, v) for k, v in oracle.items()}
    with open(path, "w") as fh:
        json.dump(oracle, fh)
    return sorted(moved.items())


def dump_digest(data, out_dir):
    """Digest of Verify's dump as tools/check.py sees it, with its inputs.

    It runs check.py's own `canon` (columns by name, normalised values,
    sorted rows) over each query's output, read as check.py reads it, and
    adds check.py itself, the oracle SQL and the tables. check.py passes
    exactly when every query's canonical rows equal the DuckDB oracle's, so
    two dumps with one digest get one verdict."""
    with open(CHECK_PY) as fh:
        tree = ast.parse(fh.read())
    defs = [n for n in tree.body if isinstance(n, (ast.Import, ast.ImportFrom, ast.FunctionDef))]
    ns = {}
    exec(compile(ast.Module(body=defs, type_ignores=[]), CHECK_PY, "exec"), ns)
    h = hashlib.sha256(ast.dump(tree).encode())
    for name in sorted(os.listdir(data)):
        with open(os.path.join(data, name), "rb") as fh:
            h.update(name.encode() + fh.read())
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    for name in sorted(oracle):
        h.update(repr((name, oracle[name])).encode())
        pdir = os.path.join(out_dir, name)
        if os.path.isdir(pdir):
            t = ns["pq"].read_table(pdir)
            rows = [tuple(r[c] for c in t.column_names) for r in t.to_pylist()]
            h.update(repr(ns["canon"]([c.lower() for c in t.column_names], rows)).encode())
    return h.hexdigest()


def oracle_check(data, out_dir, budget_s):
    """tools/check.py, the DuckDB oracle, over Verify's dump.

    Its verdict depends only on `dump_digest`, so a dump whose digest
    check.py has passed before in this checkout passes without running the
    oracle queries again (they take about 18 s on a 4-core box, 11 s of it
    one query); any other dump goes through check.py."""
    digest = dump_digest(data, out_dir)
    passed = []
    if os.path.exists(ORACLE_PASSED):
        with open(ORACLE_PASSED) as fh:
            passed = json.load(fh)
    if digest in passed:
        print("oracle: ALL PASS (dump equal to one tools/check.py passed)")
        return True
    out = subprocess.run([sys.executable, CHECK_PY, data, out_dir], cwd=ROOT,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                         timeout=budget_s)
    lines = out.stdout.strip().splitlines()
    print(f"oracle: {lines[-1] if lines else ''}")
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-3000:])
        return False
    with open(ORACLE_PASSED, "w") as fh:
        json.dump(passed + [digest], fh)
    return True


def check_catalog(res):
    """The per-layer metrics the traced run reports must be BENCHMARK.json's."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
    got = {k: m["unit"] for k, m in res["metrics"].items()}
    if got != listed:
        raise SystemExit("BENCHMARK.json per_layer differs from the traced run's metrics: "
                         f"{sorted(set(got.items()) ^ set(listed.items()))}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("run from the root of a graft checkout (src/main/scala/graft missing)")
    cp = build()
    t_start = time.time()  # the build is not part of a run's budget
    remaining = lambda: DEADLINE_S - (time.time() - t_start)
    spec = WORKLOADS[args.workload]
    data = os.path.join(HERE, "fixture", spec["fixture"])
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    params = dict(spec["params"])
    if args.workload == "repair_job":
        # at most one trigger's worth of files (the job's maxFilesPerTrigger, 64) in all
        params["live_files"] = min(spec["live_files_per_second_run"] * args.seconds,
                                   64 - params["backfill_files"])
    try:
        if args.workload == "operator_queries" and not args.trace:
            res = operator_queries(cp, work, data, remaining)
        else:
            res = run_harness(cp, args, work, data, params, remaining())
            if args.trace:
                check_catalog(res)
    finally:
        logs = os.path.join(BUILD, "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"),
                        os.path.join(logs, f"{args.workload}-seed{args.seed}.log"))
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.time() - t_start:.1f} s")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
