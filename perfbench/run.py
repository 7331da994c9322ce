#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (the program's own build, as a source
dependency of perfbench/build.sbt) and caches the classpath under
.bench_build/; later runs start the JVM directly. The last line of
standard output is the result: {"correct", "attempted", "failed", "metrics"}.

Workloads: dashboard_read, ingest_and_read, batch_analytics (see README.md).
For batch_analytics the first round's results are compared with DuckDB
(tools/oracle_check.py over the same parquet tables) after the JVM exits.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("dashboard_read", "ingest_and_read", "batch_analytics")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in fs)
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p.encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    stamp = source_stamp()
    cached = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cached):
        with open(cached) as f:
            c = json.load(f)
        if c.get("stamp") == stamp:
            return c["classpath"]
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=880)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cached, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1].strip()


def run_jvm(cp, args, work, cpus, sf):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cpus", str(cpus), "--sf", sf]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"stopped by signal {signum}")

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"workload did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
    return [l for l in out.splitlines() if l.startswith("{")]


def batch_oracle(result, work, sf):
    """Compare the first round's results with DuckDB; a mismatch fails every
    execution of that query (each later round was checked against round 1).
    """
    res = os.path.join(work, "results")
    with open(os.path.join(res, "executions.json")) as f:
        execs = json.load(f)
    with open(os.path.join(res, "oracle_sql.json")) as f:
        oracle = json.load(f)
    names = sorted(execs)
    missing = [n for n in names if n not in oracle]
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), res, sf,
                        ",".join(names)], stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                       timeout=150)
    verdict = {}
    for line in p.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0]
    extra = 0
    for n in names:
        if verdict.get(n) != "PASS":
            log(f"{n}: oracle {'has no SQL' if n in missing else verdict.get(n, 'gave no verdict')}")
            extra += execs[n]["attempted"] - execs[n]["failed"]
    log(f"oracle: {sum(v == 'PASS' for v in verdict.values())}/{len(names)} pass "
        f"({time.time() - t0:.1f} s)")
    result["failed"] += extra
    result["correct"] = result["correct"] and hash_self_check(res, names)
    return result


def hash_self_check(res, names):
    """The oracle's canonical hash must flag one deliberately moved value."""
    import duckdb
    sys.dont_write_bytecode = True  # no __pycache__ left in tools/
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from oracle_check import table_hash
    con = duckdb.connect()
    for n in names:
        rel = con.sql(f"SELECT * FROM parquet_scan('{res}/{n}/*.parquet')")
        cols, rows = [d[0] for d in rel.description], [list(r) for r in rel.fetchall()]
        for r in rows:
            for i, v in enumerate(r):
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    bad = [list(x) for x in rows]
                    bad[rows.index(r)][i] = v * 1.001 + 1
                    ok = table_hash(cols, rows) != table_hash(cols, bad)
                    if not ok:
                        log(f"self-check: the oracle hash missed a moved value in {n}")
                    return ok
    log("self-check: no numeric value to move")
    return False


def declared_ok(result, trace):
    """The metrics printed must be exactly those BENCHMARK.json declares."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return
    with open(path) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if want != got:
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(want.items()) ^ set(got.items()))}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no program sources next to perfbench/: run from the root of a checkout")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(os.path.join("~", "testdata", "sf0.1")))
    if args.workload == "batch_analytics" and not os.path.isdir(sf):
        raise SystemExit(f"batch_analytics needs the sf0.1 tables at {sf} (SPARK_GRAFT_SF_DIR)")
    cpus = len(os.sched_getaffinity(0))

    cp = classpath()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        lines = run_jvm(cp, args, work, cpus, sf)
        if not lines:
            raise SystemExit("benchmark JVM printed no result")
        result = json.loads(lines[-1])
        if args.workload == "batch_analytics":
            result = batch_oracle(result, work, sf)
        trace = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace):
            keep = os.path.join(BUILD, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(trace, keep)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared_ok(result, args.trace)
    for line in lines[:-1]:
        if line.startswith(('{"env"', '{"detail"')):
            print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
