#!/usr/bin/env python3
"""graft's benchmark: the ETL cycle, a dashboard session and a registry sweep.

Usage (from the repository root):

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 12

The first call builds graft and the benchmark with sbt (perfbench/build.sbt
refers to the repository's own build); later calls reuse the build until a
source file changes. Each workload runs in one JVM with one local[nproc]
Spark session. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}, where metrics are the
end-to-end metrics with --trace 0 and the per-layer metrics with --trace 1.
--all runs every workload, prints every figure by name and exits non-zero
if any output check failed. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_cycle", "registry_sweep"]
DATA = os.path.join(HERE, "data", "sf0.001")
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
OUT = os.path.join(HERE, ".out")
JVM_HEAP = "3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the whole group is
    killed and waited for."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def build_inputs():
    """Every file the build reads, relative to the repository root."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            paths += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    return paths


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark unless the last build is current."""
    want = stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories")
        + " -Dsbt.offline=true -Xmx2g")
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as f:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                         850, cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if code != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (log: {log})")
    with open(STAMP, "w") as f:
        f.write(want + "\n")


def run_jvm(workload, seed, seconds, trace, work, out, spans):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, opts = lines[0], [o for o in lines[1:] if o]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}"] + opts +
           ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--data", DATA, "--out", out, "--spans", spans])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        code = run_group(cmd, 170, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-60:]))
        fail(f"{workload}: benchmark JVM failed (exit {code})", 1)
    with open(out) as f:
        return json.load(f)


def oracle_failures(work):
    """The first pass's results against DuckDB, under the comparison rules
    of scripts/check_oracle.py (columns sorted by name, rows positional)."""
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    sys.dont_write_bytecode = True  # leave scripts/ as it is
    import check_oracle
    import duckdb
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    failures = []
    for name in sorted(oracle_sql):
        try:
            s = con.execute(f"SELECT * FROM '{results}/{name}/*.parquet'")
            sc, sr = check_oracle.canon([c[0] for c in s.description], s.fetchall())
            o = con.execute(oracle_sql[name])
            oc, orr = check_oracle.canon([c[0] for c in o.description], o.fetchall())
        except Exception as e:  # a query the oracle cannot read is a failure
            failures.append(f"{name}: {e}")
            continue
        if sc != oc or sr != orr:
            failures.append(f"{name}: result differs from the DuckDB oracle")
    return failures, len(oracle_sql)


def run_one(workload, seed, seconds, trace):
    work = os.path.join(HERE, ".work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    spans = os.path.join(OUT, f"{workload}-seed{seed}-spans.jsonl")
    try:
        res = run_jvm(workload, seed, seconds, trace, work, os.path.join(work, "result.json"),
                      spans)
        if workload == "registry_sweep":
            bad, n = oracle_failures(work)
            res["named"]["oracle_checked"] = {"value": n, "unit": "count"}
            for b in bad:
                print(f"perfbench: FAILED {b}", file=sys.stderr)
            res["failed"] += len(bad)
            res["problems"] += bad
            res["named"]["failed_ratio"]["value"] = res["failed"] / max(1, res["attempted"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}.json"), "w") as f:
        json.dump(res, f, indent=1)
    return res


def show(res, trace):
    for k, m in res["named"].items():
        print(f"{res['workload']:18s} {k:24s} {m['value']:>14.6g} {m['unit']}")
    if trace:
        for k, m in res["per_layer"].items():
            print(f"{res['workload']:18s} {k:40s} {m['value']:>14.6g} {m['unit']}")
    for p in res["problems"]:
        print(f"{res['workload']:18s} FAILED {p}")


def overhead(traced):
    """Tracing overhead against the untraced run of the same workload and
    seed, when one was made before: the difference in measured wall."""
    path = os.path.join(OUT, f"{traced['workload']}-seed{traced['seed']}-trace0.json")
    if os.path.exists(path):
        with open(path) as f:
            plain = json.load(f)
        d = traced["wall_s"] / plain["wall_s"] - 1
        print(f"{traced['workload']:18s} tracing overhead: measured wall {traced['wall_s']:.2f} s "
              f"traced vs {plain['wall_s']:.2f} s untraced ({d:+.1%}; probes "
              f"{traced['per_layer']['self.probe_share']['value']:.1%} of the traced wall)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("give --workload or --all")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not at {ROOT}/src; run from a checkout of the repository")
    if not os.path.isdir(DATA):
        fail(f"fixture tables missing at {DATA}")
    build()
    if a.all:
        bad = 0
        for w in WORKLOADS:
            res = run_one(w, a.seed, a.seconds, a.trace)
            show(res, a.trace)
            bad += res["failed"]
        sys.exit(1 if bad else 0)
    res = run_one(a.workload, a.seed, a.seconds, a.trace)
    show(res, a.trace)
    if a.trace:
        overhead(res)
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
