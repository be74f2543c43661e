#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload doc_write --seed 1 --seconds 12 --trace 0

Workloads: doc_write, analytic_stream (see perfbench/README.md).
The first run in a checkout builds the library and the benchmark with sbt
(into target/ dirs and .bench_build/); later runs reuse that build until a
source file changes. Each run starts one JVM, writes its full result to
.bench_build/results/, deletes its scratch warehouse, prints every metric
by name with its unit, and ends with one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.1")
EXPECTED = os.path.join(BENCH, "expected")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.sha256")
WORKLOADS = ("doc_write", "analytic_stream")
# Upper bounds so that a stuck JVM or build cannot hang the caller.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
HEAP = "-Xmx4g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the JVM arguments (options and classpath)."""
    fp = fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                with open(LAUNCH) as fh:
                    return fh.read().splitlines()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "writeLaunch"], BENCH, env, fh, BUILD_LIMIT_S)
    if code != 0 or not os.path.exists(LAUNCH):
        tail(log)
        fail(f"build failed (exit {code}); log in {log}")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    with open(LAUNCH) as fh:
        return fh.read().splitlines()


def run_bounded(cmd, cwd, env, log, limit):
    """Run `cmd` in its own process group; kill the group after `limit`
    seconds. Returns the exit code (None when killed)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            lines = fh.read().splitlines()[-n:]
        print("\n".join(lines), file=sys.stderr)
    except OSError:
        pass


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    return ([m["name"] for m in b["end_to_end"]],
            [m["name"] for m in b["per_layer"]])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join(DATA, "orders.parquet")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout")
    e2e_names, layer_names = declared()
    jvm = build()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java"] + jvm[:-2] + [HEAP, "-XX:-UsePerfData",
                                  f"-Djava.io.tmpdir={run_dir}/tmp"]
           + jvm[-2:] + ["perfbench.Main",
                         "--workload", args.workload, "--seed", str(args.seed),
                         "--seconds", str(args.seconds), "--trace", args.trace,
                         "--data", DATA, "--run-dir", run_dir, "--out", out,
                         "--expected", EXPECTED])
    t0 = time.time()
    try:
        with open(log, "w") as fh:
            code = run_bounded(cmd, ROOT, dict(os.environ), fh, RUN_LIMIT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        tail(log)
        fail(f"run failed (exit {code}) after {time.time() - t0:.0f}s; log in {log}", 1)

    with open(out) as fh:
        res = json.load(fh)
    for f in res["failures"][:10]:
        print(f"FAILED {f['workload']}/{f['op']}#{f['index']}: "
              f"{f['class']}: {f['message'][:300]}")
    for name, m in list(res["end_to_end"].items()) + list(res["detail"].items()):
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    steal = res["info"].get("cpu_steal_share")
    if steal is not None:
        # a host that steals CPU slows every figure of the run
        print(f"{args.workload} host cpu_steal_share = {steal:.3f} (not a metric)")
    src = res["per_layer"] if args.trace == "1" else res["end_to_end"]
    names = layer_names if args.trace == "1" else e2e_names
    missing = [n for n in names if n not in src]
    # a run whose failures stopped it early still reports them
    if missing and res["correct"]:
        fail(f"result lacks metrics {missing}; see {out}", 1)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": src[n]["value"], "unit": src[n]["unit"]}
                    for n in names if n in src},
    }))


if __name__ == "__main__":
    main()
