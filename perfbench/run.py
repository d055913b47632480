#!/usr/bin/env python3
"""perfbench: the repository's benchmark, one command for every workload.

One measured run (what BENCHMARK.json names):

    python3 perfbench/run.py --workload etl_lifecycle --seed 1 --seconds 5 --trace 0

builds the program and the harness from source when they changed (sbt, into
`target/` and `.bench_build/`), starts one fresh JVM at local[4] with 4
shuffle partitions, and prints one JSON line last: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`). A traced run also writes its per-query /
per-batch attribution to `.bench_build/perfbench/traces/`.

Steadiness (the command the bounds in BENCHMARK.json were set with):

    python3 perfbench/run.py --workload memo_routes --repeat 10 [--first-seed 1]

runs the workload ten times with seeds 1..10, each in a fresh process, and
prints every metric's median, quartiles and spread (IQR / median) against its
bound.

count() versus full rows, for the query workloads (the README's table):

    python3 perfbench/run.py --count-table

The exit code is not 0 when the build fails, the JVM fails, a check of the
program's output fails, or the result does not fit the contract.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "fixture")
QUERY_WORKLOADS = ("memo_routes",)
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# --------------------------------------------------------------------- build
def _stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness if needed; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program sources: {need} missing at {ROOT}")
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = _stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh2:
                    return fh2.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's own global state stays in the checkout, beside the build output
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(ROOT, '.bench_build', 'sbt')}"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building program and harness (sbt)")
    t0 = time.time()
    with open(os.path.join(OUT, "build.log"), "w") as logf:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=logf, text=True,
                           timeout=BUILD_TIMEOUT_S)
        logf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"[perfbench] build failed; see {os.path.join(OUT, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# ----------------------------------------------------------------------- run
def run_jvm(cp, main, args, run_dir, timeout):
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", "-Duser.language=en",
            "-Duser.country=US", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
            "-Dspark.ui.enabled=false", "-cp", cp, main] + [str(a) for a in args]
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                             stdout=out, stderr=err)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        with open(os.path.join(run_dir, "jvm.err")) as fh:
            tail = fh.read()[-3000:]
        log(f"JVM exited with {code}:\n{tail}")
        raise SystemExit(1)
    with open(os.path.join(run_dir, "jvm.out")) as fh:
        return fh.read()


def validate(result, bench, trace):
    """The result line's contract; returns a list of problems."""
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(result)}")
    if not isinstance(result.get("correct"), bool):
        problems.append("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(result.get(k), int) or isinstance(result.get(k), bool):
            problems.append(f"{k} is not an integer")
    if isinstance(result.get("attempted"), int) and result["attempted"] < 1:
        problems.append("attempted < 1")
    want = bench["per_layer" if trace else "end_to_end"]
    metrics = result.get("metrics", {})
    if set(metrics) != {m["name"] for m in want}:
        problems.append(f"metrics {sorted(metrics)} != {sorted(m['name'] for m in want)}")
    for m in want:
        got = metrics.get(m["name"])
        if not isinstance(got, dict) or set(got) != {"value", "unit"}:
            problems.append(f"{m['name']}: {got!r}")
            continue
        v = got["value"]
        if not isinstance(v, (int, float)) or isinstance(v, bool) or not math.isfinite(v):
            problems.append(f"{m['name']}: value {v!r}")
        if got["unit"] != m["unit"]:
            problems.append(f"{m['name']}: unit {got['unit']!r}")
        if not trace and isinstance(v, (int, float)) and v <= 0:
            problems.append(f"{m['name']}: {v} is not above 0")
    return problems


def single(args):
    bench = spec()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        raise SystemExit(f"[perfbench] unknown workload {args.workload}")
    cp = build()
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        launch_ms = int(time.time() * 1000)
        run_jvm(cp, "perfbench.Main", [args.workload, args.seed, args.seconds,
                                       1 if args.trace else 0, run_dir, FIXTURE, launch_ms],
                run_dir, JVM_TIMEOUT_S)
        with open(os.path.join(run_dir, "result.json")) as fh:
            r = json.load(fh)
        correct = bool(r["checks_ok"])
        for c in r["checks"]:
            log(f"check failed: {c}")
        if args.workload in QUERY_WORKLOADS:
            failures = __import__("oracle").compare(
                FIXTURE, os.path.join(run_dir, "dump"), r["queries"],
                os.path.join(OUT, "oracle_cache"))
            for f in failures:
                log(f"oracle mismatch: {f}")
            correct = correct and not failures
        for e in r["errors"]:
            log(f"failed operation: {e}")
        if args.trace:
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            dest = os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.json")
            shutil.copyfile(os.path.join(run_dir, "trace.json"), dest)
            log(f"trace written to {os.path.relpath(dest, ROOT)}")
        want = bench["per_layer" if args.trace else "end_to_end"]
        values = r["per_layer" if args.trace else "end_to_end"]
        out = {"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
               "metrics": {m["name"]: {"value": values.get(m["name"]), "unit": m["unit"]}
                           for m in want}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    problems = validate(out, bench, args.trace)
    if problems:
        log("result breaks the contract: " + "; ".join(problems))
        raise SystemExit(3)
    print(json.dumps(out))
    if not correct:
        raise SystemExit(1)


# ------------------------------------------------------------------ repeat
def repeat(args):
    bench = spec()
    metrics = bench["per_layer" if args.trace else "end_to_end"]
    runs = []
    for i in range(args.repeat):
        seed = args.first_seed + i
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds),
               "--trace", "1" if args.trace else "0"]
        t0 = time.time()
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            raise SystemExit(f"[perfbench] run with seed {seed} failed ({p.returncode})")
        r = json.loads(lines[-1])
        runs.append(r)
        log(f"seed {seed}: {time.time() - t0:.0f} s wall, "
            + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()))
    print(f"{args.workload}: {len(runs)} runs, seeds {args.first_seed}.."
          f"{args.first_seed + len(runs) - 1}, run_seconds {args.seconds}")
    shares = sorted({f"{r['failed']}/{r['attempted']}" for r in runs})
    print(f"failed/attempted: {', '.join(shares)}")
    print(f"{'metric':28} {'unit':8} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
    for m in metrics:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("nan")
        bound = m.get("bound")
        flag = "" if bound is None else (" ok" if spread <= bound / 3 else
                                         (" <=bound" if spread <= bound else " OVER"))
        print(f"{m['name']:28} {m['unit']:8} {med:11.5g} {q1:11.5g} {q3:11.5g} "
              f"{spread:7.3f} {'' if bound is None else bound:>6}{flag}")


# ------------------------------------------------------------- count table
def count_table(args):
    cp = build()
    run_dir = os.path.join(OUT, "runs", f"count-table-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        out = run_jvm(cp, "perfbench.CountVsFull", [FIXTURE, run_dir], run_dir, 600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(out, end="")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--count-table", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, HERE)
    if args.count_table:
        return count_table(args)
    if not args.workload:
        ap.error("--workload is required")
    if args.seconds is None:
        args.seconds = spec()["run_seconds"]
    if args.repeat:
        return repeat(args)
    return single(args)


if __name__ == "__main__":
    main()
