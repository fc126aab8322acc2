#!/usr/bin/env python3
"""Benchmark of the data-integration engine: one command per workload.

    python3 perfbench/run.py --workload mc_study|estimate_dist|catalog_slice|all
                             --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build) and records the classpath; later runs start the harness JVM
directly under local[nproc].

Output: a report line per workload with the figures described in
perfbench/README.md, then, as the last line, one JSON object with the keys
correct, attempted, failed and metrics. With --trace 0 the metrics are the
end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer metrics.
--smoke runs a tiny version of every workload and check (sf0.001 tables,
small N, one pass).

    python3 perfbench/run.py --record-fingerprints

re-records the catalog_slice output fingerprints in catalog_slice.json.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch")
OUT = os.path.join(BENCH, "out")
WORKLOADS = ["mc_study", "estimate_dist", "catalog_slice"]
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 175
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(REPO, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(REPO, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in os.listdir(d)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for root in roots:
        for dirpath, _, names in os.walk(root):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources."""
    stamp = os.path.join(LAUNCH, "stamp")
    want = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ)
    # resolve only from the local caches, as the repository's own test
    # command does
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Xmx2g -Dsbt.offline=true" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    t0 = time.time()
    rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                        timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.exit(f"[perfbench] sbt build failed with exit code {rc}")
    with open(stamp, "w") as fh:
        fh.write(want)
    log(f"build took {time.time() - t0:.0f} s")


def jvm_command(main_args):
    with open(os.path.join(LAUNCH, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(LAUNCH, "jvm_opts.txt")) as fh:
        # the root build's JVM flags, minus its heap size
        opts = [o for o in fh.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(OUT, "work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", *opts, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Main", "--bench-dir", BENCH,
            "--cores", str(len(os.sched_getaffinity(0))), *main_args]


def run_jvm(cmd, deadline):
    """Run the harness JVM in its own process group; stop it at the deadline."""
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit("[perfbench] the harness did not finish in time")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def expected_metrics(trace):
    """Metric names the result must carry, from BENCHMARK.json when present."""
    spec_file = os.path.join(REPO, "BENCHMARK.json")
    if not os.path.exists(spec_file):
        return None
    with open(spec_file) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_workload(args, workload, deadline):
    result = os.path.join(OUT, f"result-{workload}-{args.seed}-{args.trace}.json")
    if os.path.exists(result):
        os.remove(result)
    main_args = ["--workload", workload, "--seed", str(args.seed), "--seconds",
                 str(args.seconds), "--trace", str(args.trace), "--out", result]
    rc = run_jvm(jvm_command(main_args + (["--smoke"] if args.smoke else [])), deadline)
    if rc != 0 or not os.path.exists(result):
        sys.exit(f"[perfbench] {workload}: the harness exited with code {rc}")
    with open(result) as fh:
        res = json.load(fh)
    want = expected_metrics(args.trace)
    if want is not None and sorted(want) != sorted(res["metrics"]):
        sys.exit(f"[perfbench] {workload}: metrics {sorted(res['metrics'])} "
                 f"do not match BENCHMARK.json {sorted(want)}")
    broken = [k for k, v in {**res["metrics"], **res["report"]}.items() if v["value"] is None]
    if broken:
        sys.exit(f"[perfbench] {workload}: no finite value for {', '.join(broken)}")
    figures = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in res["report"].items())
    print(f"{workload}: correct={str(res['correct']).lower()} attempted={res['attempted']} "
          f"failed={res['failed']} passes={res['passes']} {figures}")
    for err in res["errors"]:
        print(f"{workload}: {err}")
    return res


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--record-fingerprints", action="store_true")
    args = p.parse_args()
    if not args.record_fingerprints and None in (args.workload, args.seed, args.seconds):
        p.error("--workload, --seed and --seconds are required")

    if not os.path.isfile(os.path.join(REPO, "build.sbt")) or \
            not os.path.isdir(os.path.join(REPO, "src", "main", "scala")):
        sys.exit("[perfbench] run from a checkout of the repository: "
                 "the program's sources (build.sbt, src/main/scala) are missing")
    build()
    if args.record_fingerprints:
        sys.exit(run_jvm(jvm_command(["--record-fingerprints"]), time.time() + 3600))
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        results[w] = run_workload(args, w, time.time() + RUN_TIMEOUT_S)
        line = {k: results[w][k] for k in ("correct", "attempted", "failed", "metrics")}
        if len(workloads) == 1:
            print(json.dumps(line), flush=True)
    if len(workloads) > 1:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()}}), flush=True)


if __name__ == "__main__":
    main()
