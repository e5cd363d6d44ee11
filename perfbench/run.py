#!/usr/bin/env python3
"""Run one benchmark workload against the library built from source.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the library and the
benchmark with sbt (perfbench/build.sbt); later runs reuse that build
until a source file changes. Every file the run writes stays under
`.bench_build/` and the sbt `target/` directories of the checkout.

Standard output ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
holding every end-to-end metric of BENCHMARK.json, or with `--trace 1`
every per-layer metric. The exit code is 0 only when every output check
passed.
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
BENCH_DIR = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change must trigger a rebuild."""
    files = ["build.sbt", os.path.join("project", "build.properties"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for src in (os.path.join("src", "main"), os.path.join("perfbench", "src", "main")):
        for d, _, names in os.walk(os.path.join(ROOT, src)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for rel in build_inputs():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, limit_s, log, **kw):
    """Run `cmd` in its own process group, killing the group at the limit."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=max(1, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def ensure_built(sha, logs):
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == sha:
                return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(logs, "build.log")
    code = run_bounded(["sbt", "--batch", "-Dsbt.server.autostart=false", "launch"],
                       BUILD_LIMIT_S, log, cwd=HERE, env=env)
    if code != 0 or not os.path.exists(LAUNCH):
        print(tail(log), file=sys.stderr)
        fail(f"build failed (exit {code}); log in {log}", 3)
    with open(STAMP, "w") as f:
        f.write(sha)
    return True


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t0 = time.time()
    load = os.getloadavg()[0]

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("the library sources (build.sbt, src/main/scala) are not here; "
             "run from the repository root of a full checkout")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    logs = os.path.join(BENCH_DIR, "logs")
    os.makedirs(logs, exist_ok=True)
    sha = source_hash()
    built = ensure_built(sha, logs)

    with open(LAUNCH) as f:
        launch = [line.rstrip("\n") for line in f if line.strip()]
    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    work = os.path.join(BENCH_DIR, "work", f"{tag}-{os.getpid()}")
    tmp = os.path.join(BENCH_DIR, "tmp", str(os.getpid()))
    out = os.path.join(BENCH_DIR, "results", f"{tag}.json")
    for d in (work, tmp, os.path.dirname(out)):
        os.makedirs(d, exist_ok=True)
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    cmd = (["java", f"-Djava.io.tmpdir={tmp}"] + launch +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out])
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    log = os.path.join(logs, f"{tag}.log")
    try:
        code = run_bounded(cmd, limit, log, cwd=work, env=env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"run exceeded its time limit; log in {log}", 4)
    if code != 0 or not os.path.exists(out):
        print(tail(log), file=sys.stderr)
        fail(f"run failed (exit {code}); log in {log}", 5)
    with open(out) as f:
        res = json.load(f)

    kind = "per_layer" if a.trace else "end_to_end"
    measured = res[kind]
    problems = list(res["check_failures"])
    not_run = set(res["not_run"]) if a.trace else set()
    metrics = {}
    for m in spec[kind]:
        v = measured.get(m["name"])
        if v is None and m["name"] in not_run:
            v = 0.0  # this workload does not exercise the layer
        if v is None or (kind == "end_to_end" and v <= 0):
            problems.append(f"metric {m['name']} not measured ({v})")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    prov = dict(res["provenance"], workload=a.workload, seed=a.seed,
                seconds=a.seconds, trace=a.trace, nproc=os.cpu_count(),
                load_at_launch=load, git_commit=git_commit(), source_sha256=sha,
                attempted=int(res["attempted"]), checks=int(res["checks"]))
    for note in res["notes"]:
        print(f"# {note}")
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    if a.trace:
        print("end_to_end " + json.dumps(res["end_to_end"]))
    print("provenance " + json.dumps(prov))
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    sys.stdout.flush()
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
