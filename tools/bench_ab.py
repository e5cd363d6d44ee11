#!/usr/bin/env python3
"""Same-window A/B of the serving benchmark between two checkouts.

    python3 tools/bench_ab.py PARENT_DIR CHANGE_DIR \\
        [--workloads serve_ivf,serve_hnsw] [--pairs 10] [--seconds 10] \\
        [--first-seed 1] [--out ab.json]

Each directory is a full checkout (make it with `git archive <rev> | tar -x
-C DIR`; never copy a built tree, see the verify notes). For every workload
and seed the script runs `python3 perfbench/run.py --trace 0` once in each
directory, back to back, so both sides of a pair see the same host window;
the side that goes first alternates from seed to seed. It then prints, per
workload and per end-to-end metric of CHANGE_DIR's BENCHMARK.json, the
median (q1-q3) of each side, the ratio of the medians, how many pairs the
change won and a verdict (see `judge`). It exits non-zero when any run
failed, printed `correct: false` or counted a failed operation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(directory, workload, seed, seconds):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=directory, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        verdict = json.loads(lines[-1])
    except (IndexError, ValueError):
        verdict = None
    return p.returncode, verdict


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def judge(parent, change, wins, pairs, bound, lower):
    """One metric's verdict from the (q1, median, q3) of each side, the
    change's win count over `pairs` pairs and the metric's relative bound:

    gain                the change wins at least 9 of 10 pairs and the
                        medians differ, the change's way, by more than the
                        parent's q1-q3 spread;
    worse beyond bound  the change's median is worse than the parent's by
                        more than `bound` of the parent's median;
    unresolved          the parent's q1-q3 spread exceeds `bound` of its
                        median, so a within-bound reading means nothing;
    within bound        otherwise.
    """
    scale = abs(parent[1]) or 1.0
    better_by = (parent[1] - change[1]) if lower else (change[1] - parent[1])
    spread = parent[2] - parent[0]
    if wins >= 0.9 * pairs and better_by > spread:
        return "gain"
    if -better_by > bound * scale:
        return "worse beyond bound"
    if spread > bound * scale:
        return "unresolved"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", default="serve_ivf,serve_hnsw")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    sides = {"parent": args.parent, "change": args.change}
    runs = {}  # workload -> side -> [metrics dict per seed]
    bad = []
    for workload in args.workloads.split(","):
        runs[workload] = {"parent": [], "change": []}
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                code, verdict = run_once(sides[side], workload, seed, args.seconds)
                ok = (code == 0 and verdict is not None
                      and verdict.get("correct") is True
                      and verdict.get("failed", 1) == 0)
                vals = ({k: v["value"] for k, v in verdict["metrics"].items()}
                        if verdict else {})
                runs[workload][side].append(vals)
                status = "ok" if ok else "FAILED"
                if not ok:
                    bad.append(f"{workload} seed {seed} {side}: exit {code}, "
                               f"verdict {json.dumps(verdict)[:200]}")
                shown = " ".join(f"{m['name']}={vals.get(m['name'], float('nan')):.4g}"
                                 for m in metrics)
                print(f"{workload} seed {seed} {side:6s} {status} {shown}", flush=True)

    if args.out:
        with open(args.out, "w") as f:
            json.dump(runs, f, indent=1)
    print()
    for workload, by_side in runs.items():
        print(f"== {workload} ({args.pairs} pairs): parent -> change, "
              "median (q1-q3), change wins")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            pairs = [(a[name], b[name]) for a, b in
                     zip(by_side["parent"], by_side["change"])
                     if name in a and name in b]
            if not pairs:
                print(f"  {name}: no complete pair")
                continue
            pa = quartiles([a for a, _ in pairs])
            ch = quartiles([b for _, b in pairs])
            wins = sum(1 for a, b in pairs if (b < a if lower else b > a))
            ratio = ch[1] / pa[1] if pa[1] else float("nan")
            print(f"  {name} ({m['unit']}, {m['better']} is better): "
                  f"{pa[1]:.4g} ({pa[0]:.4g}-{pa[2]:.4g}) -> "
                  f"{ch[1]:.4g} ({ch[0]:.4g}-{ch[2]:.4g}), "
                  f"x{ratio:.3f}, wins {wins}/{len(pairs)}: "
                  f"{judge(pa, ch, wins, len(pairs), m['bound'], lower)}")
    if bad:
        print("\nfailed runs:\n  " + "\n  ".join(bad))
        sys.exit(1)


if __name__ == "__main__":
    main()
