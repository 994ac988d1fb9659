#!/usr/bin/env python3
"""Paired, interleaved A/B of two commits on the graft benchmark.

    python3 perfbench/ab.py --base <commit> --head <commit> [--pairs 10]
                            [--workloads scene_analytics,tile_ingest] [--scratch DIR]

Each commit is exported once with `git archive` into a scratch tree, the
benchmark directory of *this* checkout is copied into both trees (so both
sides run identical benchmark code), and each tree builds once. Then
`--pairs` ABAB... pairs run for BENCHMARK.json's run_seconds, alternating
which side goes first; both sides of a pair use the same seed and every
pair a new one.

For each workload x end-to-end metric it prints both sides' median and
quartiles and the share of pairs the head side won (ties count for
neither). A metric is "unresolved" when the base side's own spread (the
quartile distance over its median) is wider than the metric's bound in
BENCHMARK.json, unless every head run beats every base run; "better" needs the head to win at least 9 pairs in 10 and
the medians to differ by more than the base's quartile distance; "worse"
means the head's median is worse than the base's by more than the bound.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def export(commit, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", commit], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    bench = os.path.join(dest, os.path.basename(HERE))
    shutil.rmtree(bench, ignore_errors=True)
    shutil.copytree(HERE, bench, ignore=shutil.ignore_patterns("target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(dest, "BENCHMARK.json"))


def run(tree, workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(tree, os.path.basename(HERE), "run.py"),
                        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", "0"], cwd=tree, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"benchmark failed in {tree} on {workload}")
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--base", required=True)
    ap.add_argument("--head", required=True)
    ap.add_argument("--pairs", type=int, default=10, help="at least 10 for a claim")
    ap.add_argument("--workloads")
    ap.add_argument("--scratch", help="where to export the two trees (default: a new temp dir)")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    metrics = {m["name"]: m for m in spec["end_to_end"]}

    scratch = args.scratch or tempfile.mkdtemp(prefix="perfbench-ab-")
    trees = {"base": os.path.join(scratch, "base"), "head": os.path.join(scratch, "head")}
    export(args.base, trees["base"])
    export(args.head, trees["head"])

    results = {(side, w): [] for side in trees for w in workloads}
    for i in range(args.pairs):
        seed = 1000 + i
        order = ["base", "head"] if i % 2 == 0 else ["head", "base"]
        for w in workloads:
            for side in order:
                res = run(trees[side], w, seed, seconds)
                if res["failed"]:
                    print(f"warning: {side} {w} seed {seed}: {res['failed']} failed ops", file=sys.stderr)
                results[(side, w)].append(res["metrics"])
            print(f"pair {i + 1}/{args.pairs} ({'-'.join(order)}) done", file=sys.stderr)

    summary = []
    print(f"{'workload':16s} {'metric':14s} {'base median [q1,q3]':>30s} {'head median [q1,q3]':>30s} "
          f"{'head wins':>9s}  verdict")
    for w in workloads:
        for name, m in metrics.items():
            a = [r[name]["value"] for r in results[("base", w)]]
            b = [r[name]["value"] for r in results[("head", w)]]
            qa, qb = quartiles(a), quartiles(b)
            lower = m["better"] == "lower"
            wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
            spread = (qa[2] - qa[0]) / qa[1] if qa[1] else float("inf")
            worse_by = ((qb[1] - qa[1]) if lower else (qa[1] - qb[1])) / qa[1] if qa[1] else 0.0
            every_run_better = max(b) < min(a) if lower else min(b) > max(a)
            if spread > m["bound"] and not every_run_better:
                verdict = "unresolved"
            elif wins >= 0.9 * len(a) and abs(qb[1] - qa[1]) > qa[2] - qa[0]:
                verdict = "better"
            elif worse_by > m["bound"]:
                verdict = "worse"
            else:
                verdict = "no change"
            summary.append({"workload": w, "metric": name, "unit": m["unit"], "base": qa, "head": qb,
                            "head_wins": wins, "pairs": len(a), "base_spread": spread,
                            "bound": m["bound"], "verdict": verdict})
            print(f"{w:16s} {name:14s} {qa[1]:12.5g} [{qa[0]:.5g},{qa[2]:.5g}] "
                  f"{qb[1]:12.5g} [{qb[0]:.5g},{qb[2]:.5g}] {wins:4d}/{len(a):<4d}  {verdict}")
    print(json.dumps({"base": args.base, "head": args.head, "seconds": seconds, "summary": summary}))


if __name__ == "__main__":
    main()
