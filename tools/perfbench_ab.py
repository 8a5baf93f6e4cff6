#!/usr/bin/env python3
"""Paired A/B of two revisions on the repo benchmark (`perfbench/run.py`).

  python3 tools/perfbench_ab.py --base HEAD~1 --change HEAD \
      --workload lake --seeds 911-920 [--workload dashboard] \
      [--seconds 20] [--trace 0] [--scratch DIR] [--claim lake:ops_per_s]

Each revision is extracted with `git archive` into its own directory under
`--scratch` (clean checkouts: no `target/`, no `.bench_build/`), so each side
builds from its own sources. For every workload and seed it runs one pair,
alternating which side goes first, and reads the JSON result on the last
stdout line. It then prints, per metric, the median [q1, q3] of each side,
the change's win count (direction from BENCHMARK.json) and, for every
`--claim workload:metric`, the verdict: the change must win at least 9 of
10 pairs and its median must beat the base median by more than the base's
interquartile range. A run with `failed` > 0 is reported and fails the
verdict.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def extract(rev, scratch):
    sha = subprocess.run(["git", "rev-parse", "--short=12", rev], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout.strip()
    dest = os.path.join(scratch, sha)
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "archive", sha], cwd=REPO, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    return sha, dest


def run_one(checkout, workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench failed in {checkout} ({workload}, seed {seed}):\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    result["metrics"] = {k: m["value"] for k, m in result["metrics"].items()}
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def directions(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {m["name"]: m["better"] for m in bench.get("end_to_end", []) + bench.get("per_layer", [])}


def summarize(workload, pairs, better, claims):
    """Print the per-metric table; return False if a claim or a run failed."""
    ok = True
    failed = [(i, side) for i, pr in enumerate(pairs) for side in ("base", "change")
              if pr[side].get("failed", 0) > 0]
    for i, side in failed:
        print(f"  pair {i}: {side} run had failed operations")
        ok = False
    names = sorted(set(pairs[0]["base"]["metrics"]) & set(pairs[0]["change"]["metrics"]))
    print(f"\n{workload}: {len(pairs)} pairs")
    print(f"  {'metric':36} {'base median [q1, q3]':>30} {'change median [q1, q3]':>30} wins")
    for name in names:
        b = [pr["base"]["metrics"][name] for pr in pairs]
        c = [pr["change"]["metrics"][name] for pr in pairs]
        bq, cq = quartiles(b), quartiles(c)
        sign = {"higher": 1, "lower": -1}.get(better.get(name))
        wins = "" if sign is None else str(sum(1 for x, y in zip(b, c) if sign * (y - x) > 0))
        print(f"  {name:36} {bq[1]:12.4g} [{bq[0]:.4g}, {bq[2]:.4g}]".ljust(69) +
              f" {cq[1]:12.4g} [{cq[0]:.4g}, {cq[2]:.4g}]".ljust(31) + f" {wins}")
    for name in claims:
        sign = {"higher": 1, "lower": -1}[better[name]]
        b = [pr["base"]["metrics"][name] for pr in pairs]
        c = [pr["change"]["metrics"][name] for pr in pairs]
        wins = sum(1 for x, y in zip(b, c) if sign * (y - x) > 0)
        bq, cq = quartiles(b), quartiles(c)
        gap, iqr = sign * (cq[1] - bq[1]), bq[2] - bq[0]
        passed = wins * 10 >= 9 * len(pairs) and gap > iqr
        ok = ok and passed
        print(f"  claim {name}: wins {wins}/{len(pairs)}, median gap {gap:.4g} vs base IQR "
              f"{iqr:.4g} -> {'PASS' if passed else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 911-920 or 1,5,7-9")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scratch", default=os.path.join(tempfile.gettempdir(), "perfbench_ab"))
    ap.add_argument("--claim", action="append", default=[], help="workload:metric")
    ap.add_argument("--json", help="write every run's result here")
    a = ap.parse_args()
    seeds = parse_seeds(a.seeds)
    sides = dict(zip(("base", "change"), (extract(a.base, a.scratch), extract(a.change, a.scratch))))
    better = directions(sides["change"][1])
    print(f"base {sides['base'][0]}, change {sides['change'][0]}, seeds {seeds}", flush=True)
    results, ok = {}, True
    for w in a.workload:
        pairs = []
        for i, seed in enumerate(seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pr = {side: run_one(sides[side][1], w, seed, a.seconds, a.trace) for side in order}
            pr["seed"] = seed
            pairs.append(pr)
            print(f"  {w} seed {seed}: " + ", ".join(
                f"{s} ops_per_s={pr[s]['metrics'].get('ops_per_s', float('nan')):.3f}"
                for s in ("base", "change")), flush=True)
        results[w] = pairs
        claims = [c.split(":", 1)[1] for c in a.claim if c.split(":", 1)[0] == w]
        ok = summarize(w, pairs, better, claims) and ok
    if a.json:
        with open(a.json, "w") as f:
            json.dump({"base": sides["base"][0], "change": sides["change"][0], "runs": results}, f)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
