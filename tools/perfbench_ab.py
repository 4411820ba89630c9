#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N` once in each checkout (the parent first on even positions,
the change first on odd ones, so drift on the host lands on both sides),
then prints the per-seed pairs of every end-to-end metric, each side's
median and quartiles, and how many pairs the change won (lower is
better for every end-to-end metric). Each checkout builds its own
engine on its first run. Exits 1 when any run was not `correct`, had
`failed` > 0 or printed no result.

Usage: python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W
           --seeds A-B [--seconds 25]
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout, workload, seed, seconds):
    """One run's result object (the last stdout line), or None."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="A-B, inclusive")
    ap.add_argument("--seconds", type=float, default=25)
    a = ap.parse_args()

    pairs, bad = [], []
    for i, seed in enumerate(seeds(a.seeds)):
        order = [("parent", a.parent), ("change", a.change)]
        if i % 2:
            order.reverse()
        got = {}
        for side, checkout in order:
            r = run(checkout, a.workload, seed, a.seconds)
            got[side] = r
            if r is None or r.get("correct") is not True or int(r.get("failed", 1)) > 0:
                bad.append(f"seed {seed} {side}: {json.dumps(r)[:200]}")
        pairs.append((seed, order[0][0], got))
        m = {s: {k: v["value"] for k, v in (got[s] or {}).get("metrics", {}).items()}
             for s in got}
        print(f"seed {seed} ({order[0][0]} first): " + ", ".join(
            f"{k} {m['parent'].get(k, float('nan')):.3f} -> {m['change'].get(k, float('nan')):.3f}"
            for k in sorted(m["parent"])), flush=True)

    names = sorted({k for _, _, g in pairs for r in g.values() if r for k in r.get("metrics", {})})
    print(f"\n{a.workload}: {len(pairs)} pairs")
    for k in names:
        vals = {side: [g[side]["metrics"][k]["value"] for _, _, g in pairs
                       if g[side] and k in g[side].get("metrics", {})] for side in ("parent", "change")}
        both = [(g["parent"]["metrics"][k]["value"], g["change"]["metrics"][k]["value"])
                for _, _, g in pairs
                if g["parent"] and g["change"] and k in g["parent"].get("metrics", {})
                and k in g["change"].get("metrics", {})]
        wins = sum(1 for p, c in both if c < p)
        line = [f"  {k}:"]
        for side in ("parent", "change"):
            if vals[side]:
                q1, q2, q3 = quartiles(vals[side])
                line.append(f"{side} median {q2:.3f} (q1 {q1:.3f}, q3 {q3:.3f}, iqr {q3 - q1:.3f})")
        if vals["parent"] and vals["change"]:
            mp, mc = statistics.median(vals["parent"]), statistics.median(vals["change"])
            line.append(f"change {100 * (mc - mp) / mp:+.1f}%; change lower in {wins}/{len(both)} pairs")
        print("  ".join(line))

    if bad:
        print("\nruns that failed or were not correct:")
        for b in bad:
            print("  " + b)
        sys.exit(1)


if __name__ == "__main__":
    main()
