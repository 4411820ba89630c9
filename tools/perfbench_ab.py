#!/usr/bin/env python3
"""Interleaved A/B of the repo benchmark between two checkouts.

For each seed, runs `python3 perfbench/run.py --workload W --seed S
--seconds N` once in each checkout (the parent first on even positions,
the change first on odd ones, so drift on the host lands on both sides),
then prints the per-seed pairs of every end-to-end metric, each side's
median and quartiles, and how many pairs the change won (lower is
better for every end-to-end metric). The other figures each run prints
as `<workload> <name> = <value> <unit>` lines (`view_p50_s`,
`push_p50_s`, `turn_p90_s`, ...) follow the same way under a heading
that marks them as not gated (lower counts as a win there too; read
rates such as `turns_per_s` the other way). Each checkout builds its
own engine on its first run. Exits 1 when any run was not `correct`,
had `failed` > 0 or printed no result.

Usage: python3 tools/perfbench_ab.py PARENT_DIR CHANGE_DIR --workload W
           --seeds A-B [--seconds 25]
"""
import argparse
import json
import re
import statistics
import subprocess
import sys


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


FIGURE = re.compile(r"^(\S+) (\S+)\s+= (-?[0-9.]+(?:[eE][-+]?[0-9]+)?|nan|NaN) (\S+)$")


def run(checkout, workload, seed, seconds):
    """One run's result object (the last stdout line) or None, and the
    {name: value} of the figure lines it printed for `workload`."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    figures = {}
    for line in lines[:-1]:
        m = FIGURE.match(line)
        if m and m.group(1) == workload:
            figures[m.group(2)] = float(m.group(3))
    try:
        return (json.loads(lines[-1]) if lines else None), figures
    except ValueError:
        return None, figures


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


SIDES = ("parent", "change")


def summarize(k, per_pair):
    """One metric's line from its {side: value} per pair: each side's
    median and quartiles, and the change's win count over the pairs
    where both sides have it. Prints nothing for a metric with no value."""
    vals = {s: [v[s] for v in per_pair if s in v] for s in SIDES}
    both = [(v["parent"], v["change"]) for v in per_pair if len(v) == 2]
    if not any(vals.values()):
        return
    wins = sum(1 for p, c in both if c < p)
    line = [f"  {k}:"]
    for side in SIDES:
        if vals[side]:
            q1, q2, q3 = quartiles(vals[side])
            line.append(f"{side} median {q2:.3f} (q1 {q1:.3f}, q3 {q3:.3f}, iqr {q3 - q1:.3f})")
    if vals["parent"] and vals["change"]:
        mp, mc = statistics.median(vals["parent"]), statistics.median(vals["change"])
        rel = f"{100 * (mc - mp) / mp:+.1f}%" if mp else "n/a"
        line.append(f"change {rel}; change lower in {wins}/{len(both)} pairs")
    print("  ".join(line))


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
        got, figs = {}, {}
        for side, checkout in order:
            r, figs[side] = run(checkout, a.workload, seed, a.seconds)
            got[side] = r
            if r is None or r.get("correct") is not True or int(r.get("failed", 1)) > 0:
                bad.append(f"seed {seed} {side}: {json.dumps(r)[:200]}")
        pairs.append((seed, order[0][0], got, figs))
        m = {s: {k: v["value"] for k, v in (got[s] or {}).get("metrics", {}).items()}
             for s in got}
        print(f"seed {seed} ({order[0][0]} first): " + ", ".join(
            f"{k} {m['parent'].get(k, float('nan')):.3f} -> {m['change'].get(k, float('nan')):.3f}"
            for k in sorted(m["parent"])), flush=True)

    names = sorted({k for _, _, g, _ in pairs for r in g.values() if r for k in r.get("metrics", {})})
    print(f"\n{a.workload}: {len(pairs)} pairs")
    for k in names:
        summarize(k, [{s: g[s]["metrics"][k]["value"] for s in SIDES
                       if g[s] and k in g[s].get("metrics", {})} for _, _, g, _ in pairs])

    # every other figure the runs printed: reported, not gated
    others = sorted({k for _, _, _, f in pairs for fs in f.values() for k in fs} - set(names))
    if others:
        print(f"\nnot gated (figure lines, {a.workload}):")
    for k in others:
        # NaN (a figure with no samples) is no value
        summarize(k, [{s: f[s][k] for s in SIDES if k in f[s] and f[s][k] == f[s][k]}
                      for _, _, _, f in pairs])

    if bad:
        print("\nruns that failed or were not correct:")
        for b in bad:
            print("  " + b)
        sys.exit(1)


if __name__ == "__main__":
    main()
