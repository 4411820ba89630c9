#!/usr/bin/env python3
"""Compare two Bench JSON lines (e.g. BENCH_r1.json vs BENCH_r2.json):
per-query delta sorted by regression size, plus totals. When both are
full artifacts with `layers`, each REGR/IMPR row also shows its jobs and
tasks delta, and NEW's codegen-fallback queries are listed. Exits 1 when
NEW recorded failed queries (`n_errors` > 0; an artifact without the
field counts as 0), after printing them.

Usage: python3 tools/bench_compare.py OLD.json NEW.json [threshold_pct]
"""
import json
import re
import sys


def load(path):
    with open(path) as f:
        text = f.read()
    # accept either a bare JSON object or a log line containing one
    start = text.find('{"metric"')
    try:
        obj = json.loads(text[start:] if start >= 0 else text)
        if "queries" in obj:
            return obj
    except json.JSONDecodeError:
        pass
    # driver wrapper with a truncated "tail" string: recover whatever
    # "name":seconds pairs survive, and the total if present
    obj = {"queries": {}, "value": None}
    for m in re.finditer(r'\\?"([A-Za-z_][\w]*)\\?":([0-9.]+)', text):
        name, val = m.group(1), float(m.group(2))
        if name == "value":
            obj["value"] = val
        elif name == "n_errors":
            obj["n_errors"] = int(val)
        elif name not in ("n", "rc", "cpus", "sf", "metric", "unit",
                          "n_queries", "n_remeasured", "jobs", "tasks",
                          "n_codegen_fallback"):
            obj["queries"][name] = val
    return obj


def main():
    old, new = load(sys.argv[1]), load(sys.argv[2])
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 20.0
    oq, nq = old["queries"], new["queries"]
    ol, nl = old.get("layers"), new.get("layers")

    def layer_delta(name):
        a, b = (ol or {}).get(name), (nl or {}).get(name)
        if not (a and b):
            return ""
        return (f"  jobs {a['jobs']}->{b['jobs']}"
                f"  tasks {a['tasks']}->{b['tasks']}")

    rows = []
    for name in sorted(set(oq) | set(nq)):
        a, b = oq.get(name), nq.get(name)
        if a is None:
            rows.append((float("inf"), f"  NEW   {name}: {b:.2f}s"))
        elif b is None:
            rows.append((float("-inf"), f"  GONE  {name}: was {a:.2f}s"))
        else:
            pct = (b - a) / a * 100 if a > 0 else 0.0
            flag = "REGR" if pct > threshold else ("IMPR" if pct < -threshold else "    ")
            more = layer_delta(name) if flag.strip() else ""
            rows.append((-pct, f"  {flag}  {name}: {a:.2f}s -> {b:.2f}s ({pct:+.0f}%){more}"))
    for _, line in sorted(rows):
        print(line)
    if old.get("value") and new.get("value"):
        print(f"total: {old['value']:.1f}s -> {new['value']:.1f}s "
              f"({(new['value'] - old['value']) / old['value'] * 100:+.0f}%)")
    else:
        oc = sum(v for k, v in oq.items() if k in nq)
        nc = sum(v for k, v in nq.items() if k in oq)
        print(f"comparable-query totals: {oc:.1f}s -> {nc:.1f}s "
              f"({(nc - oc) / oc * 100:+.0f}%) over {len(set(oq) & set(nq))} queries")
    fallbacks = new.get("codegen_fallback", [])
    if fallbacks:
        print(f"NEW codegen fallback ({len(fallbacks)}): {', '.join(fallbacks)}")
    n_errors = new.get("n_errors", 0)
    if n_errors > 0:
        # the file artifact maps name -> first error line; the stdout
        # line lists at most 10 names
        errors = new.get("errors", {})
        print(f"NEW has {n_errors} failed queries:")
        for name in errors:
            msg = errors[name] if isinstance(errors, dict) else ""
            print(f"  ERROR {name}: {msg}".rstrip())
        sys.exit(1)


if __name__ == "__main__":
    main()
