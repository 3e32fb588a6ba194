#!/usr/bin/env python3
"""Paired A/B of two graft checkouts on the perfbench workloads.

For each seed in the range, runs `perfbench/run.py` once in the parent
checkout and once in the change checkout, alternating which side runs first
(pair 0 parent first, pair 1 change first, ...). Then prints, per workload and
per end-to-end metric that BENCHMARK.json gates, each side's median and
quartiles, how many pairs the change won, the relative move of the median,
the parent's spread (IQR / median) and whether the move is inside the bound.
Metrics the runs print but the benchmark does not gate (with --trace 1, the
per-layer ones such as lake.manifest_reads or ingest.side_append_ms) follow,
without a bound. For mor-read-mix the table is printed again over only the
runs at the most common `attempted` (a run that fits a second pass reads
faster on a warm JVM, so runs at different `attempted` do not compare).

The gated metrics, their bounds and the run length (`run_seconds`) are read
from the BENCHMARK.json in the current directory, so every run lasts as long
as the benchmark's own runs.

Usage, from the root of the change checkout:

    git clone -q <repo> /path/to/parent && git -C /path/to/parent checkout <parent-commit>
    python3 scripts/ab_pairs.py --parent /path/to/parent --change . \\
        --workload tail-trickle --workload mor-read-mix --seeds 1201-1210 --out ab.jsonl

Every run is appended to --out as one JSON line as soon as it ends, so a long
A/B can be re-summarized without re-running: `--report ab.jsonl`. Each
checkout builds into its own .bench_build/ on its first run.

Exits non-zero when any run fails, times out or reports `correct: false`.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

SIDES = ("parent", "change")
# a metric line as perfbench prints it: "  <name>  <value> <unit>  n=<n>"
METRIC_LINE = re.compile(r"^\s{2}(\S+)\s+(-?[0-9.]+(?:[eE][-+]?[0-9]+)?|NaN)\s+\S+\s+n=\d+")


def seed_range(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_side(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its record (metrics merged from the JSON
    result line and the printed metric tables)."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.splitlines()
    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    metrics = {}
    for line in lines:
        m = METRIC_LINE.match(line)
        if m and m.group(2) != "NaN":
            metrics[m.group(1)] = float(m.group(2))
    if result is not None:
        metrics.update({k: v["value"] for k, v in result["metrics"].items()})
    ok = proc.returncode == 0 and result is not None and result["correct"]
    if not ok:
        sys.stderr.write(proc.stderr[-3000:])
    return {"ok": ok, "correct": bool(result and result["correct"]),
            "attempted": result["attempted"] if result else None,
            "failed": result["failed"] if result else None, "metrics": metrics}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def fmt(v):
    return f"{v:.4g}" if abs(v) < 1000 else f"{v:.0f}"


def table(records, gated, title):
    """Print the per-metric comparison of one workload's records."""
    by_seed = {}
    for r in records:
        by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [p for p in by_seed.values() if all(s in p for s in SIDES)]
    print(f"\n{title}: {len(pairs)} pairs; attempted parent "
          f"{sorted(p['parent']['attempted'] for p in pairs)}, change "
          f"{sorted(p['change']['attempted'] for p in pairs)}")
    names = [g["name"] for g in gated]
    extra = sorted({k for p in pairs for s in SIDES for k in p[s]["metrics"]} - set(names))
    print(f"  {'metric':<34} {'parent median [q1-q3]':>28} {'change median [q1-q3]':>28} "
          f"{'wins':>6} {'move':>8} {'spread':>7}  bound")
    for name in names + extra:
        g = next((g for g in gated if g["name"] == name), None)
        both = [p for p in pairs if all(name in p[s]["metrics"] for s in SIDES)]
        if not both:
            continue
        a = [p["parent"]["metrics"][name] for p in both]
        b = [p["change"]["metrics"][name] for p in both]
        (a1, a2, a3), (b1, b2, b3) = quartiles(a), quartiles(b)
        cells = (f"  {name:<34} {fmt(a2) + ' [' + fmt(a1) + '-' + fmt(a3) + ']':>28} "
                 f"{fmt(b2) + ' [' + fmt(b1) + '-' + fmt(b3) + ']':>28}")
        if not a2:  # no relative move from a zero median (e.g. a count that was 0)
            print(f"{cells} {'':>6} {'n/a':>8} {'n/a':>7}  (not gated)" if g is None else
                  f"{cells} {'':>6} {'n/a':>8} {'n/a':>7}  parent median 0: compare the medians")
            continue
        move = (b2 - a2) / a2
        spread = (a3 - a1) / a2
        if g is None:
            print(f"{cells} {'':>6} {move:>+8.1%} {spread:>7.1%}  (not gated)")
            continue
        lower = g["better"] == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        worse = move if lower else -move
        verdict = "inside" if worse <= g["bound"] else "OUTSIDE"
        if spread > g["bound"]:
            verdict += ", parent spread wider than the bound: unresolved"
        print(f"{cells} {wins:>3}/{len(both):<2} {move:>+8.1%} {spread:>7.1%}  "
              f"{verdict} ({g['better']} is better, bound {g['bound']:.0%})")


def report(records, bench):
    gated = bench["end_to_end"]
    for w in sorted({r["workload"] for r in records}):
        rs = [r for r in records if r["workload"] == w]
        table(rs, gated, w)
        if w == "mor-read-mix":
            att = [r["attempted"] for r in rs if r["attempted"] is not None]
            if att:
                mode = statistics.mode(att)
                table([r for r in rs if r["attempted"] == mode], gated,
                      f"{w}, runs at attempted = {mode} only")
    bad = [r for r in records if not r["ok"]]
    for r in bad:
        print(f"FAILED: {r['workload']} seed {r['seed']} on the {r['side']} side "
              f"(correct={r['correct']}, failed={r['failed']})")
    return not bad


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append", help="workload to run (repeatable)")
    ap.add_argument("--seeds", help="inclusive seed range, e.g. 1201-1210")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", help="append every run to this JSONL file")
    ap.add_argument("--report", help="only summarize the runs in this JSONL file")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    if a.report:
        records = [json.loads(l) for l in open(a.report) if l.strip()]
        sys.exit(0 if report(records, bench) else 1)
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required (or --report)")
    seconds = bench["run_seconds"]
    records = []
    for w in a.workload:
        for i, seed in enumerate(seed_range(a.seeds)):
            for side in (SIDES if i % 2 == 0 else SIDES[::-1]):
                r = run_side(getattr(a, side), w, seed, seconds, a.trace)
                r.update(workload=w, seed=seed, side=side, first=(SIDES[i % 2] == side))
                records.append(r)
                print(f"{w} seed {seed} {side}: ok={r['ok']} attempted={r['attempted']} " +
                      " ".join(f"{g['name']}={fmt(r['metrics'][g['name']])}"
                               for g in bench["end_to_end"] if g["name"] in r["metrics"]),
                      flush=True)
                if a.out:
                    with open(a.out, "a") as f:
                        f.write(json.dumps(r) + "\n")
    sys.exit(0 if report(records, bench) else 1)


if __name__ == "__main__":
    main()
