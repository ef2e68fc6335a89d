#!/usr/bin/env python3
"""Compare benchmark result sets, or summarise one.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--claim WORKLOAD:METRIC ...]
    python3 perfbench/compare.py --summary DIR

Each directory holds the report files run.py writes (one JSON per run, by
default under .bench_build/perfbench/results/); untraced reports are used.
Runs of a workload are paired in the order they were made, so alternate
parent and change runs when collecting them.

Rules (choosing-metrics guide, section 8):
  * a claimed metric improves only if the change wins at least nine tenths
    of the pairs (ties count for neither side) and the medians differ by
    more than the parent's interquartile spread;
  * every other end-to-end metric must not be worse than the parent's
    median by more than its bound from BENCHMARK.json; when the parent's
    own spread (IQR / median) exceeds the bound, the metric is reported as
    unresolved unless every change run beats every parent run;
  * the failure share (failed / attempted, summed over runs) must not rise.

Output is one row per workload, then one line per metric.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(d):
    runs = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if str(r.get("trace")) != "0":
            continue
        r["_mtime"] = os.path.getmtime(f)
        runs.setdefault(r["workload"], []).append(r)
    for rs in runs.values():
        rs.sort(key=lambda r: r["_mtime"])
    return runs


def values(runs, metric):
    return [r["end_to_end"][metric]["value"] for r in runs if metric in r["end_to_end"]]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def summary(d, metrics):
    for w, runs in sorted(load(d).items()):
        att = sum(r["attempted"] for r in runs)
        fail = sum(r["failed"] for r in runs)
        print(f"{w}: {len(runs)} runs, fail share {fail}/{att}")
        for m in metrics:
            xs = values(runs, m["name"])
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"  {m['name']:<18} median {med:12.6g} {m['unit']:<8} IQR/median {spread:7.4f}"
                  f"  (bound {m['bound']}, n={len(xs)})")


def better(m, a, b):
    """True when value a is better than value b for metric m."""
    return a < b if m["better"] == "lower" else a > b


def compare(pdir, cdir, metrics, claims):
    parent, change = load(pdir), load(cdir)
    ok_all = True
    for w in sorted(set(parent) | set(change)):
        p, c = parent.get(w, []), change.get(w, [])
        if not p or not c:
            print(f"{w}: missing runs (parent {len(p)}, change {len(c)})")
            ok_all = False
            continue
        pf = sum(r["failed"] for r in p) / max(1, sum(r["attempted"] for r in p))
        cf = sum(r["failed"] for r in c) / max(1, sum(r["attempted"] for r in c))
        lines, verdicts = [], []
        if cf > pf:
            verdicts.append("failures rose")
        for m in metrics:
            pv, cv = values(p, m["name"]), values(c, m["name"])
            if not pv or not cv:
                continue
            pq1, pmed, pq3 = quartiles(pv)
            _, cmed, _ = quartiles(cv)
            pairs = list(zip(pv, cv))
            wins = sum(1 for a, b in pairs if better(m, b, a))
            gap = cmed - pmed
            if f"{w}:{m['name']}" in claims:
                gain = wins >= 0.9 * len(pairs) and abs(gap) > (pq3 - pq1) and better(m, cmed, pmed)
                status = "improved" if gain else "claim not met"
                if not gain:
                    verdicts.append(f"{m['name']} claim not met")
            else:
                worse = (cmed - pmed) / pmed if m["better"] == "lower" else (pmed - cmed) / pmed
                spread = (pq3 - pq1) / pmed if pmed else float("inf")
                if spread > m["bound"] and not all(better(m, b, a) for a in pv for b in cv):
                    status = "unresolved"
                    verdicts.append(f"{m['name']} unresolved")
                elif worse > m["bound"]:
                    status = "regressed"
                    verdicts.append(f"{m['name']} regressed")
                else:
                    status = "within bound"
            lines.append(f"    {m['name']:<18} parent {pmed:12.6g} [{pq1:.6g}, {pq3:.6g}]  change {cmed:12.6g}"
                         f"  {100 * gap / pmed:+7.2f}%  wins {wins}/{len(pairs)}  {status}")
        verdict = "ok" if not verdicts else "; ".join(verdicts)
        ok_all = ok_all and not verdicts
        print(f"{w}: {verdict}  (parent {len(p)} runs, fail {pf:.4f}; change {len(c)} runs, fail {cf:.4f})")
        print("\n".join(lines))
    return ok_all


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("dirs", nargs="*")
    ap.add_argument("--summary", metavar="DIR")
    ap.add_argument("--claim", action="append", default=[], metavar="WORKLOAD:METRIC")
    args = ap.parse_args()
    with open(BENCH) as fh:
        metrics = json.load(fh)["end_to_end"]
    if args.summary:
        summary(args.summary, metrics)
        return 0
    if len(args.dirs) != 2:
        ap.error("give PARENT_DIR and CHANGE_DIR, or --summary DIR")
    return 0 if compare(args.dirs[0], args.dirs[1], metrics, set(args.claim)) else 1


if __name__ == "__main__":
    sys.exit(main())
