#!/usr/bin/env python3
"""Compare two benchmark result sets.

    python3 perfbench/compare.py <resultsA> <resultsB>

A result set is a directory laid out as run.py leaves it under
`.bench_build/perfbench/results`: one sub-directory per workload holding
`seed<n>-trace<0|1>.json`. Copy it aside before re-running to keep a set.

Prints, per workload, each end-to-end metric's median and quartiles on both
sides (untraced runs), then the per-layer medians (traced runs) and their
relative deltas rolled up by layer and family (`cells.graph.jobs` rolls up
under `cells.graph`, `api.export.busy_ms` under `api.export`).
"""
import glob
import json
import os
import statistics
import sys


def load(root):
    """{workload: {trace: [result, ...]}}"""
    out = {}
    for path in sorted(glob.glob(os.path.join(root, "*", "seed*-trace*.json"))):
        wl = os.path.basename(os.path.dirname(path))
        trace = path.rsplit("-trace", 1)[1].split(".")[0]
        out.setdefault(wl, {}).setdefault(trace, []).append(json.load(open(path)))
    return out


def stats(vals):
    if len(vals) < 2:
        v = vals[0] if vals else float("nan")
        return v, v, v
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return q1, med, q3


def series(results, metric):
    return [r["metrics"][metric]["value"] for r in results if metric in r["metrics"]]


def rel(a, b):
    return (b - a) / a if a else float("nan")


def main():
    a_root, b_root = sys.argv[1], sys.argv[2]
    a, b = load(a_root), load(b_root)
    for wl in sorted(set(a) | set(b)):
        print(f"== {wl}")
        for trace, title in (("0", "end-to-end (untraced)"), ("1", "per-layer (traced)")):
            ra, rb = a.get(wl, {}).get(trace, []), b.get(wl, {}).get(trace, [])
            if not ra and not rb:
                continue
            failed = sum(r["failed"] for r in ra), sum(r["failed"] for r in rb)
            print(f"  {title}: runs {len(ra)} vs {len(rb)}, failed ops {failed[0]} vs {failed[1]}")
            names = sorted({m for r in ra + rb for m in r["metrics"]})
            groups = {}
            for m in names:
                qa, qb = stats(series(ra, m)), stats(series(rb, m))
                unit = next(r["metrics"][m]["unit"] for r in ra + rb if m in r["metrics"])
                d = rel(qa[1], qb[1])
                if trace == "0":
                    print(f"    {m:34s} {qa[1]:12.4g} [{qa[0]:.4g}, {qa[2]:.4g}]  ->  "
                          f"{qb[1]:12.4g} [{qb[0]:.4g}, {qb[2]:.4g}] {unit:6s} {d:+.1%}")
                else:
                    groups.setdefault(m.rsplit(".", 1)[0] if m.count(".") > 1 else m.split(".")[0],
                                      []).append((m, qa[1], qb[1], unit, d))
            for g in sorted(groups):
                print(f"    [{g}]")
                for m, va, vb, unit, d in groups[g]:
                    print(f"      {m:40s} {va:12.4g} -> {vb:12.4g} {unit:6s} {d:+.1%}")


if __name__ == "__main__":
    main()
