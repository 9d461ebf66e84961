#!/usr/bin/env python3
"""Summarize benchmark reports: per workload and end-to-end metric, the
median and quartile spread of the untraced runs, the traced median, and the
tracing overhead (traced median minus untraced median).

Usage, from the root of a checkout:

    python3 perfbench/summarize.py [report files...]

Without arguments it reads every report under perfbench/.build/results.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    """Interquartile distance as a share of the median (0 below 2 values)."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main(paths):
    if not paths:
        paths = sorted(glob.glob(os.path.join(HERE, ".build", "results", "report-*.json")))
    runs = {}
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        runs.setdefault(r["workload"], {}).setdefault(r["traced"], []).append(r)
    for wl, by_trace in sorted(runs.items()):
        plain, traced = by_trace.get(False, []), by_trace.get(True, [])
        fails = sum(r["failed"] for r in plain + traced)
        tries = sum(r["attempted"] for r in plain + traced)
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs, "
              f"ops_failed_ratio {fails}/{tries}")
        names = (plain or traced)[0]["end_to_end"].keys()
        print(f"  {'metric':<20} {'median':>12} {'spread':>8} {'traced':>12} {'overhead':>12}")
        for m in names:
            u = [r["end_to_end"][m]["value"] for r in plain]
            t = [r["end_to_end"][m]["value"] for r in traced]
            mu = statistics.median(u) if u else float("nan")
            mt = statistics.median(t) if t else float("nan")
            print(f"  {m:<20} {mu:>12.4f} {spread(u):>8.3f} {mt:>12.4f} {mt - mu:>12.4f}")
        probes = [r["calibration"]["probe_end_s"] for r in plain + traced]
        print(f"  probe_end_s median {statistics.median(probes):.3f} "
              f"(min {min(probes):.3f}, max {max(probes):.3f})")


if __name__ == "__main__":
    main(sys.argv[1:])
