"""Tracing overhead: each end-to-end metric of traced runs against untraced
runs of the same workload, from the records in perfbench/.work/results/.

    python3 perfbench/overhead.py
"""

from __future__ import annotations

import glob
import json
import os
import statistics

import harness


def main() -> None:
    runs: dict[tuple[str, int], list[dict]] = {}
    for path in glob.glob(os.path.join(harness.WORK, "results", "*.json")):
        with open(path) as f:
            r = json.load(f)
        runs.setdefault((r["workload"], r["trace"]), []).append(r["end_to_end"])
    for w in sorted({w for w, _ in runs}):
        off, on = runs.get((w, 0), []), runs.get((w, 1), [])
        if not off or not on:
            print(f"{w}: needs traced and untraced runs")
            continue
        print(f"{w} (untraced n={len(off)}, traced n={len(on)})")
        for m in off[0]:
            a = statistics.median(r[m][0] for r in off)
            b = statistics.median(r[m][0] for r in on)
            print(f"  {m:18s} untraced {a:10.4g}  traced {b:10.4g}  {100 * (b - a) / a:+6.1f} %")


if __name__ == "__main__":
    main()
