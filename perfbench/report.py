"""Summaries over the run reports ``run.py`` writes.

    python3 perfbench/report.py [--state-dir DIR]

Prints, per workload:

* the tracing overhead: the median of each end-to-end metric over the
  traced runs minus the median over the untraced runs (both computed
  by ``run.py`` in either mode);
* the traced runs' per-module ``busy_s`` and ``driver.gap_s`` table,
  the layer baseline the benchmark doc records.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(state_dir: str) -> dict[tuple[str, int], list[dict]]:
    runs = defaultdict(list)
    for path in sorted(glob.glob(os.path.join(state_dir, "runs", "*.json"))):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["trace"])].append(r)
    return runs


def median_of(reports: list[dict], section: str, key: str) -> float:
    return statistics.median(r[section][key] for r in reports)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--state-dir", default=os.path.join(ROOT, ".perfbench"))
    args = p.parse_args(argv)
    runs = load(args.state_dir)
    for workload in sorted({w for w, _ in runs}):
        plain, traced = runs.get((workload, 0), []), runs.get((workload, 1), [])
        print(f"## {workload}: {len(plain)} untraced, {len(traced)} traced runs\n")
        if plain and traced:
            print("| metric | untraced | traced | overhead |")
            print("|---|---|---|---|")
            for k in plain[0]["end_to_end"]:
                a = median_of(plain, "end_to_end", k)
                b = median_of(traced, "end_to_end", k)
                share = f" ({(b - a) / a:+.1%})" if a else ""
                print(f"| {k} | {a:.4f} | {b:.4f} | {b - a:+.4f}{share} |")
            print()
        if traced:
            layers = traced[0]["per_layer"]
            wall = median_of(traced, "per_layer", "registry.build_s") + median_of(
                traced, "per_layer", "collect.to_pandas_s"
            )
            print(f"| layer | median over traced runs | share of op wall ({wall:.2f} s) |")
            print("|---|---|---|")
            keys = [k for k in layers if k.endswith(".busy_s") and layers[k] > 0]
            for k in keys + ["spark.job_busy_s", "driver.gap_s"]:
                v = median_of(traced, "per_layer", k)
                print(f"| {k} | {v:.3f} s | {v / wall:.1%} |")
            print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
