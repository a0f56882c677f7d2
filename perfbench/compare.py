"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds result files written by ``run.py``
(``<workload>-s<seed>-t<trace>.json``). For every workload and metric
this prints both medians, the change as a share of the base median, and
each side's quartile spread. It refuses (exit 3) to compare results
taken at different CPU counts, since walls at another core count are
not a baseline.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    out = []
    for f in sorted(glob.glob(os.path.join(path, "*-s*-t*.json"))):
        with open(f) as fh:
            out.append(json.load(fh))
    return out


def cpu_counts(results: list[dict]) -> set[tuple[int, int]]:
    return {(r["host"]["nproc"], r["host"]["spark_graft_cpus"]) for r in results}


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median (0 if < 2 values)."""
    if len(values) < 2:
        return 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else 0.0


def compare(base: list[dict], new: list[dict]) -> list[tuple]:
    cpus = cpu_counts(base) | cpu_counts(new)
    if len(cpus) > 1:
        raise ValueError(f"results taken at different CPU counts: {sorted(cpus)}")
    rows = []
    keys = sorted({(r["host"]["workload"], r["host"]["trace"]) for r in base + new})
    for workload, tr in keys:
        a = [r for r in base if (r["host"]["workload"], r["host"]["trace"]) == (workload, tr)]
        b = [r for r in new if (r["host"]["workload"], r["host"]["trace"]) == (workload, tr)]
        names = sorted({m for r in a + b for m in r["metrics"]})
        for m in names:
            va = [r["metrics"][m]["value"] for r in a if m in r["metrics"]]
            vb = [r["metrics"][m]["value"] for r in b if m in r["metrics"]]
            if not va or not vb:
                continue
            ma, mb = statistics.median(va), statistics.median(vb)
            change = (mb - ma) / ma if ma else 0.0
            rows.append((workload, m, ma, mb, change, spread(va), spread(vb), len(va), len(vb)))
    return rows


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    try:
        rows = compare(load(argv[0]), load(argv[1]))
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 3
    print(f"{'workload':16} {'metric':34} {'base':>12} {'new':>12} {'change':>8} {'spread':>13} n")
    for w, m, ma, mb, ch, sa, sb, na, nb in rows:
        print(f"{w:16} {m:34} {ma:12.4g} {mb:12.4g} {ch:+8.1%} {sa:6.1%}/{sb:6.1%} {na}/{nb}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
