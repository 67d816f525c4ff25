"""Compare two sets of benchmark records, metric by metric.

Usage::

    python3 perfbench/compare.py BASE NEW

``BASE`` and ``NEW`` are result records written by ``run.py`` (files, or
directories of them). Prints, per workload and metric, the median of
each side, the spread (quartile distance over median) and the change.
Refuses (exit 2) to compare records taken at different ``cpus``: boards
from different core counts are not comparable cell for cell.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    return [json.load(open(f)) for f in files]


def spread(values: list[float]) -> float:
    if len(values) < 2 or not statistics.median(values):
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    base, new = load(argv[0]), load(argv[1])
    cpus = {r["cpus"] for r in base + new}
    if len(cpus) != 1:
        print(f"refusing to compare records taken at different cpus: {sorted(cpus)}",
              file=sys.stderr)
        return 2
    table: dict = defaultdict(lambda: ([], []))
    for side, records in ((0, base), (1, new)):
        for r in records:
            for name, m in r["metrics"].items():
                table[(r["workload"], r["trace"], name)][side].append(m["value"])
    print(f"cpus={cpus.pop()}  base={len(base)} records  new={len(new)} records")
    for (workload, trace, name), (a, b) in sorted(table.items()):
        if not a or not b:
            continue
        ma, mb = statistics.median(a), statistics.median(b)
        change = (mb - ma) / ma if ma else float("nan")
        print(f"{workload:16} {name:40} {ma:14.4f} ±{spread(a):5.1%} -> "
              f"{mb:14.4f} ±{spread(b):5.1%}  {change:+7.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
