#!/usr/bin/env python
"""Per-query historical timing bands from BENCH_HISTORY.jsonl
(VERDICT r12 item 3).

Two same-code boards can differ 18% with DIFFERENT query sets flagged
(BENCH_NOTES.md r12: the environmental signature) — so comparing a new
board against the single previous board produces false calls in both
directions. This tool freezes a per-query band from the last N
committed same-sf boards:

    BENCH_BAND.json: {"sf": sf, "cpus": cores, "n_boards": N,
                      "band": {query: {"min": s, "median": s, "n": boards}}}

computed over each board's per-query MIN timings (the stable statistic;
medians absorb the box's first-heavy-query warm-up charge unevenly).

The flag rule this feeds (implemented in bench.py): a query is a
regression candidate only when it is above band — above
``max(1.0 s, 1.5 x band min)`` — on BOTH the new board and the previous
same-sf board. One elevated board is box noise until it reproduces;
a real plan regression reproduces by definition. Fresh queries with no
band entry are informational only. bench.py ignores a band built at
another sf or core count (``cpus``; a band without it was 32-core).

Usage: python tools/bench_band.py [--sf 0.1] [--n 8]
Run at round open / preclose so the band reflects only COMMITTED
history, then bench.py reads the frozen file.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HIST = os.path.join(REPO, "BENCH_HISTORY.jsonl")
OUT = os.path.join(REPO, "BENCH_BAND.json")


def build_band(sf: float, n_boards: int, cpus: int = 32) -> dict:
    rows = []
    with open(HIST) as f:
        for line in f:
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            # Boards at a different core count time a different machine
            # shape — keep them out of the band. Records without the
            # stamp predate it and were all 32-core.
            if (rec.get("sf") == sf and rec.get("queries")
                    and rec.get("cpus", 32) == cpus):
                rows.append(rec)
    rows = rows[-n_boards:]
    per_query: dict[str, list[float]] = {}
    for rec in rows:
        for q, t in rec["queries"].items():
            per_query.setdefault(q, []).append(float(t))
    return {
        q: {
            "min": round(min(ts), 4),
            "median": round(statistics.median(ts), 4),
            "n": len(ts),
        }
        for q, ts in sorted(per_query.items())
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=32)
    args = ap.parse_args()
    band = build_band(args.sf, args.n, args.cpus)
    with open(OUT, "w") as f:
        json.dump({"sf": args.sf, "cpus": args.cpus, "n_boards": args.n,
                   "band": band}, f, indent=1, sort_keys=True)
    n = len(band)
    full = sum(1 for v in band.values() if v["n"] >= args.n)
    print(f"BENCH_BAND.json: {n} queries banded at sf={args.sf}, "
          f"{args.cpus} cpus ({full} with all {args.n} boards)")


if __name__ == "__main__":
    main()
