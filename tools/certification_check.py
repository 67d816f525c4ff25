"""Certification cross-check: make driver-row debt structurally visible.

VERDICT r08 item 8: with the contract surface frozen and correctness
green, the remaining risk is BOOKKEEPING — a ``queries()`` entry that
silently never earns a correctness row anywhere. This gate fails
preclose if any registered query lacks BOTH:

  (a) a driver row — any row in any ``CORRECTNESS_r*.json`` the
      external driver wrote (green or red; reds are surfaced
      separately as hard failures), and
  (b) a local sweep row — a ``✓ name: ok`` / ``~ name:`` line in the
      given round's ``CORRECTNESS_LOCAL_<tag>_sf*.txt`` sweeps.

A query with a local row but no driver row is WARNED (expected for at
most one round — the gate rotation front-loads it next round); a query
with neither is a FAILURE (it would ship with zero evidence). An
unresolved driver red (latest driver row is a FAIL with no later green)
is always a FAILURE.

Usage::

    python tools/certification_check.py r9
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def driver_rows() -> tuple[dict[str, int], dict[str, int]]:
    """(latest green round, latest red round) per query from the
    driver-written CORRECTNESS_r*.json artifacts."""
    green: dict[str, int] = {}
    red: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(HERE, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            ok = (
                row.get("err") is None
                and row.get("rows_match") is True
                and row.get("schema_match") is not False
                and row.get("hash_match") is not False
            )
            target = green if ok else red
            target[name] = max(target.get(name, 0), rnd)
    return green, red


def local_rows(tag: str) -> set[str]:
    """Queries with an ok/rows-only line in this round's local sweeps."""
    ok: set[str] = set()
    line_re = re.compile(r"^\s*[✓~]\s+(\S+?):")
    for path in glob.glob(
        os.path.join(HERE, f"CORRECTNESS_LOCAL_{tag}_sf*.txt")
    ):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                m = line_re.match(line)
                if m and " FAIL " not in line:
                    ok.add(m.group(1))
    return ok


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else None
    if not tag:
        print(__doc__)
        return 2
    import __spark_entry__ as entrymod

    registry = set(entrymod._all_queries())
    green, red = driver_rows()
    local = local_rows(tag)

    unresolved_reds = sorted(
        n for n, r in red.items() if r > green.get(n, 0) and n in registry
    )
    no_evidence = sorted(
        n
        for n in registry
        if n not in green and n not in red and n not in local
    )
    driver_debt = sorted(
        n for n in registry if n not in green and n not in red and n in local
    )

    print(f"registry: {len(registry)} queries")
    print(f"driver-green (cumulative): {len(set(green) & registry)}")
    print(f"local sweep rows ({tag}): {len(local & registry)}")
    print(f"driver-row debt (local-only, WARN): {len(driver_debt)}")
    if driver_debt:
        print(f"  {driver_debt}")
    failures = 0
    if unresolved_reds:
        failures += len(unresolved_reds)
        print(f"FAIL unresolved driver reds: {unresolved_reds}")
    if no_evidence:
        failures += len(no_evidence)
        print(f"FAIL zero-evidence queries (no driver row, no local row): "
              f"{no_evidence}")
    # local sweeps must cover the full registry for the round being closed
    missing_local = sorted(registry - local)
    if missing_local:
        failures += len(missing_local)
        print(f"FAIL queries missing from {tag} local sweeps: "
              f"{missing_local}")
    print("CERTIFICATION: " + ("OK" if not failures else f"{failures} FAILURES"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
