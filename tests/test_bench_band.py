"""Band building must not mix boards from different core counts.

Boards at 8 cores measure a different machine shape (and at sf0.1 they
BEAT the 32-core boards — fixed-overhead regime), so letting one into
the 32-core band would silently tighten band mins and produce false
regression flags. bench.py stamps ``cpus`` into every result as of
r16; entries without the stamp predate it and were all 32-core.
"""

import json
import sys
import os

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import bench_band


def _write_hist(tmp_path, records):
    p = tmp_path / "hist.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in records) + "\n")
    return str(p)


def test_build_band_skips_foreign_core_counts(tmp_path, monkeypatch):
    records = [
        # legacy entry, no stamp -> treated as 32-core
        {"sf": 0.1, "queries": {"q1": 2.0}},
        # stamped 32-core entry
        {"sf": 0.1, "cpus": 32, "queries": {"q1": 1.8}},
        # 8-core board: faster, must NOT lower the band min
        {"sf": 0.1, "cpus": 8, "queries": {"q1": 0.5}},
        # wrong sf: ignored regardless of cpus
        {"sf": 0.01, "cpus": 32, "queries": {"q1": 0.1}},
    ]
    monkeypatch.setattr(bench_band, "HIST", _write_hist(tmp_path, records))
    band = bench_band.build_band(sf=0.1, n_boards=8)
    assert band["q1"]["min"] == 1.8
    assert band["q1"]["n"] == 2

    band8 = bench_band.build_band(sf=0.1, n_boards=8, cpus=8)
    assert band8["q1"]["min"] == 0.5
    assert band8["q1"]["n"] == 1


def test_bench_ignores_band_from_another_core_count(tmp_path, monkeypatch):
    """A band written at 4 cores loads for a 4-core run only: a board at
    any other core count (or sf) gets an empty band, so no query can be
    flagged against another machine shape. A band without ``cpus``
    predates the stamp and loads as 32-core."""
    import bench

    records = [{"sf": 0.1, "cpus": 4, "queries": {"q1": 0.5}}]
    out = tmp_path / "band.json"
    monkeypatch.setattr(bench_band, "HIST", _write_hist(tmp_path, records))
    monkeypatch.setattr(bench_band, "OUT", str(out))
    monkeypatch.setattr(sys, "argv", ["bench_band.py", "--cpus", "4"])
    bench_band.main()
    assert json.loads(out.read_text())["cpus"] == 4

    assert bench.load_band(str(out), 0.1, 4)["q1"]["min"] == 0.5
    assert bench.load_band(str(out), 0.1, 32) == {}
    assert bench.load_band(str(out), 0.01, 4) == {}
    assert bench.load_band(str(tmp_path / "missing.json"), 0.1, 4) == {}

    legacy = tmp_path / "legacy.json"
    legacy.write_text(json.dumps({"sf": 0.1, "band": {"q1": {"min": 2.0}}}))
    assert bench.load_band(str(legacy), 0.1, 4) == {}
    assert bench.load_band(str(legacy), 0.1, 32) == {"q1": {"min": 2.0}}
