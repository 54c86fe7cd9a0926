"""Guards for the repo tooling itself (tools/): the stress harness's
bench-record cross-check must pick the genuinely newest round, and the
generated COVERAGE.md must match its generator."""

from __future__ import annotations

import importlib
import os
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tool(name: str):
    sys.path.insert(0, REPO_ROOT)
    return importlib.import_module(f"tools.{name}")


def test_latest_bench_path_orders_by_integer_round(tmp_path, monkeypatch):
    """BENCH_r9.json vs BENCH_r10.json (and r99 vs r100): lexicographic
    max mis-orders rounds of different digit widths, silently pinning the
    TIMING-SUSPECT cross-check to a stale record. The picker must sort by
    the parsed integer round."""
    mod = _tool("stress_sf1")
    for name in ("BENCH_r9.json", "BENCH_r10.json", "BENCH_r2.json"):
        (tmp_path / name).write_text("{}")
    # non-matching names (stress outputs) must be ignored entirely
    (tmp_path / "BENCH_r11_sf1.json").write_text("{}")
    monkeypatch.setattr(mod, "REPO_ROOT", str(tmp_path))
    picked = mod._latest_bench_path()
    assert picked is not None
    assert os.path.basename(picked) == "BENCH_r10.json"


def test_latest_bench_path_empty_dir(tmp_path, monkeypatch):
    mod = _tool("stress_sf1")
    monkeypatch.setattr(mod, "REPO_ROOT", str(tmp_path))
    assert mod._latest_bench_path() is None


def test_coverage_md_matches_its_generator():
    """COVERAGE.md is generated from the registry tags: the committed
    file must equal what tools/gen_coverage.py renders now, so a
    registry change that moves the inventory fails here until the file
    is regenerated instead of drifting."""
    with open(os.path.join(REPO_ROOT, "COVERAGE.md")) as fh:
        committed = fh.read()
    assert committed == _tool("gen_coverage").render()
