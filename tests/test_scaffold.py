"""Connector scaffold tests: the generated project must match the
reference structure (/root/reference/README.md:73-84) and its
etl_connector.py must run end-to-end against the mock API."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

from ssn_college_software_architecture_assignments__spark.scaffold import new_connector
from ssn_college_software_architecture_assignments__spark.sources.mock_api import (
    MockApiServer,
)

RECORDS = [{"id": i, "city": f"c{i}", "temp_c": i * 0.5} for i in range(120)]


def test_scaffold_layout_and_cli(tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            "-m",
            "ssn_college_software_architecture_assignments__spark",
            "new-connector",
            "weather_api",
            "--dir",
            str(tmp_path),
        ],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert out.returncode == 0, out.stderr
    root = tmp_path / "weather_api"
    for fname in (
        "etl_connector.py",
        "README.md",
        ".env.example",
        "requirements.txt",
        ".gitignore",
    ):
        assert (root / fname).exists(), fname
    # .env itself is never generated; .gitignore covers it
    assert not (root / ".env").exists()
    assert ".env" in (root / ".gitignore").read_text()
    assert "WEATHER_API_BASE_URL" in (root / ".env.example").read_text()


def test_scaffold_rejects_bad_names_and_overwrite(tmp_path):
    with pytest.raises(ValueError):
        new_connector("Bad-Name", dest_dir=str(tmp_path))
    new_connector("dupe", dest_dir=str(tmp_path))
    with pytest.raises(FileExistsError):
        new_connector("dupe", dest_dir=str(tmp_path))


def test_generated_connector_runs_e2e_against_mock_api(spark, tmp_path, monkeypatch):
    """Generate a scaffold, point it at the in-process mock API through
    its .env contract, import its etl_connector module, and run the full
    E->T->L: the landed <name>_raw JSON must equal the API's records."""
    root = new_connector("iss_passes", dest_dir=str(tmp_path))
    with MockApiServer(RECORDS) as server:
        env_file = os.path.join(root, ".env")
        with open(env_file, "w", encoding="utf-8") as fh:
            fh.write(
                f"ISS_PASSES_BASE_URL={server.base_url}\n"
                "ISS_PASSES_ENDPOINT=passes\n"
                "ISS_PASSES_SCHEMA=id BIGINT, city STRING, temp_c DOUBLE\n"
            )
        spec = importlib.util.spec_from_file_location(
            "iss_passes_etl", os.path.join(root, "etl_connector.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        for k in ("ISS_PASSES_BASE_URL", "ISS_PASSES_ENDPOINT", "ISS_PASSES_SCHEMA"):
            monkeypatch.delenv(k, raising=False)
        path, n = mod.run(
            spark=spark,
            out_dir=str(tmp_path / "lake"),
            env_file=env_file,
            mode="overwrite",
        )
    assert n == len(RECORDS)
    back = spark.read.json(path)
    assert back.count() == len(RECORDS)
    assert {r["id"] for r in back.select("id").collect()} == {
        r["id"] for r in RECORDS
    }
    # audit column present on every record (README.md:28,99)
    assert back.filter("_ingested_at IS NULL").count() == 0


def test_check_priority_is_complete_and_duplicate_free():
    """The evidence-age rotation list must stay a PERMUTATION of the
    registry: a registered query missing from _CHECK_PRIORITY silently
    sorts last forever (never rotates), a stale name is dead weight,
    and a duplicate makes the rank mapping ambiguous. The list is
    edited by hand; this pins the invariant for every edit."""
    from ssn_college_software_architecture_assignments__spark.registry import (
        _CHECK_PRIORITY,
        load_all,
    )

    listed = list(_CHECK_PRIORITY)
    names = set(load_all())
    assert len(listed) == len(set(listed)), "duplicate priority entries"
    assert set(listed) == names, (
        sorted(set(listed) - names),
        sorted(names - set(listed)),
    )


def _bench_module():
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "benchmod", str(Path(__file__).resolve().parents[1] / "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_bench_common18_is_frozen_and_headline_consistent():
    """COMMON18 anchors the round-over-round series: exactly 18 names,
    every one either a HEADLINE query or a j11 leg, and the full
    HEADLINE set must still contain every COMMON18 member it is
    supposed to time (a headline rename would silently zero the
    subtotal)."""
    mod = _bench_module()
    c18 = list(mod.COMMON18)
    assert len(c18) == 18 and len(set(c18)) == 18
    timed = set(mod.HEADLINE) | {"j11_write", "j11_join"}
    missing = [n for n in c18 if n not in timed]
    assert not missing, missing


def test_bench_fingerprint_records_the_session_core_budget(spark):
    """os.cpu_count() is the host's core count, not the session's: the
    fingerprint must also carry the master, the default parallelism and
    the raw SPARK_GRAFT_CPUS the session was built from."""
    fp = _bench_module()._fingerprint(spark)
    sc = spark.sparkContext
    assert fp["master"] == sc.master
    assert fp["default_parallelism"] == sc.defaultParallelism
    assert fp["spark_graft_cpus"] == os.environ.get("SPARK_GRAFT_CPUS")
