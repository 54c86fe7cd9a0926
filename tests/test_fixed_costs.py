"""Per-query fixed costs: work a query pays that does no data work.

Each test counts what a query runs (Spark jobs in a job group, session
registrations, server shutdown time) rather than timing the data path:
a fixture footer is read once per application, read-backs declare the
schema they wrote, the REST source registers once per session, and the
codegen cache holds a whole workload.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from ssn_college_software_architecture_assignments__spark import all_queries
from ssn_college_software_architecture_assignments__spark.catalog import Catalog
from ssn_college_software_architecture_assignments__spark.sources.mock_api import (
    MockApiServer,
)
from ssn_college_software_architecture_assignments__spark.sources.rest import read_rest

SF = "/root/testdata/sf0.001"


def _jobs(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` runs, counted in a fresh job group
    once the listener bus has delivered every job event."""
    sc = spark.sparkContext
    group = f"fixed-costs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "fixed-costs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _footer_jobs(spark, monkeypatch, fn) -> list[int]:
    """Ids of the jobs that run inside ``DataFrameReader.parquet`` while
    ``fn`` runs. Reading is lazy, so a job there is the footer read of
    schema inference; the writes and actions ``fn`` runs are not
    counted."""
    from pyspark.sql.readwriter import DataFrameReader

    sc = spark.sparkContext
    real = DataFrameReader.parquet
    footers = []

    def tagged(self, *paths, **options):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        frames = []
        footers.extend(
            _jobs(spark, lambda: frames.append(real(self, *paths, **options)))
        )
        sc.setJobGroup(outer, "fixed-costs")
        return frames[0]

    monkeypatch.setattr(DataFrameReader, "parquet", tagged)
    try:
        _jobs(spark, fn)
    finally:
        monkeypatch.setattr(DataFrameReader, "parquet", real)
    return footers


def test_catalog_reads_a_fixture_footer_once(spark):
    Catalog(spark, SF).table("region").schema
    assert _jobs(spark, lambda: Catalog(spark, SF).table("region").schema) == []


def test_catalog_rereads_a_rewritten_fixture(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["A", "B"]}), path)
    first = Catalog(spark, str(tmp_path)).table("region")
    assert first.columns == ["r_regionkey", "r_name"]
    again = _jobs(
        spark, lambda: Catalog(spark, str(tmp_path)).table("region").schema
    )
    assert again == []

    stat = os.stat(path)
    pq.write_table(
        pa.table({"r_regionkey": [7], "r_name": ["C"], "r_comment": ["x"]}), path
    )
    # a rewrite inside the same clock tick must still count as new
    os.utime(path, ns=(stat.st_atime_ns, stat.st_mtime_ns + 1_000_000))
    fresh = Catalog(spark, str(tmp_path)).table("region")
    assert fresh.columns == ["r_regionkey", "r_name", "r_comment"]
    assert [tuple(r) for r in fresh.collect()] == [(7, "C", "x")]


def test_sink_builders_run_no_footer_job(spark, tmp_path, monkeypatch):
    """e1, s7, s8 and t7 read back what they wrote with the schema they
    wrote, and their fixture footers are read once per application, so
    a second build runs no footer job."""
    fresh = tmp_path / "probe.parquet"
    pq.write_table(pa.table({"a": [1]}), fresh)
    # the counter sees a plain read's footer job
    assert len(
        _footer_jobs(spark, monkeypatch, lambda: spark.read.parquet(str(fresh)))
    ) == 1

    queries = all_queries()
    for name in (
        "e1_etl_connector",
        "s7_raw_sink_roundtrip",
        "s8_validated_insert",
        "t7_incremental_sink",
    ):
        queries[name](spark, SF)
        built = _footer_jobs(spark, monkeypatch, lambda: queries[name](spark, SF))
        assert built == [], name


def test_rest_source_registers_once_per_session(spark, monkeypatch):
    """Two reads on one session register ``restapi`` once; a new session
    has its own data source manager and registers again. Each session
    is made the active one while it reads: Spark checks a new name
    against the active session's sources."""
    from pyspark.sql.datasource import DataSourceRegistration

    registered = []
    real = DataSourceRegistration.register

    def counting(self, cls):
        registered.append(self.sparkSession)
        return real(self, cls)

    def activate(s):
        s._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession(
            s._jsparkSession
        )

    monkeypatch.setattr(DataSourceRegistration, "register", counting)
    one, two = spark.newSession(), spark.newSession()
    try:
        with MockApiServer([{"id": 1}]) as server:
            activate(one)
            for _ in range(2):
                read_rest(one, server.base_url, "items", schema="id BIGINT")
            assert registered == [one]
            activate(two)
            df = read_rest(two, server.base_url, "items", schema="id BIGINT")
            assert df.count() == 1
    finally:
        activate(spark)
    assert registered == [one, two]


def test_mock_api_exit_does_not_wait_for_the_poll():
    server = MockApiServer([])
    server.__enter__()
    t0 = time.perf_counter()
    server.__exit__(None, None, None)
    # serve_forever's default 0.5 s poll held every exit for 0.5 s
    assert time.perf_counter() - t0 < 0.25


def test_build_session_sizes_the_codegen_cache(spark):
    entries = int(spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    # one of Guava's 4 LRU segments holds the largest measured workload
    # (90 classes compiled by a cold curation_etl sweep); the default
    # 100 entries hold 25 a segment
    assert entries // 4 >= 90
