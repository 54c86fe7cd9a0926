"""Fixture/table catalog.

The driver's verifiable data lake is ten parquet tables per scale factor
(``TESTDATA.md``): a TPC-H-ish star schema (region nation customer supplier
part orders lineitem) plus events / documents / embeddings. The reference's
``<connector>_raw`` collections (``/root/reference/README.md:27``) map to
tables in this catalog; analytics queries address them by name.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import tune_session

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Fixture footer schemas: (applicationId, path, st_mtime_ns, st_size,
# inference confs) -> schema. One SparkContext runs in a process at a
# time, so the first read of a new application drops the previous one's
# entries.
_footer_schemas: dict[tuple, T.StructType] = {}
_footer_lock = threading.Lock()
# Session confs that change the schema a parquet footer infers to (ts as
# raw nanos or as a timestamp, binary as string): part of the key, so a
# session that sets them otherwise infers its own schema.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)


def _file_identity(path: str) -> tuple | None:
    """(path, mtime, length) of a local regular file; None for anything
    else: directories, globs and non-local URIs are never cached."""
    if any(c in path for c in "*?[{"):
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (os.path.abspath(path), st.st_mtime_ns, st.st_size)


def read_fixture(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that reads a fixture file's footer
    once per application.

    Without a declared schema every parquet read runs a one-task Spark
    job that reads the file's footer, before any data is read. A fixture
    file does not change under a running application, so the schema of
    a single file is kept under its identity (path, mtime and length)
    and later reads declare it: the same plan, and no job. A rewritten
    file has a new identity and is read again. Directories and globs
    are read plainly."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    key = (spark.sparkContext.applicationId, *ident, confs)
    with _footer_lock:
        schema = _footer_schemas.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _footer_lock:
        for stale in [k for k in _footer_schemas if k[0] != key[0]]:
            del _footer_schemas[stale]
        _footer_schemas[key] = df.schema
    return df


class Catalog:
    """Lazy accessor for the per-scale-factor parquet tables.

    ``Catalog(spark, sf_dir).lineitem`` returns the lineitem DataFrame;
    reads are plain parquet scans (:func:`read_fixture`) so Catalyst
    retains full predicate pushdown / column pruning / partition pruning
    on every scan.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        tune_session(spark)
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")
        # Cache DataFrames per table so two accesses return the SAME plan
        # (self-referencing joins need identical attribute ids).
        self._frames: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown fixture table: {name!r}")
        if name not in self._frames:
            df = read_fixture(self.spark, f"{self.sf_dir}/{name}.parquet")
            self._frames[name] = self._normalize(df)
        return self._frames[name]

    @staticmethod
    def _normalize(df: DataFrame) -> DataFrame:
        """Normalize ingest-side type quirks (the reference's Transform
        stage handles "compatibility" coercions — README.md:22).

        Parquet TIMESTAMP(NANOS) surfaces differently across Spark
        builds: as raw nanos (``nanosAsLong``, set in tune_session) on
        some, natively as a µs-truncated TIMESTAMP_NTZ on others. Both
        are normalized to a session-zone TIMESTAMP — the long via
        integer division (floor — matches DuckDB's CAST(ns AS
        TIMESTAMP)), the NTZ via a cast that is value-identical because
        the session is pinned UTC. Downstream operators may then rely on
        TimestampType (watermarks and unix_micros reject NTZ)."""
        out = df
        for field in df.schema.fields:
            if field.name == "ts" and isinstance(field.dataType, T.LongType):
                out = out.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif field.name == "ts" and isinstance(
                field.dataType, T.TimestampNTZType
            ):
                out = out.withColumn("ts", F.col("ts").cast("timestamp"))
        return out

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register every table as a temp view so ``spark.sql`` queries and
        DataFrame queries see identical data (SURVEY.md §3.2 E2)."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Spread compute-heavy map stages across cores when the scan cannot.

    The local fixtures are single-file, single-row-group parquet, so a scan
    yields ONE task no matter what maxPartitionBytes says — any expensive
    per-row work (hashing, shingling, decode UDFs) would run on one core.
    On a real lake the input arrives in thousands of splits and this is a
    no-op; we only repartition when the scan gives fewer splits than
    requested, so no shuffle is ever added to an already-parallel input.

    It is for per-row JVM work. A Python kernel (``mapInPandas``, pandas
    UDF) runs on the scan's own splits instead: each Python task costs
    ~0.15-0.25 s of worker CPU (importing pyspark from its zip, with no
    bytecode cache) before it does any numpy work, more than a
    vectorized kernel spends on a fixture-sized split (x3y's 2,000 rows
    cost more in 4 tasks than in 1)."""
    from .session import default_parallelism

    target = min_partitions or default_parallelism()
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
