"""Structured Streaming plumbing shared by the streaming operators.

Incremental connectors are the Spark idiom for the reference's
rate-limited, repeatedly-run extraction with audit timestamps
(/root/reference/README.md:12,28). Tests and registry queries drive
streams from the static events parquet with ``availableNow`` triggers —
the batch-equivalence harness from SURVEY.md §5.2(5).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_fixture
from ..scratch import scratch_dir
from ..session import tune_session

def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events fixture with timestamps identical to the batch
    (Catalog) read.

    events.parquet carries TIMESTAMP(NANOS). How that surfaces depends on
    the Spark build: some read it natively as a (µs-truncated) timestamp,
    others only through nanosAsLong as a raw-nanos BIGINT — and declaring
    the wrong one silently delivers values off by 1000x (a hardcoded
    BIGINT schema on a native-nanos build yielded 1970-era timestamps and
    a 320x overcount in the t9 range join). So: take the BATCH schema
    from the parquet footer — read once per application
    (``catalog.read_fixture``) — declare exactly that for the stream, and
    rebuild the µs timestamp only when ts really arrives as a long
    (matching Catalog._normalize)."""
    tune_session(spark)
    from pyspark.sql import types as T

    base = sf_dir.rstrip("/")
    schema = read_fixture(spark, f"{base}/events.parquet").schema
    # The fixture is a single file, not a directory; FileStreamSource
    # derives basePath from the non-glob path prefix and requires it to be
    # a directory, so address the file through a glob ("events.parque*")
    # to make the parent dir the base path.
    raw = spark.readStream.schema(schema).parquet(f"{base}/events.parque*")
    if isinstance(raw.schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(raw.schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks demand TIMESTAMP (with zone); the session is pinned
        # UTC (tune_session), so the cast is value-identical.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def run_to_memory(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming query to completion over the available data
    (availableNow trigger) into an in-memory table; return it as a batch
    DataFrame. Checkpoints go to a throwaway temp dir.

    Stateful streaming creates one state store per shuffle partition per
    operator; at local scale that fixed cost dominates for FEW-key
    queries, so the default pins the count low. Queries whose keyed
    Python stage dominates instead (t6c: ~40k (user, day) groups, each
    one ``applyInPandasWithState`` call — 8 partitions leave most cores
    idle during the per-key Python work) pass ``state_partitions``
    sized to the session's parallelism (r18, guide §2.5/§4: measured
    24 s -> 10 s at sf0.1 with 32 cores, identical rows). On a cluster,
    size it to key cardinality."""
    spark = stream_df.sparkSession
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    checkpoint = scratch_dir(prefix="ssn_stream_ckpt_")
    if state_partitions is not None and state_partitions < 1:
        raise ValueError(
            f"state_partitions must be >= 1, got {state_partitions}"
        )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    # `is None`, not `or`: an explicit 0/falsy must fail loudly above,
    # never silently map to the few-key default (r18 advisory)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(8 if state_partitions is None else state_partitions),
    )
    try:
        query = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    return spark.table(name)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents fixture — the 'new documents arriving'
    source of the incremental curation operators (t12). Single-file
    fixture, so the glob trick from ``stream_events`` applies; schema
    from the batch footer, read once per application (no timestamp
    normalization needed — documents carries no temporal column)."""
    tune_session(spark)
    base = sf_dir.rstrip("/")
    schema = read_fixture(spark, f"{base}/documents.parquet").schema
    return spark.readStream.schema(schema).parquet(f"{base}/documents.parque*")
