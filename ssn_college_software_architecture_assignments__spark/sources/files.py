"""File-format scans (SURVEY.md §2.1 S4-S6): JSON, CSV, Parquet.

JSON is the reference's native payload format (README.md:21); CSV is the
common connector landing format. Each scan query proves a lossless
round-trip: export a fixture table to the format, read it back with an
EXPLICIT schema (never inferSchema in production — one pass saved, types
pinned), and compare against the original via the oracle.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Catalog
from ..registry import register
from ..scratch import persist_scoped, scratch_dir

_EXPORT_ROOT = os.path.join(tempfile.gettempdir(), "ssn_spark_export")

DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
CUSTOMER_SCHEMA = (
    "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
    "c_mktsegment STRING"
)


def _export_dir(sf_dir: str, fmt: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/"))
    path = os.path.join(_EXPORT_ROOT, tag, fmt)
    return path


# S4 — JSON scan ---------------------------------------------------------------

_S4_ORACLE = """
SELECT doc_id, text, lang, source, n_chars FROM documents
"""


@register("s4_json_scan", oracle=_S4_ORACLE, tags=("S4",))
def s4_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines round trip with explicit schema (no inference pass).
    At scale: JSON scans support predicate pushdown only on partition
    columns — land JSON into parquet early (see s7_raw_sink)."""
    docs = Catalog(spark, sf_dir).documents
    out = _export_dir(sf_dir, "json")
    docs.write.mode("overwrite").json(out)
    return spark.read.schema(DOCS_SCHEMA).json(out)


# S5 — Parquet scan -------------------------------------------------------------

_S5_ORACLE = """
SELECT r_regionkey, r_name FROM region
"""


@register("s5_parquet_scan", oracle=_S5_ORACLE, tags=("S5",))
def s5_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar scan — the engine's canonical storage format (vectorized
    reader, predicate pushdown, column pruning)."""
    return Catalog(spark, sf_dir).region.select("r_regionkey", "r_name")


# S6 — CSV scan -------------------------------------------------------------------

_S6_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer
"""


@register("s6_csv_scan", oracle=_S6_ORACLE, tags=("S6",))
def s6_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round trip with header + explicit schema."""
    cust = Catalog(spark, sf_dir).customer
    out = _export_dir(sf_dir, "csv")
    cust.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(CUSTOMER_SCHEMA).option("header", True).csv(out)


# S1/S2/S3 — REST extraction through the Python Data Source ------------------------

_REST_SCHEMA = "doc_id BIGINT, lang STRING, n_chars BIGINT"

_S1_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 1000
"""

# s1b-s3 and s9b all extract the first 100 documents.
_REST100_ORACLE = """
SELECT doc_id, lang, n_chars FROM documents WHERE doc_id < 100
"""


def _docs_records(spark: SparkSession, sf_dir: str, limit: int) -> list[dict]:
    docs = Catalog(spark, sf_dir).documents.filter(F.col("doc_id") < limit)
    return [
        {"doc_id": r["doc_id"], "lang": r["lang"], "n_chars": r["n_chars"]}
        for r in docs.select("doc_id", "lang", "n_chars").toLocalIterator()
    ]


def _mock_rest_read(
    spark: SparkSession, sf_dir: str, limit: int, server: dict, **options: str
) -> DataFrame:
    """Serve documents with ``doc_id < limit`` from an in-process mock
    REST API (FIXTURES.md B1, configured by ``server``) and extract them
    with the ``restapi`` source under ``options``.

    The mock server lives only for the duration of the action, so the
    result is materialized (persisted + counted) before the server
    stops; the cache lives as long as the returned DataFrame."""
    from .mock_api import MockApiServer
    from .rest import register_rest_source

    records = _docs_records(spark, sf_dir, limit)
    register_rest_source(spark)
    with MockApiServer(records, **server) as api:
        df = (
            spark.read.format("restapi")
            .option("base_url", api.base_url)
            .option("endpoint", "documents")
            .option("schema", _REST_SCHEMA)
            .options(**options)
            .load()
        )
        df = persist_scoped(df)
        df.count()  # materialize while the server is alive
    return df


@register("s1_rest_source", oracle=_S1_ORACLE, tags=("S1", "S2", "S3"))
def s1_rest_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full E(xtract) path: an in-process mock REST API serves the
    documents table as paginated JSON (FIXTURES.md B1); the ``restapi``
    Python Data Source extracts it with page-range partitions, yielding
    a DataFrame equal to the source table (bounded to 1000 docs so the
    correctness run isn't dominated by mock HTTP time)."""
    return _mock_rest_read(
        spark, sf_dir, 1000, {}, page_size="200", pages_per_partition="2"
    )


@register("s1b_rest_infer", oracle=_REST100_ORACLE, tags=("S1",))
def s1b_rest_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference for unknown APIs (SURVEY.md §1.2): ``read_rest``
    with ``schema=None`` probes page 1, infers the record schema with
    Spark's JSON inference, pins it to a file, and the extraction then
    runs with the pinned schema — the oracle proves the inferred-schema
    read equals the declared-schema read."""

    from .mock_api import MockApiServer
    from .rest import read_rest

    records = _docs_records(spark, sf_dir, 100)
    pin = os.path.join(scratch_dir(prefix="ssn_schema_pin_"), "documents.schema.json")
    with MockApiServer(records) as server:
        df = read_rest(
            spark,
            server.base_url,
            "documents",
            schema=None,
            page_size=50,
            schema_pin_path=pin,
        )
        df = persist_scoped(df.select("doc_id", "lang", "n_chars"))
        df.count()
    assert os.path.exists(pin), "inferred schema was not pinned"
    return df


@register("s1c_rest_env_auth", oracle=_REST100_ORACLE, tags=("S1",))
def s1c_rest_env_auth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credentialed extraction through the .env contract
    (README.md:16-17,89-92): the token lives only in a .env file, the
    server rejects unauthenticated requests (401), and ``read_rest``
    loads the file and attaches the bearer token. Redaction is asserted
    in tests/test_rest_source.py."""

    from .mock_api import MockApiServer
    from .rest import read_rest

    token = "s1c-test-token-not-a-real-secret"
    env_file = os.path.join(scratch_dir(prefix="ssn_dotenv_"), ".env")
    with open(env_file, "w", encoding="utf-8") as fh:
        fh.write(f"# connector credentials\nexport SSN_S1C_API_TOKEN='{token}'\n")
    os.environ.pop("SSN_S1C_API_TOKEN", None)
    records = _docs_records(spark, sf_dir, 100)
    with MockApiServer(records, require_token=token) as server:
        df = read_rest(
            spark,
            server.base_url,
            "documents",
            schema=_REST_SCHEMA,
            page_size=50,
            env_file=env_file,
            auth_env="SSN_S1C_API_TOKEN",
        )
        df = persist_scoped(df)
        df.count()
    return df


@register("s1d_oauth_refresh", oracle=_REST100_ORACLE, tags=("S1", "S3"))
def s1d_oauth_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OAuth2 client-credentials extraction with MID-RUN token expiry
    (README.md:88-92 auth contract beyond static bearer): every token dies
    after ONE data request, so each 2-page task inevitably hits a 401 on
    its second page, must re-fetch, and the extraction still yields
    exactly the source table. The gate asserts on the server's 401
    counter — a lossless read that provoked 401s can only have succeeded
    through the reader's 401->refresh->retry path (a raw fetch-count
    would also rise from per-task lazy fetches and prove nothing).
    Client id/secret ride the .env contract like every other credential."""

    from .mock_api import MockApiServer
    from .rest import read_rest

    records = _docs_records(spark, sf_dir, 100)
    env_file = os.path.join(scratch_dir(prefix="ssn_oauth_env_"), ".env")
    with open(env_file, "w", encoding="utf-8") as fh:
        fh.write(
            "S1D_CLIENT_ID=connector-ci\n"
            "S1D_CLIENT_SECRET=s1d-test-secret-not-a-real-secret\n"
        )
    with MockApiServer(records, oauth_mode=True, token_ttl_requests=1) as server:
        df = read_rest(
            spark,
            server.base_url,
            "documents",
            schema=_REST_SCHEMA,
            page_size=25,
            pages_per_partition=2,
            env_file=env_file,
            token_url=f"{server.base_url}/oauth/token",
            client_id_env="S1D_CLIENT_ID",
            client_secret_env="S1D_CLIENT_SECRET",
        )
        df = persist_scoped(df)
        df.count()
        assert server.auth_401s >= 1, "mid-run 401 (expiry) never happened"
        assert server.token_fetches >= 2, "401-driven re-fetch never happened"
    return df


@register("s2_paginated_read", oracle=_REST100_ORACLE, tags=("S2",))
def s2_paginated_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination as partition parallelism: one InputPartition per page
    (pages_per_partition=1), so every page is fetched by its own task —
    the page loop runs on executors, not the driver (README.md:12)."""
    return _mock_rest_read(
        spark, sf_dir, 100, {}, page_size="25", pages_per_partition="1"
    )


@register("s2b_cursor_read", oracle=_REST100_ORACLE, tags=("S2",))
def s2b_cursor_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-cursor pagination (Stripe/GitHub shape): the reader walks
    next_cursor links serially in one partition — cursor chains cannot be
    probed for parallelism, so scale comes from running many connectors,
    not splitting one chain (README.md:12)."""
    return _mock_rest_read(
        spark, sf_dir, 100, {"cursor_mode": True}, page_size="30", pagination="cursor"
    )


@register("s2c_link_header_read", oracle=_REST100_ORACLE, tags=("S2",))
def s2c_link_header_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 5988 Link-header pagination (GitHub/GitLab shape, README.md:12;
    SURVEY S2's third pagination style): the server advertises the next
    page only in a ``Link: <url>; rel="next"`` response header, so the
    reader follows the chain serially in one partition — like cursors,
    link chains cannot be probed for parallelism."""
    return _mock_rest_read(
        spark, sf_dir, 100, {"link_mode": True}, page_size="30", pagination="link"
    )


@register("s9b_rest_stream", oracle=_REST100_ORACLE, tags=("S9",))
def s9b_rest_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental REST ingestion through the Python streaming data
    source: repeated availableNow runs against one checkpoint walk the
    page offset forward until the API is exhausted — the reference's
    scheduled-rerun model (README.md:28) with exactly-once commits. The
    final sink equals the source table, which is what the oracle checks."""

    from .mock_api import MockApiServer
    from .rest import register_rest_source

    records = _docs_records(spark, sf_dir, 100)
    register_rest_source(spark)
    ckpt = scratch_dir(prefix="ssn_rest_stream_ckpt_")
    out_dir = scratch_dir(prefix="ssn_rest_stream_out_")
    with MockApiServer(records) as server:
        # Run 1 drains all 4 pages in one micro-batch; run 2 re-runs against
        # the same checkpoint and must commit nothing (exactly-once proof).
        for _ in range(2):
            stream = (
                spark.readStream.format("restapi")
                .option("base_url", server.base_url)
                .option("endpoint", "documents")
                .option("schema", _REST_SCHEMA)
                .option("page_size", "25")
                .option("stream_pages_per_batch", "4")
                .load()
            )
            q = (
                stream.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
    return spark.read.parquet(out_dir).select("doc_id", "lang", "n_chars")


@register("s3_rate_limited_read", oracle=_REST100_ORACLE, tags=("S3",))
def s3_rate_limited_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-limit + fault survival: the server 429s the first two
    requests (honored via Retry-After backoff) and the reader throttles
    itself to rate_limit_rps per partition — yet the extraction still
    yields exactly the source rows (README.md:12,32)."""
    return _mock_rest_read(
        spark,
        sf_dir,
        100,
        {"fail_first_n": 2, "fail_mode": "429"},
        page_size="50",
        rate_limit_rps="50",
    )
