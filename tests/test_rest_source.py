"""Connector fault-matrix tests (FIXTURES.md B2 / reference README.md:32):
invalid responses, empty payloads, rate limits, connectivity, auth."""

from __future__ import annotations

import json

import pytest

from ssn_college_software_architecture_assignments__spark.sources.mock_api import (
    MockApiServer,
)
from ssn_college_software_architecture_assignments__spark.sources.rest import (
    read_rest,
    register_rest_source,
)

RECORDS = [{"id": i, "name": f"item{i}", "price": i * 1.5} for i in range(250)]
SCHEMA = "id BIGINT, name STRING, price DOUBLE"


def _read(spark, server, **opts):
    register_rest_source(spark)
    reader = (
        spark.read.format("restapi")
        .option("base_url", server.base_url)
        .option("endpoint", "items")
        .option("schema", SCHEMA)
        .option("page_size", "100")
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def test_happy_path_pagination(spark):
    with MockApiServer(RECORDS) as server:
        df = _read(spark, server)
        rows = df.collect()
    assert len(rows) == 250
    assert {r["id"] for r in rows} == set(range(250))
    # page-range parallelism: 3 pages / 4-per-partition -> >= 1 partition
    assert df.rdd.getNumPartitions() >= 1


def test_partition_per_page_range(spark):
    with MockApiServer(RECORDS) as server:
        df = _read(spark, server, pages_per_partition=1)
        assert df.rdd.getNumPartitions() == 3  # 250 records / 100 per page
        assert df.count() == 250


def test_empty_payload_terminates(spark):
    with MockApiServer([]) as server:
        df = _read(spark, server)
        assert df.count() == 0


def test_retry_on_500(spark):
    with MockApiServer(RECORDS[:50], fail_first_n=2, fail_mode="500") as server:
        df = _read(spark, server)
        assert df.count() == 50


def test_retry_on_429_rate_limit(spark):
    with MockApiServer(RECORDS[:50], fail_first_n=2, fail_mode="429") as server:
        df = _read(spark, server)
        assert df.count() == 50


def test_retry_on_invalid_json(spark):
    with MockApiServer(RECORDS[:50], fail_first_n=1, fail_mode="garbage") as server:
        df = _read(spark, server)
        assert df.count() == 50


def test_auth_token_from_env(spark, monkeypatch):
    # read_rest resolves auth_env on the DRIVER, so a live env change is
    # honored (worker processes only inherit the JVM-launch environment).
    monkeypatch.setenv("TEST_API_TOKEN", "sekrit")
    with MockApiServer(RECORDS[:10], require_token="sekrit") as server:
        df = read_rest(
            spark, server.base_url, "items", SCHEMA,
            page_size="100", auth_env="TEST_API_TOKEN",
        )
        assert df.count() == 10


def test_missing_auth_env_fails_fast(spark, monkeypatch):
    monkeypatch.delenv("NO_SUCH_TOKEN", raising=False)
    with MockApiServer(RECORDS[:10], require_token="x") as server:
        with pytest.raises(Exception, match="auth env var"):
            read_rest(
                spark, server.base_url, "items", SCHEMA,
                page_size="100", auth_env="NO_SUCH_TOKEN",
            ).collect()


def test_cursor_pagination_walks_chain(spark):
    with MockApiServer(RECORDS, cursor_mode=True) as server:
        df = _read(spark, server, pagination="cursor")
        rows = df.collect()
    assert {r["id"] for r in rows} == set(range(250))
    assert df.rdd.getNumPartitions() == 1  # cursor chains are serial


def test_cursor_pagination_with_retries(spark):
    with MockApiServer(
        RECORDS[:60], cursor_mode=True, fail_first_n=2, fail_mode="500"
    ) as server:
        df = _read(spark, server, pagination="cursor", page_size="25")
        assert df.count() == 60


def test_streaming_rest_incremental_reruns_exactly_once(spark, tmp_path):
    """The scheduled-rerun connector model (reference README.md:28): each
    availableNow run ingests only pages beyond the committed offset;
    re-runs after exhaustion add nothing; no duplicates ever."""
    ckpt, out_dir = str(tmp_path / "ckpt"), str(tmp_path / "out")
    totals = []
    with MockApiServer(RECORDS) as server:
        register_rest_source(spark)
        for _ in range(4):
            stream = (
                spark.readStream.format("restapi")
                .option("base_url", server.base_url)
                .option("endpoint", "items")
                .option("schema", SCHEMA)
                .option("page_size", "50")
                .option("stream_pages_per_batch", "2")
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
            rows = spark.read.parquet(out_dir).collect()
            totals.append(len(rows))
            assert len({r["id"] for r in rows}) == len(rows)  # no dupes
    assert totals == [100, 200, 250, 250]


def test_missing_fields_become_null(spark):
    ragged = [{"id": 1, "name": "a", "price": 1.0}, {"id": 2}]  # schema drift
    with MockApiServer(ragged) as server:
        rows = {r["id"]: r for r in _read(spark, server).collect()}
    assert rows[2]["name"] is None and rows[2]["price"] is None


# -- .env loading + schema inference (reference README.md:16-17; SURVEY §1.2) --


def test_dotenv_parser_formats(tmp_path):
    from ssn_college_software_architecture_assignments__spark.sources.dotenv import (
        load_dotenv,
        parse_dotenv,
    )

    text = """
# comment line
export TOKEN='abc 123'
PLAIN=hello
QUOTED="with # hash inside"
UNQUOTED=value # trailing comment
EMPTY=
BAD LINE NO EQUALS
=novalue
"""
    parsed = parse_dotenv(text)
    assert parsed == {
        "TOKEN": "abc 123",
        "PLAIN": "hello",
        "QUOTED": "with # hash inside",
        "UNQUOTED": "value",
        "EMPTY": "",
    }

    import os

    env_file = tmp_path / ".env"
    env_file.write_text("SSN_DOTENV_TEST_A=file\nSSN_DOTENV_TEST_B=file\n")
    os.environ.pop("SSN_DOTENV_TEST_A", None)
    os.environ["SSN_DOTENV_TEST_B"] = "live"
    try:
        load_dotenv(str(env_file))
        assert os.environ["SSN_DOTENV_TEST_A"] == "file"
        assert os.environ["SSN_DOTENV_TEST_B"] == "live"  # live env wins
        load_dotenv(str(env_file), override=True)
        assert os.environ["SSN_DOTENV_TEST_B"] == "file"
        assert load_dotenv(str(tmp_path / "missing.env")) == {}  # no-op
    finally:
        os.environ.pop("SSN_DOTENV_TEST_A", None)
        os.environ.pop("SSN_DOTENV_TEST_B", None)


def test_dotenv_auth_token_redacted_from_plan(spark, tmp_path):
    """The token from a .env file must authenticate the read but never
    appear in the DataFrame's query plan output."""
    import os

    token = "dotenv-secret-do-not-print"
    env_file = tmp_path / ".env"
    env_file.write_text(f"SSN_REDACT_TOKEN={token}\n")
    os.environ.pop("SSN_REDACT_TOKEN", None)
    try:
        with MockApiServer(RECORDS[:50], require_token=token) as server:
            df = read_rest(
                spark, server.base_url, "items", SCHEMA,
                page_size="50",
                env_file=str(env_file),
                auth_env="SSN_REDACT_TOKEN",
            )
            assert df.count() == 50
            plan = df._jdf.queryExecution().toString()
            assert token not in plan
    finally:
        os.environ.pop("SSN_REDACT_TOKEN", None)


def test_schema_inference_pin_and_evolve(spark, tmp_path):
    """schema=None infers from page 1; the pin file persists the schema;
    a later run with a new field appends it without retyping old ones."""
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        infer_rest_schema,
    )

    pin = str(tmp_path / "items.schema.json")
    with MockApiServer(RECORDS[:20]) as server:
        df = read_rest(
            spark, server.base_url, "items", schema=None,
            page_size="20", schema_pin_path=pin,
        )
        assert df.count() == 20
        assert set(df.columns) == {"id", "name", "price"}
        assert df.schema["price"].dataType.simpleString() == "double"

    evolved_records = [dict(r, rating=5) for r in RECORDS[:20]]
    with MockApiServer(evolved_records) as server:
        ddl = infer_rest_schema(
            spark, server.base_url, "items", page_size=20, pin_path=pin
        )
    # pinned fields keep their types and order; the new field is appended
    assert ddl.startswith("id bigint, name string, price double")
    assert "rating" in ddl


def test_link_header_pagination_walks_chain(spark):
    """pagination=link follows RFC 5988 Link rel="next" headers across
    pages (relative URLs resolved against the current address) and stops
    when the header disappears. The mock is deliberately hostile: next
    and first ride SEPARATE Link headers and the next URL contains an
    unencoded comma — dropping either would silently truncate the read
    (no next is indistinguishable from end-of-chain)."""
    with MockApiServer(RECORDS, link_mode=True) as server:
        df = _read(spark, server, pagination="link", page_size=60)
        rows = df.collect()
    assert len(rows) == len(RECORDS)
    assert {r["id"] for r in rows} == {r["id"] for r in RECORDS}


def test_link_chain_truncation_fails_loudly(spark):
    """A lost rel="next" is indistinguishable from end-of-chain, so when
    the API advertises meta.total the reader must cross-check and raise
    on a short chain instead of silently returning a truncated table."""
    with MockApiServer(RECORDS, link_mode=True, link_truncate_after=1) as server:
        df = _read(spark, server, pagination="link", page_size=60)
        with pytest.raises(Exception, match="truncation|advertised|SparkException"):
            df.count()


def test_cursor_chain_truncation_fails_loudly(spark):
    """Same net for cursor chains: a server emitting next_cursor=null
    early (with more data remaining) must raise against meta.total, not
    return a silently truncated table."""
    with MockApiServer(
        RECORDS, cursor_mode=True, link_truncate_after=1
    ) as server:
        df = _read(spark, server, pagination="cursor", page_size=60)
        with pytest.raises(Exception, match="truncation|advertised|SparkException"):
            df.count()


def test_parse_link_next_formats():
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        parse_link_next,
    )

    assert parse_link_next(None) is None
    assert parse_link_next("") is None
    assert (
        parse_link_next('<https://api/x?page=2>; rel="next"')
        == "https://api/x?page=2"
    )
    # multiple links, unquoted rel, arbitrary order and spacing
    hdr = '</x?page=9>; rel="last" , </x?page=2>;rel=next'
    assert parse_link_next(hdr) == "/x?page=2"
    assert parse_link_next('</x?page=1>; rel="prev"') is None
    # unencoded comma inside a link URL must not truncate parsing
    hdr = '</x?ids=1,2&page=3>; rel="next", </x?ids=1,2&page=9>; rel="last"'
    assert parse_link_next(hdr) == "/x?ids=1,2&page=3"
    # rel list (RFC 8288 §3.3): next may ride with other relation types
    assert parse_link_next('</x?page=4>; rel="next last"') == "/x?page=4"
    # joined repeated headers (", "-concatenated by the fetch layer)
    hdr = '</x?page=1>; rel="first", </x?page=5>; rel="next"'
    assert parse_link_next(hdr) == "/x?page=5"
    # ';rel=next' INSIDE a quoted param value must not mint a false next
    hdr = '</x?page=9>; rel="last"; title="a;rel=next"'
    assert parse_link_next(hdr) is None
    hdr = '</x?page=9>; title="a;rel=next"; rel="prev"'
    assert parse_link_next(hdr) is None
    # ...while a genuine next still parses past a hostile quoted title
    hdr = '</x?p=2>; title="a;rel=last"; rel="next"'
    assert parse_link_next(hdr) == "/x?p=2"


def test_capped_read_returns_bounded_prefix(spark):
    """A deliberately low max_pages is a CAPPED read, not truncation:
    the walkers must return the bounded prefix instead of raising the
    silent-truncation error (the loop ran out of budget with a valid
    next pointer still in hand — nothing was 'lost')."""
    with MockApiServer(RECORDS, link_mode=True) as server:
        df = _read(spark, server, pagination="link", page_size=60, max_pages=2)
        assert df.count() == 120  # 2 pages x 60, no RuntimeError
    with MockApiServer(RECORDS, cursor_mode=True) as server:
        df = _read(spark, server, pagination="cursor", page_size=60, max_pages=2)
        assert df.count() == 120


def _all_plan_text(df) -> str:
    """Every user-visible plan surface for a DataFrame: the full
    queryExecution dump (parsed/analyzed/optimized/physical) plus the
    extended and formatted explain outputs."""
    import contextlib
    import io

    text = df._jdf.queryExecution().toString()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
        df.explain("formatted")
    return text + buf.getvalue()


def test_secrets_never_in_query_plans(spark, monkeypatch):
    """Credentials must never surface in plan/explain output — plans leak
    into logs, UIs, and error reports. Gated for BOTH credential paths:
    OAuth client id/secret resolved from env names, and a directly-passed
    bearer token (the wide-exposure path users still reach for)."""
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        read_rest,
    )

    secret = "plan-leak-canary-secret-9f3a"
    client_id = "plan-leak-canary-id-17bd"
    monkeypatch.setenv("PLANTEST_CLIENT_ID", client_id)
    monkeypatch.setenv("PLANTEST_CLIENT_SECRET", secret)
    with MockApiServer(RECORDS[:10], oauth_mode=True) as server:
        df = read_rest(
            spark, server.base_url, "items", schema=SCHEMA, page_size=100,
            token_url=f"{server.base_url}/oauth/token",
            client_id_env="PLANTEST_CLIENT_ID",
            client_secret_env="PLANTEST_CLIENT_SECRET",
        )
        assert df.count() == 10
        plans = _all_plan_text(df)
        assert secret not in plans
        assert client_id not in plans
        assert "tok-" not in plans  # issued bearer tokens stay executor-side

    token = "direct-canary-token-55e1"
    with MockApiServer(RECORDS[:5], require_token=token) as server:
        df = read_rest(
            spark, server.base_url, "items", schema=SCHEMA, auth_token=token
        )
        assert df.count() == 5
        assert token not in _all_plan_text(df)


def test_non_numeric_total_skips_cross_check(spark):
    """meta.total is advisory: a server whose total resolves to a dict
    (or junk string) must not kill the executor with an int() TypeError —
    the cross-check is skipped and the full chain is still returned."""
    weird = {"exact": False, "value": "many"}
    with MockApiServer(RECORDS, link_mode=True, meta_total=weird) as server:
        df = _read(spark, server, pagination="link", page_size=60)
        assert df.count() == len(RECORDS)
    with MockApiServer(
        RECORDS, cursor_mode=True, meta_total="n/a"
    ) as server:
        df = _read(spark, server, pagination="cursor", page_size=60)
        assert df.count() == len(RECORDS)
    # Page mode (the default) probes the total to SIZE partitions: junk
    # totals must fall back to the serial PageRange walk, not crash the
    # planner with int(dict).
    with MockApiServer(RECORDS, meta_total=weird) as server:
        df = _read(spark, server, page_size=60)
        assert df.count() == len(RECORDS)
    with MockApiServer(RECORDS, meta_total=True) as server:  # bool != count
        df = _read(spark, server, page_size=60)
        assert df.count() == len(RECORDS)


def test_oauth_client_credentials_with_midrun_refresh(spark, monkeypatch):
    """Tokens expiring after ONE request force every 2-page task to hit a
    401 mid-read and re-fetch; extraction must still be lossless. The
    server keeps a SET of valid tokens (overlapping tokens, like real
    client-credentials servers), so concurrent tasks cannot invalidate
    each other — the 401s counted here come only from genuine expiry."""
    secret = "oauth-test-secret-not-real"
    monkeypatch.setenv("OAUTH_T_ID", "test-client")
    monkeypatch.setenv("OAUTH_T_SECRET", secret)
    with MockApiServer(RECORDS, oauth_mode=True, token_ttl_requests=1) as server:
        df = read_rest(
            spark,
            server.base_url,
            "items",
            schema=SCHEMA,
            page_size=50,
            pages_per_partition=2,
            token_url=f"{server.base_url}/oauth/token",
            client_id_env="OAUTH_T_ID",
            client_secret_env="OAUTH_T_SECRET",
        )
        rows = df.collect()
        assert server.auth_401s >= 1, "expiry-driven 401 never happened"
        assert server.token_fetches >= 2, "401-driven re-fetch never happened"
        # the resolved secret must not leak into the query plan text
        plan = df._jdf.queryExecution().toString()
        assert secret not in plan
    assert {r["id"] for r in rows} == {r["id"] for r in RECORDS}


def test_oauth_refresh_once_then_surface(spark):
    """When a refreshed token STILL yields 401 (instant revocation), the
    reader must refresh exactly once and then surface the error — not
    loop on the token endpoint."""
    with MockApiServer(RECORDS, oauth_mode=True, revoke_tokens=True) as server:
        df = _read(
            spark,
            server,
            token_url=f"{server.base_url}/oauth/token",
            client_id="cid",
            client_secret="sek",
        )
        with pytest.raises(Exception):
            df.count()
        # initial lazy fetch + exactly one 401-driven re-fetch per attempt
        assert server.token_posts == 2, f"refresh storm: {server.token_posts} posts"
        assert server.auth_401s == 2  # first GET + the single retry


def test_oauth_refresh_endpoint_4xx_no_retry_storm(spark):
    """A 4xx from the token endpoint is a credential error: fail fast on
    the first POST, no backoff-retry loop against the refresh endpoint."""
    with MockApiServer(RECORDS, oauth_mode=True) as server:
        df = _read(
            spark,
            server,
            token_url=f"{server.base_url}/oauth/token",
            client_id="",  # mock rejects a missing client_id with 400
            client_secret="x",
        )
        with pytest.raises(Exception):
            df.count()
        assert server.token_posts == 1, f"retry storm: {server.token_posts} posts"


def test_oauth_env_names_resolved_reader_side(monkeypatch):
    """ship_secrets=False ships only env var NAMES; the reader resolves
    values from its own process environment and fails fast when the named
    var is absent — secrets never enter the options map."""
    from pyspark.sql.types import StructType
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        RestDataSourceReader,
    )

    schema = StructType.fromDDL(SCHEMA)
    monkeypatch.setenv("OAUTH_RS_ID", "rs-client")
    monkeypatch.setenv("OAUTH_RS_SECRET", "rs-secret-not-real")
    r = RestDataSourceReader(
        schema,
        {
            "base_url": "http://localhost:9",
            "token_url": "http://localhost:9/oauth/token",
            "client_id_env": "OAUTH_RS_ID",
            "client_secret_env": "OAUTH_RS_SECRET",
        },
    )
    assert r._client_id == "rs-client"
    assert r._client_secret == "rs-secret-not-real"
    monkeypatch.delenv("OAUTH_RS_SECRET")
    with pytest.raises(ValueError, match="OAUTH_RS_SECRET"):
        RestDataSourceReader(
            schema,
            {
                "base_url": "http://localhost:9",
                "token_url": "http://localhost:9/oauth/token",
                "client_secret_env": "OAUTH_RS_SECRET",
            },
        )


def test_oauth_missing_env_fails_fast(spark, monkeypatch):
    import pytest as _pytest

    monkeypatch.delenv("OAUTH_MISSING_ID", raising=False)
    with MockApiServer(RECORDS, oauth_mode=True) as server:
        with _pytest.raises(ValueError, match="OAUTH_MISSING_ID"):
            read_rest(
                spark,
                server.base_url,
                "items",
                schema=SCHEMA,
                token_url=f"{server.base_url}/oauth/token",
                client_id_env="OAUTH_MISSING_ID",
            )


def test_oauth_bad_grant_rejected(spark):
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        fetch_oauth_token,
    )
    import pytest as _pytest
    import urllib.error

    with MockApiServer(RECORDS, oauth_mode=True) as server:
        tok = fetch_oauth_token(
            f"{server.base_url}/oauth/token", "cid", "secret"
        )
        assert tok.startswith("tok-")
        with _pytest.raises(urllib.error.HTTPError):
            # missing client_id -> 400 fails fast, no retry loop
            fetch_oauth_token(f"{server.base_url}/oauth/token", "", "x")


def test_stream_rejects_non_offset_pagination(spark):
    """Cursor/link chains have no replayable numeric offsets, so the
    streaming reader must refuse them at construction instead of
    committing wrong exactly-once progress mid-run."""
    with MockApiServer(RECORDS[:10], cursor_mode=True) as server:
        stream = (
            spark.readStream.format("restapi")
            .option("base_url", server.base_url)
            .option("endpoint", "items")
            .option("schema", SCHEMA)
            .option("pagination", "cursor")
            .load()
        )
        q = None
        with pytest.raises(Exception, match="offset pagination|pagination"):
            try:
                q = (
                    stream.writeStream.format("noop")
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination(60)
            finally:
                if q is not None:
                    q.stop()


# -- retry loop, stream replay, capped reads and foreign-cwd streaming --


class _Resp:
    """Just enough of an ``http.client.HTTPResponse`` for the retry loop."""

    def __init__(self, payload):
        import email.message

        self._body = json.dumps(payload).encode()
        self.headers = email.message.Message()

    def read(self):
        return self._body

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _http_429(retry_after: str):
    import email.message
    import urllib.error

    hdrs = email.message.Message()
    hdrs["Retry-After"] = retry_after
    return urllib.error.HTTPError(
        "http://api.invalid/items", 429, "Too Many", hdrs, None
    )


def _schema_type():
    """SCHEMA as a StructType, built without a Spark session."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    return StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("price", DoubleType()),
        ]
    )


def _recorded_sleeps(monkeypatch) -> list[float]:
    """Replace the connector's clock with one that records every sleep."""
    import time
    import types

    from ssn_college_software_architecture_assignments__spark.sources import rest

    sleeps: list[float] = []
    monkeypatch.setattr(
        rest, "time", types.SimpleNamespace(sleep=sleeps.append, time=time.time)
    )
    return sleeps


@pytest.mark.parametrize(
    "case", ["http_date_retry_after", "no_sleep_after_last", "one_429_wait"]
)
def test_retry_loop_waits(monkeypatch, case):
    """A Retry-After given as an HTTP-date (RFC 9110 §10.2.3) is waited
    out and retried; the last failed attempt raises without sleeping; a
    429 sleeps once, the larger of Retry-After and the backoff."""
    import email.utils
    import time
    import urllib.error
    import urllib.request

    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        PageRange,
        RestDataSourceReader,
    )

    page = {"data": [{"id": 1, "name": "a", "price": 1.5}]}
    outcomes = {
        "http_date_retry_after": [
            _http_429(email.utils.formatdate(time.time() + 5, usegmt=True)),
            _Resp(page),
        ],
        "no_sleep_after_last": [urllib.error.URLError("connection refused")] * 5,
        "one_429_wait": [_http_429("3"), _Resp(page)],
    }[case]

    def fake_urlopen(req, timeout=None):
        outcome = outcomes.pop(0)
        if isinstance(outcome, Exception):
            raise outcome
        return outcome

    monkeypatch.setattr(urllib.request, "urlopen", fake_urlopen)
    sleeps = _recorded_sleeps(monkeypatch)
    reader = RestDataSourceReader(
        _schema_type(), {"base_url": "http://api.invalid", "endpoint": "items"}
    )
    if case == "no_sleep_after_last":
        with pytest.raises(RuntimeError, match="5 attempts"):
            list(reader.read(PageRange(1, 2)))
        assert sleeps == [0.25, 0.5, 1.0, 2.0]
        return
    assert list(reader.read(PageRange(1, 2))) == [(1, "a", 1.5)]
    assert not outcomes
    if case == "one_429_wait":
        assert sleeps == [3.0]
    else:
        assert len(sleeps) == 1 and 3.0 <= sleeps[0] <= 5.0


def test_stream_replay_returns_committed_pages_throttled(monkeypatch):
    """readBetweenOffsets replays exactly the committed pages [2, 4) and
    goes through the same rate-limited page loop as every other read."""
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        RestStreamReader,
    )

    sleeps = _recorded_sleeps(monkeypatch)
    with MockApiServer(RECORDS[:50]) as server:
        reader = RestStreamReader(
            _schema_type(),
            {
                "base_url": server.base_url,
                "endpoint": "items",
                "page_size": "10",
                "rate_limit_rps": "20",
            },
        )
        rows = list(reader.readBetweenOffsets({"page": 2}, {"page": 4}))
        assert server.request_count == 2
    assert [r[0] for r in rows] == list(range(10, 30))
    assert sleeps == [0.05, 0.05]


_FOREIGN_CWD_STREAM = """
import sys
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
from ssn_college_software_architecture_assignments__spark.sources.mock_api import (
    MockApiServer,
)
from ssn_college_software_architecture_assignments__spark.sources.rest import (
    register_rest_source,
)

spark = (
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
register_rest_source(spark)
with MockApiServer([{{"id": i}} for i in range(10)]) as server:
    q = (
        spark.readStream.format("restapi")
        .option("base_url", server.base_url)
        .option("endpoint", "items")
        .option("schema", "id BIGINT")
        .option("page_size", "5")
        .load()
        .writeStream.format("memory")
        .queryName("rest_pages")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
print("ROWS", spark.table("rest_pages").count())
spark.stop()
"""


def test_stream_from_foreign_cwd(tmp_path):
    """A driver whose working directory is outside the repo, with the
    repo only on its runtime sys.path, can run a two-page REST stream:
    the streaming source's Python runner must not need to import the
    package."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "stream.py"
    script.write_text(_FOREIGN_CWD_STREAM.format(root=root))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS 10" in out.stdout


@pytest.mark.parametrize("meta_total", [250, "n/a"])
def test_offset_capped_read_returns_max_pages(meta_total):
    """max_pages caps an offset read at the same number of pages whether
    or not the API advertises a usable total."""
    from ssn_college_software_architecture_assignments__spark.sources.rest import (
        RestDataSourceReader,
    )

    with MockApiServer(RECORDS, meta_total=meta_total) as server:
        reader = RestDataSourceReader(
            _schema_type(),
            {
                "base_url": server.base_url,
                "endpoint": "items",
                "page_size": "60",
                "max_pages": "2",
            },
        )
        rows = [row for p in reader.partitions() for row in reader.read(p)]
    assert [r[0] for r in rows] == list(range(120))
