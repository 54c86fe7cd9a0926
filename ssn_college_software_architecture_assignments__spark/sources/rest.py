"""REST API connector as a PySpark Python Data Source (SURVEY.md §2.1
S1-S3).

This is the reference's core subject re-expressed Spark-first: Extract
from a REST API with auth headers, query params, pagination and rate
limits (/root/reference/README.md:11-12,21,88-92), producing a DataFrame
instead of a driver-side list of dicts.

Design (SURVEY.md §4.2):
- **Pagination parallelism**: offset pagination probes the first page for
  a total count, then emits one InputPartition per page *range*, so pages
  are fetched concurrently by executors, not serially on the driver.
  Cursor and Link-header chains are serial by protocol (each address
  arrives with the previous page) and run as one partition.
- **One page loop**: every read (page ranges, chains, stream batches and
  stream replay) goes through ``_pages``: throttle, fetch, convert the
  records to rows, stop at an empty page (README.md:32).
- **Rate limiting**: each partition sleeps ``1 / rate_limit_rps`` before
  every page request, so one partition issues at most ``rate_limit_rps``
  requests per second and the aggregate rate is at most
  ``partitions x rate_limit_rps``. There is no cluster-global bucket
  (documented bound, SURVEY.md §7). Cursor and link chains are one
  partition each, so they are held to ``rate_limit_rps``.
- **Credential hygiene**: the auth token is read from the environment ON
  THE DRIVER (``auth_env`` names the variable, mirroring the reference's
  .env contract README.md:16-17) and never appears in plans or logs —
  options reprs redact it.
- **Fault handling** (README.md:32): bounded retries with exponential
  backoff; HTTP 429 waits the larger of Retry-After and the backoff;
  non-JSON bodies and 5xx retry then fail the partition cleanly.
"""

from __future__ import annotations

import email.utils
import itertools
import json
import math
import os
import re
import sys
import time
import urllib.error
import urllib.parse
import urllib.request

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

DEFAULT_TIMEOUT_SEC = 10.0
MAX_RETRY_AFTER_SEC = 30.0


class PageRange(InputPartition):
    def __init__(self, start_page: int, end_page: int):
        self.start_page = start_page
        self.end_page = end_page  # exclusive


class ChainWalk(InputPartition):
    """Opaque-cursor and RFC 5988 ``Link: <url>; rel="next"`` chains are
    inherently serial (each page's address is only known after the
    previous page arrives), so the whole walk is one partition.
    Parallelize ABOVE the connector (many endpoints/tenants), not within
    a single chain."""

    def __init__(self):
        super().__init__(value=None)


# Each RFC 5988 link-value is a <URL-reference> followed by ;-separated
# params, up to the next '<'. Matching the bracket group FIRST (instead of
# splitting the header on ',') keeps unencoded commas inside link URLs —
# legal in query strings — from truncating the URL. Known limitation: a
# QUOTED '<' inside a param value (e.g. title="a<b") can still open a
# bracket group early — URL-references are required to be pct-encoded so
# real servers don't emit that, and full RFC 8288 tokenization isn't
# worth the parser surface here.
_LINK_VALUE_RE = re.compile(r"<([^>]*)>([^<]*)")


def _advisory_int(value) -> int | None:
    """Coerce an advertised record total to ``int`` when it is cleanly
    numeric, else ``None``. The total is ADVISORY: a server whose
    ``meta.total`` resolves to a dict, bool, or malformed string must
    skip the truncation cross-check, not kill the executor with an
    opaque TypeError/ValueError."""
    if isinstance(value, bool):  # bool is an int subclass; not a count
        return None
    if isinstance(value, int):
        return value
    if isinstance(value, float) and value.is_integer():
        return int(value)
    if isinstance(value, str):
        try:
            return int(value.strip())
        except ValueError:
            return None
    return None


def _split_params_quote_aware(params: str) -> list[str]:
    """Split a link-value's param string on ';' OUTSIDE double quotes, so
    a quoted param value containing ';rel=next' (e.g. title="a;rel=next")
    stays one token instead of fabricating a false rel param."""
    parts: list[str] = []
    buf: list[str] = []
    in_quotes = False
    for ch in params:
        if ch == '"':
            in_quotes = not in_quotes
            buf.append(ch)
        elif ch == ";" and not in_quotes:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return parts


def parse_link_next(link_header: str | None) -> str | None:
    """Extract the rel="next" target from an RFC 5988 Link header, e.g.
    ``<https://api/x?page=2>; rel="next", <...>; rel="last"`` -> the URL.
    Returns None when there is no next link (end of the chain).

    Robust to three truncation/fabrication traps a naive split has:
    unencoded commas inside a link URL (the ``<...>`` group wins over the
    separator), rel lists (``rel="next last"`` — RFC 8288 §3.3 allows a
    space-separated list of relation types), and ';' inside quoted param
    values (``title="a;rel=next"`` must not mint a false next link)."""
    if not link_header:
        return None
    for m in _LINK_VALUE_RE.finditer(link_header):
        url, params = m.group(1), m.group(2)
        for param in _split_params_quote_aware(params):
            k, _, v = param.strip().partition("=")
            if k.strip().lower() != "rel":
                continue
            rels = v.strip().rstrip(",").strip().strip('"').lower().split()
            if "next" in rels:
                return url
    return None


def _dig(payload, dotted: str):
    """The value at a dotted path (``meta.total``) in a JSON payload, or
    None when any step is missing or not an object."""
    cur = payload
    for part in dotted.split("."):
        if not isinstance(cur, dict) or part not in cur:
            return None
        cur = cur[part]
    return cur


def _rest_url(base_url: str, endpoint: str, params: dict) -> str:
    qs = urllib.parse.urlencode(params)
    return f"{base_url.rstrip('/')}/{endpoint.lstrip('/')}?{qs}"


def _secret(options: dict, key: str, env_key: str) -> str:
    """``options[key]``, else the value of the env var named by
    ``options[env_key]``. Fails fast, before any request, when that
    variable is named but unset or empty (reference fault matrix: auth)."""
    val = options.get(key, "")
    env_name = options.get(env_key)
    if val or not env_name:
        return val
    val = os.environ.get(env_name, "")
    if not val:
        raise ValueError(
            f"auth env var {env_name!r} is not set in this process — failing "
            "fast before any request (reference fault matrix: auth)"
        )
    return val


def _retry_after_sec(value: str | None) -> float | None:
    """Seconds a ``Retry-After`` header asks for: delay-seconds or an
    HTTP-date (RFC 9110 §10.2.3). None when absent or unparseable, so the
    caller falls back to its own backoff."""
    if not value:
        return None
    try:
        return max(0.0, float(value))
    except ValueError:
        pass
    try:
        when = email.utils.parsedate_to_datetime(value)
    except (TypeError, ValueError):
        return None
    return max(0.0, when.timestamp() - time.time())


def _request_json(
    url: str,
    headers: dict[str, str],
    data: bytes | None = None,
    max_retries: int = 4,
    backoff_base: float = 0.25,
):
    """GET ``url`` (POST when ``data`` is given) -> ``(payload, headers)``
    with bounded retries.

    Retries connectivity errors, HTTP 5xx, HTTP 429 and invalid (non-JSON)
    200 bodies — the fault matrix the reference requires connectors to
    survive (README.md:32). Any other 4xx is a config or auth error and
    raises at once. After failed attempt ``k`` the loop sleeps
    ``backoff_base * 2**k`` once; a 429 sleeps the larger of that and its
    Retry-After (capped at ``MAX_RETRY_AFTER_SEC``). The last attempt
    raises without sleeping."""
    last_err: Exception | None = None
    for attempt in range(max_retries + 1):
        wait = backoff_base * (2**attempt)
        try:
            req = urllib.request.Request(url, data=data, headers=headers)
            with urllib.request.urlopen(req, timeout=DEFAULT_TIMEOUT_SEC) as resp:
                body = resp.read()
                resp_headers = dict(resp.headers.items())
                # RFC 5988 allows SEVERAL Link headers; dict() would keep
                # only the last, silently dropping a rel="next" carried in
                # an earlier one. Re-join them, comma-separated (RFC 9110
                # §5.3 list-header equivalence), under the canonical key.
                link_values = resp.headers.get_all("Link")
                if link_values:
                    resp_headers["Link"] = ", ".join(link_values)
            return json.loads(body), resp_headers
        except json.JSONDecodeError as exc:
            last_err = ValueError(f"invalid JSON response from {url}: {exc}")
        except urllib.error.HTTPError as exc:
            if exc.code == 429:
                retry_after = _retry_after_sec(exc.headers.get("Retry-After"))
                if retry_after is not None:
                    wait = max(wait, min(retry_after, MAX_RETRY_AFTER_SEC))
            elif not 500 <= exc.code < 600:
                raise
            last_err = exc
        except (urllib.error.URLError, TimeoutError, OSError) as exc:
            last_err = exc
        if attempt < max_retries:
            time.sleep(wait)
    raise RuntimeError(
        f"REST request failed after {max_retries + 1} attempts: {last_err}"
    )


def fetch_oauth_token(
    token_url: str,
    client_id: str,
    client_secret: str,
    max_retries: int = 4,
) -> str:
    """OAuth2 client-credentials grant (RFC 6749 §4.4): POST the token
    endpoint with form-encoded credentials, return the access token.
    Uses the connector's one retry loop for 5xx/429/connectivity; a 4xx
    is a credential error and fails fast."""
    data = urllib.parse.urlencode(
        {
            "grant_type": "client_credentials",
            "client_id": client_id,
            "client_secret": client_secret,
        }
    ).encode()
    payload, _ = _request_json(
        token_url,
        {"Content-Type": "application/x-www-form-urlencoded"},
        data=data,
        max_retries=max_retries,
    )
    token = payload.get("access_token") if isinstance(payload, dict) else None
    if not token:
        raise ValueError("token endpoint returned no access_token")
    return str(token)


class RestDataSourceReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.base_url = options["base_url"].rstrip("/")
        self.endpoint = options.get("endpoint", "").lstrip("/")
        self.page_size = int(options.get("page_size", "100"))
        self.pagination = options.get("pagination", "offset")  # offset | cursor | link
        self.page_param = options.get("page_param", "page")
        self.size_param = options.get("size_param", "per_page")
        self.cursor_param = options.get("cursor_param", "cursor")
        self.next_cursor_path = options.get("next_cursor_path", "next_cursor")
        self.data_path = options.get("data_path", "data")
        self.total_path = options.get("total_path", "meta.total")
        self.max_pages = int(options.get("max_pages", "100000"))
        rate_limit_rps = float(options.get("rate_limit_rps", "0") or 0)
        self._delay = 1.0 / rate_limit_rps if rate_limit_rps > 0 else 0.0
        self.pages_per_partition = int(options.get("pages_per_partition", "4"))
        self.extra_params = json.loads(options.get("params", "{}"))
        # Credential: preferred path is read_rest(), which resolves
        # ``auth_env`` ON THE DRIVER (README.md:16-17,89-92) and passes the
        # token as the ``auth_token`` option. ``auth_env`` is also honored
        # here for deployments whose env is present at JVM launch (worker
        # processes inherit the JVM environment, not the live driver one).
        token = _secret(options, "auth_token", "auth_env")
        self._headers = {"Accept": "application/json"}
        if token:
            self._headers["Authorization"] = f"Bearer {token}"
        # OAuth2 client-credentials (RFC 6749 §4.4): token fetched lazily
        # per task process and refreshed once on 401 — bearer tokens
        # expire mid-extraction in long jobs, and a static token can't
        # survive that (README.md:88-92 auth contract, extended). Client
        # credentials come from direct options, else from the env vars
        # the ``*_env`` options name — the narrow-exposure path (only the
        # env var NAME rides the options / plan / UI).
        self._token_url = options.get("token_url")
        self._client_id = _secret(options, "client_id", "client_id_env")
        self._client_secret = _secret(options, "client_secret", "client_secret_env")
        self._field_names = [f.name for f in schema.fields]

    # -- helpers ------------------------------------------------------------

    def _refresh_token(self) -> None:
        self._headers["Authorization"] = "Bearer " + fetch_oauth_token(
            self._token_url, self._client_id, self._client_secret
        )

    def _get(self, url: str):
        """GET -> ``(payload, headers)`` with OAuth refresh: fetch a token
        before the first request if none is held, re-fetch ONCE on 401
        (expired mid-run)."""
        if self._token_url and "Authorization" not in self._headers:
            self._refresh_token()
        try:
            return _request_json(url, self._headers)
        except urllib.error.HTTPError as exc:
            if exc.code != 401 or not self._token_url:
                raise
        self._refresh_token()
        return _request_json(url, self._headers)

    def _url(self, params: dict | None = None) -> str:
        """The endpoint's address with the ``params`` option, ``params``
        and the page size in its query string."""
        return _rest_url(
            self.base_url,
            self.endpoint,
            {**self.extra_params, **(params or {}), self.size_param: self.page_size},
        )

    def _pages(self, url: str, next_url, limit: int):
        """The one page loop. For at most ``limit`` pages: sleep the
        rate-limit delay, fetch ``url`` and yield ``(payload, rows,
        next)``, where ``next = next_url(url, payload, headers)`` is the
        following page's address (None at the end of the chain). An empty
        page is yielded with no rows and ends the walk (README.md:32)."""
        for _ in range(limit):
            if self._delay:
                time.sleep(self._delay)
            payload, headers = self._get(url)
            records = _dig(payload, self.data_path) or []
            rows = [tuple(rec.get(n) for n in self._field_names) for rec in records]
            nxt = next_url(url, payload, headers) if rows else None
            yield payload, rows, nxt
            if nxt is None:
                return
            url = nxt

    def _page_walk(self, start: int, end: int):
        """Offset pagination: pages ``start`` .. ``end - 1``."""
        following = itertools.count(start + 1)
        return self._pages(
            self._url({self.page_param: start}),
            lambda *_: self._url({self.page_param: next(following)}),
            end - start,
        )

    def _next_in_chain(self, url: str, payload, headers) -> str | None:
        """The next address of a cursor chain (the body's
        ``next_cursor_path``) or a link chain (the ``Link: <url>;
        rel="next"`` header, resolved against the current URL so servers
        may emit absolute or relative targets)."""
        if self.pagination == "link":
            nxt = parse_link_next(headers.get("Link"))
            return None if nxt is None else urllib.parse.urljoin(url, nxt)
        cursor = _dig(payload, self.next_cursor_path)
        return None if cursor is None else self._url({self.cursor_param: str(cursor)})

    def _read_chain(self):
        """Walk a cursor or link chain (README.md:12; SURVEY S2 names
        offset/cursor/link-header) from the endpoint with only the size
        param.

        A lost next pointer is indistinguishable from the end of the
        chain, so a parsing gap, a server that drops its next pointer
        early or a misconfigured ``next_cursor_path`` would silently
        truncate the extraction. When the API advertises a (cleanly
        numeric — it is advisory) total, a chain that ends short of it
        raises instead. A walk that used up ``max_pages`` with a next
        address still in hand is a deliberately capped read: it returns
        the bounded prefix without the cross-check."""
        n_pages = n_rows = 0
        expected = nxt = None
        for payload, rows, nxt in self._pages(
            self._url(), self._next_in_chain, self.max_pages
        ):
            if n_pages == 0:
                expected = _advisory_int(_dig(payload, self.total_path))
            n_pages += 1
            n_rows += len(rows)
            yield from rows
        if n_pages == self.max_pages and nxt is not None:
            return
        if expected is not None and n_rows < expected:
            raise RuntimeError(
                f"{self.pagination} chain ended after {n_rows} records but the "
                f"API advertised {expected} — a next pointer was lost "
                "(silent truncation)"
            )

    # -- DataSourceReader API -------------------------------------------------

    def partitions(self):
        """Probe page 1 for the total record count, then one partition per
        page range so the page loop runs ON EXECUTORS in parallel. Cursor
        and link chains cannot be probed — each yields one serial
        partition."""
        if self.pagination in ("cursor", "link"):
            return [ChainWalk()]
        first, _ = self._get(self._url({self.page_param: 1}))
        total = _advisory_int(_dig(first, self.total_path))
        if total is None:
            # Unknown (or non-numeric — the total is advisory) total: fall
            # back to a serial walk of up to max_pages pages in one
            # partition (can't parallelize an unprobeable chain).
            return [PageRange(1, self.max_pages + 1)]
        n_pages = min(max(1, math.ceil(total / self.page_size)), self.max_pages)
        step = max(1, self.pages_per_partition)
        return [
            PageRange(p, min(p + step, n_pages + 1))
            for p in range(1, n_pages + 1, step)
        ]

    def read(self, partition):
        if isinstance(partition, ChainWalk):
            yield from self._read_chain()
            return
        for _, rows, _ in self._page_walk(partition.start_page, partition.end_page):
            yield from rows


class RestStreamReader(SimpleDataSourceStreamReader):
    """Incremental REST extraction as a Structured Streaming source.

    This is the reference's scheduled-rerun connector
    (/root/reference/README.md:12,28) in its native Spark form: the
    stream OFFSET is the next page number, each micro-batch fetches the
    pages that appeared since the last committed offset, and the
    checkpoint makes re-runs exactly-once — no duplicate loads, no
    driver-side bookkeeping. Batches and replays go through the batch
    reader's page loop, so rate limiting and retry/backoff are the same
    code path."""

    def __init__(self, schema: StructType, options: dict):
        self._r = RestDataSourceReader(schema, options)
        self.pages_per_batch = int(options.get("stream_pages_per_batch", "4"))
        if self._r.pagination != "offset":
            # Cursor/link chains have no replayable page addresses, so a
            # numeric stream offset cannot express exactly-once progress
            # over them. Fail at stream construction, not mid-run.
            raise ValueError(
                "streaming REST reads require offset pagination; "
                f"got pagination={self._r.pagination!r} (cursor/link chains "
                "are not offset-replayable — run them as batch reads)"
            )

    def initialOffset(self) -> dict:
        return {"page": 1}

    def read(self, start: dict):
        """Fetch up to pages_per_batch new pages; advance the offset past
        the pages actually consumed (an empty page ends the batch early —
        README.md:32 empty-payload termination)."""
        page = int(start["page"])
        pages = [
            rows
            for _, rows, _ in self._r._page_walk(page, page + self.pages_per_batch)
            if rows
        ]
        batch = [row for rows in pages for row in rows]
        return iter(batch), {"page": page + len(pages)}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of a committed range (failure recovery)."""
        for _, rows, _ in self._r._page_walk(int(start["page"]), int(end["page"])):
            yield from rows


class RestDataSource(DataSource):
    """``spark.read.format("restapi")`` — paginated, rate-limited,
    authenticated REST extraction; ``spark.readStream`` gives the same
    connector as an incremental micro-batch stream."""

    @classmethod
    def name(cls) -> str:
        return "restapi"

    def schema(self):
        ddl = self.options.get("schema")
        if not ddl:
            raise ValueError("restapi source requires a 'schema' option (DDL string)")
        return ddl

    def reader(self, schema: StructType) -> RestDataSourceReader:
        return RestDataSourceReader(schema, dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> RestStreamReader:
        return RestStreamReader(schema, dict(self.options))


# sessionUUID -> the RestDataSource class registered on that session.
# Registrations live in each session's own data source manager, so a
# new session registers again.
_registered: dict[str, type] = {}


def register_rest_source(spark) -> None:
    """Register the ``restapi`` format on ``spark``, once per session.

    Registering again would only replace the session's entry with the
    same class, and Spark logs a warning each time it does.

    This module is pickled BY VALUE. The streaming source is unpickled in
    a driver-side Python process that ``addPyFile`` does not reach, so
    pickling by reference would fail there with ``ModuleNotFoundError``
    whenever the package is not on the driver's import path (a working
    directory outside the repo). The module imports only the stdlib and
    pyspark at module level, so its pickled classes need nothing else."""
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    session = spark._jsparkSession.sessionUUID()
    if _registered.get(session) is RestDataSource:
        return
    spark.dataSource.register(RestDataSource)
    _registered[session] = RestDataSource


def infer_rest_schema(
    spark,
    base_url: str,
    endpoint: str,
    data_path: str = "data",
    size_param: str = "per_page",
    page_param: str = "page",
    page_size: int = 100,
    headers: dict[str, str] | None = None,
    pin_path: str | None = None,
) -> str:
    """Infer the record schema of an unknown REST API from its first page
    (SURVEY.md §1.2: infer on first run, then pin and evolve; the
    reference makes students "understand the response structure",
    README.md:12 — this is that step, automated).

    One driver-side probe request; Spark's JSON reader infers types from
    the sampled records (same inference as ``spark.read.json``). If
    ``pin_path`` is given, the inferred DDL is persisted on first run and
    later runs EVOLVE it: previously-pinned fields keep their pinned types
    (no silent type drift), genuinely new fields are appended. Returns a
    DDL string for the ``schema`` option."""
    url = _rest_url(base_url, endpoint, {page_param: 1, size_param: page_size})
    payload, _ = _request_json(url, headers or {"Accept": "application/json"})
    records = _dig(payload, data_path)
    if not records:
        raise ValueError(f"cannot infer schema: no records at {data_path!r}")
    # Spill the sample page to a temp JSONL file so inference runs through
    # the JVM JSON reader (no Python worker round-trip for a driver probe).
    import tempfile

    with tempfile.NamedTemporaryFile(
        "w", suffix=".jsonl", delete=False, encoding="utf-8"
    ) as fh:
        for r in records:
            fh.write(json.dumps(r) + "\n")
        sample_path = fh.name
    try:
        inferred = spark.read.json(sample_path).schema
    finally:
        os.unlink(sample_path)
    if pin_path:
        if os.path.exists(pin_path):
            with open(pin_path, encoding="utf-8") as fh:
                pinned = StructType.fromJson(json.load(fh))
            pinned_names = {f.name for f in pinned.fields}
            inferred = StructType(
                pinned.fields
                + [f for f in inferred.fields if f.name not in pinned_names]
            )
        with open(pin_path, "w", encoding="utf-8") as fh:
            json.dump(inferred.jsonValue(), fh)
    return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in inferred.fields)


def read_rest(spark, base_url: str, endpoint: str, schema: str | None = None, **options):
    """Driver-side entry point for the REST connector.

    Loads ``env_file`` (a .env file, reference credential contract
    README.md:16-17,89-92) into the driver environment first, then
    resolves ``auth_env`` from the DRIVER's environment so credentials
    work regardless of worker-process environments, handing the opaque
    token to the reader as the ``auth_token`` option. The token never
    appears in logs we control; callers should treat explain/debug output
    as sensitive when passing credentials.

    SECRET-EXPOSURE CAVEAT: ``auth_token`` — and, by default, the OAuth
    ``client_id``/``client_secret`` resolved from ``client_id_env``/
    ``client_secret_env`` — travel as data source OPTIONS, which Spark may
    surface in explain output, the UI, and event logs. When worker
    processes inherit the credential env vars (set before JVM launch),
    pass ``ship_secrets=False``: only the env var NAMES are shipped and
    each task resolves the values locally, keeping secrets out of the
    plan entirely.

    ``schema=None`` triggers first-page inference (:func:`infer_rest_schema`);
    pass ``schema_pin_path`` to persist-and-evolve the inferred schema
    across runs instead of re-inferring from scratch.
    """
    register_rest_source(spark)
    opts = {k: str(v) for k, v in options.items()}
    env_file = opts.pop("env_file", None)
    if env_file:
        from .dotenv import load_dotenv

        load_dotenv(env_file)
    token = _secret(opts, "auth_token", "auth_env")
    opts.pop("auth_env", None)
    if token:
        opts["auth_token"] = token
    # OAuth2 client-credentials: resolve client id/secret from the
    # DRIVER's environment (same .env contract as auth_env), failing fast
    # here, and hand them to the reader, which fetches and refreshes
    # tokens itself (401 -> one re-fetch). A driver-fetched token alone
    # would not survive expiry mid-extraction on executors.
    if "token_url" in opts:
        ship_secrets = str(opts.pop("ship_secrets", "true")).lower() != "false"
        creds = {
            key: _secret(opts, key, f"{key}_env")
            for key in ("client_id", "client_secret")
        }
        if ship_secrets:
            # default: ship the values (works regardless of worker env) —
            # see the SECRET-EXPOSURE CAVEAT above
            for key, val in creds.items():
                if opts.pop(f"{key}_env", None):
                    opts[key] = val
        # A driver-held token is only needed to authenticate the schema
        # inference probe below; tasks fetch (and refresh) their own.
        # Fetching one unconditionally would also pollute token-endpoint
        # hit counts that tests use to isolate reader refresh behavior.
        if schema is None and not token:
            token = fetch_oauth_token(
                opts["token_url"], creds["client_id"], creds["client_secret"]
            )
    if schema is None:
        headers = {"Accept": "application/json"}
        if token:
            headers["Authorization"] = f"Bearer {token}"
        schema = infer_rest_schema(
            spark,
            base_url,
            endpoint,
            data_path=opts.get("data_path", "data"),
            size_param=opts.get("size_param", "per_page"),
            page_param=opts.get("page_param", "page"),
            page_size=int(opts.get("page_size", "100")),
            headers=headers,
            pin_path=opts.pop("schema_pin_path", None),
        )
    reader = (
        spark.read.format("restapi")
        .option("base_url", base_url)
        .option("endpoint", endpoint)
        .option("schema", schema)
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()
