"""In-process mock REST API for connector tests (FIXTURES.md §B).

Serves any list of dict records as a paginated JSON API shaped like
FIXTURES.md B1 ({"meta": {...,"total": N}, "data": [...]}), with optional
fault injection (429 rate limits, 500s, invalid JSON, auth checks) so the
reference's fault matrix (README.md:32: invalid responses, empty payloads,
rate limits, connectivity errors) is exercisable hermetically.
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class MockApiServer:
    def __init__(
        self,
        records: list[dict],
        require_token: str | None = None,
        fail_first_n: int = 0,
        fail_mode: str = "500",  # "500" | "429" | "garbage"
        cursor_mode: bool = False,
        link_mode: bool = False,
        # >0: drop the next-page pointer (Link header / next_cursor)
        # after N pages even though more data remains — the silent-
        # truncation fault the chain walkers must detect via meta.total
        link_truncate_after: int = 0,
        oauth_mode: bool = False,
        token_ttl_requests: int = 0,
        revoke_tokens: bool = False,
        # override the advertised meta.total (any JSON value — tests use
        # a dict/string to prove the reader treats the total as advisory
        # and skips the cross-check instead of crashing); None = len(records)
        meta_total=None,
    ):
        self.records = records
        self.require_token = require_token
        self.fail_first_n = fail_first_n
        self.fail_mode = fail_mode
        self.cursor_mode = cursor_mode
        self.link_mode = link_mode
        self.link_truncate_after = link_truncate_after
        self.meta_total = meta_total
        # OAuth2 client-credentials mode: POST /oauth/token issues
        # sequential tokens; each expires after token_ttl_requests data
        # requests (0 = never), forcing clients to refresh mid-read.
        # Real client-credentials servers allow OVERLAPPING tokens, so a
        # set of valid tokens with per-token remaining-use counters is
        # kept — concurrent readers must not invalidate each other (a
        # single-current-token model makes multi-partition reads flaky).
        self.oauth_mode = oauth_mode
        self.token_ttl_requests = token_ttl_requests
        # revoke_tokens: issue tokens that are NEVER valid (instant
        # revocation) — exercises the client's refresh-once-then-surface
        # path when a refresh cannot help.
        self.revoke_tokens = revoke_tokens
        self._token_serial = 0
        self._tokens: dict[str, int] = {}  # token -> uses left (-1 = unlimited)
        self.token_fetches = 0
        # every POST to the token endpoint, including rejected grants —
        # lets tests bound retry behavior (no refresh storms).
        self.token_posts = 0
        # 401s served to bearer-auth'd requests: the observable proof that
        # a reader's 401->refresh->retry path actually ran (a read that
        # both raised this counter AND was lossless must have refreshed).
        self.auth_401s = 0
        self._fail_lock = threading.Lock()
        self._fails_left = fail_first_n
        self.request_count = 0

        def _total():
            return (
                self.meta_total if self.meta_total is not None else len(self.records)
            )

        self._total = _total
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence
                pass

            def do_POST(self):
                if not (outer.oauth_mode and self.path.rstrip("/").endswith("/oauth/token")):
                    self.send_response(404)
                    self.end_headers()
                    return
                length = int(self.headers.get("Content-Length", "0") or 0)
                body = self.rfile.read(length).decode()
                params = dict(urllib.parse.parse_qsl(body))
                with outer._fail_lock:
                    outer.token_posts += 1
                if params.get("grant_type") != "client_credentials" or not params.get(
                    "client_id"
                ):
                    self.send_response(400)
                    self.end_headers()
                    return
                with outer._fail_lock:
                    outer._token_serial += 1
                    outer.token_fetches += 1
                    token = f"tok-{outer._token_serial}"
                    if not outer.revoke_tokens:
                        outer._tokens[token] = outer.token_ttl_requests or -1
                payload = json.dumps(
                    {"access_token": token, "token_type": "Bearer", "expires_in": 60}
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self):
                outer.request_count += 1
                if outer.oauth_mode:
                    auth = self.headers.get("Authorization", "")
                    token = auth.removeprefix("Bearer ") if auth else ""
                    with outer._fail_lock:
                        uses = outer._tokens.get(token, 0)
                        valid = uses != 0
                        if uses > 0:
                            outer._tokens[token] = uses - 1
                        if not valid:
                            outer.auth_401s += 1
                    if not valid:
                        self.send_response(401)
                        self.end_headers()
                        return
                if outer.require_token:
                    auth = self.headers.get("Authorization", "")
                    if auth != f"Bearer {outer.require_token}":
                        self.send_response(401)
                        self.end_headers()
                        return
                with outer._fail_lock:
                    failing = outer._fails_left > 0
                    if failing:
                        outer._fails_left -= 1
                if failing:
                    if outer.fail_mode == "429":
                        self.send_response(429)
                        self.send_header("Retry-After", "0")
                        self.end_headers()
                    elif outer.fail_mode == "garbage":
                        self.send_response(200)
                        self.send_header("Content-Type", "application/json")
                        self.end_headers()
                        self.wfile.write(b"<html>not json</html>")
                    else:
                        self.send_response(500)
                        self.end_headers()
                    return
                query = urllib.parse.urlparse(self.path).query
                params = dict(urllib.parse.parse_qsl(query))
                per_page = int(params.get("per_page", "100"))
                if outer.cursor_mode:
                    # Opaque-cursor pagination: cursor is the start offset,
                    # next_cursor is null on the last page (the common
                    # Stripe/GitHub API shape). meta.total lets readers
                    # cross-check the chain against the advertised count.
                    start = int(params.get("cursor", "0") or 0)
                    data = outer.records[start : start + per_page]
                    nxt = start + per_page
                    truncated = (
                        outer.link_truncate_after
                        and nxt >= outer.link_truncate_after * per_page
                    )
                    body = json.dumps(
                        {
                            "data": data,
                            "meta": {"total": outer._total()},
                            "next_cursor": (
                                str(nxt)
                                if nxt < len(outer.records) and not truncated
                                else None
                            ),
                        }
                    ).encode()
                elif outer.link_mode:
                    # RFC 5988 Link-header pagination (GitHub shape): the
                    # body carries only the records; the NEXT address lives
                    # in the Link response header, relative to this path.
                    # Deliberately hostile shape: rel="first" and rel="next"
                    # ride SEPARATE Link headers (RFC 5988 allows several)
                    # and the next URL carries an unencoded comma in a
                    # query value — both legal, both break naive parsers.
                    page = int(params.get("page", "1"))
                    start = (page - 1) * per_page
                    data = outer.records[start : start + per_page]
                    # meta.total rides the body so readers can cross-check
                    # the walked chain against the advertised count
                    body = json.dumps(
                        {"data": data, "meta": {"total": outer._total()}}
                    ).encode()
                    self.send_response(200)
                    self.send_header("Content-Type", "application/json")
                    truncated = (
                        outer.link_truncate_after
                        and page >= outer.link_truncate_after
                    )
                    if start + per_page < len(outer.records) and not truncated:
                        path = urllib.parse.urlparse(self.path).path
                        nxt = (
                            f"{path}?page={page + 1}&per_page={per_page}"
                            f"&tags=a,b"
                        )
                        self.send_header("Link", f'<{path}?page=1>; rel="first"')
                        self.send_header("Link", f'<{nxt}>; rel="next"')
                    self.end_headers()
                    self.wfile.write(body)
                    return
                else:
                    page = int(params.get("page", "1"))
                    start = (page - 1) * per_page
                    data = outer.records[start : start + per_page]
                    body = json.dumps(
                        {
                            "meta": {
                                "page": page,
                                "per_page": per_page,
                                "total": outer._total(),
                            },
                            "data": data,
                        }
                    ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        # shutdown() waits for serve_forever's next poll; its default
        # 0.5 s interval made every exit take half a second
        self._thread = threading.Thread(
            target=self._server.serve_forever,
            kwargs={"poll_interval": 0.02},
            daemon=True,
        )

    @property
    def base_url(self) -> str:
        host, port = self._server.server_address
        return f"http://{host}:{port}"

    def __enter__(self) -> "MockApiServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
