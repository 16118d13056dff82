"""Mgmt-API stub: a local HTTP server on 127.0.0.1 answering what
sinks/mgmt_api.MgmtClient and operators/batch_lookup send through the
real urllib transport:

- ``POST {oauth}/token``                                  -> access token
- ``PUT  /tenants/{t}/batches/{b}/action/processingComplete|fail``
- ``GET  /tenants/{t}/batches/{b}``                       -> batch or 404

It serves one request at a time on one thread and records, per request,
its receive time (CLOCK_MONOTONIC) and handling span.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer


class StubState:
    def __init__(self):
        self.lock = threading.Lock()
        self.known: dict[str, dict] = {}  # batch id -> notification (GET)
        self.terminal: list[tuple] = []  # (recv_ns, tenant, batch, action, body)
        self.requests: list[tuple] = []  # (kind, start_ns, end_ns)
        self.lookups = 0

    def reset(self, known: dict[str, dict]) -> None:
        with self.lock:
            self.known = dict(known)
            self.terminal = []
            self.requests = []
            self.lookups = 0


def _handler(state: StubState):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *args):  # keep stderr quiet
            pass

        def _reply(self, code: int, body: dict | None = None):
            data = json.dumps(body or {}).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def do_POST(self):
            t0 = time.monotonic_ns()
            self._body()
            if self.path.endswith("/token"):
                self._reply(200, {"access_token": "stub-token", "expires_in": 300})
            else:
                self._reply(404)
            with state.lock:
                state.requests.append(("token", t0, time.monotonic_ns()))

        def do_PUT(self):
            t0 = time.monotonic_ns()
            body = json.loads(self._body() or b"{}")
            parts = self.path.strip("/").split("/")
            # tenants/{t}/batches/{b}/action/{action}
            if len(parts) == 6 and parts[0] == "tenants" and parts[4] == "action":
                with state.lock:
                    state.terminal.append((t0, parts[1], parts[3], parts[5], body))
                self._reply(200)
            else:
                self._reply(404)
            with state.lock:
                state.requests.append(("put", t0, time.monotonic_ns()))

        def do_GET(self):
            t0 = time.monotonic_ns()
            parts = self.path.strip("/").split("/")
            with state.lock:
                state.lookups += 1
                found = (
                    state.known.get(parts[3])
                    if len(parts) == 4 and parts[0] == "tenants"
                    else None
                )
            if found is None:
                self._reply(404, {"errorEventId": "x", "errorDescription": "not found"})
            else:
                self._reply(200, found)
            with state.lock:
                state.requests.append(("get", t0, time.monotonic_ns()))

    return Handler


class MgmtApiStub:
    """``with MgmtApiStub() as stub: stub.url ...`` — serves on its own
    thread until the block ends."""

    def __init__(self):
        self.state = StubState()
        self._server = HTTPServer(("127.0.0.1", 0), _handler(self.state))
        self.url = f"http://127.0.0.1:{self._server.server_address[1]}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, kwargs={"poll_interval": 0.05},
            name="mgmt-api-stub", daemon=True,
        )

    def __enter__(self) -> "MgmtApiStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(10)
