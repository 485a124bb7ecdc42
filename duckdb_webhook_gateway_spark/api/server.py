"""Stdlib HTTP shell: the reference's API surface (SURVEY §3.4) without
third-party dependencies.

Route table (reference: src/app.py:926-1782):

  GET  /                          health check
  POST /register                  create/upsert webhook          [auth]
  POST /query                     ad-hoc read-only SQL           [auth]
  POST /upload_table              reference table (CSV/JSON body)[auth]
  POST /register_udf              Python scalar UDF              [auth]
  GET  /stats                     counts + success rates         [auth]
  GET  /webhooks                  list                           [auth]
  GET  /webhook/{id}              detail                         [auth]
  GET  /reference_tables[?webhook_id]                            [auth]
  GET  /udfs[?webhook_id]                                        [auth]
  GET  /events?limit=             recent events feed             [auth]
  GET  /event/{id}/transformed    raw+transformed detail         [auth]
  PUT  /webhook/{id}              update                         [auth]
  PATCH /webhook/{id}/status      activate/deactivate            [auth]
  DELETE /webhooks/{id}           delete or deactivate           [auth]
  POST /echo-webhook              echo test endpoint
  POST /{any-path}                webhook ingestion (catch-all, NO auth —
                                  matching the reference, src/app.py:1068-1073)

Auth: ``X-API-Key`` vs $WEBHOOK_GATEWAY_API_KEY (default ``default_key``);
missing key -> 403, wrong key -> 401 (reference: src/app.py:875-892).
Status codes preserved per SURVEY §2C.7: unknown path 404, invalid JSON
400, invalid config 422.

Ingestion acks immediately and processes in a background worker, matching
the reference's BackgroundTasks contract (src/app.py:1104-1111).
"""

from __future__ import annotations

import json
import os
import re
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Optional
from urllib.parse import parse_qs, urlparse

from ..engine.catalog import ValidationError, WebhookConfig
from ..engine.store import now_utc
from ..engine.pipeline import Gateway
from ..engine.query_gateway import ReadOnlyViolation, run_adhoc_query

DEFAULT_API_KEY_ENV = "WEBHOOK_GATEWAY_API_KEY"
DEFAULT_API_KEY = "default_key"


class GatewayHTTPServer:
    """Wires a Gateway into a ThreadingHTTPServer.

    Two processing modes:

    - default: per-event background processing (one worker thread), the
      reference's BackgroundTasks shape — lowest latency per event.
    - ``streaming=True``: ingestion appends to the Structured Streaming
      landing dir and a drain thread runs micro-batches — the
      high-throughput topology (per-shape-group transforms + parallel delivery, ~98 ev/s
      measured at batch=500 vs ~1.5 ev/s per-event).
    """

    def __init__(
        self,
        gateway: Gateway,
        host: str = "127.0.0.1",
        port: int = 0,
        streaming: bool = False,
        drain_interval: float = 1.0,
        frontend_dir: Optional[str] = None,
    ):
        self.gateway = gateway
        self.api_key = os.environ.get(DEFAULT_API_KEY_ENV, DEFAULT_API_KEY)
        # SPA assets dir (reference serves frontend/build via the GET
        # catch-all, src/app.py:1770-1782).  Defaults to the frontend/
        # build shipped next to this package; unknown GET paths fall back
        # to index.html (client-side routing) or the reference's
        # "Frontend not found" message.
        if frontend_dir is None:
            frontend_dir = os.path.join(
                os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
                "frontend",
                "build",
            )
        self.frontend_dir = frontend_dir
        # Single background worker: processing order mirrors the
        # reference's serialized execution; Spark jobs inside are still
        # parallel across cores.
        self.executor = ThreadPoolExecutor(max_workers=1)
        self.streaming_gateway = None
        self._drain_interval = drain_interval
        self._stop_drain = threading.Event()
        self._drain_lock = threading.Lock()  # one drain query at a time
        self._drain_thread: Optional[threading.Thread] = None
        if streaming:
            from ..streaming import StreamingGateway

            # ThreadingHTTPServer handles requests concurrently, so
            # group commit coalesces a burst of ingest POSTs into one
            # landing file (~20 ms added ack latency; the file source's
            # per-file cost is what caps drain throughput).  Tunable via
            # WEBHOOK_GATEWAY_GROUP_COMMIT_MS; 0 disables.
            gc_ms = float(
                os.environ.get("WEBHOOK_GATEWAY_GROUP_COMMIT_MS", "20")
            )
            self.streaming_gateway = StreamingGateway(
                gateway,
                group_commit_window=(gc_ms / 1000.0) if gc_ms > 0 else None,
            )
        handler = _make_handler(self)
        # socketserver's default listen backlog is 5: a burst of
        # concurrent ingest connections (each client POST is a fresh
        # TCP connect) overflows it and the kernel RESETS the excess —
        # dropped ingest acks under exactly the load group commit
        # exists for.  128 rides the kernel somaxconn cap.
        class _Server(ThreadingHTTPServer):
            request_queue_size = 128

        self.httpd = _Server((host, port), handler)
        self.port = self.httpd.server_address[1]
        self._thread: Optional[threading.Thread] = None

    def _drain_loop(self) -> None:
        while not self._stop_drain.wait(self._drain_interval):
            try:
                with self._drain_lock:
                    self.streaming_gateway.run_available()
            except Exception as e:
                # Drain again next tick.  Checkpoint + the batch ledger /
                # batch-keyed audit files keep audit rows exactly-once on
                # replay; delivery is at-least-once across a crash-replay.
                msg = (str(e).strip().splitlines() or [""])[0]
                print(
                    f"WARNING: streaming drain failed "
                    f"({type(e).__name__}: {msg})",
                    file=sys.stderr,
                )

    def start(self) -> "GatewayHTTPServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        if self.streaming_gateway is not None:
            self._drain_thread = threading.Thread(
                target=self._drain_loop, daemon=True
            )
            self._drain_thread.start()
        return self

    def stop(self) -> None:
        self._stop_drain.set()
        if self._drain_thread is not None:
            self._drain_thread.join(timeout=120)
        self.httpd.shutdown()
        # release the listening socket fd (shutdown() only stops the
        # serve loop; without close, start/stop cycles leak bound sockets)
        self.httpd.server_close()
        self.executor.shutdown(wait=True)

    def wait_idle(self) -> None:
        """Block until queued background processing drains (test helper)."""
        self.executor.submit(lambda: None).result()
        if self.streaming_gateway is not None:
            with self._drain_lock:
                self.streaming_gateway.run_available()


def _make_handler(srv: GatewayHTTPServer):
    gw = srv.gateway

    class Handler(BaseHTTPRequestHandler):
        # HTTP/1.1 keep-alive: sustained ingest producers hold ONE
        # connection (and the server one handler thread) for a stream
        # of POSTs instead of a connect + thread-spawn per event — the
        # per-request setup dominated ingest throughput before (every
        # response path sets Content-Length, the 1.1 requirement).
        protocol_version = "HTTP/1.1"
        # Reap idle keep-alive connections: without a read timeout an
        # abandoned persistent connection pins its handler thread
        # forever (BaseHTTPRequestHandler.timeout defaults to None).
        # A socket.timeout inside handle_one_request sets
        # close_connection, ending the handler cleanly.
        timeout = 60

        # -- plumbing -----------------------------------------------------
        def log_message(self, fmt, *args):  # quiet
            pass

        def _send(self, code: int, obj: Any) -> None:
            body = json.dumps(obj, default=str).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        def _json(self) -> Any:
            return json.loads(self._body().decode())

        def _json_dict(self) -> dict:
            """Parsed body, REQUIRED to be a JSON object — a valid but
            non-dict body ('\"x\"', '[1]') must 400 like malformed JSON,
            not AttributeError past the except clause and drop the
            connection."""
            data = self._json()
            if not isinstance(data, dict):
                raise ValueError("JSON object required")
            return data

        def _form_fields(self) -> tuple[dict, dict]:
            """(fields, files) from a multipart/form-data or urlencoded
            body — the reference's /query, /upload_table and /register_udf
            take Form()/File() params (src/app.py:947-1032), so the wire
            contract is multipart; the JSON bodies these handlers also
            accept are this engine's convenience extension.  Stdlib-only:
            the body is reparsed as a MIME message.  Raises ValueError on
            anything that isn't form-shaped."""
            ctype = self.headers.get("Content-Type", "")
            body = self._body()
            if ctype.startswith("multipart/form-data"):
                from email.parser import BytesParser
                from email.policy import HTTP

                head = (
                    f"Content-Type: {ctype}\r\nMIME-Version: 1.0\r\n\r\n"
                ).encode()
                msg = BytesParser(policy=HTTP).parsebytes(head + body)
                if not msg.is_multipart():
                    raise ValueError("malformed multipart body")
                fields: dict = {}
                files: dict = {}
                for part in msg.iter_parts():
                    name = part.get_param(
                        "name", header="content-disposition"
                    )
                    if not name:
                        continue
                    payload = part.get_payload(decode=True) or b""
                    fname = part.get_filename()
                    if fname:
                        files[name] = (fname, payload)
                    else:
                        fields[name] = payload.decode("utf-8", "replace")
                return fields, files
            # urlencoded form
            return (
                {
                    k: v[0]
                    for k, v in parse_qs(body.decode("utf-8", "replace")).items()
                },
                {},
            )

        def _auth(self) -> bool:
            """403 when the key is missing, 401 when it is wrong
            (reference: src/app.py:878-892)."""
            key = self.headers.get("X-API-Key")
            if key is None:
                self._send(403, {"detail": "Not authenticated"})
                return False
            if key != srv.api_key:
                self._send(401, {"detail": "Invalid API key"})
                return False
            return True

        # -- GET ----------------------------------------------------------
        def do_GET(self):
            path = urlparse(self.path).path
            qs = parse_qs(urlparse(self.path).query)
            if path == "/":
                return self._send(
                    200,
                    {"status": "ok", "message": "Webhook Gateway is running"},
                )
            if not self._is_api_get(path):
                # SPA catch-all comes last, exactly like the reference.
                return self._serve_spa(path)
            if not self._auth():
                return
            if path == "/stats":
                # reference wire shape (src/app.py:1246-1294, pinned by its
                # test suite): status + *_count keys + webhook_success_rates
                # rows — emitted as a superset of the engine's stats dict
                s = gw.stats()
                rates = [
                    {
                        "webhook_id": r["webhook_id"],
                        "total_events": r["total"],
                        "success_count": r["successes"],
                        "success_rate": r["success_rate"],
                    }
                    for r in s.get("per_webhook", [])
                ]
                return self._send(
                    200,
                    {
                        **s,
                        "status": "success",
                        "webhook_count": s["webhooks"],
                        "raw_event_count": s["raw_events"],
                        "transformed_event_count": s["transformed_events"],
                        "webhook_success_rates": rates,
                    },
                )
            if path == "/webhooks":
                return self._send(
                    200,
                    {"status": "success", "webhooks": gw.catalog.list()},
                )
            m = re.fullmatch(r"/webhook/([^/]+)", path)
            if m:
                row = gw.catalog.get_by_id(m.group(1))
                if row is None:
                    return self._send(404, {"detail": "Webhook not found"})
                row = dict(row)
                row["active"] = gw.catalog.is_active(row)
                return self._send(200, row)
            if path == "/reference_tables":
                wid = (qs.get("webhook_id") or [None])[0]
                return self._send(
                    200,
                    {
                        "status": "success",
                        "reference_tables": gw.ref_tables.list(wid),
                    },
                )
            if path == "/udfs":
                wid = (qs.get("webhook_id") or [None])[0]
                return self._send(
                    200, {"status": "success", "udfs": gw.udfs.list(wid)}
                )
            if path == "/events":
                try:
                    limit = int((qs.get("limit") or ["50"])[0])
                except ValueError:
                    return self._send(
                        400, {"detail": "limit must be an integer"}
                    )
                return self._send(
                    200,
                    {"status": "success", "events": gw.recent_events(limit)},
                )
            m = re.fullmatch(r"/event/([^/]+)/transformed", path)
            if m:
                detail = gw.event_detail(m.group(1))
                if detail is None:
                    return self._send(404, {"detail": "Event not found"})
                # reference wire shape (src/app.py:1503-1563): flat raw
                # fields + a single `transformed` object — emitted as a
                # superset of the engine's {raw_event, transformed_events}
                raw = detail.get("raw_event") or {}
                trs = detail.get("transformed_events") or []
                t = trs[0] if trs else None
                detail = {
                    **detail,
                    "id": raw.get("id"),
                    "timestamp": raw.get("timestamp"),
                    "source_path": raw.get("source_path"),
                    "raw_payload": raw.get("payload"),
                    "transformed": {
                        "id": t.get("id"),
                        "webhook_id": t.get("webhook_id"),
                        "timestamp": t.get("timestamp"),
                        "payload": t.get("transformed_payload"),
                        "destination_url": t.get("destination_url"),
                        "success": t.get("success"),
                        "response_code": t.get("response_code"),
                        "response_body": t.get("response_body"),
                    }
                    if t
                    else None,
                }
                return self._send(200, detail)
            return self._send(404, {"detail": "Not found"})

        _API_GET = {"/stats", "/webhooks", "/reference_tables", "/udfs", "/events"}

        def _is_api_get(self, path: str) -> bool:
            return (
                path in self._API_GET
                or re.fullmatch(r"/webhook/([^/]+)", path) is not None
                or re.fullmatch(r"/event/([^/]+)/transformed", path) is not None
            )

        _MIME = {
            ".html": "text/html; charset=utf-8",
            ".js": "application/javascript",
            ".css": "text/css",
            ".json": "application/json",
            ".svg": "image/svg+xml",
            ".png": "image/png",
            ".ico": "image/x-icon",
            ".map": "application/json",
        }

        def _send_file(self, fpath: str) -> None:
            with open(fpath, "rb") as f:
                body = f.read()
            ext = os.path.splitext(fpath)[1].lower()
            self.send_response(200)
            self.send_header(
                "Content-Type", self._MIME.get(ext, "application/octet-stream")
            )
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _serve_spa(self, path: str) -> None:
            """GET catch-all: SPA assets / index.html, like the reference's
            last-registered route (src/app.py:1770-1782) — unauthenticated
            by design (the UI itself prompts for the API key)."""
            base = os.path.abspath(srv.frontend_dir)
            if os.path.isdir(base):
                rel = path.lstrip("/")
                cand = os.path.normpath(os.path.join(base, rel))
                if (
                    rel
                    and cand.startswith(base + os.sep)
                    and os.path.isfile(cand)
                ):
                    return self._send_file(cand)
                index = os.path.join(base, "index.html")
                if os.path.isfile(index):
                    return self._send_file(index)
            return self._send(
                200,
                {
                    "message": "Frontend not found. Please run 'npm run "
                    "build' in the frontend directory."
                },
            )

        # -- POST ---------------------------------------------------------
        def do_POST(self):
            path = urlparse(self.path).path
            if path == "/echo-webhook":
                # authenticated, unlike ingestion (reference:
                # src/app.py:1674-1703 takes the api_key dependency)
                if not self._auth():
                    return
                try:
                    payload = self._json()
                except ValueError:
                    return self._send(400, {"detail": "Invalid JSON"})
                return self._send(
                    200,
                    {
                        "status": "success",
                        "message": "Echo webhook received your payload",
                        "received_at": now_utc().isoformat(),
                        "payload": payload,
                        "received": payload,  # legacy key
                    },
                )
            if path == "/register":
                if not self._auth():
                    return
                return self._register()
            if path == "/query":
                if not self._auth():
                    return
                return self._query()
            if path == "/upload_table":
                if not self._auth():
                    return
                return self._upload_table()
            if path == "/register_udf":
                if not self._auth():
                    return
                return self._register_udf()
            # catch-all ingestion — deliberately unauthenticated
            # (reference: handle_webhook has no key dependency,
            # src/app.py:1068-1073)
            return self._ingest(path)

        def _webhook_config(self) -> Optional[WebhookConfig]:
            """The body as a ``WebhookConfig``; on a bad body, sends the
            400 (not a JSON object) or 422 (invalid config) and returns
            None."""
            try:
                data = self._json_dict()
            except ValueError:
                self._send(400, {"detail": "Invalid JSON"})
                return None
            try:
                return WebhookConfig(
                    source_path=data.get("source_path", ""),
                    destination_url=data.get("destination_url", ""),
                    transform_query=data.get("transform_query", ""),
                    filter_query=data.get("filter_query"),
                    owner=data.get("owner"),
                )
            except ValidationError as e:
                self._send(422, {"detail": str(e)})
                return None

        def _register(self):
            cfg = self._webhook_config()
            if cfg is None:
                return
            rec = gw.register_webhook(cfg)
            # reference wire shape (src/app.py:950, pinned by its tests):
            # {"status": "success", "webhook": {...}} — flat record kept
            # as a superset for clients reading fields directly
            return self._send(
                200, {**rec, "status": "success", "webhook": rec}
            )

        def _query(self):
            ctype = self.headers.get("Content-Type", "")
            if "json" in ctype:
                try:
                    q = self._json_dict().get("query", "")
                except ValueError:
                    return self._send(400, {"detail": "Invalid JSON"})
            else:
                # form field `query`, multipart or urlencoded
                # (reference: src/app.py:955-957 takes Form(...))
                try:
                    fields, _ = self._form_fields()
                except ValueError as e:
                    return self._send(400, {"detail": str(e)})
                q = fields.get("query", "")
            try:
                return self._send(200, run_adhoc_query(gw.spark, q))
            except ReadOnlyViolation as e:
                return self._send(400, {"detail": str(e)})
            except Exception as e:
                return self._send(400, {"detail": f"Query error: {e}"})

        def _upload_table(self):
            """Multipart form (webhook_id, table_name, description?, file) —
            the reference's upload contract (src/app.py:993-1032), with the
            format inferred from the uploaded file's extension.  A JSON body
            {webhook_id, table_name, description?, format, content} is also
            accepted as this engine's convenience extension."""
            import tempfile

            ctype = self.headers.get("Content-Type", "")
            if not ctype.startswith("application/json"):
                try:
                    fields, files = self._form_fields()
                except ValueError as e:
                    return self._send(400, {"detail": str(e)})
                fname, content = files.get("file") or ("", b"")
                if not fname:
                    return self._send(400, {"detail": "file part required"})
                data = {
                    "webhook_id": fields.get("webhook_id", ""),
                    "table_name": fields.get("table_name", ""),
                    "description": fields.get("description"),
                    "format": fname.rsplit(".", 1)[-1].lower()
                    if "." in fname
                    else "csv",
                    "content": content.decode("utf-8", "replace"),
                }
            else:
                try:
                    data = self._json_dict()
                except ValueError:
                    return self._send(400, {"detail": "Invalid JSON"})
            fmt = (data.get("format") or "csv").lower()
            if fmt not in ("csv", "json"):
                return self._send(400, {"detail": f"Unsupported format: {fmt}"})
            if not gw.catalog.get_by_id(data.get("webhook_id", "")):
                return self._send(404, {"detail": "Webhook not found"})
            with tempfile.NamedTemporaryFile(
                "w", suffix=f".{fmt}", delete=False
            ) as f:
                f.write(data.get("content", ""))
                tmp = f.name
            try:
                df = gw.ref_tables.read_upload(tmp, fmt)
                rid = gw.ref_tables.upload(
                    data["webhook_id"],
                    data["table_name"],
                    df,
                    data.get("description"),
                )
            except Exception as e:
                return self._send(400, {"detail": str(e)})
            finally:
                os.unlink(tmp)
            # reference keys (src/app.py:1029) + legacy "id"
            return self._send(
                200,
                {
                    "id": rid,
                    "table_id": rid,
                    "table_name": data["table_name"],
                    "status": "success",
                },
            )

        def _register_udf(self):
            """Multipart form (webhook_id, function_name, function_code) —
            the reference's contract (src/app.py:673-690 takes Form(...));
            JSON bodies with the same keys are also accepted."""
            ctype = self.headers.get("Content-Type", "")
            if not ctype.startswith("application/json"):
                try:
                    data, files = self._form_fields()
                except ValueError as e:
                    return self._send(400, {"detail": str(e)})
                # a function_code sent as a file part also counts
                if "function_code" not in data and "function_code" in files:
                    data["function_code"] = files["function_code"][1].decode(
                        "utf-8", "replace"
                    )
            else:
                try:
                    data = self._json_dict()
                except ValueError:
                    return self._send(400, {"detail": "Invalid JSON"})
            if not gw.catalog.get_by_id(data.get("webhook_id", "")):
                return self._send(404, {"detail": "Webhook not found"})
            try:
                rid = gw.udfs.register(
                    data["webhook_id"],
                    data["function_name"],
                    data["function_code"],
                )
            except Exception as e:
                return self._send(400, {"detail": f"Invalid function: {e}"})
            from ..engine.udfs import udf_full_name

            # reference keys (src/app.py:1058-1063) + legacy "id"; the
            # "duckdb_function_name" KEY is the reference's wire contract —
            # the VALUE is the name this engine registers the UDF under,
            # which is what a client pastes into SQL either way
            return self._send(
                200,
                {
                    "id": rid,
                    "udf_id": rid,
                    "status": "success",
                    "function_name": data["function_name"],
                    "duckdb_function_name": udf_full_name(
                        data["webhook_id"], data["function_name"]
                    ),
                },
            )

        def _ingest(self, path: str):
            webhook = gw.catalog.get_by_path(path)
            if webhook is None:
                return self._send(404, {"detail": "No webhook registered for this path"})
            try:
                payload = self._json()
            except ValueError:
                return self._send(400, {"detail": "Invalid JSON payload"})
            if srv.streaming_gateway is not None:
                # streaming mode: append to the landing dir; the drain
                # thread raw-logs + processes in micro-batches
                event_id = srv.streaming_gateway.ingest(
                    webhook["source_path"], payload
                )
                return self._send(200, {"status": "accepted", "event_id": event_id})
            event_id = gw.audit.log_raw_event(webhook["source_path"], payload)
            # ack now, process in background (reference: src/app.py:1104-1111)
            srv.executor.submit(gw.process_event, webhook, event_id, payload)
            return self._send(200, {"status": "accepted", "event_id": event_id})

        # -- PUT / PATCH / DELETE -----------------------------------------
        def do_PUT(self):
            if not self._auth():
                return
            m = re.fullmatch(r"/webhook/([^/]+)", urlparse(self.path).path)
            if not m:
                return self._send(404, {"detail": "Not found"})
            cfg = self._webhook_config()
            if cfg is None:
                return
            row = gw.catalog.update(m.group(1), cfg)
            if row is None:
                return self._send(404, {"detail": "Webhook not found"})
            return self._send(200, row)

        def do_PATCH(self):
            if not self._auth():
                return
            m = re.fullmatch(
                r"/webhook/([^/]+)/status", urlparse(self.path).path
            )
            if not m:
                return self._send(404, {"detail": "Not found"})
            try:
                data = self._json_dict()
            except ValueError:
                return self._send(400, {"detail": "Invalid JSON"})
            row = gw.catalog.set_active(m.group(1), bool(data.get("active", True)))
            if row is None:
                return self._send(404, {"detail": "Webhook not found"})
            row = dict(row)
            row["active"] = gw.catalog.is_active(row)
            return self._send(200, row)

        def do_DELETE(self):
            if not self._auth():
                return
            m = re.fullmatch(r"/webhooks/([^/]+)", urlparse(self.path).path)
            if not m:
                return self._send(404, {"detail": "Not found"})
            outcome = gw.delete_webhook(m.group(1))
            if outcome is None:
                return self._send(404, {"detail": "Webhook not found"})
            # reference shape (src/app.py:1753-1760, pinned by its tests:
            # status == "success"); the outcome key keeps the
            # deleted-vs-deactivated distinction observable
            return self._send(
                200,
                {
                    "status": "success",
                    "outcome": outcome,
                    "message": "Webhook deleted"
                    if outcome == "deleted"
                    else "Webhook marked as inactive (has event history)",
                },
            )

    return Handler


def serve(gateway: Gateway, host: str = "0.0.0.0", port: int = 8000) -> None:
    """Blocking entry point: serve the gateway API."""
    server = GatewayHTTPServer(gateway, host, port)
    try:
        server.httpd.serve_forever()
    except KeyboardInterrupt:
        server.stop()
