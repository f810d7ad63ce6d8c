"""Thin HTTP serving front-end — the reference's search-api analog.

Mirrors the reference wire contract exactly:
  * ``POST /api/v1/search`` with body
    ``{spot_name?, category?, geo?: {latitude, longitude},
       has_instagram_image?, limit, page}``
    (/root/reference/search-api/internal/domain/SearchCondition.go:9-21,
     openapi.yaml) ->
    ``{total_hits, last_page, spot_ids: [string]}``
    (presentation/model/response.go:8-12, last_page rule :40-42);
  * limit/page are required -> 400 with the reference's error shape
    ``{status_code, message}`` (SearchCondition.go:32-44,
     searchHandler.go:23-30);
  * ``GET /health`` -> 200 (healthHandler.go analog).

The engine side is a :class:`~micce_search_engine_spark.operators.
multifield.ConditionEngine` (multi-field keyword with synonym-branch
OR; multi-word keywords PHRASE-match per field — the reference's
``contains "multi word"`` semantics, whereQuery.go:43-57) opened by
the caller, typically with ``preload=True`` engines for serving
latency. ``spot_ids`` come from a caller-supplied ``id_of(doc_id)``
mapping (default: decimal string of the doc_id — the engine's stable
document identity; a deployment passes a doc_id->external-id lookup).

stdlib-only (ThreadingHTTPServer): Spark drivers serialize queries
through the driver anyway, so a heavier async stack buys nothing here.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable


def _error(status: int, message: str) -> bytes:
    # presentation/model error shape (Error400/Error500)
    return (
        json.dumps({"status_code": status, "message": message}) + "\n"
    ).encode()


def parse_condition(body: bytes) -> dict:
    """Reference request JSON -> ConditionEngine condition dict.
    Raises ValueError on validation failure (-> 400), mirroring
    NewSearchCondition's limit/page requirement."""
    try:
        req = json.loads(body or b"{}")
    except json.JSONDecodeError as e:
        raise ValueError(f"invalid JSON: {e}") from e
    if not isinstance(req, dict):
        raise ValueError("request body must be a JSON object")
    errs = []
    if req.get("limit") is None:
        errs.append("limit is required")
    if req.get("page") is None:
        errs.append("page is required")
    if errs:
        raise ValueError("; ".join(errs))
    cond: dict = {
        "limit": int(req["limit"]),
        "page": int(req["page"]),
        # the live rank profile is closeness(spot_geo_location)
        # (vespaRequest.go:8-13, spot.profile:3-5)
        "rank_profile": "closeness",
    }
    if req.get("spot_name") is not None:
        cond["keyword"] = str(req["spot_name"])
        # a multi-word keyword is ALWAYS a phrase in the reference
        # (whereQuery.go:43-57); single tokens degrade to term match
        cond["phrase"] = True
    if req.get("category") is not None:
        cond["category"] = str(req["category"])
    if req.get("has_instagram_image") is not None:
        cond["has_images"] = bool(req["has_instagram_image"])
    geo = req.get("geo")
    if geo is not None:
        if not isinstance(geo, dict):
            raise ValueError("geo must be an object")
        # the reference zero-defaults missing fields (Go decodes
        # {"geo": {}} to lat=0, lon=0 and returns 200) — mirror that
        # instead of crashing the handler thread (ADVICE r5)
        cond["geo"] = {
            "lat": float(geo.get("latitude", 0.0) or 0.0),
            "lon": float(geo.get("longitude", 0.0) or 0.0),
        }
    return cond


def make_handler(
    condition_engine, id_of: Callable[[int], str] = str
) -> type[BaseHTTPRequestHandler]:
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):  # silence per-request stderr noise
            pass

        def _send(self, status: int, payload: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(payload)))
            self.end_headers()
            self.wfile.write(payload)

        def do_GET(self):
            if self.path == "/health":
                self._send(200, b'{"status": "healthy"}\n')
            else:
                self._send(404, _error(404, "not found"))

        def do_POST(self):
            if self.path != "/api/v1/search":
                self._send(404, _error(404, "not found"))
                return
            n = int(self.headers.get("Content-Length", "0") or 0)
            try:
                cond = parse_condition(self.rfile.read(n))
            except (ValueError, TypeError, KeyError) as e:
                # TypeError/KeyError cover malformed field types the
                # JSON layer accepts (e.g. a list-valued limit) — these
                # previously killed the handler thread and dropped the
                # connection with no response (ADVICE r5)
                self._send(400, _error(400, str(e)))
                return
            try:
                res = condition_engine.search(cond)
            except ValueError as e:
                # request-classification errors from the engine (e.g.
                # attribute conditions with no attrs table configured)
                # are the caller's fault, not a server fault (ADVICE r5)
                self._send(400, _error(400, str(e)))
                return
            except Exception as e:  # engine-side failure -> 500
                self._send(500, _error(500, str(e)))
                return
            out = {
                "total_hits": int(res["total_hits"]),
                "last_page": bool(res["last_page"]),
                "spot_ids": [id_of(int(d)) for d, _ in res["results"]],
            }
            self._send(200, (json.dumps(out) + "\n").encode())

    return Handler


def serve(
    condition_engine,
    host: str = "127.0.0.1",
    port: int = 8001,
    id_of: Callable[[int], str] = str,
) -> ThreadingHTTPServer:
    """Start the API server on a daemon thread; returns the server
    (call ``.shutdown()`` to stop). Port 0 picks a free port
    (``server.server_address[1]``)."""
    srv = ThreadingHTTPServer((host, port), make_handler(condition_engine, id_of))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv
