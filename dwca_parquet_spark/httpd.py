"""Stdlib HTTP skin over the service shell — the reference's FastAPI app
(``/root/reference/src/dwca_parquet/main.py:10-12`` mounting
``routers/resources.py:19-75`` at ``/api/v1``) re-expressed with only
``http.server``, since no web framework ships in this environment. The
routing table is one line per route, exactly as service.py promised:

    GET  /api/v1/resources            → ResourceService.list_resources
    GET  /api/v1/resources/{id}       → ResourceService.get_resource
    POST /api/v1/resources/csw        → ResourceService.generate_csw
    POST /api/v1/resources/geoapi     → ResourceService.generate_geoapi

Responses are JSON; an invalid resource id 400, unknown routes 404,
handler errors 500 with the error message. ThreadingHTTPServer keeps the
server responsive while the service's JobQueue executes conversions on
its worker thread — the same enqueue-and-return contract as the
reference's RQ. A production
deployment fronts the same service object with any ASGI framework; this
module exists so the full request → enqueue → Spark-job → parquet flow is
runnable and tested end-to-end here.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from dwca_parquet_spark.service import InvalidResourceId, ResourceService

API_PREFIX = "/api/v1"


def _make_handler(service: ResourceService):
    class Handler(BaseHTTPRequestHandler):
        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _route(self, method: str) -> None:
            path = self.path.split("?", 1)[0].rstrip("/")
            try:
                if method == "GET" and path == f"{API_PREFIX}/resources":
                    host = self.headers.get("Host", "")
                    base = f"http://{host}{API_PREFIX}/" if host else ""
                    self._send(200, service.list_resources(base))
                elif method == "GET" and path.startswith(f"{API_PREFIX}/resources/"):
                    rid = path.rsplit("/", 1)[1]
                    try:
                        self._send(200, service.get_resource(rid))
                    except InvalidResourceId as exc:
                        self._send(400, {"detail": str(exc)})
                    except KeyError:
                        self._send(404, {"detail": f"unknown resource: {rid}"})
                elif method == "POST" and path == f"{API_PREFIX}/resources/csw":
                    self._send(200, service.generate_csw())
                elif method == "POST" and path == f"{API_PREFIX}/resources/geoapi":
                    self._send(200, service.generate_geoapi())
                else:
                    self._send(404, {"detail": "not found"})
            except Exception as exc:  # noqa: BLE001 — a request must never kill the server
                self._send(500, {"detail": f"{type(exc).__name__}: {exc}"})

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            self._route("GET")

        def do_POST(self) -> None:  # noqa: N802
            self._route("POST")

        def log_message(self, *args) -> None:  # silence per-request stderr
            pass

    return Handler


def serve(service: ResourceService, host: str = "127.0.0.1", port: int = 0):
    """Start the HTTP skin on a daemon thread; returns the live server
    (``server.server_address`` has the bound port; call ``shutdown()``
    to stop). Port 0 picks a free port — what tests want."""
    httpd = ThreadingHTTPServer((host, port), _make_handler(service))
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    return httpd
