"""HTTP façade over :class:`AlgorithmService` — the reference's actual entry
point re-created (reference: server/server.go:56-75 routes, ``POST
/algorithm`` handler server/views.go:83-160).

Endpoints (stdlib ``http.server`` — no framework dependency):

- ``POST /algorithm`` — body is the reference's ``NewAlgorithmRequest``
  (server/api.go:8-13)::

      {"map_input_length": 10,
       "map_code":    "...",
       "reduce_code": "...",
       "input": [["", "word1"], ["", "word2"], ...]}

  ``input`` items may be ``[key, value]`` pairs or ``{"key":..,"value":..}``
  objects (protocol.Input's kv shape, protocol/input.go:9-16). Two code
  dialects, chosen by the optional ``"dialect"`` field:

  - ``"python"`` (default): ``map_code``/``reduce_code`` are Python
    expressions evaluating to the two callables — e.g. the demo word count
    (server/views.go:53-59) is ``"lambda k, v: (len(v) % 2, v, '1')"`` /
    ``"lambda k, vs: str(len(vs))"``. Same trust model as the reference,
    which ships arbitrary user JS to its workers: the engine executes
    submitted code, so the endpoint belongs behind the same auth wall.
  - ``"sql"``: ``map_code`` is ``{"pi": expr, "key": expr, "value": expr}``
    and ``reduce_code`` an aggregate expression over ``values`` — compiled
    straight to Catalyst (:func:`submit_algorithm_native`), no Python
    workers: the ``input`` list becomes a local relation, part of the
    plan, so not even the input needs one.

  Responses: 200 ``{"algorithm_id": id, "num_map_jobs": n,
  "num_partitions": p}``; 400 ``{"error": msg}`` on validation failure —
  the reference's BindJSON / govalidator / recovered-panic paths
  (server/views.go:85-117).

- ``GET /algorithm`` — the live master pool: ``{"running": [ids]}``
  (the reference's index page shows ``len(masters)``, views.go:76-80).

- ``GET /result/<algorithm_id>`` — 200 ``{"status": "done", "results":
  [{"key": k, "value": v}, ...]}`` when complete (the reference's
  ``Results()`` surface, algorithm/algorithm.go:337-343); 202
  ``{"status": "running"}`` while in flight; 404 for unknown ids;
  410 ``{"status": "cancelled"}``; 500 ``{"status": "failed", "error": ..}``.

- ``DELETE /algorithm/<algorithm_id>`` — cancel a running algorithm (the
  master close path, master/master.go:198-208). 200 on cancel, 404 if
  unknown or already complete.

The server thread only parses requests and reads handles; all Spark work
stays on the service's per-algorithm threads.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import SparkSession

from go_web_mapreduce_spark.service import AlgorithmService


def _parse_input(raw) -> list[tuple[str, str]]:
    """protocol.Input's kv rows (protocol/input.go:9-16): a list of
    ``[key, value]`` pairs or ``{"key":..,"value":..}`` objects; the demo
    submits empty keys (views.go:46-48)."""
    if not isinstance(raw, list) or not raw:
        raise ValueError("input must be a non-empty list")
    rows: list[tuple[str, str]] = []
    for item in raw:
        if isinstance(item, dict) and "value" in item:
            rows.append((str(item.get("key") or ""), str(item["value"])))
        elif isinstance(item, (list, tuple)) and len(item) == 2:
            rows.append((str(item[0] or ""), str(item[1])))
        else:
            raise ValueError(
                "input items must be [key, value] pairs or {key, value} objects"
            )
    return rows


class _Api:
    """Request logic, separated from the BaseHTTPRequestHandler plumbing so
    it is unit-testable without sockets."""

    def __init__(self, spark: SparkSession):
        self.service = AlgorithmService(spark)
        # completed handles stay retrievable over HTTP even after the
        # service GCs them from its live pool
        self.handles: dict[str, object] = {}
        self._lock = threading.Lock()

    # -- POST /algorithm ----------------------------------------------------
    def submit(self, body: bytes) -> tuple[int, dict]:
        try:
            req = json.loads(body)
        except (json.JSONDecodeError, UnicodeDecodeError) as e:
            return 400, {"error": f"bad json: {e}"}  # BindJSON → 400
        if not isinstance(req, dict):
            return 400, {"error": "request must be a JSON object"}

        # govalidator 'required' fields (server/api.go:10-12)
        missing = [f for f in ("map_code", "reduce_code", "input") if not req.get(f)]
        if missing:
            return 400, {"error": f"missing required fields: {missing}"}
        map_input_length = req.get("map_input_length", 0)
        if not isinstance(map_input_length, int) or map_input_length <= 0:
            return 400, {"error": "map_input_length must be a positive integer"}

        try:
            rows = _parse_input(req["input"])
        except ValueError as e:
            return 400, {"error": str(e)}

        dialect = req.get("dialect", "python")
        try:
            if dialect == "sql":
                handle = self._submit_sql(req, rows, map_input_length)
            elif dialect == "python":
                handle = self._submit_python(req, rows, map_input_length)
            else:
                return 400, {"error": f"unknown dialect: {dialect!r}"}
        except ValueError as e:  # constructor panic → recovered → 400
            return 400, {"error": str(e)}
        except SyntaxError as e:
            return 400, {"error": f"code does not parse: {e}"}

        with self._lock:
            self.handles[handle.algorithm_id] = handle
        return 200, {
            "algorithm_id": handle.algorithm_id,
            "num_map_jobs": handle.num_map_jobs,
            "num_partitions": handle.num_partitions,
        }

    def _submit_python(self, req: dict, rows: list, map_input_length: int):
        map_fn = eval(req["map_code"])  # noqa: S307 — the reference's trust
        # model: user-submitted code runs in the engine (its workers eval
        # arbitrary JS, worker/algorithm JS slots); deploy behind auth
        reduce_fn = eval(req["reduce_code"])  # noqa: S307
        if not callable(map_fn) or not callable(reduce_fn):
            raise ValueError("map_code/reduce_code must evaluate to callables")
        return self.service.submit(
            map_fn, reduce_fn, rows, map_input_length,
            num_partitions=req.get("num_partitions"),
            sink_path=req.get("sink_path"),
        )

    def _submit_sql(self, req: dict, rows: list, map_input_length: int):
        mc = req["map_code"]
        if not isinstance(mc, dict) or not {"pi", "key", "value"} <= set(mc):
            raise ValueError('sql dialect map_code must be {"pi","key","value"} exprs')
        return self.service.submit_native(
            rows,
            map_input_length,
            pi_expr=mc["pi"],
            key_expr=mc["key"],
            value_expr=mc["value"],
            reduce_expr=req["reduce_code"],
            num_partitions=req.get("num_partitions"),
            sink_path=req.get("sink_path"),
        )

    # -- GET /result/<id> ---------------------------------------------------
    def result(self, algorithm_id: str) -> tuple[int, dict]:
        with self._lock:
            handle = self.handles.get(algorithm_id)
        if handle is None:
            return 404, {"error": f"unknown algorithm {algorithm_id}"}
        if not handle.done:
            return 202, {"status": "running"}
        if handle.cancelled:
            return 410, {"status": "cancelled"}
        if handle._error is not None:
            return 500, {"status": "failed", "error": str(handle._error)}
        if handle.sink_path is not None:
            return 200, {"status": "done", "sink_path": handle.sink_path}
        rows = handle.wait()
        return 200, {
            "status": "done",
            "results": [{"key": r["key"], "value": r["value"]} for r in rows],
        }

    # -- DELETE /algorithm/<id> ----------------------------------------------
    def cancel(self, algorithm_id: str) -> tuple[int, dict]:
        if self.service.cancel(algorithm_id):
            return 200, {"status": "cancelling"}
        return 404, {"error": f"no running algorithm {algorithm_id}"}

    def running(self) -> tuple[int, dict]:
        return 200, {"running": self.service.running()}


def make_server(spark: SparkSession, port: int = 0) -> ThreadingHTTPServer:
    """Build (without starting) the HTTP server; ``port=0`` picks a free
    port (``server.server_address[1]``). Call ``serve_forever`` on a thread
    — see :func:`serve_background`."""
    api = _Api(spark)

    class Handler(BaseHTTPRequestHandler):
        def _reply(self, status: int, payload: dict) -> None:
            data = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):  # noqa: N802 — http.server API
            if self.path.rstrip("/") != "/algorithm":
                return self._reply(404, {"error": "not found"})
            length = int(self.headers.get("Content-Length", 0))
            status, payload = api.submit(self.rfile.read(length))
            self._reply(status, payload)

        def do_GET(self):  # noqa: N802
            if self.path.rstrip("/") == "/algorithm":
                return self._reply(*api.running())
            if self.path.startswith("/result/"):
                return self._reply(*api.result(self.path[len("/result/"):]))
            self._reply(404, {"error": "not found"})

        def do_DELETE(self):  # noqa: N802
            if self.path.startswith("/algorithm/"):
                return self._reply(*api.cancel(self.path[len("/algorithm/"):]))
            self._reply(404, {"error": "not found"})

        def log_message(self, fmt, *args):  # quiet test output
            pass

    server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
    server.api = api  # for tests/inspection
    return server


def serve_background(spark: SparkSession, port: int = 0) -> ThreadingHTTPServer:
    """Start the façade on a daemon thread; returns the server (its bound
    port is ``server.server_address[1]``; ``server.shutdown()`` stops it)."""
    server = make_server(spark, port)
    t = threading.Thread(target=server.serve_forever, daemon=True,
                         name="algorithm-http")
    t.start()
    return server
