"""Service workload: closed-loop HTTP clients against one engine server.

The server (``serve.py``) runs in its own process. Each client alternates a
python-dialect and a sql-dialect word count (one *round*), each over words
drawn by the seed from a Zipf vocabulary, posts it to ``POST /algorithm``,
polls ``GET /result/<id>`` until it is done, and checks the counts against
a ``collections.Counter`` of its input. Clients start a new round only
before the deadline, so every client finishes whole rounds.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

from tracing import (TreeRss, Windows, final_captured, fold_event_log, layer_metrics,
                     read_event_log)

DIALECTS = {
    "python": {
        "map_code": "lambda k, v: (len(v) % 2, v, '1')",
        "reduce_code": "lambda k, vs: str(len(vs))",
    },
    "sql": {
        "dialect": "sql",
        "map_code": {"pi": "length(value) % 2", "key": "value", "value": "'1'"},
        "reduce_code": "cast(size(values) as string)",
    },
}


class Server:
    """``serve.py`` as a child process in its own process group."""

    def __init__(self, ctx, event_log_dir: str | None = None) -> None:
        args = [sys.executable, os.path.join(ctx.bench_dir, "serve.py"), ctx.run_dir]
        if event_log_dir:
            args.append(event_log_dir)
        self.proc = subprocess.Popen(
            args, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
            start_new_session=True,
        )
        line = self.proc.stdout.readline()
        if not line:
            self.close()
            raise RuntimeError("server process exited before serving")
        self.port = json.loads(line)["port"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                os.killpg(self.proc.pid, 9)
                self.proc.wait()

    def __enter__(self) -> "Server":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def _request(port: int, method: str, path: str, body: dict | None = None):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request(method, path, body=None if body is None else json.dumps(body),
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Client:
    def __init__(self, ctx, cfg: dict, cid: str, port: int, sink: list) -> None:
        self.ctx, self.cfg, self.cid, self.port, self.sink = ctx, cfg, cid, port, sink
        self.rng = random.Random(f"{ctx.seed}:{cid}")
        words = [f"w{i}" for i in range(cfg["vocabulary"])]
        weights = [1 / (rank + 1) for rank in range(len(words))]
        self.draw = lambda: self.rng.choices(words, weights, k=cfg["words_per_algo"])

    def algorithm(self, dialect: str, round_no: int) -> dict:
        """One word count: POST, poll until done, check. The spans carry
        the algorithm id as trace id once the POST has returned it."""
        spans, words = self.ctx.spans, self.draw()
        body = dict(DIALECTS[dialect], map_input_length=self.cfg["map_input_length"],
                    input=[["", w] for w in words])
        rec = {"client": self.cid, "round": round_no, "dialect": dialect}
        root = spans.start("service.algorithm", dialect)
        with spans.span("http_api.post", dialect, root) as post:
            status, raw = _request(self.port, "POST", "/algorithm", body)
        rec["post_start"], rec["post_end"] = spans.window(post)
        if status != 200:
            spans.finish(root)
            return dict(rec, ok=False, error=f"POST {status}: {raw[:200]!r}")
        algo_id = rec["algo_id"] = json.loads(raw)["algorithm_id"]
        spans.items[root]["trace"] = spans.items[post]["trace"] = algo_id
        polls = 0
        while True:
            with spans.span("http_api.poll", algo_id, root):
                status, raw = _request(self.port, "GET", f"/result/{algo_id}")
            polls += 1
            if status != 202:
                break
            time.sleep(self.cfg["poll_s"])
        spans.finish(root)
        rec.update(done=spans.window(root)[1], polls=polls, result_bytes=len(raw))
        want = {w: str(c) for w, c in Counter(words).items()}
        got = {r["key"]: r["value"] for r in json.loads(raw).get("results", ())}
        rec["ok"] = status == 200 and got == want
        if not rec["ok"]:
            rec["error"] = f"GET {status}: {len(got)} keys, want {len(want)}"
        return rec

    def loop(self, deadline: float) -> None:
        round_no = 0
        while round_no == 0 or time.time() < deadline:
            for dialect in DIALECTS:
                try:
                    self.sink.append(self.algorithm(dialect, round_no))
                except Exception as exc:  # noqa: BLE001 — counted as failed
                    self.sink.append({"client": self.cid, "round": round_no, "ok": False,
                                      "error": f"{type(exc).__name__}: {exc}"[:400]})
                    return
            round_no += 1


def _window(ctx, cfg: dict, port: int, seconds: float, tag: str) -> tuple[list[dict], float]:
    """Every client runs whole rounds until ``seconds`` have passed (at least
    one round each); returns the records and the wall time."""
    records: list[dict] = []
    clients = [Client(ctx, cfg, f"{tag}{i}", port, records) for i in range(cfg["clients"])]
    t0 = time.time()
    threads = [threading.Thread(target=c.loop, args=(t0 + seconds,)) for c in clients]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.time() - t0


def _rounds(records: list[dict]) -> list[float]:
    by_round: dict[tuple, float] = {}
    for r in records:
        key = (r["client"], r["round"])
        by_round[key] = by_round.get(key, 0.0) + r["done"] - r["post_start"]
    return list(by_round.values())


def run(ctx, cfg: dict) -> dict:
    attempted = failed = 0
    errors: list[str] = []

    def tally(records: list[dict]) -> list[dict]:
        nonlocal attempted, failed
        attempted += len(records)
        bad = [r for r in records if not r["ok"]]
        failed += len(bad)
        errors.extend(r["error"] for r in bad)
        return [r for r in records if r["ok"]]

    spans = ctx.spans
    with spans.span("session.start", "setup") as s_start:
        server = Server(ctx)
    with server, TreeRss(server.proc.pid) as rss:
        with spans.span("session.warm", "setup") as s_warm:
            tally(_window(ctx, cfg, server.port, 0, "warm")[0])
        setup_s = time.time() - ctx.process_start
        records, wall = _window(ctx, cfg, server.port, ctx.seconds, "c")
        ok = tally(records)
    lat = [r["done"] - r["post_start"] for r in ok]
    result = {
        "end_to_end": {
            "setup_s": setup_s,
            "pass_s": statistics.median(_rounds(ok)),
            "query_geomean_s": statistics.geometric_mean(lat),
            "queries_per_s": len(ok) / wall,
        },
        "algorithms": records,
    }
    if ctx.trace:
        with Server(ctx, ctx.event_log_dir) as server:
            tally(_window(ctx, cfg, server.port, 0, "warm")[0])
            traced, traced_wall = _window(ctx, cfg, server.port, ctx.seconds, "c")
        result["traced_algorithms"] = traced
        result["per_layer"] = _layers(
            ctx, tally(traced), traced_wall, spans.duration(s_start),
            spans.duration(s_warm), result["end_to_end"]["pass_s"])
        result["per_layer"]["process.peak_rss_mb"] = rss.peak_mb
    result.update(attempted=attempted, failed=failed, errors=errors)
    return result


def _layers(ctx, algos: list[dict], wall: float, start_s: float, warm_s: float,
            untraced_pass_s: float) -> dict:
    """Per-layer metrics; layer totals are per pass (one round: one python
    and one sql algorithm), service and http_api ones per algorithm."""
    units = fold_event_log(
        read_event_log(ctx.event_log_dir),
        Windows([(f"post:{r['algo_id']}", r["post_start"], r["post_end"]) for r in algos],
                groups=[r["algo_id"] for r in algos]),
    )
    n = len(algos)
    per_pass = 2 / n
    submit_jobs = sum(u["jobs"] for k, u in units.items() if k.startswith("post:"))
    ran = [r for r in algos if r["algo_id"] in units]
    polls = sum(r["polls"] for r in algos)
    post_s = sum(r["post_end"] - r["post_start"] for r in algos)
    out = layer_metrics(units, per_pass)
    out.update({
        "session.start_s": start_s,
        "session.warm_s": warm_s,
        "operators.build_s": post_s * per_pass,
        "operators.exec_s": sum(r["done"] - r["post_end"] for r in algos) * per_pass,
        "operators.build_jobs": submit_jobs * per_pass,
        "stages.core_util": out["stages.run_s"] / per_pass / (wall * ctx.nproc),
        "plans.final_captured": final_captured([units[r["algo_id"]] for r in ran]),
        "service.submit_jobs": submit_jobs / n,
        "service.jobs_per_algo": sum(units[r["algo_id"]]["jobs"] for r in ran) / n,
        "service.wait_s": statistics.median(
            units[r["algo_id"]]["first_job_ms"] / 1e3 - r["post_end"] for r in ran)
        if ran else 0.0,
        "http_api.polls_per_algo": polls / n,
        # every algorithm ends on exactly one useful (non-202) poll
        "http_api.poll_hit_ratio": n / polls,
        "http_api.result_bytes": statistics.fmean(r["result_bytes"] for r in algos),
        "trace.overhead_s": statistics.median(_rounds(algos)) - untraced_pass_s,
    })
    return out
