"""HTTP and TCS sinks against a local server: the request bodies pinned
by digest, their independence from the process time zone, the TCS
headers, retry/backoff, and the plan an HTTP generate runs.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from sdvg_spark.jobs import run_generate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every value type a row dict can carry: ints of each width, float32/64,
# µs and ns (bigint) datetimes, strings, uuids, an enum holding None
# and a nullable column
_COLUMNS = [
    *({"name": f"i{w}", "type": "integer", "type_params": {"bit_width": w}} for w in (8, 16, 32, 64)),
    {"name": "f32", "type": "float", "type_params": {"bit_width": 32, "from": -5, "to": 5}},
    {"name": "f64", "type": "float", "type_params": {"bit_width": 64}, "null_percentage": 0.3},
    {"name": "ts", "type": "datetime"},
    {"name": "ts_ns", "type": "datetime", "type_params": {"unit": "ns"}},
    {"name": "s", "type": "string", "type_params": {"min_length": 2, "max_length": 9}},
    {"name": "u", "type": "uuid"},
    {"name": "e", "type": "string", "values": ["a", None, "b"]},
]

# 1000 rows over 4 tasks is 250 a task: 4 requests of 60 rows and one
# of 10; Arrow batches of 45 rows put most requests across two batches
PINNED_CONFIG = {
    "random_seed": 31,
    "output": {"type": "http", "batch_size": 60},
    "models": {"t": {"rows_count": 1000, "columns": _COLUMNS}},
}
PINNED_DIGEST = "1ff72c7982a2fad9"

_SCRIPT = r"""
import json, sys, threading
from http.server import BaseHTTPRequestHandler, HTTPServer

from sdvg_spark.jobs import run_generate
from sdvg_spark.session import get_spark

raw, out_path = json.loads(sys.argv[1]), sys.argv[2]
bodies = []

class H(BaseHTTPRequestHandler):
    def do_POST(self):
        bodies.append(self.rfile.read(int(self.headers["Content-Length"])).decode())
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):
        pass

srv = HTTPServer(("127.0.0.1", 0), H)
threading.Thread(target=srv.serve_forever, daemon=True).start()
raw["output"]["endpoint"] = f"http://127.0.0.1:{srv.server_port}/ingest"
spark = get_spark(app_name="sdvg-http-tz", master="local[4]")
spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "45")
try:
    run_generate(raw, spark=spark)
finally:
    srv.shutdown()
    spark.stop()
with open(out_path, "w") as f:
    json.dump(sorted(bodies), f)
"""


def _bodies_under(tz: str, tmp_path) -> list[str]:
    """The sorted request bodies of the pinned generate, run in a fresh
    process (its own Spark session and Python workers) under ``TZ``."""
    out = tmp_path / f"bodies-{tz.replace('/', '_')}.json"
    env = {**os.environ, "TZ": tz, "SPARK_DRIVER_MEMORY": "1g",
           "PYTHONPATH": os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, json.dumps(PINNED_CONFIG), str(out)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(out.read_text())


@pytest.fixture(scope="module")
def utc_bodies(tmp_path_factory):
    return _bodies_under("UTC", tmp_path_factory.mktemp("utc"))


def test_pinned_request_bodies(utc_bodies):
    """The multiset of bodies of a generate that covers every value type
    is pinned: 4 tasks, requests that do not divide a task's rows, and
    Arrow batches smaller than a request."""
    rows = [json.loads(b)["rows"] for b in utc_bodies]
    assert sorted(map(len, rows)) == [10] * 4 + [60] * 16
    assert list(rows[0][0]) == [c["name"] for c in _COLUMNS]
    digest = hashlib.sha256("\n".join(utc_bodies).encode()).hexdigest()[:16]
    assert digest == PINNED_DIGEST


def test_bodies_do_not_follow_the_process_time_zone(utc_bodies, tmp_path):
    """Datetimes are posted in UTC whatever the TZ of the process and of
    its Python workers."""
    assert _bodies_under("Asia/Tokyo", tmp_path) == utc_bodies


class _Server:
    """A local endpoint recording each request's headers (names lower
    cased), JSON body and answer; ``status(i)`` answers the i-th."""

    def __init__(self, status=lambda i: 200):
        self.requests: list[tuple[dict, dict, int]] = []
        lock = threading.Lock()
        outer = self

        class H(BaseHTTPRequestHandler):
            def do_POST(self):
                body = self.rfile.read(int(self.headers["Content-Length"]))
                with lock:
                    code = status(len(outer.requests))
                    headers = {k.lower(): v for k, v in self.headers.items()}
                    outer.requests.append((headers, json.loads(body), code))
                self.send_response(code)
                self.end_headers()

            def log_message(self, *a):
                pass

        self.srv = HTTPServer(("127.0.0.1", 0), H)
        self.url = f"http://127.0.0.1:{self.srv.server_port}/ingest"

    def __enter__(self):
        threading.Thread(target=self.srv.serve_forever, daemon=True).start()
        return self

    def __exit__(self, *exc):
        self.srv.shutdown()
        self.srv.server_close()


def _cfg(url, out_type="http", rows=300, **out_extra):
    return {
        "random_seed": 5,
        "output": {"type": out_type, "endpoint": url, **out_extra},
        "models": {"t": {"rows_count": rows, "columns": [
            {"name": "k", "type": "integer",
             "type_params": {"bit_width": 64, "from": 1, "to": rows}, "ordered": True},
            {"name": "v", "type": "string", "values": ["x", "y"]},
        ]}},
    }


def test_tcs_request_headers_and_body(spark):
    with _Server() as srv:
        run_generate(_cfg(srv.url, "tcs", batch_size=70, timeout_seconds=2.5,
                          headers={"X-User": "abc"}), spark=spark)
    assert srv.requests
    for headers, body, _ in srv.requests:
        assert headers["x-tcs-timeout_ms"] == "2500"
        assert headers["content-type"] == "application/json"
        assert headers["x-user"] == "abc"
        assert set(body) == {"table_name", "rows"} and body["table_name"] == "t"
        assert 0 < len(body["rows"]) <= 70
    assert sorted(r["k"] for _, b, _ in srv.requests for r in b["rows"]) == list(range(1, 301))


def test_http_retries_a_503_with_backoff(spark):
    """The first request is answered 503 and posted again: every row
    arrives once among the accepted requests."""
    with _Server(lambda i: 503 if i == 0 else 200) as srv:
        run_generate(_cfg(srv.url, batch_size=40, timeout_seconds=10), spark=spark)
    accepted = [b["rows"] for _, b, code in srv.requests if code == 200]
    assert srv.requests[0][2] == 503 and all(len(r) <= 40 for r in accepted)
    assert sorted(r["k"] for rows in accepted for r in rows) == list(range(1, 301))


def test_http_gives_up_past_the_timeout(spark):
    with _Server(lambda i: 503) as srv, pytest.raises(Exception):
        run_generate(_cfg(srv.url, timeout_seconds=0.5), spark=spark)


def test_http_plan_posts_from_the_generating_task(spark, monkeypatch):
    """An HTTP generate hands its write one record per task, made by one
    MapInArrow: no value crosses to the JVM and nothing shuffles."""
    import sdvg_spark.sinks.writers as W

    seen = []
    write_model = W.write_model

    def spy(spark, df, *a, **k):
        seen.append(df)
        return write_model(spark, df, *a, **k)

    monkeypatch.setattr(W, "write_model", spy)
    with _Server() as srv:
        run_generate(_cfg(srv.url, batch_size=1000), spark=spark)
    (df,) = seen
    assert df.columns == ["rows", "requests"]
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert len(re.findall(r"^\(\d+\) MapInArrow\b", plan, re.M)) == 1
    assert "Exchange" not in plan
    # one request a task: 4 tasks of 75 rows
    assert sorted(len(b["rows"]) for _, b, _ in srv.requests) == [75] * 4


def test_http_write_raises_when_rows_are_missing(spark):
    """The driver step of an HTTP write checks the tasks' records against
    the model's row range."""
    from sdvg_spark.config.model import parse_config
    from sdvg_spark.sinks.writers import write_model

    cfg = parse_config(_cfg("http://127.0.0.1:9/unused"))
    records = spark.createDataFrame([(120, 2), (150, 3)], "rows long, requests long")
    with pytest.raises(RuntimeError, match="posted 270 of 300 rows"):
        write_model(spark, records, cfg.models["t"], cfg.output)
