"""S4 parse fallback, P8 preflight, and the U2 LLM-as-UDF seam."""

from __future__ import annotations

import json

import pytest

from unified_ocr_pipeline_spark.kernels import document as D
from unified_ocr_pipeline_spark.kernels import pdf_layout as PL


# ---------------------------------------------------------------------------
# S4 — strict → lenient backend fallback
# ---------------------------------------------------------------------------

def test_parse_with_backend_prefers_strict():
    payload = PL.render_pages([[(0, 0, "hello world"), (40, 0, "second block")]])
    pages, images, backend = PL.parse_with_backend(payload)
    assert backend == "syn-strict"
    assert pages == ["hello world\nsecond block"]
    assert images == [0]


def test_parse_fallback_on_malformed_coordinates():
    # 'B xx yy' breaks the strict parser's int() — the lenient backend
    # still recovers the text lines
    payload = b"%PDF-SYN1\nP 1\nB xx yy\nhello recovered\nE\nB 0 0\nmore text\nE"
    with pytest.raises(ValueError):
        PL.parse_pages(payload)
    pages, images, backend = PL.parse_with_backend(payload)
    assert backend == "syn-lenient"
    assert pages == ["hello recovered\nmore text"]
    assert images == [0]


def test_parse_fallback_on_undecodable_bytes():
    payload = b"%PDF-SYN1\nP 1\nB 0 0\nok line \xff\xfe\nE"
    pages, images, backend = PL.parse_with_backend(payload)
    assert backend == "syn-lenient"
    assert pages and "ok line" in pages[0]


def test_image_records_counted_both_backends():
    """P2/A2: 'I y x n_bytes' records count per page, strict and lenient."""
    payload = PL.render_pages(
        [[(0, 0, "page one text")], [(0, 0, "page two text")]],
        images=[[(5, 3, 1000), (12, 3, 1037)], []],
    )
    pages, images = PL.parse_pages_with_images(payload)
    assert pages == ["page one text", "page two text"]
    assert images == [2, 0]
    lpages, limages = PL.parse_pages_lenient_with_images(payload)
    assert limages == [2, 0]

    from unified_ocr_pipeline_spark.kernels.document import process_document

    r = process_document("u://img", payload, None)
    assert r.total_images == 2 and r.image_counts == [2, 0]


def test_lenient_keeps_physical_order_no_layout():
    # shuffled blocks: strict restores reading order, lenient keeps
    # physical order (the degraded-capability contract)
    payload = PL.render_pages([[(40, 0, "below"), (0, 0, "above")]])
    assert PL.parse_pages(payload) == ["above\nbelow"]
    assert PL.parse_pages_lenient(payload) == ["below\nabove"]


def test_process_document_uses_fallback():
    payload = b"%PDF-SYN1\nP 1\nB bad coords\nPurchase Order 4551234567\nE"
    r = D.process_document("u://x", payload, None)
    assert r.status == D.STATUS_OK
    assert r.po_number == "4551234567"
    assert "Purchase Order" in r.extracted_text


def test_probe_backends():
    assert PL.probe_backends() == ["syn-strict", "syn-lenient"]


# ---------------------------------------------------------------------------
# P8 — preflight health check
# ---------------------------------------------------------------------------

def test_health_check_healthy_without_input():
    from unified_ocr_pipeline_spark.plans.preflight import health_check

    rep = health_check()
    assert rep["status"] == "healthy", rep["problems"]
    assert rep["pdf_backends"] == ["syn-strict", "syn-lenient"]
    assert all(v == "available" for v in rep["kernels"].values())
    assert all(v == "available" for v in rep["dependencies"].values())


def test_health_check_validates_input_schema(spark, tmp_path):
    from unified_ocr_pipeline_spark.plans.preflight import (
        PreflightError,
        health_check,
        require_healthy,
    )
    from unified_ocr_pipeline_spark.sources.fixtures import write_pages_parquet

    good = str(tmp_path / "good")
    write_pages_parquet(good, 20, seed=3)
    rep = health_check(spark, good)
    assert rep["status"] == "healthy", rep["problems"]
    assert rep["input"]["columns"]["url"] == "string"

    # wrong schema → unhealthy with a named problem, and require raises
    bad = str(tmp_path / "bad")
    spark.createDataFrame([(1, "x")], "id long, body string").write.parquet(bad)
    rep_bad = health_check(spark, bad)
    assert rep_bad["status"] == "unhealthy"
    assert any("url" in p for p in rep_bad["problems"])
    with pytest.raises(PreflightError):
        require_healthy(spark, bad)

    # unreadable path → unhealthy, not an exception
    rep_missing = health_check(spark, str(tmp_path / "nope"))
    assert rep_missing["status"] == "unhealthy"


def test_pipeline_run_preflight_gate(spark, tmp_path):
    from unified_ocr_pipeline_spark.plans.pipeline import ExtractionPipeline
    from unified_ocr_pipeline_spark.plans.preflight import PreflightError

    bad = str(tmp_path / "badpages")
    spark.createDataFrame([(1, "x")], "id long, body string").write.parquet(bad)
    pipe = ExtractionPipeline(
        spark, str(tmp_path / "out"), num_buckets=8, salt_factor=4
    )
    with pytest.raises(PreflightError):
        pipe.run(bad)
    # an unreadable input fails the same gate, with the full report
    with pytest.raises(PreflightError) as exc:
        pipe.run(str(tmp_path / "nope"))
    assert any("input unreadable" in p for p in exc.value.report["problems"])


# ---------------------------------------------------------------------------
# U2 — LLM-as-UDF seam (stubbed client, real plumbing)
# ---------------------------------------------------------------------------

def test_llm_extract_stub_deterministic(spark):
    from unified_ocr_pipeline_spark.operators.llm import llm_extract

    df = spark.createDataFrame(
        [
            (1, "Purchase Order 4551234567 Production Order: 99887766"),
            (2, "no po content here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in llm_extract(df, "doc_id", "text").collect()}
    assert rows[1]["ok"] and rows[1]["attempts"] == 1
    rec = json.loads(rows[1]["response"])
    assert rec["Whittaker_Shipper"] == "4551234567"
    assert rec["MJO_NO"] == "99887766"
    # deterministic across runs
    again = {r["id"]: r["response"] for r in llm_extract(df, "doc_id", "text").collect()}
    assert again == {i: rows[i]["response"] for i in rows}


def test_llm_extract_retries_and_quarantines(spark):
    from unified_ocr_pipeline_spark.operators import llm as L

    def flaky_factory():
        state = {"n": 0}

        def _call(prompt):
            state["n"] += 1
            if "fail-always" in prompt:
                raise RuntimeError("model down")
            if state["n"] % 2 == 1:  # fail every first attempt per row pair
                raise TimeoutError("slow")
            return {"echo": prompt[:10]}

        return _call

    df = spark.createDataFrame(
        [(1, "retry me please"), (2, "fail-always payload")],
        "doc_id long, text string",
    ).coalesce(1)
    rows = {
        r["id"]: r
        for r in L.llm_extract(
            df, "doc_id", "text", client_factory=flaky_factory, max_retries=2
        ).collect()
    }
    assert rows[1]["ok"] and rows[1]["attempts"] == 2          # retried once
    assert not rows[2]["ok"] and rows[2]["attempts"] == 3      # exhausted
    assert "RuntimeError" in rows[2]["error"]
    assert rows[2]["response"] is None


def test_llm_extract_truncates_input(spark):
    from unified_ocr_pipeline_spark.operators import llm as L

    seen = {}

    def probe_factory():
        def _call(prompt):
            return {"len": len(prompt)}

        return _call

    df = spark.createDataFrame([(1, "x" * 10000)], "doc_id long, text string")
    out = L.llm_extract(
        df, "doc_id", "text", client_factory=probe_factory, max_chars=6000
    ).first()
    assert json.loads(out["response"])["len"] == 6000


# ---------------------------------------------------------------------------
# Real HTTP client against a live (localhost) Ollama-protocol endpoint
# ---------------------------------------------------------------------------

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _OllamaHandler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive, so pooling is observable

    def setup(self):
        super().setup()
        with self.server.lock:
            self.server.n_connections += 1

    def _send(self, code, obj):
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/api/tags":
            self._send(200 if not self.server.dead_probe else 404,
                       {"models": [{"name": "stub"}]})
        else:
            self._send(404, {})

    def do_POST(self):
        n = int(self.headers.get("Content-Length", 0))
        req = json.loads(self.rfile.read(n).decode())
        with self.server.lock:
            self.server.n_generates += 1
        if self.server.fail_json_format and "format" in req:
            self._send(500, {"error": "boom"})  # ref :997 — 5xx on format
            return
        # deterministic 'model': echo a record derived from the prompt
        rec = {"vendor": f"V{len(req['prompt'])}", "model": req["model"]}
        self._send(200, {"response": json.dumps(rec), "done": True})

    def log_message(self, *a):  # quiet
        pass


def _server(**flags):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _OllamaHandler)
    srv.lock = threading.Lock()
    srv.n_connections = 0
    srv.n_generates = 0
    srv.dead_probe = flags.get("dead_probe", False)
    srv.fail_json_format = flags.get("fail_json_format", False)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv, f"http://127.0.0.1:{srv.server_address[1]}"


def test_http_client_live_endpoint_through_spark(spark):
    """The REAL network path: Spark workers -> persistent HTTP/1.1
    connection -> live localhost endpoint speaking the reference's
    Ollama protocol (probe, generate, JSON response field)."""
    from unified_ocr_pipeline_spark.operators import llm as L

    srv, url = _server()
    try:
        df = spark.createDataFrame(
            [(i, f"doc body {i} " + "x" * i) for i in range(8)],
            "doc_id long, text string",
        ).repartition(2)
        rows = L.llm_extract(
            df, "doc_id", "text",
            client_factory=lambda: L.http_client(url, model="m1"),
        ).collect()
        assert len(rows) == 8 and all(r["ok"] for r in rows)
        for r in rows:
            rec = json.loads(r["response"])
            assert rec["model"] == "m1" and rec["vendor"].startswith("V")
        assert srv.n_generates == 8
        # connection POOLING: one persistent connection per worker, not
        # per row — far fewer connections than generate calls
        assert srv.n_connections < srv.n_generates
    finally:
        srv.shutdown()


def test_http_client_5xx_retries_without_json_format():
    from unified_ocr_pipeline_spark.operators import llm as L

    srv, url = _server(fail_json_format=True)
    try:
        client = L.http_client(url, model="m1")
        rec = client("hello")
        assert rec["vendor"]  # succeeded via the no-format retry
        assert srv.n_generates == 2  # failed format call + bare retry
    finally:
        srv.shutdown()


def test_http_client_probe_fails_fast():
    from unified_ocr_pipeline_spark.operators import llm as L

    srv, url = _server(dead_probe=True)
    try:
        with pytest.raises(ConnectionError, match="probe failed"):
            L.http_client(url)
    finally:
        srv.shutdown()


def test_http_client_rejects_bad_urls():
    from unified_ocr_pipeline_spark.operators import llm as L

    for bad in ("ftp://h:1/x", "//h", "justahost", ""):
        with pytest.raises(ValueError):
            L.http_client(bad)


class _FakeConn:
    """Stand-in http(s) connection: records requests, optionally fails
    the next one with a stale-socket error, always answers 200/JSON."""

    instances = []

    def __init__(self, host, port, timeout=None):
        self.host, self.port = host, port
        self.requests = []
        self.fail_next = False
        _FakeConn.instances.append(self)

    def request(self, method, path, body=None, headers=None):
        self.requests.append((method, path))
        if self.fail_next:
            self.fail_next = False
            raise ConnectionResetError("stale keep-alive socket")

    def getresponse(self):
        class _R:
            status = 200

            @staticmethod
            def read():
                return json.dumps({"response": "{\"vendor\": \"V\"}"}).encode()

        return _R()

    def close(self):
        pass


def test_http_client_https_scheme_selects_tls_connection(monkeypatch):
    """An https:// base_url must work (TLS-terminated reverse proxy is
    the normal model-endpoint deployment) via HTTPSConnection:443."""
    import http.client

    from unified_ocr_pipeline_spark.operators import llm as L

    _FakeConn.instances.clear()
    monkeypatch.setattr(http.client, "HTTPSConnection", _FakeConn)
    client = L.http_client("https://model.example/ollama", model="m1")
    conn = _FakeConn.instances[-1]
    assert (conn.host, conn.port) == ("model.example", 443)
    assert conn.requests[0] == ("GET", "/ollama/api/tags")
    assert client("hi")["vendor"] == "V"


def test_http_client_stale_socket_replays_get_not_post(monkeypatch):
    """Reconnect-and-replay is GET-only: a dropped POST /api/generate may
    already have executed server-side, so it surfaces to llm_extract's
    row-level retry instead of silently generating twice."""
    import http.client

    from unified_ocr_pipeline_spark.operators import llm as L

    _FakeConn.instances.clear()
    monkeypatch.setattr(http.client, "HTTPConnection", _FakeConn)

    # GET (idempotent): stale socket -> reconnect and replay succeeds
    class _FailFirstConn(_FakeConn):
        def __init__(self, host, port, timeout=None):
            super().__init__(host, port, timeout)
            self.fail_next = True  # first request (the probe GET) dies

    monkeypatch.setattr(http.client, "HTTPConnection", _FailFirstConn)
    L.http_client("http://h:1234", model="m1")  # probe survives via replay
    get_conn = _FakeConn.instances[-1]
    assert [m for m, _ in get_conn.requests] == ["GET", "GET"]

    # POST (non-idempotent): stale socket -> raises, NO blind replay
    monkeypatch.setattr(http.client, "HTTPConnection", _FakeConn)
    client = L.http_client("http://h:1234", model="m1")
    conn = _FakeConn.instances[-1]
    conn.requests.clear()
    conn.fail_next = True
    with pytest.raises(ConnectionError):
        client("will-fail")
    assert [m for m, _ in conn.requests] == ["POST"]
    # llm_extract quarantines exactly this: a factory-made client raising
    # on a row yields ok=false after bounded row-level attempts.


def test_http_client_keeps_reverse_proxy_path_prefix():
    from unified_ocr_pipeline_spark.operators import llm as L

    srv, url = _server()
    try:
        # handler answers under the bare paths; point the client at a
        # prefix and watch the request land prefixed -> 404 -> probe
        # error proves the prefix was SENT (not silently dropped)
        with pytest.raises(ConnectionError, match="probe failed"):
            L.http_client(url + "/ollama")
        # and the un-prefixed client still probes fine
        assert L.http_client(url)("hi")["vendor"]
    finally:
        srv.shutdown()
