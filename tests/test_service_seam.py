"""External-service slot (r4 VERDICT #7): the per-partition batched
callable behind the enrichment stages — bounded concurrency, timeout,
A4 failure rows — driven directly, through Spark with in-process
services, and through Spark against a real localhost HTTP server."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from document_parser_spark.operators.enrich import (
    insert_ocr_after_images,
    translate_spans,
)
from document_parser_spark.operators.service import (
    OCR_FALLBACK_TEXT,
    BatchedService,
    ocr_service_fn,
    translate_service_fn,
)

SPAN_SCHEMA = ("doc_id string, spans array<struct<kind:string,text:string,"
               "media_ref:string,offset:int>>")

ROWS = [
    ("d1", [("text", "before the `first` image", "", 0),
            ("image", "", "m://d1/a", 1),
            ("text", "between images", "", 2),
            ("image", "", "m://d1/b", 3)]),
    ("d2", [("image", "", "m://d2/solo", 0),
            ("table", "a\x1fb\x1ec\x1fd", "", 1)]),
    ("d3", [("text", "no targets here", "", 0)]),
]


def _spans(df):
    return {
        r.doc_id: None if r.spans is None else
        [(s["kind"], s["text"], s["media_ref"], s["offset"])
         for s in r.spans]
        for r in df.collect()
    }


# ---- the slot's own contract (no Spark needed) ----------------------


def test_concurrency_is_bounded():
    lock = threading.Lock()
    live = peak = 0

    def fn(chunk):
        nonlocal live, peak
        with lock:
            live += 1
            peak = max(peak, live)
        time.sleep(0.05)
        with lock:
            live -= 1
        return [c.upper() for c in chunk]

    svc = BatchedService(fn, batch_size=2, concurrency=3)
    results, ok = svc([f"p{i}" for i in range(40)])
    assert results == [f"P{i}" for i in range(40)]
    assert all(ok)
    assert peak <= 3
    assert peak >= 2      # the pool really overlapped calls


def test_failing_batch_becomes_fallback_rows():
    def fn(chunk):
        if any("BOOM" in c for c in chunk):
            raise RuntimeError("service exploded")
        return [c.upper() for c in chunk]

    svc = BatchedService(fn, batch_size=2, fallback="<FAIL>")
    results, ok = svc(["a", "b", "BOOM", "d", "e"])
    # chunks: [a,b] ok, [BOOM,d] failed together, [e] ok
    assert results == ["A", "B", "<FAIL>", "<FAIL>", "E"]
    assert ok == [True, True, False, False, True]


def test_timeout_becomes_fallback_rows():
    def fn(chunk):
        if "slow" in chunk[0]:
            time.sleep(5)
        return [c.upper() for c in chunk]

    svc = BatchedService(fn, batch_size=1, concurrency=2,
                         timeout_s=0.2, fallback="<TIMEOUT>")
    results, ok = svc(["slow one", "fast"])
    assert results == ["<TIMEOUT>", "FAST"]
    assert ok == [False, True]


def test_outage_circuit_breaker_bounds_wall_clock():
    """A full outage (every call hangs) must cost ~concurrency x
    timeout_s, NOT n_chunks x timeout_s — thousands of queued chunks
    each burning a full timeout is the task-hang A4 exists to avoid."""
    hang = threading.Event()   # never set: every call blocks forever

    def fn(chunk):
        hang.wait()
        return chunk

    svc = BatchedService(fn, batch_size=1, concurrency=3,
                         timeout_s=0.2, fallback="<DOWN>")
    t0 = time.monotonic()
    results, ok = svc([f"p{i}" for i in range(50)])
    wall = time.monotonic() - t0
    assert results == ["<DOWN>"] * 50 and ok == [False] * 50
    # 3 lanes x 0.2s timeout = breaker trips ~0.6s; 50 x 0.2s = 10s
    # is the pathology; generous margin for scheduler noise
    assert wall < 3.0


def test_one_hung_lane_does_not_fail_healthy_chunks():
    """A single hung worker holds exactly one chunk; the other lanes
    must drain everything else successfully (the breaker only trips
    on `concurrency` CONSECUTIVE timeouts with no success between)."""
    hang = threading.Event()

    def fn(chunk):
        if chunk[0] == "stuck":
            hang.wait()
        return [c.upper() for c in chunk]

    svc = BatchedService(fn, batch_size=1, concurrency=2,
                         timeout_s=0.5, fallback="<T>")
    payloads = ["stuck"] + [f"ok{i}" for i in range(20)]
    results, ok = svc(payloads)
    assert results[0] == "<T>" and ok[0] is False
    assert results[1:] == [p.upper() for p in payloads[1:]]
    assert all(ok[1:])


def test_sustained_outage_bounds_hung_threads():
    """A sustained outage across MANY calls must not leak one wave of
    abandoned worker threads per call in a long-lived executor worker
    (thread-stack memory + OS thread limits -> the 'can't start new
    thread' task failure A4 exists to avoid). The instance's live
    spawned threads stay capped at max_hung_threads, calls past the
    budget resolve to fallback IMMEDIATELY (no timeout_s burn), and a
    later recovery restores service through the same instance."""
    hang = threading.Event()

    def fn(chunk):
        if not hang.is_set():
            hang.wait()
        return [c.upper() for c in chunk]

    svc = BatchedService(fn, batch_size=1, concurrency=3,
                         timeout_s=0.1, fallback="<DOWN>")
    before = threading.active_count()
    for _ in range(10):                      # 10 calls x 3 lanes
        results, ok = svc(["a", "b", "c", "d"])
        assert results == ["<DOWN>"] * 4 and ok == [False] * 4
    alive = [t for t in svc._spawned if t.is_alive()]
    assert len(alive) <= svc.max_hung_threads == 12
    assert threading.active_count() - before <= svc.max_hung_threads
    # budget exhausted -> zero-lane calls are immediate, not timeout_s
    t0 = time.monotonic()
    results, ok = svc([f"p{i}" for i in range(100)])
    assert results == ["<DOWN>"] * 100 and not any(ok)
    assert time.monotonic() - t0 < 0.5
    # service recovers: hung threads drain, the budget returns
    hang.set()
    for t in alive:
        t.join(timeout=5.0)
    results, ok = svc(["x", "y"])
    assert results == ["X", "Y"] and all(ok)


def test_used_instance_still_pickles_into_a_plan():
    """A service called driver-side first holds live Thread objects in
    its hung-thread ledger; it must still cloudpickle into a
    mapInPandas closure (the ledger is per-process state — each
    executor starts with a fresh budget)."""
    from pyspark import cloudpickle

    def fn(chunk):                          # picklable (no captured
        time.sleep(20)                      # locks) but slow enough to
        return chunk                        # leave its threads alive

    svc = BatchedService(fn, batch_size=1, concurrency=2, timeout_s=0.1)
    svc(["a", "b"])                         # leaves 2 hung threads
    assert any(t.is_alive() for t in svc._spawned)
    clone = cloudpickle.loads(cloudpickle.dumps(svc))
    assert clone._spawned == []
    assert clone.max_hung_threads == svc.max_hung_threads


def test_wrong_length_response_is_a_failure():
    """A response that is not one string per payload fails its chunk:
    too short, a NULL per payload (would blank a translated span), or
    JSON objects (would fail the Arrow write, i.e. the task)."""
    for response in (lambda chunk: ["only one"],
                     lambda chunk: [None] * len(chunk),
                     lambda chunk: [{"text": c} for c in chunk],
                     lambda chunk: [c.upper() for c in chunk[:-1]] + [7]):
        svc = BatchedService(response, batch_size=3, fallback="<BAD>")
        results, ok = svc(["a", "b", "c"])
        assert results == ["<BAD>"] * 3 and ok == [False] * 3


# ---- A4 through Spark: a failing service yields rows, not a crash --


def test_failing_service_through_spark_is_rows(spark):
    def fn(chunk):
        raise RuntimeError("network down")

    docs = spark.createDataFrame(ROWS, SPAN_SCHEMA)
    out = _spans(insert_ocr_after_images(
        docs, BatchedService(fn, batch_size=8)))
    # every OCR splice carries the reference's fixed fallback string
    ocr_texts = [s[1] for spans in out.values() for s in spans
                 if s[0] == "text" and s[1] == OCR_FALLBACK_TEXT]
    assert len(ocr_texts) == 4        # 3 images + 1 table
    assert len(out["d1"]) == 6 and len(out["d3"]) == 1


def test_translate_failure_preserves_source_text(spark):
    """A failed/timed-out/malformed translate batch must KEEP the
    original span text — the in-place rewrite's A4 fallback is
    pass-through, never the service's fixed fallback string (which is
    OCR-error prose and would destroy the document text), never NULL,
    and never a failed task."""
    def fn(chunk):
        if any("boom" in c for c in chunk):
            raise RuntimeError("translator down")
        if any("nulls" in c for c in chunk):
            return [None] * len(chunk)
        if any("json" in c for c in chunk):
            return [{"translated": c} for c in chunk]
        return [c.upper() for c in chunk]

    docs = spark.createDataFrame(
        [("d1", [("text", "boom sentence", "", 0),
                 ("text", "clean sentence", "", 1),
                 ("image", "", "m://x", 2),
                 ("text", "nulls sentence", "", 3),
                 ("heading", "json sentence", "", 4)])], SPAN_SCHEMA)
    got = _spans(translate_spans(docs, BatchedService(fn, batch_size=1)))
    assert got["d1"] == [("text", "boom sentence", "", 0),
                         ("text", "CLEAN SENTENCE", "", 1),
                         ("image", "", "m://x", 2),
                         ("text", "nulls sentence", "", 3),
                         ("heading", "json sentence", "", 4)]


def test_null_spans_pass_through_both_seams(spark):
    """A NULL spans array passes through whole as NULL (never throw,
    A4) in both stages, next to a doc the stage does rewrite."""
    docs = spark.createDataFrame(
        [("dnull", None),
         ("d1", [("image", "", "m://a", 0),
                 ("text", "hello", "", 1)])], SPAN_SCHEMA)
    ocr = _spans(insert_ocr_after_images(
        docs, BatchedService(ocr_service_fn)))
    assert ocr["dnull"] is None
    assert ocr["d1"] == [("image", "", "m://a", 0),
                         ("text", ocr_service_fn(["m://a"])[0], "", 1),
                         ("text", "hello", "", 2)]
    tr = _spans(translate_spans(
        docs, BatchedService(translate_service_fn)))
    assert tr["dnull"] is None
    assert tr["d1"] == [("image", "", "m://a", 0), ("text", "HELLO", "", 1)]


# ---- a real service: a localhost HTTP server behind the slot -------
#
# The client below is what a deployment passes to BatchedService: one
# JSON POST per chunk. Its socket timeout ends a lane the slot has
# abandoned (a hung request) inside the long-lived Python worker.

_HANG_S = 10.0        # a hung request is answered after this, at most
_CLIENT_TIMEOUT_S = 4.0


def _http_service(url: str):
    def fn(chunk):
        import urllib.request

        req = urllib.request.Request(
            url, data=json.dumps(chunk).encode("utf-8"),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req,
                                    timeout=_CLIENT_TIMEOUT_S) as resp:
            return json.loads(resp.read())
    return fn


@pytest.fixture
def http_url():
    """A ThreadingHTTPServer on 127.0.0.1 that upper-cases a JSON list
    of strings. The path picks the behavior: /ok, /slow (0.3 s
    latency), /hang (answers only when the test ends), /error (HTTP
    500), /short (drops the last element)."""
    release = threading.Event()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            body = json.loads(self.rfile.read(
                int(self.headers["Content-Length"])))
            if self.path == "/slow":
                time.sleep(0.3)
            elif self.path == "/hang":
                release.wait(_HANG_S)
            if self.path == "/error":
                self.send_error(500, "translator exploded")
                return
            out = [t.upper() for t in body]
            if self.path == "/short":
                out = out[:-1]
            data = json.dumps(out).encode("utf-8")
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    serving = threading.Thread(target=server.serve_forever, daemon=True)
    serving.start()
    try:
        yield f"http://127.0.0.1:{server.server_address[1]}"
    finally:
        release.set()
        server.shutdown()
        server.server_close()
        serving.join(timeout=5.0)


HTTP_ROWS = [
    ("h1", [("text", "one `tick`", "", 0), ("image", "", "m://h1", 1),
            ("table", "a\x1fb", "", 2)]),
    ("h2", [("heading", "two", "", 0)] + [
        ("text", f"line {i}", "", i + 1) for i in range(24)]),
]


@pytest.mark.parametrize("path", ["/ok", "/slow"])
def test_http_service_answers_through_spark(spark, http_url, path):
    """A normal response, and one slower than nothing but well under
    timeout_s: every span is rewritten by the server."""
    docs = spark.createDataFrame(HTTP_ROWS, SPAN_SCHEMA)
    svc = BatchedService(_http_service(http_url + path), batch_size=4,
                         timeout_s=5.0)
    tr = _spans(translate_spans(docs, svc))
    assert tr["h1"] == [("text", "ONE `TICK`", "", 0),
                        ("image", "", "m://h1", 1),
                        ("table", "A\x1fB", "", 2)]
    assert [s[1] for s in tr["h2"]] == (
        ["TWO"] + [f"LINE {i}" for i in range(24)])
    ocr = _spans(insert_ocr_after_images(docs, svc))
    assert ocr["h1"] == [("text", "one `tick`", "", 0),
                         ("image", "", "m://h1", 1),
                         ("text", "M://H1", "", 2),
                         ("table", "a\x1fb", "", 3),
                         ("text", "A\x1fB", "", 4)]


@pytest.mark.parametrize("path", ["/hang", "/error", "/short"])
def test_http_service_failure_through_spark(spark, http_url, path):
    """A hang past timeout_s, an HTTP 500 and a short response: OCR
    splices the fallback string, translation keeps the source text,
    no task fails, and a hung server costs the breaker's bound
    (~concurrency x timeout_s per batch), not one timeout per chunk
    (25 chunks x 1 s for h2)."""
    docs = spark.createDataFrame(HTTP_ROWS, SPAN_SCHEMA)
    svc = BatchedService(_http_service(http_url + path), batch_size=1,
                         concurrency=2, timeout_s=1.0)
    t0 = time.monotonic()
    tr = _spans(translate_spans(docs, svc))
    wall = time.monotonic() - t0
    assert tr == dict(HTTP_ROWS)
    ocr = _spans(insert_ocr_after_images(docs, svc))
    assert [s[1] for s in ocr["h1"]] == [
        "one `tick`", "", OCR_FALLBACK_TEXT, "a\x1fb", OCR_FALLBACK_TEXT]
    if path == "/hang":
        assert wall < 12.0
