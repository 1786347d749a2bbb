"""The external-service slot of the enrichment stages.

The reference calls live services per element with bounded concurrency:
the VLM image parser runs its requests through a concurrency=3 slot
(image_parser.py:86) and the translator serializes calls behind a
semaphore (translator/v1/service.py:27). This module is that boundary
re-expressed for Spark: a **per-partition batched callable** with
bounded concurrency, a timeout, and the A4 failure posture (an
errored, timed-out or malformed batch yields fallback rows, never a
task failure).

Hermeticity (SURVEY §7.0) is preserved: nothing here does IO. The
deterministic stubs (``ocr_service_fn``, ``translate_service_fn``)
are what ``plans.pipeline.extract`` wires into the slot; the
enrichment stages (``operators.enrich.insert_ocr_after_images`` /
``translate_spans``) take the :class:`BatchedService` as an argument,
so a deployment passes one around an HTTP batch call instead and
touches nothing else: batching, concurrency bound and failure
semantics all live on this side of the slot.

Scale notes: the service call runs INSIDE the executor task (one
thread pool per Arrow batch, ``concurrency`` in-flight chunks), so
total in-flight requests across the cluster = partitions x
concurrency — size partitions to the service's rate limit, exactly
the knob the reference's semaphore provides per process.
"""

from __future__ import annotations

import hashlib
import queue
import threading
from typing import Callable, Sequence

OCR_PREFIX = "[ocr:"
# The reference's OCR failure semantics (image_parser.py:174-182): a
# generic exception during per-element image parsing yields a FIXED
# fallback string spliced into the document (not an empty string, not
# a failure row). Ours is English; the reference's is Russian prose.
OCR_FALLBACK_TEXT = "*image parsing hit a network delay*"


class BatchedService:
    """A bounded-concurrency, timeout-guarded batch-call slot.

    ``fn``: the service — takes a list of payload strings, returns the
    same-length list of result strings. Called on chunks of ``batch_size``
    payloads, at most ``concurrency`` chunks in flight (DAEMON worker
    threads per call — requests overlap IO exactly like the
    reference's concurrency=3 VLM slot, and a hung call can never
    block Python-worker exit the way concurrent.futures' atexit join
    would). A chunk whose call raises or exceeds ``timeout_s``
    (or answers with the wrong length or a non-``str`` element)
    resolves to ``fallback`` for every payload in it and is reported
    failed — the A4 posture (the reference splices a fixed fallback
    string on OCR errors, image_parser.py:174-182).

    Outage circuit-breaker: as many consecutive chunk timeouts as
    there are lanes with no success in between means every lane is
    hung or the service is down — the remaining chunks resolve to
    fallback IMMEDIATELY instead of each burning its own ``timeout_s``
    (an Arrow batch can hold thousands of chunks; without the breaker
    one outage turns a task into n_chunks x timeout_s of wall clock).
    Worst-case wall for a full outage: ~concurrency x timeout_s.

    Hung-thread bound: abandoned workers (a timed-out ``fn`` call
    never returning) stay alive inside a long-lived executor worker,
    so a sustained outage across MANY calls must not accumulate one
    wave of threads per call. The instance tracks its still-alive
    spawned threads and refuses to spawn past ``max_hung_threads``
    (default 4x concurrency): with no lane budget left a call resolves
    straight to fallback (zero new threads, zero extra wall), and the
    budget returns automatically when hung calls eventually die.
    """

    def __init__(self, fn: Callable[[list[str]], Sequence[str]],
                 batch_size: int = 32, concurrency: int = 3,
                 timeout_s: float = 30.0,
                 fallback: str = OCR_FALLBACK_TEXT,
                 max_hung_threads: int | None = None) -> None:
        if batch_size < 1 or concurrency < 1:
            raise ValueError("batch_size and concurrency must be >= 1")
        self.fn = fn
        self.batch_size = batch_size
        self.concurrency = concurrency
        self.timeout_s = timeout_s
        self.fallback = fallback
        self.max_hung_threads = (4 * concurrency if max_hung_threads is None
                                 else max_hung_threads)
        self._spawned: list[threading.Thread] = []

    def __getstate__(self):
        # the hung-thread ledger is per-process state: Thread objects
        # don't pickle, and a service instance used driver-side first
        # must still cloudpickle into a mapInPandas closure — each
        # executor process starts with a fresh budget
        state = self.__dict__.copy()
        state["_spawned"] = []
        return state

    def __call__(self, payloads: list[str]) -> tuple[list[str], list[bool]]:
        """-> (results, ok flags), positionally aligned with payloads."""
        if not payloads:
            return [], []
        chunks = [payloads[i:i + self.batch_size]
                  for i in range(0, len(payloads), self.batch_size)]
        buf: list[Sequence[str] | None] = [None] * len(chunks)
        done = [threading.Event() for _ in chunks]
        todo: queue.SimpleQueue = queue.SimpleQueue()
        for i in range(len(chunks)):
            todo.put(i)
        halted = threading.Event()

        def worker() -> None:
            while not halted.is_set():
                try:
                    i = todo.get_nowait()
                except queue.Empty:
                    return
                try:
                    res = list(self.fn(chunks[i]))
                    # a malformed response (None for a text, a JSON
                    # object) would otherwise reach the Arrow writer
                    # and fail the task, or blank a translated span
                    if (len(res) != len(chunks[i])
                            or not all(isinstance(r, str) for r in res)):
                        raise ValueError("malformed service response")
                    buf[i] = res
                except Exception:
                    buf[i] = None
                done[i].set()

        # hung-thread budget: prune finished waves, then spawn only
        # what fits under max_hung_threads (0 lanes = immediate-outage
        # posture: everything below resolves to fallback without
        # burning timeout_s, because no done[i] will ever be set and
        # lanes == 0 trips the breaker on the first wait)
        self._spawned = [t for t in self._spawned if t.is_alive()]
        budget = max(0, self.max_hung_threads - len(self._spawned))
        lanes = min(self.concurrency, len(chunks), budget)
        for _ in range(lanes):
            t = threading.Thread(target=worker, daemon=True)
            t.start()
            self._spawned.append(t)

        results: list[str] = []
        ok: list[bool] = []
        timeout_streak = 0
        outage = lanes == 0
        for i, chunk in enumerate(chunks):
            res = None
            if not outage:
                if done[i].wait(timeout=self.timeout_s):
                    res = buf[i]
                    timeout_streak = 0
                else:
                    # the worker holding this chunk is hung; it will
                    # never pick another chunk, so `lanes`
                    # consecutive timeouts = every lane gone
                    timeout_streak += 1
                    if timeout_streak >= lanes:
                        outage = True
                        halted.set()
            if res is not None:
                results += res
                ok += [True] * len(chunk)
            else:
                results += [self.fallback] * len(chunk)
                ok += [False] * len(chunk)
        halted.set()
        return results, ok


def ocr_service_fn(payloads: list[str]) -> list[str]:
    """Deterministic stub VLM: ``OCR_PREFIX`` + sha256(seed)[:12] +
    ']' (content-seeded, so golden tests are stable; never empty, so
    the reference's P4 empty-output guard never fires)."""
    return [OCR_PREFIX + hashlib.sha256(p.encode("utf-8")).hexdigest()[:12]
            + "]" for p in payloads]


def translate_service_fn(payloads: list[str]) -> list[str]:
    """Deterministic stub translator: uppercase (so goldens can see
    the stage ran), then the F7 backtick sanitization
    (translator/v1/service.py:99: translated.replace('`', '*'))."""
    return [p.upper().replace("`", "*") for p in payloads]
