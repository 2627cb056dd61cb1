"""Span tracing around the program's public calls, installed from the
benchmark's own files (the program itself carries no tracing).

A span records (name, start, end, parent, trace id). Spans nest per
thread; a span with no open parent starts a new trace id that its
children share. Spans stay in memory and are written out once, at the
end of the run.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        # (id, name, start, end, parent, trace, int result or None)
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            sid = next(tracer._ids)
            parent, trace = (stack[-1] if stack else (None, sid))
            stack.append((sid, trace))
            result = None
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.perf_counter()
                stack.pop()
                value = result if type(result) is int else None
                with tracer._lock:
                    tracer.spans.append((sid, name, t0, t1, parent, trace, value))

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace a module function or a class's method ``owner.attr``
        with a traced wrapper (undone by ``uninstall``); a wrapped method
        still receives ``self``."""
        original = getattr(owner, attr)
        setattr(owner, attr, self.wrap(name, original))
        self._patches.append((owner, attr, original))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    # -- analysis -----------------------------------------------------------

    def totals(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds (the
        span's duration minus the part its direct children cover)."""
        child_time: dict[int, float] = defaultdict(float)
        with self._lock:
            spans = list(self.spans)
        for sid, _n, t0, t1, parent, _t, _v in spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                                                    "durations_ms": [], "values": []})
        for sid, name, t0, t1, _p, _t, value in spans:
            o = out[name]
            o["calls"] += 1
            o["total_s"] += t1 - t0
            o["self_s"] += max(0.0, (t1 - t0) - child_time.get(sid, 0.0))
            o["durations_ms"].append((t1 - t0) * 1000.0)
            if value is not None:
                o["values"].append(value)
        return out

    def dump(self, path: str) -> None:
        with self._lock:
            spans = list(self.spans)
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, trace, _v in spans:
                f.write(json.dumps({"id": sid, "name": name, "start": t0, "end": t1,
                                    "parent": parent, "trace": trace}) + "\n")

    @staticmethod
    def per_span_cost() -> float:
        """Seconds one span adds to a call, measured on a no-op."""
        n = 20000
        t = Tracer()
        noop = t.wrap("noop", lambda: None)
        t0 = time.perf_counter()
        for _ in range(n):
            noop()
        traced = time.perf_counter() - t0

        def bare():
            return None

        t0 = time.perf_counter()
        for _ in range(n):
            bare()
        return max(0.0, (traced - (time.perf_counter() - t0)) / n)


# Public calls wrapped in a traced run: (module, owner attr path, span name).
TARGETS = (
    ("hstream_spark.streaming.runtime", "HStreamEngine.execute", "engine.execute"),
    ("hstream_spark.plans.parser", "parse", "plans.parse"),
    ("hstream_spark.streaming.runtime", "parse", "plans.parse"),
    ("hstream_spark.plans.compiler", "compile_select", "plans.compile"),
    ("hstream_spark.streaming.runtime", "compile_select", "plans.compile"),
    ("hstream_spark.sources.connectors", "KafkaIngestTailer.poll", "kafka.poll"),
    ("hstream_spark.sources.kafka_wire", "KafkaClient.fetch_records_multi", "kafka.fetch"),
    ("hstream_spark.sources.kafka_wire", "decode_record_batches_ex", "kafka.decode"),
    ("hstream_spark.sources.kafka_wire", "crc32c", "kafka.crc"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.collect"),
)


def install(tracer: Tracer) -> None:
    import importlib

    for module, path, name in TARGETS:
        owner = importlib.import_module(module)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        tracer.patch(owner, attr, name)
