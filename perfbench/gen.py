"""Open-loop load generator for the ``stream_serve`` workload.

Runs as its own process, started by ``run.py``, and hosts a
``KafkaStubBroker``: the external Kafka the engine tails. It talks to the
harness only through small JSON files in ``--run-dir``:

    ready.json   written by the generator: broker address, once every
                 setup repetition's topic is primed
    go           written by the harness: start the fixed-rate phase
    done.json    written by the generator: its schedule, lateness and
                 consumer lag
    burst<i>     written by the harness: send burst i
    burst<i>.json
                 written by the generator: burst i's start and size;
                 the last one once every event is in ``events.parquet``
    stop         written by the harness: close the broker and exit

Events are JSON records produced with ``KafkaClient.produce``, one or
more batches per send, sends round-robin over the topic's partitions.
They are a pure function of ``--seed`` and their sequence number:
``event_id`` counts up, ``user_id`` is Zipf-skewed, and a fixed share of
events carry an event time (the Kafka record timestamp) up to
``ooo_max_ms`` before their batch's due time. Every due time and every
generated event is written to ``events.parquet`` so the harness can
check the outputs.

Usage: python3 perfbench/gen.py --workload NAME --seed N --seconds S
           --run-dir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import load_spec, pctl

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# the generator gives up waiting for the harness after this long, so it
# never outlives a run that the harness abandoned
TIMEOUT_S = 170.0


class EventSource:
    """Deterministic event batches: batch ``seq`` holds events
    ``seq * batch .. seq * batch + batch - 1``; a batch's content depends
    only on the seed and its sequence number, never on timing."""

    def __init__(self, seed: int, cfg: dict):
        self.seed = seed
        self.batch = int(cfg["batch_events"])
        self.users = int(cfg["users"])
        self.zipf_s = float(cfg["zipf_s"])
        self.ooo_share = float(cfg["ooo_share"])
        self.ooo_max_us = int(cfg["ooo_max_ms"]) * 1000
        ranks = np.arange(1, self.users + 1, dtype=np.float64)
        w = ranks ** -self.zipf_s
        self._cdf = np.cumsum(w / w.sum())

    def batch_columns(self, seq: int, due_us: int) -> dict:
        rng = np.random.default_rng([self.seed, seq])
        n = self.batch
        users = np.searchsorted(self._cdf, rng.random(n), side="right")
        users = np.minimum(users, self.users - 1).astype(np.int64)
        ts = np.full(n, due_us, dtype=np.int64)
        late = rng.random(n) < self.ooo_share
        ts[late] -= rng.integers(1, self.ooo_max_us + 1, int(late.sum()))
        return {
            "event_id": np.arange(seq * n, (seq + 1) * n, dtype=np.int64),
            "user_id": users,
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "amount": rng.integers(1, 100_000, n).astype(np.int64),
            "batch_seq": np.full(n, seq, dtype=np.int64),
            "ts_us": ts,
        }


def _write_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _wait_for(path: str, deadline: float) -> bool:
    while not os.path.exists(path):
        if time.time() > deadline:
            return False
        time.sleep(0.005)
    return True


class KafkaSink:
    """Produce batches into a stub broker hosted in this process; a
    sampler thread reads the live topic's consumer lag through the
    public protocol (log-end offsets minus the group's commits)."""

    def __init__(self, cfg: dict):
        from hstream_spark.sources.kafka_stub import KafkaStubBroker
        from hstream_spark.sources.kafka_wire import KafkaClient

        self.cfg = cfg
        self.parts = int(cfg["partitions"])
        self.broker = KafkaStubBroker()
        for rep in range(cfg["setup_reps"]):
            self.broker.create_topic(self.topic(rep), partitions=self.parts)
        self.client = KafkaClient(self.broker.bootstrap)
        self.live_topic = self.topic(0)
        self._next_part = 0
        self.lag_samples: list[int] = []
        self._stop = threading.Event()
        self._sampler = None

    def topic(self, rep: int) -> str:
        return f"{self.cfg['topic']}{rep}"

    def group(self, topic: str) -> str:
        return f"{self.cfg['group_id']}-{topic}"

    def ready_info(self) -> dict:
        return {"bootstrap": self.broker.bootstrap}

    def send(self, cols: dict, topic: str | None = None) -> None:
        self.produce(self.encode(cols), topic)

    @staticmethod
    def encode(cols: dict) -> list[tuple]:
        ts_ms = cols["ts_us"] // 1000
        return [
            (None,
             json.dumps({"event_id": int(e), "user_id": int(u), "event_type": str(t),
                         "amount": int(a), "batch_seq": int(s)}).encode(),
             int(ms))
            for e, u, t, a, s, ms in zip(cols["event_id"], cols["user_id"],
                                         cols["event_type"], cols["amount"],
                                         cols["batch_seq"], ts_ms)
        ]

    def produce(self, records: list[tuple], topic: str | None = None) -> None:
        self.client.produce(topic or self.live_topic, records, partition=self._next_part)
        self._next_part = (self._next_part + 1) % self.parts

    def lag(self, client) -> int:
        from hstream_spark.sources.kafka_wire import LATEST

        parts = list(range(self.parts))
        ends = client.list_offsets_multi(self.live_topic, {p: LATEST for p in parts})
        done = client.offset_fetch(self.group(self.live_topic), self.live_topic, parts)
        return sum(max(0, ends.get(p, 0) - max(0, done.get(p, 0))) for p in parts)

    def start_sampler(self) -> None:
        from hstream_spark.sources.kafka_wire import KafkaClient

        def loop():
            client = KafkaClient(self.broker.bootstrap)
            try:
                while not self._stop.wait(0.1):
                    try:
                        self.lag_samples.append(self.lag(client))
                    except Exception as exc:  # noqa: BLE001 — keep sampling
                        print(f"lag sample failed: {exc!r}", flush=True)
            finally:
                client.close()

        self._sampler = threading.Thread(target=loop, name="lag-sampler", daemon=True)
        self._sampler.start()

    def stop_sampler(self) -> list[int]:
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=10)
        return list(self.lag_samples)

    def close(self) -> None:
        self.stop_sampler()
        self.client.close()
        self.broker.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args(argv)
    cfg = load_spec()["workloads"][args.workload]
    deadline = time.time() + TIMEOUT_S
    rd = args.run_dir
    reps = int(cfg["setup_reps"])
    src = EventSource(args.seed, cfg)
    seq = 0
    produced: list[dict] = []

    def make(rep: int, due_us: int, batches: int) -> dict:
        nonlocal seq
        cols = [src.batch_columns(seq + i, due_us) for i in range(batches)]
        cols = {k: np.concatenate([c[k] for c in cols]) for k in cols[0]}
        produced.append(dict(cols, rep=np.full(len(cols["event_id"]), rep)))
        seq += batches
        return cols

    def send(sink, rep: int, due_us: int, batches: int, **kw) -> None:
        sink.send(make(rep, due_us, batches), **kw)

    # phase 0: one topic per setup repetition, primed with a few batches
    # already due; the last repetition's topic also takes the fixed-rate
    # phase and the burst
    sink = KafkaSink(cfg)
    primer = int(cfg["primer_events"]) // src.batch
    for rep in range(reps):
        send(sink, rep, int(time.time() * 1e6), primer, topic=sink.topic(rep))
    sink.live_topic = sink.topic(reps - 1)
    _write_json(os.path.join(rd, "ready.json"), sink.ready_info())

    # phase 1: open loop at the fixed rate, batch k due at t0 + k *
    # interval regardless of how the engine keeps up; warm-up seconds
    # first, then --seconds whose batches the harness times
    if not _wait_for(os.path.join(rd, "go"), deadline):
        sink.close()
        return 3
    sink.start_sampler()
    interval_us = src.batch / cfg["rate_eps"] * 1e6
    t0_us = int(time.time() * 1e6) + 20_000
    schedule, lateness_ms = [], []
    warmup_s = float(cfg["warmup_s"])
    for k in range(int((warmup_s + args.seconds) * cfg["rate_eps"]) // src.batch):
        due_us = t0_us + int(k * interval_us)
        wait = due_us / 1e6 - time.time()
        if wait > 0:
            time.sleep(wait)
        lateness_ms.append(max(0.0, time.time() * 1e3 - due_us / 1e3))
        schedule.append((seq, due_us))
        send(sink, reps - 1, due_us, 1)
    lag = sink.stop_sampler()
    _write_json(os.path.join(rd, "done.json"), {
        "sent": len(schedule) * src.batch,
        "schedule": schedule,
        "timed_from_us": t0_us + int(warmup_s * 1e6),
        "lateness_ms_p95": pctl(lateness_ms, 95),
        "lateness_ms_max": max(lateness_ms),
        "lag_p50": pctl(lag, 50),
        "lag_max": max(lag, default=0),
    })

    # phase 2: the bursts, each sent once the harness has seen the one
    # before it drain; a burst is one send per partition, back to back,
    # encoded before its start is taken
    burst = int(cfg["burst_events"])
    for i in range(int(cfg["burst_reps"])):
        if not _wait_for(os.path.join(rd, f"burst{i}"), deadline):
            sink.close()
            return 3
        due_us = int(time.time() * 1e6)
        sends = [sink.encode(make(reps - 1, due_us, burst // sink.parts // src.batch))
                 for _ in range(sink.parts)]
        t_burst = int(time.time() * 1e6)
        for records in sends:
            sink.produce(records)
        if i == int(cfg["burst_reps"]) - 1:
            events = {k: np.concatenate([p[k] for p in produced]) for k in produced[0]}
            pq.write_table(pa.table(events), os.path.join(rd, ".events.tmp"))
            os.replace(os.path.join(rd, ".events.tmp"), os.path.join(rd, "events.parquet"))
        _write_json(os.path.join(rd, f"burst{i}.json"), {"start_us": t_burst, "events": burst})
    _wait_for(os.path.join(rd, "stop"), deadline)
    sink.close()
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    raise SystemExit(main())
