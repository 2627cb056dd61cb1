"""The ``stream_serve`` workload.

The generator process hosts a Kafka stub broker and produces JSON
events on an open-loop schedule. The engine tails the topic through a
typed ``KAFKA_TOPIC`` stream; a ``CREATE VIEW .. FROM TUMBLE(..) GROUP
BY user_id`` keeps the view state while one closed-loop client reads it
with one-shot SELECTs.

Each setup repetition starts a fresh engine over a topic primed with a
few batches: engine, DDL and the first data trigger give ``setup_s``.
The last repetition's engine then takes the fixed-rate phase (event
latency, and read latency from the reader running alongside), drains,
then takes a few bursts produced far faster than they drain, one after
another (the catch-up throughput: the median over the bursts of burst
events over the time from the burst's start until the view commits its
last event), and is checked. The bursts come last so that the
fixed-rate phase starts from the same small state every run.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import duckdb
import numpy as np
import pyarrow.parquet as pq

from common import (
    HERE,
    JobGroupStats,
    ProgressLog,
    catalyst_phases,
    dir_bytes,
    dir_stats,
    median,
    pctl,
    source_batches,
    trigger_metrics,
)
from gen import EventSource

COLUMNS = ("event_id INTEGER, user_id INTEGER, event_type STRING, "
           "amount INTEGER, batch_seq INTEGER")


class Generator:
    """The load generator subprocess and its file handshake."""

    def __init__(self, workload: str, seed: int, seconds: float, run_dir: str):
        self.dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.log = open(os.path.join(run_dir, "gen.log"), "w")
        env = dict(os.environ, PYTHONPATH=os.getcwd())
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--run-dir", run_dir],
            stdout=self.log, stderr=subprocess.STDOUT, env=env,
        )

    def read(self, name: str, timeout: float = 90.0) -> dict:
        path = os.path.join(self.dir, name)
        deadline = time.time() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise RuntimeError(f"generator exited with {self.proc.returncode} "
                                   f"before writing {name}")
            if time.time() > deadline:
                raise TimeoutError(f"generator did not write {name}")
            time.sleep(0.005)
        with open(path) as f:
            return json.load(f)

    def write(self, name: str, obj: dict | None = None) -> None:
        tmp = os.path.join(self.dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(obj or {}, f)
        os.replace(tmp, os.path.join(self.dir, name))

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.write("stop")
            try:
                self.proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


class StreamServe:
    """DDL, reads and checks of the workload; ``run`` drives them."""

    VIEW = ("CREATE VIEW v AS SELECT user_id, COUNT(*) AS n, SUM(amount) AS total "
            "FROM TUMBLE(ev, INTERVAL {w} SECOND) GROUP BY user_id;")

    def __init__(self, cfg: dict, seed: int):
        self.cfg = cfg
        self.seed = seed

    def engine(self, spark, root: str):
        from hstream_spark.streaming.runtime import HStreamEngine

        return HStreamEngine(spark, root, grace=self.cfg["grace"],
                             streaming_shuffle_partitions=self.cfg["state_partitions"])

    def start(self, eng, rep: int, bootstrap: str) -> str:
        topic = f"{self.cfg['topic']}{rep}"
        eng.execute(
            f"CREATE STREAM ev ({COLUMNS}) WITH (\"kafka_topic\" = '{topic}', "
            f"\"kafka_bootstrap_servers\" = '{bootstrap}', "
            f"\"kafka_poll_interval_ms\" = {self.cfg['poll_interval_ms']}, "
            f"\"kafka_group_id\" = '{self.cfg['group_id']}-{topic}');"
        )
        eng.execute(self.VIEW.format(w=self.cfg["window_s"]))
        return "view_v"

    def read_sql(self, i: int, key: int) -> tuple[str, str]:
        """The i-th read: a point lookup by key, except every
        ``read_range_every``-th read, which scans the recent windows (a
        fixed mix, so the median does not move with a random draw)."""
        cols = "SELECT window_start, window_end, user_id, n, total FROM v"
        if i % self.cfg["read_range_every"]:
            return "point", f"{cols} WHERE user_id = {key};"
        since = time.gmtime(time.time() - 2 * self.cfg["window_s"])
        return "range", (f"{cols} WHERE window_end >= "
                         f"TIMESTAMP '{time.strftime('%Y-%m-%d %H:%M:%S', since)}';")

    @staticmethod
    def check_stream(stream_dir: str, events) -> int:
        """Records missing from, duplicated in or altered in the ingested
        stream, against the generated events (by ``event_id``)."""
        got = pq.read_table(stream_dir, columns=["event_id", "user_id", "amount"]).to_pandas()
        con = duckdb.connect()
        con.register("exp", events[["event_id", "user_id", "amount"]])
        con.register("got", got)
        missing = con.execute(
            "SELECT count(*) FROM exp LEFT JOIN got USING (event_id) "
            "WHERE got.event_id IS NULL").fetchone()[0]
        dup = con.execute(
            "SELECT coalesce(sum(c - 1), 0) FROM (SELECT count(*) c FROM got "
            "GROUP BY event_id HAVING count(*) > 1)").fetchone()[0]
        wrong = con.execute(
            "SELECT count(*) FROM got LEFT JOIN exp USING (event_id) WHERE exp.event_id IS NULL "
            "OR got.user_id <> exp.user_id OR got.amount <> exp.amount").fetchone()[0]
        con.close()
        return int(missing + dup + wrong)

    def view_oracle(self, events) -> dict:
        w = int(self.cfg["window_s"])
        con = duckdb.connect()
        con.register("events", events)
        rows = con.execute(
            f"SELECT (ts_us // {w * 1_000_000}) * {w} AS ws, user_id, count(*), "
            "sum(amount) FROM events GROUP BY 1, 2").fetchall()
        con.close()
        return {(int(ws), int(u)): (int(n), int(t)) for ws, u, n, t in rows}

    def check_view(self, eng, oracle: dict) -> int:
        """Groups whose final view state differs from the DuckDB
        aggregate. Event lateness (out-of-order share, backlog span and
        ingest delay) stays far below the grace period, so the engine's
        watermark drops nothing and every event counts."""
        got, bad = {}, 0
        df = eng.execute("SELECT window_start, user_id, n, total FROM v;")
        for r in df.selectExpr("unix_seconds(window_start) AS ws", "user_id", "n",
                               "total").collect():
            k = (int(r["ws"]), int(r["user_id"]))
            bad += k in got
            got[k] = (int(r["n"]), int(r["total"]))
        bad += sum(1 for k, v in oracle.items() if got.get(k) != v)
        return bad + sum(1 for k in got if k not in oracle)

    @staticmethod
    def check_read(kind: str, rows, oracle: dict, key: int) -> bool:
        """Every row read mid-run is a prefix of its final aggregate."""
        for r in rows:
            final = oracle.get((int(r["window_start"].timestamp()), int(r["user_id"])))
            if final is None or not (0 < r["n"] <= final[0] and 0 < r["total"] <= final[1]):
                return False
            if kind == "point" and r["user_id"] != key:
                return False
        return True

    @staticmethod
    def file_batches(stream_dir: str) -> dict[str, list[int]]:
        """Stream file name → generator batch numbers it holds."""
        out = {}
        for name in os.listdir(stream_dir):
            if name.endswith(".parquet") and not name.startswith("."):
                seqs = pq.read_table(os.path.join(stream_dir, name), columns=["batch_seq"])
                out[name] = np.unique(seqs.column(0).to_numpy()).tolist()
        return out


class Reader:
    """One closed-loop client issuing one-shot SELECTs back to back."""

    def __init__(self, eng, wl: StreamServe, seed: int, traced: bool):
        self.eng = eng
        self.wl = wl
        self.keys = EventSource(seed + 7, wl.cfg)
        self.traced = traced
        # per read: its kind, key, seconds to plan and to collect, the
        # rows, and in a traced run its Catalyst phases
        self.samples: list[dict] = []
        self.errors = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="reader", daemon=True)

    def _loop(self) -> None:
        i = 0
        while not self._stop.is_set():
            i += 1
            key = int(self.keys.batch_columns(i, 0)["user_id"][0])
            kind, sql = self.wl.read_sql(i, key)
            t0 = time.perf_counter()
            try:
                df = self.eng.execute(sql)
                t1 = time.perf_counter()
                rows = df.collect()
            except Exception:  # noqa: BLE001 — a failed read is counted, not fatal
                self.errors += 1
                continue
            t2 = time.perf_counter()
            self.samples.append({"kind": kind, "key": key, "plan_s": t1 - t0,
                                 "exec_s": t2 - t1, "rows": rows,
                                 "phases": catalyst_phases(df) if self.traced else None})

    def start(self) -> "Reader":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=60)


class ViewMonitor:
    """Samples the view's state directory: live deltas and the base
    generations the compaction folds produce."""

    def __init__(self, state_dir: str):
        self.dir = state_dir
        self.deltas_max = 0
        self.bases: set[str] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="view-monitor", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            try:
                with open(os.path.join(self.dir, "CURRENT")) as f:
                    base = f.read().strip()
                names = os.listdir(self.dir)
            except OSError:
                continue
            self.bases.add(base)
            self.deltas_max = max(self.deltas_max,
                                  sum(1 for n in names if n.startswith(f"v{base}_d")))

    def start(self) -> "ViewMonitor":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def commit_latencies(triggers: list[dict], batch_of: dict[str, int],
                     file_batches: dict[str, list[int]], schedule) -> list[float]:
    """Milliseconds from each scheduled batch's due time to the commit of
    the trigger that processed its last event. A file commits with the
    first trigger whose source offset covers the file's source batch."""
    offsets = [t["log_offset"] for t in triggers]
    commit_of_seq: dict[int, float] = {}
    for name, seqs in file_batches.items():
        i = int(np.searchsorted(offsets, batch_of.get(name, 1 << 62), side="left"))
        if i == len(triggers):
            continue
        for s in seqs:
            commit_of_seq[s] = max(commit_of_seq.get(s, 0.0), triggers[i]["end"])
    return [(commit_of_seq[s] - due / 1e6) * 1000.0 for s, due in schedule if s in commit_of_seq]


def run(ctx) -> dict:
    """Drive the workload; returns the result parts."""
    cfg = ctx.spec["workloads"][ctx.workload]
    wl = StreamServe(cfg, ctx.seed)
    gen = Generator(ctx.workload, ctx.seed, ctx.seconds, os.path.join(ctx.work, "gen"))
    ctx.rss.exclude.add(gen.proc.pid)
    reps = cfg["setup_reps"]
    eng = reader = None
    t_run = time.time()
    marks = {}  # seconds from the run's start to the end of each phase
    try:
        spark = ctx.start_spark()
        marks["spark"] = time.time() - t_run
        progress = ProgressLog(spark)
        gen_info = gen.read("ready.json")

        # -- setup, per repetition: engine, DDL, first data trigger
        setup_s = []
        primer = cfg["primer_events"]
        for rep in range(reps):
            if eng is not None:
                eng.shutdown()
            t0 = time.time()
            eng = wl.engine(spark, os.path.join(ctx.work, f"engine{rep}"))
            qname = wl.start(eng, rep, gen_info["bootstrap"])
            qid = eng.queries[qname].handle.id
            first = progress.wait_rows(qid, 1, 60)
            if first is None or progress.wait_rows(qid, primer, 60) is None:
                raise TimeoutError("the primer did not drain")
            setup_s.append(first["end"] - t0)
        marks["setup"] = time.time() - t_run

        # -- phase 1: fixed rate, reader alongside
        monitor = ViewMonitor(eng.views["v"].state_dir).start()
        reader = Reader(eng, wl, ctx.seed, ctx.tracer is not None)
        gen.write("go")
        t_live = time.time()
        reader.start()
        done = gen.read("done.json", timeout=ctx.seconds + 60)
        live_wall = time.time() - t_live
        reader.stop()
        live_total = primer + done["sent"]
        committed_at_end = sum(r["rows"] for r in progress.of(qid))
        if progress.wait_rows(qid, live_total, 60) is None:
            raise TimeoutError("live events did not drain")
        monitor.stop()
        marks["live"] = time.time() - t_run

        # per-layer figures of the fixed-rate phase, before the bursts
        src_dir = eng.streams["ev"].path
        view = eng.views["v"]
        triggers = progress.of(qid)
        live = [t for t in triggers if t_live <= t["end"] <= t_live + live_wall]
        batch_of = source_batches(eng.queries[qname].checkpoint)
        # source files that had arrived (by mtime) but were not yet committed
        mtimes = sorted(os.path.getmtime(os.path.join(src_dir, n)) for n in batch_of
                        if os.path.exists(os.path.join(src_dir, n)))
        log_offsets = sorted(batch_of.values())
        backlog_files = 0
        for t in live:
            committed = int(np.searchsorted(log_offsets, t["log_offset"], side="right"))
            arrived = int(np.searchsorted(mtimes, t["end"], side="right"))
            backlog_files = max(backlog_files, arrived - committed)
        sink_files, sink_bytes = dir_stats(view.state_dir)
        reads_ms = [(r["plan_s"] + r["exec_s"]) * 1000.0 for r in reader.samples]
        layer = {
            "session_start_s": ctx.session_start_s,
            "gen.lateness_ms_p95": done["lateness_ms_p95"],
            "gen.sent": done["sent"],
            "gen.backlog_end": live_total - committed_at_end,
            "kafka.consumer_lag_p50": done["lag_p50"],
            "kafka.consumer_lag_max": done["lag_max"],
            **trigger_metrics(live, live_wall),
            "source.files_total": len(batch_of),
            "source.backlog_files_max": backlog_files,
            "sink.files_written": sink_files,
            "sink.bytes_written": sink_bytes,
            "state.rows_total": max([t["state_rows"] for t in triggers] or [0]),
            "state.memory_bytes": max([t["state_mem"] for t in triggers] or [0]),
            "state.commit_ms_p50": median([t["state_commit_ms"] for t in live]),
            "view.deltas_max": monitor.deltas_max,
            "view.generations_created": max(0, len(monitor.bases) - 1),
            "view.state_bytes": dir_bytes(view.state_dir),
            "view.read_plan_ms_p50": median([r["plan_s"] * 1000 for r in reader.samples]),
            "view.read_exec_ms_p50": median([r["exec_s"] * 1000 for r in reader.samples]),
            "read_p50_ms": median(reads_ms),
            "read_p95_ms": pctl(reads_ms, 95),
            "reads": len(reads_ms),
            # Structured Streaming runs each query's jobs under its run id;
            # the last engine's query has run since t0
            **JobGroupStats(spark, ctx.cores).collect(
                [str(eng.queries[qname].handle.runId)], time.time() - t0),
        }
        for k in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{k}_ms"] = median([r["phases"][k] for r in reader.samples
                                                if r["phases"]])

        # -- phase 2: catch-up, the median over burst_reps bursts, each
        # sent once the one before it has drained
        expected = live_total
        rates, burst_triggers = [], []
        for i in range(cfg["burst_reps"]):
            gen.write(f"burst{i}")
            burst = gen.read(f"burst{i}.json")
            expected += burst["events"]
            caught = progress.wait_rows(qid, expected, 90)
            if caught is None:
                raise TimeoutError("a burst did not drain")
            start = burst["start_us"] / 1e6
            rates.append(burst["events"] / (caught["end"] - start))
            burst_triggers.append(sum(1 for t in progress.of(qid) if start < t["end"] <= caught["end"]))
        catchup_eps = median(rates)
        marks["burst"] = time.time() - t_run

        # -- checks and latencies
        events = pq.read_table(os.path.join(gen.dir, "events.parquet")).to_pandas()
        events = events[events["rep"] == reps - 1]
        oracle = wl.view_oracle(events)
        stream_bad = wl.check_stream(src_dir, events)
        view_bad = wl.check_view(eng, oracle)
        read_bad = reader.errors + sum(
            0 if wl.check_read(r["kind"], r["rows"], oracle, r["key"]) else 1
            for r in reader.samples)
        commits = (progress.of(qid), source_batches(eng.queries[qname].checkpoint),
                   wl.file_batches(src_dir))
        # latency over the batches due after the warm-up
        lat_ms = commit_latencies(*commits, [(s, due) for s, due in done["schedule"]
                                             if due >= done["timed_from_us"]])
        # a latency that climbs from quarter to quarter of the phase means
        # the engine fell behind the rate
        quarters = [median(q) for q in np.array_split(np.array(lat_ms), 4) if len(q)]
        missing_lat = len(done["schedule"]) - len(commit_latencies(*commits, done["schedule"]))
        layer["latency_samples"] = len(lat_ms)
        eng.shutdown()
        eng = None
        gen.stop()
        progress.close()
        marks["checked"] = time.time() - t_run
        return {
            "e2e": {
                "setup_s": median(setup_s),
                "throughput_per_s": catchup_eps,
                "e2e_p50_ms": median(lat_ms),
                "e2e_p95_ms": pctl(lat_ms, 95),
            },
            "layer": layer,
            "attempted": (len(events) + len(oracle) + len(reader.samples) + reader.errors
                          + len(done["schedule"])),
            "failed": stream_bad + view_bad + read_bad + missing_lat,
            "info": {"marks_s": marks, "setup_s": setup_s, "catchup_eps": rates,
                     "burst_triggers": burst_triggers, "e2e_p50_ms_by_quarter": quarters,
                     "lateness_ms_max": done["lateness_ms_max"], "live_wall_s": live_wall,
                     "stream_bad": stream_bad, "view_bad": view_bad, "read_bad": read_bad, "reads": len(reads_ms),
                     "latency_missing": missing_lat},
        }
    finally:
        if reader is not None:
            reader.stop()
        if eng is not None:
            try:
                eng.shutdown()
            except Exception:  # noqa: BLE001 — teardown continues
                pass
        gen.stop()
