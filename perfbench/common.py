"""Shared harness pieces: spec, statistics, host and memory sampling,
the Spark session, streaming progress capture and Spark job metrics."""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def pctl(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default); 0.0 when empty."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


def median(values) -> float:
    return pctl(values, 50)


# -- host -------------------------------------------------------------------

def _proc_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostWindow:
    """CPU busy and steal shares over a window, from /proc/stat."""

    def __init__(self):
        self.start = _proc_stat()

    def finish(self) -> dict:
        end = _proc_stat()
        d = [b - a for a, b in zip(self.start, end)]
        total = sum(d[:8]) or 1
        idle = d[3] + d[4]  # idle + iowait
        steal = d[7] if len(d) > 7 else 0
        return {
            "host.busy_pct": 100.0 * (total - idle - steal) / total,
            "host.steal_pct": 100.0 * steal / total,
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (JVM and
    Python workers), excluding the subtrees rooted at ``exclude`` pids
    (the load generator)."""

    INTERVAL_S = 0.25

    def __init__(self):
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def sample(self) -> None:
        kids = _children_map()
        todo, total, parts = [(os.getpid(), "")], 0, {}
        while todo:
            pid, parent_exe = todo.pop()
            exe = _exe(pid)
            # a JVM child still running the java binary has not exec'd
            # yet: it shares the JVM's address space (posix_spawn uses
            # vfork), so its RSS would count the JVM twice
            if pid in self.exclude or (exe == parent_exe and exe.endswith("/java")):
                continue
            kb = _rss_kb(pid)
            total += kb
            parts[f"{_comm(pid)}:{pid}"] = kb // 1024
            todo.extend((k, exe) for k in kids.get(pid, ()))
        if total > self.peak_kb:
            self.peak_kb, self.peak_by_process = total, parts

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak_kb / 1024.0


# -- Spark --------------------------------------------------------------------

def spark_session(work_dir: str, cores: int):
    """The engine's own session factory, pinned to ``cores`` local
    threads, with scratch space inside the work directory."""
    from hstream_spark import get_spark

    local = os.path.join(work_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    return get_spark(
        "perfbench",
        **{
            "spark.master": f"local[{cores}]",
            # a fixed-size heap keeps the JVM's resident size from
            # following GC sizing decisions from run to run
            "spark.driver.memory": "1g",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressLog:
    """Every streaming trigger's progress, captured through a
    ``StreamingQueryListener`` (``recentProgress`` keeps only the last
    100). Each record is reduced to the fields the harness reads."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.records: list[dict] = []
        self._lock = threading.Lock()
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log._add(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark = spark
        self.listener = _Listener()
        spark.streams.addListener(self.listener)

    def _add(self, p: dict) -> None:
        dur = p.get("durationMs", {})
        start = _iso_ms(p["timestamp"])
        state = (p.get("stateOperators") or [{}])[0]
        end_off = (p.get("sources") or [{}])[0].get("endOffset")
        if isinstance(end_off, str):
            end_off = json.loads(end_off)
        rec = {
            "id": p["id"],
            "batch": p["batchId"],
            "start": start,
            "end": start + dur.get("triggerExecution", 0) / 1000.0,
            "rows": p.get("numInputRows", 0),
            # file source: the source-log batch this trigger read up to
            "log_offset": (end_off or {}).get("logOffset", -1),
            "dur": dur,
            "state_rows": state.get("numRowsTotal", 0),
            "state_mem": state.get("memoryUsedBytes", 0),
            "state_commit_ms": state.get("commitTimeMs", 0),
        }
        with self._lock:
            self.records.append(rec)

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return sorted((r for r in self.records if r["id"] == query_id and r["rows"] > 0),
                          key=lambda r: r["batch"])

    def wait_rows(self, query_id: str, rows: int, timeout: float) -> dict | None:
        """Block until the query has committed ``rows`` input rows in
        total; returns the trigger that crossed the mark."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            total = 0
            for r in self.of(query_id):
                total += r["rows"]
                if total >= rows:
                    return r
            time.sleep(0.01)
        return None

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


def source_batches(checkpoint: str) -> dict[str, int]:
    """File name → source-log batch id, from a file-source checkpoint
    log (``sources/0``: one JSON entry per file; compacted logs carry
    all earlier entries). A trigger's progress names the last source
    batch it read (``log_offset``)."""
    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def trigger_metrics(triggers: list[dict], wall_s: float) -> dict:
    """Per-layer micro-batch numbers from the captured progress."""
    out = {
        "trigger.count": len(triggers),
        "trigger.rows_p50": median([t["rows"] for t in triggers]),
    }
    for key, name in (("latestOffset", "latest_offset"), ("getBatch", "get_batch"),
                      ("addBatch", "add_batch"), ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")):
        out[f"trigger.{name}_ms_p50"] = median([t["dur"].get(key, 0) for t in triggers])
    execs = [t["dur"].get("triggerExecution", 0) for t in triggers]
    out["trigger.execution_ms_p50"] = median(execs)
    out["trigger.execution_ms_p95"] = pctl(execs, 95)
    out["trigger.busy_share"] = sum(execs) / 1000.0 / wall_s if wall_s > 0 else 0.0
    return out


class JobGroupStats:
    """Executor-side totals for the Spark jobs of one job group, read
    from ``statusTracker`` and the status store (works with the UI off)."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores

    def collect(self, groups: list[str], wall_s: float) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = stages = tasks = 0
        run_ms = cpu_ns = gc_ms = sr = sw = 0
        spans = []
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    try:
                        st = store.lastStageAttempt(sid)
                    except Exception:  # noqa: BLE001 — stage skipped or evicted
                        continue
                    stages += 1
                    tasks += st.numCompleteTasks()
                    run_ms += st.executorRunTime()
                    cpu_ns += st.executorCpuTime()
                    gc_ms += st.jvmGcTime()
                    sr += st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                    sw += st.shuffleWriteBytes()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        spans.append((sub.get().getTime() / 1000.0,
                                      done.get().getTime() / 1000.0))
        covered = 0.0
        cur_s = cur_e = None
        for s, e in sorted(spans):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        cpu_s = cpu_ns / 1e9
        return {
            "spark.jobs": jobs,
            "spark.stages": stages,
            "spark.tasks": tasks,
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.executor_cpu_s": cpu_s,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.shuffle_read_mb": sr / 2**20,
            "spark.shuffle_write_mb": sw / 2**20,
            "spark.driver_gap_s": max(0.0, wall_s - covered),
            "spark.parallel_efficiency": cpu_s / (wall_s * self.cores) if wall_s > 0 else 0.0,
            # the share of the cores' time spent running tasks: low means
            # the wall time is mostly driver work and per-job overhead
            "spark.executor_share": (run_ms / 1000.0 / (wall_s * self.cores)
                                     if wall_s > 0 else 0.0),
        }


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning milliseconds of a DataFrame's
    QueryExecution (``tracker().phases()``)."""
    out = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            name = kv._1()
            if name in out:
                summary = kv._2()
                out[name] += (summary.endTimeMs() - summary.startTimeMs())
    except Exception:  # noqa: BLE001 — best effort; the phases API is internal
        pass
    return out


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet") and not n.startswith("."):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def dir_bytes(path: str) -> int:
    size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
    return size
