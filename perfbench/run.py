"""Benchmark entry point for hstream_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads (see perfbench/spec.json):
``stream_serve`` and ``catalog_batch``. The last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``. The line
before it starts with ``# perfbench`` and carries the contention
evidence (host busy and steal shares, generator lateness, the contended
flag), the failed ratio and, in a traced run, the tracing overhead
against an untraced run of the same code, workload, seed and seconds.

Everything the run writes goes under ``.perfbench/`` in the working
directory. A traced run also writes its spans there.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import HostWindow, RssSampler, load_spec, median, spark_session  # noqa: E402
from tracing import Tracer, install  # noqa: E402


class Context:
    """What a workload needs from the harness."""

    def __init__(self, args, spec: dict, work: str, tracer: Tracer | None):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.spec = spec
        self.cores = spec["cores"]["spark_local"]
        self.work = work
        self.tracer = tracer
        self.rss = RssSampler().start()
        self.session_start_s = 0.0
        self.spark = None

    def start_spark(self):
        t0 = time.time()
        self.spark = spark_session(self.work, self.cores)
        self.session_start_s = time.time() - t0
        return self.spark

    def span(self, name: str, fn, *args):
        if self.tracer is None:
            return fn(*args)
        return self.tracer.wrap(name, fn)(*args)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM pyspark
    launched quits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def trace_metrics(tracer: Tracer, e2e: dict) -> dict:
    tot = tracer.totals()

    def t(name: str) -> dict:
        return tot.get(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0,
                              "durations_ms": [], "values": []})

    out = {
        "kafka.poll_busy_s": t("kafka.poll")["total_s"],
        "kafka.poll_calls": t("kafka.poll")["calls"],
        "kafka.records_per_poll_p50": median([v for v in t("kafka.poll")["values"] if v > 0]),
        "kafka.fetch_s": t("kafka.fetch")["total_s"],
        "kafka.decode_s": t("kafka.decode")["total_s"],
        "kafka.crc_s": t("kafka.crc")["total_s"],
        "kafka.append_s": max(0.0, t("kafka.poll")["total_s"] - t("kafka.fetch")["total_s"]),
        "plans.parse_ms_p50": median(t("plans.parse")["durations_ms"]),
        "plans.compile_ms_p50": median(t("plans.compile")["durations_ms"]),
        "trace.spans": len(tracer.spans),
        "trace.overhead_est_s": len(tracer.spans) * Tracer.per_span_cost(),
    }
    for name in ("engine.execute", "plans.parse", "plans.compile", "kafka.poll", "kafka.fetch",
                 "kafka.decode", "kafka.crc", "spark.collect", "catalog.build",
                 "catalog.write"):
        out[f"self.{name.replace('.', '_')}_s"] = t(name)["self_s"]
    for k, v in e2e.items():
        out[f"trace.{k}"] = v
    return out


def info_line(res: dict, spec: dict) -> dict:
    """Contention evidence printed beside every result: host busy and
    steal shares, generator lateness, and whether the run is flagged."""
    layer = res["layer"]
    lateness = layer.get("gen.lateness_ms_p95", 0.0)
    contended = (layer["host.steal_pct"] > spec["contention"]["steal_pct"]
                 or lateness > spec["contention"]["gen_lateness_ms_p95"])
    return {**res.get("info", {}), "host.busy_pct": round(layer["host.busy_pct"], 1),
            "host.steal_pct": round(layer["host.steal_pct"], 2),
            "gen.lateness_ms_p95": round(lateness, 2), "contended": contended,
            "failed_ratio": failed_ratio(res)}


def run_key(args, root: str) -> str:
    """Digest of the workload, seed, window and every source file of the
    engine and the benchmark: an untraced run is paired with a traced
    one only when all of them match."""
    h = hashlib.sha256(f"{args.workload} {args.seed} {args.seconds}".encode())
    for top in ("hstream_spark", "perfbench"):
        for dirpath, dirs, names in os.walk(os.path.join(root, top)):
            dirs.sort()
            for name in sorted(names):
                if name.endswith((".py", ".json")):
                    with open(os.path.join(dirpath, name), "rb") as f:
                        h.update(name.encode() + f.read())
    return h.hexdigest()[:16]


def failed_ratio(res: dict) -> float:
    return res["failed"] / max(1, res["attempted"])


def result_line(bench: dict, res: dict, trace: int) -> dict:
    """The last output line: BENCHMARK.json's end-to-end metrics, or
    its per-layer metrics in a traced run, each with its unit. A layer
    the workload does not exercise reads 0."""
    wanted = bench["per_layer"] if trace else bench["end_to_end"]
    source = res["layer"] if trace else res["e2e"]
    return {
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    for needed in ("hstream_spark/streaming/runtime.py", "tools/check.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, needed)):
            print(f"perfbench: {needed} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["TZ"] = "UTC"
    time.tzset()

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    spec = load_spec()
    tracer = None
    if args.trace:
        tracer = Tracer()
        install(tracer)
    ctx = Context(args, spec, work, tracer)
    host = HostWindow()
    try:
        if args.workload == "catalog_batch":
            import catalog

            res = catalog.run(ctx)
        else:
            import streaming

            res = streaming.run(ctx)
        res["e2e"]["peak_rss_mb"] = ctx.rss.stop()
        res["layer"].update(host.finish())
        if tracer is not None:
            tracer.uninstall()
            res["layer"].update(trace_metrics(tracer, res["e2e"]))
            tracer.dump(os.path.join(root, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)

    info = info_line(res, spec)
    info["peak_rss_mb_by_process"] = ctx.rss.peak_by_process
    untraced_path = os.path.join(root, ".perfbench", f"untraced-{run_key(args, root)}.json")
    if not args.trace:
        with open(untraced_path, "w") as f:
            json.dump(res["e2e"], f)
    elif os.path.exists(untraced_path):
        # tracing overhead: this traced run's end-to-end figures minus
        # those of an untraced run of the same code, workload, seed and
        # window
        with open(untraced_path) as f:
            untraced = json.load(f)
        info["trace_overhead"] = {k: res["e2e"][k] - v for k, v in untraced.items()
                                  if k in res["e2e"]}
    else:
        info["trace_overhead"] = "no untraced run of the same code, workload, seed and seconds"
    print("# perfbench " + json.dumps(info, default=str))
    print(json.dumps(result_line(bench, res, args.trace)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
