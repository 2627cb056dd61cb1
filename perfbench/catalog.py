"""``catalog_batch``: a fixed subset of the operator catalog, run
closed-loop by one client through the ``REGISTRY`` builders with a noop
sink, over tables generated from the seed.

The first pass collects each entry's output and checks it against the
entry's DuckDB oracle with ``tools/check.py``'s comparison; it also
warms the JVM and is not timed. Set-up, measured after it, is
registering the generated tables and scanning each once (repeated,
median). Timed passes follow: as many whole
passes as fit the run's seconds, at least ``min_passes``. The pass wall
is reported as the sum of each entry's median (and 95th percentile)
time over the passes.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from common import JobGroupStats, catalyst_phases, median, pctl

WORDS = ("key agg row scan slow fast table value part hash merge batch spark the line "
         "sort window a order data column join small customer query group stream big "
         "filter vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _ts(values_us) -> pa.Array:
    return pa.array(np.asarray(values_us, dtype=np.int64), type=pa.timestamp("us"))


def generate_tables(out_dir: str, seed: int, sizes: dict) -> None:
    """Seeded TPC-H-like and corpus tables, in the testdata schemas."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_ord = sizes["customer"], sizes["orders"]
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD",
                                  "AUTOMOBILE"])[rng.integers(0, 5, n_cust)],
    })
    day_us = 86_400 * 1_000_000
    epoch_1995 = 788_918_400 * 1_000_000
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_ord), 2),
        "o_orderdate": _ts(epoch_1995 + rng.integers(0, 2500, n_ord) * day_us),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okeys)
    write("lineitem", {
        "l_orderkey": pa.array(okeys),
        "l_partkey": pa.array(rng.integers(0, 200, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 10, n_li).astype(np.int64)),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines])
                                 .astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(epoch_1995 + rng.integers(0, 2500, n_li) * day_us),
    })
    n_ev = sizes["events"]
    users = np.minimum(rng.zipf(1.3, n_ev) - 1, 149).astype(np.int64)
    t2024 = 1_704_067_200 * 1_000_000
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(np.sort(t2024 + rng.integers(0, 30 * day_us, n_ev))),
        "user_id": pa.array(users),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    n_doc = sizes["documents"]
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < sizes["near_dup_share"]:
            # near-duplicate of an earlier document: a few words changed
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def run(ctx) -> dict:
    cfg = ctx.spec["workloads"]["catalog_batch"]
    entries = cfg["entries"]
    data = os.path.join(ctx.work, "data")
    generate_tables(data, ctx.seed, cfg["tables"])

    spark = ctx.start_spark()
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    import check  # tools/check.py: the catalog's oracle comparison
    import duckdb
    from hstream_spark.queries import REGISTRY
    from hstream_spark.sources.tables import load_table

    # -- warm-up pass doubling as the correctness check (untimed)
    tables = sorted(t[:-len(".parquet")] for t in os.listdir(data))
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    t0 = time.time()
    bad: dict[str, str] = {}
    for name in entries:
        try:
            spark_pdf = REGISTRY[name].builder(spark, data).toPandas()
            duck_pdf = con.execute(REGISTRY[name].oracle).fetchdf()
            issues = check.compare(name, spark_pdf, duck_pdf)
        except Exception as exc:  # noqa: BLE001 — a failing entry is a failed check
            issues = [f"{type(exc).__name__}: {str(exc)[:200]}"]
        if issues:
            bad[name] = issues[0]
    warmup_s = time.time() - t0
    con.close()

    # -- setup, on the warmed JVM: register the tables and scan each
    #    once, repeated
    setup_s = []
    for _ in range(cfg["setup_reps"]):
        t0 = time.time()
        for t in tables:
            load_table(spark, data, t).count()
        setup_s.append(time.time() - t0)

    # -- timed passes: closed loop, one client, whole passes that fit the
    #    run's seconds, at least min_passes
    per_entry: dict[str, list[float]] = {n: [] for n in entries}
    passes: list[float] = []
    groups: list[str] = []
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    errors = 0
    t_run = time.time()
    while (len(passes) < cfg["min_passes"]
           or time.time() - t_run + sum(passes) / len(passes) <= ctx.seconds):
        p0 = time.perf_counter()
        for name in entries:
            gid = f"catalog-{len(passes)}-{name}"
            groups.append(gid)
            spark.sparkContext.setJobGroup(gid, name)
            e0 = time.perf_counter()
            try:
                df = ctx.span("catalog.build", REGISTRY[name].builder, spark, data)
                ctx.span("catalog.write", df.write.format("noop").mode("overwrite").save)
            except Exception:  # noqa: BLE001 — counted as a failed operation
                errors += 1
                continue
            per_entry[name].append(time.perf_counter() - e0)
            if ctx.tracer is not None:
                df._jdf.queryExecution().executedPlan()
                for k, v in catalyst_phases(df).items():
                    phases[k] += v
        passes.append(time.perf_counter() - p0)
    run_wall = time.time() - t_run
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    runs_ms = [s * 1000.0 for v in per_entry.values() for s in v]
    n_pass = len(passes)
    # a pass at each entry's median (and 95th-percentile) speed
    wall_p50 = sum(median(v) for v in per_entry.values() if v)
    wall_p95 = sum(pctl(v, 95) for v in per_entry.values() if v)
    family: dict[str, float] = {f"catalog.{f}_s": 0.0 for f in cfg["families"].values()}
    for name, times in per_entry.items():
        family[f"catalog.{cfg['families'][name]}_s"] += median(times)
    layer = {
        "session_start_s": ctx.session_start_s,
        "catalog.warmup_s": warmup_s,
        "catalog.passes": n_pass,
        **family,
        **JobGroupStats(spark, ctx.cores).collect(groups, run_wall),
        "catalyst.analysis_ms": phases["analysis"] / n_pass,
        "catalyst.optimization_ms": phases["optimization"] / n_pass,
        "catalyst.planning_ms": phases["planning"] / n_pass,
    }
    return {
        "e2e": {
            "setup_s": median(setup_s),
            "throughput_per_s": len(entries) / wall_p50,
            "e2e_p50_ms": wall_p50 * 1000.0,
            "e2e_p95_ms": wall_p95 * 1000.0,
        },
        "layer": {**layer, "read_p50_ms": median(runs_ms), "read_p95_ms": pctl(runs_ms, 95)},
        "attempted": len(entries) + len(runs_ms) + errors,
        "failed": len(bad) + errors,
        "info": {"setup_s": setup_s, "passes_s": passes, "mismatches": bad},
    }
