"""Self-test of the benchmark harness.

    python3 -m pytest perfbench/test_selftest.py -q

Run from the repository root. The check tests are toy-size and need no
Spark; ``test_every_metric_prints_with_its_unit`` runs the real command
once untraced and once traced at a one-second window (about 90 s).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
from streaming import StreamServe  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _events(n: int = 40) -> pd.DataFrame:
    return pd.DataFrame({
        "event_id": range(n),
        "user_id": [i % 5 for i in range(n)],
        "amount": [100 + i for i in range(n)],
    })


def _check(tmp_path, stream: pd.DataFrame) -> dict:
    """Feed the ingested-stream check a stream directory holding
    ``stream``; returns the counts ``run.failed_ratio`` reads."""
    path = tmp_path / "ev"
    path.mkdir()
    pq.write_table(pa.Table.from_pandas(stream, preserve_index=False), path / "part-0.parquet")
    events = _events()
    return {"attempted": len(events), "failed": StreamServe.check_stream(str(path), events)}


def test_exact_stream_passes(tmp_path):
    assert run.failed_ratio(_check(tmp_path, _events())) == 0


def test_dropped_record_fails(tmp_path):
    assert run.failed_ratio(_check(tmp_path, _events().iloc[1:])) > 0


def test_duplicated_record_fails(tmp_path):
    ev = _events()
    assert run.failed_ratio(_check(tmp_path, pd.concat([ev, ev.iloc[:1]]))) > 0


def test_result_line_names_every_metric():
    bench = _bench()
    res = {"attempted": 3, "failed": 0, "e2e": {}, "layer": {}}
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        line = run.result_line(bench, res, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert {m["name"]: m["unit"] for m in bench[key]} == {
            k: v["unit"] for k, v in line["metrics"].items()}


@pytest.mark.parametrize("trace", [0, 1])
def test_every_metric_prints_with_its_unit(trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "stream_serve",
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0 and line["attempted"] > 0
    wanted = _bench()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in line["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in line["metrics"].values())
