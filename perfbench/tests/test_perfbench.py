"""Tests of the benchmark itself, at tiny input sizes.

    python -m pytest perfbench/tests -q

Each run starts and stops its own Spark driver, exactly as the command
does, so these take a few minutes.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from pathlib import Path

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import run, trace  # noqa: E402
from perfbench.workloads import WORKLOADS, make_workload  # noqa: E402

TINY = {
    "crawl_rounds": {"n_pages": 240, "n_hosts": 6},
    "crawl_bulk": {"n_pages": 240, "n_hosts": 6},
    "ops_iterative": {"n_pages": 150, "n_hosts": 6, "n_vectors": 40},
}


def _measure(out, workload: str, seed: int = 1, traced: int = 0) -> dict:
    args = argparse.Namespace(workload=workload, seed=seed, seconds=0.0, trace=traced)
    return run.measure(args, out=str(out), sizes=TINY[workload])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_passes_its_output_check(tmp_path, workload):
    rec = _measure(tmp_path, workload)
    assert rec["attempted"] >= 1
    assert rec["failed"] == 0, rec["problems"]
    assert set(rec["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in rec["metrics"].values())
    assert set(rec["wall"]) == set(run.WALL)
    assert {"nproc", "mem_total_mb", "pyspark", "pyarrow", "pandas"} <= set(rec["host"])
    assert os.path.exists(tmp_path / "results" / f"{workload}-seed1.json")


def _input_digests(tmp_path, workload: str, seed: int, tag: str) -> tuple:
    """Digest of every generated input table, and the oracle digests."""
    work = tmp_path / tag
    work.mkdir()
    wl = make_workload(workload, None, str(work), seed, **TINY[workload])
    paths = wl.make_inputs()
    tables = {k: hashlib.sha256(Path(p).read_bytes()).hexdigest()
              for k, p in paths.items() if p.endswith(".parquet")}
    return tables, wl.expected()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seed_alone_determines_inputs_and_oracle(tmp_path, workload):
    first = _input_digests(tmp_path, workload, 1, "a")
    again = _input_digests(tmp_path, workload, 1, "b")
    other = _input_digests(tmp_path, workload, 2, "c")
    assert first == again
    assert first[0]["pages"] != other[0]["pages"]
    assert first[1] != other[1]


def test_traced_rounds_account_for_each_round_wall(tmp_path):
    rec = _measure(tmp_path, "crawl_rounds", traced=1)
    assert rec["failed"] == 0, rec["problems"]
    assert set(rec["metrics"]) == set(trace.PER_LAYER)
    rows = rec["rounds"]
    assert [r["round"] for r in rows] == [0, 1, 2, 3]
    for r in rows:
        wall = r["wall_s"]
        # below 4 task slots the crawler writes serially: steps never overlap
        assert r["step_sum_s"] <= 1.1 * wall, r
        # every Spark job of the round ran inside a timed step, so the
        # step walls plus the driver-only time around them make the wall
        assert r["busy_s"] <= r["step_sum_s"] + 0.1 * wall, r
        assert abs(r["busy_s"] + r["driver_gap_s"] - r["span_s"]) < 1e-6
    layers = {k: v["value"] for k, v in rec["metrics"].items()}
    assert layers["crawler.jobs"] > 0 and layers["spark.task_cpu_s"] > 0
    assert layers["extract.python_s"] > 0 and layers["seen.anti_join_s"] > 0
    spans = tmp_path / "results" / "crawl_rounds-seed1-trace-spans.json"
    assert json.loads(spans.read_text())["spans"]


def test_busy_seconds_merges_overlapping_jobs():
    jobs = [{"start": 0.0, "end": 2.0}, {"start": 1.0, "end": 3.0}, {"start": 5.0, "end": 9.0}]
    assert trace.busy_seconds(jobs, 0.0, 6.0) == pytest.approx(4.0)


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == trace.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
