"""Tests of the benchmark itself: input determinism, the result-line
contract at smoke size, and refusal outside a full checkout.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start a Spark session each (~1 min apiece on 4 cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def test_crawl_inputs_follow_the_seed():
    from crawl import SHAPES, make_inputs

    shape = SHAPES["crawl_discover"]["full"]
    assert make_inputs(3, shape) == make_inputs(3, shape)
    assert make_inputs(3, shape) != make_inputs(4, shape)
    _, urls = make_inputs(3, shape)
    assert len(urls) == shape.hosts * shape.seeds_per_host


def test_query_tables_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq
    from querydata import write_tables

    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        write_tables(str(tmp_path / d), seed, 0.2)
    read = lambda d: pq.read_table(tmp_path / d / "documents.parquet")  # noqa: E731
    assert read("a").equals(read("b"))
    assert not read("a").equals(read("c"))


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "query_suite", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.mark.parametrize(
    "workload,trace",
    [
        ("crawl_discover", 0),
        ("crawl_discover", 1),
        ("crawl_deep_frontier", 0),
        ("query_suite", 0),
        ("query_suite", 1),
    ],
)
def test_smoke_result_line(workload, trace):
    spec = _spec()
    p = _run(
        ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
        "--trace", str(trace), "--size", "smoke",
    )
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
