"""Tests of the benchmark itself (not part of the engine's tier-1 suite).

Run from the repository root:  python3 -m pytest perfbench -q
The CLI tests run every workload once untraced and once traced at
sf0.001 (about four minutes).
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gendata  # noqa: E402
from perfbench.core import workloads  # noqa: E402
from perfbench.verify import canon_table  # noqa: E402
from rental_engine import QUERIES  # noqa: E402
from tests.test_oracle import canon_rows  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = workloads()


def run_cli(workload: str, trace: int, cwd: str, root: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def test_workloads_partition_queries():
    names = [q for qs in WORKLOADS.values() for q in qs]
    assert len(names) == len(set(names)), "a query is in two workloads"
    assert set(names) == set(QUERIES), "every query belongs to exactly one workload"
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_cli_prints_every_metric(workload, trace, tmp_path):
    # launched outside the repository: the workers must still import
    # rental_engine
    p = run_cli(workload, trace, cwd=str(tmp_path))
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert list(res["metrics"]) == [m["name"] for m in want]
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"])
        if m["unit"] in ("count", "bytes"):
            assert isinstance(got["value"], int), m["name"]
    record = json.loads(lines[-2])["perfbench"]
    assert set(record["oracle"]) == set(WORKLOADS[workload])
    assert all(v == "ok" for v in record["oracle"].values())
    if trace:
        m = {k: v["value"] for k, v in res["metrics"].items()}
        for q in QUERIES:
            assert (m[f"query.{q}.jobs"] > 0) == (q in WORKLOADS[workload])


def test_cli_fails_without_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_cli("medians", 0, cwd=str(tmp_path), root=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _same(a: list[tuple], b: list[tuple]) -> bool:
    names = [f"c{i}" for i in range(len(a[0]))]
    ta = pa.Table.from_pylist([dict(zip(names, r)) for r in a])
    tb = pa.Table.from_pylist([dict(zip(names, r)) for r in b])
    return canon_table(ta).equals(canon_table(tb))


@pytest.mark.parametrize("a,b", [
    ([(1, 0.5, "x"), (2, 1.5, None)], [(2, 1.5, None), (1, 0.5, "x")]),
    ([(1, 0.0, "x")], [(1, -0.0, "x")]),
    ([(1, 0.1 + 0.2, "x")], [(1, 0.3, "x")]),
    ([(1, float("nan"), "x")], [(1, float("nan"), "x")]),
    ([(1, 2.0, dt.datetime(2024, 1, 1, 0, 0, 1))], [(1, 2.0, dt.datetime(2024, 1, 1, 0, 0, 1))]),
    ([(1, 2.0, dt.datetime(2024, 1, 1))], [(1, 2.0, dt.datetime(2024, 1, 1, 0, 0, 0, 1))]),
])
def test_canon_agrees_with_oracle_test(a, b):
    assert _same(a, b) == (canon_rows(a) == canon_rows(b))


def test_generator_is_deterministic():
    t1, t2 = gendata.tables(0.001, 5), gendata.tables(0.001, 5)
    for name in t1:
        assert pa.table(t1[name]).equals(pa.table(t2[name])), name
    assert not pa.table(gendata.tables(0.001, 6)["lineitem"]).equals(
        pa.table(t1["lineitem"]))
