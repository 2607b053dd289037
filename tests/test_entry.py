import json
import os
import subprocess
import sys

import __spark_entry__ as mod
from rental_engine import QUERIES
from tests.conftest import SF_SMALL

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_smoke(spark):
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"city", "n_listings", "median_ppu"} <= set(df.columns)


def test_contract_shape(spark):
    qs = mod.queries()
    os_ = mod.oracle_sql()
    assert set(os_) == set(qs)
    assert len(qs) >= 15


def test_bench_runs_outside_repo(tmp_path):
    """bench.py launched from another directory, with no PYTHONPATH,
    must still ship rental_engine to the Python workers (the mapInArrow
    kernels are pickled by module reference) and print its JSON line."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_SF_DIR=SF_SMALL, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="2g",
               SPARK_GRAFT_WARMUP_DIR=str(tmp_path / "missing"))
    res = subprocess.run([sys.executable, os.path.join(ROOT, "bench.py")],
                         cwd=tmp_path, env=env, capture_output=True, text=True,
                         timeout=600)
    assert res.returncode == 0, res.stderr[-2000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out["queries"]) == set(QUERIES)
