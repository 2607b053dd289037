"""Capture every declared query's physical plan (``explain('formatted')``,
before execution) into .bench_build/plans/<tag>/<query>.txt.

Expression ids (``#123``) and exchange ids (``plan_id=45``) are masked,
so two captures of the same plans are byte-identical and
``diff -r .bench_build/plans/<a> .bench_build/plans/<b>`` is the
plan-parity check between two checkouts.  The session is bench.py's,
on $SPARK_GRAFT_CPUS cores (default: the cores this process may use);
sf_dir defaults to $SPARK_GRAFT_SF_DIR.

Usage: python tools/capture_plans.py <tag> [sf_dir] [only,names]
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import build_session  # noqa: E402
from rental_engine import QUERIES  # noqa: E402

_IDS = re.compile(r"(#|plan_id=)\d+")


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ["SPARK_GRAFT_SF_DIR"]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(ROOT, ".bench_build", "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in QUERIES.items():
        if only is not None and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(_IDS.sub(r"\1", plan))
        print(f"captured {name}")
    spark.stop()


if __name__ == "__main__":
    main()
