"""Capture .explain('formatted') for every declared query into
plans/<round>/<query>_<tag>.txt (judge-checkable evidence).

Usage: python tools/capture_plans.py <tag> [sf_dir] [round_dir] [only,names]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import build_session
from rental_engine import QUERIES


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    round_dir = sys.argv[3] if len(sys.argv) > 3 else "r16"
    only = set(sys.argv[4].split(",")) if len(sys.argv) > 4 else None
    # capture under the same session config the bench runs with
    spark = build_session(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                           "plans", round_dir)
    os.makedirs(out_dir, exist_ok=True)
    for name, fn in QUERIES.items():
        if only is not None and name not in only:
            continue
        df = fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        print(f"captured {name}_{tag}")
    spark.stop()


if __name__ == "__main__":
    main()
