"""Benchmark driver.

Contract: reads the data directory from $SPARK_GRAFT_SF_DIR and the
core count from $SPARK_GRAFT_CPUS (master local[$SPARK_GRAFT_CPUS]),
times every declared query (construction + a noop-sink action, per
spark_optimization_guide §1.4 — so the computation is timed, not the
sink), and prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)
# the mapInArrow kernels are pickled by module reference, so the Python
# workers (started with this environment) must import rental_engine too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p)

from pyspark.sql import SparkSession

from rental_engine import QUERIES


def build_session(cpus: str) -> SparkSession:
    # Scale-adaptive settings only (guide §9): shuffle parallelism is
    # derived from the benched core count (never a constant tuned to
    # one machine) and AQE coalesces it back down at runtime; a
    # production cluster would size the same knobs from its executor
    # count.  See OPTIMIZATION_r15.md "Session configuration".
    n_shuffle = max(8, 2 * int(cpus))
    return (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName("rental-engine-bench")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # whole-stage codegen emits new classes for every query; the JVM
        # default 240m code cache thrashes (sweeper/deopt storms showed
        # up as random multi-second stalls on otherwise-idle CPUs)
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.join.preferSortMergeJoin", "false")  # allow shuffled-hash (§3.1)
        # the [p05,p95] band filter is a derived-expression predicate
        # feeding up to 4 joins; constraint propagation spends seconds
        # of single-threaded optimizer CPU inferring constraints from
        # it (driver stall, guide §7.3) with zero benefit here
        .config("spark.sql.constraintPropagation.enabled", "false")
        .getOrCreate()
    )


def main() -> None:
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"].rstrip("/")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())
    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir))
    sf = float(m.group(1).rstrip(".")) if m else -1.0

    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    # tiny untimed warmup so one-time JVM costs (codegen, parquet
    # reader init) are not charged to whichever query happens to run
    # first (recomputed from parquet; no query result is reused)
    spark.read.parquet(f"{sf_dir}/nation.parquet").count()

    def _warm_arrow(it):  # spawn the Python workers + their imports once, untimed
        import numpy, pyarrow  # noqa: F401
        for b in it:
            yield b
    (spark.range(1000).repartition(int(cpus)).mapInArrow(_warm_arrow, schema="id long")
          .write.format("noop").mode("overwrite").save())

    # JIT warmup: one untimed pass of every query against the SMALLEST
    # scale factor (a different directory, so nothing about the benched
    # inputs — results, file listings, footers — is reused; only the
    # JVM/framework code paths get compiled).  Without this the whole
    # bench executes inside the JVM's first-minute JIT window and
    # random queries absorb multi-second compile stalls.
    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR",
                              os.path.join(os.path.dirname(sf_dir), "sf0.001"))
    if os.path.isdir(warm_dir) and os.path.realpath(warm_dir) != os.path.realpath(sf_dir):
        for name, fn in QUERIES.items():
            spark.sparkContext.setJobDescription(f"warmup: {name}")
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)

    times: dict[str, float] = {}
    for name, fn in QUERIES.items():
        spark.sparkContext.setJobDescription(f"bench: {name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    total = round(sum(times.values()), 3)
    print(json.dumps({
        "metric": "rental_engine_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
