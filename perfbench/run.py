"""Warmed, oracle-checked benchmark of rental_engine.

Usage (from any directory):
  python3 perfbench/run.py --workload {medians,rollups_side} \
      --seed N --seconds S --trace {0,1}

Builds its inputs under .bench_build/perfbench/ in the repository, checks
each of the workload's queries once against the DuckDB oracle, runs one
untimed warm-up pass, then times warm passes for S seconds (at least two),
and prints, as the last line of stdout,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  The line before it is the run record (host,
every pass time, oracle status).  Exits non-zero without a result when
the engine cannot be run.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def prepare_env() -> None:
    """Make the run independent of the working directory and keep its
    temporary files inside the repository."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    # the mapInArrow kernels are pickled by module reference, so the
    # Python workers must import rental_engine from the repository
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # import the benchmark as the perfbench package, never its modules
    # from the script directory
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != os.path.join(ROOT, "perfbench")]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{java} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()


def main() -> int:
    ap = argparse.ArgumentParser(description="rental_engine warmed benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf", type=float, default=0.1, help="scale factor of the generated data")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    missing = [p for p in ("bench.py", "rental_engine/__init__.py", "BENCHMARK.json")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a rental_engine checkout, missing {missing}", file=sys.stderr)
        return 2
    prepare_env()
    from perfbench import core
    if args.workload not in core.workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)

    out = core.run(args, T_START, BUILD)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": out["metrics"][m["name"]], "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"perfbench": out["record"]}))
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
