"""The benchmark run: set-up, timed passes, traced passes, oracle check.

One run serves one workload (a fixed list of ``rental_engine.QUERIES``,
see workloads.json) with a single closed-loop client: the main thread
runs one query at a time, each as ``QUERIES[name](spark, sf_dir)``
followed by a ``noop``-sink save, the unit ``bench.py`` times.  A pass
runs every query of the workload once, in an order drawn from the seed.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import subprocess
import sys
import threading
import time
import traceback

from perfbench import gendata
from perfbench.spans import Tracer, pass_metrics
from perfbench.verify import Oracle

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_SEED = 42
MIN_PASSES = 2



def workloads() -> dict[str, list[str]]:
    """Workload name -> its queries, from workloads.json."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return {w: v["queries"] for w, v in json.load(f)["workloads"].items()}


# -- host record -------------------------------------------------------------

def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop (best of 3): a starved or
    throttled host reads slower."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(400_000):
            acc += i * i
        best = min(best, time.perf_counter() - t)
    return best


def cpu_steal_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host since boot, from /proc/stat;
    on a virtual machine, steal is time the hypervisor gave elsewhere."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def _descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident set (VmHWM) of this process and each descendant: the
    driver JVM and the Python driver, worker daemon and workers, sampled
    every ``interval`` seconds until ``stop``."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_kb: dict[int, int] = {}
        self.kind: dict[int, str] = {}
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        for pid in _descendants(os.getpid()):
            self.peak_kb[pid] = max(self.peak_kb.get(pid, 0), _hwm_kb(pid))
            if pid not in self.kind:
                try:
                    with open(f"/proc/{pid}/comm") as f:
                        comm = f.read().strip()
                except OSError:
                    continue
                self.kind[pid] = ("jvm" if comm == "java" else
                                  "python" if comm.startswith("python") else "other")

    def _loop(self) -> None:
        while not self._done.wait(self.interval):
            self.sample()

    def start(self) -> "PeakRss":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        """Summed per-process peaks in MB: the JVM, the Python processes
        and all of them."""
        self._done.set()
        self._thread.join(timeout=10)
        self.sample()
        mb = {"jvm": 0.0, "python": 0.0, "other": 0.0}
        for pid, kb in self.peak_kb.items():
            mb[self.kind.get(pid, "other")] += kb / 1024.0
        mb["total"] = sum(mb.values())
        return mb


# -- set-up ------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


# -- passes ------------------------------------------------------------------

class Runner:
    """Runs passes over one workload and counts attempts and failures."""

    def __init__(self, spark, sf_dir: str, names: list[str], seed: int) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.names = names
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # untraced wall seconds of every execution, per query
        self.query_s: dict[str, list[float]] = {n: [] for n in names}
        # host CPU steal share during each pass (see cpu_steal_jiffies)
        self.pass_steal: list[float] = []

    def order(self) -> list[str]:
        return self.rng.sample(self.names, len(self.names))

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.errors.append(f"{name}: {what}")
        print(f"perfbench: {name} failed: {what}", file=sys.stderr)

    def run_pass(self, tracer: Tracer | None = None, pass_no: int = 0) -> float:
        from rental_engine import QUERIES
        s0 = cpu_steal_jiffies()
        t0 = time.perf_counter()
        for name in self.order():
            self.attempted += 1
            try:
                if tracer is None:
                    t = time.perf_counter()
                    QUERIES[name](self.spark, self.sf_dir).write.format("noop") \
                        .mode("overwrite").save()
                    self.query_s[name].append(time.perf_counter() - t)
                    continue
                tracer.query, tracer.pass_no = name, pass_no
                with tracer.span("build"):
                    df = QUERIES[name](self.spark, self.sf_dir)
                with tracer.span("action"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:  # a failing query is counted, the run goes on
                self._fail(name, traceback.format_exc(limit=3))
        wall = time.perf_counter() - t0
        s1 = cpu_steal_jiffies()
        self.pass_steal.append((s1[0] - s0[0]) / max(1, s1[1] - s0[1]))
        return wall

    def check(self, oracle: Oracle) -> dict[str, str]:
        """Collect each query once and compare with the oracle."""
        from rental_engine import QUERIES
        status = {}
        for name in self.order():
            self.attempted += 1
            try:
                err = oracle.check(name, QUERIES[name](self.spark, self.sf_dir).toArrow())
            except Exception:
                err = traceback.format_exc(limit=3)
            status[name] = err or "ok"
            if err:
                self._fail(name, err)
        return status


def _median(values: list):
    """Counts stay whole numbers (they repeat exactly between passes)."""
    if isinstance(values[0], int):
        return statistics.median_low(values)
    return statistics.median(values)


def _timing(values: list[float]) -> dict:
    n = len(values)
    return {"median": statistics.median(values), "samples": n,
            "values": values,
            # highest percentile with at least ten samples beyond it
            "top_percentile": round(100 * (1 - 10 / n), 1) if n >= 20 else None}


def run(args, t_start: float, build_dir: str) -> dict:
    from bench import build_session
    from rental_engine import QUERIES

    names = workloads()[args.workload]
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    host = {"nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
            "spark_graft_cpus": cpus, "loadavg_before": os.getloadavg(),
            "cpu_probe_before_s": cpu_probe()}

    # inputs: generated data and the oracle's answers, both cached in the
    # build directory; not part of set-up time
    t = time.perf_counter()
    data_root = os.path.join(build_dir, "data")
    sf_dir = gendata.ensure(data_root, args.sf, DATA_SEED)
    oracle = Oracle(sf_dir, os.path.join(build_dir, "oracle"))
    for name in names:
        oracle.expected(name)
    prep_s = time.perf_counter() - t

    rss = PeakRss().start()
    t = time.perf_counter()
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t
    try:
        host["driver_memory"] = spark.conf.get("spark.driver.memory")
        t = time.perf_counter()
        runner = Runner(spark, sf_dir, names, args.seed)
        # the first execution at the benched SF is set-up; it collects
        # every result and checks it against the oracle.  bench.py's own
        # warm-up (a few tiny jobs, one mapInArrow) is left out: this pass
        # runs the same code first, and the ~6 s it took per run are needed
        # to keep all of the benchmark's runs within their time limit
        oracle_status = runner.check(oracle)
        # one untimed pass: the second execution of a query still runs
        # 10-30% slower than later ones while the JIT compiles, which would
        # otherwise leak into the timed median
        warm = [runner.run_pass()]
        runner.query_s = {n: [] for n in names}
        runner.pass_steal = []
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_start - prep_s

        tracer = Tracer(spark) if args.trace else None
        plain, traced, layers, covered = [], [], [], []
        steal0 = cpu_steal_jiffies()
        t0 = time.perf_counter()
        # at least MIN_PASSES whole passes, more while the window lasts
        while (len(plain) + len(traced) < MIN_PASSES or (tracer and not plain)
               or time.perf_counter() - t0 < args.seconds):
            if tracer and len(traced) <= len(plain):
                tracer.install()
                first = len(tracer.spans)
                try:
                    traced.append(runner.run_pass(tracer, len(traced)))
                finally:
                    tracer.uninstall()
                spans = tracer.spans[first:]
                tracer.collect_jobs(spans)
                layers.append(pass_metrics(spans, list(QUERIES)))
                covered.append(sum(v for k, v in layers[-1].items()
                                   if k.startswith("query.") and k.endswith("_s")) / traced[-1])
            else:
                plain.append(runner.run_pass())
        peak_mb = rss.stop()
        steal1 = cpu_steal_jiffies()
        host["cpu_steal_frac"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        host["cpu_probe_after_s"] = cpu_probe()
        host["loadavg_after"] = os.getloadavg()
        if tracer:
            tracer.dump(os.path.join(build_dir, "traces",
                                     f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
    finally:
        stop_spark(spark)

    if tracer:
        metrics = {k: _median([m[k] for m in layers]) for k in layers[0]}
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["rss.jvm_peak_mb"] = peak_mb["jvm"]
        metrics["rss.total_peak_mb"] = peak_mb["total"]
        metrics["trace.overhead_frac"] = (statistics.median(traced)
                                          / statistics.median(plain) - 1)
    else:
        # one pass as the sum of each query's median time: a query that is
        # slow in one pass no longer drags the other queries of that pass
        # into the median, which narrows the spread between runs
        pass_s = sum(statistics.median(v) for v in runner.query_s.values() if v)
        metrics = {"pass_s": pass_s, "setup_s": setup_s,
                   "py_peak_rss_mb": peak_mb["python"]}
    return {
        "metrics": metrics,
        "attempted": runner.attempted, "failed": runner.failed,
        "record": {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "sf_dir": os.path.relpath(sf_dir, os.path.dirname(HERE)), "prep_s": prep_s,
                   "host": host, "pass_total_s": _timing(plain),
                   "traced_pass_s": _timing(traced) if traced else None,
                   "warm_pass_s": warm,
                   "query_s": runner.query_s, "pass_steal": runner.pass_steal,
                   # share of each traced pass inside query build/action spans
                   "traced_coverage": covered,
                   "setup": {"session.start_s": start_s, "session.warmup_s": warmup_s,
                             "setup_s": setup_s},
                   "peak_rss_mb": peak_mb,
                   "failed_frac": runner.failed / runner.attempted,
                   "oracle": oracle_status, "errors": runner.errors},
    }
