"""Benchmark of the engine on this host.

    python3 perfbench/run.py --workload api_read --seed 1 --seconds 10 --trace 0

Run from the repository root. Generates its inputs from --seed (nothing
outside the checkout is read), sets the engine up SETUPS times, warms
the last set-up up, measures the workload for --seconds, checks every
answer, and prints a detail line followed by one result line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics. --trace 1 measures three
phases of half the time each (untraced, traced, untraced), reports the
per-layer metrics of the traced one, and compares it with the last in
the detail line. Exits 1 when an
answer is wrong and 2 when the package is not there to measure.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "roblox_vector_search_datagen_spark"
SETUPS = 3
SAMPLE_PERIOD = 0.2  # seconds between samples of RSS and cached RDDs
DRIVER_MEMORY = "2g"
HTTP_KINDS = ("text", "vector", "similar", "games", "stats", "post", "check")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: Path, trace: bool) -> dict:
    """Environment for the engine and its JVM, all state under `work`."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir()
    tempfile.tempdir = str(tmp)
    env = {
        "TMPDIR": str(tmp),
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": str(work / "spark-warehouse"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join([str(ROOT), str(HERE)]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            # the JVM's temporary files (native libraries, spark-* dirs) go
            # to the run dir too, and no hsperfdata file is written
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "--conf spark.ui.showConsoleProgress=false",
            # a traced run keeps every job and stage in the status store
            *(["--conf spark.ui.retainedJobs=1000000",
               "--conf spark.ui.retainedStages=1000000",
               "--conf spark.ui.retainedTasks=1000",
               "--conf spark.sql.ui.retainedExecutions=50"] if trace else []),
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    return env


def _children() -> dict[int, list[int]]:
    """{parent pid: child pids} of every process on the host."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    return children


def descendants() -> list[int]:
    children, found, todo = _children(), [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        found.extend(kids)
        todo.extend(kids)
    return found


class Sampler(threading.Thread):
    """Peak RSS of this process and its descendants (JVM, Python
    workers) and samples of the persisted RDDs, from start() to stop()."""

    def __init__(self, sc):
        super().__init__(daemon=True)
        self.sc = sc
        self.peak = 0
        self.storage: list[dict] = []
        self._halt = threading.Event()

    @staticmethod
    def tree_rss() -> int:
        page, total = os.sysconf("SC_PAGE_SIZE"), 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def sample(self) -> None:
        from spans import storage_sample

        self.peak = max(self.peak, self.tree_rss())
        self.storage.append(storage_sample(self.sc))

    def run(self) -> None:
        while not self._halt.wait(SAMPLE_PERIOD):
            self.sample()

    def stop(self) -> None:
        """Stop sampling, then take the closing sample."""
        self._halt.set()
        self.join()
        self.sample()


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process the
    run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, 9)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs:
    a noisy neighbour shows here."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def pct(xs: list[float], q: float) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q) - 1]


def e2e_metrics(wl, phase, setup_s: list[float], warmup_s: float) -> dict:
    good = [(k, ms) for k, ms, ok in phase.ops if ok]
    primary = [ms for k, ms in good if k == "job"] if wl.name == "ingest_mixed" else [
        ms for k, ms in good if k not in ("post", "check")]
    if wl.name == "batch_registry":
        # each query's median over the passes, so no single disturbed pass
        # sets any of them; the percentiles are taken over the queries
        primary = [statistics.median(v) for v in phase.extra["query_ms"].values() if v]
        ops_per_s = len(wl.queries) / statistics.median(phase.extra["pass_s"])
    else:
        ops_per_s = len(primary) / phase.seconds
    return {
        "setup_s": (statistics.median(setup_s) + warmup_s, "s"),
        "p50_ms": (statistics.median(primary), "ms"),
        "p90_ms": (pct(primary, 90), "ms"),
        "ops_per_s": (ops_per_s, "1/s"),
    }


def kinds_summary(phase) -> dict:
    kinds: dict[str, list[float]] = {}
    for k, ms, ok in phase.ops:
        if ok:
            kinds.setdefault(k, []).append(ms)
    return {k: {"n": len(v), "p50_ms": round(statistics.median(v), 3),
                "p95_ms": round(pct(v, 95), 3), "mean_ms": round(statistics.fmean(v), 3)}
            for k, v in sorted(kinds.items())}


def unit_ms(phase) -> float:
    """End-to-end ms per unit: mean request or query time, or cycle time."""
    if phase.unit == "cycle":
        return phase.seconds * 1000.0 / max(phase.n_units, 1)
    ms = [m for k, m, ok in phase.ops if ok and k not in ("post", "check")]
    return statistics.fmean(ms) if ms else 0.0


def traced_metrics(wl, tracer, base, phase, sampler: "Sampler") -> tuple[dict, dict]:
    from spans import MIB, dir_stats, evictions, layer_report

    http_ms = sum(ms for k, ms, ok in phase.ops if k in HTTP_KINDS)
    layers, self_ms = layer_report(tracer, phase.n_units, http_ms)
    served = getattr(wl, "served", None)
    files, size = dir_stats(served.corpus.data_dir) if served else (0, 0)
    storage = sampler.storage
    cached = sum(b for _, b in storage[-1].values())  # at the end of the phase
    waits = phase.extra.get("job_wait_ms", [])
    layers.update({
        "corpus.files": files,
        "corpus.disk_mb": size / MIB,
        "exec.cached_mb": cached / MIB,
        "exec.evictions": evictions(storage),
        "exec.rss_mb": sampler.peak / MIB,
        "jobs.wait_ms": statistics.fmean(waits) if waits else 0.0,
        "jobs.log_files": dir_stats(served.log_dir)[0] if served else 0,
    })
    untraced, traced = unit_ms(base), unit_ms(phase)
    blocking = sum(self_ms.values())
    report = {
        "unit": phase.unit,
        "units_traced": phase.n_units,
        "self_ms_per_unit": self_ms,
        "blocking_self_sum_ms": round(blocking, 3),
        "untraced_ms_per_unit": round(untraced, 3),
        "traced_ms_per_unit": round(traced, 3),
        "self_sum_vs_untraced": round(blocking / untraced - 1, 4) if untraced else None,
        "tracing_overhead_ms": round(traced - untraced, 3),
        "tracing_overhead_ratio": round(traced / untraced - 1, 4) if untraced else None,
    }
    unit = lambda k: "ms" if k.endswith("_ms") else "MiB" if k.endswith("_mb") else "count"
    return {k: (v, unit(k)) for k, v in layers.items()}, report


def run(args, work: Path) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    env = configure_env(work, bool(args.trace))
    from roblox_vector_search_datagen_spark.functions import warehouse
    from roblox_vector_search_datagen_spark.session import get_spark

    warehouse.WAREHOUSE_DIR = str(work / "stored")  # keep stored artifacts in the run dir
    wl = WORKLOADS[args.workload]()
    wall = {}
    t0 = time.perf_counter()
    inputs = wl.prepare(str(work), args.seed)
    wall["prepare"] = time.perf_counter() - t0

    # Session start and corpus import, SETUPS times: the first includes the
    # JVM launch, the others build a new session in the same JVM.
    setup_s, spark = [], None
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{wl.name}")
        wl.setup(spark, i)
        setup_s.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            wl.teardown()
            spark.stop()

    wall["setups"] = sum(setup_s)
    t0 = time.perf_counter()
    try:
        # the first run of the workload's operations in this JVM, up to
        # the first timed one; it counts in setup_s
        wl.warmup()
        wall["warmup"] = time.perf_counter() - t0
        t0, steal0 = time.perf_counter(), steal_seconds()
        if args.trace:
            from spans import Tracer

            # untraced, traced, untraced: the last is the reference, both
            # follow the same amount of warm-up
            settle = wl.measure(args.seconds / 2)
            tracer = Tracer(spark)
            sampler = Sampler(spark.sparkContext)
            tracer.instrument()
            sampler.start()
            try:
                phase = wl.measure(args.seconds / 2, tracer)
            finally:
                sampler.stop()
                tracer.uninstrument()
            base = wl.measure(args.seconds / 2)
        else:
            phase = wl.measure(args.seconds)
        wall["measure"] = time.perf_counter() - t0
        wall["measure_cpu_steal"] = steal_seconds() - steal0
        t0 = time.perf_counter()
        checked, mismatched = wl.check()
        if args.trace:
            metrics, report = traced_metrics(wl, tracer, base, phase, sampler)
        else:
            metrics, report = e2e_metrics(wl, phase, setup_s, wall["warmup"]), None
        wall["check_and_report"] = time.perf_counter() - t0
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "methodology": {
                "nproc": os.cpu_count(),
                "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
                "spark": spark.version,
                "python": platform.python_version(),
                "driver_memory": spark.conf.get("spark.driver.memory"),
                "run_seconds": args.seconds,
                "setups": SETUPS,
                "comparable_with_bench_py": False,
            },
            "inputs": inputs,
            "setup_s_each": [round(s, 4) for s in setup_s],
            "wall_s": wall,
            "timed_seconds": round(phase.seconds, 3),
            "units": {phase.unit: phase.n_units},
            "per_kind": kinds_summary(phase),
            "extra": phase.extra,
            "oracle_checks": {"checked": checked, "mismatched": mismatched},
        }
        if report:
            detail["trace_report"] = report
        phases = [settle, phase, base] if args.trace else [phase]
        attempted = sum(len(p.ops) for p in phases) + checked
        failed = sum(p.failed for p in phases) + mismatched
        detail["error_rate"] = failed / max(attempted, 1)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        return detail, result
    finally:
        t0 = time.perf_counter()
        wl.teardown()
        stop_spark(spark)
        wall["stop"] = time.perf_counter() - t0


def main(argv=None) -> int:
    t_main = time.perf_counter()
    args = parse_args(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cwd = os.getcwd()
    os.chdir(work)  # anything the engine writes relative to the cwd stays in the run dir
    try:
        detail, result = run(args, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    detail["wall_s"]["total"] = time.perf_counter() - t_main
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    raise SystemExit(main())
