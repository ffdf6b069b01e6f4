"""The engine's benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload weekly_retrain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The benchmark generates its inputs
from ``--seed`` (``gen.py``), runs the workload closed-loop from one
caller on ``local[nproc]``, checks every result it times, and prints as
its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, measured
on every other operation with spans and Spark listeners on (the
operations in between run untraced, which gives the tracing overhead).
The line before it carries the workload's own named metrics (``detail``).

Each workload times a fixed amount of work (one week; one revisit of
every page; twice that in a traced run), so that every host times the
same operations.  ``--seconds`` is accepted for the command-line
contract only: BENCHMARK.json's ``run_seconds`` is about what that fixed
work takes on a 4-core host.

Every file a run writes stays under ``.perfbench_runs/<run>/`` in the
checkout; only ``result.json`` (and ``spans.jsonl`` when traced) remain
after it exits.  See ``design.json`` for why each workload exists and
which layer each metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "sales_forecast_mlops_at_scale_spark")
#: A run that has not finished by then is killed without a result.
DEADLINE_S = 175.0
#: Canary runs at least, whatever the number of operations.
MIN_CANARIES = 9


def driver_memory() -> str:
    """A quarter of physical RAM, capped at 4 GiB: the engine's 16g default
    is more than small hosts have, and the heap must leave room for the
    Python workers.  A 2 GiB heap made the dashboard session's runs
    GC-bound and twice as noisy."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // 2**30))}g"


class Run:
    """State of one benchmark run: directories, session, operation log."""

    def __init__(self, args, run_dir: str) -> None:
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.dir = run_dir
        self.data = os.path.join(run_dir, "data")
        self.cpus = os.cpu_count() or 1
        self.spark = None
        self.ops: list[dict] = []
        self.checks = 0  # untimed checks run outside any operation
        self.checks_failed: list[str] = []
        self._op: dict | None = None
        self.tracer = None
        self.probe = None
        self.op_counters: list[dict] = []
        self.canaries: list[float] = []
        self.measuring = False

    # -- session ----------------------------------------------------------

    def start_spark(self):
        from sales_forecast_mlops_at_scale_spark.session import get_spark

        tmp = os.path.join(self.dir, "tmp")
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.path.join(self.dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            from tracing import SparkProbe, Tracer

            self.tracer = Tracer()
            self.tracer.install()
            self.probe = SparkProbe(self.spark)
        return self.spark

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        self.spark = None

    # -- operations -------------------------------------------------------

    def traced_now(self, key: str) -> bool:
        """In traced runs, every other operation of the same ``key`` is
        traced, starting with the first."""
        return self.trace and sum(op["key"] == key for op in self.ops) % 2 == 0

    def run_op(self, kind: str, body, key: str | None = None) -> dict:
        """Run one timed operation.  An exception in ``body(op)``, or a
        failed :meth:`check` inside it, marks the operation failed.
        ``op["wall"]`` is the timed wall; a body that checks its results
        inside ``body`` sets it to the part it timed.  ``key`` groups the
        operations that do the same work (default: ``kind``)."""
        key = key or kind
        op = {"kind": kind, "key": key, "ok": True, "traced": self.traced_now(key)}
        counters = self._begin(op) if op["traced"] else None
        self._op = op
        start = time.perf_counter()
        try:
            with self.span(kind, "bench"):
                body(op)
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            op["ok"] = False
            print(f"[perfbench] {kind} failed: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr)
        finally:
            self._op = None
        op.setdefault("wall", time.perf_counter() - start)
        if counters is not None:
            self._end(op, counters)
        self.ops.append(op)
        return op

    def _begin(self, op) -> dict:
        self.probe.attach()
        self.tracer.active = True
        self.tracer.op = len(self.ops)
        self.spark.sparkContext.setJobGroup(f"perfbench-{self.tracer.op}", op["kind"])
        return {"job": self.probe.next_job_id(), "gc": self.probe.gc_ms(), "progress": len(self.probe.progress)}

    def _end(self, op, counters) -> None:
        probe = self.probe
        probe.drain()
        self.tracer.active = False
        jobs, stages, tasks = probe.job_counts(counters["job"], probe.next_job_id())
        persisted, storage_mb = probe.storage()
        self.op_counters.append(
            {
                "jobs": jobs,
                "stages": stages,
                "tasks": tasks,
                "gc_ms": probe.gc_ms() - counters["gc"],
                "progress": probe.progress[counters["progress"] :],
                "persisted_rdds": persisted,
                "storage_mb": storage_mb,
            }
        )
        probe.detach()
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def sample_canary(self) -> None:
        """Time the canary once, while measuring: between operations, and
        between the untimed checks inside an untraced one, so that the
        samples cover the same stretch of host load as the walls (a
        traced operation counts every Spark job it runs)."""
        if self.measuring and not (self._op is not None and self._op["traced"]):
            self.canaries.append(canary(self.spark, self.cpus))

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else contextlib.nullcontext()

    def bucket(self, name: str):
        if self.probe is not None and self.tracer.active:
            return self.probe.bucket(name)
        return contextlib.nullcontext()

    def check(self, ok: bool, what: str) -> bool:
        """Record a correctness check: inside an operation it fails the
        operation; outside, it counts as an operation of its own."""
        if self._op is None:
            self.checks += 1
        if not ok:
            print(f"[perfbench] check failed: {what}", file=sys.stderr)
            if self._op is None:
                self.checks_failed.append(what)
            else:
                self._op["ok"] = False
        return ok


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water resident memory (MB) of the driver Python process and of
    the JVM it launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


def timed_stats(ops: list[dict], canary_s: float) -> dict:
    """Latency and throughput of the timed operations.  ``op_gmean_rel``
    is the geometric mean, over the kinds of operation (``key``: the week;
    each page), of each kind's median wall, in canaries: every kind's
    relative change counts the same, and a fixed mix of kinds with unlike
    walls has no middle operation for a median to settle on."""
    walls = [op["wall"] for op in ops]
    by_key: dict[str, list[float]] = {}
    for op in ops:
        by_key.setdefault(op["key"], []).append(op["wall"])
    gmean = statistics.geometric_mean(statistics.median(w) for w in by_key.values())
    return {
        "op_p50_s": statistics.median(walls),
        "ops_per_s": len(walls) / sum(walls),
        "op_gmean_s": gmean,
        "op_gmean_rel": gmean / canary_s,
    }


def canary(spark, cpus: int) -> float:
    """Wall of a fixed, registry-independent Spark job (a range scan into
    one aggregate over every core).  Host speed on shared machines drifts
    by 20-40% between runs and moves every wall of a run together; the
    end-to-end latency metrics are reported relative to this job, timed
    in the same run around the operations, so that runs compare."""
    t = time.perf_counter()
    spark.range(0, 4_000_000, 1, cpus).selectExpr("sum(id * id % 7)").collect()
    return time.perf_counter() - t


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument(
        "--inject-fault",
        choices=("ingest_dup_row",),
        help="corrupt the program's output on purpose (the benchmark's own tests use it)",
    )
    args = parser.parse_args(argv)

    if not os.path.isfile(os.path.join(PKG_DIR, "__init__.py")):
        print(f"perfbench: engine package not found at {PKG_DIR}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    t_process = time.perf_counter()
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    for sub in ("tmp", "spark-local", "data"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    # everything the engine, Spark and its Python workers write goes under
    # the run directory; workers import the engine from this checkout
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # also the launcher JVM spark-submit starts before the driver's
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", driver_memory())
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    sys.path[:0] = [ROOT]

    import sales_forecast_mlops_at_scale_spark as engine

    if os.path.dirname(os.path.abspath(engine.__file__)) != PKG_DIR:
        print(f"perfbench: engine imported from {engine.__file__}, not {PKG_DIR}", file=sys.stderr)
        return 2

    watchdog = threading.Timer(DEADLINE_S, lambda: os._exit(3))
    watchdog.daemon = True
    watchdog.start()

    run = Run(args, run_dir)
    wl = workloads.WORKLOADS[args.workload](run, fault=args.inject_fault)
    try:
        # input generation is the benchmark's own work: outside setup_s
        t = time.perf_counter()
        wl.prepare()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        run.start_spark()
        jvm_s = time.perf_counter() - t
        warm_s = wl.warm()
        setup_s = jvm_s + warm_s
        setup_total_s = time.perf_counter() - t_process

        run.measuring = True
        t0 = time.perf_counter()
        while True:
            run.sample_canary()
            if wl.step() is False:
                break
        measured_s = time.perf_counter() - t0
        while len(run.canaries) < MIN_CANARIES:
            run.sample_canary()
        run.measuring = False
        canary_s = statistics.median(run.canaries)
        t = time.perf_counter()
        wl.finish()
        finish_s = time.perf_counter() - t
        py_mb, jvm_mb = peak_rss_mb(run.spark)
        plain = [op for op in run.ops if not op["traced"]]
        failed = sum(not op["ok"] for op in run.ops) + len(run.checks_failed)
        attempted = len(run.ops) + run.checks
        detail = {
            "setup_total_s": setup_total_s,
            "gen_s": gen_s,
            "setup_jvm_s": jvm_s,
            "setup_warm_s": warm_s,
            "measured_s": measured_s,
            "finish_s": finish_s,
            "canary_s": canary_s,
            "peak_rss_mb": py_mb + jvm_mb,
            "python_rss_mb": py_mb,
            "jvm_rss_mb": jvm_mb,
            "ops": len(run.ops),
            "failed_share": failed / max(attempted, 1),
            **timed_stats(plain, canary_s),
            **wl.detail(plain),
        }
        if args.trace:
            run.per_layer_names = [m["name"] for m in spec["per_layer"]]
            metrics = wl.layer_metrics(run.ops)
            if run.tracer is not None:
                run.tracer.dump(os.path.join(run_dir, "spans.jsonl"))
        else:
            metrics = {"setup_s": setup_s, "op_gmean_rel": detail["op_gmean_rel"]}
    finally:
        run.stop_spark()
        for sub in ("data", "tmp", "spark-local", "warehouse"):
            shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
        watchdog.cancel()

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if set(metrics) != {m["name"] for m in wanted}:
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(metrics) ^ {m['name'] for m in wanted})}")
    units = {m["name"]: m["unit"] for m in wanted}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({"detail": detail, "checks_failed": run.checks_failed, "ops": run.ops, **result}, f, indent=1)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    raise SystemExit(main())
