"""What every workload shares: the run context, set-up, the host probes,
the metric registry and the result object."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

from spans import StatusReader, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "windowsession_using_kafka_flink_docker_spark"
WORKLOADS = ("batch", "stream_ingest")

#: End-to-end metrics, reported by every workload with ``--trace 0``.
END_TO_END = {
    "setup_s": "s", "warmup_s": "s", "op_p50_s": "s", "op_p90_s": "s",
    "throughput_per_s": "1/s",
}

#: Per-layer metrics, reported by every workload with ``--trace 1``; a
#: layer the workload does not exercise reads 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.catalog.import_s": "s",
    "sources.batch.load_calls": "count",
    "sources.batch.load_s": "s",
    "sources.batch.load_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "catalyst.plan_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_busy_s": "s",
    "exec.cpu_util": "ratio",
    "exec.cached_bytes": "bytes",
    "streaming.sources.offset_ms": "ms",
    "streaming.checkpoint_ms": "ms",
    "streaming.batches": "count",
    "streaming.batch_rows_p50": "count",
    "streaming.pipeline.add_batch_ms": "ms",
    "streaming.pipeline.state_rows": "count",
    "streaming.pipeline.state_bytes": "bytes",
    "streaming.pipeline.late_rows_dropped": "count",
    "streaming.session_store.merge_s": "s",
    "streaming.session_store.merge_jobs": "count",
    "streaming.rollup.merge_s": "s",
    "streaming.session_store.state_bytes_per_event": "bytes",
    "streaming.session_store.frozen_leaves": "count",
    "streaming.session_store.read_s": "s",
    "streaming.rollup.read_s": "s",
    "streaming.local1_events_per_s": "1/s",
    "generator.late_s_max": "s",
    "trace.layer_coverage_min": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.samples": "count",
}


def cpu_times() -> list[int] | None:
    """Aggregate CPU jiffies from /proc/stat (None off Linux)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` readings: other tenants' load on a shared host."""
    if not before or not after or len(before) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


class Context:
    """What one run owns: its options, work directory, Spark session,
    catalog module and tracer. ``t0`` is the process start time."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 t0: float, sf: float = 0.01):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.t0, self.sf = t0, sf
        self.tracer = Tracer(trace)
        self.cores = min(4, os.cpu_count() or 1)
        self.work = os.path.join(os.getcwd(), ".perfbench",
                                 f"{workload}-s{seed}-t{int(trace)}")
        self.spark = None
        self.catalog = None
        self.setup_s = self.get_spark_s = self.import_s = 0.0
        self.status: StatusReader | None = None
        self.cpu_start = cpu_times()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def prepare_env(self) -> None:
        """Keep every file Spark, the JVM and Python write under the
        run's work directory."""
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.path("tmp"))
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("tmp")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={self.path('tmp')}", "-XX:-UsePerfData"]))
        # Python workers import the package by name.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")]))

    def setup(self, stage_inputs) -> None:
        """Stage inputs, start the session, import the catalog; timed
        from process start."""
        stage_inputs()
        t = time.time()
        session = __import__(f"{PKG}.session", fromlist=["get_spark"])
        self.spark = session.get_spark(f"perfbench-{self.workload}")
        t2 = time.time()
        self.catalog = __import__(f"{PKG}.plans.catalog", fromlist=["CATALOG"])
        end = time.time()
        self.setup_s, self.get_spark_s, self.import_s = end - self.t0, t2 - t, end - t2
        self.status = StatusReader(self.spark)

    def restart(self, master: str, shuffle_partitions: int) -> None:
        """Replace the session with one on ``master`` (untimed)."""
        self.spark.stop()
        session = sys.modules[f"{PKG}.session"]
        self.spark = session.get_spark(
            f"perfbench-{self.workload}", master=master,
            extra_conf={"spark.sql.shuffle.partitions": str(shuffle_partitions)})
        self.status = StatusReader(self.spark)

    def calibrate(self) -> float:
        """Host-speed probe: a fixed CPU-bound Spark sum, median of 3."""
        times = []
        for i in range(4):
            t = time.perf_counter()
            self.spark.range(0, 10_000_000, 1, self.cores).selectExpr(
                "sum(id * 2 + (id % 7)) AS s").collect()
            if i:  # the first pays the probe's own code generation
                times.append(time.perf_counter() - t)
        return statistics.median(times)

    def provenance(self) -> dict:
        """Host facts; ``cores`` comes from the running context."""
        sc = self.spark.sparkContext
        return {"nproc": os.cpu_count(), "cores": sc.defaultParallelism,
                "master": sc.master, "python": sys.version.split()[0],
                "spark": self.spark.version,
                "cpu_steal_share": steal_share(self.cpu_start, cpu_times())}

    def setup_metrics(self) -> dict:
        return {"session.get_spark_s": self.get_spark_s,
                "plans.catalog.import_s": self.import_s}


def run(ctx: Context, swap: dict | None = None) -> dict:
    """Run one workload. ``swap`` maps a query name to a function that
    wraps its callable (the self-test uses it to break one query)."""
    ctx.prepare_env()
    if ctx.workload == "stream_ingest":
        import stream as workload
    else:
        import batch as workload
    try:
        res = workload.run(ctx, swap or {})
        if ctx.tracer.enabled:
            ctx.tracer.dump(ctx.path("spans.json"))
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
        shutil.rmtree(ctx.path("tmp"), ignore_errors=True)
    return res


def _stop_jvm() -> None:
    """Close the JVM's stdin, which is its signal to exit, and wait until
    it has: a run leaves no process behind."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        proc.wait(timeout=60)


def result(ctx: Context, res: dict) -> dict:
    """Print the info line; return the result object with every metric
    of the registry the run's mode reports."""
    info = {"workload": ctx.workload, "seed": ctx.seed,
            "trace": ctx.tracer.enabled,
            "failed_ratio": res["failed"] / max(1, res["attempted"]),
            **res["info"]}
    print("perfbench-info " + json.dumps(info, default=str), flush=True)
    for f in res["failures"][:10]:
        print(f"perfbench-failure {f}", flush=True)
    if ctx.tracer.enabled:
        registry, values = PER_LAYER, {**ctx.setup_metrics(), **res["per_layer"]}
    else:
        registry, values = END_TO_END, res["end_to_end"]
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in registry.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
