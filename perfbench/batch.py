"""The batch workload: closed loop, one client, a fixed catalog mix.

Each pass runs every query of the mix once, in the mix's order, timing
build start to noop-write end; stage caches are released between passes.
A run measures a fixed number of passes (``PASSES``, two when traced),
whatever ``--seconds`` says, so its sample count and cache states never
depend on how fast the program or the host is. The seed draws the data.
Before the timed passes, an untimed warm-up pass collects every result
and checks it against the query's DuckDB oracle (entries without one
must return rows).
"""

from __future__ import annotations

import gc
import importlib
import time
from collections import defaultdict

import datagen
from oracle import DuckOracle
from harness import PKG
from spans import distribution, median, quantile, wrap_load_table

#: The catalog mix. Scan- and shuffle-bound queries whose builders run no
#: eager job: TPC-H shapes over 1 to 6 tables and the flagship
#: sessionization. Then LLM-pipeline queries over one or two small tables:
#: copurchase_pairs and association_rules share the persisted basket
#: stage, image_jpeg_ahash is compute-bound, dedup_exact is a single hash
#: aggregate, and ngram_jaccard_neardups' builder runs eager
#: localCheckpoint barrier jobs.
MIX = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue_change", "q9_product_type_profit",
    "q13_customer_order_distribution", "session_fixed_gap",
    "copurchase_pairs", "association_rules", "image_jpeg_ahash", "dedup_exact",
    "ngram_jaccard_neardups",
)

#: Timed passes in an untraced run. The percentiles pool every sample,
#: so one slow moment of a shared host moves one sample in three, not the
#: query's only one.
PASSES = 3

_GROUP = "spark.jobGroup.id"


def _queries(ctx, names, swap) -> dict:
    """name -> (catalog callable, oracle SQL or None)."""
    out = {}
    for n in names:
        spec = ctx.catalog.CATALOG[n]
        out[n] = (swap[n](spec.spark) if n in swap else spec.spark, spec.oracle)
    return out


def _release_stages() -> None:
    llm = importlib.import_module(f"{PKG}.plans.llm_pipeline")
    clear = getattr(llm, "clear_stage_caches", None)
    if clear is not None:
        clear()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _traced_query(ctx, k: int, fn, data: str, acc: dict) -> float:
    """One traced sample: spans around build, planning and execution,
    each in its own job group; returns the wall time."""
    sc, tr, spark = ctx.spark.sparkContext, ctx.tracer, ctx.spark
    first_span = len(tr.spans)
    with tr.span("query") as q:
        sc.setLocalProperty(_GROUP, f"q{k}.build")
        with tr.span("plans.build") as b:
            df = fn(spark, data)
        sc.setLocalProperty(_GROUP, f"q{k}.plan")
        with tr.span("catalyst.plan") as p:
            df._jdf.queryExecution().executedPlan()
        sc.setLocalProperty(_GROUP, f"q{k}.exec")
        with tr.span("exec.run") as x:
            _noop(df)
        sc.setLocalProperty(_GROUP, None)
    wall = q["end"] - q["start"]
    loads = [s for s in tr.spans[first_span:] if s["name"] == "sources.batch.load_table"]
    load_s = sum(s["end"] - s["start"] for s in loads)
    build_s, plan_s, run_s = (s["end"] - s["start"] for s in (b, p, x))
    jobs = defaultdict(list)
    for j in ctx.status.new_jobs():
        jobs[j["group"]].append(j)
    exec_stats = ctx.status.stage_totals(
        [s for j in jobs[f"q{k}.exec"] for s in j["stages"]])
    acc["load_calls"].append(len(loads))
    acc["load_s"].append(load_s)
    acc["load_jobs"].append(len(jobs[f"q{k}.build.load"]))
    acc["build_s"].append(build_s - load_s)
    acc["build_jobs"].append(len(jobs[f"q{k}.build"]))
    acc["plan_s"].append(plan_s)
    acc["run_s"].append(run_s)
    acc["exec_jobs"].append(len(jobs[f"q{k}.exec"]))
    for key in ("stages", "tasks", "shuffle_read", "shuffle_write", "spill"):
        acc[key].append(exec_stats[key])
    acc["task_busy_s"].append(exec_stats["run_ms"] / 1000)
    acc["cached_bytes"].append(ctx.status.cached_bytes())
    acc["coverage"].append((build_s + plan_s + run_s) / wall)
    return wall


def run(ctx, swap: dict) -> dict:
    data = ctx.path("data")

    def stage_inputs():
        datagen.write_tables(data, ctx.sf, ctx.seed)

    ctx.setup(stage_inputs)
    spark, tracer = ctx.spark, ctx.tracer
    if tracer.enabled:
        wrap_load_table(tracer, PKG)
    queries = _queries(ctx, MIX, swap)
    calib_pre = ctx.calibrate()

    # Warm-up pass = correctness gate: untimed against the measured
    # passes, but its own duration is the warmup_s metric.
    attempted = failed = 0
    failures: list[str] = []
    oracle = DuckOracle(data)
    _release_stages()
    warmup: dict[str, float] = {}
    oracle_s = 0.0
    session_events = []
    for name in MIX:
        fn, sql = queries[name]
        attempted += 1
        try:
            t = time.perf_counter()
            got = fn(spark, data).toPandas()
            warmup[name] = time.perf_counter() - t
            if name == "session_fixed_gap":
                session_events = got["event_count"].tolist()
            ok, why = oracle.check(got, sql)
            oracle_s += time.perf_counter() - t - warmup[name]
        except Exception as e:  # a raising query is a failed operation
            ok, why = False, f"raised {e!r}"[:400]
        if not ok:
            failed += 1
            failures.append(f"{name}: {why}")
    oracle.close()
    warmup_s = sum(warmup.values())

    samples: list[tuple[str, float, bool]] = []
    acc: dict[str, list] = defaultdict(list)
    if tracer.enabled:
        ctx.status.mark()
    start = time.perf_counter()
    k = 0
    # A traced run traces every other query and swaps the halves in its
    # second pass, so each query has a traced and an untraced sample taken
    # from the same cache state: the pairs give the tracing overhead.
    passes = 2 if tracer.enabled else PASSES
    for p in range(passes):
        _release_stages()
        spark.sparkContext._jvm.System.gc()
        gc.collect()
        for i, name in enumerate(MIX):
            fn, _ = queries[name]
            traced = tracer.enabled and (i + p) % 2 == 0
            attempted += 1
            k += 1
            try:
                if traced:
                    dt = _traced_query(ctx, k, fn, data, acc)
                else:
                    t = time.perf_counter()
                    _noop(fn(spark, data))
                    dt = time.perf_counter() - t
            except Exception as e:
                failed += 1
                failures.append(f"{name}: raised {e!r}"[:400])
                continue
            samples.append((name, dt, traced))
    measured = time.perf_counter() - start
    calib_post = ctx.calibrate()

    plain = [dt for _, dt, traced in samples if not traced]
    end_to_end = {
        "setup_s": ctx.setup_s,
        "warmup_s": warmup_s,
        "op_p50_s": median(plain),
        "op_p90_s": quantile(plain, 90),
        "throughput_per_s": len(samples) / measured,
    }
    per_layer = {}
    if tracer.enabled:
        per_layer = _layer_metrics(ctx, acc, samples)
    info = {
        "provenance": ctx.provenance(),
        "calibration_s": {"pre": calib_pre, "post": calib_post},
        "sf": ctx.sf, "mix": list(MIX), "passes": passes,
        "samples": len(samples), "measured_s": measured,
        "query_p50_s": median(plain), "query_p90_s": quantile(plain, 90),
        "queries_per_s": len(samples) / measured,
        "session_events": distribution(session_events),
        "warmup_per_query_s": warmup, "gate_oracle_s": oracle_s,
        "per_query_median_s": {
            n: median(dt for m, dt, _ in samples if m == n) for n in MIX},
        "per_query_s": {
            n: [dt for m, dt, _ in samples if m == n] for n in MIX},
    }
    return {"attempted": attempted, "failed": failed, "failures": failures,
            "end_to_end": end_to_end, "per_layer": per_layer, "info": info}


def _layer_metrics(ctx, acc: dict, samples) -> dict:
    def mean(key):
        v = acc.get(key) or [0.0]
        return sum(v) / len(v)

    traced = [dt for _, dt, t in samples if t]
    plain = {}
    for name, dt, t in samples:
        if not t:
            plain.setdefault(name, []).append(dt)
    ratios = []
    for name, dt, t in samples:
        if t and name in plain:
            ratios.append(dt / median(plain[name]))
    run_s = sum(acc["run_s"])
    return {
        "plans.build_s": mean("build_s"),
        "plans.build_jobs": mean("build_jobs"),
        "sources.batch.load_calls": mean("load_calls"),
        "sources.batch.load_s": mean("load_s"),
        "sources.batch.load_jobs": mean("load_jobs"),
        "catalyst.plan_s": mean("plan_s"),
        "exec.run_s": mean("run_s"),
        "exec.jobs": mean("exec_jobs"),
        "exec.stages": mean("stages"),
        "exec.tasks": mean("tasks"),
        "exec.shuffle_read_bytes": mean("shuffle_read"),
        "exec.shuffle_write_bytes": mean("shuffle_write"),
        "exec.spill_bytes": mean("spill"),
        "exec.task_busy_s": mean("task_busy_s"),
        "exec.cpu_util": (sum(acc["task_busy_s"]) / (run_s * ctx.cores)
                          if run_s else 0.0),
        "exec.cached_bytes": mean("cached_bytes"),
        "trace.layer_coverage_min": min(acc["coverage"], default=0.0),
        "trace.samples": len(traced),
        "trace.overhead_ratio": median(ratios) - 1 if ratios else 0.0,
    }
