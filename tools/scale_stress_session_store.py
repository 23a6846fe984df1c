#!/usr/bin/env python
"""Write-amplification + read-amplification curve for the session-store
maintainer (#24) after the r17 frozen/tail split (VERDICT r16 item 8:
"extend the read-amp curve to the session store, mirroring the r16
BM25/neardup treatment").

Before the split every micro-batch rewrote the WHOLE session table
(O(all sessions ever) per batch — flat at sf0.01, linear death at
uptime). After it, a batch writes one batch-sized frozen increment plus
the per-user tail, so the per-batch cost curve over N chronological
ingests should be FLAT in the batch index; the read side (current())
grows with the frozen increment count and is bounded by the in-stream
``compact_every`` fold.

The events table is sliced into N chronological batches (monotonicity
contract), ingested twice: once with compaction disabled and once with
``compact_every=16``. Per-batch merge wall time is sampled at
checkpoints, the median merge seconds and Spark jobs (counted per merge
under a job group) are taken over every merge with a previous version,
current() is timed (min of 3) at the end of each run, and
— as the honest "what would the old design cost" yardstick — the time
to rewrite the final full table whole is measured once (that was the
OLD per-batch floor at the final store size).

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
        python tools/scale_stress_session_store.py

Prints one JSON line:
    {"n_events": ..., "n_batches": N,
     "merge_sec_at": {"1": s, "10": s, "25": s, "48": s,
                      "median": s, "jobs_median": n},
     "merge_sec_at_compacted": {...}, "final_leaves": n,
     "final_leaves_compacted": n, "read_sec": s,
     "read_sec_compacted": s, "whole_rewrite_sec": s,
     "rows_match": true}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark import get_spark
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table

N_BATCHES = int(os.environ.get("SESS_STORE_BATCHES", "48"))
CHECKPOINTS = (1, 10, 25, N_BATCHES)


def _slices(ev, n):
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n
    out = []
    for i in range(n):
        cond = (F.col("ts") >= F.lit(lo + i * span))
        if i < n - 1:
            cond = cond & (F.col("ts") < F.lit(lo + (i + 1) * span))
        out.append(ev.where(cond).localCheckpoint())
    return out


def _run(spark, slices, compact_every):
    from windowsession_using_kafka_flink_docker_spark.streaming.session_store import (
        IncrementalSessionStoreMaintainer,
    )

    state = tempfile.mkdtemp(prefix="sess_stress_")
    maint = IncrementalSessionStoreMaintainer(
        spark, state, compact_every=compact_every)
    sc = spark.sparkContext
    merge_at, secs, jobs = {}, [], []
    for i, sl in enumerate(slices):
        group = f"sess-stress-{compact_every}-{i}"
        sc.setJobGroup(group, "session-store merge")
        t0 = time.perf_counter()
        maint.merge_batch(sl, i)
        dt = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        secs.append(dt)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        if (i + 1) in CHECKPOINTS:
            merge_at[str(i + 1)] = round(dt, 3)
    # per-merge medians over the merges that have a previous version
    merge_at["median"] = round(statistics.median(secs[1:]), 3)
    merge_at["jobs_median"] = statistics.median(jobs[1:])
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        maint.current().count()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return maint, state, merge_at, round(best, 3)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("session-store-stress")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "value")
    slices = _slices(ev, N_BATCHES)

    plain, state_a, merge_plain, read_plain = _run(spark, slices, None)
    comp, state_b, merge_comp, read_comp = _run(spark, slices, 16)

    rows_match = (
        sorted(map(tuple, plain.current().collect()))
        == sorted(map(tuple, comp.current().collect())))

    # the OLD design's per-batch floor at the final store size: one
    # whole-table rewrite (what every batch used to pay)
    whole = plain.current().localCheckpoint(eager=True)
    t0 = time.perf_counter()
    whole.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(state_a, "whole_rewrite_probe"))
    whole_sec = round(time.perf_counter() - t0, 3)

    out = {
        "n_events": ev.count(),
        "n_batches": N_BATCHES,
        "merge_sec_at": merge_plain,
        "merge_sec_at_compacted": merge_comp,
        "final_leaves": len(plain._frozen_leaves()),
        "final_leaves_compacted": len(comp._frozen_leaves()),
        "read_sec": read_plain,
        "read_sec_compacted": read_comp,
        "whole_rewrite_sec": whole_sec,
        "rows_match": bool(rows_match),
    }
    print("SESSSTORE " + json.dumps(out))
    shutil.rmtree(state_a, ignore_errors=True)
    shutil.rmtree(state_b, ignore_errors=True)
    return 0 if rows_match else 1


if __name__ == "__main__":
    raise SystemExit(main())
