"""The streaming workload: open-loop ingest into two streaming queries.

One generator thread writes seeded event chunks into a source directory
on a fixed schedule (``RATE`` events per second, one chunk every
``CHUNK_S``), each under a temporary name and then renamed. Two queries
read the directory with an explicit schema:

- ``streaming_sessionize`` into the package's checkpointed parquet sink;
- one ``foreachBatch`` that merges each micro-batch into an
  ``IncrementalSessionStoreMaintainer`` (configured as the analytics
  maintenance job configures it) and an ``IncrementalRollupMaintainer``.

Before the open loop, a warm-up runs both queries' first trigger, a
second one through the maintainers' merge path, and one read of each
maintained table. During the open loop the main thread reads both
maintainers' ``current()`` every ``READ_EVERY_S``. Each event's ingest
lag runs from its due time at the generator to the end of the later of
the two micro-batches that read its chunk (batch ends from the queries'
progress events, chunk-to-batch from each file source's log). After
``--seconds`` the run stops the queries, stages a backlog, restarts them
from their checkpoints with one chunk per micro-batch and drains, twice:
a one-chunk round warms the restart path, and a ``BACKLOG_CHUNKS`` round
is timed. The timed backlog ends with a far-future sentinel event that
closes every session for the final check against batch recomputes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time

import numpy as np

import datagen
from harness import PKG
from oracle import same_rows
from spans import distribution, median, quantile

RATE = 500           # offered events per second
CHUNK_S = 0.5        # generator period: one chunk file per period
WARMUP_CHUNKS = 2    # staged before the queries start; the first trigger
BACKLOG_CHUNKS = 4   # timed catch-up: staged while the queries are stopped...
BACKLOG_CHUNK = 2500  # ...each this many events
READ_EVERY_S = 2.0
N_USERS = 400        # regular users, ids 10 .. 10 + N_USERS - 1
SENTINEL_USER = -1


def _now_ts(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Progress:
    """Collects the queries' progress events (a StreamingQueryListener
    delivers them on a callback thread)."""

    def __init__(self):
        self.events: dict[str, list[dict]] = {}
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                state = p.stateOperators
                rec = {
                    "batch": p.batchId, "run": str(p.runId),
                    "rows": p.numInputRows,
                    "end": _now_ts(p.timestamp) + p.durationMs.get("triggerExecution", 0) / 1000,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in state),
                    "state_bytes": sum(s.memoryUsedBytes for s in state),
                    "late": sum(s.numRowsDroppedByWatermark for s in state),
                }
                with outer._lock:
                    outer.events.setdefault(str(p.id), []).append(rec)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def of(self, query_id: str) -> list[dict]:
        with self._lock:
            return sorted(self.events.get(query_id, []), key=lambda r: r["batch"])



class Pipeline:
    """The two streaming queries over one source directory."""

    def __init__(self, ctx, src: str, root: str):
        from importlib import import_module

        self.ctx, self.src, self.root = ctx, src, root
        streaming = import_module(f"{PKG}.streaming")
        self._sinks = import_module(f"{PKG}.streaming.sinks")
        self._sessionize = streaming.streaming_sessionize
        spark = ctx.spark
        self.store = streaming.IncrementalSessionStoreMaintainer(
            spark, self.path("state", "session_store"),
            dead_letter_dir=self.path("state", "session_store_dead_letter"),
            compact_every=16)
        self.rollup = streaming.IncrementalRollupMaintainer(
            spark, self.path("state", "rollup"))
        self.queries = []
        self.ids: dict[str, str] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _merge(self, batch_df, batch_id: int) -> None:
        tr = self.ctx.tracer
        with tr.span("streaming.session_store.merge_batch", batch=batch_id):
            self.store.merge_batch(batch_df, batch_id)
        with tr.span("streaming.rollup.merge_batch", batch=batch_id):
            self.rollup.merge_batch(batch_df, batch_id)

    def start(self, max_files: int | None = None) -> None:
        """Start both queries; ``max_files`` caps the chunk files each
        micro-batch reads."""
        reader = self.ctx.spark.readStream.schema(datagen.EVENTS_DDL)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        events = reader.parquet(self.src)
        sess = self._sinks.parquet_sink(
            self._sessionize(events), self.path("sink", "sessions"),
            self.path("ckpt", "sessionize"))
        maint = (events.writeStream.option(
            "checkpointLocation", self.path("ckpt", "maintain"))
            .foreachBatch(self._merge).start())
        self.queries = [sess, maint]
        self.ids = {"sessionize": str(sess.id), "maintain": str(maint.id)}
        self.maint_run = str(maint.runId)

    def drain(self) -> None:
        for q in self.queries:
            q.processAllAvailable()

    def catch_up(self, stream: datagen.EventStream, chunks: int,
                 sentinel_user: int | None = None) -> tuple[int, float]:
        """Stop, stage ``chunks`` chunks (the last one ending with a
        sentinel event for ``sentinel_user``, if given), restart from the
        checkpoints with one chunk per micro-batch and drain; returns
        (backlog events, seconds from restart to drained)."""
        self.stop()
        before = stream.next_id
        for c in range(chunks):
            stream.write_next(self.src, BACKLOG_CHUNK,
                              sentinel_user if c == chunks - 1 else None)
        backlog = stream.next_id - before
        t = time.perf_counter()
        self.start(max_files=1)
        self.drain()
        return backlog, time.perf_counter() - t

    def stop(self) -> None:
        for q in self.queries:
            q.stop()
        self.queries = []

    def read(self, which: str) -> float:
        tr = self.ctx.tracer
        maintainer = self.store if which == "session_store" else self.rollup
        t = time.perf_counter()
        with tr.span(f"streaming.{which}.current"):
            maintainer.current().write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t


def _generate(stream: datagen.EventStream, src: str, start: float,
              seconds: float, lateness: list, errors: list) -> None:
    """Open loop: chunk k holds the events due in [k, k+1) periods after
    ``start`` and is written when its last event is due."""
    per_chunk = int(RATE * CHUNK_S)
    k = 0
    try:
        while (k + 1) * CHUNK_S <= seconds:
            due = start + (k + 1) * CHUNK_S
            pause = due - time.time()
            if pause > 0:
                time.sleep(pause)
            lateness.append(max(0.0, time.time() - due))
            stream.write_next(src, per_chunk)
            k += 1
    except Exception as e:  # reported as a failed operation
        errors.append(f"generator: {e!r}")


def _file_batches(checkpoint: str) -> dict[str, int]:
    """Chunk file name -> the micro-batch that read it, from the file
    source's metadata log in the query's checkpoint."""
    log = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _lags(progress: Progress, pipe: "Pipeline", first: int, n: int,
          start: float) -> np.ndarray:
    """Per-event ingest lag for events ``first .. first+n-1``: the end of
    the later of the two micro-batches that read the event's chunk, minus
    the event's due time."""
    per_chunk = int(RATE * CHUNK_S)
    commit = np.zeros(n // per_chunk)
    for name, qid in pipe.ids.items():
        ends = {r["batch"]: r["end"] for r in progress.of(qid)}
        batches = _file_batches(pipe.path("ckpt", name))
        for c in range(len(commit)):
            chunk = f"c{first + c * per_chunk:012d}.parquet"
            commit[c] = max(commit[c], ends[batches[chunk]])
    due = start + np.arange(len(commit) * per_chunk) / RATE
    return np.repeat(commit, per_chunk) - due


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _frozen_leaves(state_dir: str) -> int:
    frozen = os.path.join(state_dir, "frozen")
    if not os.path.isdir(frozen):
        return 0
    return sum(1 for d in os.listdir(frozen) if d.startswith("inc=")
               and os.path.exists(os.path.join(frozen, d, "_SUCCESS")))


def _final_checks(ctx, pipe: Pipeline, src: str) -> tuple[list[str], list[int]]:
    """Stream sessions equal batch ``sessionize``; both maintained tables
    equal a full batch recompute over every event the stream read.
    Returns the failures and the event count of each batch session."""
    from importlib import import_module

    from pyspark.sql import functions as F

    spark = ctx.spark
    sessionize = import_module(f"{PKG}.operators.sessionize").sessionize
    sessions_full = import_module(f"{PKG}.operators.session_store").sessions_full
    R = import_module(f"{PKG}.operators.rollup")
    events = spark.read.schema(datagen.EVENTS_DDL).parquet(src)
    real = events.where(F.col("user_id") != SENTINEL_USER)
    stream_sessions = spark.read.parquet(pipe.path("sink", "sessions")) \
        .where(F.col("user_id") != SENTINEL_USER)
    checks = {
        "stream sessions == batch sessionize": (
            stream_sessions, sessionize(real)),
        "session store == batch recompute": (
            pipe.store.current(), sessions_full(events)),
        "rollup == batch recompute": (
            pipe.rollup.current(),
            R.rollup_present(R.rollup_partials(R.with_day(events)))),
    }
    failures, session_events = [], []
    for name, (got, want) in checks.items():
        try:
            want = want.toPandas()
            ok, why = same_rows(got.toPandas(), want)
            if name.startswith("stream sessions"):
                session_events = want["event_count"].tolist()
        except Exception as e:  # a raising check is a failed operation
            ok, why = False, f"raised {e!r}"[:400]
        if not ok:
            failures.append(f"{name}: {why}")
    return failures, session_events


def run(ctx, swap: dict) -> dict:
    src = ctx.path("source")
    per_chunk = int(RATE * CHUNK_S)
    state = {}

    def stage_inputs():
        os.makedirs(src)
        stream = datagen.EventStream(np.random.default_rng([ctx.seed, 7]),
                                     range(10, 10 + N_USERS))
        for _ in range(WARMUP_CHUNKS):
            stream.write_next(src, per_chunk)
        state["stream"] = stream

    ctx.setup(stage_inputs)
    stream, tracer = state["stream"], ctx.tracer
    calib_pre = ctx.calibrate()
    progress = Progress()
    listener = progress.listener()
    ctx.spark.streams.addListener(listener)
    failures: list[str] = []
    attempted = 0
    pipe = Pipeline(ctx, src, ctx.work)
    try:
        # Warm-up: the first trigger of both queries, a second one so the
        # maintainers' merge path (which needs a previous version) runs,
        # and one read of each maintained table.
        t = ctx_t = time.perf_counter()
        pipe.start()
        pipe.drain()
        stream.write_next(src, per_chunk)
        pipe.drain()
        for which in ("session_store", "rollup"):
            pipe.read(which)
        warmup_s = time.perf_counter() - t
        phases = {"warm": time.perf_counter()}

        # Open loop for --seconds, reading the maintained tables meanwhile.
        lateness: list[float] = []
        gen_errors: list[str] = []
        if tracer.enabled:
            ctx.status.mark()
        start = time.time() + 0.05
        first = stream.next_id
        gen = threading.Thread(target=_generate, args=(
            stream, src, start, ctx.seconds, lateness, gen_errors))
        gen.start()
        reads = {"session_store": [], "rollup": []}
        while gen.is_alive():
            tick = time.perf_counter()
            for which in reads:
                attempted += 1
                try:
                    reads[which].append(pipe.read(which))
                except Exception as e:
                    failures.append(f"read {which}: {e!r}"[:400])
            gen.join(timeout=max(0.0, READ_EVERY_S - (time.perf_counter() - tick)))
        failures += gen_errors
        n_loop = stream.next_id - first
        pipe.drain()
        _wait_batches(progress, pipe)
        open_loop_end = {q: len(progress.of(i)) for q, i in pipe.ids.items()}
        window = (start, time.time())
        lags = _lags(progress, pipe, first, n_loop, window[0])
        store_bytes = _dir_bytes(pipe.path("state", "session_store"))
        frozen = _frozen_leaves(pipe.path("state", "session_store"))
        merge_jobs = _merge_jobs(ctx, pipe, window) if tracer.enabled else 0.0

        phases["open_loop_end"] = time.perf_counter()
        # Catch-up, twice: a one-chunk round warms the restart path, then
        # a backlog of BACKLOG_CHUNKS micro-batches is timed. The backlog
        # ends with the sentinel: its event time closes every open
        # session, so the sink holds them all for the final check.
        pipe.catch_up(stream, 1)
        phases["catch_up_warm"] = time.perf_counter()
        backlog, drain_s = pipe.catch_up(stream, BACKLOG_CHUNKS, SENTINEL_USER)
        events_per_s = backlog / drain_s
        pipe.stop()
        phases["catch_up_end"] = time.perf_counter()
        check_failures, session_events = _final_checks(ctx, pipe, src)
        failures += check_failures
        attempted += 3
        phases["checks_end"] = time.perf_counter()
    finally:
        for q in ctx.spark.streams.active:
            q.stop()
        ctx.spark.streams.removeListener(listener)
    calib_post = ctx.calibrate()
    provenance = ctx.provenance()
    local1 = _local1_baseline(ctx) if tracer.enabled else 0.0

    # Operations: each read and check above, plus each chunk written.
    attempted += len(os.listdir(src))
    # per-layer stream figures cover the data batches of the measured window
    loop_batches = {q: [r for r in progress.of(i)[:open_loop_end[q]]
                        if r["rows"] and r["end"] >= window[0]]
                    for q, i in pipe.ids.items()}

    def in_window(name):
        return [s["end"] - s["start"] for s in tracer.spans if s["name"] == name
                and s["end"] and window[0] <= s["start"] <= window[1]]

    end_to_end = {
        "setup_s": ctx.setup_s,
        "warmup_s": warmup_s,
        "op_p50_s": float(np.median(lags)),
        "op_p90_s": float(np.quantile(lags, 0.90)),
        "throughput_per_s": events_per_s,
    }
    per_layer = {}
    if tracer.enabled:
        sess_b, main_b = loop_batches["sessionize"], loop_batches["maintain"]
        both = sess_b + main_b
        per_layer = {
            "streaming.sources.offset_ms": median(
                r["ms"].get("latestOffset", 0) + r["ms"].get("getBatch", 0) for r in both),
            "streaming.checkpoint_ms": median(
                r["ms"].get("walCommit", 0) + r["ms"].get("commitOffsets", 0) for r in both),
            "streaming.batches": len(both),
            "streaming.batch_rows_p50": median(r["rows"] for r in both),
            "streaming.pipeline.add_batch_ms": median(
                r["ms"].get("addBatch", 0) for r in sess_b),
            "streaming.pipeline.state_rows": max((r["state_rows"] for r in sess_b), default=0),
            "streaming.pipeline.state_bytes": max((r["state_bytes"] for r in sess_b), default=0),
            "streaming.pipeline.late_rows_dropped": sum(
                r["late"] for r in progress.of(pipe.ids["sessionize"])),
            "streaming.session_store.merge_s": median(
                in_window("streaming.session_store.merge_batch")),
            "streaming.session_store.merge_jobs": merge_jobs,
            "streaming.rollup.merge_s": median(
                in_window("streaming.rollup.merge_batch")),
            "streaming.session_store.state_bytes_per_event": store_bytes / (first + n_loop),
            "streaming.session_store.frozen_leaves": frozen,
            "streaming.session_store.read_s": median(reads["session_store"]),
            "streaming.rollup.read_s": median(reads["rollup"]),
            "streaming.local1_events_per_s": local1,
            "generator.late_s_max": max(lateness, default=0.0),
            "trace.samples": len(tracer.spans),
        }
    info = {
        "provenance": provenance,
        "calibration_s": {"pre": calib_pre, "post": calib_post},
        "rate_per_s": RATE, "events_open_loop": int(n_loop),
        "backlog_events": backlog, "drain_s": drain_s,
        "ingest_lag_p50_s": float(np.median(lags)),
        "ingest_lag_p99_s": float(np.quantile(lags, 0.99)),
        "events_per_s": events_per_s,
        "read_p50_s": median(reads["session_store"] + reads["rollup"]),
        "read_p90_s": quantile(reads["session_store"] + reads["rollup"], 90),
        "reads": len(reads["session_store"]) + len(reads["rollup"]),
        "generator_late_s_max": max(lateness, default=0.0),
        "session_events": distribution(session_events),
        "phases_s": {k: v - ctx_t for k, v in phases.items()},
    }
    if tracer.enabled:
        with open(ctx.path("progress.json"), "w") as f:
            json.dump({"ids": pipe.ids, "events": progress.events,
                       "window": window}, f)
    return {"attempted": attempted, "failed": len(failures), "failures": failures,
            "end_to_end": end_to_end, "per_layer": per_layer, "info": info}


def _wait_batches(progress: Progress, pipe: Pipeline, timeout: float = 30.0) -> None:
    """Progress events arrive asynchronously: wait until each query's
    events include its last committed batch."""
    deadline = time.time() + timeout
    for q in pipe.queries:
        last = q.lastProgress["batchId"]
        while not any(r["batch"] >= last for r in progress.of(str(q.id))):
            if time.time() > deadline:
                raise TimeoutError("progress events lag the queries")
            time.sleep(0.05)


def _merge_jobs(ctx, pipe: Pipeline, window: tuple[float, float]) -> float:
    """Median Spark jobs per session-store merge in ``window``: jobs of the
    maintenance query's job group submitted inside a merge span."""
    spans = [s for s in ctx.tracer.spans
             if s["name"] == "streaming.session_store.merge_batch" and s["end"]
             and window[0] <= s["start"] <= window[1]]
    jobs = [j for j in ctx.status.new_jobs() if j["group"] == pipe.maint_run]
    counts = [sum(1 for j in jobs if j["submitted"] is not None
                  and s["start"] - 0.001 <= j["submitted"] <= s["end"] + 0.001)
              for s in spans]
    return median(counts)


def _local1_baseline(ctx) -> float:
    """Single-thread baseline: the same warm and timed catch-up drains on
    a ``local[1]`` session (one shuffle partition), fresh state and inputs."""
    root = ctx.path("local1")
    src = os.path.join(root, "source")
    os.makedirs(src)
    stream = datagen.EventStream(np.random.default_rng([ctx.seed, 8]),
                                 range(10, 10 + N_USERS))
    for _ in range(WARMUP_CHUNKS):
        stream.write_next(src, int(RATE * CHUNK_S))
    ctx.restart("local[1]", 1)
    pipe = Pipeline(ctx, src, root)
    pipe.start()
    pipe.drain()
    pipe.catch_up(stream, 1)
    events, seconds = pipe.catch_up(stream, BACKLOG_CHUNKS)
    pipe.stop()
    return events / seconds
