"""Session-store primitives: fixed-gap sessionization with exact
BIGINT cents, the atom merge, and the continuation-cutoff derivation —
shared by the streaming session-store maintainer
(streaming/session_store.py), the ``incremental_session_merge`` /
``late_event_session_repair`` catalog entries (plans/parity.py), and
their tests. Lives in operators/ so the runtime maintainer never
imports the plans layer (which would drag full catalog registration
into every streaming import).

Semantics: a session is a maximal run of same-user events with
inter-event gaps <= ``gap_s`` (boundary INCLUSIVE — Spark's
``session_window`` merges at exactly the gap, matching the DuckDB
oracles' ``> gap`` new-session test; probed empirically in
tests/test_staging_r15.py). The reference's 30 s gap
(flink_stream_task1.py:30-41) is widened to 10 minutes for the
maintenance family so multi-event sessions exist at every test SF.

One merge serves every incremental path: stored sessions and new
events are both session ATOMS (a raw event is the degenerate atom
[ts, ts]), and :func:`resessionize_atoms` fuses any union of atoms into
the sessions of the underlying events — one ``user_id`` shuffle, with
no precondition on how the events were split between the two sides.
The streaming maintainer runs it over {stored tail} ∪ {batch events},
the merge entry over {store sessions} ∪ {fresh sessions}, the
dead-letter drain over {stored sessions} ∪ {late events}.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Maintenance-family session gap, seconds (see module docstring).
GAP_S = 600.0
_GAP_EXPR = "10 minutes"


def sessions_full(ev: DataFrame) -> DataFrame:
    """Fixed-gap sessions with first/last event ts + exact cent sums:
    (user_id, session_start, session_end, sum_cents, event_count)."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (ev.groupBy("user_id", F.session_window("ts", _GAP_EXPR))
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.sum(cents).alias("sum_cents"),
                 F.count(F.lit(1)).cast("long").alias("event_count"))
            .drop("session_window"))


def event_atoms(ev: DataFrame) -> DataFrame:
    """Raw events as degenerate session atoms [ts, ts] with their own
    exact cents and a count of 1 — the store's row shape. A null-ts
    event belongs to no session, as in ``session_window``."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return ev.where(F.col("ts").isNotNull()).select(
        "user_id", F.col("ts").alias("session_start"),
        F.col("ts").alias("session_end"), cents.alias("sum_cents"),
        F.lit(1).cast("long").alias("event_count"))


def continuation_cutoff(ev: DataFrame, gap_s: float = GAP_S):
    """The latest event ts that CONTINUES a session (has a same-user
    predecessor within the gap), or None. Splitting the stream there
    guarantees at least one session straddles the split — the
    non-vacuity anchor shared by the merge entry and its tests."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cont = (ev.withColumn("_prev", F.lag("ts").over(w))
            .where(F.col("_prev").isNotNull()
                   & (F.col("ts").cast("double")
                      - F.col("_prev").cast("double") <= gap_s)))
    return cont.agg(F.max("ts")).first()[0]


def resessionize_atoms(atoms: DataFrame, gap_s: float = GAP_S,
                       carry: tuple[str, ...] = ()) -> DataFrame:
    """Gaps-and-islands over session ATOMS — rows shaped like the store
    (user_id, session_start, session_end, sum_cents, event_count),
    where a raw event is the degenerate atom [ts, ts] with its own
    cents and count 1. Returns the same shape with overlapping /
    within-gap atoms fused (boundary inclusive, matching
    ``session_window``). ``carry`` names per-user columns (constant
    within a user) that pass through to the output unchanged.

    Exactness: a store's sessions for one user are maximal runs
    separated by > gap, so re-sessionizing {stored atoms} ∪ {new-event
    atoms} equals re-sessionizing the user's full raw history — a new
    event, on time or late, can only extend a session, open its own, or
    bridge two (it can never SPLIT one), so no information beyond the
    stored partials is required. Proven against the full recompute in
    tests/test_session_store_stream.py.

    Scale: one shuffle on user_id; every window and the island
    aggregate reuse that partitioning, so a caller that partitions by
    user_id first (the maintainer's late flag) adds no exchange. The
    windows run over per-user atom counts (the user's stored atoms plus
    their new events — ingest-sized, never corpus-sized). Island
    detection uses the RUNNING MAX of prior ends, not lag, because a
    late atom can nest entirely inside a stored span."""
    w = Window.partitionBy("user_id").orderBy("session_start",
                                              "session_end")
    prev_max_end = F.max("session_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = atoms.withColumn(
        "_new",
        F.when(prev_max_end.isNull(), F.lit(1))
        .when(F.col("session_start").cast("double")
              - prev_max_end.cast("double") > gap_s, F.lit(1))
        .otherwise(F.lit(0)))
    islands = flagged.withColumn(
        "_sid", F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy("user_id", "_sid", *carry)
            .agg(F.min("session_start").alias("session_start"),
                 F.max("session_end").alias("session_end"),
                 F.sum("sum_cents").alias("sum_cents"),
                 F.sum("event_count").cast("long").alias("event_count"))
            .drop("_sid"))


def merge_sessions(store: DataFrame, fresh: DataFrame,
                   gap_s: float = GAP_S) -> DataFrame:
    """Merge two session sets — a persisted store and the sessions of
    newly arrived events — into the sessions of all their events: both
    sides are atoms, so the union re-sessionizes exactly, wherever the
    events were split between the sides (cutoff-sweep and hypothesis
    property tests, tests/test_maintenance_entries.py)."""
    return resessionize_atoms(store.unionByName(fresh), gap_s)
