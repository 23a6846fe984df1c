"""Parity queries — the reference's three jobs, batch-rendered on `events`.

Column mapping (FIXTURES.md §1): the driver's ``events`` table plays the
reference's Kafka stream; ``ts``/``user_id``/``value`` stand in for the CSV
``timestamp``/``userID``/``payload`` fields (generator1.py:21).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.operators.alerts import (
    BIG_CUSTOMER_THRESHOLD,
    big_customer_alerts,
)
from windowsession_using_kafka_flink_docker_spark.operators.sessionize import (
    gap_seconds_sql,
    sessionize,
    sessionize_dynamic,
    sessionize_oracle_sql,
)
from windowsession_using_kafka_flink_docker_spark.plans.catalog import _events, register
from windowsession_using_kafka_flink_docker_spark.sources.generator import (
    generated_events,
    generated_events_sql,
)

# At the test data's value scale (≤ ~500/event) the reference's 1 000 000
# threshold (flink_stream_task2.py:82) matches nothing; same operator, a
# threshold that exercises real rows at sf 0.01.
ALERT_THRESHOLD = 100.0


@register(
    "session_fixed_gap",
    oracle=sessionize_oracle_sql(30),
    description="Per-user 30s-gap sessionization, sum/count/avg "
                "(flink_stream_task1.py:48-75 parity)",
    bench=True,
    tags=("parity", "session_window"),
)
def session_fixed_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_events(spark, sf_dir))


@register(
    "session_dynamic_gap",
    oracle=sessionize_oracle_sql(gap_seconds_sql()),
    description="Per-user-tier dynamic gap sessionization "
                "(flink_stream_task3.py:54-62,106-111 intended semantics)",
    bench=True,
    tags=("parity", "session_window"),
)
def session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize_dynamic(_events(spark, sf_dir))


@register(
    "big_customer_alert",
    oracle=f"""
WITH sessions AS ({sessionize_oracle_sql(30, having=f"SUM(_c) / 100.0 >= {ALERT_THRESHOLD}")}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY session_start, session_end) AS _rn
  FROM sessions
)
SELECT user_id, session_start, session_end, session_sum, event_count, session_avg
FROM ranked WHERE _rn = 1
""",
    description="Sessionize → HAVING sum>=threshold → first-per-user alert "
                "(flink_stream_task2.py:81-90 parity; declarative dedup "
                "replaces the process-global printed_users set). "
                f"DEVIATION: threshold {ALERT_THRESHOLD} instead of the "
                "reference's 1_000_000 so the query matches real rows at "
                "test scale; the operator default preserves 1_000_000",
    bench=True,
    tags=("parity", "session_window", "dedup"),
)
def big_customer_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    sessions = sessionize(_events(spark, sf_dir))
    return big_customer_alerts(sessions, threshold=ALERT_THRESHOLD)


@register(
    "session_report",
    oracle=f"""
SELECT user_id, session_sum, session_avg
FROM ({sessionize_oracle_sql(30)})
""",
    description="task1's printed report projection: user, sum, avg "
                "(flink_stream_task1.py:64-75)",
    tags=("parity",),
)
def session_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_events(spark, sf_dir)).select(
        "user_id", "session_sum", "session_avg"
    )


@register(
    "csv_parse_roundtrip",
    oracle="""
WITH lines AS (
  SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') || ',' || user_id || ',' ||
         event_id || ',' || ROUND(value, 2) AS line
  FROM events
),
parsed AS (
  SELECT CAST(split_part(line, ',', 1) AS TIMESTAMP) AS ts,
         CAST(split_part(line, ',', 2) AS BIGINT) AS user_id,
         CAST(split_part(line, ',', 3) AS BIGINT) AS transaction_id,
         CAST(split_part(line, ',', 4) AS DOUBLE) AS payload_value
  FROM lines
)
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(payload_value), 2) AS total
FROM parsed
WHERE ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY user_id
""",
    description="CSV wire-format parse with typed casts + malformed drop "
                "(parse_csv_event, flink_stream_task1.py:21-36,45-46) — "
                "serialized from events then parsed back, no Python UDF",
    tags=("parity", "csv"),
)
def csv_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    lines = ev.select(
        F.concat_ws(
            ",",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
            F.col("user_id"),
            F.col("event_id"),
            F.round("value", 2),
        ).alias("line")
    )
    parsed = lines.select(
        F.from_csv(
            F.col("line"),
            "ts TIMESTAMP, user_id BIGINT, transaction_id BIGINT, payload_value DOUBLE",
        ).alias("r")
    ).select("r.*")
    return (
        parsed.where("ts IS NOT NULL AND user_id IS NOT NULL")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("payload_value"), 2).alias("total"))
    )


@register(
    "generated_sessionization",
    oracle=f"""
WITH events_gen AS ({generated_events_sql()}),
sessions AS ({sessionize_oracle_sql(30, table="events_gen", tiebreak="transaction_id")})
SELECT * FROM sessions
""",
    description="S2 generator parity: the reference's 4-phase synthetic "
                "workload (generator1.py:35-51, incl. the phase-4 hot-user "
                "skew) generated closed-form in Spark AND replayed as a "
                "DuckDB CTE, then 30s-gap sessionized — generator and "
                "sessionizer hash-checked together",
    bench=True,
    tags=("parity", "generator", "session_window", "skew"),
)
def generated_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = generated_events(spark).select("user_id", "ts", "value")
    return sessionize(ev)


@register(
    "generated_big_customer_alert",
    oracle=f"""
WITH events_gen AS ({generated_events_sql()}),
sessions AS ({sessionize_oracle_sql(30, table="events_gen", tiebreak="transaction_id",
                                    having=f"SUM(_c) / 100.0 >= {BIG_CUSTOMER_THRESHOLD}")}),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY session_start, session_end) AS _rn
  FROM sessions
)
SELECT user_id, session_start, session_end, session_sum, event_count, session_avg
FROM ranked WHERE _rn = 1
""",
    description="task2 at the reference's REAL 1,000,000 threshold "
                "(flink_stream_task2.py:82): on the generator-parity "
                "workload, payload = uid*10 makes hot users genuinely cross "
                "1M, so the unmodified reference threshold produces alerts "
                "(unlike the driver's events table, where it matches nothing)",
    tags=("parity", "generator", "dedup"),
)
def generated_big_customer_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = generated_events(spark).select("user_id", "ts", "value")
    return big_customer_alerts(sessionize(ev), threshold=BIG_CUSTOMER_THRESHOLD)


@register(
    "session_fixed_gap_bucketed",
    oracle=sessionize_oracle_sql(30),
    description="Same sessionization semantics as session_fixed_gap, but "
                "over a user_id-bucketed, (user_id, ts)-sorted layout of "
                "events — the plan contains ZERO Exchange nodes (the scan's "
                "bucketing satisfies the aggregation's distribution), which "
                "is the ingest-once layout that removes the sessionization "
                "shuffle at 100 TB",
    tags=("parity", "session_window", "bucketing"),
)
def session_fixed_gap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.sources.bucketed import bucketed_events
    return sessionize(bucketed_events(spark, sf_dir))


# --------------------------------------------------------------------
# Session-window top-N (promoted from plans/staging_r15.py in r15 per
# tools/promote_staging.py's PROMOTEPLAN): the reference's session
# aggregate (flink_stream_task1.py:48-75) extended with ranking — the
# "who are the heaviest sessions" question every session pipeline
# eventually asks. Sums are EXACT BIGINT cents, not ROUND(double, 2),
# so the engines' half-cent rounding split (BASELINE.md round-13
# close) can never reorder a ranking.

#: Gaps-and-islands sessionization over exact cents — the shared CTE
#: skeleton of the top-N oracles (sessionize_oracle_sql's islands logic
#: with BIGINT cents instead of ROUND(sum, 2)).
_SESS_CENTS_CTE = """
WITH flagged AS (
  SELECT user_id, ts AS _ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS _c, event_id AS _tb,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1000000 * 30
              THEN 1 ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, _ts, _c,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY _ts, _tb
                         ROWS UNBOUNDED PRECEDING) AS _sid
  FROM flagged
),
sess AS (
  SELECT user_id, MIN(_ts) AS session_start,
         CAST(SUM(_c) AS BIGINT) AS sum_cents,
         CAST(COUNT(*) AS BIGINT) AS event_count
  FROM islands GROUP BY user_id, _sid
)
"""


def _sessions_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30 s fixed-gap sessions with EXACT cent sums — the Spark twin of
    ``_SESS_CENTS_CTE``'s ``sess`` table (same session_window semantics
    as operators/sessionize.py, re-aggregated because the public entry
    PRESENTS doubles — sum_cents/100.0 since the r17 exact-e2 landing —
    and a ranking must consume the integer cents, never a
    presentation)."""
    ev = _events(spark, sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 seconds"))
        .agg(F.sum(cents).alias("sum_cents"),
             F.count(F.lit(1)).cast("long").alias("event_count"))
        .select("user_id",
                F.col("session_window.start").alias("session_start"),
                "sum_cents", "event_count")
    )


@register(
    "session_top2_per_user",
    oracle=_SESS_CENTS_CTE + """
SELECT user_id, CAST(rk AS INTEGER) AS rk, session_start, sum_cents,
       event_count
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY sum_cents DESC, session_start) AS rk
  FROM sess)
WHERE rk <= 2
""",
    description="Per-user top-2 sessions by EXACT cent sum (30 s fixed "
                "gap; ties break to the earlier session) — the "
                "session-window top-N pattern: one sessionization shuffle "
                "on user_id, rank window reusing the same partitioning. "
                "Cents (not ROUND(double,2)) feed the ranking so the "
                "engines' half-cent rounding split (BASELINE.md round-13 "
                "close) can never reorder it.",
    tags=("session", "window", "topn"),
)
def session_top2_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-2 sessions by exact cent sum (ties: earlier session
    first). One sessionization shuffle on user_id, then the rank window
    reuses the same partitioning — no second exchange at scale."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.desc("sum_cents"), F.asc("session_start"))
    return (_sessions_cents(spark, sf_dir)
            .withColumn("rk", F.row_number().over(w).cast("int"))
            .where(F.col("rk") <= 2)
            .select("user_id", "rk", "session_start", "sum_cents",
                    "event_count"))


@register(
    "session_top10_global",
    oracle=_SESS_CENTS_CTE + """
SELECT CAST(rk AS INTEGER) AS rk, user_id, session_start, sum_cents,
       event_count
FROM (
  SELECT *, row_number() OVER (ORDER BY sum_cents DESC, user_id,
                               session_start) AS rk
  FROM sess)
WHERE rk <= 10
""",
    description="Global top-10 sessions by exact cent sum with a total "
                "deterministic order (sum desc, user, start) — "
                "orderBy+limit plans as TakeOrderedAndProject "
                "(per-partition top-k + 10-row merge), never a "
                "fact-scale single-partition sort.",
    tags=("session", "window", "topn"),
)
def session_top10_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 sessions by exact cent sum (ties: user, start).
    orderBy + limit plans as TakeOrderedAndProject — per-partition
    top-10 then a 10-row merge, never a fact-scale single-partition
    sort; the 10-row rank window after the limit is free."""
    from pyspark.sql import Window

    top = (_sessions_cents(spark, sf_dir)
           .orderBy(F.desc("sum_cents"), F.asc("user_id"),
                    F.asc("session_start"))
           .limit(10))
    w = Window.orderBy(F.desc("sum_cents"), F.asc("user_id"),
                       F.asc("session_start"))
    return top.select(
        F.row_number().over(w).cast("int").alias("rk"),
        "user_id", "session_start", "sum_cents", "event_count")


# --------------------------------------------------------------------
# Session-store maintenance pair — promoted from plans/staging_r15.py
# (drafted r14, registered in the r18 window). The reference's session
# gap semantics (flink_stream_task1.py:30-41; widened to a 10-minute
# gap so multi-event sessions exist at every test SF) taken to the
# 100 TB incremental world, where history is NEVER re-sessionized.
# Both oracles are the full recompute: the incremental result must
# EQUAL from-scratch, so the oracle never mentions the cutoff / late
# split at all. The Spark-side primitives live in
# operators/session_store.py (shared with the streaming maintainer,
# which must not import the plans layer).

from windowsession_using_kafka_flink_docker_spark.operators.session_store import (  # noqa: E402
    continuation_cutoff,
    merge_sessions,
    sessions_full as _sessions_full,
)
from windowsession_using_kafka_flink_docker_spark.sources.batch import (  # noqa: E402
    load_table,
)

#: Full-session gaps-and-islands CTE (start, end = first/last EVENT ts,
#: exact BIGINT cents) — shared by both maintenance oracles.
_SESS_FULL_CTE = """
WITH flagged AS (
  SELECT user_id, ts AS _ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS _c, event_id AS _tb,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1000000 * 600
              THEN 1 ELSE 0 END AS _new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
islands AS (
  SELECT user_id, _ts, _c,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY _ts, _tb
                         ROWS UNBOUNDED PRECEDING) AS _sid
  FROM flagged
),
sess_full AS (
  SELECT user_id, MIN(_ts) AS session_start, MAX(_ts) AS session_end,
         CAST(SUM(_c) AS BIGINT) AS sum_cents,
         CAST(COUNT(*) AS BIGINT) AS event_count
  FROM islands GROUP BY user_id, _sid
)
"""


@register(
    "incremental_session_merge",
    oracle=_SESS_FULL_CTE + """
SELECT user_id, session_start, session_end, sum_cents, event_count
FROM sess_full
""",
    description="Append-side session-store maintenance: new arrivals are "
                "sessionized alone and merged with the store as session "
                "atoms — one gaps-and-islands pass over store ∪ fresh "
                "with BIGINT-exact combined partials — the reference's "
                "session-gap semantics taken incremental (10-minute gap "
                "so every test SF has multi-event sessions), raw history "
                "never re-read. Oracle: the full gaps-and-islands "
                "recompute; the cutoff must be invisible in the result.",
    tags=("session", "window", "incremental", "maintenance"),
)
def incremental_session_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events before a cutoff are the persisted store (sessionized once,
    never revisited); events at or after it are the new arrivals. New
    arrivals are sessionized ALONE, then merged with the store by
    treating every session on both sides as an atom and fusing atoms
    within the gap (operators/session_store.py:merge_sessions — the
    same gaps-and-islands pass the streaming maintainer runs per
    micro-batch). Merged rows carry BIGINT-exact combined partials, so
    the result must equal the full recompute, which is exactly what the
    oracle computes.

    The cutoff is derived so the merge is provably non-vacuous at every
    SF: the latest event that CONTINUES a session (has a same-user
    predecessor within the gap) — splitting there guarantees at least
    one straddling session. In production the cutoff is just the ingest
    high-water mark.

    Scale: one user_id shuffle over store sessions plus fresh sessions
    (session-sized, never event-sized on the store side); each side is
    consumed once."""
    ev = load_table(spark, sf_dir, "events")
    # Bounded driver-side scalar (one row — the scd.py:89 idiom): a
    # broadcast-crossJoin cutoff would re-run the lag-window pass inside
    # the plan and block ts pushdown into the scan; as a literal it is
    # one window pass total and both filters push down (measured: 4.9 ->
    # 2.8 s warm at sf0.1).
    cutoff = continuation_cutoff(ev)
    if cutoff is None:  # degenerate corpus: no continuation events at all
        return _sessions_full(ev)

    # The store IS a materialized artifact in this pattern (a persisted
    # table, read back as blocks); the fresh side is one ingest's plan.
    store = _sessions_full(
        ev.where(F.col("ts") < F.lit(cutoff))).localCheckpoint()
    fresh = _sessions_full(ev.where(F.col("ts") >= F.lit(cutoff)))
    return merge_sessions(store, fresh)


#: Deterministic late-arrival plant: every 19th event (offset 3) is
#: held back from the first sessionization pass and arrives late.
_LATE_MOD, _LATE_OFF = 19, 3


@register(
    "late_event_session_repair",
    oracle=f"""
WITH ontime AS (
  SELECT * FROM events WHERE event_id % {_LATE_MOD} <> {_LATE_OFF}
),
late AS (
  SELECT * FROM events WHERE event_id % {_LATE_MOD} = {_LATE_OFF}
),
affected AS (SELECT DISTINCT user_id FROM late),
flagged_b AS (
  SELECT user_id, ts AS _ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS _c, event_id AS _tb,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1000000 * 600
              THEN 1 ELSE 0 END AS _new
  FROM ontime
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess_b AS (
  SELECT user_id,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY _ts, _tb
                         ROWS UNBOUNDED PRECEDING) AS _sid, _c
  FROM flagged_b
),
before AS (
  SELECT user_id, CAST(COUNT(DISTINCT _sid) AS BIGINT) AS sessions_before,
         CAST(SUM(_c) AS BIGINT) AS cents_before
  FROM sess_b WHERE user_id IN (SELECT user_id FROM affected)
  GROUP BY user_id
),
flagged_a AS (
  SELECT user_id, ts AS _ts,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS _c, event_id AS _tb,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1000000 * 600
              THEN 1 ELSE 0 END AS _new
  FROM events
  WHERE user_id IN (SELECT user_id FROM affected)
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess_a AS (
  SELECT user_id,
         SUM(_new) OVER (PARTITION BY user_id ORDER BY _ts, _tb
                         ROWS UNBOUNDED PRECEDING) AS _sid, _c
  FROM flagged_a
),
after AS (
  SELECT user_id, CAST(COUNT(DISTINCT _sid) AS BIGINT) AS sessions_after,
         CAST(SUM(_c) AS BIGINT) AS cents_after
  FROM sess_a GROUP BY user_id
)
SELECT l.user_id, l.late_events,
       COALESCE(b.sessions_before, 0) AS sessions_before,
       a.sessions_after,
       a.cents_after - COALESCE(b.cents_before, 0) AS cents_added
FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS late_events
      FROM late GROUP BY user_id) l
JOIN after a ON a.user_id = l.user_id
LEFT JOIN before b ON b.user_id = l.user_id
""",
    description="Late-arrival session repair: re-sessionize ONLY the users "
                "a late batch touches (a late event can extend, open, or "
                "bridge store sessions); emit the per-user repair audit "
                "(late count, sessions before/after, cents added). Oracle "
                "replays the ontime/late split and both sessionizations "
                "closed-form.",
    tags=("session", "window", "incremental", "maintenance"),
)
def late_event_session_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The store was sessionized WITHOUT the late events (every 19th,
    planted deterministically so both engines agree on the split); when
    they arrive, only the users they touch are re-sessionized from their
    own events — a late event can extend a session, open a new one, or
    BRIDGE two store sessions into one, and per-user recompute is the
    only repair that handles all three. Untouched users' store rows are
    never read past the anti-join. Emits the per-user repair audit: late
    count, session count before/after, cents added (repaired minus store
    — equals the late events' own cents by conservation, which the
    oracle recomputes independently the same way).

    Scale: affected users are one ingest's distinct keys; their event
    history is fetched by a semi join (user-bucketed layouts prune it
    to the touched buckets); the store contributes only those users'
    rows. Nothing corpus-sized is re-sessionized."""
    ev = load_table(spark, sf_dir, "events")
    is_late = F.col("event_id") % _LATE_MOD == _LATE_OFF
    late = ev.where(is_late)
    ontime = ev.where(~is_late)

    affected = late.select("user_id").distinct()
    store = _sessions_full(ontime)
    before = (store.join(affected, "user_id", "left_semi")
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("sessions_before"),
                   F.sum("sum_cents").alias("cents_before")))
    repaired = (_sessions_full(ev.join(affected, "user_id", "left_semi"))
                .groupBy("user_id")
                .agg(F.count(F.lit(1)).alias("sessions_after"),
                     F.sum("sum_cents").alias("cents_after")))
    late_counts = late.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("late_events"))
    return (late_counts
            .join(repaired, "user_id")
            .join(before, "user_id", "left")
            .select("user_id", "late_events",
                    F.coalesce(F.col("sessions_before"), F.lit(0))
                    .cast("long").alias("sessions_before"),
                    F.col("sessions_after").cast("long")
                    .alias("sessions_after"),
                    (F.col("cents_after")
                     - F.coalesce(F.col("cents_before"), F.lit(0)))
                    .cast("long").alias("cents_added")))
