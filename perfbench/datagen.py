"""Seeded synthetic inputs for the benchmark.

The batch tables follow the catalog's table schemas (the star schema plus
``events``, ``documents`` and ``embeddings``): the same column names,
types and value domains, with independent uniform draws per column
except in ``events``, so
every catalog query and its DuckDB oracle run unchanged. The same seed
and scale always write the same bytes of data.

The ``events`` table and the stream's chunks both come from
``EventStream``: users visit in bursts of several events a few seconds
apart, then rest longer than the 30 s session gap, and one hot user
(the reference generator's hot-key phase) takes a fifth of the traffic
while it visits. Event time is monotone, and at the stream's offered
rate it runs faster than wall time, so sessions close while a run lasts.
"""

from __future__ import annotations

import bisect
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00 in epoch µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in epoch µs

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)

#: Schema of the ``events`` table, as the streaming file source declares it.
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
EVENTS_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
              "event_type STRING, value DOUBLE, props STRING")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _days(rng: np.random.Generator, start_us: int, n_days: int, n: int) -> pa.Array:
    us = start_us + rng.integers(0, n_days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _tables(sf: float, rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(50, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = rng.integers(0, len(_PART_ADJ), n_part)
    noun = rng.integers(0, len(_PART_NOUN), n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2404, n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, _EPOCH_1995 + _DAY_US, 2499, n_li)})
    out["events"] = EventStream(rng, range(n_users)).chunk(n_ev)
    out["documents"] = _documents(rng, n_docs)
    centroids = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centroids[label] + rng.normal(scale=1.5, size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; one in twenty repeats an earlier document
    with a trailing marker word, so near-duplicate detectors find pairs."""
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    dup = rng.random(n) < 0.05
    for i in range(n):
        if dup[i] and i:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(_WORDS), lengths[i])
            texts.append(" ".join(_WORDS[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every catalog table as ``<out_dir>/<name>.parquet``; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(sf * 1_000_000)])
    counts = {}
    for name, table in _tables(sf, rng).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


class EventStream:
    """Deterministic event source: users visit in bursts.

    Event *i* happens at event time ``STEP_S * i`` after 2024-01-01, so
    event time is monotone overall and per user. At any moment ``SLOTS``
    regular users are mid-visit, and each event goes to one of them
    uniformly. While the hot user (user 4, after the reference
    generator's phase 4, which sends all its events to user 4) is on a
    visit, it takes a share ``HOT_SHARE`` of the events instead. A visit
    holds a geometric number of events with mean ``VISIT_EVENTS``
    (``HOT_VISIT_EVENTS`` for the hot user), about ``SLOTS * STEP_S / (1 -
    HOT_SHARE)`` = 4 s of event time apart. Then the user rests for at
    least ``REST_S``, longer than the 30 s session gap, so each visit is
    one session and it closes. When every resting user is still inside
    ``REST_S`` (a small user pool), the longest-resting one visits again.
    """

    HOT_USER = 4
    HOT_SHARE = 0.2
    SLOTS = 40
    STEP_S = 0.08
    VISIT_EVENTS = 6
    HOT_VISIT_EVENTS = 250
    REST_S = 60.0

    def __init__(self, rng: np.random.Generator, users):
        self._rng = rng
        self.next_id = 0
        pool = [int(u) for u in rng.permutation(list(users))
                if u != self.HOT_USER]
        # Resting users, in the order they became ready to visit again.
        self._rest_users = pool[self.SLOTS:]
        self._rest_ready = [float("-inf")] * len(self._rest_users)
        self._slots = [[u, self._visit(self.VISIT_EVENTS)]
                       for u in pool[:self.SLOTS]]
        self._hot_left, self._hot_ready = 0, 0.0

    def _visit(self, mean: int) -> int:
        return int(self._rng.geometric(1.0 / mean))

    def _users(self, n: int) -> np.ndarray:
        rng, out = self._rng, np.empty(n, np.int64)
        for j in range(n):
            t = (self.next_id + j) * self.STEP_S
            if not self._hot_left and t >= self._hot_ready:
                self._hot_left = self._visit(self.HOT_VISIT_EVENTS)
            if self._hot_left and rng.random() < self.HOT_SHARE:
                out[j] = self.HOT_USER
                self._hot_left -= 1
                if not self._hot_left:
                    self._hot_ready = t + self.REST_S
                continue
            slot = self._slots[int(rng.integers(len(self._slots)))]
            out[j] = slot[0]
            slot[1] -= 1
            if not slot[1]:
                self._rest_users.append(slot[0])
                self._rest_ready.append(t + self.REST_S)
                ready = bisect.bisect_right(self._rest_ready, t)
                k = int(rng.integers(ready)) if ready else 0
                del self._rest_ready[k]
                slot[:] = [self._rest_users.pop(k), self._visit(self.VISIT_EVENTS)]
        return out

    def chunk(self, n: int) -> pa.Table:
        """The next ``n`` events."""
        ids = np.arange(self.next_id, self.next_id + n)
        users = self._users(n)
        self.next_id += n
        rng = self._rng
        ts = _EPOCH_2024 + np.round(ids * self.STEP_S * 1_000_000).astype(np.int64)
        return pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])},
            schema=EVENTS_SCHEMA)

    def write_next(self, directory: str, n: int,
                   sentinel_user: int | None = None) -> str:
        """Write the next ``n`` events as one chunk file named after its
        first event id. With ``sentinel_user``, one more event ends the
        chunk: that user, a day of event time later, so its watermark
        closes every open session."""
        name = f"c{self.next_id:012d}"
        table = self.chunk(n)
        if sentinel_user is not None:
            last = self.chunk(1)
            ts = last.column("ts")[0].value + 86_400 * 1_000_000
            last = last.set_column(1, "ts", pa.array([ts], pa.timestamp("us")))
            last = last.set_column(2, "user_id", pa.array([sentinel_user], pa.int64()))
            table = pa.concat_tables([table, last])
        return write_chunk(table, directory, name)


def write_chunk(table: pa.Table, directory: str, name: str) -> str:
    """Write a chunk under a temporary name, then rename it into place, so
    the file source never lists a half-written file."""
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, f"{name}.parquet")
    pq.write_table(table, tmp)
    os.rename(tmp, final)
    return final
