"""Round-6 analytics additions: classic decision-support shapes (TPC-H
Q3/Q17/Q22 style), market-basket association rules, exact-integer
exponential smoothing, RFM segmentation, an equi-depth histogram built on
a range-partitioned distributed global rank, and gaps-and-islands streaks.

Shared float discipline (see catalog.py): derived ratios are scaled-floor
on BOTH engines; monetary sums are quantized to exact BIGINT cents before
aggregation so no hash can drift on summation order. The reference
(`/root/reference/` — 3 PyFlink session-window jobs) has none of these;
they extend the engine into the decision-support surface a Spark user
expects from a complete analytics engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from windowsession_using_kafka_flink_docker_spark.plans.catalog import register
from windowsession_using_kafka_flink_docker_spark.sources.batch import load_table


def _cents(col: str) -> Column:
    """Exact integer cents from a 2-decimal DOUBLE money column."""
    return F.round(F.col(col) * 100, 0).cast("long")


@register(
    "q3_shipping_priority",
    oracle="""
WITH rev AS (
  SELECT l.l_orderkey,
         CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                  * CAST(round((1 - l.l_discount) * 100, 0) AS BIGINT))
              AS BIGINT) AS revenue_e4,
         o.o_orderdate, o.o_orderpriority
  FROM customer c
  JOIN orders o ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1998-06-01'
    AND l.l_shipdate > TIMESTAMP '1998-06-01'
  GROUP BY 1, 3, 4)
SELECT l_orderkey, revenue_e4, o_orderdate, o_orderpriority
FROM rev
ORDER BY revenue_e4 DESC, l_orderkey
LIMIT 10
""",
    description="TPC-H Q3-style shipping priority: the canonical "
                "dimension-filter → fact-join → top-k shape. The 'BUILDING' "
                "customer slice broadcasts (never shuffles the fact side), "
                "the orders→lineitem join carries pushed-down date filters "
                "into both scans, and the final ORDER BY ... LIMIT 10 plans "
                "as TakeOrderedAndProject — per-partition top-10 then a "
                "10-row driver merge, no global sort at any scale. Revenue "
                "is an exact BIGINT in 1e-4 dollar units (cents × "
                "discount-complement percent), so ordering and hashing "
                "cannot drift on float summation order.",
    bench=True,
    tags=("relational", "join", "topk", "sql"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp"))
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev_e4 = F.sum(
        _cents("l_extendedprice")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    ).cast("long").alias("revenue_e4")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev_e4)
        .select("l_orderkey", "revenue_e4", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_e4"), "l_orderkey")
        .limit(10)
    )


@register(
    "q17_small_quantity_revenue",
    oracle="""
WITH th AS (
  SELECT l_partkey, 0.2 * AVG(l_quantity) AS qty_threshold
  FROM lineitem GROUP BY l_partkey),
sel AS (
  SELECT CAST(round(l.l_extendedprice * 100, 0) AS BIGINT) AS cents
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN th ON th.l_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#1' AND l.l_quantity < th.qty_threshold)
SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(floor(CAST(COALESCE(SUM(cents), 0) AS DOUBLE) / 7.0)
            AS BIGINT) AS avg_yearly_cents
FROM sel
""",
    description="TPC-H Q17-style small-quantity revenue: the correlated "
                "scalar subquery ('below 20% of this part's average "
                "quantity') expressed declaratively — Catalyst decorrelates "
                "it into a per-part aggregate joined back, exactly the "
                "rewrite the hand-written plan uses: thresholds are one "
                "map-side-combinable groupBy over lineitem, semi-restricted "
                "to the brand's parts and broadcast into the fact scan, so "
                "the only full-table pass is the threshold build. The "
                "average is exact (integer-valued quantities sum exactly in "
                "a double), so the strict < comparison is bit-identical in "
                "both engines; revenue sums as exact BIGINT cents.",
    bench=True,
    tags=("relational", "subquery", "join", "sql"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (load_table(spark, sf_dir, "part")
                   .where(F.col("p_brand") == "Brand#1")
                   .select("p_partkey"))
    th = (
        li.groupBy("l_partkey")
        .agg((F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold"))
        .join(F.broadcast(brand_parts),
              F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "qty_threshold")
    )
    sel = (
        li.select("l_partkey", "l_quantity", _cents("l_extendedprice")
                  .alias("cents"))
        .join(F.broadcast(th), "l_partkey")
        .where(F.col("l_quantity") < F.col("qty_threshold"))
    )
    return sel.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.floor(F.coalesce(F.sum("cents"), F.lit(0)).cast("double") / 7.0)
        .cast("long").alias("avg_yearly_cents"),
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
WITH bal AS (
  SELECT c_custkey, c_mktsegment,
         CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
  FROM customer),
avg_pos AS (
  SELECT CAST(SUM(bal_cents) AS DOUBLE) / COUNT(*) AS avg_cents
  FROM bal WHERE bal_cents > 0),
idle AS (
  SELECT b.c_custkey, b.c_mktsegment, b.bal_cents
  FROM bal b CROSS JOIN avg_pos a
  WHERE CAST(b.bal_cents AS DOUBLE) > a.avg_cents
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = b.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(bal_cents) AS BIGINT) AS total_bal_cents
FROM idle GROUP BY c_mktsegment
""",
    description="TPC-H Q22-style: above-average-balance customers with no "
                "recent orders — combines a global scalar aggregate "
                "threshold (the correlated-average idiom) with a "
                "correlated NOT EXISTS, which Catalyst rewrites to a "
                "left-anti join. The 1-row average broadcasts; the "
                "anti-join's right side is the date-filtered orders "
                "projection (one slim column after pushdown), and the "
                "final per-segment rollup is map-side combinable. "
                "Balances are exact BIGINT cents, so the threshold "
                "comparison and the hashed totals are bit-deterministic.",
    bench=True,
    tags=("relational", "subquery", "join", "anti", "sql"),
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    bal = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", _cents("c_acctbal").alias("bal_cents"))
    avg_pos = (bal.where(F.col("bal_cents") > 0)
               .agg((F.sum("bal_cents").cast("double")
                     / F.count(F.lit(1))).alias("avg_cents")))
    recent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate")
                     >= F.lit("2000-01-01").cast("timestamp"))
              .select("o_custkey"))
    idle = (
        bal.crossJoin(F.broadcast(avg_pos))
        .where(F.col("bal_cents").cast("double") > F.col("avg_cents"))
        .join(recent, bal.c_custkey == recent.o_custkey, "left_anti")
    )
    return (idle.groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).cast("long").alias("n_customers"),
                 F.sum("bal_cents").cast("long").alias("total_bal_cents")))


@register(
    "association_rules",
    oracle="""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_b AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
freq AS (SELECT l_partkey, COUNT(*) AS n_item FROM baskets
         GROUP BY l_partkey HAVING COUNT(*) >= 20),
fb AS (SELECT b.l_orderkey, b.l_partkey
       FROM baskets b JOIN freq USING (l_partkey)),
capped AS (SELECT l_orderkey, l_partkey
           FROM (SELECT fb.*,
                        COUNT(*) OVER (PARTITION BY l_orderkey) AS bs
                 FROM fb)
           WHERE bs <= 50),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_ab
  FROM capped a JOIN capped b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3)
SELECT p.part_a AS antecedent, p.part_b AS consequent,
       CAST(p.n_ab AS BIGINT) AS n_both,
       CAST(fa.n_item AS BIGINT) AS n_antecedent,
       CAST(floor(CAST(p.n_ab AS DOUBLE) / CAST(fa.n_item AS DOUBLE)
                  * 10000) AS BIGINT) AS confidence_e4,
       CAST(floor(CAST(p.n_ab * n_b.n AS DOUBLE)
                  / CAST(fa.n_item * fb2.n_item AS DOUBLE) * 10000)
            AS BIGINT) AS lift_e4
FROM pairs p
JOIN freq fa ON fa.l_partkey = p.part_a
JOIN freq fb2 ON fb2.l_partkey = p.part_b
CROSS JOIN n_b
""",
    description="Directional association rules a→b with confidence and "
                "lift on top of the a-priori-pruned co-purchase counts "
                "(same support floors as copurchase_pairs: item >= 20, "
                "pair >= 3, basket cap 50 so no mega-basket goes "
                "quadratic). The Spark shape SHARES copurchase_pairs' "
                "basket stage (one lineitem scan + distinct per session) "
                "and expands only triangular a<b pairs with an in-row HOF "
                "— NO self-join — mirroring to the ordered form after the "
                "support aggregate (counts are symmetric over sorted-"
                "distinct baskets), then joins the broadcast frequent-"
                "item supports and the broadcast 1-row basket total to "
                "derive confidence = P(b|a) and lift = P(a,b)/(P(a)P(b)). "
                "All inputs to the ratios are exact BIGINTs; each ratio is "
                "one double division scaled-floored identically in DuckDB.",
    bench=True,
    tags=("relational", "mining", "aggregate", "audit"),
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.plans.relational import (
        basket_stage,
    )
    st = basket_stage(spark, sf_dir)
    freq, arrs, n_b = st["freq"], st["arrs"], st["n_b"]
    # Triangular (a < b) pairs via in-row HOF (no self-join), mirrored to
    # the ordered form AFTER the support aggregate (r18, VERDICT item 5):
    # the parts arrays are sorted+distinct, so the ordered-pair count
    # n_ab(a, b) is symmetric and equals the triangular count — emitting
    # one direction halves the dominant pairs exchange (24.9 MB measured
    # r17), and the post-agg mirror is an in-row 2-element explode on the
    # support-filtered (small) aggregate, so no subtree or broadcast is
    # duplicated (the r17-rejected pre-join union doubled the downstream
    # broadcasts; this form keeps them single).
    pairs_tri = (
        arrs.select(F.explode(F.expr(
            "flatten(transform(parts, (x, i) -> "
            "transform(slice(parts, i + 2, size(parts) - i - 1), "
            "y -> struct(x AS part_a, y AS part_b))))")).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    pairs = (
        pairs_tri.select(F.explode(F.array(
            F.struct("part_a", "part_b", "n_ab"),
            F.struct(F.col("part_b").alias("part_a"),
                     F.col("part_a").alias("part_b"),
                     "n_ab"))).alias("p"))
        .select("p.part_a", "p.part_b", "p.n_ab")
    )
    fa = freq.select(F.col("l_partkey").alias("part_a"),
                     F.col("n_item").alias("n_a"))
    fb = freq.select(F.col("l_partkey").alias("part_b"),
                     F.col("n_item").alias("n_b_item"))
    conf = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    lift = ((F.col("n_ab") * F.col("n")).cast("double")
            / (F.col("n_a") * F.col("n_b_item")).cast("double"))
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_b))
        .select(F.col("part_a").alias("antecedent"),
                F.col("part_b").alias("consequent"),
                F.col("n_ab").cast("long").alias("n_both"),
                F.col("n_a").cast("long").alias("n_antecedent"),
                F.floor(conf * 10000).cast("long").alias("confidence_e4"),
                F.floor(lift * 10000).cast("long").alias("lift_e4"))
    )


#: EWMA weight horizon: days older than EWMA_HORIZON halvings are dropped
#: from the scaled-integer sum. Exact for series up to HORIZON+1 days; for
#: longer series the truncated tail contributes < max_daily_cents / 2^30
#: (< 1 cent for daily spend under $10M), and BOTH engines compute the
#: identical truncated formula so the value hash stays bit-deterministic.
#: The max scaled weight is 2^(HORIZON-1), so the BIGINT sum is safe for
#: per-user daily cents up to ~2^32 at ANY series length — the silent
#: >63-day int64 overflow of the unbounded-weight form (VERDICT r6 item 3
#: / ADVICE r6) is structurally gone.
EWMA_HORIZON = 30


def ewma_from_daily(daily: DataFrame) -> DataFrame:
    """Clamped-exponent EWMA aggregation over a (user_id, d, cents) frame
    — the reusable core of the catalog entry, property-pinned against the
    exact Fraction recurrence at horizons far past the old 63-day
    overflow bound (tests/test_mining.py)."""
    w = Window.partitionBy("user_id").orderBy("d")
    wall = Window.partitionBy("user_id")
    seq = daily.select(
        "user_id", "cents", F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"))
    k = F.least(F.col("n") - 1, F.lit(EWMA_HORIZON))
    e = F.when(F.col("i") == 1, k - (F.col("n") - 1)).otherwise(
        F.col("i") - 1 - F.col("n") + k)
    term = F.when(e >= 0, F.col("cents") * F.pow(F.lit(2), e).cast("long")
                  ).otherwise(F.lit(0).cast("long"))
    agg = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum(term).alias("t"))
    return agg.select(
        "user_id", F.col("n").cast("long").alias("n_days"),
        F.floor(F.col("t").cast("double")
                / F.pow(F.lit(2),
                        F.least(F.col("n") - 1, F.lit(EWMA_HORIZON))))
        .cast("long").alias("ewma_cents"))


@register(
    "ewma_daily_spend",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(round(SUM(value) * 100, 0) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2),
seq AS (
  SELECT user_id, cents,
         row_number() OVER (PARTITION BY user_id ORDER BY d) AS i,
         COUNT(*) OVER (PARTITION BY user_id) AS n
  FROM daily),
terms AS (
  SELECT user_id, cents,
         CASE WHEN i = 1 THEN LEAST(n - 1, 30) - (n - 1)
              ELSE i - 1 - n + LEAST(n - 1, 30) END AS e
  FROM seq),
agg AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(CASE WHEN e >= 0
                  THEN cents * CAST(power(2, e) AS BIGINT)
                  ELSE 0 END) AS t
  FROM terms GROUP BY user_id)
SELECT user_id, CAST(n AS BIGINT) AS n_days,
       CAST(floor(CAST(t AS DOUBLE) / power(2, LEAST(n - 1, 30)))
            AS BIGINT) AS ewma_cents
FROM agg
""",
    description="Exponentially-weighted moving average of daily spend "
                "(alpha = 1/2, seeded at the first day) — the recursive "
                "smoother E_n = y_n/2 + E_{n-1}/2 rendered as ONE "
                "aggregation with exact integer geometric weights scaled "
                "by 2^k, k = min(n-1, 30): weight exponents are clamped "
                "to the 30-halving horizon, so the BIGINT sum cannot "
                "overflow at ANY series length (max term cents * 2^29), "
                "unlike the naive 2^(i-2) weights which silently wrap "
                "past ~63 days. Exact (bit-equal to the recurrence in "
                "rational arithmetic) for series up to 31 days; beyond "
                "that the dropped tail is below 2^-30 of a day's spend — "
                "sub-cent — and both engines compute the identical "
                "truncated sum, so the floor stays bit-deterministic "
                "(property-pinned against the exact Fraction recurrence "
                "for horizons up to 200 days in tests/test_mining.py). "
                "One user-keyed window (row index + partition count, same "
                "exchange) feeds one map-side-combinable aggregate — the "
                "weight trick is what makes an inherently sequential "
                "recurrence mergeable across 1000 executors.",
    bench=True,
    tags=("relational", "timeseries", "aggregate"),
)
def ewma_daily_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
    return ewma_from_daily(daily)


@register(
    "rfm_segmentation",
    oracle="""
WITH rfm AS (
  SELECT o_custkey AS custkey,
         date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                   DATE '2001-09-01') AS recency_days,
         COUNT(*) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1),
seg AS (
  SELECT r.*, c.c_mktsegment,
         ntile(5) OVER (PARTITION BY c.c_mktsegment
                        ORDER BY r.recency_days, r.custkey) AS r_score,
         ntile(5) OVER (PARTITION BY c.c_mktsegment
                        ORDER BY r.frequency DESC, r.custkey) AS f_score,
         ntile(5) OVER (PARTITION BY c.c_mktsegment
                        ORDER BY r.monetary_cents DESC, r.custkey)
           AS m_score
  FROM rfm r JOIN customer c ON c.c_custkey = r.custkey)
SELECT custkey, c_mktsegment, CAST(recency_days AS BIGINT) AS recency_days,
       CAST(frequency AS BIGINT) AS frequency, monetary_cents,
       CAST(r_score AS BIGINT) AS r_score,
       CAST(f_score AS BIGINT) AS f_score,
       CAST(m_score AS BIGINT) AS m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM seg
""",
    description="RFM customer segmentation: recency/frequency/monetary "
                "from one order scan (exact integer days, counts, and "
                "cents), then quintile scores via ntile(5) partitioned by "
                "market segment with fully-deterministic tie-broken "
                "orderings (custkey breaks every tie, so Spark and DuckDB "
                "agree bucket-for-bucket). Partitioning the score windows "
                "by segment bounds each sort; at 100 TB the same buckets "
                "come from the distributed-rank construction of "
                "equi_depth_histogram (ntile reproduced exactly from a "
                "range-partitioned rank — equality pinned in "
                "tests/test_analytics.py) instead of a wider window. The "
                "customer dimension broadcasts into the per-customer "
                "aggregate.",
    tags=("relational", "analytics", "window_function", "ntile"),
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(F.lit("2001-09-01").cast("date"),
                   F.to_date(F.max("o_orderdate"))).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(_cents("o_totalprice")).cast("long").alias("monetary_cents"),
    )
    j = rfm.join(F.broadcast(cust), rfm.custkey == cust.c_custkey)
    seg = Window.partitionBy("c_mktsegment")
    r_s = F.ntile(5).over(seg.orderBy("recency_days", "custkey"))
    f_s = F.ntile(5).over(seg.orderBy(F.desc("frequency"), F.asc("custkey")))
    m_s = F.ntile(5).over(
        seg.orderBy(F.desc("monetary_cents"), F.asc("custkey")))
    return j.select(
        "custkey", "c_mktsegment",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        "monetary_cents",
        r_s.cast("long").alias("r_score"),
        f_s.cast("long").alias("f_score"),
        m_s.cast("long").alias("m_score"),
        F.concat(r_s.cast("string"), f_s.cast("string"),
                 m_s.cast("string")).alias("segment"),
    )


def global_rank_ranged(df: DataFrame, order_cols: list[str],
                       num_ranges: int = 16) -> DataFrame:
    """Distributed global dense 1-based rank WITHOUT a single-partition
    window: range-partition on the order columns, partition-local
    ``row_number``, then add broadcast per-partition row-count prefix
    offsets. The only ordered window over one partition runs on
    ``num_ranges`` rows — constant however large the table. The rank is
    invariant to where the (sampled) range boundaries land because the
    order columns are required to be a total order (caller supplies a
    unique tiebreaker). Same construction as the skyline scale path
    (relational.skyline_witness_ranged); equality with the windowed
    ``row_number`` is pinned in tests/test_analytics.py.

    Physical-plan dependency (ADVICE r6): the ranged frame feeds BOTH the
    per-partition-count aggregate and the join probe, and correctness
    needs both consumers to read the SAME physical instantiation — the
    range exchange samples its boundaries, so two independent
    instantiations could sample different splits, making per-_pid counts
    disagree with per-_pid row numbers. With
    ``spark.sql.exchangeReuseEnabled`` (default true) the planner dedups
    the identical exchange subtree; when a caller has disabled it, the
    single instantiation is pinned explicitly by persisting the ranged
    frame (equality under reuse-off is pinned in
    tests/test_analytics.py).
    """
    ranged = (df.repartitionByRange(num_ranges, *order_cols)
              .withColumn("_pid", F.spark_partition_id()))
    reuse = str(df.sparkSession.conf.get(
        "spark.sql.exchangeReuseEnabled", "true")).lower()
    if reuse == "false":
        # no planner-level exchange dedup: materialize once so both
        # subtrees scan identical partitions/boundaries
        ranged = ranged.persist()
    wloc = Window.partitionBy("_pid").orderBy(*order_cols)
    loc = ranged.withColumn("_lrn", F.row_number().over(wloc))
    counts = loc.groupBy("_pid").agg(F.max("_lrn").alias("_pn"))
    woff = (Window.orderBy("_pid")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = (counts
            .withColumn("_off",
                        F.coalesce(F.sum("_pn").over(woff), F.lit(0)))
            .select("_pid", "_off"))
    return (loc.join(F.broadcast(offs), "_pid")
            .withColumn("grank", (F.col("_lrn") + F.col("_off"))
                        .cast("long"))
            .drop("_pid", "_lrn", "_off"))


def ntile_from_rank(rank: Column, total: Column, k: int) -> Column:
    """SQL-standard ``ntile(k)`` bucket from a global 1-based rank: the
    first ``total % k`` buckets get ``total/k + 1`` rows, the rest get
    ``total/k``. The ceil divisions go through correctly-rounded double
    division + floor, exact for any realistic cardinality (an off-by-one
    would need rank * buckets near 2^53).
    """
    q = F.floor(total / k)
    rem = total % k
    big = rem * (q + 1)  # rows living in the first `rem` (larger) buckets
    in_big = F.floor((rank + q) / (q + 1))          # ceil(rank/(q+1))
    in_small = rem + F.floor((rank - big + q - 1) / q)
    return F.when(rank <= big, in_big).otherwise(in_small)


@register(
    "equi_depth_histogram",
    oracle="""
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders)
SELECT CAST(bin AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MIN(o_totalprice), 2) AS lo,
       ROUND(MAX(o_totalprice), 2) AS hi
FROM ranked GROUP BY bin
""",
    description="Equi-depth (decile) histogram of order value — the "
                "statistics primitive behind optimizer histograms and "
                "drift monitors. The oracle uses the ntile window (a "
                "single-partition global sort); the Spark plan does NOT: "
                "it builds a distributed global rank via range "
                "partitioning + per-partition row_number + broadcast "
                "prefix offsets (global_rank_ranged — the only ordered "
                "single-partition window touches 16 partition-count "
                "rows), then reproduces SQL ntile semantics exactly from "
                "integer arithmetic (ntile_from_rank). Bucket-for-bucket "
                "equality with the window function is pinned in "
                "tests/test_analytics.py; bin min/max are raw 2-decimal "
                "values, counts exact.",
    bench=True,
    tags=("relational", "histogram", "layout", "window_function"),
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderkey")
    ranked = global_rank_ranged(orders, ["o_totalprice", "o_orderkey"])
    total = orders.agg(F.count(F.lit(1)).cast("long").alias("_total"))
    binned = ranked.crossJoin(F.broadcast(total)).select(
        "o_totalprice",
        ntile_from_rank(F.col("grank"), F.col("_total"), 10)
        .cast("long").alias("bin"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders"),
                 F.round(F.min("o_totalprice"), 2).alias("lo"),
                 F.round(F.max("o_totalprice"), 2).alias("hi")))


@register(
    "longest_daily_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
isl AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
  FROM days),
streaks AS (
  SELECT user_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
SELECT user_id,
       CAST(MAX(len) AS BIGINT) AS longest_streak,
       CAST(SUM(len) AS BIGINT) AS active_days
FROM streaks GROUP BY user_id
""",
    description="Longest run of consecutive active days per user — the "
                "gaps-and-islands idiom: distinct activity days, island "
                "id = day_ordinal - row_number (constant within a "
                "consecutive run), then two nested integer aggregations. "
                "Everything is exact integers; one user-keyed exchange "
                "feeds the dedup, the window, and both aggregations "
                "(Catalyst reuses the clustering), so the whole streak "
                "analysis costs a single shuffle of (user, day) pairs — "
                "at 100 TB that's the distinct-day set, orders of "
                "magnitude smaller than the event stream.",
    tags=("relational", "sequence", "window_function", "analytics"),
)
def longest_daily_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
         - F.row_number().over(w)).alias("grp"))
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").cast("long").alias("longest_streak"),
        F.sum("len").cast("long").alias("active_days"))


@register(
    "rolling_distinct_types",
    oracle="""
WITH daily AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS dayno,
         event_type
  FROM events),
days AS (SELECT DISTINCT user_id, dayno FROM daily)
SELECT d.user_id, CAST(d.dayno AS BIGINT) AS dayno,
       CAST(COUNT(DISTINCT e.event_type) AS BIGINT) AS n_types_7d
FROM days d JOIN daily e
  ON e.user_id = d.user_id
 AND e.dayno BETWEEN d.dayno - 6 AND d.dayno
GROUP BY 1, 2
""",
    description="Distinct event types per user over a trailing 7-day "
                "window — COUNT(DISTINCT) OVER is a primitive Spark's "
                "window functions lack, so the plan renders it as "
                "size(array_distinct(flatten(collect_list(day_type_set)))) "
                "over a RANGE frame of per-day type sets: state is "
                "bounded by 7 days x the type domain per frame, and the "
                "whole query is ONE user-keyed exchange feeding the "
                "daily compression, the window, and the output. The "
                "oracle takes the engine-neutral shape instead — a "
                "7-day range self-join + COUNT(DISTINCT) — which is "
                "exactly the shuffle-amplifying plan the Spark side "
                "avoids (the join replays each day up to 7 times). All "
                "integer output, hash-exact.",
    tags=("relational", "window", "frame", "distinct", "timeseries"),
)
def rolling_distinct_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date"))
        .alias("dayno"), "event_type")
        .distinct()
        .groupBy("user_id", "dayno")
        .agg(F.collect_set("event_type").alias("types_day")))
    w = (Window.partitionBy("user_id").orderBy("dayno")
         .rangeBetween(-6, 0))
    return daily.select(
        "user_id", F.col("dayno").cast("long").alias("dayno"),
        F.size(F.array_distinct(
            F.flatten(F.collect_list("types_day").over(w))))
        .cast("long").alias("n_types_7d"))


# ---------------------------------------------------------------------------
# Round-7 additions.


@register(
    "interval_coverage_merge",
    oracle="""
WITH iv AS (
  SELECT l_suppkey, CAST(l_shipdate AS DATE) AS s,
         CAST(l_shipdate AS DATE)
           + CAST((CAST(l_quantity AS BIGINT) % 10 + 1) AS INTEGER) AS e,
         l_orderkey, l_linenumber
  FROM lineitem),
flg AS (
  SELECT *,
         CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
              THEN 1 ELSE 0 END AS _new
  FROM iv
  WINDOW w AS (PARTITION BY l_suppkey
               ORDER BY s, e, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
isl AS (
  SELECT *, SUM(_new) OVER (PARTITION BY l_suppkey
                            ORDER BY s, e, l_orderkey, l_linenumber
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS _isl
  FROM flg),
m AS (
  SELECT l_suppkey, _isl, MIN(s) AS ms, MAX(e) AS me, COUNT(*) AS nr
  FROM isl GROUP BY 1, 2)
SELECT l_suppkey,
       CAST(SUM(nr) AS BIGINT) AS n_raw,
       CAST(COUNT(*) AS BIGINT) AS n_merged,
       CAST(SUM(date_diff('day', ms, me)) AS BIGINT) AS covered_days
FROM m GROUP BY l_suppkey
""",
    description="Merge overlapping per-supplier shipping windows "
                "(interval union, the gaps-and-islands generalization "
                "from point events to [start, end) intervals): each line "
                "item occupies [shipdate, shipdate + (qty mod 10) + 1 "
                "days); a window is a NEW island iff its start exceeds "
                "the running max end of every earlier window, islands "
                "aggregate to merged intervals, and coverage sums their "
                "exact day spans. Island boundaries are provably "
                "order-insensitive among equal starts (s_i = s_{i-1} <= "
                "e_{i-1} <= running max), and the full (s, e, orderkey, "
                "linenumber) tiebreak makes both engines' windows "
                "bit-identical anyway. ONE supplier-keyed exchange feeds "
                "the running-max window, the island window, and both "
                "aggregations — the same single-shuffle discipline as "
                "the sessionizer, which this operator generalizes "
                "(sessions = intervals of zero length + gap).",
    tags=("relational", "interval", "window_function", "timeseries"),
)
def interval_coverage_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        "l_suppkey", F.to_date("l_shipdate").alias("s"),
        F.date_add(F.to_date("l_shipdate"),
                   (F.col("l_quantity").cast("long") % 10 + 1).cast("int")
                   ).alias("e"),
        "l_orderkey", "l_linenumber")
    w = Window.partitionBy("l_suppkey").orderBy(
        "s", "e", "l_orderkey", "l_linenumber")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = iv.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0))
    islands = flagged.withColumn(
        "_isl",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    merged = islands.groupBy("l_suppkey", "_isl").agg(
        F.min("s").alias("ms"), F.max("e").alias("me"),
        F.count(F.lit(1)).alias("nr"))
    return merged.groupBy("l_suppkey").agg(
        F.sum("nr").cast("long").alias("n_raw"),
        F.count(F.lit(1)).cast("long").alias("n_merged"),
        F.sum(F.datediff("me", "ms")).cast("long").alias("covered_days"))


@register(
    "weighted_median_price",
    oracle="""
WITH ranked AS (
  SELECT p_brand, p_retailprice, CAST(p_size AS BIGINT) AS w,
         SUM(CAST(p_size AS BIGINT)) OVER (
           PARTITION BY p_brand
           ORDER BY p_retailprice, p_partkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(CAST(p_size AS BIGINT)) OVER (PARTITION BY p_brand) AS total
  FROM part)
SELECT p_brand,
       CAST(MAX(total) AS BIGINT) AS total_weight,
       ROUND(MIN(CASE WHEN 2 * cum >= total
                      THEN p_retailprice END), 2) AS median_price
FROM ranked GROUP BY p_brand
""",
    description="Exact weighted median of part retail price per brand "
                "(weight = p_size): the smallest price whose cumulative "
                "weight reaches half the brand's total, decided by the "
                "EXACT integer comparison 2*cum >= total — no fractional "
                "midpoint, no float rank, so both engines pick the "
                "identical row even at tie-dense distributions (the "
                "(price, partkey) tiebreak makes the cumulative walk a "
                "total order). The lower-median convention is the "
                "distributed-friendly one: one brand-keyed exchange "
                "serves the running-sum window, the partition total, and "
                "the final aggregate; no per-group sort-and-index "
                "collect. The weighted generalization is what plain "
                "percentile_approx cannot express (its rank space is "
                "row-count, not weight).",
    tags=("relational", "aggregate", "percentile", "window_function"),
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy("p_retailprice", "p_partkey")
    wall = Window.partitionBy("p_brand")
    ranked = part.select(
        "p_brand", "p_retailprice",
        F.sum(F.col("p_size").cast("long"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum(F.col("p_size").cast("long")).over(wall).alias("total"))
    return ranked.groupBy("p_brand").agg(
        F.max("total").cast("long").alias("total_weight"),
        F.round(F.min(F.when(2 * F.col("cum") >= F.col("total"),
                             F.col("p_retailprice"))), 2)
        .alias("median_price"))


#: Benford first-digit expectations, floor-scaled to 1e-4, precomputed in
#: Python and inlined as LITERALS into both engines — log10 is the one
#: place libm implementations may differ by an ulp, so neither engine
#: computes it at query time.
_BENFORD_E4 = {d: int(__import__("math").floor(
    __import__("math").log10(1 + 1 / d) * 10000)) for d in range(1, 10)}

_BENFORD_CASE_SQL = "CASE digit " + " ".join(
    f"WHEN {d} THEN {v}" for d, v in _BENFORD_E4.items()) + " END"


@register(
    "benford_digit_audit",
    oracle="""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                     1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice >= 1),
counts AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
tot AS (SELECT SUM(n) AS t FROM counts)
SELECT digit,
       CAST(n AS BIGINT) AS n_orders,
       CAST((n * 10000) // t AS BIGINT) AS observed_e4,
       CAST(""" + _BENFORD_CASE_SQL + """ AS BIGINT) AS benford_e4,
       CAST(ABS((n * 10000) // t - (""" + _BENFORD_CASE_SQL + """))
            AS BIGINT) AS deviation_e4
FROM counts CROSS JOIN tot
""",
    description="Benford's-law first-digit audit over order totals — the "
                "fraud/data-corruption screen: per leading digit 1-9, "
                "the observed share (scaled-floor e4) against the "
                "log10(1+1/d) expectation. The expectation constants are "
                "precomputed in Python and inlined as integer literals "
                "into BOTH engines, because libm log10 may differ by an "
                "ulp across implementations and the driver hashes exact "
                "values. First digit extracted via integer-to-string on "
                "floor(total) — exact, no float log in either plan. One "
                "9-row aggregate from one scan + a broadcast 1-row "
                "total.",
    tags=("relational", "quality", "audit", "aggregate"),
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("long").cast("string"), 1, 1
    ).cast("long").alias("digit")
    counts = (orders.where(F.col("o_totalprice") >= 1)
              .select(digit).groupBy("digit")
              .agg(F.count(F.lit(1)).alias("n")))
    tot = counts.agg(F.sum("n").alias("t"))
    benford = F.element_at(
        F.create_map(*[x for d, v in _BENFORD_E4.items()
                       for x in (F.lit(d), F.lit(v))]),
        F.col("digit").cast("int"))
    # exact integer division (the double-multiply form rounds n*1e4
    # past 2^53 once n exceeds ~9e11 rows — the HHI lesson)
    obs = F.expr("(n * 10000) div t")
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("long").alias("n_orders"),
        obs.cast("long").alias("observed_e4"),
        benford.cast("long").alias("benford_e4"),
        F.abs(obs - benford).cast("long").alias("deviation_e4"))


@register(
    "dow_seasonality_index",
    oracle="""
WITH base AS (
  SELECT isodow(ts) AS dow,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
perdow AS (
  SELECT dow, COUNT(*) AS n, SUM(cents) AS c FROM base GROUP BY dow),
tot AS (SELECT SUM(n) AS nt, SUM(c) AS ct FROM perdow)
SELECT CAST(dow AS BIGINT) AS dow,
       CAST(n AS BIGINT) AS n_events,
       CAST(c AS BIGINT) AS total_cents,
       CAST(floor(n * 10000.0 / nt) AS BIGINT) AS traffic_share_e4,
       CAST(floor((c * nt) * 10000.0 / (n * ct)) AS BIGINT)
         AS value_index_e4
FROM perdow CROSS JOIN tot
""",
    description="Day-of-week seasonality profile of the event stream "
                "(ISO weekday 1=Mon..7=Sun): traffic share per weekday "
                "plus a value index — the ratio of the weekday's average "
                "event value to the overall average, computed as ONE "
                "double division over exact BIGINT cross-products "
                "(c*nt)/(n*ct) so both engines hit the identical IEEE "
                "result before the scaled floor (never a "
                "ratio-of-two-divisions, which can differ in the last "
                "ulp). Weekday extraction is isodow in DuckDB and "
                "weekday+1 in Spark — the one calendar function pair "
                "that agrees on Monday=1. A 7-row aggregate from one "
                "scan + a broadcast total: the shape survives any "
                "volume.",
    tags=("relational", "timeseries", "aggregate", "datetime"),
)
def dow_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    perdow = base.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("c"))
    tot = perdow.agg(F.sum("n").alias("nt"), F.sum("c").alias("ct"))
    return perdow.crossJoin(F.broadcast(tot)).select(
        "dow",
        F.col("n").cast("long").alias("n_events"),
        F.col("c").cast("long").alias("total_cents"),
        F.floor(F.col("n") * 10000.0 / F.col("nt")).cast("long")
        .alias("traffic_share_e4"),
        F.floor((F.col("c") * F.col("nt")) * 10000.0
                / (F.col("n") * F.col("ct"))).cast("long")
        .alias("value_index_e4"))


def ledger_deltas(ev: DataFrame) -> DataFrame:
    """(user_id, ts, event_id, delta_cents) signed ledger from the event
    stream — shared by the batch entry and the streaming ledger
    maintainer (streaming/analytics_twins.py) so both sides price the
    same events identically."""
    cents = F.round(F.col("value") * 100, 0).cast("long")
    delta = (F.when(F.col("event_type") == "purchase", cents)
             .when(F.col("event_type").isin("error", "click"), -cents)
             .otherwise(F.lit(0).cast("long")))
    return ev.select("user_id", "ts", "event_id",
                     delta.alias("delta_cents"))


@register(
    "clamped_running_balance",
    oracle="""
WITH ledger AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100, 0) AS BIGINT)
              WHEN event_type IN ('error', 'click')
              THEN -CAST(round(value * 100, 0) AS BIGINT)
              ELSE 0 END AS delta_cents
  FROM events),
cums AS (
  SELECT user_id, ts, event_id, delta_cents,
         SUM(delta_cents) OVER w AS cum
  FROM ledger
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
clamped AS (
  SELECT user_id, ts, event_id, delta_cents,
         CAST(cum - LEAST(CAST(0 AS BIGINT), MIN(cum) OVER w2)
              AS BIGINT) AS bal,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM cums
  WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_tx,
       CAST(SUM(CASE WHEN delta_cents > 0 THEN delta_cents ELSE 0 END)
            AS BIGINT) AS credits_cents,
       CAST(SUM(CASE WHEN delta_cents < 0 THEN -delta_cents ELSE 0 END)
            AS BIGINT) AS debits_cents,
       CAST(MAX(bal) AS BIGINT) AS peak_balance_cents,
       CAST(MAX(CASE WHEN rn_last = 1 THEN bal END) AS BIGINT)
         AS final_balance_cents
FROM clamped GROUP BY user_id
""",
    description="Floor-clamped running balance per user (credits = "
                "purchases, debits = errors/clicks, balance never below "
                "zero): the classic NON-associative recurrence "
                "b_t = max(0, b_{t-1} + x_t) that a naive reading makes "
                "inherently sequential, rendered as the exact "
                "prefix-scan identity b_t = cum_t - min(0, "
                "running_min(cum_t)) — two stacked windows over ONE "
                "user-keyed exchange, fully parallel across users and "
                "mergeable across partitions of one user's history. "
                "Everything is exact BIGINT cents; the final balance is "
                "the arg_max over the full (ts, event_id) tiebreak so "
                "both engines pick the identical last row. The identity "
                "is hypothesis-pinned against the literal sequential "
                "recurrence in tests/test_analytics.py.",
    tags=("relational", "window_function", "timeseries", "aggregate"),
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ledger = ledger_deltas(ev)
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    scanned = ledger.select(
        "user_id", "ts", "event_id", "delta_cents",
        F.sum("delta_cents").over(w).alias("cum"))
    w_last = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id"))
    clamped = scanned.select(
        "user_id", "ts", "event_id", "delta_cents",
        (F.col("cum") - F.least(F.lit(0).cast("long"),
                                F.min("cum").over(w))).alias("bal"),
        F.row_number().over(w_last).alias("rn_last"))
    return clamped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tx"),
        F.sum(F.when(F.col("delta_cents") > 0, F.col("delta_cents"))
              .otherwise(0)).cast("long").alias("credits_cents"),
        F.sum(F.when(F.col("delta_cents") < 0, -F.col("delta_cents"))
              .otherwise(0)).cast("long").alias("debits_cents"),
        F.max("bal").cast("long").alias("peak_balance_cents"),
        F.max(F.when(F.col("rn_last") == 1, F.col("bal")))
        .cast("long").alias("final_balance_cents"))


@register(
    "frequent_triples",
    oracle="""
WITH freq AS (
  SELECT l_partkey FROM lineitem
  GROUP BY l_partkey HAVING COUNT(*) >= 20),
inv AS (
  SELECT DISTINCT l.l_orderkey, l.l_partkey
  FROM lineitem l JOIN freq f ON f.l_partkey = l.l_partkey),
sized AS (
  SELECT l_orderkey FROM inv
  GROUP BY l_orderkey HAVING COUNT(*) BETWEEN 3 AND 50)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       c.l_partkey AS part_c,
       CAST(COUNT(*) AS BIGINT) AS n_baskets
FROM inv a
JOIN inv b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
JOIN inv c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
JOIN sized s ON s.l_orderkey = a.l_orderkey
GROUP BY 1, 2, 3
HAVING COUNT(*) >= 2
""",
    description="Frequent item TRIPLES in order baskets — the k=3 rung "
                "of the a-priori ladder above copurchase_pairs: prune to "
                "frequent parts (support >= 20), cap baskets to 3..50 "
                "distinct frequent items, expand ordered triples "
                "IN-ROW with nested higher-order transforms over the "
                "sorted basket array (C(|basket|,3) per row, bounded by "
                "the cap — never a 3-way self-join of the fact table), "
                "then one count aggregate. The oracle states the same "
                "semantics as the brute-force 3-way inv join, which is "
                "exactly the plan shape the in-row expansion avoids: at "
                "100 TB the self-join explodes on hot parts while the "
                "HOF expansion is per-basket CPU with a hard cap. "
                "Support thresholds are exact integer counts.",
    tags=("relational", "mining", "aggregate"),
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    freq = (li.groupBy("l_partkey")
            .agg(F.count(F.lit(1)).alias("n_item"))
            .where(F.col("n_item") >= 20))
    arrs = (
        li.join(F.broadcast(freq.select("l_partkey")), "l_partkey")
        .select("l_orderkey", "l_partkey").distinct()
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .where(F.size("parts").between(3, 50)))
    triples = arrs.select(F.explode(F.expr("""
        flatten(flatten(transform(sequence(1, size(parts) - 2), i ->
          transform(sequence(i + 1, size(parts) - 1), j ->
            transform(sequence(j + 1, size(parts)), k ->
              struct(parts[i - 1] AS part_a, parts[j - 1] AS part_b,
                     parts[k - 1] AS part_c))))))
    """)).alias("t")).select("t.part_a", "t.part_b", "t.part_c")
    return (triples.groupBy("part_a", "part_b", "part_c")
            .agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
            .where(F.col("n_baskets") >= 2))


@register(
    "mad_anomalies",
    oracle="""
WITH vals AS (
  SELECT user_id, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events),
med AS (
  SELECT user_id,
         MIN(CASE WHEN 2 * rn >= n THEN cents END) AS median_cents
  FROM (SELECT user_id, cents,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY cents, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM vals)
  GROUP BY user_id),
devs AS (
  SELECT v.user_id, v.cents, m.median_cents,
         ABS(v.cents - m.median_cents) AS dev
  FROM vals v JOIN med m ON m.user_id = v.user_id),
mad AS (
  SELECT user_id,
         MIN(CASE WHEN 2 * rn >= n THEN dev END) AS mad_cents
  FROM (SELECT user_id, dev,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY dev, cents) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM devs)
  GROUP BY user_id)
SELECT d.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(d.median_cents) AS BIGINT) AS median_cents,
       CAST(MAX(a.mad_cents) AS BIGINT) AS mad_cents,
       CAST(SUM(CASE WHEN d.dev > 3 * a.mad_cents THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies
FROM devs d JOIN mad a ON a.user_id = d.user_id
GROUP BY d.user_id
""",
    description="Robust anomaly counts per user via median absolute "
                "deviation — the outlier-resistant sibling of "
                "rolling_zscore_anomalies (one wild value corrupts a "
                "mean/std gate but not a median/MAD one). Both medians "
                "are the EXACT lower median decided by the integer test "
                "2*rank >= count (the weighted_median_price discipline "
                "at weight 1), deviations are exact BIGINT cents, and "
                "the 3x-MAD flag is an integer comparison — nothing "
                "floats anywhere, so the whole report is "
                "bit-deterministic. Tie-breaks (cents, event_id) and "
                "(dev, cents) make each rank walk a total order. Shape: "
                "two ranked windows and two joins, all on the SAME "
                "user-keyed clustering, so one exchange of slim (user, "
                "cents) pairs carries the entire analysis.",
    tags=("relational", "anomaly", "window_function", "quality"),
)
def mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vals = ev.select(
        "user_id", "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"))
    wu = Window.partitionBy("user_id")
    w1 = wu.orderBy("cents", "event_id")
    ranked = vals.select(
        "user_id", "cents",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"))
    med = ranked.groupBy("user_id").agg(
        F.min(F.when(2 * F.col("rn") >= F.col("n"), F.col("cents")))
        .alias("median_cents"))
    devs = (vals.join(med, "user_id")
            .select("user_id", "cents", "median_cents",
                    F.abs(F.col("cents") - F.col("median_cents"))
                    .alias("dev")))
    w2 = wu.orderBy("dev", "cents")
    dranked = devs.select(
        "user_id", "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n"))
    mad = dranked.groupBy("user_id").agg(
        F.min(F.when(2 * F.col("rn") >= F.col("n"), F.col("dev")))
        .alias("mad_cents"))
    return (devs.join(mad, "user_id")
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_events"),
                 F.max("median_cents").cast("long").alias("median_cents"),
                 F.max("mad_cents").cast("long").alias("mad_cents"),
                 F.sum(F.when(F.col("dev") > 3 * F.col("mad_cents"), 1)
                       .otherwise(0)).cast("long").alias("n_anomalies")))


@register(
    "weekly_category_growth",
    oracle="""
WITH weekly AS (
  SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
lagged AS (
  SELECT event_type, week, n,
         lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n
  FROM weekly)
SELECT event_type, week, n, CAST(prev_n AS BIGINT) AS prev_n,
       CAST(floor((n - prev_n) * 10000.0 / prev_n) AS BIGINT)
         AS growth_e4
FROM lagged WHERE prev_n IS NOT NULL
""",
    description="Week-over-week traffic growth per event type — the "
                "trend primitive behind alerting dashboards: weekly "
                "counts (ISO Monday weeks, date_trunc agrees between "
                "engines), a lag window over OBSERVED weeks per type, "
                "and the growth ratio as one scaled-floor division over "
                "exact integer counts. Adjacent-observed-week semantics "
                "(a fully silent week compares against the last active "
                "one) stated identically in both engines. Shape: one "
                "partial-agg shuffle on (type, week) — key-space "
                "bounded — then a window over the tiny per-type weekly "
                "domain.",
    tags=("relational", "timeseries", "window_function", "datetime"),
)
def weekly_category_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    weekly = (ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd")
        .alias("week"))
        .agg(F.count(F.lit(1)).cast("long").alias("n")))
    w = Window.partitionBy("event_type").orderBy("week")
    lagged = weekly.withColumn("prev_n", F.lag("n").over(w))
    return (lagged.where(F.col("prev_n").isNotNull())
            .select("event_type", "week", "n",
                    F.col("prev_n").cast("long").alias("prev_n"),
                    F.floor((F.col("n") - F.col("prev_n")) * 10000.0
                            / F.col("prev_n")).cast("long")
                    .alias("growth_e4")))


@register(
    "cohort_ltv_curve",
    oracle="""
WITH firsts AS (
  SELECT o_custkey,
         MIN(date_trunc('month', o_orderdate)) AS cohort_month
  FROM orders GROUP BY o_custkey),
aged AS (
  SELECT strftime(f.cohort_month, '%Y-%m') AS cohort,
         (year(o.o_orderdate) - year(f.cohort_month)) * 12
           + (month(o.o_orderdate) - month(f.cohort_month)) AS age_months,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey),
percohort AS (
  SELECT cohort, age_months,
         CAST(SUM(cents) AS BIGINT) AS revenue_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM aged GROUP BY 1, 2)
SELECT cohort, CAST(age_months AS BIGINT) AS age_months,
       revenue_cents, n_orders,
       CAST(SUM(revenue_cents) OVER (PARTITION BY cohort
                                     ORDER BY age_months
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND CURRENT ROW) AS BIGINT)
         AS cum_revenue_cents
FROM percohort
""",
    description="Cohort lifetime-value curve: customers grouped by "
                "first-order month, revenue accumulated by cohort age in "
                "months — the LTV complement of retention_cohorts "
                "(which counts activity; this prices it). First-order "
                "months come from one per-customer aggregate joined "
                "back; ages are exact integer month arithmetic "
                "(year*12+month deltas, no date subtraction "
                "in floats); the running LTV is a window over the tiny "
                "(cohort, age) domain AFTER aggregation, so the only "
                "fact-sized work is one groupBy. All BIGINT cents, "
                "hash-exact.",
    tags=("relational", "cohort", "analytics", "window_function"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month"))
    aged = (orders.join(firsts, "o_custkey")
            .select(
                F.date_format("cohort_month", "yyyy-MM").alias("cohort"),
                ((F.year("o_orderdate") - F.year("cohort_month")) * 12
                 + (F.month("o_orderdate") - F.month("cohort_month")))
                .alias("age_months"),
                _cents("o_totalprice").alias("cents")))
    percohort = aged.groupBy("cohort", "age_months").agg(
        F.sum("cents").cast("long").alias("revenue_cents"),
        F.count(F.lit(1)).cast("long").alias("n_orders"))
    w = (Window.partitionBy("cohort").orderBy("age_months")
         .rowsBetween(Window.unboundedPreceding, 0))
    return percohort.select(
        "cohort", F.col("age_months").cast("long").alias("age_months"),
        "revenue_cents", "n_orders",
        F.sum("revenue_cents").over(w).cast("long")
        .alias("cum_revenue_cents"))


@register(
    "ab_test_chi2_by_event",
    oracle="""
WITH armed AS (
  SELECT user_id,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm
  FROM (SELECT DISTINCT user_id FROM events)),
tot AS (
  SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM armed),
cnt AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2),
typetot AS (
  SELECT event_type, CAST(SUM(c) AS BIGINT) AS tot FROM cnt GROUP BY 1),
conv AS (
  SELECT cnt.event_type, cnt.user_id
  FROM cnt
  JOIN typetot USING (event_type), tot
  WHERE cnt.c * (tot.n_a + tot.n_b) > typetot.tot),
per AS (
  SELECT c.event_type,
         CAST(SUM(CASE WHEN a.arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
         CAST(SUM(CASE WHEN a.arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
  FROM conv c JOIN armed a USING (user_id) GROUP BY 1),
cells AS (
  SELECT event_type, n_a, n_b, conv_a, conv_b,
         n_a + n_b AS n_all,
         conv_a + conv_b AS n_conv,
         conv_a * (n_b - conv_b) - (n_a - conv_a) * conv_b AS det
  FROM per, tot
  WHERE conv_a + conv_b > 0 AND conv_a + conv_b < n_a + n_b)
SELECT event_type, n_a, n_b, conv_a, conv_b,
       CAST(floor(conv_a * 1000000.0 / n_a) AS BIGINT) AS rate_a_e6,
       CAST(floor(conv_b * 1000000.0 / n_b) AS BIGINT) AS rate_b_e6,
       CAST(floor(CAST(n_all AS DOUBLE)
                  * CAST(det AS DOUBLE) * CAST(det AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * CAST(n_conv AS DOUBLE)
                     * CAST(n_all - n_conv AS DOUBLE))
                  * 1000000) AS BIGINT) AS chi2_e6,
       CAST(floor(CAST(n_all AS DOUBLE)
                  * CAST(det AS DOUBLE) * CAST(det AS DOUBLE)
                  / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                     * CAST(n_conv AS DOUBLE)
                     * CAST(n_all - n_conv AS DOUBLE))
                  * 1000000) AS BIGINT) >= 3841459 AS significant
FROM cells
""",
    description="Deterministic A/B (really A/A) experiment harness: every "
                "user is assigned an arm by the first md5 hex digit of "
                "their user_id -- reproducible across runs, engines, and "
                "cluster sizes, no RNG or seed coordination, the same "
                "idiom as hash_split_train_test -- then each event_type "
                "gets a 2x2 Pearson chi-square test of 'did arm affect "
                "the share of HEAVY users of this event' (heavy = the "
                "user's per-type count strictly above the global per-user "
                "mean for that type, pinned by the exact integer "
                "cross-multiplication c * n_users > total -- scale-free "
                "and non-degenerate, unlike at-least-once conversion "
                "which saturates at 100% on this data). "
                "Sufficient statistics are exact BIGINTs (per-arm user "
                "totals, per-arm converter counts from one distinct "
                "(event_type, user_id) pass); the statistic is one "
                "identical IEEE expression over those integers in both "
                "engines (each factor cast to double BEFORE multiplying "
                "-- the raw product n_a*n_b*conv*nonconv overflows int64 "
                "past ~100k users), scaled-floor hashed, with the 95% "
                "1-dof threshold pinned on the scaled integer (3841459 = "
                "floor(1e6 * 3.841459)). Because arms are hash-random, "
                "this doubles as the null-calibration check every "
                "experimentation platform runs: significant should be "
                "false for ~95% of metrics. Scale shape: arm is a "
                "scan-side expression, the distinct pass is map-side "
                "combinable, and the 2-number totals frame broadcasts; "
                "nothing fact-sized shuffles twice.",
    tags=("relational", "analytics", "experiment", "aggregate"),
)
def ab_test_chi2_by_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")),
                    1, 1).isin(*"01234567"),
        "A").otherwise("B")
    armed = (ev.select("user_id").distinct()
             .select("user_id", arm.alias("arm")))
    tot = armed.agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("long").alias("n_b"))
    cnt = (ev.groupBy("event_type", "user_id")
           .agg(F.count(F.lit(1)).cast("long").alias("c")))
    typetot = cnt.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("tot"))
    conv = (cnt.join(F.broadcast(typetot), "event_type")
            .crossJoin(F.broadcast(tot))
            .where(F.col("c") * (F.col("n_a") + F.col("n_b")) > F.col("tot"))
            .select("event_type", "user_id"))
    per = (conv.join(armed, "user_id")
           .groupBy("event_type")
           .agg(F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
                .cast("long").alias("conv_a"),
                F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
                .cast("long").alias("conv_b")))
    cells = (per.crossJoin(F.broadcast(tot))
             .withColumn("n_all", F.col("n_a") + F.col("n_b"))
             .withColumn("n_conv", F.col("conv_a") + F.col("conv_b"))
             .withColumn("det",
                         F.col("conv_a") * (F.col("n_b") - F.col("conv_b"))
                         - (F.col("n_a") - F.col("conv_a")) * F.col("conv_b"))
             .where((F.col("n_conv") > 0) & (F.col("n_conv") < F.col("n_all"))))
    chi2 = (F.col("n_all").cast("double")
            * F.col("det").cast("double") * F.col("det").cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double")
               * F.col("n_conv").cast("double")
               * (F.col("n_all") - F.col("n_conv")).cast("double")))
    chi2_e6 = F.floor(chi2 * 1000000).cast("long")
    return cells.select(
        "event_type", "n_a", "n_b", "conv_a", "conv_b",
        F.floor(F.col("conv_a") * 1000000.0 / F.col("n_a"))
        .cast("long").alias("rate_a_e6"),
        F.floor(F.col("conv_b") * 1000000.0 / F.col("n_b"))
        .cast("long").alias("rate_b_e6"),
        chi2_e6.alias("chi2_e6"),
        (chi2_e6 >= 3841459).alias("significant"))


@register(
    "welch_t_spend_ab",
    oracle="""
WITH spend AS (
  SELECT user_id, CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
  FROM events GROUP BY 1),
armed AS (
  SELECT cents,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm
  FROM spend),
stats AS (
  SELECT arm,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s,
         SUM(CAST(cents AS HUGEINT) * cents) AS ss
  FROM armed GROUP BY 1),
wide AS (
  SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
         MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
         MAX(CASE WHEN arm = 'A' THEN s END) AS s_a,
         MAX(CASE WHEN arm = 'B' THEN s END) AS s_b,
         MAX(CASE WHEN arm = 'A' THEN ss END) AS ss_a,
         MAX(CASE WHEN arm = 'B' THEN ss END) AS ss_b
  FROM stats),
calc AS (
  SELECT n_a, n_b, s_a, s_b,
         CAST(CAST(n_a AS HUGEINT) * ss_a
              - CAST(s_a AS HUGEINT) * CAST(s_a AS HUGEINT) AS DOUBLE)
           / (CAST(n_a AS DOUBLE) * CAST(n_a - 1 AS DOUBLE)) AS va,
         CAST(CAST(n_b AS HUGEINT) * ss_b
              - CAST(s_b AS HUGEINT) * CAST(s_b AS HUGEINT) AS DOUBLE)
           / (CAST(n_b AS DOUBLE) * CAST(n_b - 1 AS DOUBLE)) AS vb
  FROM wide
  WHERE n_a >= 2 AND n_b >= 2)
SELECT n_a, n_b, s_a AS sum_a_cents, s_b AS sum_b_cents,
       CAST(floor(s_a * 100.0 / n_a) AS BIGINT) AS mean_a_ce2,
       CAST(floor(s_b * 100.0 / n_b) AS BIGINT) AS mean_b_ce2,
       CAST(floor(ABS(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt(va / CAST(n_a AS DOUBLE)
                         + vb / CAST(n_b AS DOUBLE))
                  * 1000000) AS BIGINT) AS abs_t_e6,
       CAST(floor(ABS(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                      - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                  / sqrt(va / CAST(n_a AS DOUBLE)
                         + vb / CAST(n_b AS DOUBLE))
                  * 1000000) AS BIGINT) >= 1959964 AS significant
FROM calc
""",
    description="Welch's unequal-variance t-test on per-user total spend "
                "between the two md5-hash arms — the continuous-metric "
                "twin of ab_test_chi2_by_event (same deterministic "
                "assignment, same null-calibration reading: arms are "
                "hash-random, so significance should be rare). Sufficient "
                "statistics per arm are exact integers: user spend "
                "quantized to BIGINT cents, and the sum of squares "
                "accumulated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) "
                "because BIGINT cents-squared overflows int64 past ~1e5 "
                "users at this value scale — the overflow-proof scale "
                "path the EWMA fix established. The per-arm variance is "
                "cancellation-free: the numerator n*ss - s^2 is formed "
                "EXACTLY in DECIMAL(38,0)/HUGEINT (<= ~1e33 cents^2, "
                "fits) and cast to double once before a single IEEE "
                "division by n*(n-1), the denominator itself multiplied "
                "in DOUBLE (an int64 product wraps in Spark / raises in "
                "DuckDB past n ~ 3.04e9 per arm; the double product is "
                "correctly rounded and bit-identical below 2^53) — the "
                "grouped_ols_trend discipline; "
                "the naive (ss - s^2/n)/(n-1) double-subtraction loses "
                "up to ~40 bits on near-constant arms and failed its "
                "hypothesis pin in round 7. The t statistic is one "
                "identical IEEE expression (each exact stat cast to "
                "double at the same point on both engines; sqrt is "
                "correctly rounded IEEE so it cannot diverge), "
                "scaled-floor hashed with the two-sided 95% threshold "
                "pinned on the integer (1959964 = floor(1e6 * "
                "1.959964)). Scale shape: one map-side-combinable "
                "groupBy(user), one 2-row groupBy(arm), a 1-row pivot — "
                "nothing fact-sized shuffles twice.",
    tags=("relational", "analytics", "experiment", "aggregate"),
)
def welch_t_spend_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
    return welch_from_spend(spend)


def welch_from_spend(spend: DataFrame) -> DataFrame:
    """Welch-t derivation over a (user_id, cents) frame — shared with
    the streaming user-spend maintainer like gini_from_spend."""
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")),
                    1, 1).isin(*"01234567"),
        "A").otherwise("B")
    armed = spend.select("cents", arm.alias("arm"))
    cdec = F.col("cents").cast("decimal(19,0)")
    stats = armed.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(cdec * cdec).alias("ss"))
    wide = stats.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("arm") == "B", F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("arm") == "A", F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("arm") == "B", F.col("ss"))).alias("ss_b"),
    ).where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    # Cancellation-free variance: the numerator n*ss - s^2 is computed
    # EXACTLY in DECIMAL(38,0) (<= ~1e33 at cents scale, fits), cast to
    # double once, then one IEEE division — the grouped_ols_trend
    # discipline. The old (ss - s^2/n)/(n-1) double-subtraction lost up
    # to ~40 bits when an arm's variance << mean^2 (hypothesis pin in
    # tests/test_analytics.py caught it with near-constant spends).
    # The n*(n-1) denominator multiplies in DOUBLE, not int64: the
    # int64 product wraps (Spark) / raises (DuckDB) past n ~ 3.04e9
    # per arm, and both engines wrapped identically so the oracle hash
    # could never catch it. Double*double of exact ints is correctly
    # rounded — identical to the exact product below 2^53.
    dec38 = "decimal(38,0)"
    va = ((F.col("n_a").cast(dec38) * F.col("ss_a")
           - F.col("s_a").cast(dec38) * F.col("s_a").cast(dec38))
          .cast("double")
          / (F.col("n_a").cast("double")
             * (F.col("n_a") - 1).cast("double")))
    vb = ((F.col("n_b").cast(dec38) * F.col("ss_b")
           - F.col("s_b").cast(dec38) * F.col("s_b").cast(dec38))
          .cast("double")
          / (F.col("n_b").cast("double")
             * (F.col("n_b") - 1).cast("double")))
    calc = wide.select("n_a", "n_b", "s_a", "s_b",
                       va.alias("va"), vb.alias("vb"))
    abs_t = (F.abs(F.col("s_a").cast("double") / F.col("n_a").cast("double")
                   - F.col("s_b").cast("double") / F.col("n_b").cast("double"))
             / F.sqrt(F.col("va") / F.col("n_a").cast("double")
                      + F.col("vb") / F.col("n_b").cast("double")))
    abs_t_e6 = F.floor(abs_t * 1000000).cast("long")
    return calc.select(
        "n_a", "n_b",
        F.col("s_a").alias("sum_a_cents"), F.col("s_b").alias("sum_b_cents"),
        F.floor(F.col("s_a") * 100.0 / F.col("n_a"))
        .cast("long").alias("mean_a_ce2"),
        F.floor(F.col("s_b") * 100.0 / F.col("n_b"))
        .cast("long").alias("mean_b_ce2"),
        abs_t_e6.alias("abs_t_e6"),
        (abs_t_e6 >= 1959964).alias("significant"))


@register(
    "q19_disjunctive_revenue",
    oracle="""
SELECT CASE
         WHEN p.p_brand = 'Brand#12' THEN 'small'
         WHEN p.p_brand = 'Brand#23' THEN 'medium'
         ELSE 'large' END AS bracket,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round((1 - l.l_discount) * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_e4
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY 1
""",
    description="TPC-H Q19's shape (discounted revenue under a 3-branch "
                "disjunctive join predicate mixing part attributes and "
                "lineitem attributes; the classic container/shipmode "
                "columns do not exist in this schema so the branches use "
                "brand x size x quantity brackets) -- the optimizer "
                "stress-case for OR-predicate handling: the "
                "brand/size-only disjunction factors out and pushes to "
                "the part SCAN (pruning the dimension before the join), "
                "the part side broadcasts, and the mixed "
                "brand-AND-quantity conjuncts evaluate post-join without "
                "a second pass. Revenue is the exact-integer e4 cents "
                "product discipline of q3_shipping_priority. Grouping by "
                "branch keeps per-branch exactness visible instead of "
                "one opaque total.",
    bench=True,
    tags=("relational", "analytics", "join", "decision_support"),
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b1 = ((F.col("p_brand") == "Brand#12")
          & F.col("p_size").between(1, 5)
          & F.col("l_quantity").between(1, 11))
    b2 = ((F.col("p_brand") == "Brand#23")
          & F.col("p_size").between(1, 10)
          & F.col("l_quantity").between(10, 20))
    b3 = ((F.col("p_brand") == "Brand#34")
          & F.col("p_size").between(1, 15)
          & F.col("l_quantity").between(20, 30))
    rev = F.sum(
        F.round(F.col("l_extendedprice") * 100, 0).cast("long")
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    ).cast("long").alias("revenue_e4")
    bracket = (F.when(F.col("p_brand") == "Brand#12", "small")
               .when(F.col("p_brand") == "Brand#23", "medium")
               .otherwise("large"))
    dim = F.broadcast(part.where(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
        & (F.col("p_size") <= 15)
    ).select("p_partkey", "p_brand", "p_size"))
    return (li.join(dim, F.col("l_partkey") == F.col("p_partkey"))
            .where(b1 | b2 | b3)
            .groupBy(bracket.alias("bracket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_items"), rev))


@register(
    "q21_waiting_suppliers",
    oracle="""
SELECT s.s_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY 1, 2
ORDER BY numwait DESC, s_name
LIMIT 100
""",
    description="TPC-H Q21's shape (suppliers who kept orders waiting): "
                "for finished orders, count late lineitems whose "
                "supplier was the ONLY late supplier on a multi-supplier "
                "order — the classic multi-correlated-subquery semi/anti "
                "composition (EXISTS another-supplier line, NOT EXISTS "
                "another-supplier LATE line). The reference schema lacks "
                "commit/receipt dates, so 'late' is l_shipdate more than "
                "90 days after o_orderdate. The oracle runs the "
                "definitional correlated form; the Spark plan runs the "
                "DECORRELATED rewrite a 100 TB engine wants — a "
                "(orderkey, suppkey) pair-level combine (late_any flag "
                "+ late-line count), then ONE per-order aggregate over "
                "the PAIR frame that also carries the unique late "
                "supplier's key and late-line count (r17: under the "
                "n_late_supp = 1 predicate exactly one pair row per "
                "qualifying order is late, so max(when late_any=1, "
                "suppkey) / sum(when late_any=1, n_late_lines) make the "
                "old pair-side filter + re-join redundant — the "
                "previous plan consumed the pair frame twice, and "
                "exchange reuse did not fire, re-running the whole "
                "lineitem join + pair aggregation per consumer; "
                "measured 2.67 -> 2.25 s median at sf0.1 with one "
                "lineitem scan chain instead of two). The semi/anti "
                "pair collapses into two integer predicates "
                "(n_supp >= 2, n_late_supp = 1) — so lineitem reduces "
                "once and never re-joins at line grain; the pair-level "
                "form replaced the original double-countDistinct after "
                "measurement (countDistinct x2 plans an Expand that "
                "duplicates every fact row through the aggregate); "
                "hash equality against the EXISTS form is the proof "
                "the rewrite is sound. Supplier/nation broadcast; "
                "deterministic top-100 via (numwait DESC, s_name) "
                "total order.",
    bench=True,
    tags=("relational", "analytics", "join", "decision_support"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    fo = (orders.where(F.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_orderdate"))
    # ONE fact exchange for BOTH aggregates (r18, guide §2.4): hash-
    # partitioning the joined lines by l_orderkey up front satisfies the
    # clustering requirement of the (orderkey, suppkey) pair aggregate
    # (partitioning on a subset of the group keys co-locates every group)
    # AND of the per-order aggregate, so neither plans its own Exchange —
    # 3 fact shuffles became 2 (pair-agg + per-order exchanges collapsed
    # into this one; the suppkey aggregate below still needs its own).
    # Measured same-JVM at sf0.1: 2.18 -> 1.79 s median, rows identical.
    # At 100 TB the orders join is an SMJ already keyed on l_orderkey and
    # this repartition collapses into it (same key, conf partition
    # count); the old form's two pair-grain exchanges cost strictly more.
    # repartition(n, key) is REPARTITION_BY_NUM: AQE never coalesces or
    # skew-splits it. The count stays because the win above was measured
    # only in this form (sf0.1, 32 partitions) and it matches a same-key
    # join's partition count; the AQE-coalescable form is unmeasured.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    lines = (li.join(fo, li.l_orderkey == fo.o_orderkey)
             .select("l_orderkey", "l_suppkey",
                     (F.col("l_shipdate")
                      > F.date_add(F.col("o_orderdate"), 90)).alias("late"))
             .repartition(n_part, "l_orderkey"))
    # pair-level combine: ONE (orderkey, suppkey) aggregate replaces both
    # countDistincts (whose 2-distinct form plans an Expand duplicating
    # every line through the shuffle) and carries the late-line counts
    pair = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("late_any"),
        F.sum(F.col("late").cast("long")).alias("n_late_lines"))
    # One pass over the pair frame: the n_late_supp == 1 gate below means
    # exactly one pair row per qualifying order is late, so that
    # supplier's key and late-line count ride this same aggregate —
    # filtering the pair frame and re-joining it (the pre-r17 shape)
    # consumed `pair` twice, and with exchange reuse not firing the whole
    # lineitem join + pair aggregation executed once per consumer.
    per_order = pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_supp"),
        F.sum("late_any").cast("long").alias("n_late_supp"),
        F.max(F.when(F.col("late_any") == 1, F.col("l_suppkey")))
        .alias("l_suppkey"),
        F.sum(F.when(F.col("late_any") == 1, F.col("n_late_lines"))
              .otherwise(F.lit(0))).cast("long").alias("_late_lines"))
    numwait = (per_order.where((F.col("n_supp") >= 2)
                               & (F.col("n_late_supp") == 1))
               .groupBy("l_suppkey").agg(
                   F.sum("_late_lines").cast("long").alias("numwait")))
    return (numwait
            .join(F.broadcast(supplier.select("s_suppkey", "s_name",
                                              "s_nationkey")),
                  numwait.l_suppkey == F.col("s_suppkey"))
            .join(F.broadcast(nation.select("n_nationkey", "n_name")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_name", "n_name", "numwait")
            .orderBy(F.desc("numwait"), "s_name")
            .limit(100))


@register(
    "gini_spend_inequality",
    oracle="""
WITH spend AS (
  SELECT user_id, CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
  FROM events GROUP BY 1),
ranked AS (
  SELECT cents,
         ROW_NUMBER() OVER (ORDER BY cents, user_id) AS rn
  FROM spend),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         SUM(CAST(rn AS HUGEINT) * cents) AS s2
  FROM ranked),
shares AS (
  SELECT CAST(SUM(CASE WHEN r.rn > t.n - t.n // 10 THEN r.cents ELSE 0 END)
              AS BIGINT) AS top10_cents,
         CAST(SUM(CASE WHEN r.rn <= t.n // 2 THEN r.cents ELSE 0 END)
              AS BIGINT) AS bot50_cents
  FROM ranked r, tot t)
SELECT t.n AS n_users, t.s1 AS total_cents,
       CAST(floor(CAST(2 * t.s2 - (CAST(t.n AS HUGEINT) + 1) * t.s1
                       AS DOUBLE)
                  / (CAST(t.n AS DOUBLE) * CAST(t.s1 AS DOUBLE))
                  * 1000000) AS BIGINT) AS gini_e6,
       CAST(floor(s.top10_cents * 1000000.0 / t.s1) AS BIGINT)
         AS top10_share_e6,
       CAST(floor(s.bot50_cents * 1000000.0 / t.s1) AS BIGINT)
         AS bot50_share_e6
FROM tot t, shares s
""",
    description="Spend-inequality report: exact Gini coefficient of "
                "per-user total spend plus the top-10%/bottom-50% spend "
                "shares -- the concentration reading (who holds the "
                "revenue) that complements supplier_hhi_by_parttype's "
                "market view. Gini comes from the closed rank form "
                "G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over "
                "cents ranked ascending with user_id tie-break (tie "
                "order provably cannot change the sum: equal x across a "
                "tie block multiplies a fixed position total). The rank "
                "is global_rank_ranged -- range partition + local "
                "row_number + broadcast prefix offsets, NO "
                "single-partition window over users -- and sum(rank*x) "
                "accumulates in DECIMAL(38,0)/HUGEINT (rank*cents "
                "overflows int64 past ~1e7 users, the Welch discipline). "
                "The numerator 2*s2-(n+1)*s1 is formed EXACTLY in that "
                "decimal before a single cast+division (near-equal "
                "spends make the terms like-magnitude; a double "
                "subtraction would cancel -- the round-8 Welch lesson). "
                "The statistic is one identical IEEE expression over "
                "exact integers, scaled-floor hashed. Second pass for "
                "the conditional shares joins the 1-row totals broadcast "
                "against the ranked frame.",
    tags=("relational", "analytics", "aggregate", "rank"),
)
def gini_spend_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
    return gini_from_spend(spend)


def gini_from_spend(spend: DataFrame) -> DataFrame:
    """Inequality derivation over a (user_id, cents) frame — shared by
    the driver-oracled batch entry above and the streaming user-spend
    maintainer (streaming/analytics_twins.py), so stream == batch is the
    same code path by construction."""
    ranked = global_rank_ranged(spend, ["cents", "user_id"])
    gdec = F.col("grank").cast("decimal(19,0)")
    tot = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s1"),
        F.sum(gdec * F.col("cents")).alias("s2"))
    joined = ranked.crossJoin(F.broadcast(tot))
    shares = joined.agg(
        F.max("n").alias("n"), F.max("s1").alias("s1"), F.max("s2").alias("s2"),
        F.sum(F.when(
            F.col("grank") > F.col("n") - F.floor(F.col("n") / 10).cast("long"),
            F.col("cents")).otherwise(0)).cast("long").alias("top10_cents"),
        F.sum(F.when(
            F.col("grank") <= F.floor(F.col("n") / 2).cast("long"),
            F.col("cents")).otherwise(0)).cast("long").alias("bot50_cents"))
    # Cancellation-free Gini numerator (the Welch discipline): s2 stays
    # DECIMAL(38,0), 2*s2 - (n+1)*s1 is formed EXACTLY, cast to double
    # once, then one IEEE division — near-equal spends make the two
    # terms like-magnitude, so a double subtraction would cancel.
    dec38 = "decimal(38,0)"
    gnum = (F.lit(2).cast(dec38) * F.col("s2")
            - (F.col("n").cast(dec38) + 1) * F.col("s1").cast(dec38))
    return shares.select(
        F.col("n").alias("n_users"), F.col("s1").alias("total_cents"),
        F.floor(gnum.cast("double")
                / (F.col("n").cast("double") * F.col("s1").cast("double"))
                * 1000000).cast("long").alias("gini_e6"),
        F.floor(F.col("top10_cents") * 1000000.0 / F.col("s1"))
        .cast("long").alias("top10_share_e6"),
        F.floor(F.col("bot50_cents") * 1000000.0 / F.col("s1"))
        .cast("long").alias("bot50_share_e6"))


@register(
    "cusum_changepoint_daily_revenue",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
  FROM daily),
pre AS (
  SELECT d, cents,
         CAST(SUM(cents) OVER (ORDER BY d) AS BIGINT) AS pref,
         CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS j
  FROM daily),
cus AS (
  SELECT p.d, p.j, p.pref, t.n, t.s,
         t.n * p.pref - p.j * t.s AS c
  FROM pre p, tot t
  WHERE p.j < t.n)
SELECT d AS peak_date, j AS peak_day_index, n AS n_days, s AS total_cents,
       c AS cusum_scaled,
       CAST(floor(pref * 100.0 / j) AS BIGINT) AS mean_before_ce2,
       CAST(floor((s - pref) * 100.0 / (n - j)) AS BIGINT) AS mean_after_ce2
FROM cus ORDER BY ABS(c) DESC, d LIMIT 1
""",
    description="CUSUM change-point detection on the daily order-revenue "
                "series: the split point j maximizing |n*prefix_j - j*S| "
                "-- the classic scaled cumulative-sum deviation, which "
                "avoids ALL division so every candidate statistic is an "
                "exact BIGINT (n*prefix stays under int64 because the "
                "day keyspace is calendar-bounded ~1e4 regardless of "
                "data scale; cents totals to ~1e13 at 100 TB keep the "
                "product under 1e17). Emits the argmax day (earliest-day "
                "tie-break makes the cut deterministic) with the "
                "before/after mean daily revenue, i.e. the level shift "
                "the split detects. Scale shape: one map-side-combined "
                "groupBy(date) collapses the fact table to the bounded "
                "daily series; the ordered prefix window and the argmax "
                "top-1 run on that keyspace-bounded frame only (the "
                "resample_locf_hourly precedent), and the 2-number "
                "totals broadcast.",
    tags=("relational", "analytics", "timeseries", "window_function"),
)
def cusum_changepoint_daily_revenue(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    return cusum_from_daily(daily)


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """Change-point derivation over a (d, cents) daily frame — shared by
    the driver-oracled batch entry above and the streaming daily-revenue
    maintainer (streaming/analytics_twins.py), so stream == batch is the
    same code path by construction."""
    w = Window.orderBy("d")
    pre = daily.select(
        "d", "cents",
        F.sum("cents").over(w).cast("long").alias("pref"),
        F.row_number().over(w).cast("long").alias("j"))
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n"),
                    F.sum("cents").cast("long").alias("s"))
    cus = (pre.crossJoin(F.broadcast(tot))
           .where(F.col("j") < F.col("n"))
           .withColumn("c", F.col("n") * F.col("pref")
                       - F.col("j") * F.col("s")))
    return (cus.orderBy(F.abs(F.col("c")).desc(), "d").limit(1)
            .select(F.col("d").alias("peak_date"),
                    F.col("j").alias("peak_day_index"),
                    F.col("n").alias("n_days"),
                    F.col("s").alias("total_cents"),
                    F.col("c").alias("cusum_scaled"),
                    F.floor(F.col("pref") * 100.0 / F.col("j"))
                    .cast("long").alias("mean_before_ce2"),
                    F.floor((F.col("s") - F.col("pref")) * 100.0
                            / (F.col("n") - F.col("j")))
                    .cast("long").alias("mean_after_ce2")))


@register(
    "mann_whitney_spend_ab",
    oracle="""
WITH spend AS (
  SELECT user_id, CAST(ROUND(SUM(value) * 100, 0) AS BIGINT) AS cents
  FROM events GROUP BY 1),
armed AS (
  SELECT user_id, cents,
         CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm
  FROM spend),
ranked AS (
  SELECT user_id, cents, arm,
         ROW_NUMBER() OVER (ORDER BY cents, user_id) AS rn
  FROM armed),
grp AS (
  SELECT cents,
         CAST(MIN(rn) + MAX(rn) AS BIGINT) AS r2,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM ranked GROUP BY cents),
stats AS (
  SELECT CAST(SUM(CASE WHEN r.arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN r.arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN r.arm = 'A' THEN g.r2 ELSE 0 END) AS BIGINT)
           AS r2_a
  FROM ranked r JOIN grp g USING (cents)),
ties AS (
  SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum FROM grp),
calc AS (
  SELECT n_a, n_b, n_a + n_b AS n,
         r2_a - n_a * (n_a + 1) AS u2_a,
         tie_sum
  FROM stats, ties
  WHERE n_a >= 2 AND n_b >= 2)
SELECT n_a, n_b, u2_a,
       CAST(floor(ABS(CAST(u2_a - n_a * n_b AS DOUBLE))
                  / (2 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                              / 12.0
                              * (CAST(n + 1 AS DOUBLE)
                                 - CAST(tie_sum AS DOUBLE)
                                   / (CAST(n AS DOUBLE)
                                      * CAST(n - 1 AS DOUBLE)))))
                  * 1000000) AS BIGINT) AS abs_z_e6,
       CAST(floor(ABS(CAST(u2_a - n_a * n_b AS DOUBLE))
                  / (2 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                              / 12.0
                              * (CAST(n + 1 AS DOUBLE)
                                 - CAST(tie_sum AS DOUBLE)
                                   / (CAST(n AS DOUBLE)
                                      * CAST(n - 1 AS DOUBLE)))))
                  * 1000000) AS BIGINT) >= 1959964 AS significant
FROM calc
""",
    description="Mann-Whitney U (Wilcoxon rank-sum) on per-user spend "
                "between the md5 arms -- the NONPARAMETRIC member of the "
                "experiment family next to the chi-square (categorical) "
                "and Welch t (parametric means): rank-based, so a "
                "heavy-tailed whale distribution cannot distort it. All "
                "sufficient statistics are exact integers: ranks come "
                "from global_rank_ranged's total order, tied values get "
                "average ranks carried as DOUBLED rank sums (2*avg = "
                "min_rank + max_rank per tie group, so nothing is ever "
                ".5), U is the doubled identity 2U = 2R_A - n_A(n_A+1), "
                "and the tie-correction term sum(t^3 - t) is a bigint. "
                "The normal approximation z (tie-corrected variance, no "
                "continuity correction) is one identical IEEE expression "
                "over those integers, scaled-floor hashed with the "
                "two-sided 95% threshold pinned on the integer. Scale "
                "shape: the ranked frame never re-sorts -- the tie "
                "groups are one groupBy(cents) and the rank sums one "
                "more aggregate; ties join back via broadcast-sized "
                "per-value frames.",
    tags=("relational", "analytics", "experiment", "rank"),
)
def mann_whitney_spend_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spend = ev.groupBy("user_id").agg(
        F.round(F.sum("value") * 100, 0).cast("long").alias("cents"))
    return mann_whitney_from_spend(spend)


def mann_whitney_from_spend(spend: DataFrame) -> DataFrame:
    """Mann-Whitney derivation over a (user_id, cents) frame — shared
    with the streaming user-spend maintainer like gini_from_spend."""
    arm = F.when(
        F.substring(F.md5(F.col("user_id").cast("string").cast("binary")),
                    1, 1).isin(*"01234567"),
        "A").otherwise("B")
    armed = spend.select("user_id", "cents", arm.alias("arm"))
    ranked = global_rank_ranged(armed, ["cents", "user_id"])
    grp = ranked.groupBy("cents").agg(
        (F.min("grank") + F.max("grank")).cast("long").alias("r2"),
        F.count(F.lit(1)).cast("long").alias("t"))
    stats = (ranked.join(grp, "cents")
             .agg(F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
                  .cast("long").alias("n_a"),
                  F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
                  .cast("long").alias("n_b"),
                  F.sum(F.when(F.col("arm") == "A", F.col("r2")).otherwise(0))
                  .cast("long").alias("r2_a")))
    ties = grp.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long").alias("tie_sum"))
    calc = (stats.crossJoin(F.broadcast(ties))
            .where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
            .select("n_a", "n_b", "tie_sum",
                    (F.col("n_a") + F.col("n_b")).alias("n"),
                    (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1))
                    .alias("u2_a")))
    abs_z = (F.abs((F.col("u2_a") - F.col("n_a") * F.col("n_b"))
                   .cast("double"))
             / (2 * F.sqrt(F.col("n_a").cast("double")
                           * F.col("n_b").cast("double") / 12.0
                           * ((F.col("n") + 1).cast("double")
                              - F.col("tie_sum").cast("double")
                              / (F.col("n").cast("double")
                                 * (F.col("n") - 1).cast("double"))))))
    abs_z_e6 = F.floor(abs_z * 1000000).cast("long")
    return calc.select(
        "n_a", "n_b", "u2_a",
        abs_z_e6.alias("abs_z_e6"),
        (abs_z_e6 >= 1959964).alias("significant"))


@register(
    "spearman_qty_price",
    oracle="""
WITH f AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS p,
         l_orderkey, l_linenumber
  FROM lineitem),
rq AS (
  SELECT q, CAST(MIN(rn) + MAX(rn) AS BIGINT) AS r2x
  FROM (SELECT q, ROW_NUMBER()
                    OVER (ORDER BY q, l_orderkey, l_linenumber) AS rn
        FROM f) GROUP BY q),
rp AS (
  SELECT p, CAST(MIN(rn) + MAX(rn) AS BIGINT) AS r2y
  FROM (SELECT p, ROW_NUMBER()
                    OVER (ORDER BY p, l_orderkey, l_linenumber) AS rn
        FROM f) GROUP BY p),
j AS (
  SELECT rq.r2x, rp.r2y
  FROM f JOIN rq USING (q) JOIN rp USING (p)),
stats AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(r2x AS HUGEINT)) AS sx,
         SUM(CAST(r2y AS HUGEINT)) AS sy,
         SUM(CAST(r2x AS HUGEINT) * r2y) AS sxy,
         SUM(CAST(r2x AS HUGEINT) * r2x) AS sxx,
         SUM(CAST(r2y AS HUGEINT) * r2y) AS syy
  FROM j),
exact AS (
  SELECT n, n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dx,
         n * syy - sy * sy AS dy
  FROM stats)
SELECT CAST(n AS BIGINT) AS n_rows,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM rq) AS n_distinct_qty,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM rp) AS n_distinct_price,
       CAST(CASE WHEN dx = 0 OR dy = 0 THEN 0
                 ELSE LEAST(1000000, GREATEST(-1000000,
                        floor(CAST(num AS DOUBLE)
                              / (sqrt(CAST(dx AS DOUBLE))
                                 * sqrt(CAST(dy AS DOUBLE))) * 1000000)))
            END AS BIGINT) AS spearman_e6
FROM exact
""",
    description="Spearman rank correlation between line quantity and "
                "extended price — the RANK-correlation member of the "
                "experiment family (grouped_ols is Pearson on values, "
                "cramers_v is categorical, mann_whitney is rank "
                "location; monotone association was the missing cell): "
                "heavy tails or any monotone re-scaling of price cannot "
                "distort it. Ties (l_quantity has only 50 distinct "
                "values) get AVERAGE ranks carried as the doubled "
                "integer 2*avg = min_rank + max_rank per tie group — "
                "the mann_whitney doubling trick, so nothing is ever "
                ".5 — taken from global_rank_ranged's total order "
                "(range partition + local row_number, no single-"
                "partition fact window) with (orderkey, linenumber) as "
                "the unique tiebreaker; average ranks make the result "
                "invariant to the tiebreak, which is what makes the "
                "statistic well-defined. Spearman = Pearson on the "
                "doubled ranks: the five sufficient statistics are "
                "exact DECIMAL(38,0)/HUGEINT sums, the numerator "
                "n*sxy - sx*sy and both radicands are formed EXACTLY "
                "before the single double cast (the Welch/grouped_ols "
                "cancellation discipline — ranks are near-uniform so "
                "n*sxy and sx*sy agree to ~4 digits, exactly the "
                "round-before-subtract trap), then ONE identical IEEE "
                "expression, scaled-floored to e6 and clamped to "
                "[-1e6, 1e6] (at EXACT rho = +/-1 the quotient can "
                "round one ulp past +/-1 — hypothesis-found). "
                "n*sxy <= 4n^4 fits "
                "DECIMAL(38,0) to n ~ 1e9 rows; past that, pre-center "
                "ranks by their known exact mean n+1 per the documented "
                "fallback. Scale shape: two ranged exchanges of the "
                "slim 4-column projection, a <=50-row broadcast for the "
                "quantity ranks, one value-domain join for price ranks, "
                "one map-side-combinable aggregate.",
    tags=("relational", "analytics", "experiment", "rank"),
)
def spearman_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("p"),
        "l_orderkey", "l_linenumber")
    rq = (global_rank_ranged(li, ["q", "l_orderkey", "l_linenumber"])
          .groupBy("q")
          .agg((F.min("grank") + F.max("grank")).cast("long").alias("r2x")))
    rp = (global_rank_ranged(li, ["p", "l_orderkey", "l_linenumber"])
          .groupBy("p")
          .agg((F.min("grank") + F.max("grank")).cast("long").alias("r2y")))
    dec38 = "decimal(38,0)"
    joined = li.join(F.broadcast(rq), "q").join(rp, "p")
    stats = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.lit(1)).cast(dec38).alias("nd"),
        F.sum(F.col("r2x").cast(dec38)).alias("sx"),
        F.sum(F.col("r2y").cast(dec38)).alias("sy"),
        F.sum(F.col("r2x").cast(dec38) * F.col("r2y").cast(dec38))
        .alias("sxy"),
        F.sum(F.col("r2x").cast(dec38) * F.col("r2x").cast(dec38))
        .alias("sxx"),
        F.sum(F.col("r2y").cast(dec38) * F.col("r2y").cast(dec38))
        .alias("syy"))
    # Cancellation-free Pearson-on-ranks: numerator and radicands are
    # exact DECIMAL(38,0) before the one cast to double each.
    num = F.col("nd") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("nd") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("nd") * F.col("syy") - F.col("sy") * F.col("sy")
    exact = stats.select("n", num.alias("num"), dx.alias("dx"),
                         dy.alias("dy"))
    rho = (F.col("num").cast("double")
           / (F.sqrt(F.col("dx").cast("double"))
              * F.sqrt(F.col("dy").cast("double"))))
    nq = rq.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_qty"))
    np_ = rp.agg(F.count(F.lit(1)).cast("long").alias("n_distinct_price"))
    return (exact
            .crossJoin(F.broadcast(nq))
            .crossJoin(F.broadcast(np_))
            .select(F.col("n").alias("n_rows"),
                    "n_distinct_qty", "n_distinct_price",
                    F.when((F.col("dx") == 0) | (F.col("dy") == 0),
                           F.lit(0))
                    # clamp: at EXACT rho = +/-1 the IEEE quotient can
                    # round one ulp past +/-1, and the e6 floor would
                    # emit -1000001 (hypothesis-found edge)
                    .otherwise(F.least(
                        F.lit(1000000),
                        F.greatest(F.lit(-1000000),
                                   F.floor(rho * 1000000))))
                    .cast("long")
                    .alias("spearman_e6")))


@register(
    "price_volume_decomposition",
    oracle="""
WITH j AS (
  SELECT p.p_brand,
         CASE WHEN l.l_shipdate < DATE '1998-07-01' THEN 1 ELSE 2 END
           AS period,
         CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
           * CAST(round((1 - l.l_discount) * 100, 0) AS BIGINT) AS rev_e4
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
per AS (
  SELECT p_brand,
         CAST(SUM(CASE WHEN period = 1 THEN qty ELSE 0 END) AS BIGINT) AS q1,
         CAST(SUM(CASE WHEN period = 2 THEN qty ELSE 0 END) AS BIGINT) AS q2,
         CAST(SUM(CASE WHEN period = 1 THEN rev_e4 ELSE 0 END) AS BIGINT)
           AS r1_e4,
         CAST(SUM(CASE WHEN period = 2 THEN rev_e4 ELSE 0 END) AS BIGINT)
           AS r2_e4
  FROM j GROUP BY 1
  HAVING SUM(CASE WHEN period = 1 THEN qty ELSE 0 END) > 0
     AND SUM(CASE WHEN period = 2 THEN qty ELSE 0 END) > 0)
SELECT p_brand, q1, q2, r1_e4, r2_e4,
       r2_e4 - r1_e4 AS delta_e4,
       CAST(floor((q2 - q1) * (CAST(r1_e4 AS DOUBLE)
                               / CAST(q1 AS DOUBLE))) AS BIGINT)
         AS volume_effect_e4,
       CAST(floor((CAST(r2_e4 AS DOUBLE) / CAST(q2 AS DOUBLE)
                   - CAST(r1_e4 AS DOUBLE) / CAST(q1 AS DOUBLE))
                  * CAST(q2 AS DOUBLE)) AS BIGINT)
         AS price_effect_e4
FROM per
""",
    description="Price-volume decomposition of revenue change per brand "
                "between two ship-date periods -- the classic 'why did "
                "revenue move' bridge: delta = (q2-q1)*p1 (volume at old "
                "unit price) + (p2-p1)*q2 (unit-price change on new "
                "volume), an identity that sums EXACTLY to the exact "
                "delta in rationals (the two-term Laspeyres/Paasche "
                "split, floors reported per effect, delta itself exact "
                "BIGINT e4-cents -- the product-of-rounds revenue "
                "discipline of q3_shipping_priority). Sufficient statistics are one "
                "map-side-combinable conditional aggregate per brand "
                "over the broadcast part join -- q1/q2/r1/r2 exact "
                "integers, effects one identical IEEE expression. "
                "Brands with an empty period are excluded (no unit "
                "price to decompose against). Scale shape: dimension "
                "broadcast, single agg shuffle on the 25-brand keyspace.",
    tags=("relational", "analytics", "decomposition", "aggregate"),
)
def price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = (li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
         .select(
             "p_brand",
             F.when(F.col("l_shipdate") < F.lit("1998-07-01").cast("date"),
                    1).otherwise(2).alias("period"),
             F.col("l_quantity").cast("long").alias("qty"),
             (F.round(F.col("l_extendedprice") * 100, 0).cast("long")
              * F.round((1 - F.col("l_discount")) * 100, 0).cast("long"))
             .alias("rev_e4")))
    per = (j.groupBy("p_brand")
           .agg(F.sum(F.when(F.col("period") == 1, F.col("qty")).otherwise(0))
                .cast("long").alias("q1"),
                F.sum(F.when(F.col("period") == 2, F.col("qty")).otherwise(0))
                .cast("long").alias("q2"),
                F.sum(F.when(F.col("period") == 1, F.col("rev_e4")).otherwise(0))
                .cast("long").alias("r1_e4"),
                F.sum(F.when(F.col("period") == 2, F.col("rev_e4")).otherwise(0))
                .cast("long").alias("r2_e4"))
           .where((F.col("q1") > 0) & (F.col("q2") > 0)))
    p1 = F.col("r1_e4").cast("double") / F.col("q1").cast("double")
    p2 = F.col("r2_e4").cast("double") / F.col("q2").cast("double")
    return per.select(
        "p_brand", "q1", "q2", "r1_e4", "r2_e4",
        (F.col("r2_e4") - F.col("r1_e4")).alias("delta_e4"),
        F.floor((F.col("q2") - F.col("q1")) * p1)
        .cast("long").alias("volume_effect_e4"),
        F.floor((p2 - p1) * F.col("q2").cast("double"))
        .cast("long").alias("price_effect_e4"))


@register(
    "seasonal_naive_backtest",
    oracle="""
WITH daily AS (
  SELECT o_orderdate AS d,
         CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1),
paired AS (
  SELECT a.d, a.cents,
         b.cents AS forecast,
         CAST(isodow(CAST(a.d AS DATE)) AS BIGINT) AS dow
  FROM daily a JOIN daily b ON b.d = a.d - INTERVAL 7 DAY
  WHERE a.cents > 0)
SELECT dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(floor(SUM(ABS(cents - forecast)) * 1.0 / COUNT(*)) AS BIGINT)
         AS mae_cents,
       CAST(floor(SUM(ABS(cents - forecast) * 10000 // cents) * 1.0
                  / COUNT(*)) AS BIGINT) AS mape_e4
FROM paired GROUP BY 1
""",
    description="Seasonal-naive forecast backtest: predict each day's "
                "order revenue with the same weekday one week earlier "
                "(the standard baseline every forecasting system must "
                "beat) and score MAE and MAPE per weekday over the "
                "whole history. The lag-7 pairing is a self-equi-join "
                "on the calendar-bounded daily series -- NOT a window "
                "over facts (the fact table collapses to <=1e4 daily "
                "rows first, the cusum precedent), and with calendar "
                "gaps a date-keyed join is the correct lag anyway "
                "(lag(7) over row positions would silently pair across "
                "gaps). Errors are exact BIGINT cents; the per-day "
                "percentage error is the exact integer floor "
                "|e|*1e4 // actual, so MAE/MAPE are integer arithmetic "
                "until one final identical floored division. isodow vs "
                "dayofweek calendar pairing as in dow_seasonality_index.",
    tags=("relational", "analytics", "timeseries", "forecast"),
)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(_cents("o_totalprice")).cast("long").alias("cents"))
    return backtest_from_daily(daily)


def backtest_from_daily(daily: DataFrame) -> DataFrame:
    """Seasonal-naive MAE/MAPE derivation over a (d, cents) daily frame —
    shared with the streaming daily-revenue maintainer like
    cusum_from_daily."""
    lagged = daily.select(F.col("d").alias("d_lag"),
                          F.col("cents").alias("forecast"))
    paired = (daily.join(lagged,
                         F.col("d_lag")
                         == F.col("d") - F.expr("INTERVAL 7 DAY"))
              .where(F.col("cents") > 0)
              .select("d", "cents", "forecast",
                      # Spark dayofweek: 1=Sunday..7=Saturday; isodow:
                      # 1=Monday..7=Sunday — same shifted pairing as
                      # dow_seasonality_index
                      (((F.dayofweek("d") + 5) % 7) + 1).cast("long")
                      .alias("dow")))
    withe = paired.withColumn(
        "abs_err", F.abs(F.col("cents") - F.col("forecast")))
    # exact integer division on BOTH engines (Spark `div`, DuckDB `//`):
    # abs_err*1e4 can exceed 2^53, where a double-divide floor could
    # disagree with the exact quotient
    pct = F.expr("(abs_err * 10000) div cents")
    return (withe.groupBy("dow")
            .agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                 F.floor(F.sum("abs_err") * 1.0 / F.count(F.lit(1)))
                 .cast("long").alias("mae_cents"),
                 F.floor(F.sum(pct) * 1.0 / F.count(F.lit(1)))
                 .cast("long").alias("mape_e4")))


@register(
    "cramers_v_status_priority",
    oracle="""
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2),
rt AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS row_total
  FROM orders GROUP BY 1),
ct AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS col_total
  FROM orders GROUP BY 1),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_n,
         CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
         CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priority
  FROM orders),
grid AS (
  SELECT rt.o_orderstatus, ct.o_orderpriority, rt.row_total, ct.col_total
  FROM rt CROSS JOIN ct),
full_cells AS (
  SELECT g.o_orderstatus, g.o_orderpriority,
         COALESCE(c.n, 0) AS n, g.row_total, g.col_total,
         t.total_n, t.n_status, t.n_priority
  FROM grid g
  LEFT JOIN cells c USING (o_orderstatus, o_orderpriority), tot t),
staged AS (
  SELECT o_orderstatus, o_orderpriority, n, row_total, col_total,
         total_n, n_status, n_priority,
         CAST((10000 * CAST(row_total AS HUGEINT) * col_total)
              // total_n AS BIGINT) AS expected_e4,
         CAST(floor(
           CAST(CAST(n AS HUGEINT) * total_n
                - CAST(row_total AS HUGEINT) * col_total AS DOUBLE)
           * CAST(CAST(n AS HUGEINT) * total_n
                  - CAST(row_total AS HUGEINT) * col_total AS DOUBLE)
           / CAST(CAST(total_n AS HUGEINT) * row_total * col_total
                  AS DOUBLE)
           * 1000000) AS BIGINT) AS contrib_e6
  FROM full_cells),
chi AS (SELECT CAST(SUM(contrib_e6) AS BIGINT) AS chi2_e6 FROM staged)
SELECT s.o_orderstatus, s.o_orderpriority, s.n, s.row_total, s.col_total,
       s.expected_e4, s.contrib_e6, chi.chi2_e6,
       CASE WHEN LEAST(s.n_status - 1, s.n_priority - 1) > 0 THEN
         CAST(floor(sqrt(CAST(chi.chi2_e6 AS DOUBLE) / 1000000.0
                         / (CAST(s.total_n AS DOUBLE)
                            * CAST(LEAST(s.n_status - 1,
                                         s.n_priority - 1) AS DOUBLE)))
                    * 10000) AS BIGINT)
       END AS v_e4
FROM staged s, chi
""",
    description="R x C categorical association — the full contingency "
                "table of o_orderstatus x o_orderpriority with Pearson "
                "chi-square and Cramer's V, generalizing the 2x2 "
                "closed-form of ab_test_chi2_by_event to arbitrary "
                "cardinalities. The R x C statistic has no single-"
                "expression form, so the Welch lesson is applied "
                "differently: each cell's contribution (n*N - r*c)^2 / "
                "(N*r*c) keeps its numerator EXACT (DECIMAL(38,0) / "
                "HUGEINT products, subtracted before the one double "
                "cast — the grouped_ols discipline, no cancellation) "
                "and is floor-quantized to an e6 INTEGER, so the "
                "cross-cell total is an exact BIGINT sum — "
                "deterministic under any aggregation order, where a "
                "double sum over cells would hash-diverge — within "
                "|cells|*1e-6 of true chi-square. Zero cells enter "
                "through the distinct-status x distinct-priority grid "
                "(their e_ij contributes; omitting them biases the "
                "statistic low). Expected counts are exact integer "
                "e4 divisions (div//HUGEINT — double division floors "
                "can disagree past 2^53). V = sqrt(chi2/(N*min(R-1,"
                "C-1))) is one IEEE expression on the quantized total. "
                "Scale shape: ONE map-side-combinable fact aggregation "
                "to the cell frame; margins, totals, the <=15-row "
                "broadcast grid, and the distinct counts all derive "
                "from the cells (cramers_report_from_cells — shared "
                "with streaming maintainer #11, so stream == batch is "
                "one code path) — nothing fact-sized shuffles twice.",
    tags=("relational", "analytics", "experiment", "aggregate"),
)
def cramers_v_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cells = (orders.groupBy("o_orderstatus", "o_orderpriority")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    return cramers_report_from_cells(cells)


def cramers_report_from_cells(cells: DataFrame) -> DataFrame:
    """Cramér's V report from a (o_orderstatus, o_orderpriority, n) cell
    frame — shared by the batch entry and the streaming contingency
    maintainer (#11), so stream == batch is one code path. Margins,
    totals, and distinct counts all derive EXACTLY from the cell counts
    (row_total = sum of the row's cells, etc.), so deriving from cells
    instead of facts changes no output bit — and improves the batch
    plan: ONE fact-sized aggregation pass, everything downstream is
    cell-domain-sized. Cells must carry n >= 1 (a zero row would
    distort the distinct-value counts); enforced with a filter."""
    cells = cells.where(F.col("n") > 0)
    rt = (cells.groupBy("o_orderstatus")
          .agg(F.sum("n").cast("long").alias("row_total")))
    ct = (cells.groupBy("o_orderpriority")
          .agg(F.sum("n").cast("long").alias("col_total")))
    tot = cells.agg(
        F.sum("n").cast("long").alias("total_n"),
        F.countDistinct("o_orderstatus").cast("long").alias("n_status"),
        F.countDistinct("o_orderpriority").cast("long")
        .alias("n_priority"))
    grid = (rt.select("o_orderstatus")
            .crossJoin(F.broadcast(ct.select("o_orderpriority"))))
    full = (grid
            .join(cells, ["o_orderstatus", "o_orderpriority"], "left")
            .join(F.broadcast(rt), "o_orderstatus")
            .join(F.broadcast(ct), "o_orderpriority")
            .crossJoin(F.broadcast(tot))
            .withColumn("n", F.coalesce(F.col("n"),
                                        F.lit(0).cast("long"))))

    def dec(c):
        return c.cast("decimal(38,0)")

    diff = (dec(F.col("n")) * dec(F.col("total_n"))
            - dec(F.col("row_total")) * dec(F.col("col_total")))
    den = (dec(F.col("total_n")) * dec(F.col("row_total"))
           * dec(F.col("col_total")))
    d = diff.cast("double")
    contrib = F.floor(d * d / den.cast("double") * F.lit(1000000)) \
        .cast("long")
    expected = F.expr(
        "CAST((CAST(10000 AS DECIMAL(38,0))"
        " * CAST(row_total AS DECIMAL(38,0))"
        " * CAST(col_total AS DECIMAL(38,0)))"
        " div CAST(total_n AS DECIMAL(38,0)) AS BIGINT)")
    staged = full.select(
        "o_orderstatus", "o_orderpriority", "n", "row_total", "col_total",
        "total_n", "n_status", "n_priority",
        expected.alias("expected_e4"), contrib.alias("contrib_e6"))
    chi = staged.agg(F.sum("contrib_e6").cast("long").alias("chi2_e6"))
    mindim = F.least(F.col("n_status") - 1, F.col("n_priority") - 1)
    v = F.when(
        mindim > 0,
        F.floor(F.sqrt(F.col("chi2_e6").cast("double") / F.lit(1000000.0)
                       / (F.col("total_n").cast("double")
                          * mindim.cast("double"))) * 10000)
        .cast("long"))
    return (staged.crossJoin(F.broadcast(chi))
            .select("o_orderstatus", "o_orderpriority", "n", "row_total",
                    "col_total", "expected_e4", "contrib_e6", "chi2_e6",
                    v.alias("v_e4")))


@register(
    "q20_dominant_supplier_parts",
    oracle="""
WITH red AS (
  SELECT p_partkey FROM part WHERE p_name LIKE '%red%'),
pair AS (
  SELECT l.l_partkey, l.l_suppkey,
         CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
  FROM lineitem l
  JOIN red ON red.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2),
tot AS (
  SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS part_qty
  FROM pair GROUP BY 1),
dom AS (
  SELECT p.l_suppkey, p.l_partkey, p.pair_qty
  FROM pair p JOIN tot USING (l_partkey)
  WHERE 2 * p.pair_qty > tot.part_qty)
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_parts_dominated,
       CAST(SUM(d.pair_qty) AS BIGINT) AS dominated_qty
FROM dom d
JOIN supplier s ON s.s_suppkey = d.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1, 2, 3
""",
    description="TPC-H Q20-style excess/dominant-stock shape — the last "
                "classic correlated pattern next to Q17/Q21/Q22: the "
                "nested correlated IN ('suppliers having a part for which "
                "their shipped volume exceeds half that part's total') "
                "decorrelated into a per-(part,supplier) threshold "
                "aggregate compared against the per-part total, then a "
                "semi-style join up to the supplier dimension. Here it "
                "reads as a single-source-risk audit: for 'red' parts "
                "shipped in 1996, the suppliers that moved >50% of a "
                "part's annual volume. Scale shape: the part filter "
                "broadcasts into the date-pruned lineitem scan; the "
                "per-part totals derive from the ALREADY-AGGREGATED "
                "(part,supplier) frame via a sum window partitioned by "
                "part (group size = suppliers-per-part, bounded by the "
                "supplier count — no funnel), NOT a second aggregate "
                "joined back, because the self-join form plans a second "
                "lineitem scan when exchange reuse does not fire — the "
                "fact table is scanned ONCE (plan-asserted), "
                "and the threshold comparison 2*pair_qty > part_qty is "
                "exact integer cross-multiplication (quantities are "
                "integer-valued, sums exact BIGINT) so both engines agree "
                "bit-for-bit; supplier and nation dimensions broadcast "
                "into the dominant-pair frame, which is at most one row "
                "per part. Cf. reference flink_stream_task3.py:54-62 for "
                "the per-key threshold-compare idiom this generalizes.",
    tags=("relational", "subquery", "join", "sql"),
)
def q20_dominant_supplier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    red = (load_table(spark, sf_dir, "part")
           .where(F.col("p_name").like("%red%"))
           .select("p_partkey"))
    # ONE fact exchange for the pair aggregate AND the per-part window
    # (r18, guide §2.4): hash(l_partkey) satisfies the (partkey, suppkey)
    # group clustering (subset of the keys) and the window partitioning,
    # so neither plans its own Exchange — 3 shuffles became 2. Measured
    # same-JVM at sf0.1: 2.32 -> 2.01 s median, rows identical. (q20 was
    # also the worst 64k-AQE-floor regression, 1.31x; fewer tiny
    # exchanges makes it floor-insensitive.) REPARTITION_BY_NUM, which
    # AQE never coalesces or skew-splits; the count stays as in q21.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    pair = (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01"))
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .repartition(n_part, "l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long")
             .alias("pair_qty")))
    part_qty = (F.sum("pair_qty")
                .over(Window.partitionBy("l_partkey")).cast("long"))
    dom = (pair.withColumn("part_qty", part_qty)
           .where(2 * F.col("pair_qty") > F.col("part_qty")))
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    return (
        dom.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count(F.lit(1)).cast("long").alias("n_parts_dominated"),
             F.sum("pair_qty").cast("long").alias("dominated_qty")))


@register(
    "bh_fdr_segment_spend",
    oracle="""
WITH f AS (
  SELECT c.c_mktsegment AS seg,
         CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
         o.o_orderkey,
         CASE WHEN substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY seg
                               ORDER BY cents, o_orderkey) AS rn
  FROM f),
grp AS (
  SELECT seg, cents, CAST(MIN(rn) + MAX(rn) AS HUGEINT) AS r2,
         CAST(COUNT(*) AS HUGEINT) AS t
  FROM ranked GROUP BY 1, 2),
stats AS (
  SELECT r.seg,
         CAST(SUM(CASE WHEN r.arm = 'A' THEN 1 ELSE 0 END) AS HUGEINT)
           AS n_a,
         CAST(SUM(CASE WHEN r.arm = 'B' THEN 1 ELSE 0 END) AS HUGEINT)
           AS n_b,
         SUM(CASE WHEN r.arm = 'A' THEN g.r2 ELSE 0 END) AS r2_a
  FROM ranked r JOIN grp g ON g.seg = r.seg AND g.cents = r.cents
  GROUP BY 1),
ties AS (
  SELECT seg, SUM(t * t * t - t) AS tie_sum FROM grp GROUP BY 1),
calc AS (
  SELECT s.seg, n_a, n_b, n_a + n_b AS n,
         r2_a - n_a * (n_a + 1) AS u2_a, tie_sum
  FROM stats s JOIN ties USING (seg)
  WHERE n_a >= 2 AND n_b >= 2),
z AS (
  SELECT seg, n_a, n_b,
         ABS(CAST(u2_a - n_a * n_b AS DOUBLE))
           / (2 * sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                       * (CAST(n + 1 AS DOUBLE)
                          - CAST(tie_sum AS DOUBLE)
                            / (CAST(n AS DOUBLE)
                               * CAST(n - 1 AS DOUBLE))))) AS abs_z
  FROM calc),
p AS (
  SELECT *,
         CASE WHEN abs_z * abs_z > 1.0 THEN 1.0 / (abs_z * abs_z)
              ELSE 1.0 END AS p_cheb,
         COUNT(*) OVER () AS m
  FROM z),
r AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY p_cheb, seg) AS bh_rank FROM p)
SELECT seg AS c_mktsegment,
       CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(floor(abs_z * 1000000) AS BIGINT) AS abs_z_e6,
       CAST(floor(p_cheb * 1000000) AS BIGINT) AS p_cheb_e6,
       CAST(m AS BIGINT) AS m_tests,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       MAX(CASE WHEN p_cheb * m <= bh_rank * 0.05 THEN 1 ELSE 0 END)
         OVER (ORDER BY bh_rank
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) = 1
         AS rejected
FROM r
""",
    description="Benjamini-Hochberg FDR report over the experiment family: "
                "one Mann-Whitney rank test of order spend between the md5 "
                "arms PER market segment, then the BH step-up (reject the "
                "bh_rank-smallest p-values through the largest k with "
                "p_(k) <= k*alpha/m, alpha=0.05) across the m segment "
                "tests. p-values are CHEBYSHEV bounds p = min(1, 1/z^2) — "
                "a valid conservative FDR input that needs NO normal CDF, "
                "so the whole report stays inside the engine-agreeing "
                "arithmetic set (+,-,*,/,sqrt are IEEE correctly-rounded "
                "in both engines; erf is in neither): rank sums, tie "
                "corrections, and counts are exact HUGEINT/DECIMAL(38,0) "
                "integers, z is the same one IEEE expression the "
                "mann_whitney entry pins, and the BH comparison "
                "p*m <= k*alpha and the p-ascending sort operate on "
                "bit-identical doubles. Scale shape (r11 counts rewrite): "
                "the fact stream reduces FIRST to per-(segment, arm, "
                "cents) exact counts — |segments| x 2 x |price grid| rows "
                "at any volume, the mergeable state streaming maintainer "
                "#17 holds — then doubled tie-group ranks r2 = 2c + t + 1 "
                "come from ONE cumulative-count window over the DISTINCT "
                "cents value domain per segment (group size <= price "
                "grid; never a per-row rank or sort funnel); every window "
                "after the per-segment aggregate runs on the "
                "m<=|segments| frame. The step-up suffix-max renders "
                "'reject all i <= k' without a driver loop.",
    tags=("relational", "analytics", "experiment", "rank"),
)
def bh_fdr_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return bh_fdr_from_armed(armed_segment_spend(od, cust)) \
        .withColumnRenamed("seg", "c_mktsegment")


def armed_segment_spend(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """The (seg, cents, o_orderkey, arm) armed spend frame behind
    ``bh_fdr_segment_spend`` — split out so streaming maintainer #17
    builds its per-batch delta through the SAME enrichment (customer is
    the stream-static dimension joined inside the merge, the maintainer
    #12 precedent)."""
    arm = F.when(
        F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")),
                    1, 1).isin(*"01234567"), "A").otherwise("B")
    return (orders.join(customer.select("c_custkey", "c_mktsegment"),
                        F.col("c_custkey") == F.col("o_custkey"))
            .select(F.col("c_mktsegment").alias("seg"),
                    _cents("o_totalprice").alias("cents"),
                    "o_orderkey", arm.alias("arm")))


def armed_rank_counts(f: DataFrame) -> DataFrame:
    """Reduce an armed spend frame to per-(seg, arm, cents) exact
    counts — the value-domain-bounded sufficient statistic of the whole
    rank-test family (|segments| x 2 x |price grid| rows at ANY order
    volume; counts ADD under merge). Shared by the batch derivation and
    streaming maintainer #17's per-batch delta."""
    return (f.groupBy("seg", "arm", "cents")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt")))


def bh_fdr_from_armed(f: DataFrame) -> DataFrame:
    """BH step-up over per-segment Mann-Whitney Chebyshev p-values, from
    a (seg, cents, o_orderkey, arm) frame — kept as the row-level entry
    point so tests can feed a synthetic arm effect and pin the REJECTION
    path (the real-data report is all-null under H0, which exercises
    only the accept path). Reduces to per-(seg, arm, cents) counts and
    derives through ``bh_fdr_report_from_counts`` — the ONE code path
    streaming maintainer #17 presents through."""
    return bh_fdr_report_from_counts(armed_rank_counts(f))


def bh_fdr_report_from_counts(counts: DataFrame) -> DataFrame:
    """The full BH-FDR report from per-(seg, arm, cents) exact counts.

    Rank algebra on the value domain: within a segment, a tie group at
    value v with t members and c rows of strictly smaller value spans
    ranks c+1..c+t, so its DOUBLED average rank is r2 = 2c + t + 1 —
    c comes from ONE cumulative-sum window over the DISTINCT cents
    values partitioned by segment (group size <= the price grid, never
    a per-row rank; the sampled_median_audit exact-half discipline, and
    strictly cheaper than the previous ranged global rank over rows).
    Rank sums, tie corrections, and counts stay exact
    DECIMAL(38,0)/HUGEINT integers; z and the BH step-up are the same
    IEEE tail as before."""
    dec38 = "decimal(38,0)"
    grp = (counts.groupBy("seg", "cents")
           .agg(F.sum(F.when(F.col("arm") == "A", F.col("cnt"))
                      .otherwise(0)).cast(dec38).alias("c_a"),
                F.sum("cnt").cast(dec38).alias("t")))
    wcum = (Window.partitionBy("seg").orderBy("cents")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    grp = grp.withColumn(
        "r2", (2 * (F.sum("t").over(wcum) - F.col("t"))
               + F.col("t") + 1).cast(dec38))
    stats = (grp.groupBy("seg")
             .agg(F.sum("c_a").cast(dec38).alias("n_a"),
                  F.sum(F.col("t") - F.col("c_a")).cast(dec38).alias("n_b"),
                  F.sum(F.col("c_a") * F.col("r2")).alias("r2_a"),
                  F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
                  .alias("tie_sum")))
    calc = (stats.where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
            .select("seg", "n_a", "n_b", "tie_sum",
                    (F.col("n_a") + F.col("n_b")).alias("n"),
                    (F.col("r2_a") - F.col("n_a") * (F.col("n_a") + 1))
                    .alias("u2_a")))
    abs_z = (F.abs((F.col("u2_a") - F.col("n_a") * F.col("n_b"))
                   .cast("double"))
             / (2 * F.sqrt(F.col("n_a").cast("double")
                           * F.col("n_b").cast("double") / 12.0
                           * ((F.col("n") + 1).cast("double")
                              - F.col("tie_sum").cast("double")
                              / (F.col("n").cast("double")
                                 * (F.col("n") - 1).cast("double"))))))
    z = calc.select("seg", "n_a", "n_b", abs_z.alias("abs_z"))
    z2 = F.col("abs_z") * F.col("abs_z")
    p = z.select(
        "*",
        F.when(z2 > 1.0, F.lit(1.0) / z2).otherwise(F.lit(1.0))
        .alias("p_cheb"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"))
    r = p.withColumn(
        "bh_rank", F.row_number().over(Window.orderBy("p_cheb", "seg")))
    crit = F.when(
        F.col("p_cheb") * F.col("m") <= F.col("bh_rank") * F.lit(0.05),
        1).otherwise(0)
    wsuf = (Window.orderBy("bh_rank")
            .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    return r.select(
        "seg",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.floor(F.col("abs_z") * 1000000).cast("long").alias("abs_z_e6"),
        F.floor(F.col("p_cheb") * 1000000).cast("long").alias("p_cheb_e6"),
        F.col("m").cast("long").alias("m_tests"),
        F.col("bh_rank").cast("long").alias("bh_rank"),
        (F.max(crit).over(wsuf) == 1).alias("rejected"))


@register(
    "q15_top_supplier_revenue",
    oracle="""
WITH rev AS (
  SELECT l_suppkey,
         CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                  * CAST(round((1 - l_discount) * 100, 0) AS BIGINT))
              AS BIGINT) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY 1),
mx AS (SELECT MAX(total_rev_e4) AS max_rev FROM rev)
SELECT s.s_suppkey, s.s_name, n.n_name, r.total_rev_e4
FROM rev r
CROSS JOIN mx
JOIN supplier s ON s.s_suppkey = r.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE r.total_rev_e4 = mx.max_rev
""",
    description="TPC-H Q15-style top supplier: the 'revenue view + "
                "correlated scalar max' pattern — WHERE total_revenue = "
                "(SELECT MAX(total_revenue) FROM revenue) — the "
                "max-of-aggregates classic next to Q17's avg-threshold, "
                "Q20's share-threshold, and Q21/Q22's EXISTS shapes. "
                "Decorrelated Spark-first: the quarter's per-supplier "
                "revenue aggregates once (date filter pushed into the "
                "scan, exact BIGINT e-4 revenue so max-equality cannot "
                "drift on float summation), then the 1-row global max "
                "broadcasts back over the supplier-bounded revenue frame "
                "— an equality filter, not a rank, so ALL tied maxima "
                "surface exactly as Q15 requires. The at-most-|ties| "
                "winner frame is the BROADCAST side of the supplier "
                "join (the supplier dimension is fact-scale at 100 TB); "
                "nation broadcasts as usual. "
                "Scale shape: one fact scan, one supplier-keyed exchange "
                "for the aggregate, a 1-row broadcast, zero sorts.",
    tags=("relational", "subquery", "join", "sql"),
)
def q15_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1996-04-01"))
        .groupBy("l_suppkey")
        .agg(F.sum(_cents("l_extendedprice")
                   * F.round((1 - F.col("l_discount")) * 100, 0)
                   .cast("long")).cast("long").alias("total_rev_e4")))
    # rev feeds BOTH the scalar max and the equality probe; the planner
    # does not reuse the aggregate exchange across the two consumers
    # (measured: two lineitem scans in the AQE final plan), so stage the
    # supplier-bounded frame once — the llm_pipeline localCheckpoint
    # discipline; |suppliers| rows, dimension-scale at any SF
    rev = rev.localCheckpoint(eager=True)
    mx = rev.agg(F.max("total_rev_e4").alias("max_rev"))
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    top = (rev.crossJoin(F.broadcast(mx))
           .where(F.col("total_rev_e4") == F.col("max_rev")))
    # the at-most-|ties| winners are the broadcast side — the supplier
    # DIMENSION is fact-scale at 100 TB and must never ship to every task
    return (
        sup.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "total_rev_e4"))


@register(
    "q2_min_cost_supplier",
    # TPC-H Q2's shape — correlated min-over-join with multi-dimension
    # pruning — re-expressed without a partsupp table: lineitem is the
    # part-supplier fact, and a (part, supplier) pair's "supply cost" is
    # the minimum realized unit price (cents / quantity) across its
    # line items. The correlated `ps_supplycost = (SELECT min(...))`
    # becomes a min-window over the ALREADY-AGGREGATED pair frame (the
    # q20 discipline: group size bounded by suppliers-per-part, no
    # second fact scan from a join-back).
    oracle="""
WITH eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE'),
pf AS (
  SELECT p_partkey, p_brand, p_size FROM part
  WHERE p_type = 'LARGE' AND p_size <= 10),
pairs AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(round(l_extendedprice * 100, 0) AS DOUBLE)
             / l_quantity) AS unit
  FROM lineitem
  JOIN pf ON p_partkey = l_partkey
  JOIN eu ON s_suppkey = l_suppkey
  GROUP BY 1, 2),
best AS (
  SELECT *, MIN(unit) OVER (PARTITION BY l_partkey) AS best_unit
  FROM pairs)
SELECT CAST(round(s_acctbal * 100, 0) AS BIGINT) AS s_acctbal_c,
       s_name, n_name, p_partkey, p_brand, p_size,
       CAST(floor(unit * 100) AS BIGINT) AS min_unit_e4
FROM best
JOIN eu ON eu.s_suppkey = best.l_suppkey
JOIN pf ON pf.p_partkey = best.l_partkey
WHERE unit = best_unit
ORDER BY s_acctbal_c DESC, n_name, s_name, p_partkey
LIMIT 100
""",
    description="TPC-H Q2-shape minimum-cost supplier: for every LARGE "
                "part of size <= 10, the EUROPE supplier(s) achieving the "
                "minimum realized unit price, ties surfacing exactly as "
                "Q2's correlated-min semantics require. Adapted to the "
                "star schema at hand (no partsupp table): lineitem is the "
                "part-supplier fact and the pair cost is MIN over its "
                "line items of round(extendedprice*100)/quantity — one "
                "IEEE division per row, and MIN is comparison-based, so "
                "unlike a sum it cannot drift on aggregation order and "
                "the min-equality predicate is bit-identical in both "
                "engines. Scale shape: BOTH dimension filters (the "
                "region-pruned supplier list and the type/size-pruned "
                "part list) broadcast INTO the single fact scan before "
                "the pair aggregate, so the shuffle carries only "
                "surviving pairs; the correlated min is a window over "
                "the aggregated pair frame (group size = "
                "suppliers-per-part, the q20 discipline — a join-back "
                "form plans a second fact scan); the final ORDER BY "
                "... LIMIT 100 is TakeOrderedAndProject (per-partition "
                "top-k, 100-row driver merge, no global sort).",
    tags=("relational", "subquery", "join", "topk", "sql"),
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    eu = (sup.join(nat, F.col("n_nationkey") == F.col("s_nationkey"))
          .join(reg.where(F.col("r_name") == "EUROPE"),
                F.col("r_regionkey") == F.col("n_regionkey"))
          .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    pf = (load_table(spark, sf_dir, "part")
          .where((F.col("p_type") == "LARGE") & (F.col("p_size") <= 10))
          .select("p_partkey", "p_brand", "p_size"))
    unit = (_cents("l_extendedprice").cast("double") / F.col("l_quantity"))
    pairs = (
        li.join(F.broadcast(pf.select("p_partkey")),
                F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(eu.select("s_suppkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(unit).alias("unit")))
    best_unit = F.min("unit").over(Window.partitionBy("l_partkey"))
    winners = (pairs.withColumn("best_unit", best_unit)
               .where(F.col("unit") == F.col("best_unit")))
    return (
        winners.join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(pf), F.col("p_partkey") == F.col("l_partkey"))
        .select(_cents("s_acctbal").alias("s_acctbal_c"),
                "s_name", "n_name", "p_partkey", "p_brand", "p_size",
                F.floor(F.col("unit") * 100).cast("long")
                .alias("min_unit_e4"))
        .orderBy(F.col("s_acctbal_c").desc(), "n_name", "s_name",
                 "p_partkey")
        .limit(100))


@register(
    "q11_important_part_value",
    # TPC-H Q11's shape — HAVING against a global scalar share — without
    # a partsupp table: per-part value supplied by one nation's
    # suppliers, keeping parts whose value exceeds 1/1000 of the
    # nation's total. The comparison value*1000 > total is exact integer
    # cross-multiplication in DECIMAL(38,0)/HUGEINT (a 100 TB value_e4
    # times 1000 can overflow int64 — the welch_t precedent).
    oracle="""
WITH ns AS (
  SELECT s_suppkey FROM supplier
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_19'),
v AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             * CAST(round((1 - l_discount) * 100, 0) AS BIGINT))
           AS value_e4
  FROM lineitem JOIN ns ON s_suppkey = l_suppkey
  GROUP BY 1),
t AS (SELECT SUM(value_e4) AS total_e4 FROM v)
SELECT l_partkey, CAST(value_e4 AS BIGINT) AS value_e4,
       CAST(total_e4 AS BIGINT) AS total_e4
FROM v CROSS JOIN t
WHERE CAST(value_e4 AS HUGEINT) * 1000 > CAST(total_e4 AS HUGEINT)
""",
    description="TPC-H Q11-shape important-part value: per-part revenue "
                "supplied by NATION_19's suppliers, keeping parts whose "
                "value exceeds 0.1% of the nation's total — the classic "
                "HAVING-against-a-global-scalar pattern. Value is the "
                "exact BIGINT e-4 product-of-rounds revenue (Q3 "
                "discipline), the global total derives from the per-part "
                "frame (NOT a second fact scan), and the share test is "
                "exact DECIMAL(38,0)/HUGEINT cross-multiplication — "
                "value_e4*1000 at 100 TB overflows int64, and a double "
                "multiply-then-compare can flip at the boundary (the r8 "
                "HHI lesson). Scale shape: the nation's supplier list "
                "broadcasts into the single fact scan; the per-part "
                "aggregate (dimension-scale) is staged once with "
                "localCheckpoint because it feeds BOTH the 1-row total "
                "and the filter (the q15-measured double-scan "
                "otherwise); the 1-row total broadcasts back.",
    tags=("relational", "subquery", "sql"),
)
def q11_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    ns = (sup.join(nat.where(F.col("n_name") == "NATION_19"),
                   F.col("n_nationkey") == F.col("s_nationkey"))
          .select("s_suppkey"))
    v = (li.join(F.broadcast(ns), F.col("s_suppkey") == F.col("l_suppkey"))
         .groupBy("l_partkey")
         .agg(F.sum(_cents("l_extendedprice")
                    * F.round((1 - F.col("l_discount")) * 100, 0)
                    .cast("long")).cast("long").alias("value_e4")))
    # v feeds both the global total and the share filter; the planner
    # re-plans the aggregate (second fact scan) without staging — the
    # q15-measured pattern, |parts| rows, dimension-scale at any SF
    v = v.localCheckpoint(eager=True)
    t = v.agg(F.sum("value_e4").cast("long").alias("total_e4"))
    return (
        v.crossJoin(F.broadcast(t))
        .where(F.col("value_e4").cast("decimal(38,0)") * 1000
               > F.col("total_e4").cast("decimal(38,0)"))
        .select("l_partkey", "value_e4", "total_e4"))


@register(
    "q18_large_volume_customers",
    # TPC-H Q18's shape: the IN-aggregate semi-join (orders whose total
    # line quantity exceeds a threshold) rendered as aggregate ->
    # threshold filter -> broadcast semi-join, never a correlated
    # subquery per order.
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem
  GROUP BY 1
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 280)
SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
       CAST(round(o.o_totalprice * 100, 0) AS BIGINT) AS o_totalprice_c,
       big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o_totalprice_c DESC, o.o_orderkey
LIMIT 100
""",
    description="TPC-H Q18-shape large-volume customers: orders whose "
                "summed line quantity exceeds 280 units, with customer "
                "attribution, top-100 by order value. The IN-aggregate "
                "semi-join is rendered as ONE lineitem scan aggregated "
                "by order key, the HAVING threshold on the exact BIGINT "
                "quantity sum (quantities are integer-valued doubles; "
                "both engines cast the same exact values), and the "
                "surviving order list — a tiny fraction of orders at "
                "any scale — BROADCASTS into the orders scan, then the "
                "matched rows broadcast again into the customer "
                "dimension (the q15 discipline: orders and customer are "
                "fact-scale at 100 TB and must never ship to every "
                "task; the winners frame is bounded by the threshold "
                "selectivity). ORDER BY ... LIMIT 100 plans as "
                "TakeOrderedAndProject — per-partition top-k, a 100-row "
                "driver merge, no global sort.",
    tags=("relational", "subquery", "join", "topk", "sql"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("long")).cast("long")
                .alias("total_qty"))
           .where(F.col("total_qty") > 280))
    matched = od.join(F.broadcast(big),
                      F.col("o_orderkey") == F.col("l_orderkey"))
    return (
        cust.join(F.broadcast(matched),
                  F.col("c_custkey") == F.col("o_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                _cents("o_totalprice").alias("o_totalprice_c"),
                "total_qty")
        .orderBy(F.col("o_totalprice_c").desc(), "o_orderkey")
        .limit(100))


@register(
    "q5_local_supplier_volume",
    # TPC-H Q5's shape: the multi-fact join chain with an equality
    # CORRELATION between two dimension keys (customer and supplier in
    # the SAME nation) — the classic join-ordering exercise. Unlike the
    # broadcast-everything entries, customer/supplier/orders/lineitem
    # are all fact-scale at 100 TB, so the honest plan is shuffle joins
    # co-partitioned on the join keys with map-side-combined final
    # aggregation; only nation/region (grid-sized) broadcast.
    oracle="""
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round((1 - l_discount) * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_e4,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
JOIN nation ON n_nationkey = s_nationkey
JOIN region ON r_regionkey = n_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
    description="TPC-H Q5-shape local supplier volume: 1996 revenue from "
                "line items where the ordering customer and the supplier "
                "sit in the SAME ASIA nation, grouped by nation — the "
                "multi-fact join chain with a key-equality correlation "
                "(c_nationkey = s_nationkey) that makes join ORDER "
                "matter. Scale shape: the ASIA nation list (grid-sized) "
                "broadcasts into BOTH the customer and supplier scans as "
                "a semi-filter, cutting each fact-scale dimension to the "
                "region before any shuffle; orders carries the pushed "
                "date filter; the orders-customer and lineitem-orders "
                "joins shuffle co-partitioned on their keys (these "
                "tables are fact-scale at 100 TB — broadcasting them is "
                "the anti-pattern; bucketed layouts remove these "
                "exchanges at ingest, the session_fixed_gap_bucketed "
                "precedent); the supplier join carries the "
                "nation-equality as a join-side predicate so mismatched "
                "pairs die in the join, not in a post-filter. Revenue is "
                "the exact BIGINT e-4 product-of-rounds.",
    tags=("relational", "join", "sql"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    asia = (nat.join(F.broadcast(reg.where(F.col("r_name") == "ASIA")),
                     F.col("r_regionkey") == F.col("n_regionkey"))
            .select("n_nationkey", "n_name"))
    c = (cust.join(F.broadcast(asia.select("n_nationkey")),
                   F.col("n_nationkey") == F.col("c_nationkey"))
         .select("c_custkey", "c_nationkey"))
    s = (sup.join(F.broadcast(asia),
                  F.col("n_nationkey") == F.col("s_nationkey"))
         .select("s_suppkey", "s_nationkey", "n_name"))
    o = (od.where((F.col("o_orderdate") >= "1996-01-01")
                  & (F.col("o_orderdate") < "1997-01-01"))
         .select("o_orderkey", "o_custkey"))
    rev = _cents("l_extendedprice") \
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    return (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li.select("l_orderkey", "l_suppkey", "l_extendedprice",
                        "l_discount"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("long").alias("revenue_e4"),
             F.count(F.lit(1)).cast("long").alias("n_lineitems")))


@register(
    "q10_returned_item_losses",
    # TPC-H Q10's shape: revenue lost to returns per customer in one
    # quarter, top-20 — the returned-item reporting classic.
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(round(l.l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round((1 - l.l_discount) * 100, 0) AS BIGINT))
            AS BIGINT) AS lost_revenue_e4,
       CAST(round(c.c_acctbal * 100, 0) AS BIGINT) AS c_acctbal_c,
       n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-07-01'
  AND o.o_orderdate < TIMESTAMP '1996-10-01'
GROUP BY 1, 2, 4, 5
ORDER BY lost_revenue_e4 DESC, c_custkey
LIMIT 20
""",
    description="TPC-H Q10-shape returned-item losses: per-customer "
                "revenue on 'R'-flagged line items of one quarter's "
                "orders, top-20 by lost revenue with nation attribution. "
                "Scale shape: the quarter filter prunes the orders scan "
                "and the returnflag filter prunes the lineitem scan "
                "BEFORE their co-partitioned orderkey shuffle join; the "
                "per-customer aggregate shuffles once on custkey and "
                "joins the customer dimension co-partitioned (fact-scale "
                "at 100 TB — never broadcast); nation broadcasts for the "
                "name; the top-20 is TakeOrderedAndProject (per-partition "
                "top-k, 20-row driver merge). Exact BIGINT e-4 revenue, "
                "acctbal as exact cents.",
    tags=("relational", "join", "topk", "sql"),
)
def q10_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rev = _cents("l_extendedprice") \
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    o = (od.where((F.col("o_orderdate") >= "1996-07-01")
                  & (F.col("o_orderdate") < "1996-10-01"))
         .select("o_orderkey", "o_custkey"))
    l = (li.where(F.col("l_returnflag") == "R")
         .select("l_orderkey", rev.alias("rev_e4")))
    per_cust = (o.join(l, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_custkey")
                .agg(F.sum("rev_e4").cast("long")
                     .alias("lost_revenue_e4")))
    return (
        cust.join(per_cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nat),
              F.col("n_nationkey") == F.col("c_nationkey"))
        .select("c_custkey", "c_name", "lost_revenue_e4",
                _cents("c_acctbal").alias("c_acctbal_c"), "n_name")
        .orderBy(F.col("lost_revenue_e4").desc(), "c_custkey")
        .limit(20))


@register(
    "q14_promo_revenue_share",
    # TPC-H Q14's shape: a global conditional-aggregate ratio. The share
    # is EXACT integer division (promo_e4 * 1e6 DIV total_e4) in
    # DECIMAL(38,0)/HUGEINT on both engines — the seasonal_naive lesson
    # (a double multiply-then-floor breaks past 2^53) at 100 TB revenue
    # magnitudes.
    oracle="""
WITH f AS (
  SELECT CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
         * CAST(round((1 - l_discount) * 100, 0) AS HUGEINT) AS rev_e4,
         p_type
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-04-01')
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
            AS BIGINT) AS promo_revenue_e4,
       CAST(SUM(rev_e4) AS BIGINT) AS total_revenue_e4,
       CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END)
            * 1000000 // SUM(rev_e4) AS BIGINT) AS promo_share_e6
FROM f
""",
    description="TPC-H Q14-shape promo revenue share: the fraction of "
                "one month's revenue earned by PROMO-type parts — the "
                "global conditional-aggregate ratio classic. Scale "
                "shape: the date filter prunes the single lineitem scan; "
                "the part-type join carries only a 2-column projection "
                "and is left UNFORCED — AQE broadcasts it while it fits "
                "and falls back to a co-partitioned join at 100 TB part "
                "cardinalities (or the type is denormalized at ingest; "
                "the conditional aggregate itself is ONE "
                "map-side-combined pass either way); the "
                "ratio is computed on the 1-row aggregate. The share is "
                "exact DECIMAL(38,0)/HUGEINT integer division scaled to "
                "e-6 — numerator and denominator are exact e-4 "
                "product-of-rounds BIGINTs whose product with 1e6 "
                "overflows int64 at warehouse scale, so both engines "
                "divide the same exact integers and agree bit-for-bit.",
    tags=("relational", "analytics", "sql"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (_cents("l_extendedprice")
           * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")) \
        .cast("decimal(38,0)")
    # no forced broadcast: the part dimension is fact-scale at 100 TB;
    # AQE broadcasts the 2-column projection when it fits and falls back
    # to a co-partitioned join when it does not
    f = (li.where((F.col("l_shipdate") >= "1996-03-01")
                  & (F.col("l_shipdate") < "1996-04-01"))
         .join(part, F.col("p_partkey") == F.col("l_partkey"))
         .select(rev.alias("rev_e4"), "p_type"))
    agg = f.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_e4"))
              .otherwise(F.lit(0).cast("decimal(38,0)")))
        .alias("promo"),
        F.sum("rev_e4").alias("total"))
    return agg.select(
        F.col("promo").cast("long").alias("promo_revenue_e4"),
        F.col("total").cast("long").alias("total_revenue_e4"),
        F.expr("CAST((promo * 1000000) DIV total AS BIGINT)")
        .alias("promo_share_e6"))


@register(
    "q6_forecast_revenue_change",
    # TPC-H Q6's shape: the pure scan-filter-aggregate — no join at all.
    # The simplest classic is also the purest pushdown test: every
    # predicate must reach the parquet reader and the aggregate must be
    # a single map-side-combined pass.
    oracle="""
SELECT CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
             * CAST(round(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
         AS discounted_revenue_e4,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    description="TPC-H Q6-shape forecast revenue change: the canonical "
                "no-join scan-filter-aggregate — revenue that would have "
                "been earned had 1996's 5-7% discounts on small "
                "quantities been rescinded. Every predicate (date range, "
                "discount band, quantity cap) reaches the parquet reader "
                "as a pushed filter and the scan reads only the four "
                "referenced columns (plan-asserted); the aggregate is "
                "one map-side-combined pass producing a 1-row result — "
                "at 100 TB this query is pure scan bandwidth, exactly as "
                "it should be. Revenue is the exact e-4 product of "
                "rounds (cents x discount percent); the discount-band "
                "comparison operates on the identical stored doubles in "
                "both engines.",
    tags=("relational", "scan", "sql"),
)
def q6_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rev = _cents("l_extendedprice") \
        * F.round(F.col("l_discount") * 100, 0).cast("long")
    return (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01")
                 & (F.col("l_discount") >= 0.05)
                 & (F.col("l_discount") <= 0.07)
                 & (F.col("l_quantity") < 24))
        .agg(F.sum(rev).cast("long").alias("discounted_revenue_e4"),
             F.count(F.lit(1)).cast("long").alias("n_rows")))


@register(
    "q7_nation_pair_volume",
    # TPC-H Q7's shape: shipping volume between a nation PAIR in both
    # directions, by year — the symmetric-OR join condition that tempts
    # a cross join. Rendered as two dimension semi-filters + the pair
    # predicate on the joined frame, never a Cartesian.
    oracle="""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round((1 - l_discount) * 100, 0) AS BIGINT))
            AS BIGINT) AS revenue_e4
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_3')
   OR (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_19')
GROUP BY 1, 2, 3
""",
    description="TPC-H Q7-shape nation-pair volume: line-item revenue "
                "shipped between NATION_19 and NATION_3 in BOTH "
                "directions, by ship year — the symmetric-OR predicate "
                "classic. Scale shape: each side of the pair reduces to "
                "a 2-nation broadcast semi-filter pushed into the "
                "supplier and customer scans (the fact tables never see "
                "rows outside the pair), the fact-fact joins "
                "co-partition under AQE, and the OR evaluates on the "
                "already-joined 2x2-nation frame — no cross join, no "
                "union-of-two-queries double scan. Year extraction is "
                "engine-agreeing integer arithmetic on the timestamp; "
                "revenue is the exact e-4 product of rounds.",
    tags=("relational", "join", "sql"),
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    pair = nat.where(F.col("n_name").isin("NATION_19", "NATION_3"))
    s = (sup.join(F.broadcast(pair.select(
            F.col("n_nationkey").alias("sn_key"),
            F.col("n_name").alias("supp_nation"))),
            F.col("sn_key") == F.col("s_nationkey"))
         .select("s_suppkey", "supp_nation"))
    c = (cust.join(F.broadcast(pair.select(
            F.col("n_nationkey").alias("cn_key"),
            F.col("n_name").alias("cust_nation"))),
            F.col("cn_key") == F.col("c_nationkey"))
         .select("c_custkey", "cust_nation"))
    rev = _cents("l_extendedprice") \
        * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
    joined = (
        li.join(od.select("o_orderkey", "o_custkey"),
                F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .where(((F.col("supp_nation") == "NATION_19")
                & (F.col("cust_nation") == "NATION_3"))
               | ((F.col("supp_nation") == "NATION_3")
                  & (F.col("cust_nation") == "NATION_19"))))
    return (joined
            .groupBy("supp_nation", "cust_nation",
                     F.year("l_shipdate").cast("long").alias("l_year"))
            .agg(F.sum(rev).cast("long").alias("revenue_e4")))


@register(
    "q8_market_share",
    # TPC-H Q8's shape: one nation's share of a part-type market per
    # year — conditional sum over group sum, exact integer division.
    oracle="""
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         CAST(round(l_extendedprice * 100, 0) AS HUGEINT)
         * CAST(round((1 - l_discount) * 100, 0) AS HUGEINT) AS rev_e4,
         n.n_name AS supp_nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n ON n.n_nationkey = s_nationkey
  WHERE p_type = 'ECONOMY')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_19' THEN rev_e4
                ELSE 0 END) AS BIGINT) AS nation_revenue_e4,
       CAST(SUM(rev_e4) AS BIGINT) AS market_revenue_e4,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_19' THEN rev_e4
                ELSE 0 END) * 1000000 // SUM(rev_e4) AS BIGINT)
         AS market_share_e6
FROM vol
GROUP BY o_year
""",
    description="TPC-H Q8-shape market share: NATION_19 suppliers' share "
                "of the ECONOMY-part market per order year — the "
                "conditional-sum-over-group-sum classic. Scale shape: "
                "the type filter prunes through the part join before the "
                "fact-fact orderkey join (AQE chooses broadcast vs "
                "co-partitioned per side); nation broadcasts onto the "
                "supplier key; ONE aggregate computes both the "
                "conditional numerator and the market denominator per "
                "year (no second scan, no self-join); the share is exact "
                "DECIMAL(38,0)/HUGEINT integer division scaled e-6 — the "
                "q14 discipline, safe past 2^53 at warehouse revenue "
                "magnitudes.",
    tags=("relational", "analytics", "join", "sql"),
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_type") == "ECONOMY").select("p_partkey"))
    od = load_table(spark, sf_dir, "orders")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    s = (sup.join(F.broadcast(nat.select("n_nationkey", "n_name")),
                  F.col("n_nationkey") == F.col("s_nationkey"))
         .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    rev = (_cents("l_extendedprice")
           * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")) \
        .cast("decimal(38,0)")
    vol = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(od.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(F.year("o_orderdate").cast("long").alias("o_year"),
                rev.alias("rev_e4"), "supp_nation"))
    agg = (vol.groupBy("o_year")
           .agg(F.sum(F.when(F.col("supp_nation") == "NATION_19",
                             F.col("rev_e4"))
                      .otherwise(F.lit(0).cast("decimal(38,0)")))
                .alias("nation"),
                F.sum("rev_e4").alias("market")))
    return agg.select(
        "o_year",
        F.col("nation").cast("long").alias("nation_revenue_e4"),
        F.col("market").cast("long").alias("market_revenue_e4"),
        F.expr("CAST((nation * 1000000) DIV market AS BIGINT)")
        .alias("market_share_e6"))


@register(
    "q13_customer_order_distribution",
    # TPC-H Q13's shape: the LEFT OUTER join + double aggregation —
    # customers grouped by how many orders they placed, INCLUDING the
    # zero-order customers only an outer join can surface.
    oracle="""
WITH per_cust AS (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
  GROUP BY c_custkey)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
""",
    description="TPC-H Q13-shape customer order distribution: the count "
                "of customers per order count, zero-order customers "
                "included — the LEFT OUTER join + double aggregation "
                "classic (COUNT(o_orderkey) counts only matched rows, so "
                "an unmatched customer lands in the c_count=0 bucket "
                "exactly as the outer join semantics require). Scale "
                "shape: both sides co-partition on custkey under AQE "
                "(customer and orders are fact-scale — no broadcast); "
                "the first aggregate collapses to |customers| rows "
                "map-side-combined, the second to the tiny distinct "
                "count-of-counts domain. A production variant pre-"
                "aggregates orders by custkey BEFORE the outer join so "
                "the join carries one row per customer per side; at test "
                "scale the planner's pick is equivalent.",
    tags=("relational", "join", "outer", "sql"),
)
def q13_customer_order_distribution(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return order_distribution_from_counts(cust,
                                          order_counts_per_customer(od))


def order_counts_per_customer(orders: DataFrame) -> DataFrame:
    """Reduce an orders frame (full table or one micro-batch) to exact
    per-customer order counts — the mergeable sufficient statistic of
    the order-count distribution (counts ADD under merge; state bounded
    by the CUSTOMER key space at any order volume). Shared by the batch
    entry and streaming maintainer #18."""
    return (orders.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).cast("long").alias("n_orders")))


def order_distribution_from_counts(customer: DataFrame,
                                   counts: DataFrame) -> DataFrame:
    """Customers per order count from the per-customer counts — the
    LEFT OUTER join against the customer dimension restores the
    zero-order bucket the counts alone cannot see (a customer with no
    orders has no counts row). The presentation half shared by the
    batch entry and streaming maintainer #18."""
    per_cust = (
        customer.select("c_custkey")
        .join(counts, F.col("o_custkey") == F.col("c_custkey"), "left")
        .select(F.coalesce(F.col("n_orders"), F.lit(0)).cast("long")
                .alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).cast("long").alias("custdist")))


@register(
    "q16_supplier_part_counts",
    # TPC-H Q16's shape: count DISTINCT suppliers per part attribute
    # group, with a NOT-IN supplier exclusion — rendered as distinct
    # pair reconstruction + broadcast anti-join, never a correlated
    # NOT IN per row.
    oracle="""
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
excluded AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
JOIN part ON p_partkey = l_partkey
WHERE p_size IN (1, 5, 10, 15, 20)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM excluded)
GROUP BY 1, 2, 3
""",
    description="TPC-H Q16-shape supplier-part counts: how many distinct "
                "suppliers ship each (brand, type, size) slice of the "
                "catalog, excluding suppliers in deficit — the "
                "count-distinct + NOT-IN classic, with lineitem standing "
                "in for partsupp (distinct (partkey, suppkey) pairs are "
                "the observed supply relation; the q2 adaptation). Scale "
                "shape: NO standalone pair-distinct exchange — the single "
                "COUNT(DISTINCT) already deduplicates (partkey, suppkey) "
                "pairs inside its own partial/final aggregation, so a "
                "prior .distinct() just paid a second full shuffle of the "
                "fact projection for nothing (r17: dropping it measured "
                "1.66 -> 0.85 s at sf0.1, one Exchange removed, rows "
                "identical); the size-filtered part dimension broadcasts; "
                "the exclusion list (a tiny predicate slice of supplier) "
                "broadcasts as a LEFT ANTI join — never a correlated NOT "
                "IN per row; the COUNT(DISTINCT) plans without an Expand "
                "(one distinct aggregate, the q21 lesson). All outputs "
                "exact integers.",
    tags=("relational", "join", "distinct", "sql"),
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_size").isin(1, 5, 10, 15, 20))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    excluded = (load_table(spark, sf_dir, "supplier")
                .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    # COUNT(DISTINCT l_suppkey) dedupes per group internally (its partial
    # phase aggregates by (group keys, suppkey)), which subsumes the
    # (l_partkey, l_suppkey) distinct: a pre-.distinct() here is a second
    # full exchange of the same projection for zero semantic effect.
    pairs = li.select("l_partkey", "l_suppkey")
    return (
        pairs.join(F.broadcast(part),
                   F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(excluded),
              F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long")
                 .alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long")
             .alias("supplier_cnt")))


@register(
    "q4_priority_late_shipments",
    # TPC-H Q4's shape: EXISTS semi-join with a cross-table date
    # predicate, grouped by order priority. The schema has no
    # commit/receipt dates, so "problem order" is adapted to: at least
    # one line item shipped more than 60 days after the order date —
    # the same correlated-EXISTS form with the same decorrelation.
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-07-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
""",
    description="TPC-H Q4-shape priority checking: how many of one "
                "quarter's orders, per priority class, had at least one "
                "line item shipped more than 60 days after ordering — "
                "the correlated-EXISTS classic (adapted: the schema has "
                "no commit/receipt dates, so lateness is ship-vs-order "
                "date; the decorrelation is identical). Scale shape: the "
                "quarter filter prunes the orders scan; the EXISTS "
                "renders as ONE left-semi join on orderkey against a "
                "per-order MAX(l_shipdate) pre-aggregate (r17: "
                "EXISTS(ship > d+60) == MAX(ship) > d+60, so the fact "
                "side collapses map-side to one slim row per order "
                "before any exchange — the previous plan broadcast the "
                "whole 2-column lineitem projection, which cannot fire "
                "at 100 TB) — and the per-priority count is a 5-row "
                "aggregate. Both engines evaluate the same exact "
                "timestamp arithmetic (+60 days on microsecond "
                "timestamps).",
    tags=("relational", "subquery", "join", "sql"),
)
def q4_priority_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = od.where((F.col("o_orderdate") >= "1996-07-01")
                 & (F.col("o_orderdate") < "1996-10-01"))
    # EXISTS over a `>` predicate depends only on MAX(l_shipdate): the
    # pre-aggregate is one slim row per order (map-side partials collapse
    # multi-line orders before the exchange) and the semi join's
    # dedup work disappears with it. max() ignores NULL ship dates and a
    # NULL comparison rejects the row in both forms — exactly EXISTS.
    mx = (li.select("l_orderkey", "l_shipdate")
          .groupBy("l_orderkey")
          .agg(F.max("l_shipdate").alias("_max_ship")))
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & \
        (F.col("_max_ship")
         > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
    return (o.join(mx, late, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).cast("long").alias("order_count")))


def q9_profit_partials(li: DataFrame, part: DataFrame, sup: DataFrame,
                       nat: DataFrame, od: DataFrame) -> DataFrame:
    """Exact per-(nation, order-year) profit partials on 'red' parts —
    the Q9 state, shared by the batch entry and streaming maintainer
    #19 (streaming/analytics_twins.py IncrementalProfitMaintainer): one
    code path, never a parallel implementation. Every term is BIGINT
    e-4 (cents x percent revenue; retail-cents x quantity x 100 cost),
    so ``profit_e4`` ADDs exactly under merge — partials over any
    lineitem split sum to the full-table aggregate bit-for-bit — and
    the key space is |nations| x |years| regardless of fact volume.
    The part/supplier/nation dimensions prune-then-broadcast into the
    single fact scan; orders joins co-partitioned on orderkey."""
    profit = (_cents("l_extendedprice")
              * F.round((1 - F.col("l_discount")) * 100, 0).cast("long")
              - _cents("p_retailprice")
              * F.col("l_quantity").cast("long") * 100)
    red = (part.where(F.col("p_name").like("%red%"))
           .select("p_partkey", "p_retailprice"))
    return (
        li.join(red, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(sup.select("s_suppkey", "s_nationkey")),
              F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")),
              F.col("n_nationkey") == F.col("s_nationkey"))
        .join(od.select("o_orderkey", "o_orderdate"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("n_name",
                 F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(profit).cast("long").alias("profit_e4")))


@register(
    "q9_product_type_profit",
    # TPC-H Q9's shape: profit (revenue minus cost) by supplier nation
    # and order year over a part-name slice. No partsupp supplycost in
    # the schema, so unit cost is the part's retail price — the
    # mixed-table money expression and the nation x year rollup are the
    # shape being exercised.
    oracle="""
SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(round((1 - l_discount) * 100, 0) AS BIGINT)
                - CAST(round(p_retailprice * 100, 0) AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * 100) AS BIGINT)
         AS profit_e4
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
""",
    description="TPC-H Q9-shape product-type profit: per supplier nation "
                "and order year, the margin earned on 'red' parts — "
                "discounted revenue minus quantity times the part's "
                "retail price (the schema's stand-in for supplycost; the "
                "mixed-two-table money expression is the shape). Every "
                "term is exact BIGINT e-4 (cents x percent for revenue; "
                "retail cents x integer quantity x 100 for cost), so the "
                "signed profit sums exactly — a negative-margin nation "
                "cannot drift on float order. Scale shape: the name "
                "filter prunes the part side BEFORE the fact join (AQE "
                "broadcast at test scale, co-partitioned at 100 TB); "
                "supplier/nation attach to the already-part-filtered "
                "frame; orders joins co-partitioned on orderkey for the "
                "year; ONE aggregate on (nation, year) — grid-sized "
                "output.",
    tags=("relational", "join", "analytics", "sql"),
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return q9_profit_partials(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "orders"))


@register(
    "q12_returnflag_priority_classes",
    # TPC-H Q12's shape: two conditional counts per line-attribute
    # class after a fact-fact join. No l_shipmode in the schema, so the
    # class attribute is l_returnflag — the two-way CASE counting over
    # the joined frame is the shape.
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_returnflag
""",
    description="TPC-H Q12-shape priority class counts: per return-flag "
                "class of 1996's shipments, how many line items belong "
                "to urgent/high-priority orders vs everything else — the "
                "two-way conditional-count classic (adapted: the schema "
                "has no ship mode, so the class attribute is "
                "l_returnflag; the CASE-counting over a fact-fact join "
                "is the shape). Scale shape: the date filter prunes the "
                "lineitem scan to the year; the orderkey join "
                "co-partitions under AQE (both sides fact-scale); ONE "
                "aggregate computes both conditional counts "
                "map-side-combined into a 3-row result — no Expand, no "
                "second scan, no per-class filtering pass.",
    tags=("relational", "join", "sql"),
)
def q12_returnflag_priority_classes(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders") \
        .select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where((F.col("l_shipdate") >= "1996-01-01")
                 & (F.col("l_shipdate") < "1997-01-01"))
        .select("l_orderkey", "l_returnflag")
        .join(od, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(F.sum(F.when(high, 1).otherwise(0)).cast("long")
             .alias("high_line_count"),
             F.sum(F.when(~high, 1).otherwise(0)).cast("long")
             .alias("low_line_count")))


@register(
    "cuped_adjusted_ab",
    # Engine-agreement discipline (the welch/BH lineage): every sum is
    # an exact BIGINT/HUGEINT; theta and rho^2 are assembled from the
    # exact centered moments n*Sxy - Sx*Sy / n*Sxx - Sx^2 / n*Syy - Sy^2
    # (HUGEINT, cast to double ONCE), and each output is one identical
    # IEEE expression tree floor-scaled — Spark and DuckDB agree
    # bit-for-bit because +,-,*,/ are correctly rounded in both.
    oracle="""
WITH units AS (
  SELECT o_custkey AS custkey,
         CAST(COALESCE(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END), 0)
              AS BIGINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
              THEN CAST(round(o_totalprice * 100, 0) AS BIGINT) END), 0)
              AS BIGINT) AS y
  FROM orders
  WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
  GROUP BY 1),
armed AS (
  SELECT x, y,
         CASE WHEN substr(md5(CAST(custkey AS VARCHAR)), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
              THEN 'A' ELSE 'B' END AS arm
  FROM units),
pooled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM armed),
moments AS (
  SELECT n, sx, sy,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov,
         CAST(n AS HUGEINT) * sxx
           - CAST(sx AS HUGEINT) * CAST(sx AS HUGEINT) AS vx,
         CAST(n AS HUGEINT) * syy
           - CAST(sy AS HUGEINT) * CAST(sy AS HUGEINT) AS vy
  FROM pooled),
theta_t AS (
  SELECT n, sx,
         CAST(cov AS DOUBLE) / CAST(vx AS DOUBLE) AS theta,
         (CAST(cov AS DOUBLE) * CAST(cov AS DOUBLE))
           / (CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)) AS rho2
  FROM moments WHERE vx > 0 AND vy > 0),
arms AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
         CAST(SUM(x) AS BIGINT) AS sx_arm,
         CAST(SUM(y) AS BIGINT) AS sy_arm
  FROM armed GROUP BY 1)
SELECT a.arm, a.n_arm,
       CAST(floor(CAST(a.sy_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE)
                  * 100) AS BIGINT) AS mean_post_ce2,
       CAST(floor((CAST(a.sy_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE)
                   - t.theta
                     * (CAST(a.sx_arm AS DOUBLE) / CAST(a.n_arm AS DOUBLE)
                        - CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE)))
                  * 100) AS BIGINT) AS mean_adj_ce2,
       CAST(floor(t.theta * 1000000) AS BIGINT) AS theta_e6,
       CAST(floor(t.rho2 * 10000) AS BIGINT) AS rho2_e4
FROM arms a CROSS JOIN theta_t t
WHERE a.n_arm >= 2
""",
    description="CUPED variance-reduced A/B readout — the industry "
                "standard experiment operator (Deng et al., WSDM'13): "
                "each customer's 1997 order spend (the experiment "
                "metric) is adjusted by their own 1996 spend (the "
                "pre-period covariate), y' = y - theta (x - mean(x)) "
                "with theta = Cov(x,y)/Var(x) pooled across arms, "
                "which shrinks metric variance by the factor 1 - rho^2 "
                "without biasing the A/B difference (the covariate "
                "predates assignment). Arms split by the md5 first-hex "
                "rule shared with welch_t_spend_ab. Everything derives "
                "from ONE pass of exact sufficient statistics "
                "(n/Sx/Sy/Sxx/Sxy/Syy as BIGINT + DECIMAL(38,0), the "
                "welch cancellation-free discipline): theta and rho^2 "
                "come from exact centered moments cast to double once, "
                "per-arm means adjust against the pooled theta via a "
                "2-row x 1-row broadcast — no second fact scan, no "
                "per-unit adjusted column ever materializes (the "
                "adjusted MEAN is algebraically mean(y) - theta "
                "(mean_arm(x) - mean(x)), so the report needs only the "
                "arm sums). Reports per arm: n, raw and CUPED-adjusted "
                "post-period mean, pooled theta_e6 and rho2_e4 (the "
                "variance-reduction reading).",
    tags=("relational", "analytics", "experiment", "aggregate"),
)
def cuped_adjusted_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return cuped_report_from_units(cuped_units(orders))


def cuped_units(orders: DataFrame) -> DataFrame:
    """The mergeable unit grid behind ``cuped_adjusted_ab`` (and
    streaming maintainer #21): per-customer exact pre-period (1996) and
    post-period (1997) spend cents. Both sums ADD under merge and the
    key space is bounded by |customers|, so a maintainer holding this
    frame re-derives the full CUPED report at any time."""
    yr = F.year("o_orderdate")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (orders.where(yr.isin(1996, 1997))
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.coalesce(F.sum(F.when(yr == 1996, cents)), F.lit(0))
                 .cast("long").alias("x"),
                 F.coalesce(F.sum(F.when(yr == 1997, cents)), F.lit(0))
                 .cast("long").alias("y")))


def cuped_report_from_units(units: DataFrame) -> DataFrame:
    """Presentation shared by the batch entry and maintainer #21: the
    per-arm CUPED report from the (custkey, x, y) unit grid."""
    arm = F.when(
        F.substring(F.md5(F.col("custkey").cast("string").cast("binary")),
                    1, 1).isin(*"01234567"), "A").otherwise("B")
    armed = units.select("x", "y", arm.alias("arm")) \
        .localCheckpoint(eager=False)
    dec38 = "decimal(38,0)"
    xdec = F.col("x").cast("decimal(19,0)")
    ydec = F.col("y").cast("decimal(19,0)")
    pooled = armed.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(xdec * xdec).alias("sxx"),
        F.sum(xdec * ydec).alias("sxy"),
        F.sum(ydec * ydec).alias("syy"))
    cov = (F.col("n").cast(dec38) * F.col("sxy")
           - F.col("sx").cast(dec38) * F.col("sy").cast(dec38))
    vx = (F.col("n").cast(dec38) * F.col("sxx")
          - F.col("sx").cast(dec38) * F.col("sx").cast(dec38))
    vy = (F.col("n").cast(dec38) * F.col("syy")
          - F.col("sy").cast(dec38) * F.col("sy").cast(dec38))
    theta_t = (pooled.select(
        "n", "sx",
        (cov.cast("double") / vx.cast("double")).alias("theta"),
        ((cov.cast("double") * cov.cast("double"))
         / (vx.cast("double") * vy.cast("double"))).alias("rho2"),
        vx.alias("_vx"), vy.alias("_vy"))
        .where((F.col("_vx") > 0) & (F.col("_vy") > 0))
        .drop("_vx", "_vy"))
    arms = (armed.groupBy("arm")
            .agg(F.count(F.lit(1)).cast("long").alias("n_arm"),
                 F.sum("x").cast("long").alias("sx_arm"),
                 F.sum("y").cast("long").alias("sy_arm"))
            .where(F.col("n_arm") >= 2))
    joined = arms.join(F.broadcast(theta_t))
    ya = F.col("sy_arm").cast("double") / F.col("n_arm").cast("double")
    xa = F.col("sx_arm").cast("double") / F.col("n_arm").cast("double")
    xm = F.col("sx").cast("double") / F.col("n").cast("double")
    return joined.select(
        "arm", "n_arm",
        F.floor(ya * 100).cast("long").alias("mean_post_ce2"),
        F.floor((ya - F.col("theta") * (xa - xm)) * 100).cast("long")
        .alias("mean_adj_ce2"),
        F.floor(F.col("theta") * 1000000).cast("long").alias("theta_e6"),
        F.floor(F.col("rho2") * 10000).cast("long").alias("rho2_e4"))


# --------------------------------------------------------------------------
# Bloom-filter pre-join (r12 VERDICT item 3c — the runtime-filter story,
# explicit)
# --------------------------------------------------------------------------

@register(
    "bloom_prejoin_urgent_revenue",
    oracle="""
SELECT l.l_returnflag,
       COUNT(*) AS n_items,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
GROUP BY l.l_returnflag
""",
    description="Bloom-filter pre-join: the build side (urgent orders, "
                "~20% of orders) aggregates its keys into a fixed 2^17-"
                "bit bitmap (k=2 seeded xxhash64, bit_or-combinable, one "
                "16 KB map row), which broadcasts onto the lineitem scan "
                "and prunes non-matching rows BEFORE the join shuffle — "
                "the explicit form of the runtime filter Spark's "
                "optimizer injects for shuffle joins, here a first-class "
                "operator (operators/bloom.py) whose pruning the plan "
                "pins. False positives survive the probe by design and "
                "are removed by the exact join that follows, so the "
                "result is bit-identical to the plain join the oracle "
                "runs — correctness never depends on the filter. At "
                "100 TB the win is the shuffle: only probable matches "
                "move, and the bitmap stays KBs regardless of build-side "
                "row count.",
    tags=("relational", "join", "bloom"),
)
def bloom_prejoin_urgent_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from windowsession_using_kafka_flink_docker_spark.operators import bloom as B

    lineitem = load_table(spark, sf_dir, "lineitem")
    urgent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT")
              .select("o_orderkey"))
    pruned = B.bloom_probe(
        lineitem.select("l_orderkey", "l_returnflag",
                        "l_extendedprice", "l_discount"),
        "l_orderkey",
        B.bloom_build(urgent, "o_orderkey"),
    )
    return (
        pruned.join(urgent, pruned["l_orderkey"] == urgent["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )
