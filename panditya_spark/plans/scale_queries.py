"""Scale-strategy queries (no reference counterpart — the reference
joins pandas frames in RAM; these exercise the partitioning strategies
a 100 TB deployment leans on, from operators/partitioning.py).

All three are semantically plain joins/aggregates — the STRATEGY is the
operator under test — so each has an exact DuckDB oracle. They register
after the driver's 50-query window (their plain-join semantics are
already covered by j5/j1 in-window); the plan SHAPES are pinned by
tests/test_partitioning.py (bucketed join = zero Exchange, salted join
≡ plain join).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.operators.partitioning import (
    bucketed_join,
    bucketed_write,
    salted_join,
    top_skewed_keys,
)
from panditya_spark.plans.registry import register, table as _t


# ------------------------------------------------------- salted skew join
@register(
    "j_salted_join",
    oracle="""
    SELECT n_name,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def j_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer⋈nation through the skew-salted path: nationkey is the
    classic low-cardinality hot key (25 values over the whole customer
    table). The oracle is the PLAIN join — salting must be invisible in
    the result."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("key"), "c_acctbal"
    )
    n = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("key"), "n_name"
    )
    joined = salted_join(c, n, on="key", n_salts=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_acctbal"),
    )


# --------------------------------------------------- bucketed co-located join
@register(
    "j_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def j_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders⋈customer through co-bucketed external tables: both sides
    are bucketed+sorted by custkey (the one up-front shuffle), so the
    join itself plans with NO Exchange (pinned by
    tests/test_partitioning.py::test_bucketed_join_no_exchange). The
    oracle is the plain join — bucketing must be invisible in the
    result."""
    from panditya_spark.plans.sink_queries import _sf_suffix

    suffix = _sf_suffix(sf_dir)
    base = os.path.join(tempfile.gettempdir(), f"panditya_buckets_{suffix}")
    ct, ot = f"pspark_cust_{suffix}", f"pspark_ord_{suffix}"
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_totalprice"
    )
    spark.sql(f"DROP TABLE IF EXISTS {ct}")
    spark.sql(f"DROP TABLE IF EXISTS {ot}")
    bucketed_write(c, ct, ["custkey"], n_buckets=8, path=os.path.join(base, ct))
    bucketed_write(o, ot, ["custkey"], n_buckets=8, path=os.path.join(base, ot))
    joined = bucketed_join(spark, ot, ct, ["custkey"])
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ------------------------------------------------------- skew diagnostics
@register(
    "skew_key_profile",
    oracle="""
    SELECT o_custkey AS key, CAST(cnt AS BIGINT) AS cnt
    FROM (
      SELECT o_custkey, COUNT(*) AS cnt
      FROM orders GROUP BY o_custkey
      ORDER BY cnt DESC, o_custkey
      LIMIT 10
    )
    """,
)
def skew_key_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest-key profile over orders.o_custkey — the pre-join
    diagnostic that decides between the plain, AQE-skew and salted
    paths."""
    o = _t(spark, sf_dir, "orders")
    return top_skewed_keys(o, "o_custkey", top_n=10).select(
        F.col("o_custkey").alias("key"), "cnt"
    )


# ------------------------------------------------------- sketch aggregates
@register("sketch_aggregates")
def sketch_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates per event_type: HyperLogLog++ distinct
    users (approx_count_distinct) and a KLL-style quantile sketch
    (percentile_approx) over value. These are THE 100 TB cardinality /
    quantile answer — fixed-size sketch state, map-side combinable, one
    shuffle of sketches instead of a shuffle of raw values (an exact
    distinct count shuffles every (type, user) pair; the sketch ships
    ~1.5 KB per partition per group).

    Rows-only by design: sketch estimates are engine-specific, so no
    cross-engine hash oracle exists; tests/test_sketches.py pins the
    relative error against the exact answers instead (HLL rsd=0.02,
    measured < 0.04 at sf0.01; quantile accuracy 10000).
    """
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx(F.col("value"), [0.5, 0.95], 10000).alias("value_p50_p95"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ------------------------------------------------- sketch error-bound audit
@register(
    "sketch_bounds",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(1 AS INTEGER) AS hll_ok,
           CAST(1 AS INTEGER) AS p50_ok,
           CAST(1 AS INTEGER) AS p95_ok
    FROM events GROUP BY event_type
    """,
)
def sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-level audit of the sketch_aggregates estimators (VERDICT
    r6 #2 / r7 #4): sketch ESTIMATES are engine-specific so they can't
    hash-match a DuckDB oracle, but their ERROR BOUNDS can — this query
    surfaces each sketch next to the exact answer it approximates and
    emits an integer within-envelope flag per sketch; the oracle pins
    the exact aggregates AND all-ones flags, so the driver row goes red
    the moment any sketch leaves its documented envelope.

    Envelopes (generous multiples of the configured guarantees, so the
    row pins catastrophic sketch breakage, not run-to-run noise):
    - HLL++ (approx_count_distinct rsd=0.02): |est - exact| <= 0.10 *
      exact — 5x the configured rsd (measured < 0.04 at sf0.01).
    - KLL-style percentile_approx (accuracy=10000, i.e. rank eps
      1e-4): the returned element's exact rank interval
      [count(v < est), count(v <= est)] must intersect
      n * (q ± 0.01) — 100x the configured rank error.

    Scale shape: two grouped scans of events (one for the sketch+exact
    aggregates — map-side-combinable sketch state — and one conditional
    count against the broadcast per-type estimates) plus a broadcast
    join on the handful of event types. The exact countDistinct exists
    ONLY in this audit query; sketch_aggregates stays the 100 TB path.
    """
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx(F.col("value"), [0.5, 0.95], 10000).alias("pq"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "event_type", "exact_users", "approx_users", "n_events",
        F.col("pq")[0].alias("p50_est"), F.col("pq")[1].alias("p95_est"),
    )
    ranks = (
        e.join(F.broadcast(agg.select("event_type", "p50_est", "p95_est")),
               "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("value") < F.col("p50_est")).cast("long")).alias("lt50"),
            F.sum((F.col("value") <= F.col("p50_est")).cast("long")).alias("le50"),
            F.sum((F.col("value") < F.col("p95_est")).cast("long")).alias("lt95"),
            F.sum((F.col("value") <= F.col("p95_est")).cast("long")).alias("le95"),
        )
    )
    def rank_ok(lt, le, q):
        lo = (F.col("n_events") * (q - 0.01))
        hi = (F.col("n_events") * (q + 0.01))
        # exact-rank interval [lt, le] must intersect [lo, hi]
        return ((F.col(lt) <= hi) & (F.col(le) >= lo)).cast("int")
    return (
        agg.join(ranks, "event_type")
        .select(
            "event_type",
            F.col("exact_users").cast("bigint").alias("exact_users"),
            F.col("n_events").cast("bigint").alias("n_events"),
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.10 * F.col("exact_users")
            ).cast("int").alias("hll_ok"),
            rank_ok("lt50", "le50", 0.5).alias("p50_ok"),
            rank_ok("lt95", "le95", 0.95).alias("p95_ok"),
        )
    )


# ------------------------------------------------------- bucketed range join
@register(
    "j_range_join",
    oracle="""
    WITH i AS (
      SELECT o_orderkey,
             date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS s
      FROM orders WHERE o_orderkey % 100 = 0
    ),
    p AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
      FROM lineitem
    )
    SELECT o_orderkey, count(*) AS n_shipments
    FROM i JOIN p ON p.d >= i.s AND p.d <= i.s + 60
    GROUP BY o_orderkey
    """,
)
def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join WITHOUT an equi key: shipments
    falling inside each sampled order's 60-day window. Goes through the
    interval-bucketing rewrite (operators/relational.py range_join) —
    an equi-join on 64-day buckets + exact BETWEEN filter — instead of
    the BroadcastNestedLoopJoin a raw BETWEEN predicate plans (shape
    pinned by tests/test_partitioning.py::test_range_join). The oracle
    is the plain theta join."""
    from panditya_spark.operators.relational import range_join

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    intervals = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.unix_date(F.to_date("o_orderdate")).alias("s"),
        (F.unix_date(F.to_date("o_orderdate")) + 60).alias("e"),
    )
    points = li.select(F.unix_date(F.to_date("l_shipdate")).alias("d"))
    return (
        range_join(points, intervals, "d", "s", "e", bucket_width=64)
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("n_shipments"))
    )


# ------------------------------------------------------- null-safe join
@register(
    "j_null_safe_join",
    oracle="""
    WITH k AS (
      SELECT CASE WHEN c_custkey % 11 = 0 THEN NULL
                  ELSE c_nationkey END AS nk,
             c_acctbal
      FROM customer
    ),
    a AS (SELECT nk, count(*) AS n_a,
                 CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_a
          FROM k GROUP BY nk),
    b AS (SELECT nk, count(*) AS n_b FROM k GROUP BY nk)
    SELECT a.nk, a.n_a, b.n_b, a.bal_a
    FROM a JOIN b ON a.nk IS NOT DISTINCT FROM b.nk
    """,
)
def j_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equality join (<=> / IS NOT DISTINCT FROM): a derived
    nullable key (every 11th customer's nation nulled) is aggregated
    two ways and self-joined with eqNullSafe, so the NULL key group
    JOINS TO ITSELF instead of silently dropping — the semantics gap
    between <=> and = that loses rows in naive dimension joins over
    incomplete data. The NULL row surfaces through the combo's ∅
    sentinel, so the null-matching behavior itself is value-checked.
    Plan: a plain hash join on the null-safe key (Spark plans <=> as
    an equi join on coalesce-wrapped keys — no nested loop)."""
    c = _t(spark, sf_dir, "customer")
    k = c.select(
        F.when(F.col("c_custkey") % 11 == 0, F.lit(None))
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
        "c_acctbal",
    )
    a = k.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n_a"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
        .cast("double")
        .alias("bal_a"),
    )
    b = k.groupBy(F.col("nk").alias("nk_b")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    return (
        a.join(b, a["nk"].eqNullSafe(b["nk_b"]))
        .select("nk", "n_a", "n_b", "bal_a")
    )


# ------------------------------------------------------- TPC-H-style headliners
# The two canonical analytic shapes a 100 TB deployment is sized by:
# Q1 = full-table scan + rich partial-aggregate rollup (pure map-side
# combine, the scan-throughput benchmark), Q3 = selective 3-way join
# (filter pushdown on both fact sides + shuffle join + top-N). Decimal
# intermediates are explicitly sized so Spark and DuckDB compute the
# identical exact sums (double math only at the final cast).
@register(
    "tpch_q1_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS sum_base_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                         AS DECIMAL(18,4))
                    * (1 + CAST(l_tax AS DECIMAL(8,2)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*)
             AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    disc_price = (price * (F.lit(1) - disc)).cast("decimal(18,4)")
    charge = disc_price * (F.lit(1) + F.col("l_tax").cast("decimal(8,2)"))
    cnt = F.count(F.lit(1))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@register(
    "tpch_q3_top_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
)
def tpch_q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape adapted to the synthetic schema (no
    o_shippriority column; o_orderpriority carried instead). The
    segment filter prunes customer before the join; both date filters
    push into the parquet scans; the top-10 plans as
    TakeOrderedAndProject over the aggregate."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q6_forecast",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the canonical selective
    scan-aggregate. Every predicate is a plain column comparison, so
    ALL of them push into the parquet scan (PushedFilters) and the agg
    is a single map-side partial sum — at 100 TB this query's cost is
    I/O after row-group pruning, nothing else. Exact DECIMAL products,
    double only at the end."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col(
        "l_discount"
    ).cast("decimal(18,2)")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "tpch_q5_local_supplier",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): the 6-way join headliner. Join
    order and physical strategy matter at scale: region→nation→supplier
    is a broadcast chain (tiny dims), the customer⋈orders⋈lineitem spine
    shuffles on its keys, and the c_nationkey = s_nationkey equality is
    the classic correlated predicate that makes Q5 a JOIN-ORDER test.
    The date filter pushes into the orders scan, the region filter
    prunes the broadcast chain before it ever reaches the spine."""
    from pyspark.sql.functions import broadcast

    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    dims = broadcast(
        s.join(broadcast(n.join(r, n.n_regionkey == r.r_regionkey)),
               s.s_nationkey == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(dims, (li.l_suppkey == dims.s_suppkey)
              & (c.c_nationkey == dims.s_nationkey))
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


# The SQL surface: the engine's plans can equivalently be declared in
# ANSI SQL over registered views (sources/views.register_views) —
# Catalyst compiles both surfaces to the same logical operators, so
# this window-function query exercises spark.sql end-to-end and its
# oracle is nearly the same text.
@register(
    "sql_top_customer_per_nation",
    oracle="""
    WITH rev AS (
      SELECT c_nationkey, c_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
      FROM customer JOIN orders ON o_custkey = c_custkey
      GROUP BY c_nationkey, c_custkey
    ),
    ranked AS (
      SELECT n_name, c_custkey,
             CAST(revenue AS DOUBLE) AS revenue,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY revenue DESC, c_custkey) AS rn
      FROM rev JOIN nation ON n_nationkey = c_nationkey
    )
    SELECT n_name, c_custkey, revenue FROM ranked WHERE rn <= 3
    """,
)
def sql_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by order revenue per nation, authored entirely
    in spark.sql over the registered views — window function, join,
    and exact-decimal aggregate all through the SQL parser."""
    from panditya_spark.sources.views import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT c_nationkey, c_custkey,
                 SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
          FROM customer JOIN orders ON o_custkey = c_custkey
          GROUP BY c_nationkey, c_custkey
        ),
        ranked AS (
          SELECT n_name, c_custkey,
                 CAST(revenue AS DOUBLE) AS revenue,
                 ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                    ORDER BY revenue DESC, c_custkey) AS rn
          FROM rev JOIN nation ON n_nationkey = c_nationkey
        )
        SELECT n_name, c_custkey, revenue FROM ranked WHERE rn <= 3
        """
    )


# ----------------------------------------------- semi/anti-join TPC-H shapes
# Round 4: the join SHAPES the first three TPC-H picks didn't cover —
# left-semi (existence), left-anti (exclusion), join-on-aggregate
# (HAVING subquery), and an uncorrelated scalar subquery. At 100 TB
# these matter because semi/anti joins ship only the key column of the
# probe side and never duplicate spine rows on multi-match — the
# difference between a 1x and a 7x shuffle on a fact⋈fact existence
# check (lineitem averages ~4 rows per order in this data).


@register(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking) adapted to the synthetic
    schema (no commit/receipt dates; the correlated predicate becomes
    "some lineitem shipped after the order date"). The EXISTS is a
    LEFT SEMI join: lineitem contributes only its join key + shipdate
    to the shuffle, multi-match orders count once without a distinct,
    and the quarter filter pushes into the orders scan before the join.
    Plan-gated: physical join type must be LeftSemi (explain_audit)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q16_supplier_counts",
    oracle="""
    SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type
    """,
)
def tpch_q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) adapted: lineitem stands
    in for partsupp as the part↔supplier relation. The NOT IN becomes a
    LEFT ANTI join against the (tiny, broadcast) excluded-supplier set —
    at scale the exclusion list never shuffles the fact side — and the
    brand predicate pushes into the part scan, pruning before the join.
    The safe NOT-IN translation: s_suppkey is a non-null key here; a
    nullable exclusion column would need the null-aware anti variant."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#13")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c_custkey, o_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 200
    )
    GROUP BY c_custkey, o_orderkey
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customer): the IN-over-HAVING subquery.

    The HAVING aggregate IS the answer: the outer query groups by
    (c_custkey, o_orderkey), and since each order joins exactly one
    customer row, those groups are the qualifying ORDERS and each
    group's SUM equals the per-order sum the subquery already
    computed. So lineitem — the 100 TB table — is aggregated exactly
    ONCE (the plan's only wide shuffle); the spine is never semi-
    joined back into lineitem and never re-aggregated (the r13 sf10
    probe caught the old double-pass shape super-linear at 13.9x on
    10x data: three 60M-row exchanges). Orders joins the qualifying
    aggregate (order-sized, two columns); the customer INNER join
    contributes nothing but existence + the c_custkey value, which
    equals o_custkey under the join, so it compiles to a LEFT SEMI
    probe whose build side is one pruned bigint column — broadcast-
    sized at any sf. Top-100 plans as TakeOrderedAndProject."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    qualifying = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("qty_dec"))
        .filter(F.col("qty_dec") > 200)
        .select(
            F.col("l_orderkey").alias("q_orderkey"),
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )
    return (
        o.join(qualifying, o.o_orderkey == qualifying.q_orderkey)
        .join(
            c.select("c_custkey"),
            o.o_custkey == c.c_custkey,
            "left_semi",
        )
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(100)
    )


@register(
    "tpch_q22_dormant_balance",
    oracle="""
    SELECT n_name, count(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '1998-01-01'
      )
    GROUP BY n_name
    """,
)
def tpch_q22_dormant_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity) adapted: high-balance
    customers with NO recent orders, grouped by nation instead of
    phone prefix. Two shapes in one plan: the uncorrelated scalar
    subquery (the positive-balance average) is computed as a 1-row
    aggregate and broadcast-crossed into the filter — never a
    collect()-then-rebuild round trip — and the NOT EXISTS is a LEFT
    ANTI join whose probe side ships only o_custkey after the date
    filter pushes into the orders scan."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register(
    "j_bloom_filter_join",
    oracle="""
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def j_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning: the selective orders filter
    builds a bloom_filter_agg at runtime and Catalyst injects a
    might_contain(l_orderkey) predicate into the LINEITEM side before
    its shuffle — fact rows whose keys can't join are dropped at the
    scan, not after the exchange. At 100 TB this is the shuffle-join
    sibling of dynamic partition pruning: a 1% selective dim filter
    cuts the fact shuffle by ~99% with one subquery pass.

    Spark injects the filter only for shuffle joins (broadcast joins
    prune inherently), so the merge hint forces SMJ, and only above
    applicationSideScanSizeThreshold (10 GB default — right for real
    clusters, never met at local test scale), so the threshold drops
    to 0 inside a conf window. executedPlan() is forced INSIDE the
    window — the Dataset caches its QueryExecution, so the pinned plan
    (gated on might_contain by explain_audit) is the one every later
    action on this DataFrame runs — then the conf restores, leaving
    the session's other plans untouched."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
    )
    # Two confs inside the window: the 10 GB application-side floor
    # (never met at local scale), and auto-broadcast — InjectRuntimeFilter
    # skips creation sides it considers broadcastable-by-size even when
    # a hint forces SMJ, since a broadcast join would prune inherently.
    key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bkey = "spark.sql.autoBroadcastJoinThreshold"
    prev, bprev = spark.conf.get(key), spark.conf.get(bkey)
    spark.conf.set(key, "0")
    spark.conf.set(bkey, "-1")
    try:
        out = (
            li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_qty"),
            )
        )
        out._jdf.queryExecution().executedPlan()  # pin plan inside the window
    finally:
        spark.conf.set(key, prev)
        spark.conf.set(bkey, bprev)
    return out


# --------------------------------------------------------- winsorization
@register(
    "a_winsorize_clip",
    oracle="""
    WITH ranked AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_orderpriority ORDER BY o_totalprice
             ) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    ),
    bounds AS (
      SELECT o_orderpriority,
             min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM ranked
      WHERE rn = greatest(1, CAST(ceil(n * 5 / 100) AS BIGINT))
         OR rn = CAST(ceil(n * 95 / 100) AS BIGINT)
      GROUP BY o_orderpriority
    )
    SELECT o.o_orderpriority, o.o_orderkey,
           CASE WHEN o.o_totalprice < b.lo THEN b.lo ELSE b.hi END
             AS price_clipped
    FROM orders o JOIN bounds b USING (o_orderpriority)
    WHERE o.o_totalprice < b.lo OR o.o_totalprice > b.hi
    """,
)
def a_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority-class winsorization of order totals: clip to the
    discrete [p5, p95] group quantiles and emit only the rows the clip
    actually changed (the outlier tails — ~10% of orders). Discrete
    quantile semantics + integer-percent position arithmetic make the
    bounds engine-exact (operators/relational.winsorize_clip); the
    bounds table is one row per group, broadcast back onto the fact
    scan — the fact side shuffles once, for the rank window."""
    from panditya_spark.operators.relational import winsorize_clip

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice"
    )
    out = winsorize_clip(orders, "o_orderpriority", "o_totalprice", 5, 95)
    return out.filter(
        F.col("o_totalprice") != F.col("o_totalprice_clipped")
    ).select(
        "o_orderpriority",
        "o_orderkey",
        F.col("o_totalprice_clipped").alias("price_clipped"),
    )


# ----------------------------------------------- TPC-H Q2 shape (argmin)
@register(
    "tpch_q2_cheapest_supplier",
    oracle="""
    WITH m AS (
      SELECT l_partkey, min(l_extendedprice) AS best_price
      FROM lineitem GROUP BY 1
    ),
    c AS (
      SELECT l.l_partkey, min(l.l_suppkey) AS supp_key, m.best_price
      FROM lineitem l
      JOIN m ON l.l_partkey = m.l_partkey
            AND l.l_extendedprice = m.best_price
      GROUP BY l.l_partkey, m.best_price
    )
    SELECT c.l_partkey AS p_partkey, p.p_name,
           c.supp_key, c.best_price
    FROM c JOIN part p ON p.p_partkey = c.l_partkey
    """,
)
def tpch_q2_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2's defining shape — the correlated-min subquery
    (argmin): for every part, the supplier behind its cheapest
    purchase. Planned as aggregate-then-join-back-on-the-minimum: ONE
    partial-aggregated min per part, an equality join of the fact back
    onto (part, min) that never duplicates the fact (ties collapse via
    deterministic min-suppkey), and the part dimension broadcast onto
    the result — the fact table is scanned twice but shuffled only by
    partkey, the same key both times, so a cluster pre-partitions once.
    Prices are 2-decimal values compared and minimized, never
    arithmetically combined — engine-exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    # Renamed aggregate side: m derives from li, so unaliased join
    # keys would trip Spark's ambiguous-self-join analysis.
    m = (
        li.groupBy("l_partkey")
        .agg(F.min("l_extendedprice").alias("best_price"))
        .withColumnRenamed("l_partkey", "m_partkey")
    )
    c = (
        li.join(
            m,
            (li["l_partkey"] == m["m_partkey"])
            & (li["l_extendedprice"] == m["best_price"]),
        )
        .groupBy("l_partkey", "best_price")
        .agg(F.min("l_suppkey").alias("supp_key"))
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return c.join(
        F.broadcast(part), c["l_partkey"] == part["p_partkey"]
    ).select("p_partkey", "p_name", "supp_key", "best_price")
