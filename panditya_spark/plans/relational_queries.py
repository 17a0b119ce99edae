"""Relational operator queries (SURVEY.md §2.2 P*, §2.3 J*, §2.4 A*,
§2.5 W*, §2.6 O*, §2.7 T*) parameterized onto the driver's synthetic
TPC-H-ish tables per FIXTURES.md §B.

Each query is the Spark-first expression of one reference behavior
(provenance cited per function); the paired DuckDB oracle is the
ANSI-SQL ground truth the driver hash-compares at sf0.01.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from panditya_spark.operators.relational import (
    bucket_by_size,
    coalesce_empty,
    first_match_per_group,
    formatted_freq_agg,
    split_to_array,
    top_n_by,
)
from panditya_spark.plans.registry import register, table as _t


# ---------------------------------------------------------------- P1+P2
# Reference: utils/extract.py:21-42 — column pruning + IN-list filter.
# Catalyst pushes both into the parquet scan (PushedFilters + ReadSchema).
@register(
    "p1_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag IN ('A', 'R')
    """,
)
def p1_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 45) & F.col("l_returnflag").isin("A", "R")
    ).select("l_orderkey", "l_partkey", "l_quantity")


# ---------------------------------------------------------------- P3+P7
# Reference: utils/extract.py:49-52,71 — empty-string coalesce + null fill.
@register(
    "p3_coalesce_fill",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_name IS NULL OR trim(c_name) = '' THEN c_mktsegment
                ELSE c_name END AS display_name
    FROM customer
    """,
)
def p3_coalesce_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        coalesce_empty(F.col("c_name"), F.col("c_mktsegment")).alias("display_name"),
    )


# ---------------------------------------------------------------- P4+F3
# Reference: utils/extract.py:55-56 — regex collapse + trim.
@register(
    "p4_regex_clean",
    oracle="""
    SELECT p_partkey, trim(regexp_replace(p_name, '\\s+', ' ', 'g')) AS clean_name
    FROM part
    """,
)
def p4_regex_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.trim(F.regexp_replace("p_name", r"\s+", " ")).alias("clean_name"),
    )


# ---------------------------------------------------------------- P8+F4
# Reference: utils/transform.py:51-52 (split_field) + explode shape of J1/J2.
@register(
    "p8_split_explode",
    oracle="""
    SELECT word, count(*) AS n
    FROM (
      SELECT trim(u.w) AS word
      FROM part, unnest(string_split(p_type, ' ')) AS u(w)
    )
    WHERE word <> ''
    GROUP BY word
    """,
)
def p8_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return (
        p.select(F.explode(split_to_array(F.col("p_type"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------- J5
# Reference: grapher.py:53, flask_app.py:141 — catalog hash-probe ==
# broadcast hash join against the small dimension. part is the small
# side: explicit broadcast() so a 100 TB lineitem never shuffles.
@register(
    "j5_broadcast_join_agg",
    oracle="""
    SELECT p.p_brand AS brand,
           count(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j5_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------- J1/J2
# Reference: utils/transform.py:84-120 — inverse-adjacency build
# (author.work_ids from work.author_ids). groupBy+collect_list is the
# distributed inversion; rendered as a sorted joined string for a
# representation-stable oracle hash.
@register(
    "j1_adjacency_list",
    oracle="""
    SELECT o_custkey AS custkey,
           array_to_string(list_sort(list(o_orderkey)), ',') AS order_ids
    FROM orders
    GROUP BY o_custkey
    """,
)
def j1_adjacency_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")),
                    lambda x: x.cast("string"),
                ),
            ).alias("order_ids")
        )
    )


# ---------------------------------------------------------------- J4/W2
# Reference: utils/transform.py:158-165 — ordered-first-match backfill
# (first author in list order with a year). Here: first lineitem per
# order, by linenumber, that was returned.
@register(
    "w2_first_match_backfill",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag
    FROM (
      SELECT l_orderkey, l_linenumber, l_returnflag,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
      FROM lineitem WHERE l_returnflag = 'R'
    ) WHERE rn = 1
    """,
)
def w2_first_match_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return first_match_per_group(
        li.select("l_orderkey", "l_linenumber", "l_returnflag"),
        ["l_orderkey"],
        [F.col("l_linenumber")],
        F.col("l_returnflag") == "R",
    )


# ---------------------------------------------------------------- A1/A2
# Reference: utils/transform.py:216-221 — conditional counts per group.
@register(
    "a1_conditional_count",
    oracle="""
    SELECT n.n_name AS nation,
           count(*) AS n_customers,
           CAST(SUM(CASE WHEN c.c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def a1_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.when(F.col("c_acctbal") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_positive"),
        )
    )


# ---------------------------------------------------------------- A3/O2
# Reference: utils/transform.py:192,234-240 — set-collect + sort per key.
@register(
    "a3_set_collect_sorted",
    oracle="""
    SELECT l_orderkey,
           array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def a3_set_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("l_returnflag"))).alias("flags")
    )


# ---------------------------------------------------------------- A4
# Reference: utils/utils.py:56-61,72 — distinct works per collection.
@register(
    "a4_count_distinct",
    oracle="""
    SELECT c.c_nationkey AS nationkey, count(DISTINCT o.o_custkey) AS n_active
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def a4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.countDistinct("o_custkey").alias("n_active"))
    )


# ---------------------------------------------------------------- A5/W3
# Reference: utils/transform.py:146-156 — "Nyāya (3), Yoga (1)" string agg.
@register(
    "a5_formatted_freq_agg",
    oracle="""
    SELECT custkey,
           string_agg(item || ' (' || cnt || ')', ', '
                      ORDER BY cnt DESC, item) AS freq_label
    FROM (
      SELECT o_custkey AS custkey, o_orderpriority AS item, count(*) AS cnt
      FROM orders GROUP BY 1, 2
    )
    GROUP BY custkey
    """,
)
def a5_formatted_freq_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return formatted_freq_agg(
        o.select(F.col("o_custkey").alias("custkey"), F.col("o_orderpriority").alias("item")),
        "custkey",
        "item",
    )


# ---------------------------------------------------------------- A6/F8
# Reference: utils/utils.py:67-71 — one-decimal truncated percentage.
@register(
    "a6_truncated_ratio",
    oracle="""
    SELECT nationkey, FLOOR(n_positive * 1000.0 / n_customers) / 10 AS coverage_pct
    FROM (
      SELECT c_nationkey AS nationkey, count(*) AS n_customers,
             CAST(SUM(CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_positive
      FROM customer GROUP BY c_nationkey
    )
    """,
)
def a6_truncated_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    agg = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.when(F.col("c_acctbal") > 0, 1).otherwise(0)).cast("bigint").alias("n_positive"),
    )
    return agg.select(
        "nationkey",
        (F.floor(F.col("n_positive") * 1000.0 / F.col("n_customers")) / 10).alias(
            "coverage_pct"
        ),
    )


# ---------------------------------------------------------------- A7
# Reference: utils/transform.py:140-144 — HAVING-style group filter
# (drop authors with no works).
@register(
    "a7_having_filter",
    oracle="""
    SELECT o_custkey AS custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 3
    """,
)
def a7_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


# ---------------------------------------------------------------- A9
# Reference: utils/analyze.py:100-104 — group count by type.
@register(
    "a9_group_count",
    oracle="SELECT o_orderstatus AS status, count(*) AS n FROM orders GROUP BY o_orderstatus",
)
def a9_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------- A12/A15
# Reference: utils/analyze.py:15-22,41-72 — component-size bucketing.
# Group = customer, size = order count; single-pass when-chain bucket.
@register(
    "a12_bucket_histogram",
    oracle="""
    SELECT category, count(*) AS n_groups, CAST(SUM(sz) AS BIGINT) AS n_rows
    FROM (
      SELECT CASE WHEN sz >= 1 AND sz < 2 THEN 'isolated'
                  WHEN sz >= 2 AND sz < 5 THEN 'extra_small'
                  WHEN sz >= 5 AND sz < 10 THEN 'small'
                  WHEN sz >= 10 AND sz < 26 THEN 'medium'
                  WHEN sz >= 26 AND sz < 101 THEN 'large'
                  ELSE 'extra_large' END AS category, sz
      FROM (SELECT count(*) AS sz FROM orders GROUP BY o_custkey)
    )
    GROUP BY category
    """,
)
def a12_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    sizes = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.select(bucket_by_size(F.col("sz")).alias("category"), "sz")
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_groups"), F.sum("sz").cast("bigint").alias("n_rows"))
    )


# ---------------------------------------------------------------- W1/O5
# Reference: utils/analyze.py:178-209 — global top-N by score
# (TakeOrderedAndProject: no full sort at scale). Deterministic
# tiebreak on key so the oracle's LIMIT agrees.
@register(
    "w1_top_n",
    oracle="""
    SELECT custkey, revenue FROM (
      SELECT o_custkey AS custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders GROUP BY o_custkey
    )
    ORDER BY revenue DESC, custkey LIMIT 10
    """,
)
def w1_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue")
    )
    return top_n_by(agg, [F.desc("revenue"), F.asc("custkey")], 10)


# Parts joined to the nation of the *customer* who bought them — the
# "which collections carry this work" shape of the SETI endpoints,
# re-keyed so every sf has data in every group.
_PART_NATION_SQL = """
      SELECT l.l_partkey, c.c_nationkey
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
"""


def _part_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("l_partkey", "c_nationkey")
    )


# ---------------------------------------------------------------- T3
# Reference: flask_app.py:397-416 — two-collection overlap 3-way
# partition. Here: parts bought in nation 1 vs nation 2.
@register(
    "t3_overlap_partition",
    oracle=f"""
    SELECT CASE WHEN in1 AND in2 THEN 'both'
                WHEN in1 THEN 'only_1' ELSE 'only_2' END AS status,
           count(*) AS n_parts
    FROM (
      SELECT l_partkey,
             bool_or(c_nationkey = 1) AS in1,
             bool_or(c_nationkey = 2) AS in2
      FROM ({_PART_NATION_SQL})
      WHERE c_nationkey IN (1, 2)
      GROUP BY l_partkey
    )
    GROUP BY 1
    """,
)
def t3_overlap_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = (
        _part_nation(spark, sf_dir)
        .filter(F.col("c_nationkey").isin(1, 2))
        .groupBy("l_partkey")
        .agg(
            F.max(F.col("c_nationkey") == 1).alias("in1"),
            F.max(F.col("c_nationkey") == 2).alias("in2"),
        )
    )
    return (
        flags.select(
            F.when(F.col("in1") & F.col("in2"), "both")
            .when(F.col("in1"), "only_1")
            .otherwise("only_2")
            .alias("status")
        )
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------- T4
# Reference: flask_app.py:355-359 — unique-to-collection (map has
# exactly one key). Universe restricted to nations {1,2,3} so
# exclusivity is non-degenerate at every sf.
@register(
    "t4_unique_to_group",
    oracle=f"""
    SELECT c_nationkey AS nationkey, count(*) AS n_exclusive_parts
    FROM (
      SELECT l_partkey, min(c_nationkey) AS c_nationkey
      FROM ({_PART_NATION_SQL})
      WHERE c_nationkey IN (1, 2, 3)
      GROUP BY l_partkey
      HAVING count(DISTINCT c_nationkey) = 1
    )
    GROUP BY c_nationkey
    """,
)
def t4_unique_to_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    excl = (
        _part_nation(spark, sf_dir)
        .filter(F.col("c_nationkey").isin(1, 2, 3))
        .groupBy("l_partkey")
        .agg(
            F.min("c_nationkey").alias("c_nationkey"),
            F.countDistinct("c_nationkey").alias("n_nations"),
        )
        .filter(F.col("n_nations") == 1)
    )
    return excl.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_exclusive_parts")
    )


# ---------------------------------------------------------------- F1/F2
# Reference: flask_app.py:48-68 — formatted labels ("name (id) [dates]").
@register(
    "f2_entity_labels",
    oracle="""
    SELECT c_custkey,
           c_name || ' (' || CAST(c_custkey AS VARCHAR) || ')'
             || CASE WHEN c_mktsegment IS NOT NULL
                     THEN ' [' || c_mktsegment || ']' ELSE '' END AS label
    FROM customer
    """,
)
def f2_entity_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.col("c_name"),
            F.lit(" ("),
            F.col("c_custkey").cast("string"),
            F.lit(")"),
            F.when(
                F.col("c_mktsegment").isNotNull(),
                F.concat(F.lit(" ["), F.col("c_mktsegment"), F.lit("]")),
            ).otherwise(""),
        ).alias("label"),
    )


# ---------------------------------------------------------------- T1+T2
# Reference: flask_app.py:193-197 — center = authors ∪ works, deduped;
# grapher.py:81 frontier dedupe.
@register(
    "t1_t2_union_dedupe",
    oracle="""
    SELECT node FROM (
      SELECT DISTINCT 'C' || CAST(c_custkey AS VARCHAR) AS node
      FROM customer WHERE c_custkey % 3 = 0
      UNION
      SELECT DISTINCT 'C' || CAST(o_custkey AS VARCHAR)
      FROM orders WHERE o_orderkey % 5 = 0
    )
    """,
)
def t1_t2_union_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    a = c.select(F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("node"))
    b = o.select(F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("node"))
    return a.union(b).distinct()


# ---------------------------------------------------------------- P5+P6+P7
# Reference: utils/extract.py:59-71 — drop columns, rename, null-fill.
@register(
    "p5_7_drop_rename_fill",
    oracle="""
    SELECT s_suppkey AS supplier_id,
           coalesce(s_name, '') AS supplier_name,
           coalesce(s_acctbal, 0.0) AS balance
    FROM supplier
    """,
)
def p5_7_drop_rename_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    return (
        s.drop("s_nationkey")
        .withColumnsRenamed({"s_suppkey": "supplier_id", "s_name": "supplier_name"})
        .na.fill({"supplier_name": "", "s_acctbal": 0.0})
        .select("supplier_id", "supplier_name", F.col("s_acctbal").alias("balance"))
    )


# ---------------------------------------------------------------- P9+P11+P12
# Reference: transform.py:63-65 year guard; flask_app.py:78-92 regex
# validation; flask_app.py:137,448 point lookups.
@register(
    "p9_11_12_guard_validate_lookup",
    oracle="""
    SELECT id, CASE WHEN hy_str IS NOT NULL AND trim(hy_str) <> ''
                    THEN CAST(trim(hy_str) AS INTEGER) END AS highest_year,
           CASE WHEN hy_str IS NOT NULL AND trim(hy_str) <> ''
                THEN CAST(trim(ly_str) AS INTEGER) END AS lowest_year
    FROM (
      SELECT CAST(o_orderkey AS VARCHAR) AS id,
             CASE WHEN o_orderkey % 4 = 0 THEN ''
                  ELSE CAST(1900 + o_orderkey % 90 AS VARCHAR) END AS hy_str,
             CAST(1850 + o_orderkey % 90 AS VARCHAR) AS ly_str
      FROM orders
    )
    WHERE regexp_full_match(id, '[\\d,]*')
      AND id IN ('8', '16', '100', '1012', 'bogus')
    """,
)
def p9_11_12_guard_validate_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panditya_spark.operators.relational import year_pair_with_guard

    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    staged = o.select(
        k.cast("string").alias("id"),
        F.when(k % 4 == 0, F.lit("")).otherwise(
            (F.lit(1900) + k % 90).cast("string")
        ).alias("hy_str"),
        (F.lit(1850) + k % 90).cast("string").alias("ly_str"),
    )
    hy, ly = year_pair_with_guard(F.col("hy_str"), F.col("ly_str"))
    return (
        staged.filter(F.col("id").rlike(r"^[\d,]*$"))  # P11
        .filter(F.col("id").isin("8", "16", "100", "1012", "bogus"))  # P12
        .select("id", hy.alias("highest_year"), ly.alias("lowest_year"))
    )


# ---------------------------------------------------------------- A2
# Reference: utils/transform.py:220-221 — second-order conditional count:
# of the rows that qualified for A1's count, how many also hit a missing-
# data predicate (Work ID == '...'). The shape is a conjunction inside a
# conditional sum, sharing one aggregation pass with the base count.
@register(
    "a2_conditional_count2",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_linked,
           CAST(SUM(CASE WHEN o_totalprice > 100000 AND o_orderstatus = 'F'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_linked_missing
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def a2_conditional_count2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    linked = F.col("o_totalprice") > 100000
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.sum(F.when(linked, 1).otherwise(0)).cast("bigint").alias("n_linked"),
        F.sum(F.when(linked & (F.col("o_orderstatus") == "F"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_linked_missing"),
    )


# ---------------------------------------------------------------- J2
# Reference: utils/transform.py:104-120 — the OTHER direction of the
# bidirectional link build (base_text_ids → commentary_ids): invert a
# many-to-many fact into per-right-side adjacency. Complements J1's
# forward build; distinct because the inversion crosses a fact table
# (lineitem), not a direct FK.
@register(
    "j2_inverse_adjacency",
    oracle="""
    SELECT l_partkey AS partkey,
           array_to_string(list_sort(list(DISTINCT l_orderkey)), ',') AS order_ids,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM lineitem
    GROUP BY l_partkey
    """,
)
def j2_inverse_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_set("l_orderkey")),
                lambda x: x.cast("string"),
            ),
        ).alias("order_ids"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )


# ---------------------------------------------------------------- P10+P13
# Reference: utils/transform.py:213-214 (skip rows with null/empty key)
# + flask_app.py:19-20 (type-partition comprehensions). Both reach the
# parquet scan as pushed filters — scripts/explain_audit.py checks.
@register(
    "p10_13_rowskip_type_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE text IS NOT NULL AND trim(text) <> '' AND source = 'src0'
    """,
)
def p10_13_rowskip_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        F.col("text").isNotNull()
        & (F.trim(F.col("text")) != "")
        & (F.col("source") == "src0")
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------- as-of join
# Extension op (no reference counterpart): point-in-time-correct
# lookup — for each click, the user's latest purchase at-or-before.
# DuckDB's native ASOF JOIN is the oracle.
@register(
    "j_asof_join",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    purchases AS (
      SELECT user_id, ts AS purchase_ts,
             CAST(max(event_id) AS BIGINT) AS purchase_id,
             max_by(value, event_id) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.user_id, c.click_id, c.click_ts,
           p.purchase_ts, p.purchase_id, p.purchase_value
    FROM clicks c
    ASOF LEFT JOIN purchases p
      ON p.user_id = c.user_id AND p.purchase_ts <= c.click_ts
    """,
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panditya_spark.operators.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    # Dedupe right rows at identical (user, ts) for deterministic ties.
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(
            F.max("event_id").cast("bigint").alias("purchase_id"),
            F.max_by("value", "event_id").alias("purchase_value"),
        )
    )
    return asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_time="click_ts",
        right_time="purchase_ts",
        payload_cols=["purchase_ts", "purchase_id", "purchase_value"],
    )


# ---------------------------------------------------------------- rollup
# Scale extension (no reference counterpart): hierarchical rollup — the
# hypertable-style day->type->grand-total aggregate in ONE pass.
# GROUPING SETS share the shuffle: Spark expands the grouping sets
# map-side and aggregates all levels in a single exchange, vs three
# separate jobs for three GROUP BYs — at 100 TB that is one scan and
# one shuffle instead of three.
@register(
    "a_rollup_day_type",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           CAST(GROUPING(CAST(ts AS DATE)) * 2 + GROUPING(event_type) AS BIGINT)
             AS gid,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP(1, 2)
    """,
)
def a_rollup_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.rollup(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    ).select("day", "event_type", "gid", "n_events", "total_value")


# ---------------------------------------------------------------- cube
# The full cross-classification complement to the rollup: all FOUR
# grouping sets of (day, event_type) — per-cell, per-day, per-type, and
# grand total — still ONE scan and ONE shuffle (Spark expands grouping
# sets map-side exactly as for ROLLUP; the type-only marginal that
# ROLLUP omits comes free in the same exchange).
@register(
    "a_cube_day_type",
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           CAST(GROUPING(CAST(ts AS DATE)) * 2 + GROUPING(event_type) AS BIGINT)
             AS gid,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY CUBE(1, 2)
    """,
)
def a_cube_day_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.cube(
        F.to_date("ts").alias("day"), F.col("event_type")
    ).agg(
        F.grouping_id().cast("bigint").alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
    ).select("day", "event_type", "gid", "n_events", "total_value")


# ---------------------------------------------------------------- pivot
# Long→wide pivot over the events log: one row per day, one count
# column per event type. Spark's pivot() with an EXPLICIT value list
# compiles to the same partial-aggregated single shuffle as the CASE
# sums the oracle spells out (an implicit list would add a distinct
# pre-pass — never do that at 100 TB).
@register(
    "a_pivot_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY 1
    """,
)
def a_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
    )
    for k in kinds:
        out = out.withColumnRenamed(k, f"n_{k}")
    return out


# ---------------------------------------------------------------- unpivot
# Wide→long melt of the per-doc quality features: the metric-store
# layout. unpivot() is a zero-shuffle row expansion (each input row
# emits one row per value column).
@register(
    "a_unpivot_metrics",
    oracle="""
    WITH q AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                  AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
      FROM documents
    )
    SELECT doc_id, 'n_words' AS metric, n_words AS v FROM q
    UNION ALL
    SELECT doc_id, 'n_tokens', n_tokens FROM q
    UNION ALL
    SELECT doc_id, 'n_punct', n_punct FROM q
    """,
)
def a_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panditya_spark.operators.text import quality_features

    docs = _t(spark, sf_dir, "documents")
    wide = docs.select(
        "doc_id",
        *[c.cast("bigint").alias(n) for c, n in zip(
            quality_features(F.col("text"))[:3],
            ["n_words", "n_tokens", "n_punct"],
        )],
    )
    return wide.unpivot(
        ids=["doc_id"],
        values=["n_words", "n_tokens", "n_punct"],
        variableColumnName="metric",
        valueColumnName="v",
    )


# ---------------------------------------------------------------- SCD2 intervals
# Change-log → slowly-changing-dimension type-2 intervals: each event
# becomes an [effective_from, effective_to) validity row, open-ended
# for the latest per key. One window shuffle on the key; (ts, event_id)
# ordering makes the intervals deterministic under timestamp ties.
@register(
    "j_scd2_intervals",
    oracle="""
    SELECT user_id,
           ts AS effective_from,
           lead(ts) OVER w AS effective_to,
           value,
           CAST(lead(ts) OVER w IS NULL AS INTEGER) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def j_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        "value",
        nxt.isNull().cast("int").alias("is_current"),
    )
