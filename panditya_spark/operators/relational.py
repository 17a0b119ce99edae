"""Generic relational operators (SURVEY.md §2.2, §2.4-§2.7).

Each helper re-expresses one behavior of the reference as a composable
DataFrame transformation. Everything stays in built-in pyspark.sql
functions (JVM-side, whole-stage-codegen-able) — no Python UDFs in this
module, so all of it survives a 100 TB scale-up unchanged.

Reference provenance is cited per function (file:line of /root/reference).
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small driver-side row list as a one-partition DataFrame built
    inside the JVM. ``schema`` is a DDL field list such as
    ``"node string"``. Unlike ``spark.createDataFrame``, which
    parallelizes a Python RDD, no job that scans the frame starts a
    Python worker. The rows travel as one JSON string literal, so the
    plan holds one literal and the py4j calls stay constant whatever
    the list length."""
    names = StructType.fromDDL(schema).names
    payload = json.dumps([dict(zip(names, r)) for r in rows])
    return spark.range(1, numPartitions=1).select(
        F.inline(F.from_json(F.lit(payload), f"array<struct<{schema}>>"))
    )


def in_set(col: str, values) -> Column:
    """``col IN (values)`` for a driver-side set of strings, as one SQL
    expression: one py4j call whatever the set size, and above
    ``spark.sql.optimizer.inSetConversionThreshold`` (10) values the
    optimizer turns the list into a single hash-set ``InSet`` predicate.
    ``Column.isin`` instead makes one literal column per value. Each
    value is quoted with ``\\`` and ``'`` escaped; an empty set matches
    nothing."""
    values = [v for v in values if v is not None]
    if not values:
        return F.lit(False)
    quoted = ", ".join(
        "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'" for v in values
    )
    return F.expr(f"`{col}` IN ({quoted})")


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the scan has fewer splits than
    the cluster has cores. A small table in one parquet file otherwise
    runs any CPU-heavy per-row stage downstream (shingling, mapInPandas
    codecs) as a single task (measured: the whole minhash job
    single-threaded at sf0.1). At scale the input has >> cores splits
    and this is a no-op — the guard keeps the repartition from becoming
    a pointless full shuffle there. File count is a metadata-only proxy
    for scan splits (df.rdd would compile a Python-RDD conversion plan
    just to ask for the partition count)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_splits = len(df.inputFiles())
    except Exception:  # non-file source (memory, stream) — leave as-is
        return df
    if 0 < n_splits < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------- P3
def coalesce_empty(primary: Column, fallback: Column) -> Column:
    """Fill empty-string/null primary from fallback.

    Reference: utils/extract.py:49-52 (attributed-author backfill).
    """
    p = F.trim(primary)
    return F.when(p.isNull() | (p == ""), fallback).otherwise(primary)


# ---------------------------------------------------------------- P8 / F4
def split_to_array(col: Column, pattern: str = r",") -> Column:
    """Split, trim each element, drop empties → ARRAY<STRING>.

    Reference: utils/transform.py:51-52 (split_field). Multi-delimiter
    variant (pattern=r'[,\\r\\n]+') covers transform.py:223.
    """
    # NB: the lambda must be single-arg — a bare F.trim would be invoked
    # by transform as (element, index), binding index to trim's
    # trim-characters parameter and silently trimming nothing.
    return F.filter(
        F.transform(F.split(col, pattern), lambda x: F.trim(x)), lambda x: x != ""
    )


# ---------------------------------------------------------------- P9
def year_pair_with_guard(highest: Column, lowest: Column) -> tuple[Column, Column]:
    """Cast year strings to int, but BOTH become null when `highest` is
    empty — even if `lowest` exists. Deliberate quirk replication.

    Reference: utils/transform.py:63-65.
    """
    guard = highest.isNotNull() & (F.trim(highest) != "")
    # try_cast: ANSI mode (Spark 4 default) makes cast('') throw; the
    # reference's int() of an empty lowest simply never happens, so
    # null is the faithful result.
    return (
        F.when(guard, F.trim(highest).try_cast("int")),
        F.when(guard, F.trim(lowest).try_cast("int")),
    )


# ---------------------------------------------------------------- A5 / W3
def formatted_freq_agg(
    df: DataFrame, group_col: str, item_col: str, out_col: str = "freq_label"
) -> DataFrame:
    """Per group: count items, order by (-count, item), render as
    ``"item (n), item (n)"``.

    Reference: utils/transform.py:146-156 (author discipline strings
    like "Nyāya (3), Yoga (1)"; ordering at transform.py:154).

    Implementation is two map-side-combinable aggregations plus an
    array sort — no window, no UDF. Struct array sorts lexicographically
    field-by-field, so (neg_count, item) reproduces Python's
    sort(key=lambda: (-count, name)).
    """
    counted = df.groupBy(group_col, item_col).agg(F.count(F.lit(1)).alias("cnt"))
    return (
        counted.groupBy(group_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("cnt")).alias("neg_cnt"),
                        F.col(item_col).alias("item"),
                    )
                )
            ).alias("ordered")
        )
        .select(
            group_col,
            F.concat_ws(
                ", ",
                F.transform(
                    "ordered",
                    lambda s: F.concat(
                        s["item"], F.lit(" ("), (-s["neg_cnt"]).cast("string"), F.lit(")")
                    ),
                ),
            ).alias(out_col),
        )
    )


# ---------------------------------------------------------------- A6 / F8
def truncated_pct(numerator: Column, denominator: Column) -> Column:
    """Percentage truncated (not rounded) to one decimal:
    floor(n/d * 1000) / 10.

    Reference: utils/utils.py:67-71 (etext_coverage).
    """
    return F.floor(numerator / denominator * F.lit(1000)) / F.lit(10.0)


# ---------------------------------------------------------------- A12
SIZE_CATEGORIES: list[tuple[str, int, int]] = [
    # (name, lo, hi) — hi exclusive; mirrors utils/analyze.py:15-22
    ("isolated", 1, 2),
    ("extra_small", 2, 5),
    ("small", 5, 10),
    ("medium", 10, 26),
    ("large", 26, 101),
    ("extra_large", 101, 2**31),
]


def bucket_by_size(size_col: Column) -> Column:
    """Map a group size to its named bucket (utils/analyze.py:15-22,41-72).

    Single-pass when-chain — the reference's per-category rescan loop
    collapses into one projection Catalyst folds into the scan.
    """
    expr = F.lit(None).cast("string")
    for name, lo, hi in reversed(SIZE_CATEGORIES):
        expr = F.when((size_col >= lo) & (size_col < hi), F.lit(name)).otherwise(expr)
    return expr


# ---------------------------------------------------------------- W1 / O5
def top_n_by(df: DataFrame, order: list[Column], n: int) -> DataFrame:
    """Global top-N. orderBy().limit() compiles to TakeOrderedAndProject —
    a per-partition top-N plus a single driver-side merge of N·P rows,
    no full sort/shuffle; safe at any scale for small N.

    Reference: utils/analyze.py:178-209 (top-10 per centrality metric).
    """
    return df.orderBy(*order).limit(n)


# ---------------------------------------------------------------- W2 / J4
def first_match_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column], predicate: Column
) -> DataFrame:
    """First row per group, in a given order, satisfying a predicate —
    the reference's "first author with a year" backfill
    (utils/transform.py:158-165).

    filter → window row_number = 1. The filter runs before the window,
    so the shuffle only carries candidate rows.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.filter(predicate)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_time: str,
    right_time: str,
    payload_cols: list[str],
) -> DataFrame:
    """As-of join (absent from the reference; the classic trades/quotes
    operator a training-data pipeline needs for point-in-time-correct
    feature lookup): for every left row, the payload of the LATEST
    right row with right_time <= left_time on matching keys; null when
    no prior right row exists (left-join semantics).

    Spark-first design — a single co-shuffle, not a range join: tag
    both sides, union, and run last(ignorenulls) over a window ordered
    by (time, side) with right rows sorting first at equal timestamps
    (inclusive <=). Each key partition is scanned once; at 100 TB this
    is one shuffle by key of left+right, versus the quadratic blowup a
    time-range theta-join would produce.

    `payload_cols` must not collide with left's column names (rename on
    the right beforehand); ties among right rows at identical
    (keys, time) should be pre-deduped for determinism.

    Whole-row semantics: the payload columns are packed into ONE struct
    and a single last(ignorenulls) runs over that struct, so every
    output row carries the payload of exactly one right row — a NULL
    field in the latest match stays NULL rather than being backfilled
    from an older right row (matches SQL ASOF JOIN). Right rows with a
    NULL right_time are excluded up front (no match target, and they
    would otherwise sort nulls-first into the window).
    """
    from pyspark.sql.window import Window as W

    lt = (
        left.withColumn("_asof_t", F.col(left_time))
        .withColumn("_asof_side", F.lit(1))
    )
    rt = (
        right.filter(F.col(right_time).isNotNull())
        .select(
            *keys,
            F.col(right_time).alias("_asof_t"),
            F.struct(*payload_cols).alias("_asof_payload"),
        )
        .withColumn("_asof_side", F.lit(0))
    )
    u = lt.unionByName(rt, allowMissingColumns=True)
    w = (
        W.partitionBy(*keys)
        .orderBy("_asof_t", "_asof_side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = u.select(
        "*",
        F.last(F.col("_asof_payload"), ignorenulls=True)
        .over(w)
        .alias("_asof_match"),
    )
    out = filled.filter(F.col("_asof_side") == 1).select(
        "*",
        *[F.col(f"_asof_match.{c}").alias(c) for c in payload_cols],
    ).drop("_asof_side", "_asof_t", "_asof_payload", "_asof_match")
    return out


def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Point-in-interval join WITHOUT an equi key — the classic
    nested-loop trap (Spark plans a raw `p BETWEEN s AND e` theta join
    as BroadcastNestedLoopJoin: every point × every interval).

    Scale path: quantize the range dimension into buckets of
    `bucket_width` (same units as the columns — days for dates cast to
    int, seconds for epochs). Each interval explodes to the buckets it
    covers, each point maps to exactly one bucket, and the join becomes
    an EQUI-join on bucket followed by the exact BETWEEN filter. Cost
    is O(points + intervals × avg_span/bucket_width + collisions) and
    it shuffles by bucket — the standard interval-bucketing rewrite
    (what Databricks' range-join hint does under the hood), expressible
    in open Spark with explode + join.

    Columns must be numeric (cast dates with datediff/epoch first).
    Pick bucket_width ≈ the typical interval span: wider → fewer
    interval replicas, narrower → fewer false bucket collisions.
    """
    p = points.withColumn(
        "_rj_bucket", F.floor(F.col(point_col) / F.lit(bucket_width)).cast("long")
    )
    i = intervals.withColumn(
        "_rj_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / F.lit(bucket_width)).cast("long"),
                F.floor(F.col(end_col) / F.lit(bucket_width)).cast("long"),
            )
        ),
    )
    return (
        p.join(i, "_rj_bucket")
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) <= F.col(end_col))
        )
        .drop("_rj_bucket")
    )


def merge_upsert(
    target: DataFrame,
    changes: DataFrame,
    key: str,
    op_col: str = "op",
    delete_op: str = "delete",
    update_cols: list[str] | None = None,
) -> DataFrame:
    """MERGE INTO target USING changes ON target.key = changes.key —
    the CDC-apply primitive (Delta/Iceberg MERGE semantics) expressed
    as ONE full-outer shuffle join on the key:

    - matched  + op == delete_op  -> row dropped
    - matched  + op != delete_op  -> `update_cols` overwritten from the
      change row, every other target column kept
    - unmatched change (upsert)   -> inserted (all shared columns from
      the change row)
    - unmatched change (delete)   -> no-op
    - unmatched target            -> kept as-is

    `changes` must be unique per key (apply last-writer-wins upstream —
    see the cdc_merge_upsert plan query); `update_cols` defaults to
    every non-key column the two frames share. Output = target schema
    + an `action` column in {'kept','updated','inserted'}.

    Scale shape: a single co-partitioned full-outer join — both sides
    shuffle once on the merge key and no row is ever duplicated. This
    is exactly how MERGE plans in Delta's join-based implementation;
    file-level pruning (its other half) is the storage layer's job.
    """
    if update_cols is None:
        update_cols = [
            c for c in changes.columns if c != key and c != op_col and c in target.columns
        ]
    t, s = target.alias("t"), changes.alias("s")
    tk, sk = F.col(f"t.{key}"), F.col(f"s.{key}")
    j = t.join(s, tk == sk, "full_outer")
    matched = tk.isNotNull() & sk.isNotNull()
    insert = tk.isNull() & sk.isNotNull()
    is_delete = F.col(f"s.{op_col}") == F.lit(delete_op)
    out_cols = [F.coalesce(tk, sk).alias(key)]
    for c in target.columns:
        if c == key:
            continue
        if c in update_cols:
            # Updated on match, source value on insert, target otherwise.
            out_cols.append(
                F.when(matched | insert, F.col(f"s.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
            )
        elif c in changes.columns:
            # Not updatable: target value wins on match, source only on insert.
            out_cols.append(
                F.when(insert, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        else:
            out_cols.append(F.col(f"t.{c}").alias(c))
    action = (
        F.when(matched, F.lit("updated"))
        .when(insert, F.lit("inserted"))
        .otherwise(F.lit("kept"))
    )
    return (
        j.filter(~(sk.isNotNull() & is_delete))
        .select(*out_cols, action.alias("action"))
    )


# ------------------------------------------------------- winsorize / clip
def winsorize_clip(
    df: DataFrame,
    group_col: str,
    val_col: str,
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization: clip ``val_col`` to its group's
    [lo_q, hi_q] quantiles — the outlier-capping step that precedes
    loss-weighting or normalization in a feature pipeline.

    Quantiles use DISCRETE semantics (the value at ordered position
    ceil(pct*n/100), a real member of the group): unlike interpolated
    percentiles, the bound is engine-exact — any SQL engine ordering
    by value picks the identical member, with no float interpolation
    to diverge on, which is what makes the operator oracle-checkable
    to the last bit. Percentiles are INTEGER parameters so the
    position arithmetic (int product, one exact double division) is
    bit-identical across engines too.

    Scale shape: ONE shuffle by group for the rank window; the bounds
    table is one row per group and broadcast back onto the fact side —
    never a second fact shuffle. The value at a rank under ORDER BY
    value is deterministic without a tiebreak column (ties share the
    value).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col).orderBy(val_col)
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        group_col,
        val_col,
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wn).alias("_n"),
    )
    lo_pos = F.greatest(
        F.lit(1), F.ceil(F.col("_n") * F.lit(lo_pct) / F.lit(100))
    )
    hi_pos = F.ceil(F.col("_n") * F.lit(hi_pct) / F.lit(100))
    bounds = (
        ranked.filter((F.col("_rn") == lo_pos) | (F.col("_rn") == hi_pos))
        .groupBy(group_col)
        .agg(F.min(val_col).alias("_lo"), F.max(val_col).alias("_hi"))
    )
    return df.join(F.broadcast(bounds), group_col).withColumn(
        f"{val_col}_clipped",
        F.least(F.greatest(F.col(val_col), F.col("_lo")), F.col("_hi")),
    ).drop("_lo", "_hi")
