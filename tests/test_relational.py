"""Unit tests for panditya_spark.operators.relational (SURVEY §2.2–§2.7).

Each test pins one reference behavior on a tiny inline DataFrame,
including the deliberate quirk replications (year guard, truncation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from panditya_spark.operators.relational import (
    bucket_by_size,
    coalesce_empty,
    first_match_per_group,
    formatted_freq_agg,
    split_to_array,
    top_n_by,
    truncated_pct,
    year_pair_with_guard,
)
from tests.conftest import rows


def test_coalesce_empty(spark):
    df = spark.createDataFrame(
        [("a", "x"), ("", "y"), (None, "z"), ("  ", "w")], ["p", "f"]
    )
    out = rows(df.select(coalesce_empty(F.col("p"), F.col("f")).alias("v")))
    assert out == [("a",), ("w",), ("y",), ("z",)]


def test_split_to_array(spark):
    df = spark.createDataFrame([("a, b,,c ",), ("",), (" , ",)], ["s"])
    out = rows(df.select(split_to_array(F.col("s")).alias("a")))
    assert sorted(map(list, (r[0] for r in out))) == [[], [], ["a", "b", "c"]]


def test_year_guard_quirk(spark):
    # transform.py:63-65 — lowest is dropped when highest is empty.
    df = spark.createDataFrame(
        [("1000", "900"), ("", "900"), (None, "900"), ("1100", "")], ["h", "l"]
    )
    h, l = year_pair_with_guard(F.col("h"), F.col("l"))
    out = rows(df.select(h.alias("h2"), l.alias("l2")))
    assert out == [(1000, 900), (1100, None), (None, None), (None, None)]


def test_formatted_freq_agg(spark):
    # transform.py:146-156 — "X (3), Y (1)" ordered by (-count, name).
    df = spark.createDataFrame(
        [("a1", "Nyāya"), ("a1", "Nyāya"), ("a1", "Nyāya"), ("a1", "Yoga"),
         ("a2", "B"), ("a2", "A")],
        ["author", "disc"],
    )
    out = dict(rows(formatted_freq_agg(df, "author", "disc")))
    assert out == {"a1": "Nyāya (3), Yoga (1)", "a2": "A (1), B (1)"}


def test_truncated_pct(spark):
    # utils.py:67-71 — truncation, not rounding: 2/3 → 66.6 (not 66.7).
    df = spark.createDataFrame([(2, 3)], ["n", "d"])
    (v,) = rows(df.select(truncated_pct(F.col("n"), F.col("d")).alias("p")))[0]
    assert v == 66.6


def test_bucket_by_size(spark):
    df = spark.createDataFrame([(1,), (2,), (4,), (5,), (9,), (10,), (25,), (26,), (100,), (101,)], ["sz"])
    out = rows(df.select("sz", bucket_by_size(F.col("sz")).alias("b")))
    assert dict(out) == {
        1: "isolated", 2: "extra_small", 4: "extra_small", 5: "small",
        9: "small", 10: "medium", 25: "medium", 26: "large",
        100: "large", 101: "extra_large",
    }


def test_top_n_and_first_match(spark):
    df = spark.createDataFrame(
        [("w1", 0, None), ("w1", 1, 900), ("w1", 2, 800), ("w2", 0, 700)],
        ["work", "pos", "year"],
    )
    top = rows(top_n_by(df, [F.desc("year")], 1), "work", "pos")
    assert top == [("w1", 1)]
    # J4/W2: first author *in position order* with a year.
    fm = rows(
        first_match_per_group(df, ["work"], [F.asc("pos")], F.col("year").isNotNull()),
        "work", "pos", "year",
    )
    assert fm == [("w1", 1, 900), ("w2", 0, 700)]


def test_asof_join(spark):
    import datetime as dt

    from panditya_spark.operators.relational import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [("u1", 1, t(10)), ("u1", 2, t(20)), ("u2", 3, t(10)), ("u3", 4, t(10))],
        ["k", "lid", "lt"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100.0), ("u1", t(15), 150.0), ("u2", t(11), 999.0)],
        ["k", "rt", "rv"],
    )
    out = {
        r.lid: (r.rt, r.rv)
        for r in asof_join(
            left, right, keys=["k"], left_time="lt", right_time="rt",
            payload_cols=["rt", "rv"],
        ).collect()
    }
    assert out[1] == (t(10), 100.0)   # inclusive: equal ts matches
    assert out[2] == (t(15), 150.0)   # latest at-or-before, not first
    assert out[3] == (None, None)     # u2's only right row is AFTER lt
    assert out[4] == (None, None)     # u3 has no right rows at all


def test_asof_join_whole_row_and_null_time(spark):
    """A NULL field in the latest match must stay NULL (whole-row
    semantics, not per-column backfill); NULL right_time rows are
    excluded rather than sorting nulls-first into the window."""
    import datetime as dt

    from panditya_spark.operators.relational import asof_join

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([("u1", 1, t(20)), ("u4", 2, t(20))], ["k", "lid", "lt"])
    right = spark.createDataFrame(
        [
            ("u1", t(10), 100.0, "old"),
            ("u1", t(15), None, "new"),    # latest match has NULL rv
            ("u4", None, 777.0, "ghost"),  # NULL right_time: never a match
        ],
        ["k", "rt", "rv", "tag"],
    )
    out = {
        r.lid: (r.rv, r.tag)
        for r in asof_join(
            left, right, keys=["k"], left_time="lt", right_time="rt",
            payload_cols=["rv", "tag"],
        ).collect()
    }
    assert out[1] == (None, "new")   # rv NOT backfilled from the t(10) row
    assert out[2] == (None, None)    # ghost row excluded entirely


def test_with_row_idx_multi_partition(spark):
    """The partition-offset row index must equal global read order on a
    multi-partition input (spark.range partitions are contiguous and
    ordered, so id IS the file order here)."""
    from panditya_spark.etl import _with_row_idx

    df = spark.range(0, 1000, 1, 7).withColumnRenamed("id", "payload")
    assert df.rdd.getNumPartitions() == 7
    out = _with_row_idx(df).collect()
    assert len(out) == 1000
    for r in out:
        assert r.row_idx == r.payload, (r.row_idx, r.payload)


def test_with_row_idx_offsets_stay_in_jvm(spark):
    """The per-partition offsets are a literal frame, not a Python RDD
    (a LogicalRDD leaf), so ingest starts no Python worker."""
    from panditya_spark.etl import _with_row_idx

    out = _with_row_idx(spark.range(0, 10, 1, 3))
    assert "LogicalRDD" not in out._jdf.queryExecution().analyzed().toString()


def test_merge_upsert_all_action_paths(spark):
    """Every MERGE branch on one constructed frame: matched update,
    matched delete, unmatched-source insert, unmatched-source delete
    (no-op), unmatched-target keep — plus the update_cols contract
    (non-update shared columns keep the TARGET value on match, take
    the SOURCE value on insert)."""
    from panditya_spark.operators.relational import merge_upsert

    target = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0), (3, "carol", 30.0)],
        ["key", "name", "bal"],
    )
    changes = spark.createDataFrame(
        [
            (1, "upsert", "ALICE2", 11.0),   # matched update
            (2, "delete", None, None),        # matched delete
            (4, "upsert", "dave", 40.0),      # insert
            (5, "delete", None, None),        # unmatched delete: no-op
        ],
        ["key", "op", "name", "bal"],
    )
    out = {
        r["key"]: r
        for r in merge_upsert(target, changes, "key", update_cols=["bal"]).collect()
    }
    assert sorted(out) == [1, 3, 4]                       # 2 deleted, 5 no-op
    assert out[1]["action"] == "updated"
    assert out[1]["bal"] == 11.0
    assert out[1]["name"] == "alice"                      # name not in update_cols
    assert out[3]["action"] == "kept"
    assert (out[3]["name"], out[3]["bal"]) == ("carol", 30.0)
    assert out[4]["action"] == "inserted"
    assert (out[4]["name"], out[4]["bal"]) == ("dave", 40.0)


def test_merge_upsert_default_update_cols(spark):
    """With update_cols omitted, every shared non-key column updates on
    match (name included this time)."""
    from panditya_spark.operators.relational import merge_upsert

    target = spark.createDataFrame([(1, "alice", 10.0)], ["key", "name", "bal"])
    changes = spark.createDataFrame(
        [(1, "upsert", "ALICE2", 11.0)], ["key", "op", "name", "bal"]
    )
    row = merge_upsert(target, changes, "key").collect()[0]
    assert (row["name"], row["bal"], row["action"]) == ("ALICE2", 11.0, "updated")


def test_compact_parquet_file_sizing(spark, tmp_path):
    """50 tiny part files compact into ceil(total/target) right-sized
    files with the data intact — the post-streaming maintenance job."""
    import glob

    from panditya_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    spark.range(0, 5000).withColumnRenamed("id", "k").repartition(50).write.parquet(src)
    n_small = len(glob.glob(f"{src}/part-*.parquet"))
    assert n_small == 50
    total = sum(
        __import__("os").path.getsize(f) for f in glob.glob(f"{src}/*.parquet")
    )
    target = total // 4  # expect ceil(total/(total//4)) = 5 files
    n = compact_parquet(spark, src, dst, target_file_bytes=target, sort_within_by=["k"])
    n_big = len(glob.glob(f"{dst}/part-*.parquet"))
    assert n == n_big and n_big in (4, 5)  # ceil division; far fewer files
    back = spark.read.parquet(dst)
    assert back.count() == 5000
    assert back.agg({"k": "sum"}).collect()[0][0] == sum(range(5000))


# ------------------------------------------------- data-quality constraints
def test_constraint_report_hand_values(spark):
    from pyspark.sql import functions as F

    from panditya_spark.operators.quality import (
        check_in_set,
        check_not_null,
        check_pattern,
        check_range,
        constraint_report,
    )

    df = spark.createDataFrame(
        [
            (1, 10.0, "A", "x-1"),
            (2, 10.0, "A", "x-2"),
            (2, 99.0, "B", "bad"),   # dup id, out-of-range, bad flag/pattern
            (None, 5.0, "A", "x-3"),  # null id
        ],
        ["id", "v", "flag", "code"],
    )
    dim = spark.createDataFrame([(1,), (3,)], ["pk"])
    got = {
        r["constraint_name"]: (r["n_violations"], r["satisfied"])
        for r in constraint_report(
            df,
            checks=[
                check_not_null("id"),
                check_range("v", 0, 50),
                check_in_set("flag", ["A"]),
                check_pattern("code", r"^x-\d$"),
            ],
            unique_keys=[["id"]],
            references=[("id", dim, "pk")],
        ).collect()
    }
    assert got["not_null(id)"] == (1, 0)
    assert got["range(v,0,50)"] == (1, 0)
    assert got["in_set(flag)"] == (1, 0)
    assert got["pattern(code)"] == (1, 0)
    # id=2 appears twice -> 1 surplus row; the NULL id group counts too
    # (groupBy treats NULL as a key) but has only one row.
    assert got["unique(id)"] == (1, 0)
    # Non-null ids are {1, 2, 2}; dim has {1, 3} -> 2 orphan rows.
    assert got["ref(id->pk)"] == (2, 0)


def test_constraint_report_all_satisfied(spark):
    from panditya_spark.operators.quality import (
        check_not_null,
        check_range,
        constraint_report,
    )

    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], ["id", "v"])
    got = constraint_report(
        df,
        checks=[check_not_null("id"), check_range("v", 0, 10)],
        unique_keys=[["id"]],
    )
    assert all(r["satisfied"] == 1 and r["n_violations"] == 0 for r in got.collect())


def test_constraint_report_empty_input_and_duplicate_names(spark):
    """Zero rows = zero violations (SUM-over-nothing is NULL, not a
    crash); duplicate constraint names keep independent counts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from panditya_spark.operators.quality import (
        check_not_null,
        constraint_report,
    )

    empty = spark.createDataFrame(
        [],
        StructType(
            [
                StructField("id", LongType()),
                StructField("v", DoubleType()),
            ]
        ),
    )
    got = constraint_report(
        empty, checks=[check_not_null("id")], unique_keys=[["id"]]
    ).collect()
    assert all(r["n_violations"] == 0 and r["satisfied"] == 1 for r in got)

    df = spark.createDataFrame([(1, None), (None, 2.0)], ["id", "v"])
    dup = constraint_report(
        df,
        checks=[
            ("same_name", F.col("id").isNull()),
            ("same_name", F.lit(False)),
        ],
    ).collect()
    assert [(r["constraint_name"], r["n_violations"]) for r in dup] == [
        ("same_name", 1),
        ("same_name", 0),
    ]


def test_null_safe_join_matches_plain_join_plus_null_group(spark):
    """eqNullSafe = plain equi join PLUS the NULL<=>NULL matches, and
    the plan stays an equi hash join (no nested loop)."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, "a"), (None, "b"), (None, "c"), (2, "d")], ["k", "l"]
    )
    right = spark.createDataFrame(
        [(1, "x"), (None, "y"), (3, "z")], ["k", "r"]
    )
    ns = left.join(
        right.withColumnRenamed("k", "k2"),
        F.col("k").eqNullSafe(F.col("k2")),
    )
    got = sorted((r["l"], r["r"]) for r in ns.collect())
    assert got == [("a", "x"), ("b", "y"), ("c", "y")]
    plan = ns._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
