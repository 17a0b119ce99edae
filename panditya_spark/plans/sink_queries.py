"""Sink round-trip queries (SURVEY §2.1 S6/S7/S9).

The round-2 verdict listed the sink surfaces as "untested (pytest
only)" at the driver level because a sink has no result rows to
hash-compare. These queries close that gap: each WRITES through the
real sink, READS the artifact back, and returns the parsed rows — so
the driver's DuckDB oracle value-checks the serialization round-trip
(CSV quoting/headers, JSON null-dropping, GEXF XML structure + RGB
mapping) every round, not just at pytest time.

Artifacts go to one process-lifetime temp dir, overwritten per
invocation — repeated driver/bench runs don't accumulate files.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.plans.registry import register, table as _t
from panditya_spark.sources.loaders import load_table, read_csv_all_string

_SINK_TMP: str | None = None


def _sf_suffix(sf_dir: str) -> str:
    """Filesystem-safe per-sf-dir key for sink-dir names — one
    definition so every query keys its artifacts consistently."""
    return "".join(ch if ch.isalnum() else "_" for ch in sf_dir.strip("/"))


def _sink_dir(name: str) -> str:
    global _SINK_TMP
    if _SINK_TMP is None:
        _SINK_TMP = tempfile.mkdtemp(prefix="panditya-sink-rt-")
        atexit.register(lambda: shutil.rmtree(_SINK_TMP, ignore_errors=True))
    d = os.path.join(_SINK_TMP, name)
    os.makedirs(d, exist_ok=True)
    return d


# ---------------------------------------------------------------- S6
@register(
    "s6_csv_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS VARCHAR) AS n_nationkey, n_name
    FROM nation
    """,
)
def s6_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink (S6, reference utils/extract.py write path) verified
    end-to-end: write the nation projection with df.write.csv
    (header), read it back with the all-string S1 scan, return the
    re-read rows. Header naming, quoting, and value formatting must
    all survive for the oracle hash to match."""
    out = _sink_dir("s6_csv")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    nation.coalesce(1).write.mode("overwrite").option("header", True).csv(out)
    return read_csv_all_string(spark, out).select("n_nationkey", "n_name")


# ---------------------------------------------------------------- S7
@register(
    "s7_entity_map_roundtrip",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS id,
           c_name AS name,
           CASE WHEN c_custkey % 3 = 0 THEN NULL
                ELSE 'aka_' || CAST(c_custkey AS VARCHAR) END AS aka,
           c_nationkey AS highest_year
    FROM customer WHERE c_custkey <= 200
    """,
)
def s7_entity_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-map JSON sink (S7, reference transform.py:167-171 /
    data_models.to_dict): write `{id: entity_dict}` with null/empty
    fields DROPPED through the real sink, parse the JSON back, and
    re-surface the dropped fields as NULLs. Every third entity has a
    null `aka`, so the null-dropping behavior itself is value-checked:
    a sink that serialized nulls (or dropped the wrong field) would
    hash-mismatch."""
    import json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from panditya_spark.sources.sinks import entity_map_json

    ents = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").cast("string").alias("id"),
            F.lit("author").alias("type"),
            F.col("c_name").alias("name"),
            F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("aka_"), F.col("c_custkey").cast("string")))
            .alias("aka"),
            F.col("c_nationkey").cast("long").alias("highest_year"),
        )
    )
    path = os.path.join(_sink_dir("s7_json"), "entities.json")
    entity_map_json(ents, path)
    with open(path, encoding="utf-8") as f:
        parsed = json.load(f)
    rows = [
        (
            eid,
            ent.get("name"),
            ent.get("aka"),  # absent in the JSON when null at write time
            ent.get("highest_year"),
        )
        for eid, ent in parsed.items()
    ]
    schema = StructType(
        [
            StructField("id", StringType()),
            StructField("name", StringType()),
            StructField("aka", StringType()),
            StructField("highest_year", LongType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- S9
@register(
    "s9_gexf_roundtrip",
    oracle="""
    SELECT 'n' || CAST(o_orderkey AS VARCHAR) AS node,
           'L' || CAST(o_orderkey AS VARCHAR) AS label,
           CASE o_orderkey % 3 WHEN 0 THEN 255 WHEN 1 THEN 6 ELSE 128 END AS r,
           CASE o_orderkey % 3 WHEN 0 THEN 0 WHEN 1 THEN 200 ELSE 128 END AS g,
           CASE o_orderkey % 3 WHEN 0 THEN 0 WHEN 1 THEN 50 ELSE 128 END AS b,
           CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS n_out
    FROM orders WHERE o_orderkey < 100
    """,
)
def s9_gexf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEXF sink (S9, reference grapher.py:140-163) verified
    end-to-end: build a small labeled, colored subgraph, write it
    through the real XML sink, parse the XML back with ElementTree,
    and return one row per node carrying the parsed viz:color channels
    plus the parsed out-degree. The red/green/gray → RGB mapping and
    the edge serialization are both value-checked."""
    import xml.etree.ElementTree as ET

    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from panditya_spark.sources.sinks import write_gexf

    keys = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    color = F.element_at(
        F.array(F.lit("red"), F.lit("green"), F.lit("gray")),
        (F.col("o_orderkey") % 3 + 1).cast("int"),
    )
    nodes = keys.select(
        F.concat(F.lit("n"), F.col("o_orderkey").cast("string")).alias("node"),
        F.concat(F.lit("L"), F.col("o_orderkey").cast("string")).alias("label"),
        color.alias("color"),
    )
    edges = keys.filter(F.col("o_orderkey") % 2 == 0).select(
        F.concat(F.lit("n"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("n"), (F.col("o_orderkey") + 1).cast("string")).alias("dst"),
    )
    path = os.path.join(_sink_dir("s9_gexf"), "graph.gexf")
    write_gexf(nodes, edges, path)

    ns = {
        "g": "http://www.gexf.net/1.2draft",
        "viz": "http://www.gexf.net/1.2draft/viz",
    }
    root = ET.parse(path).getroot()
    out_deg: dict[str, int] = {}
    for e in root.findall(".//g:edges/g:edge", ns):
        out_deg[e.get("source")] = out_deg.get(e.get("source"), 0) + 1
    rows = []
    for n in root.findall(".//g:nodes/g:node", ns):
        c = n.find("viz:color", ns)
        rows.append(
            (
                n.get("id"),
                n.get("label"),
                int(c.get("r")),
                int(c.get("g")),
                int(c.get("b")),
                out_deg.get(n.get("id"), 0),
            )
        )
    schema = StructType(
        [
            StructField("node", StringType()),
            StructField("label", StringType()),
            StructField("r", IntegerType()),
            StructField("g", IntegerType()),
            StructField("b", IntegerType()),
            StructField("n_out", IntegerType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------- ORC
@register(
    "s_orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey % 4 = 0
    GROUP BY o_orderpriority
    """,
)
def s_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source round-trip — columnar-format breadth next to
    the parquet/CSV/JSON surfaces: write a slim orders projection
    through Spark's native ORC writer, read it back with the ORC
    reader, and aggregate. Values, types, and grouping must all
    survive the format change for the (parquet-fed) oracle to
    hash-match. ORC shares parquet's scan capabilities (column
    pruning, predicate pushdown into the stripe reader), so the
    engine's layout guidance transfers: a deployment standardized on
    ORC loses nothing from this engine."""
    out = os.path.join(_sink_dir("s_orc"), "orders")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(F.col("o_orderkey") % 4 == 0)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


# ----------------------------------------------------- quarantine ingest
@register(
    "s_quarantine_read",
    oracle="""
    SELECT 'good' AS bucket,
           count(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders WHERE o_orderkey % 7 <> 0
    UNION ALL
    SELECT 'bad', count(*), CAST(NULL AS DOUBLE)
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def s_quarantine_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced ingest with bad-record quarantine
    (sources/loaders.read_json_with_quarantine): serialize orders to
    JSONL with every 7th line deterministically corrupted (truncated
    JSON), read it back in PERMISSIVE mode with a corrupt-record
    column, and aggregate both splits. The oracle recomputes good/bad
    row counts and the good-side price sum from the source table — a
    reader that silently dropped bad lines (DROPMALFORMED) or
    mis-routed a good line would hash-mismatch."""
    out = os.path.join(_sink_dir("s_quarantine"), "orders_jsonl")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    line = F.when(
        F.col("o_orderkey") % 7 == 0,
        # Truncated record: unparseable, lands in the corrupt column.
        F.concat(F.lit('{"o_orderkey": '), F.col("o_orderkey").cast("string")),
    ).otherwise(
        F.to_json(F.struct("o_orderkey", "o_totalprice"))
    )
    o.select(line.alias("value")).write.mode("overwrite").text(out)
    from panditya_spark.sources.loaders import read_json_with_quarantine

    good, bad = read_json_with_quarantine(
        spark, out, "o_orderkey bigint, o_totalprice double"
    )
    g = good.agg(
        F.lit("good").alias("bucket"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )
    b = bad.agg(
        F.lit("bad").alias("bucket"),
        F.count(F.lit(1)).alias("n_rows"),
        F.lit(None).cast("double").alias("total_price"),
    )
    return g.unionByName(b)


# ------------------------------------------------- partitioned parquet layout
# suffix -> latest written layout path. Forced writes go to a FRESH
# versioned directory instead of overwriting in place: a lazy plan
# built earlier in the same session (e.g. the DPP join sharing a combo
# slot with the round-trip) holds the old directory's file listing,
# and an in-place overwrite turns its execution into
# FAILED_READ_FILE.FILE_NOT_EXIST — the same overwrite-while-referenced
# hazard snapshot-versioned table formats exist to prevent at scale.
_PARTITIONED_LATEST: dict[str, str] = {}
_PARTITIONED_SEQ = [0]


def _partitioned_events(
    spark: SparkSession, sf_dir: str, force: bool = False
) -> str:
    """Write (once per process unless force) the events table as a
    Hive-partitioned parquet layout keyed by event_date; return its
    path. Shared by the layout round-trip (which forces a fresh write —
    the write IS what it tests) and the DPP join (which only needs the
    layout to exist). Forced rewrites land in a new versioned dir
    (see _PARTITIONED_LATEST above); older versions stay readable for
    plans that already listed them and die with the session tmpdir."""
    suffix = _sf_suffix(sf_dir)
    if not force and suffix in _PARTITIONED_LATEST:
        return _PARTITIONED_LATEST[suffix]
    _PARTITIONED_SEQ[0] += 1
    out = _sink_dir(f"part_events_{suffix}_v{_PARTITIONED_SEQ[0]}")
    (
        _t(spark, sf_dir, "events")
        .withColumn("event_date", F.col("ts").cast("date"))
        .coalesce(4)  # bound small-file count: 4 files/partition max
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(out)
    )
    _PARTITIONED_LATEST[suffix] = out
    return out


@register(
    "s_partitioned_layout",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS event_date,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-11'
    GROUP BY 1, 2
    """,
)
def s_partitioned_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet layout, round-tripped: write
    events partitioned by event_date (df.write.partitionBy — one
    directory per day), read the layout back with a date-range filter,
    and aggregate. The point at 100 TB: the filter must prune at the
    DIRECTORY level (PartitionFilters in the scan, gated by
    explain_audit) so a 7-day query over a year of data lists and reads
    7 partitions, never scanning — or even stat-ing — the rest. The
    oracle computes the same aggregate straight from the unpartitioned
    table, so the layout must be value-invisible."""
    out = _partitioned_events(spark, sf_dir, force=True)
    back = spark.read.parquet(out).filter(
        F.col("event_date").between("2024-01-05", "2024-01-11")
    )
    return (
        back.groupBy(
            F.col("event_date").cast("string").alias("event_date"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------- dynamic partition pruning
@register(
    "s_dpp_join",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(ts AS DATE) AS event_date
      FROM events WHERE day(ts) % 7 = 3
    )
    SELECT CAST(e.d AS VARCHAR) AS event_date,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM (SELECT CAST(ts AS DATE) AS d, user_id FROM events) e
    JOIN dim ON e.d = dim.event_date
    GROUP BY 1
    """,
)
def s_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the Hive-partitioned layout: the
    fact side carries NO static partition filter — the pruning values
    come from the joined dimension's filter at RUNTIME. Catalyst
    injects a dynamicpruningexpression subquery (reusing the dim's
    broadcast) into the fact scan's PartitionFilters, so only the
    dimension-selected directories are read. THE mechanism that makes
    star-schema joins over a date-partitioned 100 TB fact table read
    days instead of years — gated by explain_audit on the
    dynamicpruning marker in the plan. The dim derives from the same
    events table (distinct dates where day%7=3), so DuckDB can mirror
    it exactly; day(ts)%7 avoids the cross-engine dayofweek
    numbering mismatch (Spark 1-7 Sunday-first vs DuckDB 0-6)."""
    fact = spark.read.parquet(_partitioned_events(spark, sf_dir))
    dim = (
        _t(spark, sf_dir, "events")
        .filter(F.dayofmonth("ts") % 7 == 3)
        .select(F.col("ts").cast("date").alias("dim_date"))
        .distinct()
    )
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.dim_date)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ------------------------------------------------- schema evolution read
@register(
    "s_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS o_channel
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END AS o_channel
    FROM orders WHERE o_orderkey % 100 = 1
    """,
)
def s_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the data-lake reality
    at 100 TB (a column added in March exists only in March-onward
    files). Generation v1 (2 columns) and generation v2 (adds
    o_channel) are written to one directory; the read uses
    mergeSchema, which unions the footer schemas and surfaces NULL for
    v1 rows' missing column — no rewrite of the old petabytes. The
    oracle is the UNION ALL of both generations with an explicit NULL
    column for v1, so the merged read must be value-identical to
    having had the column all along."""
    out = _sink_dir("schema_evo")
    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderkey") % 100 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderkey") % 2 == 0, F.lit("web"))
        .otherwise(F.lit("store"))
        .alias("o_channel"),
    )
    v1.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "g=1"))
    v2.coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "g=2"))
    return (
        spark.read.option("mergeSchema", True)
        .parquet(os.path.join(out, "g=1"), os.path.join(out, "g=2"))
        .select("o_orderkey", "o_totalprice", "o_channel")
    )


# ------------------------------------------------------ z-order clustering
@register(
    "s_zorder_layout",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey BETWEEN 300 AND 449
      AND o_orderdate BETWEEN TIMESTAMP '1997-01-01'
                          AND TIMESTAMP '1998-06-30'
    """,
)
def s_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered layout, round-tripped: write
    orders clustered on (o_custkey, o_orderdate-as-days), read the
    layout back, apply a 2-D range predicate, and return the matching
    rows. The layout must be value-invisible — the oracle filters the
    unclustered table — while the WRITE buys multi-dimensional
    data-skipping: with z-clustered files, min-max file/row-group
    stats bound a range predicate on EITHER column to a fraction of
    files, where a linear sort prunes only its leading column (pinned
    by test_zorder_layout_skips_files_on_both_dimensions; pushed scan
    filters gated by explain_audit). At 100 TB this is the difference
    between a clustered scan and a full pass for every
    secondary-dimension query."""
    import os

    from panditya_spark.operators.partitioning import zorder_write

    suffix = _sf_suffix(sf_dir)
    out = os.path.join(_sink_dir(f"zorder_orders_{suffix}"), "orders")
    orders = _t(spark, sf_dir, "orders").withColumn(
        "_days", F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
    )
    zorder_write(orders, "o_custkey", "_days", out, bits=8, n_files=16)
    back = spark.read.parquet(out)
    return back.filter(
        F.col("o_custkey").between(300, 449)
        # Dates are whole days; the string casts to 1998-06-30 00:00:00,
        # matching the oracle's TIMESTAMP literal exactly.
        & F.col("o_orderdate").between("1997-01-01", "1998-06-30")
    ).select("o_orderkey", "o_custkey", "o_totalprice")


# ------------------------------------------------------- targeted delete
@register(
    "s_targeted_delete",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id % 37 <> 0
    GROUP BY event_type
    """,
)
def s_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style key-targeted delete, round-tripped: write events
    key-clustered by user_id (repartitionByRange — the layout that
    makes per-key deletes file-local), erase every 37th user via
    sources/sinks.targeted_delete (rewrites ONLY the files holding
    those keys; untouched files are byte-identical, pinned by pytest),
    read the mutated layout back and aggregate. The oracle computes
    the same aggregate from the source with the keys filtered — the
    delete must be exactly a filter, and the layout mutation
    value-invisible."""
    import os

    from panditya_spark.sources.sinks import targeted_delete

    suffix = _sf_suffix(sf_dir)
    out = os.path.join(_sink_dir(f"tgtdel_events_{suffix}"), "events")
    ev = _t(spark, sf_dir, "events")
    # Fresh layout per invocation: the delete mutates it.
    (
        ev.repartitionByRange(16, "user_id")
        .write.mode("overwrite")
        .parquet(out)
    )
    doomed = ev.select("user_id").filter(F.col("user_id") % 37 == 0).distinct()
    targeted_delete(spark, out, doomed, "user_id")
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_value"),
    )


# ------------------------------------------------- VARIANT semi-structured
@register(
    "s_variant_json",
    oracle="""
    WITH payload AS (
      SELECT '{"user":{"id":' || CAST(user_id AS VARCHAR)
             || ',"type":"' || event_type || '"},"amt":'
             || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)
             || ',"seq":[' || CAST(event_id AS VARCHAR) || ','
             || CAST(event_id % 7 AS VARCHAR) || ']}' AS js
      FROM events
    ),
    x AS (
      SELECT CAST(json_extract_string(js, '$.user.type') AS VARCHAR) AS etype,
             CAST(json_extract(js, '$.user.id') AS BIGINT) AS uid,
             CAST(json_extract(js, '$.amt') AS BIGINT) AS amt,
             CAST(json_extract(js, '$.seq[1]') AS BIGINT) AS seq1
      FROM payload
    )
    SELECT etype, count(*) AS n_events,
           CAST(sum(amt) AS BIGINT) AS total_cents,
           CAST(count(DISTINCT uid) AS BIGINT) AS n_users,
           CAST(sum(seq1) AS BIGINT) AS seq1_sum
    FROM x GROUP BY etype
    """,
)
def s_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured schema-on-read via Spark 4's VARIANT type: each
    event row is serialized into a nested JSON payload (object +
    array, integer-only leaves so the oracle is engine-exact), parsed
    ONCE with parse_json into a VARIANT column, and consumed with
    typed variant_get path extractions — the modern engine's answer
    to "the pipeline receives JSON events whose schema isn't known at
    write time". The aggregate proves the extracted values, types,
    and array indexing (VARIANT paths are 0-based, DuckDB JSON paths
    too) end-to-end against an independent JSON implementation.
    Map-only until the final partial-aggregated groupBy — the same
    one-shuffle plan as any typed-column aggregate; at 100 TB the
    parse+extract streams through the scan stage."""
    from panditya_spark.session import ensure_session_defaults

    ensure_session_defaults(spark)
    ev = load_table(spark, sf_dir, "events")
    js = F.concat(
        F.lit('{"user":{"id":'),
        F.col("user_id").cast("string"),
        F.lit(',"type":"'),
        F.col("event_type"),
        F.lit('"},"amt":'),
        F.round(F.col("value") * 100).cast("bigint").cast("string"),
        F.lit(',"seq":['),
        F.col("event_id").cast("string"),
        F.lit(","),
        (F.col("event_id") % 7).cast("string"),
        F.lit("]}"),
    )
    v = ev.select(F.parse_json(js).alias("v"))
    x = v.select(
        F.variant_get("v", "$.user.type", "string").alias("etype"),
        F.variant_get("v", "$.user.id", "bigint").alias("uid"),
        F.variant_get("v", "$.amt", "bigint").alias("amt"),
        F.variant_get("v", "$.seq[1]", "bigint").alias("seq1"),
    )
    return x.groupBy("etype").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("amt").alias("total_cents"),
        F.count_distinct(F.col("uid")).alias("n_users"),
        F.sum("seq1").alias("seq1_sum"),
    )
