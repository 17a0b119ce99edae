"""Physical-plan audit: verifies that representative queries compile to
the plans a 100 TB deployment needs — filters and projections pushed
into the parquet scan, small dimensions broadcast, aggregates
partial/final (map-side combine), expressions inside WholeStageCodegen.

Usage: python scripts/explain_audit.py [sf_dir]

Prints one PASS/FAIL line per assertion plus the offending plan on
failure. This is a developer tool AND a regression gate: plan-shape
regressions (e.g. a filter that stops reaching the scan after a
refactor) fail loudly here long before they show up as bench noise.
"""

from __future__ import annotations

import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# ---- builders for plans that live INSIDE an operator (not a registered
# query's return value): the audit gates them directly via a callable
# entry ("label", builder) in CHECKS.
_AUDIT_LAYOUT: list[str] = []


def _audit_layout(spark) -> str:
    """A tiny shared key-clustered layout for the targeted-delete
    plan gates (built once per run)."""
    if not _AUDIT_LAYOUT:
        import tempfile

        from pyspark.sql import functions as F

        d = tempfile.mkdtemp(prefix="audit_layout_")
        (
            spark.range(0, 2000)
            .select((F.col("id") % 97).alias("uid"), F.col("id").alias("v"))
            .repartitionByRange(4, "uid")
            .write.mode("overwrite")
            .parquet(d)
        )
        _AUDIT_LAYOUT.append(d)
    return _AUDIT_LAYOUT[0]


def _build_dq_counts(spark, sf_dir):
    from panditya_spark.operators.quality import (
        _conditional_counts,
        check_in_set,
        check_not_null,
        check_range,
    )
    from panditya_spark.plans.data_pipeline_queries import _t

    li = _t(spark, sf_dir, "lineitem")
    return _conditional_counts(
        li,
        [
            check_not_null("l_orderkey"),
            check_range("l_quantity", 1, 50),
            check_range("l_discount", 0, 0.08),
            check_in_set("l_returnflag", ["A", "N", "R"]),
        ],
    )


def _build_delete_locate(spark, sf_dir):
    from pyspark.sql import functions as F

    from panditya_spark.sources.sinks import affected_files_plan

    keys = spark.range(0, 3).select(F.col("id").alias("uid"))
    return affected_files_plan(spark, _audit_layout(spark), keys, "uid")


def _build_delete_rewrite(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from panditya_spark.sources.sinks import kept_rows_plan

    d = _audit_layout(spark)
    files = [
        os.path.join(d, f) for f in sorted(os.listdir(d))
        if f.endswith(".parquet")
    ][:2]
    keys = spark.range(0, 3).select(F.col("id").alias("uid"))
    return kept_rows_plan(spark, files, keys, "uid")


def _build_record_high_batch(spark, sf_dir):
    from panditya_spark.plans.streaming_queries import _t
    from panditya_spark.streaming.windows import record_high_batch

    return record_high_batch(
        _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    )


def _build_sssp_round(spark, sf_dir):
    """One weighted-SSSP relaxation round as a LAZY plan (the loop in
    operators/graph.weighted_sssp materializes per round, so the
    registered query can't be explained without running it): frontier
    ⋈ edges on src, map-side-combinable min aggregate, full-outer
    merge against the running distances."""
    from pyspark.sql import functions as F

    from panditya_spark.plans.graph_queries import _t

    o = _t(spark, sf_dir, "orders")
    o1 = o.select("o_orderkey").filter(F.col("o_orderkey") > 0)
    o2 = o.select(F.col("o_orderkey").alias("k2"))
    dag = o1.join(o2, o1["o_orderkey"] * 2 == o2["k2"]).select(
        F.concat(F.lit("K"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("K"), (F.col("o_orderkey") * 2).cast("string")).alias("dst"),
        (1 + F.col("o_orderkey") % 3).alias("w"),
    )
    heads = dag.select("src").subtract(dag.select(F.col("dst").alias("src")))
    dist = heads.select(
        F.col("src").alias("node"), F.lit(0).cast("bigint").alias("dist")
    )
    cand = (
        dist.join(dag, dist["node"] == dag["src"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
    )
    return dist.join(cand, "node", "full_outer").select(
        "node",
        F.coalesce(F.least("dist", "cand"), F.coalesce("dist", "cand")).alias(
            "dist"
        ),
        (F.col("dist").isNull() | (F.col("cand") < F.col("dist"))).alias(
            "improved"
        ),
    )


def _build_semantic_dedup_pairs(spark, sf_dir):
    """The semantic-dedup within-cluster pair plan (the full operator
    runs its k-means actions eagerly; the gated shape is the pair
    pass): since r16 the pairs are generated INSIDE one applyInPandas
    group per cluster — each vector crosses the Python boundary once,
    riding a single cluster-id exchange, instead of the former
    lhs ⋈ rhs self-join that shipped |cluster|×-duplicated vector
    payloads through Arrow (guide §8)."""
    from pyspark.sql import functions as F

    from panditya_spark.plans.data_pipeline_queries import _t

    emb = _t(spark, sf_dir, "embeddings")
    # A stand-in assignment with the real queries' shape (vec_id %
    # n_clusters) keeps the gate load-independent — the group geometry
    # is identical to kmeans_assign's output.
    a = emb.select(
        F.col("vec_id").alias("sid"),
        (F.col("vec_id") % 8).alias("cluster"),
        F.col("embedding").alias("svec"),
    )

    def _dups(pdf):
        return pdf[["sid"]].iloc[:0]

    return a.groupBy("cluster").applyInPandas(_dups, "sid long")


def _build_session_window_batch(spark, sf_dir):
    """Batch twin of the builtin session_window aggregation (the
    registered query drives a real micro-batch run; the gate asserts
    the session-window aggregate machinery on the equivalent batch
    plan)."""
    from pyspark.sql import functions as F

    from panditya_spark.plans.streaming_queries import _t

    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("user_id"), "ts"
    )
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.unix_micros(F.col("session_window.start")).alias("s_us"),
        )
    )


def _build_scc_propagation_round(spark, sf_dir):
    """One fused bidirectional min-label SCC propagation round as a
    LAZY plan (the round-10 rewrite materializes per round, so the
    registered query can't be explained without running it):
    union-tagged edges join the changed frontier, then ONE
    (node, dir) min-fold over candidates + current label rows."""
    from pyspark.sql import functions as F

    from panditya_spark.plans.graph_queries import key_chain_edges

    e = key_chain_edges(spark, sf_dir).select("src", "dst").distinct()
    prop = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.lit("f").alias("dir")
    ).unionByName(
        e.select(
            F.col("dst").alias("u"), F.col("src").alias("v"),
            F.lit("b").alias("dir"),
        )
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    lab = nodes.select(
        "node", F.lit("f").alias("dir"), F.col("node").alias("val"),
        F.lit(True).alias("chg"),
    ).unionByName(
        nodes.select(
            "node", F.lit("b").alias("dir"), F.col("node").alias("val"),
            F.lit(True).alias("chg"),
        )
    )
    cand = prop.join(
        lab.filter("chg").select(F.col("node").alias("u"), "dir", "val"),
        ["u", "dir"],
    ).select(
        F.col("v").alias("node"), "dir", "val", F.lit(False).alias("is_old")
    )
    return (
        lab.select("node", "dir", "val", F.lit(True).alias("is_old"))
        .unionByName(cand)
        .groupBy("node", "dir")
        .agg(
            F.min("val").alias("val"),
            F.min(F.when(F.col("is_old"), F.col("val"))).alias("_old"),
        )
        .select("node", "dir", "val", (F.col("val") < F.col("_old")).alias("chg"))
    )


def _build_two_level_refine(spark, sf_dir):
    """The two-level k-means refine stage shape: ONE shuffle by the
    coarse cell into a grouped-map pandas refine (a stand-in coarse
    assignment keeps the gate load-independent, the semantic-dedup
    gate's technique — the join geometry matches kmeans_assign's
    output exactly)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from panditya_spark.plans.data_pipeline_queries import _t

    emb = _t(spark, sf_dir, "embeddings")
    cells = emb.select(
        F.col("vec_id").alias("kid"),
        F.col("embedding").alias("kvec"),
        F.xxhash64(F.col("vec_id").cast("string")).alias("xxh"),
        (F.col("vec_id") % 8).alias("coarse"),
    )

    def refine(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"vec_id": pdf["kid"], "cluster": 1})

    return cells.groupBy("coarse").applyInPandas(
        refine, "vec_id bigint, cluster long"
    )


def _triangle_edges(spark, sf_dir):
    """The canonical (a, b) part co-purchase edges the g17 queries
    enumerate triangles over."""
    from pyspark.sql import functions as F

    from panditya_spark.plans.graph_queries import _t

    li = _t(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    return (
        x.join(y, "k")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
    )


def _build_ktruss_round(spark, sf_dir):
    """The triangle plan the k-truss peel starts from, with the close
    triangle_list picks for this edge count."""
    from panditya_spark.operators.graph import triangle_list

    return triangle_list(_triangle_edges(spark, sf_dir))


def _bloom_triangle_list(spark, sf_dir, **kw):
    """triangle_list with the bloom close forced whatever the edge
    count: the broadcast tier's ceiling drops to 0 edges for the call
    (the close is picked when triangle_list is called)."""
    from panditya_spark.operators import graph as G

    e = _triangle_edges(spark, sf_dir)
    saved, G._BLOOM_MIN_EDGES = G._BLOOM_MIN_EDGES, 0
    try:
        return G.triangle_list(e, **kw)
    finally:
        G._BLOOM_MIN_EDGES = saved


def _build_bloom_close(spark, sf_dir):
    """The bloom close: the blocked-bitmap single probe plus one exact
    shuffle semi join (operators/graph.py:triangle_list)."""
    return _bloom_triangle_list(spark, sf_dir)


def _build_bloom_probe_stage(spark, sf_dir):
    """The broadcast-probed bloom's PROBE STAGE, pre-barrier
    (triangle_list(probe_plan_only=True)): the plan whose shape the
    survivor barrier protects. The load-bearing gate is the ABSENCE
    of the exactness LeftSemi here — Catalyst's
    PushDownLeftSemiAntiJoin used to leapfrog it below the word join
    (its (u, w) keys exist on the probed leg), which put the bit test
    AFTER the semi's exchange and made the 'pruned' exchange carry
    the FULL wedge set (measured: 410.9M rows / 7.8 GB at sf1 vs
    22.0M actual survivors; a >73 GB ENOSPC at sf10)."""
    return _bloom_triangle_list(spark, sf_dir, probe_plan_only=True)


CHECKS = [
    # (query, [(description, regex)])
    (
        "p1_scan_project_filter",
        [
            (
                "filter pushed to parquet scan",
                r"PushedFilters: \[.*(GreaterThan|In)\(l_quantity.*\]|PushedFilters: \[.*l_quantity",
            ),
            (
                "scan reads only 4 columns (pruning)",
                r"ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint,l_quantity",
            ),
            ("whole-stage codegen active", r"codegen id : \d"),
        ],
    ),
    (
        "j5_broadcast_join_agg",
        [
            ("small dimension broadcast", r"BroadcastHashJoin|BroadcastExchange"),
            ("partial aggregation before shuffle", r"HashAggregate.*partial|partial_"),
        ],
    ),
    (
        "a10_degree_stats",
        [
            # r16 one-pass rewrite: both degree directions ride ONE
            # node-keyed aggregate — one edge-table build (2 scans, one
            # per input table), one keyed exchange + the single-row
            # fold, no per-direction subtree duplication and no
            # crossJoin of the two stat rows.
            ("one pass: at most 2 exchanges (node key + global fold)",
             ("count<=", "Exchange (", 2)),
            ("edge table built once (one scan per input table)",
             ("count<=", "Scan parquet  (", 2)),
            ("no cross join of per-direction stat rows",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("map-side partial aggregation before the node exchange",
             r"HashAggregate.*partial|partial_"),
        ],
    ),
    (
        "a4_count_distinct",
        [
            ("partial aggregation", r"partial"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "w1_top_n",
        [
            (
                "top-N compiles to TakeOrderedAndProject (no full sort)",
                r"TakeOrderedAndProject",
            ),
        ],
    ),
    (
        "text_quality",
        [
            ("pure column expressions — no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            ("whole-stage codegen active", r"codegen id : \d"),
        ],
    ),
    (
        "dedup_exact",
        [
            ("single shuffle: partial then final agg", r"partial"),
        ],
    ),
    (
        "tpch_q1_pricing",
        [
            ("shipdate filter pushed to parquet scan", r"PushedFilters: \[.*l_shipdate"),
            ("partial aggregation before shuffle", r"partial"),
            # (codegen-id annotations are hidden inside an unexecuted
            # AdaptiveSparkPlan, so assert pruning instead: the scan
            # must read exactly the 7 needed of 11 lineitem columns.)
            ("scan prunes to the 7 needed columns",
             r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_tax:double,l_returnflag:string,l_linestatus:string,l_shipdate:timestamp"),
        ],
    ),
    (
        "tpch_q3_top_orders",
        [
            ("segment filter pushed to customer scan", r"PushedFilters: \[.*c_mktsegment"),
            ("date filters pushed to fact scans", r"PushedFilters: \[.*l_shipdate"),
            ("top-N compiles to TakeOrderedAndProject", r"TakeOrderedAndProject"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "tpch_q6_forecast",
        [
            ("every predicate pushed to the parquet scan",
             r"PushedFilters: \[.*l_shipdate.*l_discount.*l_quantity|PushedFilters: \[.*l_shipdate"),
            ("partial aggregation before shuffle", r"partial"),
            ("scan prunes to the 4 needed columns",
             r"ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
        ],
    ),
    (
        "tpch_q5_local_supplier",
        [
            ("dimension chain broadcast", r"BroadcastHashJoin"),
            ("date filter pushed to orders scan", r"PushedFilters: \[.*o_orderdate"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "mm_image_features",
        [
            # VERDICT r2 #4 + r16 volume-sized spread: payload bytes
            # (the synthesized PNG/WAV) must never shuffle — the ONE
            # permitted exchange is the pre-synthesis round-robin
            # spread of the slim (media_id, text) rows (guide §2.5/§4:
            # mapInPandas parallelism = upstream partition count, and
            # the sf inputs are single-split).
            ("only the slim pre-synth rows are ever exchanged",
             r"Exchange\nInput \[2\]: \[media_id#\d+, text#\d+\]\n"
             r"Arguments: RoundRobinPartitioning"),
            ("no second exchange (payload never shuffles)",
             ("count<=", "Exchange (", 1)),
            ("no key shuffle anywhere",
             ("absent", ["hashpartitioning", "rangepartitioning"])),
            ("scan prunes to (doc_id, text)",
             r"ReadSchema: struct<doc_id:bigint,text:string"),
        ],
    ),
    (
        "text_chunking",
        [
            ("map-only: no Exchange anywhere in the plan", ("absent", ["Exchange"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "text_repetition_filter",
        [
            ("map-only: no Exchange anywhere in the plan", ("absent", ["Exchange"])),
            ("whole-stage codegen active", r"codegen id : \d"),
        ],
    ),
    (
        "tpch_q4_order_priority",
        [
            # The EXISTS must plan as a semi join (probe side ships only
            # join key + shipdate; multi-match orders never duplicate).
            ("EXISTS compiles to a LeftSemi join", r"LeftSemi"),
            ("quarter filter pushed to orders scan", r"PushedFilters: \[.*o_orderdate"),
            ("lineitem scan prunes to (l_orderkey, l_shipdate)",
             r"ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"),
        ],
    ),
    (
        "tpch_q16_supplier_counts",
        [
            # NOT IN over a non-null key = broadcast anti join; the
            # fact side must never shuffle for the exclusion.
            ("exclusion compiles to a broadcast LeftAnti join",
             r"BroadcastHashJoin.*LeftAnti|LeftAnti.*BuildRight"),
            ("brand filter pushed to part scan", r"PushedFilters: \[.*p_brand"),
        ],
    ),
    (
        "tpch_q18_large_orders",
        [
            ("HAVING subquery applied as a semi join", r"LeftSemi"),
            ("top-100 compiles to TakeOrderedAndProject", r"TakeOrderedAndProject"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "tpch_q22_dormant_balance",
        [
            ("NOT EXISTS compiles to a LeftAnti join", r"LeftAnti"),
            ("recent-orders date filter pushed to scan", r"PushedFilters: \[.*o_orderdate"),
            # The scalar subquery is a broadcast 1-row aggregate, not a
            # collect-and-relaunch: its join must be a broadcast NLJ of
            # a single row (the one legitimate nested-loop: 1 x N).
            ("scalar average broadcast into the filter", r"BroadcastExchange|BroadcastNestedLoop"),
        ],
    ),
    (
        "s_partitioned_layout",
        [
            # The read side of the partitioned layout must prune at the
            # DIRECTORY level: a date-range filter over a Hive-style
            # event_date= layout shows up as PartitionFilters, so a
            # 7-day query lists 7 partitions regardless of table size.
            ("date filter prunes partitions (PartitionFilters)",
             r"PartitionFilters: \[.*event_date"),
            ("partial aggregation before shuffle", r"partial"),
        ],
    ),
    (
        "s_dpp_join",
        [
            # The fact side has NO static date filter of its own; the
            # pruning values must arrive at runtime from the joined
            # dimension — the star-schema mechanism that reads days,
            # not years, of a date-partitioned 100 TB fact table.
            ("fact scan pruned by dynamicpruningexpression",
             r"PartitionFilters: \[.*dynamicpruning"),
            ("dimension broadcast reused for pruning", r"BroadcastHashJoin|BroadcastExchange"),
        ],
    ),
    (
        "j_bloom_filter_join",
        [
            # The fact side must carry the runtime-injected bloom
            # predicate BEFORE its shuffle; the filter is built from
            # the selective dim side as a bloom_filter_agg subquery.
            ("might_contain injected into the fact side", r"might_contain"),
            ("bloom built from the dim side", r"bloom_filter_agg"),
        ],
    ),
    (
        "cdc_merge_upsert",
        [
            # MERGE = ONE co-partitioned full-outer join on the key.
            ("merge plans as a single FullOuter join", r"FullOuter"),
            ("snapshot filter pushed to customer scan", r"PushedFilters: \[.*c_custkey"),
        ],
    ),
    (
        "er_fuzzy_match",
        [
            # Blocking is a gram-content equi-join + builtin levenshtein
            # — never an all-pairs product, never a Python UDF.
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "sample_mixture",
        [
            ("tiny weight/take tables broadcast", r"BroadcastHashJoin|BroadcastExchange"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "text_pii_redact",
        [
            ("map-only: no Exchange anywhere in the plan", ("absent", ["Exchange"])),
            ("scan reads only the two needed customer columns",
             r"ReadSchema: struct<c_custkey:bigint,c_name:string"),
        ],
    ),
    (
        "ts_gapfill_interpolate",
        [
            # Both neighbor windows and the grid<-obs join must reuse
            # one hash partitioning on the series key — a second
            # Exchange would mean the windows re-shuffled.
            ("grid join + neighbor windows share one shuffle",
             ("count<=", "Exchange hashpartitioning(event_type", 1)),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("partial aggregation before shuffle", r"partial"),
        ],
    ),
    (
        "a_winsorize_clip",
        [
            ("per-group bounds broadcast back onto the fact side",
             r"BroadcastHashJoin|BroadcastExchange"),
            ("scan prunes to the 3 needed order columns",
             r"ReadSchema: struct<o_orderkey:bigint,o_totalprice:double,o_orderpriority:string"),
        ],
    ),
    (
        "sample_importance",
        [
            ("256-row bucket table broadcast onto the token stream",
             r"BroadcastHashJoin|BroadcastExchange"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "s_zorder_layout",
        [
            # Both range predicates must reach the clustered scan —
            # min-max stats skipping needs them AT the reader.
            ("both range predicates pushed to the z-clustered scan",
             r"PushedFilters: \[.*o_custkey.*o_orderdate|PushedFilters: \[.*o_orderdate.*o_custkey"),
            ("scan prunes to the needed columns",
             r"ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double,o_orderdate:timestamp"),
        ],
    ),
    (
        "pipeline_end_to_end",
        [
            # The composed DAG must reduce the corpus in ONE pass — a
            # per-stage composition re-scans documents once per output
            # column (measured: 7 scans before the restructure). A
            # formatted plan prints each node twice (tree + detail), so
            # one physical scan = 2 occurrences.
            ("single corpus scan feeds the whole DAG",
             ("count<=", "Scan parquet  (", 2)),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "text_lm_perplexity",
        [
            ("count tables partial-aggregated before shuffle", r"partial"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            ("no cartesian/nested-loop beyond the 1-row vocab broadcast",
             ("absent", ["CartesianProduct"])),
        ],
    ),
    # ---- round-5 additions: the round-4 shapes previously outside the
    # trusted gate (VERDICT r4 "What's missing" #2), plus the real-codec
    # multimodal paths.
    (
        ("dq_constraint_report/conditional_counts", _build_dq_counts),
        [
            # The whole N-constraint suite must ride ONE scan + ONE
            # exchange (partial->final agg); a formatted plan prints
            # each node twice (tree + detail).
            ("single-scan suite: one Exchange total", ("count<=", "Exchange", 2)),
            ("map-side partial aggregation", r"partial"),
            ("scan prunes to the 4 checked columns",
             r"ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_discount:double,l_returnflag:string>"),
        ],
    ),
    (
        ("s_targeted_delete/locate", _build_delete_locate),
        [
            ("file targeting is a LEFT-SEMI join", r"LeftSemi"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct"])),
        ],
    ),
    (
        ("s_targeted_delete/rewrite", _build_delete_rewrite),
        [
            ("rewrite is a LEFT-ANTI join over the affected files only", r"LeftAnti"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct"])),
        ],
    ),
    (
        "tpch_q2_cheapest_supplier",
        [
            # Docstring claims, enforced: both fact shuffles on partkey…
            ("fact shuffles are on the part key", r"hashpartitioning\(l_partkey"),
            ("no shuffle on any non-part key",
             ("absent", ["hashpartitioning(l_suppkey", "hashpartitioning(l_extendedprice"])),
            # …and the part dimension broadcast onto the result.
            ("part dimension broadcast", r"BroadcastHashJoin"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        ("stream_record_high/batch_twin", _build_record_high_batch),
        [
            # Both analytic windows (prev running max + record index)
            # must share ONE user_id shuffle…
            ("both windows share one user_id exchange",
             ("count<=", "Exchange hashpartitioning(user_id", 2)),
            # …and use ROWS frames (a RANGE frame over ts would merge
            # same-timestamp peers — the r3 sessionize bug class).
            ("analytic windows use ROWS frames", r"RowFrame"),
            ("no RANGE frame anywhere", ("absent", ["RangeFrame"])),
        ],
    ),
    (
        "ml_group_trend",
        [
            # JVM-side aggregate FIRST, grouped-map model fit second.
            ("daily volumes partial-aggregated before the model fit", r"partial"),
            ("model fit is grouped-map Arrow (FlatMapGroupsInPandas)",
             r"FlatMapGroupsInPandas"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        ("g17_ktruss/round_incidence", _build_ktruss_round),
        [
            # The peel's triangle plan (triangle_list): the wedge
            # equi-join plus the closing-edge LEFT-SEMI probe, never a
            # product.
            ("closing edge probed via LEFT-SEMI join", r"LeftSemi"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        ("g17_ktruss/bloom_close", _build_bloom_close),
        [
            # The production close AFTER the survivor barrier
            # (round 15): the probe stage is compiled behind a lazy
            # localCheckpoint, so this plan is ONLY the exactness
            # semi join over the two pinned sides — which is exactly
            # the guarantee: the semi's exchange can carry nothing
            # but the pruned survivors.
            ("exact semi join settles false positives", r"LeftSemi"),
            ("semi is a shuffled hash join (no sort)",
             ("count>=", "ShuffledHashJoin", 2)),
            # NOTE: the eager-checkpointed closing side
            # also scans an ExistingRDD, so this existence check alone
            # cannot detect removal of the survivor barrier — the
            # xxhash64-absence gate is the load-bearing one.
            ("survivor side enters through the barrier",
             r"Scan ExistingRDD"),
            ("probe machinery lives BEHIND the barrier (no hash"
             " exprs in the exactness plan)",
             ("absent", ["xxhash64"])),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        ("g17_ktruss/bloom_probe_stage", _build_bloom_probe_stage),
        [
            # The probe stage the barrier protects, explained
            # PRE-barrier via triangle_list(probe_plan_only=True).
            # Load-bearing: the exactness LeftSemi must be ABSENT
            # here — PushDownLeftSemiAntiJoin used to push it below
            # the word join, running the bit test after the semi's
            # exchange and shipping the FULL wedge set (410.9M rows
            # at sf1; ENOSPC at sf10).
            ("the exactness semi has NOT been pushed into the probe",
             ("absent", ["LeftSemi"])),
            ("word probe is ONE broadcast join",
             ("count>=", "BroadcastHashJoin", 2)),
            ("salted in-word bit draws fused JVM-side",
             r"shiftleft\(1, cast\(pmod\(xxhash64\(2"),
            ("fused all-bits test", r"&.*_bm.*= _bm|\(bv.* & .*_bm"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "mm_image_resize",
        [
            # decode → numpy resample → re-encode → re-parse: chained
            # Arrow stages with ONE pre-synthesis slim-row spread
            # (r16); the binary payload itself never shuffles.
            ("only the slim pre-synth rows are ever exchanged",
             r"Exchange\nInput \[2\]: \[media_id#\d+, text#\d+\]\n"
             r"Arguments: RoundRobinPartitioning"),
            ("no second exchange (payload never shuffles)",
             ("count<=", "Exchange (", 1)),
            ("scan prunes to (doc_id, text)",
             r"ReadSchema: struct<doc_id:bigint,text:string"),
        ],
    ),
    (
        "mm_audio_features",
        [
            ("only the slim pre-synth rows are ever exchanged",
             r"Exchange\nInput \[2\]: \[media_id#\d+, text#\d+\]\n"
             r"Arguments: RoundRobinPartitioning"),
            ("no second exchange (payload never shuffles)",
             ("count<=", "Exchange (", 1)),
            ("scan prunes to (doc_id, text)",
             r"ReadSchema: struct<doc_id:bigint,text:string"),
        ],
    ),
    # ---- round-5 operator shapes.
    (
        "text_html_strip",
        [
            ("regexp chain is map-only (no Exchange)", ("absent", ["Exchange"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            ("whole-stage codegen active", r"codegen id : \d"),
        ],
    ),
    (
        "dedup_substring_coverage",
        [
            ("gram frequency partial-aggregated before shuffle", r"partial"),
            # r16: the shared-gram predicate is min(doc) != max(doc) —
            # ONE map-side-combinable gram exchange; count_distinct
            # would re-introduce a second full (gram, doc) dedup
            # shuffle of the gram stream.
            ("one-shuffle shared-gram predicate (no distinct-count)",
             ("absent", ["count(distinct", "partial_count(distinct"])),
            ("no cartesian/nested-loop join (linear in occurrences)",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "s_orc_roundtrip",
        [
            ("aggregate partial before shuffle", r"partial"),
            ("ORC scan prunes to the 3 needed columns",
             r"ReadSchema: struct<o_orderkey:bigint,o_orderpriority:string,o_totalprice:double"),
        ],
    ),
    (
        "j_null_safe_join",
        [
            # <=> must plan as an equi hash/merge join on the
            # coalesce-wrapped key — never a nested loop.
            ("null-safe equality is an equi join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("partial aggregation before the join", r"partial"),
        ],
    ),
    (
        "w_ntile_cume_dist",
        [
            ("both windows share one source exchange",
             ("count<=", "Exchange hashpartitioning(source", 2)),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    # ---- round-6 additions: the round-5 iterative/ANN shapes that had
    # no gate (VERDICT r5 next-round #4) plus the new promotions.
    (
        ("g18_weighted_sssp/round_relax", _build_sssp_round),
        [
            ("relaxation min-aggregate is partial (map-side combine)", r"partial"),
            ("dist merge is a single FullOuter equi join", r"FullOuter"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    # ---- round-10 additions: the rewritten SCC propagation round and
    # the two-level k-means refine stage.
    (
        ("g14_scc/propagation_round", _build_scc_propagation_round),
        [
            ("label fold is a partial min aggregate (map-side combine)", r"partial"),
            ("frontier rides an equi join (no cartesian/nested-loop)",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("no Python eval in the propagation round",
             ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        ("kmeans_two_level/refine_stage", _build_two_level_refine),
        [
            ("refine runs as grouped-map pandas (one cell shuffle)",
             r"FlatMapGroupsInPandas"),
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "g19_clustering_coeff",
        [
            ("closing edge probed via LEFT-SEMI join", r"LeftSemi"),
            ("degree + triangle aggregates partial", r"partial"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        ("stream_session_window_native/batch_twin", _build_session_window_batch),
        [
            ("builtin session-window aggregate present", r"(?i)session.?window"),
            ("single user_id exchange feeds the session merge",
             ("count<=", "Exchange hashpartitioning(user_id", 1)),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        ("dedup_semantic/cluster_pairs", _build_semantic_dedup_pairs),
        [
            # SemDeDup's whole point: candidates are cluster-bucketed —
            # since r16 one applyInPandas group per cluster (vectors
            # cross Arrow once), never an all-pairs product or a
            # pair-row self-join.
            ("pair pass is one per-cluster Python group",
             r"FlatMapGroupsInPandas"),
            ("groups ride a single cluster exchange",
             ("count<=", "Exchange hashpartitioning(cluster", 1)),
            ("no pair-row join left in the plan",
             ("absent", ["SortMergeJoin", "ShuffledHashJoin",
                         "BroadcastHashJoin"])),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "ann_pq_sq_topk",
        [
            # The round-6 single-join ADC contract: NO per-query union
            # branches, one broadcast LUT equi-join, partial decimal
            # sums before the (qid, cid) exchange.
            ("no per-query union branches", ("absent", ["Union"])),
            ("LUT joined via BroadcastHashJoin", r"BroadcastHashJoin"),
            ("ADC term sums partial-aggregated", r"partial"),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "fingerprint_winnowing_portable",
        [
            # Gram count + window minimum must ride ONE doc-id shuffle
            # (two analytic windows, same partition key), and the md5
            # gram hashing is pure column expressions.
            ("both windows share one doc exchange",
             ("count<=", "Exchange hashpartitioning(doc", 2)),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            ("analytic windows use ROWS frames", r"RowFrame"),
        ],
    ),
    (
        "dedup_incremental",
        [
            # Cross-corpus inverted-index join: every join is equi
            # (hash / shingle / doc id); the stop-list rides broadcast
            # anti-joins; nothing all-pairs.
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("shingle/size aggregates partial", r"partial"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "s_variant_json",
        [
            # parse_json/variant_get are JVM-native expressions: the
            # whole parse+extract pipeline must stay in the scan stage
            # (one exchange total, for the final aggregate) with no
            # Python eval anywhere.
            ("VARIANT parse+extract stays JVM-side",
             ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            # Two physical exchanges (formatted plans print each node
            # twice): the count_distinct two-phase agg's (etype, uid)
            # shuffle plus the final etype aggregate — the standard
            # distinct-agg plan, nothing per-row or per-path.
            ("two exchanges total (distinct agg + final agg)",
             ("count<=", "Exchange", 4)),
            ("extraction aggregate partial before shuffle", r"partial"),
        ],
    ),
    (
        "sample_token_budget",
        [
            # Per-source token totals combine map-side; the plan's only
            # joins are the two 1-row planning aggregates broadcast
            # back (the tpch_q22 scalar-subquery class) onto an
            # n_groups-row frame — nothing larger ever joins.
            ("per-source token totals partial-aggregated", r"partial"),
            ("planning aggregates broadcast (1-row)", r"BroadcastExchange"),
            ("scan prunes to (text, source)",
             r"ReadSchema: struct<text:string,source:string|ReadSchema: struct<source:string,text:string"),
            ("no cartesian product", ("absent", ["CartesianProduct"])),
        ],
    ),
    # ---- round-8 additions: the oracle-promotion twins must keep the
    # scale shapes of the production paths they pin.
    (
        "dedup_minhash_clones",
        [
            # Threshold-1.0 or not, the pipeline must stay banded: the
            # candidate and verify stages are equi joins on
            # (band, bucket) / (doc, shingle), never all-pairs, and
            # signatures/banding are pure column expressions.
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("signature/size aggregates partial", r"partial"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "dedup_simhash_clones",
        [
            # 64-bit vote/bit-assembly is pure column expressions; the
            # pigeonhole candidate join is equi on (chunk idx, value).
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("bit-vote aggregates partial", r"partial"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
        ],
    ),
    (
        "ann_lsh_exact_recall",
        [
            # Full recall must come from the multiprobe BUCKET join
            # (equi on table/bucket), not from degenerating into an
            # all-pairs product; sketching is the one sanctioned
            # Arrow-batched stage.
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("per-query rank window present", r"row_number"),
        ],
    ),
    (
        "ann_ivf_full_probe",
        [
            # Probing all lists still rides the list_id equi join over
            # the materialized inverted lists — never a cross join.
            ("no cartesian/nested-loop join",
             ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
            ("inverted lists read from the materialized RDD",
             r"ExistingRDD|LogicalRDD"),
        ],
    ),
    (
        "sketch_bounds",
        [
            # Sketch + exact aggregates combine map-side; the per-type
            # estimates ride back on a broadcast; everything JVM-side.
            ("sketch/exact aggregates partial", r"partial"),
            ("estimates broadcast back to the rank scan", r"BroadcastExchange"),
            ("no Python eval in plan", ("absent", ["BatchEvalPython", "ArrowEvalPython"])),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
    (
        "s_quarantine_read",
        [
            # Both splits must read the SAME materialized parse (eager
            # localCheckpoint -> LogicalRDD), never re-parse the JSON
            # (SPARK-21610 workaround doubles as a single-parse
            # guarantee).
            ("good and bad splits read the checkpointed parse",
             r"ExistingRDD|LogicalRDD"),
            ("the JSON source is never re-scanned downstream",
             ("absent", ["Scan json"])),
            ("no cartesian/nested-loop join", ("absent", ["CartesianProduct", "BroadcastNestedLoop"])),
        ],
    ),
]


def main() -> int:
    import time

    from panditya_spark.plans import QUERIES
    from panditya_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    t_start = time.monotonic()
    spark = get_spark("explain-audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0
    n_gates = 0
    for qname, assertions in CHECKS:
        if isinstance(qname, tuple):
            qname, builder = qname
            df = builder(spark, sf_dir)
        else:
            df = QUERIES[qname](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        for desc, pattern in assertions:
            if isinstance(pattern, tuple):
                # ("absent", tokens): check absence DIRECTLY. The old
                # ^(?!.*token) form under re.S|re.M was vacuous — any
                # line start after the last occurrence of the token
                # satisfied the lookahead (ADVICE r3).
                # ("count<=", token, n): at most n occurrences — the
                # shuffle-reuse gates (one Exchange shared by join +
                # windows) need a count, not a boolean.
                kind, tokens, *rest = pattern
                if kind == "absent":
                    ok = not any(t in plan for t in tokens)
                elif kind == "count<=":
                    ok = plan.count(tokens) <= rest[0]
                elif kind == "count>=":
                    ok = plan.count(tokens) >= rest[0]
                else:
                    raise ValueError(kind)
            else:
                ok = re.search(pattern, plan, re.S | re.M) is not None
            n_gates += 1
            print(f"{'PASS' if ok else 'FAIL'} {qname}: {desc}")
            if not ok:
                failures += 1
                print("---- plan ----")
                print(plan[:4000])
                print("--------------")
    # Runtime is part of the audit's own contract (one shared session
    # across all gates; budget 300s — only plans compile, nothing
    # heavy executes, so sustained growth past the budget means a gate
    # builder started doing real work).
    wall = time.monotonic() - t_start
    print(f"\n{failures} plan-shape failures over {n_gates} gates")
    print(f"audit wall-clock: {wall:.1f}s (budget 300s)"
          + ("  WARN: over budget" if wall > 300 else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
