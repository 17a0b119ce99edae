"""Combo correctness queries: the driver's gate verifies only the
first 50 registered queries, so the trivially-cheap projection-family
queries would otherwise lose their per-round CORRECTNESS row to
higher-risk operators. ``p_combo_a``/``p_combo_b``/``p_combo_c``
/``p_combo_d`` (split by a deterministic runtime-balanced greedy
partition since round 6; the fourth slot dealt in round 11 when the
three-slot family hit 107 members against a 135 cap — VERDICT r10 #6)
fold each member query's full result into (member, row-string) rows —
four window slots buy an exact value-level check of all members every
round, with no single row covering more than 45 queries.

Cross-engine stringification rules (the row strings must be
byte-identical in Spark and DuckDB):
- integers / strings cast directly;
- doubles go through DECIMAL(18,2) first (both engines then print
  fixed 2-decimal strings; the member queries only carry 2-decimal
  monetary values and integral quantities, so the cast is lossless);
- NULL becomes the sentinel '∅' before concat_ws (both engines would
  otherwise SKIP null args, silently merging adjacent columns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.plans.registry import ORACLES, QUERIES, register

# member -> ordered (column, kind) with kind in {i: integral, s: string,
# d: double (scale-2 lossless), f4: double carrying a scale-4 decimal —
# exact double→DECIMAL(18,4) round-trip holds while |v|·10⁴ < 2⁵³,
# far beyond any sf0.01 aggregate}. The Spark side derives casts from
# the live schema and asserts it matches this table, so the generated
# oracle can't drift.
_MEMBERS: dict[str, list[tuple[str, str]]] = {
    "p1_scan_project_filter": [
        ("l_orderkey", "i"), ("l_partkey", "i"), ("l_quantity", "d"),
    ],
    "p3_coalesce_fill": [("c_custkey", "i"), ("display_name", "s")],
    "p4_regex_clean": [("p_partkey", "i"), ("clean_name", "s")],
    "p8_split_explode": [("word", "s"), ("n", "i")],
    "p5_7_drop_rename_fill": [
        ("supplier_id", "i"), ("supplier_name", "s"), ("balance", "d"),
    ],
    "p9_11_12_guard_validate_lookup": [
        ("id", "s"), ("highest_year", "i"), ("lowest_year", "i"),
    ],
    "p10_13_rowskip_type_filter": [
        ("doc_id", "i"), ("lang", "s"), ("n_chars", "i"),
    ],
    "f2_entity_labels": [("c_custkey", "i"), ("label", "s")],
    "a2_conditional_count2": [
        ("priority", "s"), ("n_linked", "i"), ("n_linked_missing", "i"),
    ],
    # Round 2: stable r01-green aggregates rotated out of the window to
    # free slots for never-driver-verified oracle queries; their full
    # values stay checked every round through this slot.
    "a3_set_collect_sorted": [("l_orderkey", "i"), ("flags", "s")],
    "a4_count_distinct": [("nationkey", "i"), ("n_active", "i")],
    "a6_truncated_ratio": [("nationkey", "i"), ("coverage_pct", "d")],
    "a7_having_filter": [("custkey", "i"), ("n_orders", "i")],
    "a9_group_count": [("status", "s"), ("n", "i")],
    "a12_bucket_histogram": [
        ("category", "s"), ("n_groups", "i"), ("n_rows", "i"),
    ],
    "t1_t2_union_dedupe": [("node", "s")],
    "t4_unique_to_group": [("nationkey", "i"), ("n_exclusive_parts", "i")],
    # Round 2 (cont.): r01+r02-green joins/windows rotated out to make
    # room for the TPC-H, sampling, and dedup-cluster queries. w1's
    # revenue is a sum of DECIMAL(18,2) casts → scale-2 lossless.
    "j1_adjacency_list": [("custkey", "i"), ("order_ids", "s")],
    "j2_inverse_adjacency": [
        ("partkey", "i"), ("order_ids", "s"), ("n_orders", "i"),
    ],
    "a1_conditional_count": [
        ("nation", "s"), ("n_customers", "i"), ("n_positive", "i"),
    ],
    "w1_top_n": [("custkey", "i"), ("revenue", "d")],
    "t3_overlap_partition": [("status", "s"), ("n_parts", "i")],
    # Serving-core trio rotated out for the repetition/contamination/PII
    # queries. j9's coverage is floor(x*10)/10 → 1-decimal lossless.
    "a11_edge_pattern_count": [("relationship", "s"), ("n_edges", "i")],
    "j8_expand_to_authors": [("author_key", "i")],
    "j9_summary_counts": [
        ("collection", "s"), ("works", "i"), ("total_links", "i"),
        ("etext_coverage", "d"),
    ],
    # Rotated out for the chunking/packing queries.
    "a5_formatted_freq_agg": [("custkey", "i"), ("freq_label", "s")],
    "f1_f2_entity_labels": [("id", "s"), ("label", "s")],
    # Rotated out for the pivot/unpivot/SCD2 queries. o1's rank column
    # makes the collation ORDER itself value-checked here.
    "o1_collation_sort": [("p_name", "s"), ("rank", "i")],
    "p14_16_map_ops": [("work_id", "i"), ("collection", "s"), ("n", "i")],
    "dedup_exact": [("content_hash", "s"), ("keeper_id", "i"), ("n_copies", "i")],
    # Rotated out for triangle counting (fingerprint is 500 flat rows;
    # g2_g11's 33k-row edge list would double this slot's cost).
    "dedup_fingerprint": [("fp", "s"), ("keeper_id", "i"), ("n_copies", "i")],
    # Rotated out for the percentile-rank selection query.
    "w2_first_match_backfill": [
        ("l_orderkey", "i"), ("l_linenumber", "i"), ("l_returnflag", "s"),
    ],
    # Round 3: rotated out for the real stateful sessionize micro-batch.
    "f7_link_labels": [("o_orderkey", "i"), ("label", "s")],
    # Round 3: chunk-level (C4-style) dedup and the composed quality
    # gate — int/string columns only (the gate's float criteria are
    # value-checked at full precision by text_repetition_filter /
    # text_quality; only the composition's verdict folds here).
    "dedup_chunk_level": [
        ("chunk_hash", "s"), ("n_docs", "i"), ("n_copies", "i"),
        ("keeper_doc", "i"),
    ],
    "pipeline_quality_gate": [("doc_id", "i"), ("n_words", "i"), ("keep", "i")],
    # Round 3: the spark.sql surface (views + SQL-authored window
    # query); revenue is a scale-2 decimal sum, lossless at scale 2.
    "sql_top_customer_per_nation": [
        ("n_name", "s"), ("c_custkey", "i"), ("revenue", "d"),
    ],
    # Round 3: TPC-H Q5 (6-way broadcast-chain join) and Q6 (pushdown
    # scan-agg) — revenue is a scale-4 decimal computed exactly in both
    # engines, double only at the surface.
    "tpch_q5_local_supplier": [("n_name", "s"), ("revenue", "f4")],
    "tpch_q6_forecast": [("revenue", "f4"), ("n_rows", "i")],
    # Round 3: sink round-trips (S6/S7/S9) — write through the real
    # sink, read the artifact back, value-check the parsed rows. These
    # were the last driver-"untested" surfaces in SURVEY §2.1.
    "s6_csv_roundtrip": [("n_nationkey", "s"), ("n_name", "s")],
    "s7_entity_map_roundtrip": [
        ("id", "s"), ("name", "s"), ("aka", "s"), ("highest_year", "i"),
    ],
    "s9_gexf_roundtrip": [
        ("node", "s"), ("label", "s"), ("r", "i"), ("g", "i"), ("b", "i"),
        ("n_out", "i"),
    ],
    # Round 4: the sliding batch twin rotated here — its window slot now
    # runs the REAL sliding streaming job against the same oracle. The
    # window starts are whole hours, so the timestamp→string cast is
    # fraction-free and byte-identical in both engines; events.value is
    # exactly 2-decimal at every sf (verified across sf0.001-0.1), so
    # the decimal(18,6) sum surfaced as double is an identity at scale
    # 4 — the f4 cast rounds nothing in either engine.
    "stream_sliding_daily": [
        ("window_start", "s"), ("n_events", "i"), ("total_value", "f4"),
    ],
    # Round 4: the join shapes the first TPC-H picks didn't cover —
    # left-semi (Q4 EXISTS), left-anti + countDistinct (Q16 NOT IN),
    # join-on-HAVING-aggregate (Q18), scalar subquery + anti (Q22) —
    # and the CDC merge-apply. total_qty/totacctbal/bal are sums of
    # 2-decimal source values → scale-2 lossless.
    "tpch_q4_order_priority": [("o_orderpriority", "s"), ("order_count", "i")],
    "tpch_q16_supplier_counts": [
        ("p_brand", "s"), ("p_type", "s"), ("supplier_cnt", "i"),
    ],
    "tpch_q22_dormant_balance": [
        ("n_name", "s"), ("numcust", "i"), ("totacctbal", "d"),
    ],
    # Round 4 (cont.): partitioned-layout round-trip (date partition
    # values surface as fraction-free strings) and the checkpointed
    # parquet file-sink streaming run (same lossless casts as its
    # window-slot twins stream_tumbling_hourly/stream_sliding_daily).
    "s_partitioned_layout": [
        ("event_date", "s"), ("event_type", "s"), ("n_events", "i"),
        ("total_value", "d"),
    ],
    "sample_mixture": [("doc_id", "i"), ("source", "s")],
    # Round 4 rotation: stable pure-int/string queries moved out of the
    # window to free slots for the round-4 flagship shapes (file-sink
    # streaming run, Q18, DPP, CDC merge, bloom join), which now carry
    # their own driver rows instead of combo membership.
    # (a15_combined_histogram and g8_pagerank_topk promoted OUT of the
    # combo to their own window slots in round 8 — each had grown to
    # dominate its slot's runtime, VERDICT r7 #7.)
    "text_token_stats": [
        ("source", "s"), ("n_docs", "i"), ("total_tokens", "i"),
    ],
    "text_langid": [
        ("doc_id", "i"), ("lang", "s"), ("predicted_lang", "s"),
    ],
    "a_pivot_daily": [
        ("day", "s"), ("n_click", "i"), ("n_error", "i"),
        ("n_purchase", "i"), ("n_signup", "i"), ("n_view", "i"),
    ],
    "a_unpivot_metrics": [("doc_id", "i"), ("metric", "s"), ("v", "i")],
    # Round 4: entity resolution (q-gram blocking + levenshtein).
    "er_fuzzy_match": [("dkey", "i"), ("matched_key", "i"), ("dist", "i")],
    # (g14_scc promoted OUT of the combo to its own window slot in
    # round 5 — the SCC decomposition now carries a direct driver row.)
    # Round 4: schema-evolution read (v1 rows surface NULL o_channel —
    # the '∅' sentinel makes the null itself value-checked).
    "s_schema_evolution": [
        ("o_orderkey", "i"), ("o_totalprice", "d"), ("o_channel", "s"),
    ],
    # The streaming foreachBatch MERGE must compose to the one-shot
    # batch merge on key survival + updated columns (non-update columns
    # of delete-then-reinserted keys legitimately differ — see the
    # query docstring — so the checked projection is (key, bal)).
    "stream_upsert_sink": [("key", "i"), ("bal", "d")],
    # Round 4 (cont.): unicode normalization (pure strings; the other
    # four new operators — gap-fill, winsorize, importance selection,
    # z-order — hold their own window slots this round).
    "text_normalize": [("doc_id", "i"), ("norm_text", "s")],
    # Round-4 rotation (cont.): the round-2 partitioning/rollup shapes
    # moved here from the window — green since round 3. All columns are
    # ints, strings (NULL rollup levels hit the ∅ sentinel), or sums of
    # 2-decimal values (scale-2/4 lossless).
    "j_bucketed_join": [
        ("c_mktsegment", "s"), ("n_orders", "i"), ("total_price", "d"),
    ],
    "j_range_join": [("o_orderkey", "i"), ("n_shipments", "i")],
    "skew_key_profile": [("key", "i"), ("cnt", "i")],
    "a_rollup_day_type": [
        ("day", "s"), ("event_type", "s"), ("gid", "i"), ("n_events", "i"),
        ("total_value", "f4"),
    ],
    # Round 4 (cont.): Deequ-style constraint suite — names + integer
    # violation counts.
    "dq_constraint_report": [("constraint_name", "s"), ("n_violations", "i")],
    # Round 4 (cont.): the second stateful streaming operator — emitted
    # timestamps surface as epoch-micros BIGINTs (no timestamp-string
    # formatting divergence), values are raw 2-decimal doubles.
    "stream_record_high": [
        ("user_id", "i"), ("ts_us", "i"), ("value", "d"), ("record_seq", "i"),
    ],
    # Round 4 (cont.): targeted-delete round-trip — post-delete
    # aggregate, 2-decimal sums.
    "s_targeted_delete": [
        ("event_type", "s"), ("n_events", "i"), ("total_value", "d"),
    ],
    # Round 4 (cont.): the composed gate→dedup→chunk pipeline — pure
    # integer per-source counts.
    "pipeline_end_to_end": [
        ("source", "s"), ("n_kept", "i"), ("n_keepers", "i"),
        ("n_chunks", "i"), ("total_chunk_words", "i"),
    ],
    # Round 4 (cont.): the Q2-shaped argmin — prices are compared, not
    # combined, so scale-2 lossless.
    "tpch_q2_cheapest_supplier": [
        ("p_partkey", "i"), ("p_name", "s"), ("supp_key", "i"),
        ("best_price", "d"),
    ],
    # Round-5 rotation: four stable window queries moved here to free
    # slots for the promotions (mm_image_resize, g15_kcore, g17_ktruss,
    # g14_scc). All pure int/string or scale-2-lossless decimal sums;
    # every one green since at least round 4.
    "mm_frame_sample": [("media_id", "s"), ("frame_idx", "i")],
    "j5_broadcast_join_agg": [
        ("brand", "s"), ("n_items", "i"), ("revenue", "d"),
    ],
    "tpch_q18_large_orders": [
        ("c_custkey", "i"), ("o_orderkey", "i"), ("total_qty", "d"),
    ],
    "sample_stratified": [
        ("lang", "s"), ("source", "s"), ("doc_id", "i"), ("rn", "i"),
        ("in_hash_sample", "i"),
    ],
    # Round 5: ORC sink+source round-trip — scale-2 lossless sums.
    "s_orc_roundtrip": [
        ("o_orderpriority", "s"), ("n_orders", "i"), ("total_price", "d"),
    ],
    # Round 5: HTML/boilerplate extraction — strings + tag counts.
    "text_html_strip": [
        ("doc_id", "i"), ("clean_text", "s"), ("n_tags", "i"),
    ],
    # Round-5 rotation (late): two stable round-4 queries moved here
    # from the window to give the substring-coverage and builtin
    # session-window flagships direct driver rows.
    "s_zorder_layout": [
        ("o_orderkey", "i"), ("o_custkey", "i"), ("o_totalprice", "d"),
    ],
    "sample_importance": [
        ("doc_id", "i"), ("tgt_evidence", "i"), ("raw_evidence", "i"),
        ("keep", "i"),
    ],
    # (pipeline_training_shards and g18_weighted_sssp promoted OUT of
    # the combo to their own window slots in round 6 — the two heaviest
    # members now carry direct driver rows, VERDICT r5 next-round #1.)
    # Round 13: g17_ktruss rotated here from the window (green since
    # round 2, pure int columns) — its direct row now carries the full
    # truss decomposition g17_trussness, whose k=10 slice equals this
    # query's edge set.
    "g17_ktruss": [("a", "i"), ("b", "i"), ("support", "i")],
    # Round 5: null-safe join — the NULL key row exercises the ∅
    # sentinel; balances are scale-2 lossless sums.
    "j_null_safe_join": [
        ("nk", "i"), ("n_a", "i"), ("n_b", "i"), ("bal_a", "d"),
    ],
    # Round 5: quarantine ingest — the NULL bad-side sum hits the ∅
    # sentinel, so the null itself is value-checked.
    "s_quarantine_read": [
        ("bucket", "s"), ("n_rows", "i"), ("total_price", "d"),
    ],
    # Round 5: CUBE cross-classification — same lossless casts as its
    # ROLLUP sibling (NULL grouping levels hit the ∅ sentinel).
    "a_cube_day_type": [
        ("day", "s"), ("event_type", "s"), ("gid", "i"), ("n_events", "i"),
        ("total_value", "f4"),
    ],
    # Round 5: stream-static enrichment join — ints + scale-4-lossless
    # decimal sums (same class as the tumbling twins).
    "stream_static_dim_join": [
        ("nationkey", "i"), ("event_type", "s"), ("n_events", "i"),
        ("total_value", "f4"),
    ],
    # Round 5: local clustering-coefficient components — exact ints.
    "g19_clustering_coeff": [
        ("node", "i"), ("n_triangles", "i"), ("n_wedges", "i"),
    ],
    # Round 5: rolling z-score anomaly flags — epoch-micros BIGINTs +
    # raw 2-decimal values + integer flags.
    "ts_rolling_zscore": [
        ("event_type", "s"), ("ts_us", "i"), ("value", "d"),
        ("baseline_n", "i"), ("is_anomaly", "i"),
    ],
    # Round 5: distribution windows — all integers (cume_dist is
    # surfaced as the exact at-or-below row count).
    "w_ntile_cume_dist": [
        ("source", "s"), ("doc_id", "i"), ("quartile", "i"), ("cd_n", "i"),
    ],
    # Round-6 rotation: seven stable window queries (green since round
    # 2/3, pure int/string columns — no float cast anywhere) moved here
    # to free direct rows for the round-6 promotions (PQ-SQ ANN, HITS
    # top-k, PPR top-k, semantic-dedup planted check, weighted SSSP,
    # training shards) and the second combo slot.
    "text_chunking": [
        ("doc_id", "i"), ("chunk_idx", "i"), ("n_words", "i"),
        ("chunk_text", "s"),
    ],
    "seq_packing": [
        ("source", "s"), ("doc_id", "i"), ("n_words", "i"),
        ("start_offset", "i"), ("bin_first", "i"), ("bin_last", "i"),
    ],
    "dedup_cluster_canonical": [
        ("doc_id", "i"), ("canonical_id", "i"), ("keep", "i"),
    ],
    "text_heavy_hitters": [("token", "s"), ("cnt", "i")],
    "text_pii_redact": [
        ("c_custkey", "i"), ("n_emails", "i"), ("n_urls", "i"),
        ("n_phones", "i"), ("redacted", "s"),
    ],
    "text_contamination": [("doc", "i"), ("bench", "i"), ("n_shared", "i")],
    "g13_triangle_counts": [("node", "i"), ("n_triangles", "i")],
    # Round 6: token-budget mixture plan — pure BIGINT DIV arithmetic.
    "sample_token_budget": [
        ("source", "s"), ("avail_tokens", "i"), ("weight", "i"),
        ("cap_tokens", "i"), ("alloc_tokens", "i"), ("epochs_micro", "i"),
        ("unallocated", "i"),
    ],
    # Round 6: VARIANT schema-on-read — integer-leaf JSON, exact.
    "s_variant_json": [
        ("etype", "s"), ("n_events", "i"), ("total_cents", "i"),
        ("n_users", "i"), ("seq1_sum", "i"),
    ],
    # Round 6: incremental snapshot dedup — integer flags.
    "dedup_incremental": [
        ("doc_id", "i"), ("dup_exact", "i"), ("dup_near", "i"),
    ],
    # Round 6 (late rotation): a14 moved from the window to free the
    # third combo slot — its avg is exactly 10.0 on the synthetic
    # corpus (every customer has 10 orders), a lossless f4 cast.
    "a14_branching_factor": [("avg_branching", "f4")],
    # Round 6: portable-hash winnowing — exact integer fingerprints.
    "fingerprint_winnowing_portable": [
        ("doc", "i"), ("pos", "i"), ("fp", "i"),
    ],
    # Round-8 rotation: three stable window queries (green since r1/r4/
    # r5; pure int/string columns, or the same lossless timestamp/f4
    # casts as their long-green combo siblings) moved here to free
    # direct rows for the round-8 promotions.
    "g15_kcore": [("node", "i"), ("degree", "i")],
    "s_dpp_join": [("event_date", "s"), ("n_events", "i"), ("n_users", "i")],
    "stream_tumbling_hourly": [
        ("window_start", "s"), ("event_type", "s"), ("n_events", "i"),
        ("total_value", "f4"),
    ],
    # Round 8: the oracle-promotion program (VERDICT r7 #3/#4) — the
    # planted-clone / exactness-identity driver rows for the hash-
    # seeded dedup/ANN family plus the sketch error-bound audit.
    "dedup_minhash_clones": [("doc1", "i"), ("doc2", "i"), ("jaccard", "d")],
    "dedup_simhash_clones": [("doc_id", "i"), ("found", "i"), ("hamming", "i")],
    "ann_lsh_exact_recall": [
        ("qid", "i"), ("neighbor_id", "i"), ("sim", "f4"), ("rank", "i"),
    ],
    "ann_ivf_full_probe": [
        ("qid", "i"), ("neighbor_id", "i"), ("sim", "f4"), ("rank", "i"),
    ],
    "sketch_bounds": [
        ("event_type", "s"), ("exact_users", "i"), ("n_events", "i"),
        ("hll_ok", "i"), ("p50_ok", "i"), ("p95_ok", "i"),
    ],
    # Round 8 (cont.): agreement/invariant flag twins for the float
    # rows-only operators — grouped-map OLS vs the builtin regression
    # aggregates, and the decayed score's weighted-mean range bound.
    "ml_trend_check": [
        ("event_type", "s"), ("n_days", "i"), ("slope_ok", "i"),
        ("intercept_ok", "i"),
    ],
    "ts_decay_range": [
        ("user_id", "i"), ("n_events", "i"), ("in_range", "i"),
    ],
    # Round 8 (cont.): the embedding histogram's exact integer bins.
    "mm_image_embedding_counts": [
        ("media_id", "s"), ("pos", "i"), ("cnt", "i"),
    ],
    # Round 8 (cont.): LPA on the planted blocks (the Louvain row's
    # sibling — provable recovery from LPA's own tie-break rules).
    "g9_lpa_planted": [("node", "i"), ("community", "i")],
    # Round 8 (cont.): exact bigram counts + smoothing-bound flags for
    # the LM scorer, and the quality classifier's separation flag.
    "text_lm_bounds": [
        ("doc_id", "i"), ("n_bigrams", "i"), ("bits_ok", "i"),
    ],
    "ml_quality_separates": [("n_docs", "i"), ("separates", "i")],
    # Round 10: the two-level k-means exactness identity (coarse_k=1
    # degenerates to single-level; any init/tie-break/rounding drift
    # in the per-cell refine flips a flag).
    "kmeans_two_level_identity": [("vec_id", "i"), ("same", "i")],
    # Round 10: the streaming near-dedup ingest, promoted from
    # rows-only — its deterministic 3-batch survivor chain is replayed
    # by an unrolled dedup_incremental oracle (VERDICT r8 #5).
    "stream_ingest_neardedup": [("doc_id", "i"), ("batch_seq", "i")],
    # Round 11: the full undirected edge list rotated out of the
    # window (green since round 1, pure string columns; its ~33k
    # sf0.01 rows were the round-3 reason to keep it direct, but the
    # fourth slot's headroom absorbs that now) to free the direct row
    # for p_combo_d itself (VERDICT r10 #6).
    "g2_g11_full_undirected": [("a", "s"), ("b", "s")],
}

_NULL = "∅"

# Three combo slots (round 6, VERDICT r5 next-round #1): one 80-plus-
# member slot was both the single point of failure for most oracle
# checks and the heaviest row in the driver gate. Members split by a
# deterministic RUNTIME-balanced greedy partition: heaviest member
# first into the lightest bin (ties and order fixed by the literal
# weights + name sort — no hashing, no RNG), so each slot re-checks
# ~a third of the family in ~a third of the wall-clock and a
# regression cuts the diagnosis space to one slot's members. (Two
# slots through mid-round-6; the third was added when both hit the
# 45-member cap with new oracle-bearing members still arriving.)

# Measured solo (Spark collect + DuckDB oracle) seconds at sf0.01,
# round-13 host, one warm session (the full-member timing run is
# recorded in COVERAGE.md, "g15_kcore combo weight refresh"; VERDICT
# r7 #7; this refresh covers all 109 members including the round-13
# rotation's g17_ktruss at its measured 19.7 — was a 20.0 estimate —
# and retires the stale post-rewrite g15_kcore 5.38 → 5.09, VERDICT
# r12 missing-#3). Only the ORDERING matters — a 2x drift leaves the
# split near-balanced.
# Members over 5s solo: g17_ktruss 19.7 (the combo's heaviest member
# by far — the k=10 peel at sf0.01), stream_ingest_neardedup 16.3
# (three real micro-batch replays — batch-count-bound),
# ann_ivf_full_probe 6.9, ml_quality_separates 5.3 (one-time
# pyspark.ml init), g15_kcore 5.1.
_WEIGHTS: dict[str, float] = {
    "a11_edge_pattern_count": 1.62,
    "a12_bucket_histogram": 1.11,
    "a14_branching_factor": 0.62,
    "a1_conditional_count": 0.93,
    "a2_conditional_count2": 0.58,
    "a3_set_collect_sorted": 1.19,
    "a4_count_distinct": 1.03,
    "a5_formatted_freq_agg": 0.91,
    "a6_truncated_ratio": 0.59,
    "a7_having_filter": 0.39,
    "a9_group_count": 0.31,
    "a_cube_day_type": 0.91,
    "a_pivot_daily": 0.86,
    "a_rollup_day_type": 0.55,
    "a_unpivot_metrics": 0.49,
    "ann_ivf_full_probe": 6.94,
    "ann_lsh_exact_recall": 1.8,
    "dedup_chunk_level": 0.88,
    "dedup_cluster_canonical": 4.44,
    "dedup_exact": 0.36,
    "dedup_fingerprint": 1.41,
    "dedup_incremental": 3.54,
    "dedup_minhash_clones": 4.04,
    "dedup_simhash_clones": 3.59,
    "dq_constraint_report": 1.66,
    "er_fuzzy_match": 1.63,
    "f1_f2_entity_labels": 0.54,
    "f2_entity_labels": 0.25,
    "f7_link_labels": 0.8,
    "fingerprint_winnowing_portable": 2.41,
    "g13_triangle_counts": 2.83,
    "g15_kcore": 5.09,
    "g17_ktruss": 19.71,
    "g19_clustering_coeff": 2.48,
    "g2_g11_full_undirected": 0.8,
    "g9_lpa_planted": 4.61,
    "j1_adjacency_list": 0.28,
    "j2_inverse_adjacency": 0.72,
    "j5_broadcast_join_agg": 0.53,
    "j8_expand_to_authors": 0.45,
    "j9_summary_counts": 0.6,
    "j_bucketed_join": 1.61,
    "j_null_safe_join": 0.4,
    "j_range_join": 0.81,
    "kmeans_two_level_identity": 3.73,
    "ml_quality_separates": 5.3,
    "ml_trend_check": 1.18,
    "mm_frame_sample": 0.26,
    "mm_image_embedding_counts": 1.47,
    "o1_collation_sort": 0.65,
    "p10_13_rowskip_type_filter": 0.18,
    "p14_16_map_ops": 0.54,
    "p1_scan_project_filter": 0.24,
    "p3_coalesce_fill": 0.17,
    "p4_regex_clean": 0.19,
    "p5_7_drop_rename_fill": 0.19,
    "p8_split_explode": 0.32,
    "p9_11_12_guard_validate_lookup": 0.29,
    "pipeline_end_to_end": 1.77,
    "pipeline_quality_gate": 1.32,
    "s6_csv_roundtrip": 0.57,
    "s7_entity_map_roundtrip": 0.65,
    "s9_gexf_roundtrip": 0.63,
    "s_dpp_join": 1.89,
    "s_orc_roundtrip": 1.06,
    "s_partitioned_layout": 1.24,
    "s_quarantine_read": 0.92,
    "s_schema_evolution": 0.6,
    "s_targeted_delete": 1.62,
    "s_variant_json": 0.9,
    "s_zorder_layout": 1.26,
    "sample_importance": 1.09,
    "sample_mixture": 1.01,
    "sample_stratified": 0.41,
    "sample_token_budget": 2.22,
    "seq_packing": 0.34,
    "sketch_bounds": 1.09,
    "skew_key_profile": 0.31,
    "sql_top_customer_per_nation": 1.23,
    "stream_ingest_neardedup": 16.29,
    "stream_record_high": 3.34,
    "stream_sliding_daily": 0.63,
    "stream_static_dim_join": 1.08,
    "stream_tumbling_hourly": 0.32,
    "stream_upsert_sink": 1.57,
    "t1_t2_union_dedupe": 0.38,
    "t3_overlap_partition": 0.62,
    "t4_unique_to_group": 0.65,
    "text_chunking": 0.27,
    "text_contamination": 0.68,
    "text_heavy_hitters": 0.4,
    "text_html_strip": 0.24,
    "text_langid": 0.48,
    "text_lm_bounds": 1.8,
    "text_normalize": 0.41,
    "text_pii_redact": 0.31,
    "text_token_stats": 0.28,
    "tpch_q16_supplier_counts": 0.75,
    "tpch_q18_large_orders": 0.62,
    "tpch_q22_dormant_balance": 0.87,
    "tpch_q2_cheapest_supplier": 0.7,
    "tpch_q4_order_priority": 0.44,
    "tpch_q5_local_supplier": 0.98,
    "tpch_q6_forecast": 0.29,
    "ts_decay_range": 0.54,
    "ts_rolling_zscore": 0.52,
    "w1_top_n": 0.31,
    "w2_first_match_backfill": 0.42,
    "w_ntile_cume_dist": 0.37,
}


def _split_members(n_slots: int = 4) -> list[dict]:
    order = sorted(_MEMBERS, key=lambda n: (-_WEIGHTS.get(n, 0.5), n))
    loads = [0.0] * n_slots
    names: list[list[str]] = [[] for _ in range(n_slots)]
    for n in order:
        # Lightest bin with room under the 45-member diagnosis cap;
        # runtime balance first, index order breaks load ties.
        open_bins = [i for i in range(n_slots) if len(names[i]) < 45]
        i = min(open_bins, key=lambda j: loads[j])
        names[i].append(n)
        loads[i] += _WEIGHTS.get(n, 0.5)
    return [{n: _MEMBERS[n] for n in sorted(ns)} for ns in names]


_MEMBERS_A, _MEMBERS_B, _MEMBERS_C, _MEMBERS_D = _split_members()

# Import-time guard (the round-6 "done" criterion, kept enforced): no
# single CORRECTNESS row may cover more than 45 queries.
for _slot in (_MEMBERS_A, _MEMBERS_B, _MEMBERS_C, _MEMBERS_D):
    if len(_slot) > 45:
        raise RuntimeError(
            f"combo slot covers {len(_slot)} members (> 45): split further"
        )


def _stringify(df: DataFrame, member: str) -> DataFrame:
    spec = _MEMBERS[member]
    assert [c for c, _ in spec] == df.columns, (member, df.columns)
    cols = []
    for name, kind in spec:
        c = F.col(name)
        if kind == "d":
            c = c.cast("decimal(18,2)")
        elif kind == "f4":
            c = c.cast("decimal(18,4)")
        cols.append(F.coalesce(c.cast("string"), F.lit(_NULL)))
    return df.select(
        F.lit(member).alias("member"), F.concat_ws("|", *cols).alias("row_repr")
    )


def _combo_oracle(members: dict) -> str:
    parts = []
    for member, spec in members.items():
        exprs = []
        for name, kind in spec:
            if kind == "d":
                inner = f'CAST(CAST("{name}" AS DECIMAL(18,2)) AS VARCHAR)'
            elif kind == "f4":
                inner = f'CAST(CAST("{name}" AS DECIMAL(18,4)) AS VARCHAR)'
            else:
                inner = f'CAST("{name}" AS VARCHAR)'
            exprs.append(f"coalesce({inner}, '{_NULL}')")
        parts.append(
            f"SELECT '{member}' AS member, concat_ws('|', {', '.join(exprs)}) "
            f"AS row_repr FROM ({ORACLES[member]})"
        )
    return " UNION ALL ".join(parts)


def _combo_plan(spark: SparkSession, sf_dir: str, members: dict) -> DataFrame:
    out = None
    for member in members:
        part = _stringify(QUERIES[member](spark, sf_dir), member)
        out = part if out is None else out.unionByName(part)
    return out


@register("p_combo_a", oracle=_combo_oracle(_MEMBERS_A))
def p_combo_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _combo_plan(spark, sf_dir, _MEMBERS_A)


@register("p_combo_b", oracle=_combo_oracle(_MEMBERS_B))
def p_combo_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _combo_plan(spark, sf_dir, _MEMBERS_B)


@register("p_combo_c", oracle=_combo_oracle(_MEMBERS_C))
def p_combo_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _combo_plan(spark, sf_dir, _MEMBERS_C)


@register("p_combo_d", oracle=_combo_oracle(_MEMBERS_D))
def p_combo_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _combo_plan(spark, sf_dir, _MEMBERS_D)
