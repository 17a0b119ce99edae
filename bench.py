"""Per-round benchmark: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints exactly one JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is timed end-to-end: plan construction + execution into a
noop-format write (full materialization — every output row is
consumed, nothing is optimizer-eliminable — without paying collect
serialization). A warmup query first absorbs JVM/session startup so
numbers measure the engine, not the boot.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: the heaviest representative per operator family
# (graph traversal, iterative fixpoint, shuffle-heavy agg, LSH dedup,
# similarity, window, streaming-shaped agg, text pipeline).
HEADLINE = [
    "g1_khop_bfs",
    "g5_connected_components",
    "g10_longest_chain",
    "a3_set_collect_sorted",
    "a10_degree_stats",
    "w2_first_match_backfill",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "stream_tumbling_hourly",   # batch twin of the windowed agg
    "stream_tumbling_microbatch",  # the real availableNow micro-batch run
    "text_quality",
    "t3_overlap_partition",
    "mm_image_features",
    "mm_audio_features",
    "a_rollup_day_type",        # one-shuffle grouping-sets rollup
    "j_salted_join",            # skew-salted join path
    "sketch_aggregates",        # HLL + quantile sketch state
    "tpch_q1_pricing",          # full-scan partial-agg rollup (TPC-H Q1)
    "tpch_q3_top_orders",       # selective 3-way join + top-N (TPC-H Q3)
    "dedup_cluster_canonical",  # pair-graph closure + canonical election
    "text_heavy_hitters",       # vocabulary census (explode + Zipf agg)
    # Round 4: the new join/storage shapes.
    "tpch_q18_large_orders",    # IN-over-HAVING semi-join + TakeOrdered
    "cdc_merge_upsert",         # full-outer MERGE apply
    "s_dpp_join",               # dynamic partition pruning over the layout
    "ts_gapfill_interpolate",   # grid explode + shared-shuffle windows
    "a_winsorize_clip",         # discrete-quantile clip, broadcast bounds
    "dq_constraint_report",     # one-scan constraint suite + RI anti-join
    "stream_record_high",       # stateful record detection, 3 micro-batches
    # Round 5: real-codec media and span-level dedup.
    "mm_image_resize",          # PNG decode -> NN resample -> re-encode -> re-parse
    "dedup_substring_coverage", # shared k-gram interval-union coverage
    "pipeline_training_shards", # gate->dedup->chunk->route->write->read manifest
    # Round 6: the ANN-compression and semantic-dedup scale paths get
    # official trend lines (VERDICT r5 next-round #8).
    "ann_pq_sq_topk",           # SQ codebook + single-join decimal ADC scan
    "dedup_semantic",           # k-means-bucketed SemDeDup pair pass
    # Round 8: an iterative-graph extreme joins the official set so the
    # heaviest fixpoint family has a trend line (VERDICT r6 #6 / r7 #8).
    "g14_scc",                  # forward/backward reach SCC fixpoint
]


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Host weather sampled BEFORE this process spins up Spark: from
    # here on, loadavg includes our own executors, so only this
    # reading measures EXTERNAL contention (the r13 official/local
    # ratio disagreed 4.98 vs 3.72 purely on a loadavg-7.4 window).
    load_at_start = os.getloadavg()
    from panditya_spark.plans import QUERIES
    from panditya_spark.session import get_spark

    spark = get_spark("panditya-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup: absorb codegen/JIT/session-start cost outside the timings.
    # Fault-isolated like the queries themselves (VERDICT r2 #2): one
    # broken query must never zero the whole round's perf evidence.
    try:
        QUERIES["a9_group_count"](spark, sf_dir).count()
    except Exception as exc:  # noqa: BLE001 — report, don't die
        print(f"warmup failed: {exc!r}", file=sys.stderr)
    # Family warmups at the SMALLEST tier (sf0.001 ≈ 1% of the bench
    # data): each absorbs a one-time engine cost that would otherwise
    # be misattributed to whichever timed query hits it first —
    # Structured Streaming's state-store/offset-log/codegen init
    # (measured 7.4s first micro-batch vs 1.3s after), and the
    # whole-stage-codegen JIT of the iterative-loop join shapes
    # (measured: first g5 invocation 10.6s vs 5.2s warm at sf0.1).
    # Standard steady-state benchmarking; the timed numbers below
    # measure the engine, not first-call compilation.
    smallest = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(smallest):
        smallest = sf_dir
    # g5 and minhash additionally warm at the MID tier (sf0.01): the
    # first call at a NEW scale pays size-dependent costs the sf0.001
    # warmup can't absorb (AQE picks different plan variants → fresh
    # codegen). Measured (bench-order simulation at sf0.1, min-of-3
    # A/B): g5 first call 6.39s → 5.68s; minhash 3.9-4.4s → 3.6-4.1s
    # with B < A on every paired iteration.
    mid = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    _MID_WARM = {
        "g5_connected_components",
        "dedup_minhash_lsh",
        # The shard build's partitioned write picks different AQE
        # shuffle variants by input size (measured 8.0s first sf0.1
        # call after only the sf0.001 warmup vs 2.1-2.9s warm).
        "pipeline_training_shards",
    }
    for warm_q in (
        "stream_tumbling_microbatch",
        "g5_connected_components",
        "g1_khop_bfs",
        "g10_longest_chain",
        "dedup_minhash_lsh",
        # Warms connected_components' local tier (edge collect +
        # literal_frame) and the explode/TakeOrdered shapes — both
        # showed >2x official-vs-local spread in round 3 from
        # first-call cost attribution.
        "dedup_cluster_canonical",
        "text_heavy_hitters",
        # Warms the gate/chunk/partitioned-write codegen of the shard
        # build (measured 12.5s first call vs 2.9s warm at sf0.1).
        "pipeline_training_shards",
        # Round 8: the SCC extreme row joins the set — its trim/FW-BW
        # loop shapes pay first-call codegen like the other iterative
        # operators (measured ~23s cold vs ~18s warm at sf0.1).
        "g14_scc",
    ):
        try:
            QUERIES[warm_q](spark, smallest).count()
            if warm_q in _MID_WARM and os.path.isdir(mid):
                QUERIES[warm_q](spark, mid).count()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup {warm_q} failed: {exc!r}", file=sys.stderr)
    # Input-layout preparation, NOT engine warmup: s_dpp_join measures
    # the dynamically-pruned join over the date-partitioned layout; the
    # one-time partitioned WRITE of the events table is table
    # infrastructure a deployment amortizes across every query on it
    # (the write path itself is timed separately via
    # s_partitioned_layout's forced round-trip in the correctness gate).
    try:
        from panditya_spark.plans.sink_queries import _partitioned_events

        _partitioned_events(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"layout prep failed: {exc!r}", file=sys.stderr)
    # Same rationale for the time-split streaming input shared by
    # stream_record_high / stream_upsert_sink: the timed queries
    # measure the stateful micro-batch machinery, not the one-time
    # 3-way split write of the source table.
    try:
        from panditya_spark.plans.streaming_queries import _upsert_stream_input

        _upsert_stream_input(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"stream-input prep failed: {exc!r}", file=sys.stderr)

    # Materializer: a noop-format write, NOT count(). count() lets the
    # optimizer eliminate real work — duplicate-free left joins drop,
    # cardinality-preserving windows/generates prune, projection
    # expressions and aggregate MEASURES strip (only group keys are
    # needed to count groups). A round-5 plan-diff audit
    # (scripts/bench_audit.py) found 12 of 32 headline queries partly
    # or wholly eliminated under count(); the noop write consumes
    # every output row, so nothing is eliminable by construction.
    # r1-r4 numbers were count()-based — consistently on both sides
    # of every cross-round comparison, so the TRENDS stay valid — and
    # are restated under the honest materializer from round 5
    # (ledger in COVERAGE.md).
    def _materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # Contention robustness (VERDICT r7 #1): the official r7 number
    # doubled purely from host load — every untouched sub-second query
    # regressed by the same 1.1-1.9x offset and the extremes re-ran at
    # r6 parity on identical code. A single-pass bench cannot defend
    # itself against a noisy window, so each query is now timed
    # REPS times (default 2) and the MIN is reported: the minimum is
    # the standard contention-robust estimator for a deterministic
    # workload (any rep that dodges the noise recovers the true cost).
    # Per-rep raw timings plus the host load average before/after are
    # stamped into the JSON so a contaminated window is self-diagnosing
    # instead of indistinguishable from a plan regression.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2")))
    # Loadavg-gated rep count (VERDICT r13 #2): when the host is
    # already busy at bench START — before our own Spark contributes —
    # min-of-2 is not enough draws to dodge the contention window
    # (the r13 official bench started at loadavg 7.4 and its ratio
    # disagreed with the quiet local twin by 34%). Above the gate the
    # bench self-escalates to min-of-3; the start reading plus the
    # effective rep count are stamped into the artifact so the two
    # runs stop being silently different protocols.
    load_gate = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "5"))
    load_gated = load_at_start[0] > load_gate
    if load_gated:
        reps = max(reps, 3)
    load_before = os.getloadavg()

    # External cross-engine anchor (VERDICT r8 #7): time the DuckDB
    # oracle for every SQL-expressible headline query on the SAME
    # parquet at the SAME sf. No gate — a single-node columnar engine
    # is the natural small-scale floor, and the ratio guards the bench
    # trend against being self-referential. Since round 15 each
    # query's anchor runs IMMEDIATELY AFTER its own Spark reps
    # (VERDICT r14 #4): the r14 cooling-window experiment measured the
    # end-of-run protocol's failure mode exactly — Spark timed under
    # loadavg 11.4, the anchor after on a quiet host, ratio 5.52 vs
    # 3.65 for identical code — adjacent timing makes the ratio robust
    # to INTRA-run weather drift, not just start-of-run contamination.
    # (No oracle reads Spark-written side outputs — scanned: 0 of 159
    # oracle strings touch the filesystem — so per-query ordering is
    # safe.) Budget-capped so a pathological oracle can never stall
    # the round's bench.
    anchor = _DuckAnchor(sf_dir)

    timings: dict[str, float] = {}
    partial: dict[str, float] = {}
    raw: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    duckdb_sec: dict[str, object] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        samples: list[float] = []
        for _ in range(reps):
            t0 = time.time()
            try:
                _materialize(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001 — per-query isolation
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                print(
                    f"bench query {name} failed: {errors[name]}", file=sys.stderr
                )
                break
            samples.append(round(time.time() - t0, 3))
        if samples:
            raw[name] = samples
            if name in errors:
                # Partially failed (succeeded on some rep, errored on
                # another): keep the evidence but EXCLUDE it from the
                # headline total — a sum that silently includes a query
                # in a half-broken state isn't comparable to anything
                # (ADVICE r8). Fully-green queries only in `queries`.
                partial[name] = min(samples)
            else:
                timings[name] = min(samples)
                # Anchor adjacent to the Spark reps it normalizes.
                duckdb_sec[name] = anchor.time_one(name)
    anchor.close()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    load_after = os.getloadavg()
    out = {
        "metric": "headline query wall-clock, sum over query set",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "reps": reps,
        # Estimator note (ADVICE r8): r1-r7 numbers are one-shot
        # single-pass; r8+ are min-of-`reps`. Cross-round comparisons
        # before/after r8 compare a single draw against a minimum —
        # directionally fine for a deterministic workload (min <= any
        # one-shot draw under identical load) but not identical
        # estimators; the COVERAGE.md ledger restates the r6 set
        # min-of-3 for like-for-like trend lines.
        "estimator": f"min_of_{reps}",
        "loadavg_at_start": [round(x, 2) for x in load_at_start],
        "load_gate": load_gate,
        "load_gated": load_gated,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
    }
    ok_duck = [v for v in duckdb_sec.values() if isinstance(v, float)]
    if ok_duck:
        out["duckdb_total_sec"] = round(sum(ok_duck), 3)
        out["duckdb_n"] = len(ok_duck)
        # Load-normalized trend line (VERDICT r12 #4): the DuckDB
        # anchor runs identical SQL on the same host in the same
        # minutes, so host weather moves both numerators together and
        # this ratio is the load-independent cross-round signal — the
        # r12 official bench read as a phantom +13% while the ratio
        # stayed flat (r11: 5.2, r12 official: 4.7, r12 local: 4.9).
        # Computed over the anchor-covered subset only, so a skipped
        # oracle can't skew it.
        spark_covered = sum(
            timings[n] for n in duckdb_sec
            if isinstance(duckdb_sec[n], float) and n in timings
        )
        out["spark_over_duckdb_ratio"] = round(
            spark_covered / sum(ok_duck), 2
        )
        # r15+: anchors timed adjacent to their Spark reps; r8-r14
        # artifacts timed all anchors after the full Spark pass.
        out["anchor_protocol"] = "interleaved"
    if errors:
        out["errors_n"] = len(errors)
        # skipped = queries with NO successful rep at all; partial =
        # queries that timed at least once but also errored — their
        # min is reported here, OUTSIDE the summed headline metric.
        out["skipped"] = sorted(n for n in errors if n not in partial)
        if partial:
            out["partial_sec"] = partial
    # Per-rep raw timings, full error strings, and the per-query
    # DuckDB anchor go to the sidecar: the driver captures only the
    # last 2000 chars of stdout, and rounds 8-9 proved a line carrying
    # raw_sec overflows that window, leaving the official artifact
    # unparsed (BENCH_r08/r09 "parsed": null). The stdout line stays
    # under the window; the sidecar carries the evidence and is
    # committed per-round as BENCH_r{N}_local.json.
    detail = dict(out)
    detail["raw_sec"] = raw
    detail["duckdb_sec"] = duckdb_sec
    if errors:
        detail["errors"] = errors
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_detail_last.json"),
    )
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError as exc:
        print(f"detail sidecar write failed: {exc!r}", file=sys.stderr)
    line = json.dumps(out)
    if len(line) > 1900:  # hard guard: the driver window is 2000
        slim = {k: out[k] for k in
                ("metric", "value", "unit", "queries", "sf", "reps")}
        line = json.dumps(slim)
    print(line)
    return 0


class _DuckAnchor:
    """Per-query DuckDB oracle timer, interleaved with the Spark reps
    (one time_one call right after each query's reps — see the anchor
    comment in main). Interrupt-guarded per query and budget-capped
    overall so the anchor can never dominate the bench; failure to
    import or connect degrades to "no anchor", never a bench error.
    Returns per query: sec | "no_oracle" | "error:..." |
    "interrupted" | "skipped:budget"."""

    def __init__(self, sf_dir: str, per_query_cap: float = 60.0,
                 total_budget: float = 300.0):
        self.cap = per_query_cap
        self.budget = total_budget
        self.spent = 0.0
        self.con = None
        try:
            import duckdb

            self._duckdb = duckdb
            self.con = duckdb.connect()
            tables = ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings")
            for t in tables:
                path = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(path):
                    self.con.execute(
                        f"CREATE VIEW {t} AS "
                        f"SELECT * FROM read_parquet('{path}')"
                    )
            from panditya_spark.plans import ORACLES

            self._oracles = ORACLES
        except Exception as exc:  # noqa: BLE001 — anchor is best-effort
            print(f"duckdb anchor unavailable: {exc!r}", file=sys.stderr)
            self.con = None

    def time_one(self, name: str) -> object:
        if self.con is None:
            return "no_anchor"
        sql = self._oracles.get(name)
        if sql is None:
            return "no_oracle"
        if self.spent >= self.budget:
            return "skipped:budget"
        import threading

        timer = threading.Timer(self.cap, self.con.interrupt)
        timer.start()
        t0 = time.time()
        try:
            self.con.execute(sql).fetchall()
            out: object = round(time.time() - t0, 3)
        except self._duckdb.InterruptException:
            out = "interrupted"
        except Exception as exc:  # noqa: BLE001 — must not fail bench
            out = f"error:{type(exc).__name__}"[:80]
        finally:
            timer.cancel()
        self.spent += time.time() - t0
        return out

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


if __name__ == "__main__":
    raise SystemExit(main())
