"""Windowed-aggregation queries over the events table (SURVEY.md §2.10:
the reference has no streaming surface; these are the Phase-6
extensions). The same window logic runs as a batch DataFrame here (so
the driver can oracle it against DuckDB) and as a Structured Streaming
job in panditya_spark/streaming/ (readStream + watermark), sharing the
aggregation definitions."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.plans.registry import register, table as _t


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type: count + exact
    sum. window() start is epoch-aligned, identical to date_trunc for
    1-hour tumbling — we emit window_start so the oracle can match."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_tumbling_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_hourly(_t(spark, sf_dir, "events"))


_MICROBATCH_SEQ = [0]


def _state_parts(sf_dir: str) -> int:
    """Volume-sized state-store count for the stateful micro-batch
    queries (see streaming/windows.state_store_partitions): 8 at the
    local test/driver tiers, growing ~1 per MB of source parquet up to
    32 — the stateful-stage parallelism knob at the stress decade."""
    from panditya_spark.streaming.windows import state_store_partitions

    return state_store_partitions(sf_dir)


def _timeout(sf_dir: str) -> int:
    """Volume-scaled awaitTermination budget (see
    streaming/windows.stream_timeout_sec): the fixed 180s default
    timed out a LEGITIMATE sf10 sessionizer run at ~100x keys."""
    from panditya_spark.streaming.windows import stream_timeout_sec

    return stream_timeout_sec(sf_dir)


@register(
    "stream_tumbling_microbatch",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming path, not the batch twin: a
    readStream file source driven to completion with availableNow
    micro-batches into a memory sink (complete mode). The result must
    equal the batch aggregation exactly, so the same DuckDB oracle
    verifies the streaming machinery end-to-end — trigger scheduling,
    watermarking, and state-store aggregation included."""
    from panditya_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
        tumbling_counts_stream,
    )

    _MICROBATCH_SEQ[0] += 1
    return run_stream_to_memory(
        tumbling_counts_stream(
            read_events_stream(spark, sf_dir), watermark="0 seconds"
        ),
        f"stream_tumbling_microbatch_{_MICROBATCH_SEQ[0]}",
        mode="complete",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )


@register(
    "stream_static_dim_join",
    oracle="""
    SELECT c.c_nationkey AS nationkey,
           e.event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1, 2
    """,
)
def stream_static_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–STATIC join, the canonical streaming-enrichment shape: a
    streaming fact (events) joined per micro-batch against a static
    dimension (customer → nation), then a stateful aggregate — the
    pattern behind every 'enrich the firehose with reference data'
    pipeline. The dimension is a plain batch DataFrame; Spark
    broadcasts it into each micro-batch's join (stateless — only the
    aggregate holds state), so dimension size never enters the state
    store. Driven to completion with availableNow; the batch-join
    oracle verifies the result exactly."""
    from panditya_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(spark, sf_dir)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_nationkey").alias("nationkey"),
    )
    joined = stream.join(F.broadcast(dim), "user_id")
    agg = joined.groupBy("nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )
    _MICROBATCH_SEQ[0] += 1
    return run_stream_to_memory(
        agg,
        f"stream_static_dim_join_{_MICROBATCH_SEQ[0]}",
        mode="complete",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )


@register(
    "stream_dedup_microbatch",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-dedup driven through a real micro-batch run:
    dropDuplicatesWithinWatermark on (user_id, event_type) with bounded
    per-watermark state, then the downstream batch distinct that
    collapses any cross-watermark re-emissions (the two-tier dedup
    architecture — see streaming/windows.dedup_stream). Net output is
    the exact DISTINCT key set, oracle-checked."""
    from panditya_spark.streaming.windows import (
        dedup_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    _MICROBATCH_SEQ[0] += 1
    survivors = run_stream_to_memory(
        dedup_stream(
            read_events_stream(spark, sf_dir), ["user_id", "event_type"]
        ),
        f"stream_dedup_microbatch_{_MICROBATCH_SEQ[0]}",
        mode="append",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )
    return survivors.dropDuplicates(["user_id", "event_type"])


@register(
    "stream_sliding_daily",
    oracle="""
    WITH slides AS (
      SELECT e.*,
             date_trunc('hour', ts) - INTERVAL (s.i) HOUR AS window_start
      FROM events e, generate_series(0, 23) AS s(i)
    )
    SELECT window_start, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM slides
    GROUP BY window_start
    """,
)
def stream_sliding_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 24h window, 1h slide: each event contributes to 24
    windows. Spark's window(ts, '24 hours', '1 hour') enumerates the
    same epoch-aligned slide starts the oracle derives by hand."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "24 hours", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


@register(
    "stream_sliding_microbatch",
    oracle="""
    WITH slides AS (
      SELECT e.*,
             date_trunc('hour', ts) - INTERVAL (s.i) HOUR AS window_start
      FROM events e, generate_series(0, 23) AS s(i)
    )
    SELECT window_start, count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM slides
    GROUP BY window_start
    """,
)
def stream_sliding_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming run of the sliding 24h/1h window (availableNow
    micro-batches → memory sink, complete mode) — each event updates 24
    window states through the state store. Must equal the batch twin
    stream_sliding_daily exactly, so the same DuckDB oracle verifies
    the sliding-window streaming machinery end-to-end."""
    from panditya_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
        sliding_counts_stream,
    )

    _MICROBATCH_SEQ[0] += 1
    return run_stream_to_memory(
        sliding_counts_stream(
            read_events_stream(spark, sf_dir), watermark="0 seconds"
        ),
        f"stream_sliding_microbatch_{_MICROBATCH_SEQ[0]}",
        mode="complete",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )


@register(
    "stream_sessionize_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             -- CAST: DuckDB types SUM(int) OVER as HUGEINT, which
             -- surfaces through Arrow as decimal128(38,0); Spark's
             -- running sum is int64. Values are identical but the
             -- driver's value-hash sees Decimal('4') vs 4 — pin BIGINT.
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM marked
    )
    SELECT user_id, session_seq,
           CAST(count(*) AS INTEGER) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sess GROUP BY user_id, session_seq
    """,
)
def stream_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) as a batch gaps-and-islands
    plan — the oracle-checkable twin of the applyInPandasWithState
    streaming sessionizer (streaming/windows.py sessionize), pinning
    the session-boundary semantics both must share."""
    from panditya_spark.streaming.windows import sessionize_batch

    return sessionize_batch(_t(spark, sf_dir, "events"), gap_minutes=30)


@register(
    "stream_sessionize_microbatch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           CAST(count(*) AS INTEGER) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end
    FROM sess GROUP BY user_id, session_seq
    """,
)
def stream_sessionize_microbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL stateful sessionizer (applyInPandasWithState with
    event-time timeout, streaming/windows.sessionize) driven to
    completion: an availableNow micro-batch run over the events file
    plus two far-future sentinel files that advance the watermark past
    every real session's gap timeout, so ALL real sessions close and
    emit. The sentinels' own (never-closing) sessions are filtered from
    the output, leaving exactly the batch twin's session set — the same
    DuckDB gaps-and-islands oracle therefore value-checks the custom
    stateful operator end-to-end (state round-trips, timeout firing,
    out-of-order chunk merging included)."""
    from panditya_spark.streaming.windows import (
        SENTINEL_USERS,
        read_sessionize_stream,
        run_stream_to_memory,
        sessionize,
    )

    _MICROBATCH_SEQ[0] += 1
    stream = read_sessionize_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("user_id"), "ts"
    )
    out = run_stream_to_memory(
        sessionize(stream, gap_minutes=30),
        f"stream_sessionize_microbatch_{_MICROBATCH_SEQ[0]}",
        mode="append",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )
    return out.filter(~F.col("user_id").isin([str(u) for u in SENTINEL_USERS]))


@register(
    "stream_session_window_native",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM marked
    )
    SELECT CAST(user_id AS VARCHAR) AS user_id,
           CAST(count(*) AS INTEGER) AS n_events,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) AS session_end_us
    FROM sess GROUP BY user_id, session_seq
    """,
)
def stream_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window aggregation driven as a real
    availableNow micro-batch run — the builtin-first counterpart of
    the custom applyInPandasWithState sessionizer, value-checked
    against the SAME gaps-and-islands oracle (so builtin, custom
    stateful, and batch-window formulations are pinned to one
    semantics). The sentinel files advance the watermark past every
    real session's end, closing all real windows in append mode.

    Boundary note: the builtin MERGES an event arriving exactly gap
    after the previous one (adjacent windows coalesce — measured, and
    pinned by test_native_session_window_gap_boundary_semantics),
    matching the gaps-and-islands strictly-greater-than break, so the
    shared oracle is exact even at the boundary.
    Timestamps surface as epoch-micros BIGINTs (the stream_record_high
    convention — no timestamp-string formatting divergence); the
    native window end is last-event + gap, so session_end is
    window.end − gap."""
    from panditya_spark.streaming.windows import (
        SENTINEL_USERS,
        read_sessionize_stream,
        run_stream_to_memory,
        session_window_agg_stream,
    )

    _MICROBATCH_SEQ[0] += 1
    stream = read_sessionize_stream(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("user_id"), "ts"
    )
    agg = session_window_agg_stream(
        stream, gap_minutes=30, watermark_delay="1 hour"
    )
    out = run_stream_to_memory(
        agg,
        f"stream_session_window_native_{_MICROBATCH_SEQ[0]}",
        mode="append",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )
    return out.filter(
        ~F.col("user_id").isin([str(u) for u in SENTINEL_USERS])
    )


@register(
    "stream_attribution_join",
    oracle="""
    SELECT v.user_id AS user_id,
           v.ts AS view_ts,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 60 MINUTES
    """,
)
def stream_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution within
    60 min) driven through a real availableNow micro-batch run. The
    time-bounded predicate + both-sides watermarks bound the join state
    to one horizon span (streaming/windows.attribution_join_stream);
    with the finite source the append-mode output equals the batch
    interval join, which the DuckDB oracle computes directly."""
    from panditya_spark.streaming.windows import (
        attribution_join_stream,
        read_events_stream,
        run_stream_to_memory,
    )

    _MICROBATCH_SEQ[0] += 1
    return run_stream_to_memory(
        attribution_join_stream(read_events_stream(spark, sf_dir)),
        f"stream_attribution_join_{_MICROBATCH_SEQ[0]}",
        mode="append",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )


_FILE_SINK_DIRS: dict[str, tuple[str, str]] = {}


def _file_sink_dirs(sf_dir: str) -> tuple[str, str]:
    """(output, checkpoint) pair per events-file generation. Keyed by
    mtime like the sentinel-input cache: a repeat invocation in the
    same process reuses the SAME checkpoint, so the availableNow rerun
    discovers zero new input files and appends zero rows — the
    exactly-once behavior itself is what repeated driver/bench calls
    exercise."""
    import atexit
    import os
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    key = f"{src}:{os.path.getmtime(src)}"
    if key not in _FILE_SINK_DIRS:
        d = tempfile.mkdtemp(prefix="panditya-filesink-")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _FILE_SINK_DIRS[key] = (
            os.path.join(d, "out"),
            os.path.join(d, "ckpt"),
        )
    return _FILE_SINK_DIRS[key]


@register(
    "stream_file_sink_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_file_sink_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable streaming output path: tumbling hourly aggregation
    through a checkpointed PARQUET file sink (append mode, availableNow)
    instead of the test-only memory sink, then the written files read
    back and value-checked against the same oracle as the batch and
    memory-sink twins. Append-mode finalization (emit when the
    watermark passes the window) is driven to completion by the
    far-future sentinel files, and the checkpoint's WAL + _spark_metadata
    manifest make re-runs exactly-once (zero rows appended — pinned by
    test_file_sink_rerun_is_idempotent)."""
    from panditya_spark.streaming.windows import (
        read_sessionize_stream,
        run_stream_to_parquet,
        tumbling_counts_append_stream,
    )

    out, ckpt = _file_sink_dirs(sf_dir)
    run_stream_to_parquet(
        tumbling_counts_append_stream(read_sessionize_stream(spark, sf_dir)),
        out,
        ckpt,
        query_name="stream_file_sink_hourly",
    )
    # Sentinel windows carry NULL event_type (the sentinel rows hold
    # only ts+user_id); drop them on read-back — see
    # tumbling_counts_append_stream for why they can't be filtered
    # pre-aggregation.
    return spark.read.parquet(out).filter(F.col("event_type").isNotNull())


_UPSERT_INPUT_CACHE: dict[str, str] = {}


def _upsert_stream_input(spark: SparkSession, sf_dir: str) -> str:
    """Time-split the events file into three parquet files (disjoint ts
    ranges, mtime-ordered) so the streaming-upsert run processes THREE
    real micro-batches: cross-batch overwrite semantics are what the
    query exercises, and a single-file source would collapse to one
    batch. Cached per events-file generation like the sentinel input."""
    import atexit
    import os
    import shutil
    import tempfile

    from panditya_spark.sources.loaders import load_table

    src = os.path.join(sf_dir, "events.parquet")
    key = f"{src}:{os.path.getmtime(src)}"
    cached = _UPSERT_INPUT_CACHE.get(key)
    if cached and os.path.isdir(cached):
        return cached
    d = tempfile.mkdtemp(prefix="panditya-upsert-in-")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    bounds = [(None, "2024-01-11"), ("2024-01-11", "2024-01-21"), ("2024-01-21", None)]
    import time as _time

    now = _time.time()
    for i, (lo, hi) in enumerate(bounds):
        part = ev
        if lo:
            part = part.filter(F.col("ts") >= F.lit(lo).cast("timestamp"))
        if hi:
            part = part.filter(F.col("ts") < F.lit(hi).cast("timestamp"))
        tmp_i = os.path.join(d, f"_w{i}")
        part.repartition(1).write.mode("overwrite").parquet(tmp_i)
        (pf,) = [f for f in os.listdir(tmp_i) if f.endswith(".parquet")]
        dst = os.path.join(d, f"{i:02d}_events.parquet")
        shutil.move(os.path.join(tmp_i, pf), dst)
        shutil.rmtree(tmp_i)
        os.utime(dst, (now + i, now + i))  # FileStreamSource orders by mtime
    _UPSERT_INPUT_CACHE[key] = d
    return d


@register(
    "stream_upsert_sink",
    oracle="""
    WITH latest AS (
      SELECT user_id AS key,
             CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
             value AS bal,
             'user-' || CAST(user_id AS VARCHAR) AS name
      FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    tgt AS (
      SELECT c_custkey AS key, c_name AS name, c_acctbal AS bal
      FROM customer WHERE c_custkey < 100
    )
    SELECT coalesce(t.key, s.key) AS key,
           CASE WHEN s.key IS NULL THEN t.bal ELSE s.bal END AS bal
    FROM tgt t FULL OUTER JOIN latest s ON t.key = s.key
    WHERE s.op IS NULL OR s.op <> 'delete'
    """,
)
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into a keyed target (foreachBatch + merge_upsert
    per micro-batch — the Delta-streaming-MERGE pattern): three real
    time-split micro-batches apply the events change log to the
    customer snapshot, later batches overwriting earlier ones. The
    oracle is GLOBAL last-writer-wins, so sequential per-batch merges
    must compose to exactly the one-shot batch merge on key survival
    and every UPDATED column — the equivalence that makes incremental
    pipelines trustworthy. Non-update columns of re-inserted keys are
    the one place the two genuinely diverge (a batch-N delete followed
    by a batch-N+1 upsert re-inserts with the SOURCE's name, while a
    one-shot merge never saw the delete and keeps the target's), so
    the checked projection is (key, bal): survival + updated values,
    where composition must be — and is — exact."""
    import os
    import tempfile

    from panditya_spark.sources.loaders import normalize_event_ts
    from panditya_spark.streaming.windows import run_stream_upsert

    d = _upsert_stream_input(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(d, "00_events.parquet")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    changes = stream.select(
        F.col("user_id").alias("key"),
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("value").alias("bal"),
        F.concat(F.lit("user-"), F.col("user_id").cast("string")).alias("name"),
        "ts",
        "event_id",
    )
    target = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 100)
        .select(
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("c_acctbal").alias("bal"),
        )
    )
    state = {"df": target}
    # Fresh checkpoint per invocation (the run must reprocess all three
    # batches against the fresh target), cleaned at exit like every
    # other streaming temp dir.
    import atexit
    import shutil

    ckpt = tempfile.mkdtemp(prefix="panditya-upsert-ckpt-")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    final = run_stream_upsert(
        changes, "key", "op", state, ckpt, update_cols=["bal"]
    )
    return final.select("key", "bal")


@register(
    "stream_record_high",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             max(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max
      FROM events
    ),
    rec AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN prev_max IS NULL OR value > prev_max
                  THEN 1 ELSE 0 END AS is_rec
      FROM ordered
    )
    SELECT user_id, epoch_us(ts) AS ts_us, value,
           CAST(SUM(is_rec) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS record_seq
    FROM rec WHERE is_rec = 1
    """,
)
def stream_record_high(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND real custom stateful operator (after sessionize):
    per-user record-high detection through applyInPandasWithState,
    driven across THREE time-split micro-batches (the same mtime-
    ordered input as the streaming MERGE sink) so running state — the
    user's all-time max and record count — genuinely round-trips the
    state store between batches. Record detection folds with
    comparisons only (no float accumulation), so the streaming output
    is bit-exact against the gaps-free window SQL the oracle runs; no
    sentinel/watermark machinery is needed because every event's
    verdict is known at arrival (emit-on-arrival semantics, bounded
    2-scalar state per key)."""
    import os

    from panditya_spark.sources.loaders import normalize_event_ts
    from panditya_spark.streaming.windows import record_highs, run_stream_to_memory

    d = _upsert_stream_input(spark, sf_dir)
    schema = spark.read.parquet(os.path.join(d, "00_events.parquet")).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    _MICROBATCH_SEQ[0] += 1
    return run_stream_to_memory(
        record_highs(
            stream.select("user_id", "ts", "event_id", "value"),
            # Key-group count scales with the store count (itself
            # volume-sized): 8 groups per store keeps every store busy
            # while the per-group Python machinery cost stays 1/64th of
            # the former one-group-per-user shape (see record_highs).
            key_groups=_state_parts(sf_dir) * 8,
        ),
        f"stream_record_high_{_MICROBATCH_SEQ[0]}",
        mode="append",
        shuffle_partitions=_state_parts(sf_dir),
        timeout_sec=_timeout(sf_dir),
    )


# ---------------------------------------------- streaming near-dedup ingest
def _shingle_cte(name: str, src: str) -> str:
    """Distinct 3-word shingles of (doc_id, text) relation `src` — the
    dedup_incremental oracle's shingle shape, factored for the
    unrolled replay below."""
    return f"""{name} AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS w
                  FROM {src})
            WHERE len(w) >= 3))"""


def _neardedup_replay_oracle(
    n_batches: int = 3, threshold: float = 0.5, cap: int = 100
) -> str:
    """Exact SQL replay of the streaming near-dedup ingestion
    (VERDICT r8 #5): the 3-batch arrival order is deterministic
    (doc_id % n_batches, mtime-sequenced, maxFilesPerTrigger=1), so
    the greedy batch-ordered survivor chain unrolls into n_batches
    rounds of the dedup_incremental oracle composed over the
    accumulating snapshot — within-batch exact keeper (min doc_id per
    md5), within-batch capped-shingle Jaccard drop of the larger id,
    then exact+near flags against the snapshot, clean rows appending
    with their batch_seq."""
    parts = []
    for b in range(n_batches):
        parts.append(
            f"bt{b} AS MATERIALIZED (SELECT doc_id, text FROM documents "
            f"WHERE doc_id % {n_batches} = {b})"
        )
        parts.append(f"""e{b} AS MATERIALIZED (
          SELECT doc_id, text FROM (
            SELECT doc_id, text,
                   row_number() OVER (PARTITION BY md5(text)
                                      ORDER BY doc_id) AS rn
            FROM bt{b}) WHERE rn = 1)""")
        parts.append(_shingle_cte(f"g{b}", f"e{b}"))
        parts.append(
            f"h{b} AS MATERIALIZED (SELECT s FROM g{b} GROUP BY s "
            f"HAVING count(*) > {cap})"
        )
        parts.append(
            f"c{b} AS MATERIALIZED (SELECT * FROM g{b} "
            f"WHERE s NOT IN (SELECT s FROM h{b}))"
        )
        parts.append(
            f"z{b} AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM c{b} "
            f"GROUP BY doc_id)"
        )
        parts.append(f"""p{b} AS MATERIALIZED (
          SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS c
          FROM c{b} x JOIN c{b} y ON x.s = y.s AND x.doc_id < y.doc_id
          GROUP BY 1, 2)""")
        parts.append(f"""dr{b} AS MATERIALIZED (
          SELECT DISTINCT p{b}.d2 AS doc_id FROM p{b}
          JOIN z{b} x ON x.doc_id = p{b}.d1
          JOIN z{b} y ON y.doc_id = p{b}.d2
          WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= {threshold})""")
        parts.append(
            f"w{b} AS MATERIALIZED (SELECT doc_id, text FROM e{b} "
            f"WHERE doc_id NOT IN (SELECT doc_id FROM dr{b}))"
        )
        if b == 0:
            parts.append(
                "s1 AS MATERIALIZED (SELECT doc_id, text, 1 AS batch_seq FROM w0)"
            )
        else:
            parts.append(_shingle_cte(f"gi{b}", f"w{b}"))
            parts.append(_shingle_cte(f"gs{b}", f"s{b}"))
            parts.append(f"""hh{b} AS MATERIALIZED (
              SELECT s FROM (SELECT s FROM gi{b}
                             UNION ALL SELECT s FROM gs{b})
              GROUP BY s HAVING count(*) > {cap})""")
            parts.append(
                f"ci{b} AS MATERIALIZED (SELECT * FROM gi{b} "
                f"WHERE s NOT IN (SELECT s FROM hh{b}))"
            )
            parts.append(
                f"cs{b} AS MATERIALIZED (SELECT doc_id AS sdoc, s FROM gs{b} "
                f"WHERE s NOT IN (SELECT s FROM hh{b}))"
            )
            parts.append(
                f"ni{b} AS MATERIALIZED (SELECT doc_id, count(*) AS n FROM ci{b} "
                f"GROUP BY doc_id)"
            )
            parts.append(
                f"ns{b} AS MATERIALIZED (SELECT sdoc, count(*) AS n FROM cs{b} "
                f"GROUP BY sdoc)"
            )
            parts.append(f"""cm{b} AS MATERIALIZED (
              SELECT ci{b}.doc_id, cs{b}.sdoc, count(*) AS c
              FROM ci{b} JOIN cs{b} ON ci{b}.s = cs{b}.s
              GROUP BY 1, 2)""")
            parts.append(f"""nr{b} AS MATERIALIZED (
              SELECT DISTINCT cm{b}.doc_id FROM cm{b}
              JOIN ni{b} ON ni{b}.doc_id = cm{b}.doc_id
              JOIN ns{b} ON ns{b}.sdoc = cm{b}.sdoc
              WHERE CAST(c AS DOUBLE) / (ni{b}.n + ns{b}.n - c)
                    >= {threshold})""")
            parts.append(f"""ex{b} AS MATERIALIZED (
              SELECT doc_id FROM w{b}
              WHERE md5(text) IN (SELECT md5(text) FROM s{b}))""")
            parts.append(f"""cl{b} AS MATERIALIZED (
              SELECT doc_id, text FROM w{b}
              WHERE doc_id NOT IN (SELECT doc_id FROM nr{b})
                AND doc_id NOT IN (SELECT doc_id FROM ex{b}))""")
            parts.append(f"""s{b + 1} AS MATERIALIZED (
              SELECT * FROM s{b} UNION ALL
              SELECT doc_id, text, {b + 1} AS batch_seq FROM cl{b})""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT doc_id, CAST(batch_seq AS INTEGER) AS batch_seq "
        f"FROM s{n_batches}"
    )


@register("stream_ingest_neardedup", oracle=_neardedup_replay_oracle())
def stream_ingest_neardedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-refresh ingestion loop as a REAL availableNow
    micro-batch run (streaming/windows.run_stream_ingest_neardedup):
    documents arrive in three deterministic batches; each batch dedups
    against itself (exact + near) and then against the accumulated
    survivor snapshot before appending — streaming composition of the
    same operators dedup_incremental value-checks in batch mode.
    Promoted from rows-only in round 10 (VERDICT r8 #5): the arrival
    order is deterministic, so the greedy survivor chain is exactly
    SQL-replayable — the oracle unrolls three rounds of the
    dedup_incremental oracle over the accumulating snapshot, making
    the streaming machinery itself (micro-batch boundaries, snapshot
    state threading, per-batch seq stamps) value-checked every round.
    The sequential Python mirror stays as the pytest
    (tests/test_streaming.py::test_stream_ingest_neardedup_matches_replay).
    """
    from panditya_spark.streaming.windows import run_stream_ingest_neardedup

    return run_stream_ingest_neardedup(spark, sf_dir).orderBy("doc_id")
