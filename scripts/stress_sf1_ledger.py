"""sf1 stress ledger (VERDICT r8 #3, extended r12 to the full bench
headline set per VERDICT r11 #1): run queries once warm at sf0.1 and
once at the synthesized sf1 decade (scripts/build_sf1_stress.py),
recording wall-clock, the job count (the round-count proxy: one Spark
job per materialized loop round/probe), and shuffle read/write volume
per query from the UI REST API. Results append incrementally to
.stress/ledger_sf1.json so a long tail operator can't lose the earlier
rows.

Provenance discipline (VERDICT r11 #6): every row carries the HEAD
commit that produced it plus reps/estimator, and a row is only ever
overwritten together with its provenance — a stale row is now
self-identifying instead of silently contradicting newer measurements.

Streaming rows additionally capture the state-store boundedness
evidence (VERDICT r11 #3): peak numRowsTotal / memoryUsedBytes across
micro-batches from the LAST_PROGRESS snapshots windows.py records.

Usage:
  python scripts/stress_sf1_ledger.py [query ...]   # default: graph set
  python scripts/stress_sf1_ledger.py --headline    # bench.py HEADLINE set
Env: STRESS_REPS (default 1) -> min-of-N per tier.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
import time
import urllib.request

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(ROOT, ".stress", "sf1")
OUT = os.path.join(ROOT, ".stress", "ledger_sf1.json")

ORDER = [
    "g5_connected_components",
    "g14_scc",
    "g8_pagerank_topk",
    "g16_hits_topk",
    "g18_weighted_sssp",
    "g15_kcore",
    "g17_ktruss",
]

# Rows that exist only in this ledger (not registry queries): sampled
# distributed Brandes, which g7's exact request does not take at these
# edge counts (key-chain edges stay under the 2M exact cap even at sf1),
# measured explicitly because distributed-sampled IS the 100 TB mode.
# An explicit sample_sources always runs the distributed path.
def _g7_distributed(spark, sf_dir):
    from panditya_spark.operators.graph import betweenness_centrality
    from panditya_spark.plans.graph_queries import key_chain_edges

    return betweenness_centrality(key_chain_edges(spark, sf_dir), sample_sources=64)


def _trussness_full(spark, sf_dir):
    """FULL-graph truss decomposition (the registry's g17_trussness
    runs the l_orderkey %% 4 slice to keep its unrolled SQL oracle
    tractable; the full co-purchase graph — the same edges g17_ktruss
    peels its one k=10 slice from — is the scale row the operator
    docstring points here for)."""
    import os as _os

    from pyspark.sql import functions as F

    from panditya_spark.operators.graph import truss_decomposition

    li = spark.read.parquet(_os.path.join(sf_dir, "lineitem.parquet"))
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return truss_decomposition(e)


EXTRA = {
    "g7_betweenness_distributed": _g7_distributed,
    "g17_trussness_full": _trussness_full,
}


def _rest(path: str):
    with urllib.request.urlopen(f"http://localhost:4040/api/v1/{path}", timeout=10) as r:
        return json.load(r)


def _metrics_snapshot():
    try:
        app = _rest("applications")[0]["id"]
        stages = _rest(f"applications/{app}/stages?status=COMPLETE")
        jobs = _rest(f"applications/{app}/jobs")
        return {
            "shuffle_write": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "shuffle_read": sum(s.get("shuffleReadBytes", 0) for s in stages),
            "n_jobs": len(jobs),
        }
    except Exception as exc:  # noqa: BLE001 — metrics are best-effort
        print(f"rest metrics unavailable: {exc!r}", file=sys.stderr)
        return {"shuffle_write": 0, "shuffle_read": 0, "n_jobs": 0}


def _state_store_peak() -> dict | None:
    """Peak state-store footprint across every micro-batch progress
    snapshot the last streaming run recorded (windows.LAST_PROGRESS) —
    the boundedness evidence: state rows should track concurrent keys,
    not total input volume."""
    from panditya_spark.streaming import windows

    rows_peak = mem_peak = n_batches = 0
    for progresses in windows.LAST_PROGRESS.values():
        n_batches = max(n_batches, len(progresses))
        for p in progresses:
            for op in p.get("stateOperators") or []:
                rows_peak = max(rows_peak, op.get("numRowsTotal") or 0)
                mem_peak = max(mem_peak, op.get("memoryUsedBytes") or 0)
    if not (rows_peak or mem_peak):
        return None
    return {
        "state_rows_peak": rows_peak,
        "state_mem_mb_peak": round(mem_peak / 2**20, 1),
        "n_batches": n_batches,
    }


def _prep(spark, sf_dir: str) -> None:
    """Input-layout preparation bench.py also does (not engine warmup):
    the date-partitioned events layout s_dpp_join probes and the
    3-way time-split streaming input stream_record_high replays."""
    try:
        from panditya_spark.plans.sink_queries import _partitioned_events

        _partitioned_events(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"layout prep failed ({sf_dir}): {exc!r}", file=sys.stderr)
    try:
        from panditya_spark.plans.streaming_queries import _upsert_stream_input

        _upsert_stream_input(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        print(f"stream-input prep failed ({sf_dir}): {exc!r}", file=sys.stderr)


def main() -> int:
    from pyspark.sql import SparkSession

    from panditya_spark.session import ensure_session_defaults

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("sf1-stress-ledger")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "true")
        # Long multi-row sessions roll past the default 1000-stage UI
        # retention, making late shuffle deltas NEGATIVE (observed on
        # the first 35-row headline run: dedup_semantic at -57.5 MB).
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .getOrCreate()
    )
    ensure_session_defaults(spark)
    spark.sparkContext.setLogLevel("ERROR")
    from panditya_spark.plans import QUERIES
    from panditya_spark.streaming import windows

    args = sys.argv[1:]
    if args == ["--headline"]:
        sys.path.insert(0, ROOT)
        from bench import HEADLINE

        names = list(HEADLINE)
    else:
        names = args or ORDER
    unknown = [n for n in names if n not in QUERIES and n not in EXTRA]
    if unknown:
        print(f"unknown query name(s): {unknown}", file=sys.stderr)
        return 2

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(subprocess.run(
            # The dirty marker means "the measured CODE is not the
            # named commit" — the ledger JSONs this script family
            # appends to are tracked artifacts that a prior session in
            # the same round legitimately rewrites, so .stress/ is
            # excluded from the check.
            ["git", "-C", ROOT, "status", "--porcelain",
             "--untracked-files=no", "--", ".", ":(exclude).stress"],
            capture_output=True, text=True, check=True,
        ).stdout.strip())
        if dirty:
            commit += "+dirty"
    except Exception:  # noqa: BLE001 — provenance is best-effort outside git
        commit = "unknown"
    reps = max(1, int(os.environ.get("STRESS_REPS", "1")))

    ledger = {}
    if os.path.exists(OUT):
        ledger = json.load(open(OUT))

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    needs_prep = any(
        n.startswith(("stream_", "s_dpp", "s_partitioned")) for n in names
    )
    if needs_prep:
        _prep(spark, SF01)
        _prep(spark, SF1)

    for name in names:
        fn = QUERIES.get(name) or EXTRA[name]
        row = {"commit": commit, "reps": reps, "estimator": f"min_of_{reps}"}
        # warm at the smallest tier, then time sf0.1 in-session for the
        # like-for-like decade ratio.
        try:
            mat(fn(spark, "/root/testdata/sf0.001"))
            row["sf01_sec"] = round(
                min(_timed(mat, fn, spark, SF01) for _ in range(reps)), 1
            )
            # Shuffle/job metrics bracket ONLY the first sf1 rep so the
            # recorded volume is per-run, not reps x; extra reps refine
            # the wall-clock minimum only.
            before = _metrics_snapshot()
            windows.LAST_PROGRESS.clear()
            sf1_samples = [_timed(mat, fn, spark, SF1)]
            after = _metrics_snapshot()
            sf1_samples += [_timed(mat, fn, spark, SF1) for _ in range(reps - 1)]
            row["sf1_sec"] = round(min(sf1_samples), 1)
            row["sf1_jobs"] = after["n_jobs"] - before["n_jobs"]
            row["sf1_shuffle_write_mb"] = round(
                (after["shuffle_write"] - before["shuffle_write"]) / 2**20, 1
            )
            row["sf1_shuffle_read_mb"] = round(
                (after["shuffle_read"] - before["shuffle_read"]) / 2**20, 1
            )
            row["ratio"] = round(row["sf1_sec"] / max(row["sf01_sec"], 0.1), 1)
            if name.startswith("stream_"):
                peak = _state_store_peak()
                if peak:
                    row.update(peak)
        except Exception as exc:  # noqa: BLE001 — keep the partial ledger
            row["error"] = f"{type(exc).__name__}: {exc}"[:300]
        # Bound the cross-row neighborhood effect the r10 shared-session
        # run hit (cached sf1 shingle tables GC-pressuring later rows).
        spark.catalog.clearCache()
        ledger[name] = row
        # Serialize-then-rename (ADVICE r12 on ab_ktruss.py, applied
        # here too): a dump failure must not truncate the history this
        # script exists to accumulate.
        payload = json.dumps(ledger, indent=1)
        tmp = OUT + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(payload)
        os.replace(tmp, OUT)
        print(name, row, flush=True)
    return 0


def _timed(mat, fn, spark, sf_dir) -> float:
    t0 = time.time()
    mat(fn(spark, sf_dir))
    return time.time() - t0


if __name__ == "__main__":
    raise SystemExit(main())
