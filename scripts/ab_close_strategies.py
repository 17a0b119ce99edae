"""A/B triangle_list's two closes on ONE graph in ONE session:
broadcast and the broadcast-probed blocked bloom (at the bits per edge
the heap-derived cap gives), each forced by patching the broadcast
tier's ceiling graph._BLOOM_MIN_EDGES on the same pinned co-purchase
edge set, so the comparison isolates the close. Results merge into
.stress/ab_close.json keyed by "<sf_tag>:<edge_count>edges".

Usage: python scripts/ab_close_strategies.py [sf_dir]
Env: STRESS_REPS (default 2) -> min-of-N per mode.
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

OUT = os.path.join(ROOT, ".stress", "ab_close.json")


def _rest(path: str):
    with urllib.request.urlopen(
        f"http://localhost:4040/api/v1/{path}", timeout=10
    ) as r:
        return json.load(r)


def _snap():
    try:
        app = _rest("applications")[0]["id"]
        stages = _rest(f"applications/{app}/stages?status=COMPLETE")
        return {
            "w": sum(s.get("shuffleWriteBytes", 0) for s in stages),
            "r": sum(s.get("shuffleReadBytes", 0) for s in stages),
        }
    except Exception as exc:  # noqa: BLE001 — metrics are best-effort
        print(f"rest metrics unavailable: {exc!r}", file=sys.stderr)
        return {"w": 0, "r": 0}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".stress", "sf1")
    reps = max(1, int(os.environ.get("STRESS_REPS", "2")))

    from pyspark.sql import SparkSession, functions as F

    from panditya_spark.session import ensure_session_defaults

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("ab-close-strategies")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    ensure_session_defaults(spark)
    spark.sparkContext.setLogLevel("ERROR")

    from panditya_spark.operators import graph as G

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = (
        x.join(y, "k")
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = e.count()

    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(subprocess.run(
            ["git", "-C", ROOT, "status", "--porcelain",
             "--untracked-files=no", "--", ".", ":(exclude).stress"],
            capture_output=True, text=True, check=True,
        ).stdout.strip())
        if dirty:
            commit += "+dirty"
    except Exception:  # noqa: BLE001
        commit = "unknown"

    # The ceiling of the broadcast tier each mode runs under.
    modes = {"broadcast": n, "bloom": 0}
    result = {
        "sf_dir": sf_dir, "edges": n, "commit": commit,
        "reps": reps, "estimator": f"min_of_{reps}",
    }
    n_tri_ref = None
    for name, ceiling in modes.items():
        walls = []
        before = _snap()
        n_tri = None
        G._BLOOM_MIN_EDGES = ceiling
        for _ in range(reps):
            t0 = time.time()
            n_tri = G.triangle_list(e).count()
            walls.append(round(time.time() - t0, 1))
        after = _snap()
        if n_tri_ref is None:
            n_tri_ref = n_tri
        elif n_tri != n_tri_ref:
            raise RuntimeError(
                f"{name}: {n_tri} triangles != reference {n_tri_ref}"
            )
        result[name] = {
            "wall_sec": min(walls),
            "walls": walls,
            "triangles": n_tri,
            # reps-summed exchange, dominated by rep 1 for checkpointed
            # inputs; divide by reps for a per-run upper bound.
            "shuffle_write_mb_all_reps": round((after["w"] - before["w"]) / 2**20, 1),
        }
        print(name, result[name], flush=True)
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    # Merge under a per-scale key so multi-tier sweeps accumulate.
    book = {}
    if os.path.exists(OUT):
        with open(OUT) as fh:
            book = json.load(fh)
    key = f"{os.path.basename(sf_dir.rstrip('/'))}:{n}edges"
    book[key] = result
    tmp = OUT + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(book, fh, indent=1)
    os.replace(tmp, OUT)
    print("wrote", OUT, "key", key)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
