"""Executed-plan metrics extractor: run a registry query and print the
runtime SQL metrics (rows produced, shuffle bytes, spill, scan counts)
per physical operator — the "measure, don't guess" companion to
scripts/explain_audit.py (which checks plan SHAPE pre-execution; this
reads what actually happened).

Usage: python scripts/plan_metrics.py <query> [sf_dir]
       python scripts/plan_metrics.py g5_connected_components

Prints one line per (operator, metric) with non-zero value, indented by
plan depth, then a one-line summary (total shuffle bytes / records,
spill, output rows). AQE-aware: AdaptiveSparkPlan nodes are unwrapped
to their FINAL plans, so the metrics reflect the re-optimized run.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

INTERESTING = (
    "numOutputRows",
    "numFiles",
    "filesSize",
    "shuffleBytesWritten",
    "shuffleRecordsWritten",
    "recordsRead",
    "bytesRead",
    "spillSize",
    "dataSize",
    "numPartitions",
    "time in aggregation build",
)


def _scala_map_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _scala_seq(s):
    it = s.iterator()
    while it.hasNext():
        yield it.next()


def walk(node, depth, rows, totals):
    name = node.nodeName()
    for key, metric in _scala_map_items(node.metrics()):
        try:
            val = metric.value()
        except Exception:
            continue
        if val and (key in INTERESTING or "spill" in key.lower()):
            rows.append((depth, name, key, int(val)))
            if key == "shuffleBytesWritten":
                totals["shuffle_bytes"] += int(val)
            elif key == "shuffleRecordsWritten":
                totals["shuffle_records"] += int(val)
            elif "spill" in key.lower():
                totals["spill_bytes"] += int(val)
    children = list(_scala_seq(node.children()))
    if not children:
        # Leaf-LIKE wrappers hide the executed subtree behind an
        # accessor: AdaptiveSparkPlan/ResultQueryStage (executedPlan /
        # plan), Shuffle/BroadcastQueryStage (plan). The probe is
        # isolated from the recursive call so an error deep in the
        # walk can't be mistaken for "no such unwrap method".
        inner = None
        for probe in ("executedPlan", "finalPhysicalPlan", "plan", "child"):
            try:
                inner = getattr(node, probe)()
                break
            except Exception:
                inner = None
        if inner is not None:
            walk(inner, depth + 1, rows, totals)
        return
    for child in children:
        walk(child, depth + 1, rows, totals)


def main() -> int:
    from panditya_spark.plans import QUERIES
    from panditya_spark.session import get_spark

    if len(sys.argv) < 2 or sys.argv[1] not in QUERIES:
        known = ", ".join(sorted(QUERIES)[:8])
        print(f"usage: plan_metrics.py <query> [sf_dir]; e.g. {known}, ...")
        return 2
    qname = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    spark = get_spark("plan-metrics")
    spark.sparkContext.setLogLevel("ERROR")
    df = QUERIES[qname](spark, sf_dir)
    # collect(), not count(): count() builds a SEPARATE aggregate plan
    # and executes that, leaving THIS queryExecution's metrics at zero.
    n = len(df.collect())

    rows: list[tuple[int, str, str, int]] = []
    totals = {"shuffle_bytes": 0, "shuffle_records": 0, "spill_bytes": 0}
    walk(df._jdf.queryExecution().executedPlan(), 0, rows, totals)

    print(f"== {qname} @ {sf_dir}: {n} result rows ==")
    for depth, name, key, val in rows:
        print(f"{'  ' * depth}{name}: {key} = {val:,}")
    print(
        f"-- totals: shuffle {totals['shuffle_bytes']:,} B / "
        f"{totals['shuffle_records']:,} records; "
        f"spill {totals['spill_bytes']:,} B"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
