"""Bench HONESTY audit: verify the bench materializer cannot
ELIMINATE any headline query's real work.

Round-5 lesson: count() is not a safe materializer — Spark removes
left-outer joins with provably duplicate-free right sides, prunes
cardinality-preserving windows/generates, strips projection
expressions nothing consumes, AND strips aggregate MEASURES (only
group keys are needed to count groups). A plan-diff of
df.groupBy().count() vs each query's own plan found 12 of 32
headline queries partly or wholly eliminated; bench.py therefore
materializes through a noop-format WRITE, which consumes every
output row — nothing is eliminable by construction.

This audit (a) asserts bench.py still uses the noop materializer and
(b) reports, per query, what a count() materializer WOULD eliminate
(lost operators, stripped measures, stripped projections) — so if
anyone reverts the harness, the audit fails with the full damage
list. Load-independent: only plans are inspected, nothing executes.

Usage: python scripts/bench_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_OPS = ("Join", "Window", "Generate", "EvalPython", "InPandas", "MapInPandas")

def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def main() -> int:
    import bench as bench_mod
    from panditya_spark.plans import QUERIES
    from panditya_spark.session import get_spark

    # The harness must use the eliminate-proof noop write.
    import inspect

    bench_src = inspect.getsource(bench_mod)
    noop_harness = 'format("noop")' in bench_src
    if not noop_harness:
        print("FAIL bench.py: materializer is not the noop write — "
              "the per-query elimination report below is live damage")

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("bench-audit")
    spark.sparkContext.setLogLevel("ERROR")

    failures = 0 if noop_harness else 1
    for name in bench_mod.HEADLINE:
        try:
            df = QUERIES[name](spark, sf_dir)
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: query error {exc!r}"[:300])
            failures += 1
            continue
        raw = _plan(df)
        cnt = _plan(df.groupBy().count())
        lost = [
            op for op in _OPS if cnt.count(op) < raw.count(op)
        ]
        # Aggregate-measure stripping: the Aggregate node survives a
        # count() (grouping changes cardinality) but its measure
        # expressions do not — compare measure-function occurrences.
        measures = ("sum(", "avg(", "max(", "min(", "collect_",
                    "approx_", "percentile", "stddev", "count(distinct")
        lost_measures = [
            m for m in measures if cnt.lower().count(m) < raw.lower().count(m)
        ]
        shrank = len(cnt) < 0.35 * len(raw)
        status = "PASS" if noop_harness else "FAIL"
        if lost:
            print(f"{status} {name}: count() would eliminate {lost}")
            failures += 0 if noop_harness else 1
        elif lost_measures:
            print(f"{status} {name}: count() would strip measures {lost_measures}")
            failures += 0 if noop_harness else 1
        elif shrank:
            print(
                f"{status} {name}: count() would strip the projection "
                f"({len(cnt)} vs {len(raw)} plan chars)"
            )
            failures += 0 if noop_harness else 1
        else:
            print(f"PASS {name}: safe even under count()")
    print(f"\n{failures} bench-honesty failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
