"""Self-tests for the benchmark's own machinery (no engine involved
except in the ETL fidelity test): the generator is deterministic and
reference-shaped, the oracle rejects wrong answers, and BENCHMARK.json
names exactly the metrics the benchmark emits.

    python3 -m pytest benchmark/test_benchmark.py -q
"""

from __future__ import annotations

import copy
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, _bucket, collation_key  # noqa: E402


@pytest.fixture(scope="module")
def small():
    return corpus.generate(7, 0.25)


def test_generator_is_deterministic(tmp_path):
    a, b = corpus.generate(3, 0.25), corpus.generate(3, 0.25)
    assert a.entity_rows == b.entity_rows
    assert a.seti_rows == b.seti_rows
    assert a.links == b.links
    assert sorted(a.graph.edges()) == sorted(b.graph.edges())
    assert corpus.entity_records(a) == corpus.entity_records(b)
    assert corpus.generate(4, 0.25).entity_rows != a.entity_rows

    import pandas as pd

    d1 = corpus.write_tables(3, str(tmp_path / "t1"), 0.002)
    d2 = corpus.write_tables(3, str(tmp_path / "t2"), 0.002)
    for t in ("customer", "events", "documents"):
        pd.testing.assert_frame_equal(
            pd.read_parquet(os.path.join(d1, f"{t}.parquet")),
            pd.read_parquet(os.path.join(d2, f"{t}.parquet")),
        )


def test_reference_census_shape():
    """Scale 1 reproduces the reference census: one 9,063-node component,
    3,737 isolated works, and the reference's component counts in the
    2-4 / 5-9 / 10-25 / 26-100 buckets."""
    c = corpus.generate(11)
    ora = Oracle(c)
    sizes = sorted((len(x) for x in ora.components()), reverse=True)
    assert sizes[0] == corpus.GIANT_NODES
    assert sizes.count(1) == corpus.ISOLATED_WORKS
    for _, n_comp, (lo, hi), n_nodes in corpus.CENSUS:
        in_bucket = [s for s in sizes if lo <= s <= hi]
        assert len(in_bucket) == n_comp and sum(in_bucket) == n_nodes
    kinds = {k: list(c.types.values()).count(k) for k in ("work", "author")}
    assert 0.15 < kinds["author"] / len(c.types) < 0.3


def test_corpus_has_the_fixture_quirks(small):
    cells = [r[9] for r in small.seti_rows]
    assert "..." in cells
    assert any("\n" in x for x in cells) and any(", " in x for x in cells)
    assert any("," in r[5] for r in small.entity_rows if r[0] == "Work")
    per_work: dict = {}
    for wid, coll, _, _ in small.links:
        per_work.setdefault(wid, set()).add(coll)
    assert any(len(cs) >= 3 for cs in per_work.values())
    import networkx as nx

    planted = set(small.cycle_edges)
    inspired = small.graph.edge_subgraph(
        [
            (u, v) for u, v, d in small.graph.edges(data=True)
            if d["relationship"] == "inspired" and (u, v) not in planted
        ]
    )
    assert nx.dag_longest_path_length(inspired) >= 3
    assert small.pruned_persons > 0
    # Each planted edge closes a directed cycle: SCC has components to find.
    sccs = [s for s in nx.strongly_connected_components(small.graph) if len(s) > 1]
    assert planted and all(any(u in s and v in s for s in sccs) for u, v in planted)


def _answer(ora: Oracle, seed: str, hops: int, exclude: list[str]) -> dict:
    """A correct subgraph response built from the oracle's own data."""
    dist, edges = ora.khop([seed], hops, set(exclude))
    return {
        "graph": {
            "nodes": [
                {
                    "id": i, "label": ora.c.names[i], "type": ora.c.types[i],
                    "is_central": i == seed, "is_excluded": i in exclude,
                    "etext_links": ora.nested([i]).get(i, False),
                }
                for i in dist
            ],
            "edges": [{"source": u, "target": v, "relationship": r} for u, v, r in edges],
        }
    }


def test_oracle_catches_wrong_answers(small):
    import networkx as nx

    ora = Oracle(small)
    hub = max(small.types, key=lambda i: (small.graph.degree(i), i))
    nbr = next(iter(ora.und[hub]))
    good = _answer(ora, hub, 2, [nbr])
    assert ora.check_subgraph(good, [hub], 2, [nbr]) is None

    dropped = copy.deepcopy(good)
    dropped["graph"]["nodes"].pop()
    assert ora.check_subgraph(dropped, [hub], 2, [nbr])
    relabeled = copy.deepcopy(good)
    relabeled["graph"]["nodes"][0]["label"] += "x"
    assert ora.check_subgraph(relabeled, [hub], 2, [nbr])
    no_edge = copy.deepcopy(good)
    no_edge["graph"]["edges"].pop()
    assert ora.check_subgraph(no_edge, [hub], 2, [nbr])
    # Ignoring the exclusion expands the excluded node: a wrong answer.
    assert ora.check_subgraph(_answer(ora, hub, 2, []), [hub], 2, [nbr])

    ranks = ora.pagerank(3, 0.85)
    rows = [{"node": n, "rank": r} for n, r in ranks.items()]
    assert ora.check_pagerank(rows, 3, 0.85) is None
    rows[0]["rank"] *= 1.001
    assert ora.check_pagerank(rows, 3, 0.85)

    census = {}
    for comp in ora.components():
        row = census.setdefault(_bucket(len(comp)), {"category": _bucket(len(comp)), "n_nodes": 0, "n_components": 0})
        row["n_nodes"] += len(comp)
        row["n_components"] += 1
    census_rows = list(census.values())
    assert ora.check_census(census_rows) is None
    census_rows[0]["n_components"] += 1
    assert ora.check_census(census_rows)

    scc = {n: min(comp) for comp in nx.strongly_connected_components(small.graph) for n in comp}
    scc_rows = [{"node": n, "scc": s} for n, s in scc.items() if small.graph.degree(n)]
    assert ora.check_scc(scc_rows) is None
    assert ora.check_scc(scc_rows[1:])  # a node missing
    assert ora.check_scc([{"node": r["node"], "scc": r["node"]} for r in scc_rows])  # no cycles found

    labels = sorted((f"{small.names[i]} ({i})" for i in small.types), key=collation_key)
    by_type = {k: [] for k in ("authors", "works")}
    options = []
    for label in labels:
        i = label.rsplit("(", 1)[1].rstrip(")")
        options.append({"id": i, "label": label})
        by_type[small.types[i] + "s"].append(options[-1])
    dropdown = {"all": options, **by_type}
    assert ora.check_dropdown(dropdown) is None
    swapped = [options[1], options[0], *options[2:]]
    assert ora.check_dropdown({**dropdown, "all": swapped})

    coll = "GRETIL"
    want = ora.nested({w for w, cs in ora._members().items() if coll in cs and w != "..."}, {coll})
    assert ora.check_by_collection(want, coll) is None
    assert ora.check_by_collection({**want, "99999999": {coll: ["x"]}}, coll)


def test_tracing_overhead_uses_complete_pairs_only():
    """Overhead is traced minus untraced pass wall per traced op, over
    pairs that have both passes; only counted ops enter the figures."""
    from types import SimpleNamespace

    spark = SimpleNamespace(sparkContext=SimpleNamespace(setJobGroup=lambda *a: None))
    b = workloads.Bench(spark, False)
    b.status = SimpleNamespace(gc_ms=lambda: 0.0, group=lambda *a: {})
    for pair, traced, n_ops, wall in [(0, True, 2, 0.8), (0, False, 2, 0.6), (1, True, 1, 5.0)]:
        b.tracing, b.pair, b.counted = traced, pair, traced
        for _ in range(n_ops):
            b.op("x", "serving.subgraph_response.ms", lambda: None, lambda r: None)
        b.end_pass(wall)
    assert abs(b.overhead_ms() - 100.0) < 1e-9
    assert len(b.measured()) == 3 and len(b.layer["serving.subgraph_response.ms"]) == 3


def test_benchmark_json_names_every_emitted_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.per_layer_units()
    assert all(m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert spec["command"][1:] == ["benchmark/run.py"] and spec["paths"] == ["benchmark"]


def test_etl_matches_the_snapshot(tmp_path):
    """The entity snapshot the server loads equals what the engine's ETL
    derives from the generated CSV (starts a Spark session)."""
    os.environ.setdefault("PYTHONPATH", ROOT)
    from panditya_spark.etl import entities_from_csv
    from panditya_spark.session import get_spark

    c = corpus.generate(5, 0.1)
    ent_csv, _ = corpus.write_csvs(c, str(tmp_path))
    spark = get_spark("bench-selftest")
    try:
        got = {r["id"]: r.asDict() for r in entities_from_csv(spark, ent_csv).collect()}
    finally:
        spark.stop()
    want = {r["id"]: r for r in corpus.entity_records(c)}
    assert got.keys() == want.keys()
    for i, rec in want.items():
        assert {k: got[i][k] for k in rec} == rec, i
