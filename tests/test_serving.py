"""subgraph_response (POST /api/graph/subgraph, SURVEY §3.1) over a
hand-built ten-entity graph, so the serving path is pinned without the
reference data files.

    a1 ─wrote→ w1 ─inspired→ w4 ─inspired→ w5
    a1 ─wrote→ w2 ─inspired→ w3 ─inspired→ w6
    w1 ─inspired→ w2       a2 ─wrote→ w3        w7, w8 isolated
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import panditya_spark.serving as serving
from panditya_spark.operators.graph import khop_bfs

WROTE = "source author wrote target work"
INSPIRED = "source base text inspired target commentary"

ENTITY_SCHEMA = (
    "id string, type string, name string, aka string, social_identifiers string, "
    "discipline string, disciplines string, lowest_year int, highest_year int, "
    "author_lowest_year int, author_highest_year int"
)
EDGES = [
    ("a1", "w1", "wrote"), ("a1", "w2", "wrote"), ("a2", "w3", "wrote"),
    ("w1", "w2", "inspired"), ("w1", "w4", "inspired"), ("w4", "w5", "inspired"),
    ("w2", "w3", "inspired"), ("w3", "w6", "inspired"),
]
LINKS = [
    # one subtype: flattened to the bare sorted, de-duplicated url list
    ("w1", "GRETIL", "w", "u1"), ("w1", "GRETIL", "w", "u0"), ("w1", "GRETIL", "w", "u1"),
    # two subtypes in DCS: nested per subtype; GRETIL beside it flattened
    ("w2", "DCS", "web HTML", "d1"), ("w2", "DCS", "GitHub (1) CoNLL-U", "d2"),
    ("w2", "GRETIL", "w", "g2"),
    ("w7", "SARIT", "web HTML", "s7"),
]


@pytest.fixture(scope="module")
def tables(spark):
    def work(i, **kw):
        return (i, "work", f"Work {i}", "", None, kw.get("disc", "Nyāya"), None,
                kw.get("ly"), kw.get("hy"), kw.get("aly"), kw.get("ahy"))

    entities = spark.createDataFrame(
        [
            ("a1", "author", "Author One", "A1", "viaf:1", None, "Nyāya (2)", 300, 400, None, None),
            ("a2", "author", "Author Two", "", "", None, "Yoga (1)", None, None, None, None),
            work("w1", aly=300, ahy=400), work("w2", ly=500, hy=500), work("w3"),
            work("w4"), work("w5"), work("w6"), work("w7"), work("w8"),
        ],
        ENTITY_SCHEMA,
    ).cache()
    edges = spark.createDataFrame(EDGES, "src string, dst string, relationship string").cache()
    links = spark.createDataFrame(
        LINKS, "work_id string, collection string, subtype string, url string"
    ).cache()
    return entities, edges, links


def _reply(tables, authors, works, hops, exclude=None, links=True):
    entities, edges, etext = tables
    return serving.subgraph_response(
        entities, edges, etext if links else None, authors, works, hops, exclude
    )


def _nodes(resp):
    return {n["id"]: n for n in resp["graph"]["nodes"]}


def _edges(resp):
    return sorted((e["source"], e["target"], e["relationship"]) for e in resp["graph"]["edges"])


def test_reply_shape(tables):
    resp = _reply(tables, ["a1"], [], 1)
    assert set(resp) == {"parameters", "graph"}
    assert resp["parameters"] == {"authors": ["a1"], "works": [], "hops": 1, "exclude_list": []}
    nodes = _nodes(resp)
    assert set(nodes) == {"a1", "w1", "w2"}
    assert nodes["a1"] == {
        "id": "a1", "label": "Author One", "type": "author", "aka": "A1",
        "social_ids": "viaf:1", "dates": "300–400", "discipline": None,
        "disciplines": "Nyāya (2)", "is_central": True, "is_excluded": False,
        "etext_links": False,
    }
    assert nodes["w1"]["dates"] == "300–400 (author)"
    assert nodes["w1"]["discipline"] == "Nyāya" and nodes["w1"]["disciplines"] is None
    assert nodes["w1"]["social_ids"] is None
    assert nodes["w2"]["dates"] == "500" and nodes["w2"]["is_central"] is False
    assert len(resp["graph"]["edges"]) == 3
    assert all(set(e) == {"source", "target", "relationship"} for e in resp["graph"]["edges"])


@pytest.mark.parametrize("hops", [0, 1])
def test_unknown_seed_is_invalid_id(tables, hops):
    assert _reply(tables, ["zz"], [], hops) == {"error": "Invalid ID: 'zz'"}
    assert _reply(tables, ["a1"], ["zz"], hops) == {"error": "Invalid ID: 'zz'"}


def test_input_validation(tables):
    assert _reply(tables, [], [], 1) == {"error": "require either one or both of authors or works"}
    assert _reply(tables, ["a1"], [], -1) == {"error": "hops must be a non-negative integer"}


def test_excluded_node_reached_not_expanded(tables):
    resp = _reply(tables, ["a1"], [], 2, exclude=["w1"])
    nodes = _nodes(resp)
    # w1 is reached at hop 1 but never expanded, so w4 stays out; w3
    # comes in through w2.
    assert set(nodes) == {"a1", "w1", "w2", "w3"}
    assert (nodes["w1"]["is_excluded"], nodes["w1"]["is_central"]) == (True, False)
    assert (nodes["a1"]["is_excluded"], nodes["a1"]["is_central"]) == (False, True)
    assert resp["parameters"]["exclude_list"] == ["w1"]
    # an excluded seed is central and excluded, and is not expanded
    only = _nodes(_reply(tables, [], ["w1"], 2, exclude=["w1"]))
    assert set(only) == {"w1"}
    assert (only["w1"]["is_excluded"], only["w1"]["is_central"]) == (True, True)


def test_etext_link_shapes(tables):
    nodes = _nodes(_reply(tables, ["a1"], [], 1))
    assert nodes["a1"]["etext_links"] is False
    assert nodes["w1"]["etext_links"] == {"GRETIL": ["u0", "u1"]}
    assert nodes["w2"]["etext_links"] == {
        "DCS": {"web HTML": ["d1"], "GitHub (1) CoNLL-U": ["d2"]},
        "GRETIL": ["g2"],
    }
    assert _nodes(_reply(tables, ["a1"], [], 1, links=False))["w1"]["etext_links"] is False


def test_relationship_phrases_and_periphery_trim(tables):
    # hop 1 from a1: the w1→w2 edge between two periphery nodes stays,
    # w1→w4 and w2→w3 leave the visited set and are trimmed.
    assert _edges(_reply(tables, ["a1"], [], 1)) == [
        ("a1", "w1", WROTE), ("a1", "w2", WROTE), ("w1", "w2", INSPIRED),
    ]
    assert _edges(_reply(tables, [], ["w4"], 1)) == [
        ("w1", "w4", INSPIRED), ("w4", "w5", INSPIRED),
    ]
    assert _edges(_reply(tables, [], ["w7"], 3)) == []


def test_serving_cap_on_etext_groups(tables, monkeypatch):
    """The e-text cap counts (work_id, collection, subtype) groups, not
    raw link rows: hop 1 from a1 reaches w1 and w2, whose six link rows
    (one a duplicate url) fold into four groups."""
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 4)
    assert len(_nodes(_reply(tables, ["a1"], [], 1))) == 3
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 3)
    with pytest.raises(serving.ServingCapExceeded, match="subgraph e-text annotation"):
        _reply(tables, ["a1"], [], 1)


def test_serving_cap_on_node_set(tables, monkeypatch):
    """The node cap is checked after every hop, so the request stops at
    the hop whose new nodes cross it: from a1 the visited set grows
    1 → 3 → 5 → 8 over hops 1-3. The expanded frontiers show where."""
    expanded = []
    real = serving.in_set

    def spy(col, values):
        if col == "src":
            expanded.append(set(values))
        return real(col, values)

    monkeypatch.setattr(serving, "in_set", spy)
    hop1, hop2, hop3 = {"a1"}, {"w1", "w2"}, {"w3", "w4"}
    for cap, hops, frontiers in [(3, 3, [hop1, hop2]), (5, 3, [hop1, hop2, hop3]), (2, 1, [hop1])]:
        monkeypatch.setattr(serving, "SERVING_MAX_ROWS", cap)
        expanded.clear()
        with pytest.raises(serving.ServingCapExceeded, match="subgraph node set"):
            _reply(tables, ["a1"], [], hops, links=False)
        assert expanded == frontiers
    # the seeds alone over the cap: no scan at all
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 1)
    expanded.clear()
    with pytest.raises(serving.ServingCapExceeded, match="subgraph node set"):
        _reply(tables, ["a1"], ["w1"], 2, links=False)
    assert expanded == []
    # an at-cap node set is served
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 3)
    assert len(_reply(tables, ["a1"], [], 1, links=False)["graph"]["nodes"]) == 3


def test_request_starts_no_python_worker(tables, monkeypatch):
    """No frame is built from request data: a frame from Python rows
    parallelizes a Python RDD, and every job that scans it starts a
    Python worker."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    def refuse(*a, **kw):
        raise AssertionError("the request built a frame from Python data")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    resp = _reply(tables, ["a1"], ["w3"], 2, exclude=["w1"])
    assert set(_nodes(resp)) == {"a1", "w1", "w2", "w3", "a2", "w6"}


def _jobs_after(spark, first: int) -> list:
    """The status store's jobs with id >= first, once the listener bus
    has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = []
    while it.hasNext():
        j = it.next()
        if j.jobId() >= first:
            out.append(j)
    return out


@pytest.fixture(scope="module")
def partitioned_tables(tables):
    """The fixture tables cached as one and as two partitions each. One
    partition makes every collect exactly one job; two keep the shuffle
    check honest, since a plan over a single partition needs no
    exchange even for a distinct."""
    out = {n: tuple(t.coalesce(1).repartition(n).cache() for t in tables) for n in (1, 2)}
    for ts in out.values():
        for t in ts:
            t.count()
    yield out
    for ts in out.values():
        for t in ts:
            t.unpersist()


def _request_jobs(spark, tables, hops) -> list:
    """The status store's records of the jobs a hops-h request from a1
    starts, run under its own job group."""
    jsc = spark.sparkContext._jsc.sc()
    first = max([j.jobId() + 1 for j in _jobs_after(spark, 0)] or [0])
    group = f"serving-shape-{hops}"
    spark.sparkContext.setJobGroup(group, "subgraph job shape")
    try:
        assert "graph" in _reply(tables, ["a1"], [], hops)
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    jobs = _jobs_after(spark, first)
    assert all(j.jobGroup().get() == group for j in jobs)
    return jobs


@pytest.mark.parametrize("hops", [0, 1, 2, 3])
def test_job_shape(spark, partitioned_tables, hops):
    """A hops-h request from a1 scans the edges once per hop, then the
    induced edges, the entities and the links once each: h + 3 jobs
    over one-partition tables. Over two partitions no job writes
    shuffle data, broadcasts, checkpoints or caches."""
    assert len(_request_jobs(spark, partitioned_tables[1], hops)) == hops + 3
    jsc = spark.sparkContext._jsc.sc()
    persisted = jsc.getPersistentRDDs().size()
    store = jsc.statusStore()
    for j in _request_jobs(spark, partitioned_tables[2], hops):
        assert not j.name().startswith(("localCheckpoint", "checkpoint")), j.name()
        tags = j.jobTags().iterator()
        while tags.hasNext():
            assert not tags.next().startswith("broadcast exchange")
        stages = j.stageIds().iterator()
        while stages.hasNext():
            assert store.lastStageAttempt(stages.next()).shuffleWriteBytes() == 0
    assert jsc.getPersistentRDDs().size() == persisted


def test_ids_needing_escapes_round_trip(spark):
    """Ids with quotes, backslashes and IAST letters survive the IN
    predicate, both as a short list (an In of literals) and past the
    optimizer's InSet threshold of 10 values."""
    from panditya_spark.operators.relational import in_set

    odd = ["o'neil", "back\\slash", "\\'", "'", "śāstra", "ā'\\ś", "x"]
    ids = odd + [f"w{i}" for i in range(6)]
    entities = spark.createDataFrame(
        [(i, "work", f"Work {i}", "", None, None, None, None, None, None, None) for i in ids],
        ENTITY_SCHEMA,
    )
    # a star around "'": every id is one hop from it
    edges = spark.createDataFrame(
        [("'", i, "inspired") for i in ids if i != "'"], "src string, dst string, relationship string"
    )
    resp = serving.subgraph_response(entities, edges, None, [], ["'"], 1)
    assert set(_nodes(resp)) == set(ids)
    assert len(resp["graph"]["edges"]) == len(ids) - 1
    for some in (odd[:3], odd[3:], ids):
        got = entities.where(in_set("id", some)).select("id").collect()
        assert sorted(r.id for r in got) == sorted(some)
    assert entities.where(in_set("id", [])).count() == 0


# ------------------------------------------------------- property test
NODES = [f"n{i}" for i in range(7)]


@pytest.fixture(scope="module")
def property_entities(spark):
    return spark.createDataFrame(
        [
            (n, "author" if i < 2 else "work", n, "", None, None, None, None, None, None, None)
            for i, n in enumerate(NODES)
        ],
        ENTITY_SCHEMA,
    ).cache()


@settings(max_examples=12, deadline=None)
@given(
    edge_list=st.lists(st.tuples(st.sampled_from(NODES), st.sampled_from(NODES)), max_size=12),
    seeds=st.lists(st.sampled_from(NODES + ["unknown"]), min_size=1, max_size=3),
    exclude=st.lists(st.sampled_from(NODES), max_size=3),
    hops=st.integers(0, 4),
)
def test_reply_matches_khop_bfs(spark, property_entities, edge_list, seeds, exclude, hops):
    """On random small digraphs (self-loops and duplicate edges
    included), the reply's nodes, flags and (src, dst) edge list equal
    the distributed khop_bfs's visited set and induced edges; a seed
    without an entity row is an Invalid ID."""
    edges = spark.createDataFrame(
        [(s, d, "inspired") for s, d in edge_list], "src string, dst string, relationship string"
    )
    resp = serving.subgraph_response(property_entities, edges, None, [], seeds, hops, exclude)
    if "unknown" in seeds:
        assert resp == {"error": "Invalid ID: 'unknown'"}
        return
    seed_df = spark.createDataFrame([(s,) for s in seeds], "node string")
    excl_df = spark.createDataFrame([(x,) for x in exclude], "node string") if exclude else None
    visited, induced = khop_bfs(edges, seed_df, hops, exclude=excl_df)
    want_nodes = {r.node for r in visited.collect()}
    nodes = _nodes(resp)
    assert set(nodes) == want_nodes
    for n, node in nodes.items():
        assert (node["is_central"], node["is_excluded"]) == (n in seeds, n in exclude)
    got_edges = sorted((e["source"], e["target"]) for e in resp["graph"]["edges"])
    assert got_edges == sorted((r.src, r.dst) for r in induced.collect())


def test_collection_views(spark, tables):
    """The SETI views over the fixture links plus a collection whose
    only work is the '...' placeholder: valid, and empty where the
    placeholder is dropped. valid_collections is consulted only for an
    empty reply, so an unknown collection still gets its error."""
    links = spark.createDataFrame(
        LINKS + [("w8", "DCS", "web HTML", "d8"), ("...", "PH", "w", "p")],
        "work_id string, collection string, subtype string, url string",
    )
    valid = "['DCS', 'GRETIL', 'PH', 'SARIT']"
    w1 = {"GRETIL": ["u0", "u1"]}
    w2 = {"DCS": {"web HTML": ["d1"], "GitHub (1) CoNLL-U": ["d2"]}, "GRETIL": ["g2"]}
    assert serving.by_collection_response(links, "GRETIL") == {"w1": w1, "w2": {"GRETIL": ["g2"]}}
    assert serving.by_collection_response(links, "DCS", True) == {"w2": w2, "w8": {"DCS": ["d8"]}}
    assert serving.by_collection_response(links, "PH") == {}
    assert serving.by_collection_response(links, "XX") == {
        "error": f"Invalid collection: XX. Valid options: {valid}"
    }
    assert serving.unique_to_collection_response(links, "GRETIL") == {"w1": w1}
    assert serving.unique_to_collection_response(links, "PH") == {"...": {"PH": ["p"]}}
    assert serving.unique_to_collection_response(links, "XX")["error"].startswith("Invalid collection: XX")
    assert serving.overlap_response(links, "DCS", "GRETIL") == {
        "overlap": {"w2": w2},
        "only_in_DCS": {"w8": {"DCS": ["d8"]}},
        "only_in_GRETIL": {"w1": w1},
    }
    assert serving.overlap_response(links, "SARIT", "SARIT") == {
        "overlap": {"w7": {"SARIT": ["s7"]}}, "only_in_SARIT": {},
    }
    assert serving.overlap_response(links, "SARIT", "XX") == {
        "error": f"Invalid collection(s): SARIT, XX. Valid options: {valid}"
    }
