"""subgraph_response (POST /api/graph/subgraph, SURVEY §3.1) over a
hand-built ten-entity graph, so the serving path is pinned without the
reference data files.

    a1 ─wrote→ w1 ─inspired→ w4 ─inspired→ w5
    a1 ─wrote→ w2 ─inspired→ w3 ─inspired→ w6
    w1 ─inspired→ w2       a2 ─wrote→ w3        w7, w8 isolated
"""

from __future__ import annotations

from functools import partial

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

import panditya_spark.serving as serving
from panditya_spark.functions.collation import sort_key_py
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
    real = serving._touching

    def spy(edges, ids):
        expanded.append(set(ids))
        return real(edges, ids)

    monkeypatch.setattr(serving, "_touching", spy)
    hop1, hop2, hop3 = {"a1"}, {"w1", "w2"}, {"w3", "w4"}
    for cap, hops, frontiers in [(3, 3, [hop1, hop2]), (5, 3, [hop1, hop2, hop3]), (2, 1, [hop1])]:
        monkeypatch.setattr(serving, "SERVING_MAX_ROWS", cap)
        expanded.clear()
        with pytest.raises(serving.ServingCapExceeded, match="subgraph node set"):
            _reply(tables, ["a1"], [], hops, links=False)
        assert expanded == frontiers
    # the seeds alone over the cap: no expansion at all
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


def _iterate(seq):
    """The elements of a JVM Scala collection."""
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _jobs_after(spark, first: int) -> list:
    """The status store's jobs with id >= first, once the listener bus
    has delivered every event."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    return [j for j in _iterate(jsc.statusStore().jobsList(None)) if j.jobId() >= first]


@pytest.fixture(scope="module")
def partitioned_tables(tables):
    """The fixture tables as one- and two-partition local checkpoints,
    the way the benchmark materializes its start-up tables. Over two
    partitions a ``limit`` fetch of a checkpoint takes a second job
    unless it reads one partition (a cached table takes one job either
    way), and an aggregate needs an exchange unless it does."""
    from panditya_spark.operators.graph import _release

    out = {
        n: tuple(t.coalesce(1).repartition(n).localCheckpoint(eager=True) for t in tables)
        for n in (1, 2)
    }
    yield out
    for ts in out.values():
        for t in ts:
            _release(t)


def _fresh(tables) -> tuple:
    """New frames over the same tables, so no snapshot is keyed on them
    yet."""
    return tuple(t.select("*") for t in tables)


def _jobs_of(spark, call, group: str) -> list:
    """The status store's records of the jobs ``call()`` starts, run
    under its own job group."""
    first = max([j.jobId() + 1 for j in _jobs_after(spark, 0)] or [0])
    spark.sparkContext.setJobGroup(group, "serving job shape")
    try:
        call()
    finally:
        spark.sparkContext._jsc.clearJobGroup()
    jobs = _jobs_after(spark, first)
    assert all(j.jobGroup().get() == group for j in jobs)
    return jobs


def _request_jobs(spark, tables, hops) -> list:
    """The jobs a hops-h request from a1 starts."""
    return _jobs_of(
        spark, lambda: _reply(tables, ["a1"], [], hops), f"serving-shape-{hops}"
    )


def _assert_no_shuffle(spark, jobs) -> None:
    """No stage of ``jobs`` writes shuffle data."""
    store = spark.sparkContext._jsc.sc().statusStore()
    for j in jobs:
        for stage in _iterate(j.stageIds()):
            assert store.lastStageAttempt(stage).shuffleWriteBytes() == 0


def _executions(spark) -> set:
    """The ids of the SQL executions the status store holds."""
    sql = spark._jsparkSession.sharedState().statusStore()
    return {x.executionId() for x in _iterate(sql.executionsList())}


def _assert_no_python(spark, before: set) -> None:
    """The SQL executions since ``before`` exist and none of their plans
    evaluates Python."""
    sql = spark._jsparkSession.sharedState().statusStore()
    plans = [
        x.physicalPlanDescription()
        for x in _iterate(sql.executionsList())
        if x.executionId() not in before
    ]
    assert plans
    for plan in plans:
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


@pytest.mark.parametrize("hops", [0, 1, 2, 3])
def test_job_shape(spark, partitioned_tables, hops):
    """On fresh frames a hops-h request from a1 starts one job per
    served table, the Arrow fetch of its snapshot (entities, edges,
    links), over one- and two-partition tables alike, since each fetch
    reads one partition. Over two partitions no job writes shuffle
    data, broadcasts, checkpoints or caches, and no plan evaluates
    Python. Once the snapshots exist, the same request again and a
    request at every hops value start no job and no SQL execution."""
    assert len(_request_jobs(spark, _fresh(partitioned_tables[1]), hops)) == 3
    jsc = spark.sparkContext._jsc.sc()
    persisted = jsc.getPersistentRDDs().size()
    fresh = _fresh(partitioned_tables[2])
    before = _executions(spark)
    jobs = _request_jobs(spark, fresh, hops)
    assert len(jobs) == 3
    for j in jobs:
        assert not j.name().startswith(("localCheckpoint", "checkpoint")), j.name()
        assert not any(t.startswith("broadcast exchange") for t in _iterate(j.jobTags()))
    _assert_no_shuffle(spark, jobs)
    _assert_no_python(spark, before)
    assert jsc.getPersistentRDDs().size() == persisted
    executed = _executions(spark)
    for again in (hops, 0, 1, 2, 3):
        assert _request_jobs(spark, fresh, again) == []
    assert _executions(spark) == executed


def _numeric(entities, links):
    """The fixture with the reference's numeric ids: a1 → 11, w1 → 21."""
    return (
        entities.withColumn("id", F.translate("id", "aw", "12")),
        links.withColumn("work_id", F.translate("work_id", "aw", "12")),
    )


def _by_work(entities, links, ids_param):
    numeric_entities, numeric_links = _numeric(entities, links)
    return serving.by_work_response(numeric_links, numeric_entities, ids_param)


def _with_author_ids(entities):
    """The fixture entities with each work's ``author_ids``, from the
    wrote edges; authors and unwritten works get null."""
    wrote: dict[str, list[str]] = {}
    for src, dst, rel in EDGES:
        if rel == "wrote":
            wrote.setdefault(dst, []).append(src)
    by_work = F.create_map(
        *[c for w, a in wrote.items() for c in (F.lit(w), F.array(*map(F.lit, a)))]
    )
    return entities.withColumn("author_ids", by_work[F.col("id")])


# (view, snapshot fetches, other jobs per call, the call over the
# fixture's (entities, links), its derived frames built once)
VIEW_SHAPES = [
    ("by_collection", 1, 0, lambda e, li: partial(serving.by_collection_response, li, "GRETIL")),
    ("by_collection_others", 1, 0, lambda e, li: partial(serving.by_collection_response, li, "DCS", True)),
    ("by_collection_invalid", 1, 0, lambda e, li: partial(serving.by_collection_response, li, "XX")),
    ("unique", 1, 0, lambda e, li: partial(serving.unique_to_collection_response, li, "GRETIL")),
    ("unique_invalid", 1, 0, lambda e, li: partial(serving.unique_to_collection_response, li, "XX")),
    ("overlap", 1, 0, lambda e, li: partial(serving.overlap_response, li, "DCS", "GRETIL")),
    ("overlap_invalid", 1, 0, lambda e, li: partial(serving.overlap_response, li, "SARIT", "XX")),
    ("labels", 1, 0, lambda e, li: partial(serving.entity_labels_response, _numeric(e, li)[0], ["21", "11"])),
    ("by_work", 2, 0, lambda e, li: partial(serving.by_work_response, *_numeric(e, li)[::-1], "21,22")),
    ("visualize", 1, 1, lambda e, li: partial(serving.visualize_collection_params, li, _with_author_ids(e), "GRETIL")),
    ("dropdown", 1, 0, lambda e, li: partial(serving.dropdown_options, e)),
]


@pytest.mark.parametrize("fetches, other, call", [v[1:] for v in VIEW_SHAPES], ids=[v[0] for v in VIEW_SHAPES])
def test_view_job_shape(spark, partitioned_tables, fetches, other, call):
    """On fresh two-partition frames an endpoint's first call starts one
    job per served table it reads, the fetch of its snapshot, plus
    visualize's author collect; no job writes shuffle data and no plan
    evaluates Python. A second call gives the same reply and starts only
    the author collect."""
    entities, _, links = _fresh(partitioned_tables[2])
    request = call(entities, links)
    replies = []
    before = _executions(spark)
    jobs = _jobs_of(spark, lambda: replies.append(request()), "serving-view-shape")
    assert len(jobs) == fetches + other
    _assert_no_shuffle(spark, jobs)
    _assert_no_python(spark, before)
    assert len(_jobs_of(spark, lambda: replies.append(request()), "serving-view-shape")) == other
    assert replies[0] == replies[1]


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


def test_collection_views_with_nulls(spark, tables):
    """The SETI views over links with a null work id, a null collection,
    a null url and the '...' placeholder, as Spark's null semantics give
    them: a ``!=`` filter drops a null work id, ``collect_set`` skips a
    null url but keeps its group, a work's collections ignore a null
    collection while the work keeps that group, and null work ids count
    as one work."""
    entities = tables[0]
    links = spark.createDataFrame(
        LINKS
        + [
            (None, "GRETIL", "w", "n0"),
            ("w7", None, "w", "n7"),
            ("w8", "DCS", "web HTML", None),
            ("...", "GRETIL", "w", "p"),
        ],
        "work_id string, collection string, subtype string, url string",
    )
    w1 = {"GRETIL": ["u0", "u1"]}
    w2_dcs = {"web HTML": ["d1"], "GitHub (1) CoNLL-U": ["d2"]}
    w2 = {"DCS": w2_dcs, "GRETIL": ["g2"]}
    w7 = {"SARIT": ["s7"], None: ["n7"]}
    w8 = {"DCS": []}
    nameless, placeholder = {"GRETIL": ["n0"]}, {"GRETIL": ["p"]}
    assert serving.by_collection_response(links, "all") == {
        "w1": w1, "w2": w2, "w7": w7, "w8": w8, None: nameless, "...": placeholder,
    }
    assert serving.by_collection_response(links, "GRETIL") == {"w1": w1, "w2": {"GRETIL": ["g2"]}}
    assert serving.by_collection_response(links, "DCS") == {"w2": {"DCS": w2_dcs}, "w8": w8}
    assert serving.by_collection_response(links, "SARIT", True) == {"w7": w7}
    assert serving.by_collection_response(links, "GRETIL", True) == {"w1": w1, "w2": w2}
    assert serving.unique_to_collection_response(links, "SARIT") == {"w7": w7}
    assert serving.unique_to_collection_response(links, "DCS") == {"w8": w8}
    assert serving.unique_to_collection_response(links, "GRETIL") == {
        "w1": w1, None: nameless, "...": placeholder,
    }
    assert serving.overlap_response(links, "DCS", "GRETIL") == {
        "overlap": {"w2": w2},
        "only_in_DCS": {"w8": w8},
        "only_in_GRETIL": {"w1": w1, None: nameless, "...": placeholder},
    }
    assert serving.overlap_response(links, "SARIT", "GRETIL") == {
        "overlap": {},
        "only_in_SARIT": {"w7": {"SARIT": ["s7"]}},
        "only_in_GRETIL": {"w1": w1, "w2": {"GRETIL": ["g2"]}, None: nameless, "...": placeholder},
    }
    assert _by_work(entities, links, "27,28") == {"27": w7, "28": w8}
    w8_node = _nodes(serving.subgraph_response(entities, tables[1], links, [], ["w8"], 0))["w8"]
    assert w8_node["etext_links"] == w8


def test_snapshot_freed_with_frame(tables):
    """A snapshot is keyed weakly on its frame and holds no reference to
    it: once the frame is dropped, the frame and its snapshot are both
    freed."""
    import gc
    import weakref

    frame = tables[0].select("*")
    serving.dropdown_options(frame)
    snapshot = weakref.ref(serving._SNAPSHOTS[frame][serving._Entities])
    ref, entries = weakref.ref(frame), len(serving._SNAPSHOTS)
    del frame
    gc.collect()
    assert ref() is None and snapshot() is None
    assert len(serving._SNAPSHOTS) < entries


def test_snapshot_bound(tables, monkeypatch):
    """Each served table is fetched under the driver-side tiers' row
    cap (graph._local_cap): a table one row over it is refused with an
    error naming the table; a table exactly at it is served."""
    from panditya_spark.operators import graph

    entities, edges, links = tables
    cases = [
        ("entity", entities, 10, serving.dropdown_options),
        ("edge", edges, 8, lambda t: serving.subgraph_response(entities, t, None, ["a1"], [], 1)),
        ("e-text link", links, 7, lambda t: serving.by_collection_response(t, "all")),
    ]
    want = [call(table.select("*")) for _, table, _, call in cases]
    for (name, table, rows, call), reply in zip(cases, want):
        monkeypatch.setattr(graph, "_local_cap", lambda spark, cap=rows - 1: cap)
        with pytest.raises(
            serving.ServingCapExceeded,
            match=f"^{name} table too large to serve: more than {rows - 1} rows",
        ):
            call(table.select("*"))
        monkeypatch.setattr(graph, "_local_cap", lambda spark, cap=rows: cap)
        assert call(table.select("*")) == reply


def test_by_work_response(tables):
    """Comma-separated numeric ids: the three input errors, no valid
    work id, and the nested links of the valid work ids only (11 is an
    author, 99 unknown, 28 a work without links)."""
    entities, _, links = tables
    for ids in ("", "  "):
        assert _by_work(entities, links, ids) == {"error": "List input must be non-empty."}
    for ids in ("21, 22", "21;22", "w1", "'21'"):
        assert _by_work(entities, links, ids) == {
            "error": "List input should not contain any characters besides numbers "
            "and comma (no whitespace, quotation marks, etc.)"
        }
    assert _by_work(entities, links, ",,") == {"error": "No IDs provided"}
    assert _by_work(entities, links, "11,99") == {"error": "No valid work IDs provided"}
    assert _by_work(entities, links, "21,22,11,99,28") == {
        "21": {"GRETIL": ["u0", "u1"]},
        "22": {"DCS": {"web HTML": ["d1"], "GitHub (1) CoNLL-U": ["d2"]}, "GRETIL": ["g2"]},
    }


def test_entity_labels_response(tables):
    """Labels of the valid ids only; a non-numeric id is a format error."""
    entities, _, links = tables
    numeric = _numeric(entities, links)[0]
    assert serving.entity_labels_response(numeric, ["21", "11", "99"]) == {
        "labels": {"21": "Work w1", "11": "Author One"}
    }
    assert serving.entity_labels_response(numeric, []) == {"labels": {}}
    assert serving.entity_labels_response(numeric, ["21", "w1"]) == {"error": "invalid id format"}


def test_visualize_collection_params(spark, tables):
    """A collection's works plus every author of those works; an
    unknown collection passes its error through."""
    entities, _, _ = tables
    links = spark.createDataFrame(
        LINKS + [("w3", "GRETIL", "w", "g3")],
        "work_id string, collection string, subtype string, url string",
    )
    params = serving.visualize_collection_params(links, _with_author_ids(entities), "GRETIL")
    assert sorted(params.pop("works")) == ["w1", "w2", "w3"]
    assert sorted(params.pop("authors")) == ["a1", "a2"]
    assert params == {"hops": 0, "exclude_list": [], "repulsion": 50}
    sarit = serving.visualize_collection_params(links, _with_author_ids(entities), "SARIT")
    assert (sarit["works"], sarit["authors"]) == (["w7"], [])
    assert serving.visualize_collection_params(links, _with_author_ids(entities), "XX")[
        "error"
    ].startswith("Invalid collection: XX")


# IAST names whose collation order is not code-point order: 'kh' and
# 'gh' are letters between k and ṅ, 'ai' and 'au' come after e, and a
# capital sorts as its lower case. The numeric ids all score as unknown
# characters, so "Kavi (31)" and "kavi (32)" tie.
IAST_NAMES = ["Gaṅgā", "Khaṇḍana", "Kavi", "kavi", "Aitareya", "Ājñā", "ghaṭa", "Ṛgveda", "Auśanasa"]


def test_dropdown_options(spark, tables, monkeypatch):
    """Every entity once, split into authors and works, in the
    reference's collation order (sort_key_py non-decreasing, ties
    adjacent); over the cap the reply is the serving cap error."""
    entities = tables[0]
    opts = serving.dropdown_options(entities)
    assert sorted(o["id"] for o in opts["all"]) == sorted(r.id for r in entities.collect())
    assert {o["id"] for o in opts["authors"]} == {"a1", "a2"}
    assert {o["id"] for o in opts["works"]} == {f"w{i}" for i in range(1, 9)}
    assert opts["authors"] + opts["works"] == sorted(opts["all"], key=lambda o: o["id"][0])
    assert {"id": "a1", "label": "Author One (a1) [300–400] [A1]"} in opts["authors"]

    iast = spark.createDataFrame(
        [
            (str(30 + i), "author" if i % 3 == 0 else "work", name, "", None, None, None,
             None, None, None, None)
            for i, name in enumerate(IAST_NAMES)
        ],
        ENTITY_SCHEMA,
    ).repartition(2)
    labels = [o["label"] for o in serving.dropdown_options(iast)["all"]]
    keys = [sort_key_py(label) for label in labels]
    assert keys == sorted(keys)
    names = [label.split(" (")[0] for label in labels]
    assert names[:4] == ["Ājñā", "Ṛgveda", "Aitareya", "Auśanasa"]
    assert sorted(names[4:6]) == ["Kavi", "kavi"]
    assert names[6:] == ["Khaṇḍana", "Gaṅgā", "ghaṭa"]

    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 10)
    assert len(serving.dropdown_options(entities)["all"]) == 10
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 9)
    with pytest.raises(
        serving.ServingCapExceeded,
        match=r"^dropdown option set too large: more than 9 rows at the serving boundary",
    ):
        serving.dropdown_options(entities)
