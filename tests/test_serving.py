"""subgraph_response (POST /api/graph/subgraph, SURVEY §3.1) over a
hand-built ten-entity graph, so the serving path is pinned without the
reference data files.

    a1 ─wrote→ w1 ─inspired→ w4 ─inspired→ w5
    a1 ─wrote→ w2 ─inspired→ w3 ─inspired→ w6
    w1 ─inspired→ w2       a2 ─wrote→ w3        w7, w8 isolated
"""

from __future__ import annotations

import pytest

import panditya_spark.serving as serving

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


def test_serving_cap_on_node_set(tables, monkeypatch):
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 2)
    with pytest.raises(serving.ServingCapExceeded, match="subgraph node set"):
        _reply(tables, ["a1"], [], 1, links=False)
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 3)
    assert len(_reply(tables, ["a1"], [], 1, links=False)["graph"]["nodes"]) == 3


def test_serving_cap_on_etext_groups(tables, monkeypatch):
    """The e-text cap counts (work_id, collection, subtype) groups, not
    raw link rows: hop 1 from a1 reaches w1 and w2, whose six link rows
    (one a duplicate url) fold into four groups."""
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 4)
    assert len(_nodes(_reply(tables, ["a1"], [], 1))) == 3
    monkeypatch.setattr(serving, "SERVING_MAX_ROWS", 3)
    with pytest.raises(serving.ServingCapExceeded, match="subgraph e-text annotation"):
        _reply(tables, ["a1"], [], 1)


def test_request_frames_start_no_python_worker(tables, monkeypatch):
    """The seed and exclude frames come from literals in the JVM: a
    LogicalRDD leaf would mean a Python RDD, and a Python worker in
    every job that scans them."""
    frames = []
    real = serving.khop_bfs

    def spy(edges, seeds, hops, exclude=None):
        frames.extend(f for f in (seeds, exclude) if f is not None)
        return real(edges, seeds, hops, exclude=exclude)

    monkeypatch.setattr(serving, "khop_bfs", spy)
    _reply(tables, ["a1"], ["w3"], 1, exclude=["w1"])
    assert len(frames) == 2
    for f in frames:
        assert "LogicalRDD" not in f._jdf.queryExecution().analyzed().toString()
    assert sorted(r.node for r in frames[0].collect()) == ["a1", "w3"]
    assert [r.node for r in frames[1].collect()] == ["w1"]
