"""Serving layer: the reference's API surface (SURVEY §3) composed
from engine operators. Each function returns the exact response shape
of the corresponding Flask endpoint.

Start-up snapshots: the reference holds the whole dataset in process
memory and answers every request from it (flask_app.py:18-24,
grapher.py:20-21). Here Spark computes that state: each served table is
read once, on its first use, into a driver-side snapshot, and every
request is then answered from the snapshots without a Spark job. A
snapshot is one Arrow fetch of the table through one partition, indexed
for the requests:

- entities: the node projection, with the dates and the dropdown label
  computed by the label columns, indexed by id; the dropdown options
  sorted once by the reference's collation key;
- edges: (src, dst) in scan order, indexed as id → the positions of the
  edges that touch it (the reference's pre-joined adjacency);
- e-text links: the (work_id, collection, subtype) groups with their
  sorted, de-duplicated urls, indexed by work.

Snapshots live in a WeakKeyDictionary keyed on the DataFrame and hold no
reference to it, so each is freed with its frame. The served tables are
start-up tables of reference size (17.5k entities); a table of more than
``graph._local_cap`` rows, the driver-side tiers' heap-derived bound, is
refused with ServingCapExceeded.

Flagship: subgraph_response == POST /api/graph/subgraph
(flask_app.py:183-252): validate → k-hop BFS with exclusion
(grapher.py:25-94) → annotate (grapher.py:118-137) → per-type node
projection + edge relationship phrases → response dict. The distributed
``khop_bfs`` serves the unbounded batch query (g1_khop_bfs) and is
re-exported here.
"""

from __future__ import annotations

import os as _os
import re
import weakref
from collections import namedtuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from panditya_spark.etl import nest_links
from panditya_spark.functions.collation import sort_key_py
from panditya_spark.functions.labels import RELATIONSHIP_PHRASES, date_info, dropdown_label
from panditya_spark.operators import graph
from panditya_spark.operators.graph import khop_bfs  # noqa: F401  (re-export)
from panditya_spark.operators.relational import in_set

# Serving-boundary row cap (VERDICT r8 #4): a reply holds at most this
# many nodes, edges, e-text groups, labels or dropdown options, counted
# where the reference's jsonify boundary would collect them (SURVEY
# §3.1). Past it the client gets a clear error naming the surface
# instead of a reply that grows with the data (a hub-seeded 3-hop
# subgraph at 100× scale). Read at call time.
SERVING_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_SERVING_MAX_ROWS", "100000"))


class ServingCapExceeded(ValueError):
    """A serving response would exceed SERVING_MAX_ROWS rows, or a
    served table the snapshot bound."""


def _check_cap(n: int, what: str, cap: int) -> None:
    if n > cap:
        raise ServingCapExceeded(
            f"{what} too large: more than {cap} rows at the serving "
            "boundary (raise SPARK_GRAFT_SERVING_MAX_ROWS or narrow the "
            "request)"
        )


# ------------------------------------------------------------ snapshots

_SNAPSHOTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _snapshot(df: DataFrame, kind: type):
    """The ``kind`` snapshot of ``df``, built on first use and kept
    until ``df`` is freed. Two threads that miss at once both build it;
    either result is the same snapshot, so no lock is taken."""
    snaps = _SNAPSHOTS.setdefault(df, {})
    if kind not in snaps:
        snaps[kind] = kind(df)
    return snaps[kind]


def _fetch(df: DataFrame, table: str, fold=None) -> dict[str, list]:
    """``df`` as Python column lists, from one Arrow fetch of its first
    ``bound + 1`` rows through one partition (one job, no exchange),
    where ``bound`` is ``graph._local_cap``. ``fold`` aggregates those
    rows in Spark and adds each group's row count as ``rows``. A table
    of more than ``bound`` rows is refused."""
    bound = graph._local_cap(df.sparkSession)
    head = df.coalesce(1).limit(bound + 1)
    got = (fold(head) if fold else head).toArrow()
    cols = {c: got.column(c).to_pylist() for c in got.column_names}
    if (sum(cols.pop("rows")) if fold else got.num_rows) > bound:
        raise ServingCapExceeded(
            f"{table} table too large to serve: more than {bound} rows, "
            "the driver-side snapshot bound"
        )
    return cols


_Node = namedtuple("_Node", "id label type aka social_ids dates discipline disciplines")


class _Entities:
    """The entity table: every row's node projection (``rows``), each
    id's row positions in table order (``positions``; a null id matches
    no request), and the dropdown options (id, type, label) in the
    reference's collation order."""

    def __init__(self, entities: DataFrame) -> None:
        dates = date_info(
            F.col("type"),
            F.col("lowest_year"),
            F.col("highest_year"),
            F.col("author_lowest_year"),
            F.col("author_highest_year"),
        )
        cols = _fetch(
            entities.select(
                "id",
                F.col("name").alias("label"),
                "type",
                "aka",
                F.when(F.col("type") == "author", F.col("social_identifiers")).alias("social_ids"),
                dates.alias("dates"),
                F.when(F.col("type") == "work", F.col("discipline")).alias("discipline"),
                F.when(F.col("type") == "author", F.col("disciplines")).alias("disciplines"),
                dropdown_label(F.col("name"), F.col("id"), dates, F.col("aka")).alias("option"),
            ),
            "entity",
        )
        self.rows = [_Node(*r) for r in zip(*(cols[f] for f in _Node._fields))]
        self.positions: dict = {}
        for p, i in enumerate(cols["id"]):
            if i is not None:
                self.positions.setdefault(i, []).append(p)
        # A null label (a null name) sorts first, as nulls do in Spark;
        # the sort is stable, so equal keys keep their table order.
        self.options = sorted(
            zip(cols["id"], cols["type"], cols["option"]),
            key=lambda r: sort_key_py(r[2] or ""),
        )

    def node(self, i) -> _Node:
        """The last row of id ``i``, as a dict keyed by id keeps it."""
        return self.rows[self.positions[i][-1]]

    def in_table_order(self, ids) -> list:
        """The known ids among ``ids``, by their first table position."""
        return sorted((i for i in ids if i in self.positions), key=lambda i: self.positions[i][0])


class _Edges:
    """The edge table: (src, dst) ``pairs`` in scan order, and per id
    the ascending positions of the pairs that touch it (a self-loop
    once; a null end touches nothing)."""

    def __init__(self, edges: DataFrame) -> None:
        cols = _fetch(edges.select("src", "dst"), "edge")
        self.pairs = list(zip(cols["src"], cols["dst"]))
        self.touching: dict = {}
        for p, (s, d) in enumerate(self.pairs):
            for n in (s,) if s == d else (s, d):
                if n is not None:
                    self.touching.setdefault(n, []).append(p)


def _touching(edges: _Edges, ids) -> list[int]:
    """The positions of the edges with an end in ``ids``, in scan order:
    the rows an ``IN`` filter over the edge table would return."""
    return sorted({p for n in ids for p in edges.touching.get(n, ())})


class _Links:
    """The e-text link table as (work_id, collection, subtype, urls)
    ``groups``, each group's urls de-duplicated and sorted (null urls
    dropped, the group kept), as ``collect_set`` and ``array_sort``
    give them; the groups of each work (``by_work``), each work's set of
    non-null collections (``colls``; null work ids share one entry, as
    in a window partition), and the distinct collections (``valid``)."""

    def __init__(self, links: DataFrame) -> None:
        cols = _fetch(
            links,
            "e-text link",
            lambda rows: rows.groupBy("work_id", "collection", "subtype").agg(
                F.array_sort(F.collect_set("url")).alias("urls"), F.count(F.lit(1)).alias("rows")
            ),
        )
        self.groups = list(zip(cols["work_id"], cols["collection"], cols["subtype"], cols["urls"]))
        self.by_work: dict = {}
        self.colls: dict = {}
        for g in self.groups:
            self.by_work.setdefault(g[0], []).append(g)
            colls = self.colls.setdefault(g[0], set())
            if g[1] is not None:
                colls.add(g[1])
        self.valid = list(dict.fromkeys(g[1] for g in self.groups))


def _nest(groups) -> dict:
    """work_id → collection → (sorted url list | subtype → sorted url
    list), single-subtype collections flattened to the bare list — the
    ETEXT_LINKS value shape (transform.py:246-270)."""
    return nest_links({(w, c, s): list(urls) for w, c, s, urls in groups})


def _groups_of(links: _Links, works, what: str) -> list:
    """The link groups of ``works``; the cap counts groups."""
    groups = [g for w in works for g in links.by_work.get(w, ())]
    _check_cap(len(groups), what, SERVING_MAX_ROWS)
    return groups


# ------------------------------------------------------------ endpoints


def validate_subgraph_inputs(authors, works, hops, exclude_list):
    """flask_app.py:163-170 — same messages, same order."""
    if not authors and not works:
        return {"error": "require either one or both of authors or works"}
    if not isinstance(hops, int) or isinstance(hops, bool) or hops < 0:
        return {"error": "hops must be a non-negative integer"}
    if not isinstance(exclude_list, list):
        return {"error": "exclude_list must be a list"}
    return None


def subgraph_response(
    entities: DataFrame,
    edges: DataFrame,
    etext_links: DataFrame | None,
    authors: list[str],
    works: list[str],
    hops: int,
    exclude_list: list[str] | None = None,
) -> dict:
    """Full §3.1 lifecycle. entities/edges come from etl.py;
    etext_links is the (work_id, collection, subtype, url) long table
    or None. Returns the flask_app.py:233-245 response dict.

    The BFS is level-synchronous, like the reference's loop
    (grapher.py:25-94): the visited set and the frontier are Python
    sets, checked against the node cap at every hop. Each hop takes the
    edges touching the expandable frontier (the frontier minus excluded
    nodes, which are reached but never expanded) from the edge
    snapshot, in scan order, and at most cap + 1 of them. Every such
    edge has both ends visited, so it is an edge of the reply and the
    edge-set cap bounds it. A visited id without an entity row is an
    unknown id (the reference's KeyError → 400). Nodes come back in
    table order; the edges are those induced on the visited set, in
    scan order, duplicates kept (as in khop_bfs's ``sub_edges``). No
    Spark job runs once the tables' snapshots exist."""
    authors = list(dict.fromkeys(authors))
    works = list(dict.fromkeys(works))
    exclude_list = list(set(exclude_list or []))
    err = validate_subgraph_inputs(authors, works, hops, exclude_list)
    if err is not None:
        return err
    known, adjacent = _snapshot(entities, _Entities), _snapshot(edges, _Edges)

    center = set(authors) | set(works)
    exclude = set(exclude_list)
    # Discovery order (seeds first) fixes which unknown id is reported.
    order = list(dict.fromkeys(authors + works))
    visited = set(order)
    _check_cap(len(visited), "subgraph node set", SERVING_MAX_ROWS)
    frontier = set(visited)
    for _ in range(hops):
        expand = frontier - exclude
        if not expand:
            break
        # The node cap is checked before the edge cap, as when both were
        # checked on the finished BFS.
        rows = _touching(adjacent, expand)[: SERVING_MAX_ROWS + 1]
        frontier = set()
        for p in rows:
            for n in adjacent.pairs[p]:
                if n not in visited:
                    visited.add(n)
                    frontier.add(n)
                    order.append(n)
        _check_cap(len(visited), "subgraph node set", SERVING_MAX_ROWS)
        _check_cap(len(rows), "subgraph edge set", SERVING_MAX_ROWS)

    unknown = next((n for n in order if n not in known.positions), None)
    if unknown is not None:
        return {"error": f"Invalid ID: '{unknown}'"}
    # e-text annotation (J7): the nested per-work shape.
    links_by_work = (
        _nest(_groups_of(_snapshot(etext_links, _Links), visited, "subgraph e-text annotation"))
        if etext_links is not None
        else {}
    )
    filtered_nodes = [
        {
            **known.node(n)._asdict(),
            "is_central": n in center,
            "is_excluded": n in exclude,
            # reference uses False (not None) for works without links
            "etext_links": links_by_work.get(n, False),
        }
        for n in known.in_table_order(visited)
    ]

    # Periphery trim (grapher.py:90-92): the edges induced on the
    # visited set, each phrased from its endpoints' entity types.
    touching = (adjacent.pairs[p] for p in _touching(adjacent, visited))
    induced = [(s, d) for s, d in touching if s in visited and d in visited]
    _check_cap(len(induced), "subgraph edge set", SERVING_MAX_ROWS)
    filtered_edges = [
        {
            "source": s,
            "target": d,
            "relationship": RELATIONSHIP_PHRASES.get((known.node(s).type, known.node(d).type)),
        }
        for s, d in induced
    ]

    return {
        "parameters": {
            "authors": authors,
            "works": works,
            "hops": hops,
            "exclude_list": exclude_list,
        },
        "graph": {"nodes": filtered_nodes, "edges": filtered_edges},
    }


def valid_collections(links: DataFrame) -> list[str]:
    """VALID_COLLECTIONS (flask_app.py:24): the collections known to the
    e-text summary — here, the distinct collections in the links table.
    The views below consult it only when their own groups cannot show
    that the requested collections exist."""
    return list(_snapshot(links, _Links).valid)


def _invalid_collection(links: DataFrame, collection: str) -> dict | None:
    valid = valid_collections(links)
    if collection not in valid:
        return {"error": f"Invalid collection: {collection}. Valid options: {sorted(valid)}"}
    return None


def by_collection_response(
    links: DataFrame, collection: str | None, include_other_collections: bool = False
) -> dict:
    """GET /api/seti/by_collection (flask_app.py:297-328 over
    get_works_by_collection, flask_app.py:261-293): every work that has
    at least one link in `collection`; other collections' contributions
    are hidden unless include_other_collections. 'all' returns the full
    mapping. The '...' placeholder work id and null work ids are
    dropped. A non-empty reply shows the collection exists; only an
    empty one is checked against valid_collections (a collection whose
    only work is the placeholder is valid and empty)."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    snap = _snapshot(links, _Links)
    if collection.lower() == "all":
        # flask_app.py:274-275 returns ETEXT_LINKS verbatim — the '...'
        # placeholder is only popped in the per-collection path.
        _check_cap(len(snap.groups), "e-text link mapping", SERVING_MAX_ROWS)
        return _nest(snap.groups)
    groups = [
        g
        for g in snap.groups
        if g[0] is not None
        and g[0] != "..."
        and (collection in snap.colls[g[0]] if include_other_collections else g[1] == collection)
    ]
    _check_cap(len(groups), "e-text link mapping", SERVING_MAX_ROWS)
    if not groups:
        return _invalid_collection(links, collection) or {}
    return _nest(groups)


def unique_to_collection_response(links: DataFrame, collection: str | None) -> dict:
    """GET /api/seti/by_collection/unique (flask_app.py:331-361): works
    whose ONLY collection is `collection`, restricted to it (a work's
    null-collection groups count for no collection and are kept). As in
    by_collection_response, only an empty reply is checked against
    valid_collections."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    snap = _snapshot(links, _Links)
    groups = [g for g in snap.groups if snap.colls[g[0]] == {collection}]
    _check_cap(len(groups), "e-text link mapping", SERVING_MAX_ROWS)
    if not groups:
        return _invalid_collection(links, collection) or {}
    return _nest(groups)


def overlap_response(
    links: DataFrame, collection1: str | None, collection2: str | None
) -> dict:
    """GET /api/seti/by_collection/overlap (flask_app.py:364-416):
    three-way partition of works across two collections, each side
    restricted to its own collection(s).

    Each work's part follows from the collections its groups in the two
    collections name. Each part keeps its own cap on groups, and all
    three together are capped at 3×. valid_collections is consulted
    only when a requested collection has no group."""
    if not collection1 or not collection2:
        return {"error": "Both collection1 and collection2 are required"}

    def invalid() -> dict | None:
        valid = valid_collections(links)
        if collection1 in valid and collection2 in valid:
            return None
        return {
            "error": f"Invalid collection(s): {collection1}, {collection2}. "
            f"Valid options: {sorted(valid)}"
        }

    pair = {collection1, collection2}
    groups = [g for g in _snapshot(links, _Links).groups if g[1] in pair]
    try:
        _check_cap(len(groups), "e-text link mapping", 3 * SERVING_MAX_ROWS)
    except ServingCapExceeded:
        err = invalid()
        if err is not None:
            return err
        raise
    if not {g[1] for g in groups} >= pair:
        err = invalid()
        if err is not None:
            return err
    colls: dict[str, set[str]] = {}
    for g in groups:
        colls.setdefault(g[0], set()).add(g[1])
    both, only1, only2 = [], [], []
    for g in groups:
        if colls[g[0]] >= pair:
            both.append(g)
        elif g[1] == collection1:
            only1.append(g)
        else:
            only2.append(g)
    for part in (both, only1, only2):
        _check_cap(len(part), "e-text link mapping", SERVING_MAX_ROWS)
    return {
        "overlap": _nest(both),
        f"only_in_{collection1}": _nest(only1),
        f"only_in_{collection2}": _nest(only2),
    }


def by_work_response(links: DataFrame, entities: DataFrame, ids_param: str | None) -> dict:
    """GET /api/seti/by_work (flask_app.py:419-454): comma-separated
    numeric ids → nested link data for the valid WORK ids among them
    (an id with any row of type work)."""
    if not ids_param or not ids_param.strip():
        return {"error": "List input must be non-empty."}
    stripped = ids_param.strip()
    if not re.fullmatch(r"[\d,]*", stripped):
        return {
            "error": "List input should not contain any characters besides numbers "
            "and comma (no whitespace, quotation marks, etc.)"
        }
    ids = [i for i in stripped.split(",") if i]
    if not ids:
        return {"error": "No IDs provided"}
    known = _snapshot(entities, _Entities)
    works = [
        i
        for i in dict.fromkeys(ids)
        if any(known.rows[p].type == "work" for p in known.positions.get(i, ()))
    ]
    if not works:
        return {"error": "No valid work IDs provided"}
    return _nest(_groups_of(_snapshot(links, _Links), works, "e-text link mapping"))


def visualize_collection_params(
    links: DataFrame, entities: DataFrame, collection: str
) -> dict:
    """GET /seti/by_collection/<collection>/visualize
    (flask_app.py:467-490): the initial_params handed to the D3 page —
    the collection's works plus every author of those works. The
    authors come from one collect over the entities' ``author_ids``,
    which the entity snapshot does not hold."""
    works_data = by_collection_response(links, collection)
    if "error" in works_data and isinstance(works_data.get("error"), str):
        return works_data
    works = list(works_data.keys())
    author_rows = (
        entities.coalesce(1)
        .filter(in_set("id", works))
        .select(F.explode_outer("author_ids").alias("aid"))
        .filter(F.col("aid").isNotNull())
        .distinct()
        .limit(SERVING_MAX_ROWS + 1)
        .collect()
    )
    _check_cap(len(author_rows), "visualize author set", SERVING_MAX_ROWS)
    return {
        "works": works,
        "authors": [r.aid for r in author_rows],
        "hops": 0,
        "exclude_list": [],
        "repulsion": 50,
    }


def entity_labels_response(entities: DataFrame, ids: list[str]) -> dict:
    """GET /api/entities/labels (flask_app.py:109-146) — returns labels
    only for VALID ids (the reference builds from unvalidated input and
    can KeyError; SURVEY §3.4 documents the fix). The cap counts entity
    rows, so a duplicated id counts once per row."""
    if any(not re.fullmatch(r"[\d,]*", i) for i in ids):
        return {"error": "invalid id format"}
    known = _snapshot(entities, _Entities)
    found = known.in_table_order(set(ids))
    _check_cap(sum(len(known.positions[i]) for i in found), "entity label set", SERVING_MAX_ROWS)
    return {"labels": {i: known.node(i).label for i in found}}


def dropdown_options(entities: DataFrame) -> dict:
    """GET /api/entities/{authors|works|all} (flask_app.py:59-73,95-106):
    '{name} ({id})' + optional date/aka brackets, collation-sorted by
    ``collation.sort_key_py``, the reference's own key applied as the
    reference applies it; entities with equal keys keep their table
    order. The options are labelled and sorted once, when the entity
    snapshot is built, as the reference builds these lists at start-up;
    each call checks the cap and shapes the reply."""
    known = _snapshot(entities, _Entities)
    _check_cap(len(known.rows), "dropdown option set", SERVING_MAX_ROWS)
    out = {"all": [], "authors": [], "works": []}
    for id_, type_, label in known.options:
        opt = {"id": id_, "label": label}
        out["all"].append(opt)
        out[type_ + "s"].append(opt)
    return out
