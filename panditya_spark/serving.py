"""Serving layer: the reference's API surface (SURVEY §3) composed
from engine operators. Each function returns the exact response shape
of the corresponding Flask endpoint; dict shaping happens at the
collect() boundary exactly as the reference's jsonify boundary, and
collects that grow with the data are bounded by the serving row cap.

Flagship: subgraph_response == POST /api/graph/subgraph
(flask_app.py:183-252): validate → k-hop BFS with exclusion
(grapher.py:25-94) → annotate (grapher.py:118-137) → per-type node
projection + edge relationship phrases → response dict. A reply is
bounded by the cap, so the BFS state (seeds, exclude list, visited set,
frontier) lives on the driver as Python sets, and each hop is one scan
of the edge table filtered by a hash-set ``IN`` predicate
(``operators.relational.in_set``); the distributed ``khop_bfs`` serves
the unbounded batch query (g1_khop_bfs) and is re-exported here.

One-partition rule: every query here reads its table through
``coalesce(1)``. A single-partition child already satisfies the
distribution an aggregate, window, distinct, sort or sort-merge join
requires, so no request plans an exchange, and Spark's incremental
``limit`` take finishes in its first job: each collect is one job over
any partitioning of the served tables. Nothing on the request path
starts a Python worker; the dropdown is collated on the driver. The
rule relies on the served tables being start-up tables of reference
size (17.5k entities) and on a reply being capped at SERVING_MAX_ROWS,
so that one task reading a whole table stays cheap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from panditya_spark.etl import nest_links
from panditya_spark.functions.collation import sort_key_py
from panditya_spark.functions.labels import RELATIONSHIP_PHRASES, date_info, dropdown_label
from panditya_spark.operators.graph import khop_bfs  # noqa: F401  (re-export)
from panditya_spark.operators.relational import in_set

# Serving-boundary row cap (VERDICT r8 #4): every response path here
# collects the final frame into the driver — correct reference parity
# (the jsonify boundary, SURVEY §3.1), but at 100× a hub-seeded 3-hop
# subgraph can pull millions of rows into driver memory. The cap turns
# that from an OOM into a clear client-side error. Probed with
# limit(cap+1) so the engine never computes more than cap+1 rows of an
# over-cap result (TakeOrderedAndProject-class early exit, not a full
# materialize-then-count).
import os as _os

SERVING_MAX_ROWS = int(_os.environ.get("SPARK_GRAFT_SERVING_MAX_ROWS", "100000"))


class ServingCapExceeded(ValueError):
    """A serving response would exceed SERVING_MAX_ROWS collected rows."""


def _bounded_collect(df: DataFrame, what: str, cap: int | None = None) -> list:
    """collect() guarded by the serving row cap: fetch cap+1 rows via
    limit() and raise loudly when the extra row shows up. An at-cap
    result serves normally; the error names the surface and the cap so
    the client can narrow the request (fewer hops, tighter exclude)."""
    cap = SERVING_MAX_ROWS if cap is None else cap
    rows = df.limit(cap + 1).collect()
    _check_cap(len(rows), what, cap)
    return rows


def _check_cap(n: int, what: str, cap: int) -> None:
    if n > cap:
        raise ServingCapExceeded(
            f"{what} too large: more than {cap} rows at the serving "
            "boundary (raise SPARK_GRAFT_SERVING_MAX_ROWS or narrow the "
            "request)"
        )


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

    The BFS is level-synchronous and held on the driver, like the
    reference's loop (grapher.py:25-94): the visited set and the
    frontier are Python sets, checked against the node cap at every
    hop. Each hop is one collect of the edges touching the expandable
    frontier (the frontier minus excluded nodes, which are reached but
    never expanded), as an ``InSet`` filter over the one-partition edge
    table. Every such edge has both ends visited, so it is an edge of
    the reply and the edge-set cap bounds the fetch. After the loop, two
    more collects read the visited entities left-joined with their
    e-text links (``_with_links``) and the induced edges (duplicates
    kept, as in khop_bfs's ``sub_edges``): a hops-h request is h + 2
    jobs. No frame is built from request data and nothing is
    broadcast, shuffled, cached or checkpointed. A visited id without
    an entity row is an unknown id (the reference's KeyError → 400).
    The flags, the nested e-text shape and the relationship phrases are
    shaped on the driver from the collected rows."""
    authors = list(dict.fromkeys(authors))
    works = list(dict.fromkeys(works))
    exclude_list = list(set(exclude_list or []))
    err = validate_subgraph_inputs(authors, works, hops, exclude_list)
    if err is not None:
        return err
    entities, edges = entities.coalesce(1), edges.coalesce(1)

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
        touching = edges.where(in_set("src", expand) | in_set("dst", expand))
        # Bounded like _bounded_collect, but the node cap is checked
        # first, as when both were checked on the finished BFS.
        rows = touching.select("src", "dst").limit(SERVING_MAX_ROWS + 1).collect()
        frontier = set()
        for e in rows:
            for n in (e.src, e.dst):
                if n not in visited:
                    visited.add(n)
                    frontier.add(n)
                    order.append(n)
        _check_cap(len(visited), "subgraph node set", SERVING_MAX_ROWS)
        _check_cap(len(rows), "subgraph edge set", SERVING_MAX_ROWS)

    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    nodes = entities.where(in_set("id", visited)).select(
        "id",
        F.col("name").alias("label"),
        "type",
        "aka",
        F.when(F.col("type") == "author", F.col("social_identifiers")).alias("social_ids"),
        dates.alias("dates"),
        F.when(F.col("type") == "work", F.col("discipline")).alias("discipline"),
        F.when(F.col("type") == "author", F.col("disciplines")).alias("disciplines"),
    )
    if etext_links is not None:
        nodes = _with_links(nodes, etext_links, visited)
    rows = nodes.collect()
    annotated = {r.id: r for r in rows}
    unknown = next((n for n in order if n not in annotated), None)
    if unknown is not None:
        return {"error": f"Invalid ID: '{unknown}'"}
    # e-text annotation (J7): the nested per-work shape. The raw rows
    # are bounded by the node cap times links per work.
    links_by_work = (
        _fold_links(rows, "subgraph e-text annotation") if etext_links is not None else {}
    )

    filtered_nodes = [
        {
            "id": r.id,
            "label": r.label,
            "type": r.type,
            "aka": r.aka,
            "social_ids": r.social_ids,
            "dates": r.dates,
            "discipline": r.discipline,
            "disciplines": r.disciplines,
            "is_central": r.id in center,
            "is_excluded": r.id in exclude,
            # reference uses False (not None) for works without links
            "etext_links": links_by_work.get(r.id, False),
        }
        for r in annotated.values()
    ]

    # Periphery trim (grapher.py:90-92): the edges induced on the
    # visited set, each phrased from its endpoints' entity types.
    induced = edges.where(in_set("src", visited) & in_set("dst", visited))
    filtered_edges = [
        {
            "source": e.src,
            "target": e.dst,
            "relationship": RELATIONSHIP_PHRASES.get(
                (annotated[e.src].type, annotated[e.dst].type)
            ),
        }
        for e in _bounded_collect(induced.select("src", "dst"), "subgraph edge set")
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


def _link_groups(links: DataFrame, cap: int | None = None) -> list:
    """(work_id, collection, subtype, urls) rows, one per group, with
    the group's de-duplicated urls sorted; at most ``cap`` groups
    (default SERVING_MAX_ROWS) are served. Aggregation in Spark over one
    partition: one collect, one job, no exchange."""
    return _bounded_collect(
        links.coalesce(1).groupBy("work_id", "collection", "subtype").agg(
            F.array_sort(F.collect_set("url")).alias("urls")
        ),
        "e-text link mapping",
        cap,
    )


def _nest(groups) -> dict:
    """work_id → collection → (sorted url list | subtype → sorted url
    list), single-subtype collections flattened to the bare list — the
    ETEXT_LINKS value shape (transform.py:246-270), folded from
    _link_groups rows."""
    return nest_links({(r.work_id, r.collection, r.subtype): list(r.urls) for r in groups})


def _with_links(keyed: DataFrame, links: DataFrame, ids) -> DataFrame:
    """``keyed`` (one row per ``id``) left-joined with its link rows:
    ``links`` filtered to ``ids`` as (collection, subtype, url) plus
    ``linked``, true on a joined row; a row without links keeps nulls.
    Both sides read one partition, so the sort-merge join plans no
    exchange and one job fetches the rows with their links. The hint
    keeps the planner from broadcasting a small side, which would take
    a job of its own."""
    link_rows = (
        links.coalesce(1)
        .where(in_set("work_id", ids))
        .select(
            F.col("work_id").alias("id"), "collection", "subtype", "url", F.lit(True).alias("linked")
        )
    )
    return keyed.join(link_rows.hint("merge"), "id", "left")


def _fold_links(rows, what: str) -> dict:
    """The nested link mapping of ``_with_links`` rows, folded on the
    driver: one group per (id, collection, subtype) with its
    de-duplicated urls sorted. The cap counts groups, as when Spark
    grouped them (``_link_groups``)."""
    urls: dict[tuple[str, str, str], set[str]] = {}
    for r in rows:
        if r.linked:
            got = urls.setdefault((r.id, r.collection, r.subtype), set())
            if r.url is not None:
                got.add(r.url)
    _check_cap(len(urls), what, SERVING_MAX_ROWS)
    return nest_links({k: sorted(us) for k, us in urls.items()})


def _with_work_collections(links: DataFrame) -> DataFrame:
    """The links with ``colls``, the set of collections of each row's
    work, as a window over one partition: no exchange, no join."""
    return links.coalesce(1).withColumn(
        "colls", F.collect_set("collection").over(Window.partitionBy("work_id"))
    )


def valid_collections(links: DataFrame) -> list[str]:
    """VALID_COLLECTIONS (flask_app.py:24): the collections known to the
    e-text summary — here, the distinct collections in the links table.
    The views below call it only when their own rows cannot show that
    the requested collections exist."""
    return [r.collection for r in links.coalesce(1).select("collection").distinct().collect()]


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
    mapping. The '...' placeholder work id is dropped. A non-empty
    reply shows the collection exists; only an empty one is checked
    against valid_collections (a collection whose only work is the
    placeholder is valid and empty)."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    if collection.lower() == "all":
        # flask_app.py:274-275 returns ETEXT_LINKS verbatim — the '...'
        # placeholder is only popped in the per-collection path.
        return _nest(_link_groups(links))
    if include_other_collections:
        sub = _with_work_collections(links).filter(F.array_contains("colls", collection))
    else:
        sub = links.filter(F.col("collection") == collection)
    groups = _link_groups(sub.filter(F.col("work_id") != "..."))
    if not groups:
        return _invalid_collection(links, collection) or {}
    return _nest(groups)


def unique_to_collection_response(links: DataFrame, collection: str | None) -> dict:
    """GET /api/seti/by_collection/unique (flask_app.py:331-361): works
    whose ONLY collection is `collection`, restricted to it. As in
    by_collection_response, only an empty reply is checked against
    valid_collections."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    only = _with_work_collections(links).filter(
        (F.size("colls") == 1) & (F.col("colls")[0] == collection)
    )
    groups = _link_groups(only)
    if not groups:
        return _invalid_collection(links, collection) or {}
    return _nest(groups)


def overlap_response(
    links: DataFrame, collection1: str | None, collection2: str | None
) -> dict:
    """GET /api/seti/by_collection/overlap (flask_app.py:364-416):
    three-way partition of works across two collections, each side
    restricted to its own collection(s).

    One grouped collect of the two collections' rows; each work's part
    follows from the collections its groups name, so the split happens
    on the driver. Each part keeps its own cap on groups, as when each
    was collected alone. valid_collections runs only when a requested
    collection has no row."""
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

    pair = links.filter(in_set("collection", {collection1, collection2}))
    try:
        # Each part holds at most the cap, so all three at most 3x.
        groups = _link_groups(pair, 3 * SERVING_MAX_ROWS)
    except ServingCapExceeded:
        err = invalid()
        if err is not None:
            return err
        raise
    if not {r.collection for r in groups} >= {collection1, collection2}:
        err = invalid()
        if err is not None:
            return err
    colls: dict[str, set[str]] = {}
    for r in groups:
        colls.setdefault(r.work_id, set()).add(r.collection)
    both, only1, only2 = [], [], []
    for r in groups:
        if colls[r.work_id] >= {collection1, collection2}:
            both.append(r)
        elif r.collection == collection1:
            only1.append(r)
        else:
            only2.append(r)
    for part in (both, only1, only2):
        _check_cap(len(part), "e-text link mapping", SERVING_MAX_ROWS)
    return {
        "overlap": _nest(both),
        f"only_in_{collection1}": _nest(only1),
        f"only_in_{collection2}": _nest(only2),
    }


def by_work_response(links: DataFrame, entities: DataFrame, ids_param: str | None) -> dict:
    """GET /api/seti/by_work (flask_app.py:419-454): comma-separated
    numeric ids → nested link data for the valid WORK ids among them.
    One collect fetches the requested works joined with their links."""
    import re

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
    works = entities.coalesce(1).filter((F.col("type") == "work") & in_set("id", ids))
    rows = _with_links(works.select("id"), links, ids).collect()
    if not rows:
        return {"error": "No valid work IDs provided"}
    return _fold_links(rows, "e-text link mapping")


def visualize_collection_params(
    links: DataFrame, entities: DataFrame, collection: str
) -> dict:
    """GET /seti/by_collection/<collection>/visualize
    (flask_app.py:467-490): the initial_params handed to the D3 page —
    the collection's works plus every author of those works."""
    works_data = by_collection_response(links, collection)
    if "error" in works_data and isinstance(works_data.get("error"), str):
        return works_data
    works = list(works_data.keys())
    author_rows = _bounded_collect(
        entities.coalesce(1)
        .filter(in_set("id", works))
        .select(F.explode_outer("author_ids").alias("aid"))
        .filter(F.col("aid").isNotNull())
        .distinct(),
        "visualize author set",
    )
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
    can KeyError; SURVEY §3.4 documents the fix)."""
    import re

    if any(not re.fullmatch(r"[\d,]*", i) for i in ids):
        return {"error": "invalid id format"}
    rows = _bounded_collect(
        entities.coalesce(1)
        .filter(in_set("id", ids))
        .select("id", F.col("name").alias("label")),
        "entity label set",
    )
    return {"labels": {r.id: r.label for r in rows}}


def dropdown_options(entities: DataFrame) -> dict:
    """GET /api/entities/{authors|works|all} (flask_app.py:59-73,95-106):
    '{name} ({id})' + optional date/aka brackets, collation-sorted.
    Every call labels the whole entity table in Spark, fetches
    (id, type, label) as Arrow from one partition under the serving
    cap, and sorts on the driver by ``collation.sort_key_py``, the
    reference's own key applied as the reference applies it; entities
    with equal keys keep their fetch order. Nothing is cached. The
    reference builds these lists once at start-up, so a server should
    keep the result."""
    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    table = (
        entities.coalesce(1)
        .select(
            "id",
            "type",
            dropdown_label(F.col("name"), F.col("id"), dates, F.col("aka")).alias("label"),
        )
        .limit(SERVING_MAX_ROWS + 1)
        .toArrow()
    )
    _check_cap(table.num_rows, "dropdown option set", SERVING_MAX_ROWS)
    rows = zip(*(table.column(c).to_pylist() for c in ("id", "type", "label")))
    out = {"all": [], "authors": [], "works": []}
    # A null label (a null name) sorts first, as nulls do in Spark.
    for id_, type_, label in sorted(rows, key=lambda r: sort_key_py(r[2] or "")):
        opt = {"id": id_, "label": label}
        out["all"].append(opt)
        out[type_ + "s"].append(opt)
    return out
