"""Serving layer: the reference's API surface (SURVEY §3) composed
from engine operators. Each function returns the exact response shape
of the corresponding Flask endpoint; heavy lifting stays in DataFrames,
dict shaping happens at the collect() boundary exactly as the
reference's jsonify boundary.

Flagship: subgraph_response == POST /api/graph/subgraph
(flask_app.py:183-252): validate → k-hop BFS with exclusion
(grapher.py:25-94) → annotate (grapher.py:118-137) → per-type node
projection + edge relationship phrases → response dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from panditya_spark.etl import nest_links
from panditya_spark.functions.labels import RELATIONSHIP_PHRASES, date_info
from panditya_spark.operators.graph import khop_bfs
from panditya_spark.operators.relational import literal_frame

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

    The seed and exclude frames are literal frames, so no Python worker
    runs. After khop_bfs the visited node set is collected once, under
    the serving cap. Being bounded, it is then broadcast into one pass
    over entities for the node annotation and one over the links for
    the e-text annotation; khop_bfs's induced edge set broadcasts it
    into one pass over the edges. Nothing is shuffled after the BFS.
    A visited id without an
    entity row is an unknown seed (the reference's KeyError → 400). The
    flags, the nested e-text shape and the relationship phrases are
    shaped on the driver from the collected rows."""
    spark = entities.sparkSession
    authors = list(dict.fromkeys(authors))
    works = list(dict.fromkeys(works))
    exclude_list = list(set(exclude_list or []))
    err = validate_subgraph_inputs(authors, works, hops, exclude_list)
    if err is not None:
        return err

    center = set(authors) | set(works)
    exclude = set(exclude_list)
    seeds = literal_frame(spark, [(c,) for c in center], "node string")
    exclude_df = (
        literal_frame(spark, [(x,) for x in exclude_list], "node string")
        if exclude_list
        else None
    )
    nodes, sub_edges = khop_bfs(edges, seeds, hops, exclude=exclude_df)
    visited = nodes.select("node")
    node_ids = [r.node for r in _bounded_collect(visited, "subgraph node set")]
    visited = F.broadcast(visited)

    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    annotated = {
        r.id: r
        for r in entities.join(visited, entities.id == visited.node, "left_semi")
        .select(
            "id",
            F.col("name").alias("label"),
            "type",
            "aka",
            F.when(F.col("type") == "author", F.col("social_identifiers")).alias("social_ids"),
            dates.alias("dates"),
            F.when(F.col("type") == "work", F.col("discipline")).alias("discipline"),
            F.when(F.col("type") == "author", F.col("disciplines")).alias("disciplines"),
        )
        .collect()
    }
    unknown = next((n for n in node_ids if n not in annotated), None)
    if unknown is not None:
        return {"error": f"Invalid ID: '{unknown}'"}

    # e-text annotation (J7): the nested per-work shape, folded here
    # from the long rows of the visited works. The cap counts
    # (work_id, collection, subtype) groups, as when Spark grouped them;
    # the raw rows are bounded by the node cap times links per work.
    links_by_work: dict = {}
    if etext_links is not None:
        link_rows = (
            etext_links.join(
                visited.withColumnRenamed("node", "work_id"), "work_id", "left_semi"
            )
            .select("work_id", "collection", "subtype", "url")
            .collect()
        )
        urls: dict[tuple[str, str, str], set[str]] = {}
        for r in link_rows:
            got = urls.setdefault((r.work_id, r.collection, r.subtype), set())
            if r.url is not None:
                got.add(r.url)
        _check_cap(len(urls), "subgraph e-text annotation", SERVING_MAX_ROWS)
        links_by_work = nest_links({k: sorted(us) for k, us in urls.items()})

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

    # Periphery trim (grapher.py:90-92): khop_bfs's induced edge set,
    # each edge phrased from its endpoints' entity types.
    filtered_edges = [
        {
            "source": e.src,
            "target": e.dst,
            "relationship": RELATIONSHIP_PHRASES.get(
                (annotated[e.src].type, annotated[e.dst].type)
            ),
        }
        for e in _bounded_collect(sub_edges.select("src", "dst"), "subgraph edge set")
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


def _nested_links(links: DataFrame) -> dict:
    """work_id → collection → (sorted url list | subtype → sorted url
    list), single-subtype collections flattened to the bare list — the
    ETEXT_LINKS value shape (transform.py:246-270). Aggregation in
    Spark, dict fold at the collect boundary."""
    grouped = _bounded_collect(
        links.groupBy("work_id", "collection", "subtype").agg(
            F.array_sort(F.collect_set("url")).alias("urls")
        ),
        "e-text link mapping",
    )
    return nest_links({(r.work_id, r.collection, r.subtype): list(r.urls) for r in grouped})


def valid_collections(links: DataFrame) -> list[str]:
    """VALID_COLLECTIONS (flask_app.py:24): the collections known to the
    e-text summary — here, the distinct collections in the links table."""
    return [r.collection for r in links.select("collection").distinct().collect()]


def by_collection_response(
    links: DataFrame, collection: str | None, include_other_collections: bool = False
) -> dict:
    """GET /api/seti/by_collection (flask_app.py:297-328 over
    get_works_by_collection, flask_app.py:261-293): every work that has
    at least one link in `collection`; other collections' contributions
    are hidden unless include_other_collections. 'all' returns the full
    mapping. The '...' placeholder work id is dropped."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    if collection.lower() == "all":
        # flask_app.py:274-275 returns ETEXT_LINKS verbatim — the '...'
        # placeholder is only popped in the per-collection path.
        return _nested_links(links)
    valid = valid_collections(links)
    if collection not in valid:
        return {"error": f"Invalid collection: {collection}. Valid options: {sorted(valid)}"}
    in_coll = links.filter(F.col("collection") == collection).select("work_id").distinct()
    sub = links.join(in_coll, "work_id", "left_semi").filter(F.col("work_id") != "...")
    if not include_other_collections:
        sub = sub.filter(F.col("collection") == collection)
    return _nested_links(sub)


def unique_to_collection_response(links: DataFrame, collection: str | None) -> dict:
    """GET /api/seti/by_collection/unique (flask_app.py:331-361): works
    whose ONLY collection is `collection`, restricted to it."""
    if not collection:
        return {"error": "Missing required parameter: collection"}
    valid = valid_collections(links)
    if collection not in valid:
        return {"error": f"Invalid collection: {collection}. Valid options: {sorted(valid)}"}
    only = (
        links.groupBy("work_id")
        .agg(F.collect_set("collection").alias("colls"))
        .filter((F.size("colls") == 1) & (F.col("colls")[0] == collection))
        .select("work_id")
    )
    return _nested_links(links.join(only, "work_id", "left_semi"))


def overlap_response(
    links: DataFrame, collection1: str | None, collection2: str | None
) -> dict:
    """GET /api/seti/by_collection/overlap (flask_app.py:364-416):
    three-way partition of works across two collections, each side
    restricted to its own collection(s)."""
    if not collection1 or not collection2:
        return {"error": "Both collection1 and collection2 are required"}
    valid = valid_collections(links)
    if collection1 not in valid or collection2 not in valid:
        return {
            "error": f"Invalid collection(s): {collection1}, {collection2}. "
            f"Valid options: {sorted(valid)}"
        }
    member = links.groupBy("work_id").agg(F.collect_set("collection").alias("colls"))
    in1 = F.array_contains("colls", collection1)
    in2 = F.array_contains("colls", collection2)
    both = member.filter(in1 & in2).select("work_id")
    only1 = member.filter(in1 & ~in2).select("work_id")
    only2 = member.filter(in2 & ~in1).select("work_id")
    pair = links.filter(F.col("collection").isin([collection1, collection2]))
    return {
        "overlap": _nested_links(pair.join(both, "work_id", "left_semi")),
        f"only_in_{collection1}": _nested_links(
            pair.filter(F.col("collection") == collection1).join(
                only1, "work_id", "left_semi"
            )
        ),
        f"only_in_{collection2}": _nested_links(
            pair.filter(F.col("collection") == collection2).join(
                only2, "work_id", "left_semi"
            )
        ),
    }


def by_work_response(links: DataFrame, entities: DataFrame, ids_param: str | None) -> dict:
    """GET /api/seti/by_work (flask_app.py:419-454): comma-separated
    numeric ids → nested link data for the valid WORK ids among them."""
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
    valid_ids = {
        r.id
        for r in entities.filter(
            (F.col("type") == "work") & F.col("id").isin(ids)
        ).select("id").collect()
    }
    if not valid_ids:
        return {"error": "No valid work IDs provided"}
    return _nested_links(links.filter(F.col("work_id").isin(list(valid_ids))))


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
        entities.filter(F.col("id").isin(works))
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
        entities.filter(F.col("id").isin(ids)).select(
            "id", F.col("name").alias("label")
        ),
        "entity label set",
    )
    return {"labels": {r.id: r.label for r in rows}}


def dropdown_options(entities: DataFrame) -> dict:
    """GET /api/entities/{authors|works|all} (flask_app.py:59-73,95-106):
    '{name} ({id})' + optional date/aka brackets, collation-sorted.
    Every call labels and sorts the whole entity table in Spark (the
    collation key is a Python UDF) and collects it under the serving
    cap; nothing is cached. The reference builds these lists once at
    start-up, so a server should keep the result."""
    from panditya_spark.functions.collation import collate
    from panditya_spark.functions.labels import date_info, dropdown_label

    dates = date_info(
        F.col("type"),
        F.col("lowest_year"),
        F.col("highest_year"),
        F.col("author_lowest_year"),
        F.col("author_highest_year"),
    )
    labeled = entities.select(
        "id",
        "type",
        dropdown_label(F.col("name"), F.col("id"), dates, F.col("aka")).alias("label"),
    ).orderBy(collate(F.col("label")))
    rows = _bounded_collect(labeled, "dropdown option set")
    out = {"all": [], "authors": [], "works": []}
    for r in rows:
        opt = {"id": r.id, "label": r.label}
        out["all"].append(opt)
        out[r.type + "s"].append(opt)
    return out
