"""Reference ETL (utils/transform.py) as a single declarative Spark
pipeline: Pandit CSV → entities / edges tables; SETI CSV → e-text link
tables (+ the exact nested JSON projection).

The reference builds entities by mutating a dict row-by-row
(transform.py:48-137): an entity's fields are set by its OWN row
(work/person) and its *name* can also be set by any later row that
merely mentions it (author name on a work row at transform.py:97,
base-text name at transform.py:115). The dict's last-writer-wins
mutation order is re-expressed here as an event stream: every
field-setting event carries (row_idx, priority, pos) and the final
value is the event with the highest ordinal — fully shuffle-parallel,
no driver loop.

Row indices are file-order offsets computed over any partitioning
(_with_row_idx: per-partition counts cumulative-summed on the driver),
without collapsing the read to one partition; at cluster scale the
input would carry an explicit sequence column instead — the rest of
the pipeline is unchanged.

Quirks replicated on purpose (see SURVEY.md §4):
- years: both become null when `Highest Year` is empty, even if
  `Lowest Year` exists (transform.py:63-65).
- author/base-text IDs zipped positionally with names; length mismatch
  truncates to the shorter list (zip semantics, transform.py:87,106).
- authors with no works are dropped AFTER link building
  (transform.py:140-144).
- `disciplines` is the pre-formatted string "Nyāya (3), Yoga (1)"
  ordered by (-count, name) (transform.py:146-156).
- year backfill takes the FIRST author in author_ids order with a
  non-null highest year (transform.py:158-165).
- SETI subtype labels: single-subtype collections map to a plain
  string, and the reference indexes into it ("web HTML"[0] == 'w'),
  which the single-subtype flattening then hides (transform.py:197,
  233-234, 242-244). Replicated byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from panditya_spark.operators.relational import (
    literal_frame,
    split_to_array,
    year_pair_with_guard,
)
from panditya_spark.sources.loaders import read_csv_all_string

# transform.py:186-190
LINK_TYPES = {
    "main": "Link 1 (main)",
    "underlying": "Link 2 (underlying)",
    "extract": "Link 3 (extract)",
}

# transform.py:194-204 — note the one-element entries are plain strings
# (the tuple parens are absent in the reference), so positional lookup
# indexes characters. Kept verbatim.
COLLECTION_SUBTYPE_LABELS: dict[str, tuple | str] = {
    "DCS": ("web HTML", "GitHub (1) CoNLL-U", "GitHub (2) TXT"),
    "GRETIL": ("web HTML"),  # noqa: UP034 — string, not tuple (reference quirk)
    "Muktabodha KSTS": ("web HTML"),  # noqa: UP034
    "SARIT": ("web HTML", "GitHub XML"),
    "Sanskrit Library and TITUS": ("Skt Lib web HTML", "TITUS web HTML"),
    "Vātāyana and Pramāṇa NLP": ("Vātāyana web HTML", "Pramāṇa NLP GitHub"),
    "UTA Dharmaśāstra": ("web HTML", "Google Doc"),
    "DiPAL DCV": ("web HTML work page", "web HTML text"),
    "HANSEL": ("GitHub TXT", "GitHub XML", "web HTML"),
}


def _with_row_idx(df: DataFrame) -> DataFrame:
    """File-order row index WITHOUT collapsing to one partition — the
    distributed zipWithIndex scheme: per-partition row offsets come from
    ``monotonically_increasing_id`` (partition id in the upper bits,
    in-partition offset in the lower 33), per-partition row counts are a
    tiny aggregate (one row per partition) cumulative-summed on the
    driver and broadcast back as a literal frame (no Python worker).
    The reference semantics depend on row order (dict upserts), and
    splits of a single file are ordered by byte offset, so partition-id
    order == file order for the reference's single-CSV inputs at any
    partitioning. Multi-file directories follow Spark's deterministic
    split-packing order; a cluster-scale ingest would ship an explicit
    sequence column instead.

    The tagged scan is cached so the count pass and the output pass see
    the identical partition layout (monotonic ids are only stable for a
    fixed layout)."""
    parts = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_mono", F.monotonically_increasing_id())
        .cache()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    off_df = literal_frame(df.sparkSession, offsets, "_pid int, _off long")
    return (
        parts.join(F.broadcast(off_df), "_pid", "left")
        .withColumn(
            "row_idx",
            F.col("_off") + F.col("_mono") - F.shiftleft(F.col("_pid").cast("long"), 33),
        )
        .drop("_pid", "_mono", "_off")
    )


def _mentions(rows: DataFrame, ids_col: str, names_col: str) -> DataFrame:
    """(row_idx, work_id, pos, id, name) for positionally-zipped
    mention lists. arrays_zip pads the shorter list with nulls; the
    both-non-null filter reproduces zip() truncation."""
    pairs = F.arrays_zip(
        split_to_array(F.col(ids_col)).alias("mid"),
        split_to_array(F.col(names_col)).alias("mname"),
    )
    return (
        rows.select("row_idx", F.col("id").alias("work_id"), F.posexplode(pairs))
        .select(
            "row_idx",
            "work_id",
            F.col("pos"),
            F.col("col.mid").alias("id"),
            F.col("col.mname").alias("name"),
        )
        .filter(F.col("id").isNotNull() & F.col("name").isNotNull())
    )


def entities_from_csv(spark: SparkSession, path: str) -> DataFrame:
    """Pandit cleaned CSV → entities table (one row per surviving
    entity), reproducing transform.py:22-173."""
    raw = _with_row_idx(read_csv_all_string(spark, path))
    base = raw.select(
        "row_idx",
        F.lower(F.trim(F.col("Content type"))).alias("content_type"),
        F.trim(F.col("ID")).alias("id"),
        F.trim(F.col("Name")).alias("name"),
        F.trim(F.coalesce(F.col("Aka"), F.lit(""))).alias("aka"),
        F.trim(F.coalesce(F.col("Social identifiers"), F.lit(""))).alias(
            "social_identifiers"
        ),
        F.coalesce(F.col("Authors (IDs)"), F.lit("")).alias("author_ids_raw"),
        F.coalesce(F.col("Authors (names)"), F.lit("")).alias("author_names_raw"),
        F.trim(F.coalesce(F.col("Discipline"), F.lit(""))).alias("discipline"),
        F.coalesce(F.col("Base texts (IDs)"), F.lit("")).alias("base_ids_raw"),
        F.coalesce(F.col("Base texts (names)"), F.lit("")).alias("base_names_raw"),
        F.coalesce(F.col("Highest Year"), F.lit("")).alias("hy_raw"),
        F.coalesce(F.col("Lowest Year"), F.lit("")).alias("ly_raw"),
    ).filter(F.col("content_type").isin("work", "person"))

    hy, ly = year_pair_with_guard(F.col("hy_raw"), F.col("ly_raw"))
    own = base.withColumn("highest_year", hy).withColumn("lowest_year", ly)
    work_rows = own.filter(F.col("content_type") == "work").select(
        "row_idx", "id", "name", "aka", "discipline", "highest_year",
        "lowest_year", "author_ids_raw", "author_names_raw", "base_ids_raw",
        "base_names_raw",
    )
    person_rows = own.filter(F.col("content_type") == "person").select(
        "row_idx", "id", "name", "aka", "social_identifiers",
        "highest_year", "lowest_year",
    )

    author_mentions = _mentions(work_rows, "author_ids_raw", "author_names_raw")
    base_mentions = _mentions(work_rows, "base_ids_raw", "base_names_raw")

    # --- name resolution: last-writer-wins over ALL name-setting events.
    # Intra-row order (transform.py:59-120): own assignment, then author
    # mentions, then base-text mentions → priority 0/1/2; mention lists
    # are walked in position order.
    name_events = (
        work_rows.select("row_idx", "id", "name", F.lit(0).alias("pri"), F.lit(0).alias("pos"))
        .unionByName(
            person_rows.select("row_idx", "id", "name", F.lit(0).alias("pri"), F.lit(0).alias("pos"))
        )
        .unionByName(
            author_mentions.select("row_idx", "id", "name", F.lit(1).alias("pri"), "pos")
        )
        .unionByName(
            base_mentions.select("row_idx", "id", "name", F.lit(2).alias("pri"), "pos")
        )
    )
    w_last = Window.partitionBy("id").orderBy(
        F.desc("row_idx"), F.desc("pri"), F.desc("pos")
    )
    final_name = (
        name_events.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("id", "name")
    )

    # --- type: the FIRST event creating the entity wins (dict insert,
    # transform.py:73-79/92-95/108-112/124-128).
    type_events = (
        work_rows.select("row_idx", "id", F.lit(0).alias("pri"), F.lit(0).alias("pos"), F.lit("work").alias("type"))
        .unionByName(person_rows.select("row_idx", "id", F.lit(0).alias("pri"), F.lit(0).alias("pos"), F.lit("author").alias("type")))
        .unionByName(author_mentions.select("row_idx", "id", F.lit(1).alias("pri"), "pos", F.lit("author").alias("type")))
        .unionByName(base_mentions.select("row_idx", "id", F.lit(2).alias("pri"), "pos", F.lit("work").alias("type")))
    )
    w_first = Window.partitionBy("id").orderBy("row_idx", "pri", "pos")
    final_type = (
        type_events.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select("id", "type")
    )

    # --- own-row scalar fields: last own row per id.
    def last_own(rows: DataFrame, cols: list[str]) -> DataFrame:
        w = Window.partitionBy("id").orderBy(F.desc("row_idx"))
        return (
            rows.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", *cols)
        )

    work_fields = last_own(
        work_rows, ["aka", "discipline", "highest_year", "lowest_year"]
    )
    person_fields = last_own(
        person_rows,
        ["aka", "social_identifiers", "highest_year", "lowest_year"],
    ).withColumnsRenamed(
        {"aka": "p_aka", "highest_year": "p_hy", "lowest_year": "p_ly"}
    )

    # --- adjacency lists: first-append order = (row_idx, pos), deduped
    # keeping the first occurrence (the `not in` guards).
    def ordered_distinct(df: DataFrame, key: str, val: str) -> DataFrame:
        return (
            df.groupBy(key)
            .agg(
                F.array_distinct(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("row_idx", "pos", F.col(val).alias("v")))
                        ),
                        lambda s: s["v"],
                    )
                ).alias("vals")
            )
        )

    author_ids = ordered_distinct(
        author_mentions.select("work_id", "row_idx", "pos", F.col("id").alias("aid")),
        "work_id", "aid",
    ).withColumnsRenamed({"work_id": "id", "vals": "author_ids"})
    work_ids = ordered_distinct(
        author_mentions.select(F.col("id").alias("aid2"), "row_idx", "pos", "work_id"),
        "aid2", "work_id",
    ).withColumnsRenamed({"aid2": "id", "vals": "work_ids"})
    base_text_ids = ordered_distinct(
        base_mentions.select("work_id", "row_idx", "pos", F.col("id").alias("bid")),
        "work_id", "bid",
    ).withColumnsRenamed({"work_id": "id", "vals": "base_text_ids"})
    commentary_ids = ordered_distinct(
        base_mentions.select(F.col("id").alias("bid2"), "row_idx", "pos", "work_id"),
        "bid2", "work_id",
    ).withColumnsRenamed({"bid2": "id", "vals": "commentary_ids"})

    entities = (
        final_type.join(final_name, "id", "left_outer")
        .join(work_fields, "id", "left_outer")
        .join(person_fields, "id", "left_outer")
        .join(author_ids, "id", "left_outer")
        .join(work_ids, "id", "left_outer")
        .join(base_text_ids, "id", "left_outer")
        .join(commentary_ids, "id", "left_outer")
        .select(
            "id",
            "type",
            "name",
            F.when(F.col("type") == "work", F.col("aka")).otherwise(F.col("p_aka")).alias("aka"),
            F.when(F.col("type") == "author", F.col("social_identifiers")).alias("social_identifiers"),
            F.when(F.col("type") == "work", F.col("discipline")).alias("discipline"),
            F.when(F.col("type") == "work", F.col("highest_year")).otherwise(F.col("p_hy")).alias("highest_year"),
            F.when(F.col("type") == "work", F.col("lowest_year")).otherwise(F.col("p_ly")).alias("lowest_year"),
            "author_ids",
            "base_text_ids",
            "commentary_ids",
            "work_ids",
        )
    )

    # --- prune authors without works (transform.py:140-144).
    entities = entities.filter(
        (F.col("type") != "author") | (F.size(F.coalesce(F.col("work_ids"), F.array())) > 0)
    )

    # --- disciplines aggregate string per author (transform.py:146-156).
    work_disc = entities.filter(F.col("type") == "work").select(
        F.col("id").alias("wid"), F.col("discipline").alias("wdisc")
    )
    author_disc = (
        entities.filter(F.col("type") == "author")
        .select(F.col("id").alias("aid"), F.explode("work_ids").alias("wid"))
        .join(work_disc, "wid")
        .filter(F.col("wdisc").isNotNull() & (F.col("wdisc") != ""))
        .groupBy("aid", "wdisc")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("aid")
        .agg(
            F.concat_ws(
                ", ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct((-F.col("cnt")).alias("neg"), F.col("wdisc").alias("d"))
                        )
                    ),
                    lambda s: F.concat(
                        s["d"], F.lit(" ("), (-s["neg"]).cast("string"), F.lit(")")
                    ),
                ),
            ).alias("disciplines")
        )
    )

    # --- year backfill: first author in author_ids ORDER with a year
    # (transform.py:158-165).
    author_years = entities.filter(F.col("type") == "author").select(
        F.col("id").alias("aid"),
        F.col("highest_year").alias("a_hy"),
        F.col("lowest_year").alias("a_ly"),
    )
    w_pos = Window.partitionBy("wid").orderBy("apos")
    backfill = (
        entities.filter((F.col("type") == "work") & F.col("highest_year").isNull())
        .select(F.col("id").alias("wid"), F.posexplode("author_ids").alias("apos", "aid"))
        .join(author_years, "aid")
        .filter(F.col("a_hy").isNotNull())
        .withColumn("rn", F.row_number().over(w_pos))
        .filter(F.col("rn") == 1)
        .select(
            F.col("wid"),
            F.col("a_hy").alias("author_highest_year"),
            F.col("a_ly").alias("author_lowest_year"),
        )
    )

    return (
        entities.join(author_disc, F.col("id") == F.col("aid"), "left_outer")
        .drop("aid")
        .join(backfill, F.col("id") == F.col("wid"), "left_outer")
        .drop("wid")
    )


def edges_from_entities(entities: DataFrame) -> DataFrame:
    """(src, dst, relationship) — author --wrote--> work and
    base_text --inspired--> commentary, mirroring the edge directions
    of grapher.py:56-66,73-75 and the phrasing at flask_app.py:173-180."""
    wrote = entities.filter(F.col("type") == "work").select(
        F.explode("author_ids").alias("src"),
        F.col("id").alias("dst"),
        F.lit("wrote").alias("relationship"),
    )
    inspired = entities.filter(F.col("type") == "work").select(
        F.explode("base_text_ids").alias("src"),
        F.col("id").alias("dst"),
        F.lit("inspired").alias("relationship"),
    )
    return wrote.unionByName(inspired)


# ---------------------------------------------------------------- SETI


def etext_links_from_csv(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """SETI master CSV → (links, counts).

    links: (work_id, collection, subtype, url) long table — the
    queryable normal form; the nested JSON of transform.py:192-244 is a
    presentation projection built by etext_nested_mapping().
    counts: (collection, total_links, missing_work_ids) replicating the
    conditional counts at transform.py:213-221 (rows with null/empty
    Work ID are skipped BEFORE counting; '...' rows count as missing)."""
    raw = read_csv_all_string(spark, path)
    rows = raw.filter(
        F.col("Work ID").isNotNull() & (F.col("Work ID") != "")
    ).select(
        F.col("Collection").alias("collection"),
        F.col("Work ID").alias("work_id_raw"),
        *[F.col(c).alias(f"link_{k}") for k, c in LINK_TYPES.items()],
    )

    has_any = (
        F.col("link_main").isNotNull()
        | F.col("link_underlying").isNotNull()
        | F.col("link_extract").isNotNull()
    )
    counts = rows.groupBy("collection").agg(
        F.sum(F.when(has_any, 1).otherwise(0)).alias("total_links"),
        F.sum(
            F.when(has_any & (F.col("work_id_raw") == "..."), 1).otherwise(0)
        ).alias("missing_work_ids"),
    )

    # subtype per (collection, link_type): the reference's positional
    # lookup, including the string-indexing quirk for single-subtype
    # collections ('web HTML'[0] == 'w').
    def subtype_for(collection_col, link_type: str):
        idx = list(LINK_TYPES).index(link_type)
        branches = F.lit(link_type)
        for cname, labels in COLLECTION_SUBTYPE_LABELS.items():
            label = labels[idx] if idx < len(labels) else None
            if label is None:
                continue  # reference would IndexError; clean data never hits it
            branches = F.when(collection_col == cname, F.lit(label)).otherwise(branches)
        return branches

    per_type = [
        rows.filter(
            F.col(f"link_{k}").isNotNull() & (F.trim(F.col(f"link_{k}")) != "")
        ).select(
            "collection",
            "work_id_raw",
            subtype_for(F.col("collection"), k).alias("subtype"),
            F.trim(F.col(f"link_{k}")).alias("url"),
        )
        for k in LINK_TYPES
    ]
    links_raw = per_type[0].unionByName(per_type[1]).unionByName(per_type[2])

    links = (
        links_raw.select(
            F.explode(split_to_array(F.col("work_id_raw"), r"[,\r\n]+")).alias("work_id"),
            "collection",
            "subtype",
            "url",
        )
        .distinct()
    )
    return links, counts


def nest_links(groups: dict[tuple[str, str, str], list[str]]) -> dict:
    """(work_id, collection, subtype) → sorted urls, nested as work_id →
    collection → (url list | subtype → url list). A collection with a
    single subtype maps to that subtype's url list itself
    (transform.py:242-244)."""
    mapping: dict = {}
    for (wid, coll, sub), urls in groups.items():
        mapping.setdefault(wid, {}).setdefault(coll, {})[sub] = urls
    for colls in mapping.values():
        for cname, subtypes in list(colls.items()):
            if len(subtypes) == 1:
                colls[cname] = next(iter(subtypes.values()))
    return mapping


def etext_nested_mapping(links: DataFrame, counts: DataFrame) -> dict:
    """Re-build the exact nested JSON shape of transform.py:246-270:
    work_id → collection → (sorted url list | subtype → sorted url
    list), collections with a single subtype flattened to the bare
    list; plus the two count dicts (zero-filled for all known
    collections). Driver-side dict shaping happens at the serving
    boundary, after the heavy lifting aggregated in Spark."""
    grouped = (
        links.groupBy("work_id", "collection", "subtype")
        .agg(F.array_sort(F.collect_set("url")).alias("urls"))
        .collect()
    )
    mapping = nest_links({(r.work_id, r.collection, r.subtype): list(r.urls) for r in grouped})
    totals = dict.fromkeys(COLLECTION_SUBTYPE_LABELS, 0)
    missing = dict.fromkeys(COLLECTION_SUBTYPE_LABELS, 0)
    for r in counts.collect():
        totals[r.collection] = r.total_links
        missing[r.collection] = r.missing_work_ids
    return {
        "work_id_to_link_mapping": mapping,
        "collection_total_link_counts": totals,
        "collection_missing_work_id_counts": missing,
    }
