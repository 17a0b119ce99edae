"""Serving-surface scalar functions (SURVEY §2.9 F1/F2/F7, §2.3 J6,
§2.8 G4) as pure column expressions — no UDFs, all codegen-able.

Reference provenance per function; byte-compatible output formats.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------- F1
def date_info(
    etype: Column,
    lowest_year: Column,
    highest_year: Column,
    author_lowest_year: Column,
    author_highest_year: Column,
) -> Column:
    """flask_app.py:48-57 — '' | 'L' | 'L–H', + ' (author)' caveat when
    a work falls back to author years. Falsiness of 0 replicated: a
    lowest_year of 0 (or null) counts as missing, as in Python."""
    fallback = (
        (etype == "work")
        & (F.coalesce(lowest_year, F.lit(0)) == 0)
        & (F.coalesce(author_lowest_year, F.lit(0)) != 0)
    )
    ly = F.when(fallback, author_lowest_year).otherwise(lowest_year)
    hy = F.when(fallback, author_highest_year).otherwise(highest_year)
    caveat = F.when(fallback, F.lit(" (author)")).otherwise(F.lit(""))
    date_str = F.when(ly == hy, ly.cast("string")).otherwise(
        F.concat(ly.cast("string"), F.lit("–"), hy.cast("string"))
    )
    return F.when(
        F.coalesce(ly, F.lit(0)) == 0, F.lit("")
    ).otherwise(F.concat(date_str, caveat))


# ---------------------------------------------------------------- F2
def dropdown_label(
    name: Column, entity_id: Column, date_str: Column, aka: Column
) -> Column:
    """flask_app.py:62-68 — '{name} ({id})' + ' [{dates}]'? + ' [{aka}]'?"""
    label = F.concat(name, F.lit(" ("), entity_id, F.lit(")"))
    label = F.when(
        date_str != "", F.concat(label, F.lit(" ["), date_str, F.lit("]"))
    ).otherwise(label)
    return F.when(
        F.coalesce(aka, F.lit("")) != "",
        F.concat(label, F.lit(" ["), aka, F.lit("]")),
    ).otherwise(label)


# ---------------------------------------------------------------- J6
# flask_app.py:173-180 — phrase per (source type, target type); any
# other pair has none (the reference logs an error and returns None).
RELATIONSHIP_PHRASES = {
    ("author", "work"): "source author wrote target work",
    ("work", "work"): "source base text inspired target commentary",
}


def edge_relationship(src_type: Column, dst_type: Column) -> Column:
    """RELATIONSHIP_PHRASES as a column; null for invalid pairs."""
    out = F.lit(None).cast("string")
    for (s, d), phrase in reversed(RELATIONSHIP_PHRASES.items()):
        out = F.when((src_type == s) & (dst_type == d), F.lit(phrase)).otherwise(out)
    return out


# ---------------------------------------------------------------- G4
def node_color(etype: Column, is_excluded: Column) -> Column:
    """grapher.py:97-115 — exclude→gray, work→red, author→green."""
    return (
        F.when(is_excluded, F.lit("gray"))
        .when(etype == "work", F.lit("red"))
        .when(etype == "author", F.lit("green"))
        .otherwise(F.lit(None).cast("string"))
    )


# ---------------------------------------------------------------- F7
def _basename(url: Column) -> Column:
    """graph.js:324-327 — last [/=] segment, extension stripped."""
    return F.regexp_replace(
        F.element_at(F.split(url, r"[/=]"), -1), r"\.[^.]+$", ""
    )


def link_label(collection: Column, url: Column) -> Column:
    """Engine-side port of the frontend's per-collection URL label
    extractors (static/js/graph.js:254-338), making display labels
    queryable. The UTA Google-Doc enumeration (idx/total) is a
    presentation concern handled at the serving edge; here multi-doc
    rows all label as 'Google Doc'."""
    dcs = F.regexp_extract(url, r"IDTextDisplay=(\d+)", 1)
    vatayana = F.url_decode(F.regexp_extract(url, r"text_abbrv=([^&]+)", 1))
    mukta = F.regexp_extract(url, r"miri_catalog_number=([^&]+)", 1)
    uta_res = F.url_decode(
        F.regexp_extract(url, r"/resources/([^?#]+?)(/)?$", 1)
    )
    dipal_tra = F.regexp_extract(url, r"tra_id=(\d+)", 1)
    dipal_wor = F.regexp_extract(url, r"wor_id=(\d+)", 1)

    def nonempty(c: Column, fallback: Column) -> Column:
        return F.when(c != "", c).otherwise(fallback)

    return (
        F.when(collection == "DCS", nonempty(dcs, _basename(url)))
        .when(
            collection == "Vātāyana and Pramāṇa NLP",
            nonempty(vatayana, _basename(url)),
        )
        .when(collection == "Muktabodha KSTS", nonempty(mukta, _basename(url)))
        .when(
            collection == "UTA Dharmaśāstra",
            F.when(
                url.contains("docs.google.com/document"), F.lit("Google Doc")
            ).otherwise(nonempty(uta_res, _basename(url))),
        )
        .when(
            collection == "DiPAL DCV",
            nonempty(dipal_tra, nonempty(dipal_wor, _basename(url))),
        )
        .otherwise(_basename(url))
    )
