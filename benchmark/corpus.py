"""Seeded, reference-shaped corpus for the benchmark.

Everything the engine reads is written here from a seed: the Pandit
entity CSV and the SETI master CSV (FIXTURES.md A1/A2 columns and
quirks), plus the customer/events/documents parquet tables the
registry's ingest queries read. The generator also keeps its own
ground truth: a NetworkX copy of the entity graph, the labels, and
the SETI link table, so the benchmark checks the engine's answers
against an oracle that shares no code with it.

At ``scale=1`` the graph has the reference census shape: one ~9k-node
component, ~3.7k isolated works, and the 2-4 / 5-9 / 10-25 / 26-100
buckets with the reference's component counts. ``scale`` multiplies
every count. A few commentaries are also cited as a base of one of
their own ancestors, so the directed graph has strongly connected
components of more than one work.
"""

from __future__ import annotations

import csv
import os
import random
from dataclasses import dataclass, field

import networkx as nx

# Reference census (tests/test_reference_golden.py GOLDEN_CENSUS):
# bucket -> (n_components, size range, target n_nodes).
CENSUS = [
    ("extra_small", 1666, (2, 4), 3736),
    ("small", 97, (5, 9), 608),
    ("medium", 24, (10, 25), 351),
    ("large", 1, (26, 100), 74),
]
GIANT_NODES = 9063
ISOLATED_WORKS = 3737
AUTHOR_SHARE = 0.2  # tuned so authors are ~22% of entities, as in the reference
CYCLES = 30  # planted directed cycles at scale 1

DISCIPLINES = [
    "Nyāya", "Vaiśeṣika", "Sāṃkhya", "Yoga", "Mīmāṃsā", "Advaita Vedānta",
    "Viśiṣṭādvaita Vedānta", "Dvaita Vedānta", "Vyākaraṇa", "Alaṃkāraśāstra",
    "Kāvya", "Dharmaśāstra", "Jyotiṣa", "Āyurveda", "Śaiva", "Bauddha",
    "Jaina",
]
SOCIAL = ["ācārya", "paṇḍita", "bhaṭṭa", "upādhyāya", "miśra", ""]
SYLLABLES = [
    "kā", "li", "dā", "sa", "bhoj", "ma", "nā", "ra", "ya", "ṇa", "śa",
    "ṅka", "ṣṭa", "vi", "dhā", "tṛ", "pra", "jñā", "kṛ", "ṣṇa", "ṃ", "ha",
    "ṭī", "ḍa", "go", "pā", "la", "ve", "dān", "ta", "bhū", "ṣa", "ṛ",
]

# transform.py:194-204 as the reference spells it: one-label entries are
# plain strings, so positional lookup indexes characters.
COLLECTIONS = {
    "DCS": ("web HTML", "GitHub (1) CoNLL-U", "GitHub (2) TXT"),
    "GRETIL": "web HTML",
    "Muktabodha KSTS": "web HTML",
    "SARIT": ("web HTML", "GitHub XML"),
    "Sanskrit Library and TITUS": ("Skt Lib web HTML", "TITUS web HTML"),
    "Vātāyana and Pramāṇa NLP": ("Vātāyana web HTML", "Pramāṇa NLP GitHub"),
    "UTA Dharmaśāstra": ("web HTML", "Google Doc"),
    "DiPAL DCV": ("web HTML work page", "web HTML text"),
    "HANSEL": ("GitHub TXT", "GitHub XML", "web HTML"),
}
LINK_COLS = ["Link 1 (main)", "Link 2 (underlying)", "Link 3 (extract)"]
SETI_ROWS = 1796

ENTITY_HEADER = [
    "Content type", "ID", "Name", "Aka", "Social identifiers",
    "Authors (IDs)", "Authors (names)", "Discipline", "Base texts (IDs)",
    "Base texts (names)", "Highest Year", "Lowest Year",
]
SETI_HEADER = [
    "Collection", "Text Name", "Alternative Text Names", "Author Name",
    "Alternative Author Names", "File Size (kb)", *LINK_COLS, "Work ID",
    "Author ID",
]


@dataclass
class Corpus:
    """Ground truth for one seed. ``graph`` is the directed entity graph
    (author→work 'wrote', base→commentary 'inspired') over every
    surviving entity, isolated works included."""

    graph: nx.DiGraph
    types: dict[str, str]  # id -> 'work' | 'author'
    names: dict[str, str]
    attrs: dict[str, dict]
    links: set[tuple[str, str, str, str]]  # (work_id, collection, subtype, url)
    pruned_persons: int
    cycle_edges: list[tuple[str, str]]  # 'inspired' edges that close a directed cycle
    entity_rows: list[list[str]] = field(repr=False, default_factory=list)
    seti_rows: list[list[str]] = field(repr=False, default_factory=list)

    @property
    def works(self) -> list[str]:
        return [n for n, t in self.types.items() if t == "work"]


def _name(rng: random.Random) -> str:
    parts = [rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4))]
    word = "".join(parts)
    return word[0].upper() + word[1:]


def _component(rng: random.Random, n: int, graph: nx.DiGraph, new_id) -> None:
    """Grow one connected component of exactly ``n`` entities by
    preferential attachment. Works attach as written by an existing
    author or as a commentary on an existing work (half the time one of
    the last few works, which grows commentary chains several levels
    deep); authors attach by co-writing an existing work (multi-ID
    author cells). A few works also gain a second author, closing
    cycles in the undirected graph. Base texts always precede their
    commentaries, so the directed graph grown here is acyclic;
    ``_plant_cycles`` adds the directed cycles afterwards."""
    # Each entity appears (degree + 1) times in its kind's token list, so
    # a uniform draw is linear preferential attachment: hubs emerge.
    tokens = {"author": [], "work": []}
    works: list[str] = []
    authors: list[str] = []

    def add(kind: str) -> str:
        node = new_id(kind)
        tokens[kind].append(node)
        if kind == "author":
            authors.append(node)
        return node

    def writer() -> str:
        # Half preferential, half uniform: a few prolific authors, no
        # single author holding most of the corpus.
        return rng.choice(tokens["author"] if rng.random() < 0.5 else authors)

    def link(src: str, dst: str, rel: str) -> None:
        graph.add_edge(src, dst, relationship=rel)
        tokens["author" if rel == "wrote" else "work"].append(src)
        tokens["work"].append(dst)

    add("author")
    for _ in range(n - 1):
        if works and rng.random() < AUTHOR_SHARE:
            link(add("author"), rng.choice(tokens["work"]), "wrote")
            continue
        node = add("work")
        if works and rng.random() < 0.35:
            base = rng.choice(works[-8:]) if rng.random() < 0.5 else rng.choice(tokens["work"][:-1])
            link(base, node, "inspired")
            if rng.random() < 0.6:
                link(writer(), node, "wrote")
        else:
            link(writer(), node, "wrote")
        works.append(node)
        if rng.random() < 0.06:
            other = writer()
            if not graph.has_edge(other, node):
                link(other, node, "wrote")


def generate(seed: int, scale: float = 1.0) -> Corpus:
    """Build the corpus for ``seed``; the same seed gives the same rows."""
    rng = random.Random(seed)
    graph = nx.DiGraph()
    types: dict[str, str] = {}
    n_total = round(scale * (GIANT_NODES + ISOLATED_WORKS + sum(c[3] for c in CENSUS)))
    id_pool = rng.sample(range(10000, 10000 + 4 * n_total), 2 * n_total)
    cursor = iter(id_pool)

    def new_id(kind: str) -> str:
        i = str(next(cursor))
        types[i] = kind
        graph.add_node(i)
        return i

    _component(rng, round(GIANT_NODES * scale), graph, new_id)
    for _, n_comp, (lo, hi), n_nodes in CENSUS:
        n_comp = max(1, round(n_comp * scale))
        sizes = [lo] * n_comp
        spare = min(round(n_nodes * scale), hi * n_comp) - lo * n_comp
        while spare > 0:
            k = rng.randrange(n_comp)
            if sizes[k] < hi:
                sizes[k] += 1
                spare -= 1
        for s in sizes:
            _component(rng, s, graph, new_id)
    cycle_edges = _plant_cycles(rng, graph, types, max(1, round(CYCLES * scale)))
    for _ in range(round(ISOLATED_WORKS * scale)):
        new_id("work")

    names = {i: _name(rng) for i in types}
    attrs = _attributes(rng, graph, types)
    entity_rows, pruned = _entity_rows(rng, types, names, attrs)
    links, seti_rows = _seti_rows(rng, [i for i, t in types.items() if t == "work"], names)
    return Corpus(graph, types, names, attrs, links, pruned, cycle_edges, entity_rows, seti_rows)


def _plant_cycles(rng, graph, types, n: int) -> list[tuple[str, str]]:
    """Make ``n`` commentaries also the base text of one of their own
    ancestors, 1-3 'inspired' levels up: each closes a directed cycle of
    2-4 works. The new edge joins two nodes of one component, so the
    census is unchanged."""
    commentaries = list(dict.fromkeys(
        v for _, v, d in graph.edges(data=True) if d["relationship"] == "inspired"
    ))
    planted: list[tuple[str, str]] = []
    for w in rng.sample(commentaries, len(commentaries)):
        if len(planted) == n:
            break
        cur = w
        for _ in range(rng.randint(1, 3)):
            bases = [p for p in graph.predecessors(cur) if types[p] == "work"]
            if not bases:
                break
            cur = rng.choice(bases)
        if cur == w or graph.has_edge(w, cur):
            continue
        graph.add_edge(w, cur, relationship="inspired")
        planted.append((w, cur))
    return planted


def _attributes(rng, graph, types):
    """Per-entity fields, then the CSV rows that encode them. Author and
    base-text lists keep a shuffled order (the CSV's cell order)."""
    attrs = {}
    for i, kind in types.items():
        hy = rng.randint(300, 1900)
        if kind == "work":
            preds = sorted(graph.predecessors(i), key=lambda s: rng.random())
            no_years = rng.random() < 0.2
            attrs[i] = {
                "aka": _name(rng) if rng.random() < 0.15 else "",
                "discipline": rng.choice(DISCIPLINES) if rng.random() < 0.9 else "",
                "author_ids": [s for s in preds if types[s] == "author"],
                "base_text_ids": [s for s in preds if types[s] == "work"],
                "years": None if no_years else (hy, hy - rng.randint(0, 200)),
            }
        else:
            no_years = rng.random() < 0.3
            attrs[i] = {
                "aka": _name(rng) if rng.random() < 0.1 else "",
                "social": rng.choice(SOCIAL),
                "years": None if no_years else (hy, hy - rng.randint(0, 80)),
            }
    return attrs


def _entity_rows(rng, types, names, attrs):
    rows = []
    for i, kind in types.items():
        a = attrs[i]
        years = ("", "") if a["years"] is None else (str(a["years"][0]), str(a["years"][1]))
        if kind == "work":
            rows.append([
                "Work", i, names[i], a["aka"], "",
                ", ".join(a["author_ids"]), ", ".join(names[x] for x in a["author_ids"]),
                a["discipline"],
                ", ".join(a["base_text_ids"]), ", ".join(names[x] for x in a["base_text_ids"]),
                *years,
            ])
        else:
            rows.append(["Person", i, names[i], a["aka"], a["social"], "", "", "", "", "", *years])
    # Persons no work mentions: the ETL must prune them (transform.py:140-144).
    pruned = max(1, len(types) // 200)
    used = set(types)
    for _ in range(pruned):
        pid = str(rng.randrange(10**6, 2 * 10**6))
        while pid in used:
            pid = str(rng.randrange(10**6, 2 * 10**6))
        used.add(pid)
        rows.append(["Person", pid, _name(rng), "", "paṇḍita", "", "", "", "", "", "1500", "1450"])
    rng.shuffle(rows)
    return rows, pruned


def _subtype(collection: str, idx: int) -> str:
    labels = COLLECTIONS.get(collection)
    if labels is None:
        return ["main", "underlying", "extract"][idx]
    return labels[idx]


def _seti_rows(rng, works, names):
    """SETI master rows and the link set the ETL must derive from them:
    multi-ID Work ID cells (comma and quoted-newline separated), '...'
    rows, single-subtype collections, one work in three collections and
    duplicate links for one (work, collection, subtype)."""
    scale_rows = max(100, round(SETI_ROWS * len(works) / 13683))
    colls = list(COLLECTIONS)
    links: set[tuple[str, str, str, str]] = set()
    rows = []
    hot = rng.sample(works, 3)
    for r in range(scale_rows):
        coll = colls[r % len(colls)] if r < 3 * len(colls) else rng.choice(colls)
        n_sub = 1 if isinstance(COLLECTIONS[coll], str) else len(COLLECTIONS[coll])
        u = rng.random()
        if r < 3:
            ids = [hot[0]]
            coll = colls[r]
        elif u < 0.04:
            ids = ["..."]
        elif u < 0.10:
            ids = rng.sample(works, 2)
        else:
            ids = [rng.choice(works)]
        sep = "\n" if rng.random() < 0.3 else ", "
        cell = sep.join(ids)
        urls = ["", "", ""]
        for k in range(n_sub):
            if k == 0 or rng.random() < 0.5:
                urls[k] = f"https://etexts.example.org/{coll[:4].lower()}/{r}-{k}.htm"
        name = names.get(ids[0], "Anon")
        rows.append([coll, name, "", "", "", f"{rng.uniform(5, 900):.1f}", *urls, cell, ""])
        for k, url in enumerate(urls):
            if url:
                for wid in ids:
                    links.add((wid, coll, _subtype(coll, k), url))
    # Duplicate link (set-dedupe) and a second URL for the same subtype.
    dup = rows[5][:]
    rows.append(dup)
    extra = rows[6][:]
    extra[6] = extra[6].replace(".htm", "-b.htm")
    rows.append(extra)
    for wid in extra[9].replace("\n", ",").split(","):
        wid = wid.strip()
        if wid:
            links.add((wid, extra[0], _subtype(extra[0], 0), extra[6]))
    # A row without a Work ID is skipped by the ETL.
    rows.append(["GRETIL", "Skipped", "", "", "", "1.0", "https://x.example.org/skip.htm", "", "", "", ""])
    return links, rows


def write_csvs(corpus: Corpus, out_dir: str) -> tuple[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    ent = os.path.join(out_dir, "entities.csv")
    seti = os.path.join(out_dir, "seti.csv")
    for path, header, rows in (
        (ent, ENTITY_HEADER, corpus.entity_rows),
        (seti, SETI_HEADER, corpus.seti_rows),
    ):
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
    return ent, seti


def entity_records(corpus: Corpus) -> list[dict]:
    """The A3 ``entities`` table the ETL derives from the entity CSV
    (FIXTURES.md A3), computed from the generator's own records: list
    orders follow CSV row order, authors without works are pruned, the
    disciplines string is ordered by (-count, name) and works without
    years take their first dated author's years."""
    order = {row[1]: k for k, row in enumerate(corpus.entity_rows)}
    work_ids: dict[str, list[str]] = {}
    commentary_ids: dict[str, list[str]] = {}
    for w in sorted(corpus.works, key=order.__getitem__):
        for a in corpus.attrs[w]["author_ids"]:
            work_ids.setdefault(a, []).append(w)
        for b in corpus.attrs[w]["base_text_ids"]:
            commentary_ids.setdefault(b, []).append(w)
    out = []
    for i, kind in corpus.types.items():
        a = corpus.attrs[i]
        hy, ly = a["years"] if a["years"] else (None, None)
        rec = {
            "id": i, "type": kind, "name": corpus.names[i], "aka": a["aka"],
            "highest_year": hy, "lowest_year": ly,
            "social_identifiers": None, "discipline": None, "disciplines": None,
            "author_ids": None, "base_text_ids": None,
            "commentary_ids": commentary_ids.get(i), "work_ids": None,
            "author_highest_year": None, "author_lowest_year": None,
        }
        if kind == "work":
            rec["discipline"] = a["discipline"]
            rec["author_ids"] = a["author_ids"] or None
            rec["base_text_ids"] = a["base_text_ids"] or None
            if a["years"] is None:
                dated = [x for x in a["author_ids"] if corpus.attrs[x]["years"]]
                if dated:
                    rec["author_highest_year"], rec["author_lowest_year"] = corpus.attrs[dated[0]]["years"]
        else:
            rec["social_identifiers"] = a["social"]
            rec["work_ids"] = work_ids.get(i)
            counts: dict[str, int] = {}
            for w in work_ids.get(i, []):
                d = corpus.attrs[w]["discipline"]
                if d:
                    counts[d] = counts.get(d, 0) + 1
            if counts:
                rec["disciplines"] = ", ".join(
                    f"{d} ({n})" for d, n in sorted(counts.items(), key=lambda x: (-x[1], x[0]))
                )
        out.append(rec)
    return out


def write_entity_snapshot(corpus: Corpus, out_dir: str) -> str:
    """``entities.parquet`` in ``out_dir``: the table a server loads at
    start instead of re-running the ETL, as the reference app loads the
    ETL's JSON output."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    s, i, ls = pa.string(), pa.int32(), pa.list_(pa.string())
    schema = pa.schema([
        ("id", s), ("type", s), ("name", s), ("aka", s), ("lowest_year", i),
        ("highest_year", i), ("discipline", s), ("author_ids", ls),
        ("base_text_ids", ls), ("commentary_ids", ls), ("author_lowest_year", i),
        ("author_highest_year", i), ("social_identifiers", s), ("work_ids", ls),
        ("disciplines", s),
    ])
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.Table.from_pylist(entity_records(corpus), schema=schema),
        os.path.join(out_dir, "entities.parquet"),
    )
    return out_dir


# ----------------------------------------------------- registry tables

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the"
).split()
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]


def write_tables(seed: int, out_dir: str, sf: float) -> str:
    """customer / events / documents parquet in the driver testdata
    schema (TESTDATA.md), sized like ``sf`` (sf0.1 = 15k customers,
    100k events, 5k documents). Returns the directory."""
    import numpy as np
    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)
    rs = np.random.default_rng(seed)
    n_cust, n_ev, n_doc = int(150000 * sf), int(1000000 * sf), int(50000 * sf)
    n_users = max(10, int(15000 * sf))
    pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rs.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rs.choice(SEGMENTS, n_cust),
    }).to_parquet(os.path.join(out_dir, "customer.parquet"), index=False)

    start = np.datetime64("2024-01-01T00:00:00", "us")
    span = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rs.integers(0, span, n_ev)).astype("timedelta64[us]")
    pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": ts,
        "user_id": rs.integers(0, n_users, n_ev).astype("int64"),
        "event_type": rs.choice(EVENT_TYPES, n_ev),
        "value": np.round(rs.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
    }).to_parquet(os.path.join(out_dir, "events.parquet"), index=False)

    texts = []
    for _ in range(n_doc):
        n = int(rs.integers(8, 90))
        texts.append(" ".join(rs.choice(WORDS, n)))
    # Planted exact duplicates and a shared 8-gram run, so dedup and
    # substring coverage have something to find.
    for i in range(0, n_doc - 1, 97):
        texts[i + 1] = texts[i]
    pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rs.choice(LANGS, n_doc),
        "source": [f"src{k}" for k in rs.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
    return out_dir
