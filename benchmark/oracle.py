"""Independent expected answers: NetworkX over the generator's graph,
plain Python over its labels and SETI link set, DuckDB over the
registry's ORACLES SQL. Each ``check_*`` returns None when the engine's
answer is right and a short reason when it is not."""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import networkx as nx

# analyze.py:15-22 buckets: (name, lo, hi) with hi exclusive.
SIZE_BUCKETS = [
    ("isolated", 1, 2), ("extra_small", 2, 5), ("small", 5, 10),
    ("medium", 10, 26), ("large", 26, 101), ("extra_large", 101, 2**31),
]
REL = {
    "wrote": "source author wrote target work",
    "inspired": "source base text inspired target commentary",
}


# The reference's dropdown collation (utils/utils.py:83-103), kept here
# so the check does not share the engine's copy: alphabet order is the
# collation; at every position a two-letter symbol is tried before a
# one-letter one, the position always advances by one, and anything
# outside the alphabet sorts after it.
ALPHABET = (
    "a ā i ī u ū ṛ ṝ ḷ ḹ e ai o au k kh g gh ṅ c ch j jh ñ ṭ ṭh ḍ ḍh ṇ "
    "t th d dh n p ph b bh m y r l v ś ṣ s h ṃ ḥ"
).split()
RANK = {ch: k for k, ch in enumerate(ALPHABET)}


def collation_key(label: str) -> list[int]:
    s = label.lower()
    return [RANK.get(s[k:k + 2], RANK.get(s[k], len(ALPHABET))) for k in range(len(s))]


def _bucket(n: int) -> str:
    return next(name for name, lo, hi in SIZE_BUCKETS if lo <= n < hi)


class Oracle:
    def __init__(self, corpus) -> None:
        self.c = corpus
        self.g = corpus.graph
        self.und = corpus.graph.to_undirected(as_view=True)
        by_work: dict[str, dict] = defaultdict(lambda: defaultdict(lambda: defaultdict(set)))
        for wid, coll, sub, url in corpus.links:
            by_work[wid][coll][sub].add(url)
        self.by_work = by_work
        self._components = None

    # ------------------------------------------------------------ serving

    def khop(self, seeds: list[str], hops: int, exclude: set[str]):
        """grapher.py:25-94: undirected BFS; excluded nodes are reached
        but never expanded; edges are the input edges induced on the
        reached set."""
        dist = {s: 0 for s in seeds}
        frontier = list(dict.fromkeys(seeds))
        for d in range(1, hops + 1):
            nxt = []
            for u in frontier:
                if u in exclude:
                    continue
                for v in self.und[u]:
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        edges = {
            (u, v, REL[data["relationship"]])
            for u in dist
            for v, data in self.g[u].items()
            if v in dist
        }
        return dist, edges

    def nested(self, work_ids, collections=None) -> dict:
        """work → collection → sorted urls (single-subtype collections
        flattened to the bare list) — the ETEXT_LINKS value shape."""
        out = {}
        for w in work_ids:
            colls = {}
            for coll, subs in self.by_work.get(w, {}).items():
                if collections is not None and coll not in collections:
                    continue
                shaped = {s: sorted(u) for s, u in subs.items()}
                colls[coll] = next(iter(shaped.values())) if len(shaped) == 1 else shaped
            if colls:
                out[w] = colls
        return out

    def check_subgraph(self, resp, seeds, hops, exclude) -> str | None:
        if "error" in resp:
            return f"error response: {resp['error']}"
        dist, edges = self.khop(seeds, hops, set(exclude))
        nodes = resp["graph"]["nodes"]
        got = {n["id"] for n in nodes}
        if got != set(dist):
            return f"node set differs: {len(got)} vs {len(dist)}"
        for n in nodes:
            i = n["id"]
            if n["label"] != self.c.names[i] or n["type"] != self.c.types[i]:
                return f"label/type of {i}"
            if n["is_central"] != (i in seeds) or n["is_excluded"] != (i in exclude):
                return f"flags of {i}"
            want = self.nested([i]).get(i, False)
            if n["etext_links"] != want:
                return f"etext links of {i}"
        got_e = {(e["source"], e["target"], e["relationship"]) for e in resp["graph"]["edges"]}
        if got_e != edges or len(resp["graph"]["edges"]) != len(edges):
            return f"edge set differs: {len(got_e)} vs {len(edges)}"
        return None

    def check_labels(self, resp, ids) -> str | None:
        want = {i: self.c.names[i] for i in ids if i in self.c.names}
        return None if resp.get("labels") == want else "labels differ"

    def check_by_work(self, resp, ids) -> str | None:
        works = [i for i in ids if self.c.types.get(i) == "work"]
        if not works:
            return None if "error" in resp else "expected an error: no valid works"
        return None if resp == self.nested(works) else "by_work mapping differs"

    def _members(self) -> dict[str, set[str]]:
        colls: dict[str, set[str]] = defaultdict(set)
        for wid, coll, _, _ in self.c.links:
            colls[wid].add(coll)
        return colls

    def check_by_collection(self, resp, coll) -> str | None:
        works = {w for w, cs in self._members().items() if coll in cs and w != "..."}
        return None if resp == self.nested(works, {coll}) else "by_collection differs"

    def check_unique(self, resp, coll) -> str | None:
        works = {w for w, cs in self._members().items() if cs == {coll}}
        return None if resp == self.nested(works, {coll}) else "unique_to_collection differs"

    def check_overlap(self, resp, c1, c2) -> str | None:
        m = self._members()
        want = {
            "overlap": self.nested({w for w, cs in m.items() if c1 in cs and c2 in cs}, {c1, c2}),
            f"only_in_{c1}": self.nested({w for w, cs in m.items() if c1 in cs and c2 not in cs}, {c1}),
            f"only_in_{c2}": self.nested({w for w, cs in m.items() if c2 in cs and c1 not in cs}, {c2}),
        }
        return None if resp == want else "overlap differs"

    def check_dropdown(self, resp) -> str | None:
        """Every entity once, split by type, each label starting with
        '{name} ({id})', in the reference's collation order."""
        all_ = resp.get("all", [])
        if {o["id"] for o in all_} != set(self.c.types) or len(all_) != len(self.c.types):
            return "dropdown id set differs"
        for kind in ("authors", "works"):
            ids = {o["id"] for o in resp[kind]}
            if ids != {i for i, t in self.c.types.items() if t + "s" == kind}:
                return f"dropdown {kind} differ"
        keys = []
        for o in all_:
            if not o["label"].startswith(f"{self.c.names[o['id']]} ({o['id']})"):
                return f"dropdown label of {o['id']}"
            keys.append(collation_key(o["label"]))
        if any(a > b for a, b in zip(keys, keys[1:])):
            return "dropdown not in collation order"
        return None

    # ------------------------------------------------------------ analytics

    def components(self) -> list[set[str]]:
        if self._components is None:
            self._components = list(nx.connected_components(self.und))
        return self._components

    def check_census(self, rows) -> str | None:
        want: dict[str, list[int]] = defaultdict(lambda: [0, 0])
        for comp in self.components():
            b = want[_bucket(len(comp))]
            b[0] += len(comp)
            b[1] += 1
        got = {r["category"]: [r["n_nodes"], r["n_components"]] for r in rows}
        return None if got == dict(want) else f"census differs: {got}"

    def check_components(self, rows) -> str | None:
        want = {n: min(comp) for comp in self.components() for n in comp}
        got = {r["node"]: r["component"] for r in rows}
        return None if got == want else "component labels differ"

    def check_degrees(self, rows) -> str | None:
        got = {r["node"]: (r["in_degree"], r["out_degree"]) for r in rows}
        want = {
            n: (self.g.in_degree(n), self.g.out_degree(n))
            for n in self.g
            if self.g.degree(n)
        }
        return None if got == want else "degrees differ"

    def pagerank(self, iters: int, damping: float) -> dict[str, float]:
        """Power iteration with the engine's stated semantics: ranks
        start at 1 and sum to n; dangling mass is spread uniformly."""
        nodes = list(self.g)
        n = len(nodes)
        rank = dict.fromkeys(nodes, 1.0)
        out = {u: self.g.out_degree(u) for u in nodes}
        for _ in range(iters):
            contrib = defaultdict(float)
            for u, v in self.g.edges():
                contrib[v] += rank[u] / out[u]
            dangling = sum(rank[u] for u in nodes if out[u] == 0)
            rank = {
                u: (1 - damping) + damping * (contrib.get(u, 0.0) + dangling / n)
                for u in nodes
            }
        return rank

    def check_pagerank(self, rows, iters: int, damping: float) -> str | None:
        want = self.pagerank(iters, damping)
        got = {r["node"]: r["rank"] for r in rows}
        if got.keys() != want.keys():
            return "pagerank node set differs"
        bad = [n for n in want if not math.isclose(got[n], want[n], rel_tol=1e-9, abs_tol=1e-12)]
        return f"pagerank differs at {len(bad)} nodes" if bad else None

    def check_communities(self, rows, key: str, min_modularity: float) -> str | None:
        """LPA / Louvain invariants: every node labelled once, no
        community spans two connected components, and the partition's
        modularity clears ``min_modularity``."""
        label = {r["node"]: r[key] for r in rows}
        nodes = {n for n in self.g if self.g.degree(n)}
        if not nodes <= label.keys():
            return f"{key}: unlabelled nodes"
        comp_of = {n: k for k, comp in enumerate(self.components()) for n in comp}
        seen: dict = {}
        for n in nodes:
            if seen.setdefault(label[n], comp_of[n]) != comp_of[n]:
                return f"{key}: community spans components"
        groups: dict = defaultdict(set)
        for n in nodes:
            groups[label[n]].add(n)
        q = nx.community.modularity(self.und.subgraph(nodes), groups.values())
        return None if q >= min_modularity else f"{key}: modularity {q:.3f}"

    def check_scc(self, rows) -> str | None:
        """Every node with an edge, labelled by the smallest id of its
        strongly connected component."""
        want = {
            n: min(comp)
            for comp in nx.strongly_connected_components(self.g)
            for n in comp
            if self.g.degree(n)
        }
        got = {r["node"]: r["scc"] for r in rows}
        if len(got) != len(rows):
            return "scc lists a node twice"
        bad = got.keys() ^ want.keys() | {n for n in got.keys() & want.keys() if got[n] != want[n]}
        return f"scc differs at {len(bad)} nodes" if bad else None

    def check_entity_map(self, mapping: dict) -> str | None:
        if mapping.keys() != self.c.types.keys():
            return "entity map keys differ"
        for i, ent in mapping.items():
            if ent.get("name") != self.c.names[i] or ent.get("type") != self.c.types[i]:
                return f"entity map entry {i}"
        return None


# ---------------------------------------------------------------- registry

def _cell(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else f"{f:.9g}"
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def multiset(cols: list[str], rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(_cell(r[i]) for i in order) for r in rows)


class RegistryOracle:
    """DuckDB views over the generated parquet, answering ORACLES SQL."""

    def __init__(self, tables_dir: str, names: list[str]) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )

    def check(self, sql: str, cols: list[str], rows) -> str | None:
        cur = self.con.execute(sql)
        d_cols = [c[0] for c in cur.description]
        d_rows = cur.fetchall()
        if sorted(d_cols) != sorted(cols):
            return f"columns differ: {sorted(cols)} vs {sorted(d_cols)}"
        if not d_rows:
            return "oracle returned no rows"
        return None if multiset(cols, rows) == multiset(d_cols, d_rows) else "values differ"
