"""The benchmark's workloads: one closed-loop client driving the public
functions of panditya_spark's layers, timing every op, and checking
every answer against the oracle.

serve_explore   explorer sessions against the serving layer.
analytics_batch the analyze.py graph suite plus the registry's batch
                writers, one pass after another.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections import defaultdict

import corpus as gen
import probe
from oracle import Oracle, RegistryOracle

SERVING_ENDPOINTS = [
    "subgraph_response", "entity_labels_response", "by_work_response",
    "by_collection_response", "unique_to_collection_response",
    "overlap_response", "dropdown_options",
]
GRAPH_OPS = [
    "connected_components", "degrees", "pagerank", "label_propagation",
    "strongly_connected_components", "khop_bfs",
]
REGISTRY_QUERIES = ["cdc_merge_upsert", "dedup_substring_coverage"]
ETL_FUNCTIONS = ["edges_from_entities", "etext_links_from_csv"]
REGISTRY_SF = 0.01
ANALYTICS_SCALE = 0.25
PAGERANK_ITERS, DAMPING = 3, 0.85
LPA_ITERS = 2
# Warm-up replays until two successive replays' walls agree within
# WARM_TOL, at least twice and at most WARM_MAX times.
WARM_TOL, WARM_MAX = 0.2, 3
# The traced run measures at least this many passes, so that traced and
# untraced passes of the same requests can be paired.
TRACE_MIN_PASSES = {"serve_explore": 2, "analytics_batch": 3}

# Per-layer metrics (BENCHMARK.json "per_layer"), in emission order.
LAYER_TIMERS = (
    [f"serving.{e}.ms" for e in SERVING_ENDPOINTS]
    + [f"graph.{o}.ms" for o in GRAPH_OPS]
    + [f"etl.{f}.ms" for f in ETL_FUNCTIONS]
    + ["sources.load_table.ms", "sources.entity_map_json.ms"]
    + [f"plans.{q}.ms" for q in REGISTRY_QUERIES]
)
PER_OP = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "driver.gap_ms_per_op": "ms",
    "driver.cpu_s_per_op": "s",
    "pyworker.cpu_s_per_op": "s",
    "jvm.gc_ms_per_op": "ms",
}
CONTEXT = {
    "ops.latency_p50_ms": "ms",
    "ops.latency_p90_ms": "ms",
    "ops.pass_s": "s",
    "process.peak_rss_mb": "MB",
    "sources.bytes_written_per_input_byte": "ratio",
    "trace.overhead_ms_per_op": "ms",
    "trace.hook_ms_per_op": "ms",
    "host.steal_frac": "ratio",
    "host.loadavg_start": "load",
}
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
}


def per_layer_units() -> dict[str, str]:
    return {**{m: "ms" for m in LAYER_TIMERS}, **PER_OP, **CONTEXT}


class Bench:
    """Times and checks ops; in a traced run also reads each op's Spark
    job group from the status store and the per-process CPU split.

    A traced run pairs traced passes with untraced passes of the same
    requests: ``tracing`` is the current pass's mode, ``pair`` its pair
    number, and ``counted`` says whether its ops enter the run's
    figures. Only traced passes are counted; the pairs give the tracing
    overhead."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.tracing = trace
        self.pair: int | None = None
        self.counted = True
        self.tree = probe.Tree()
        self.status = probe.SparkStatus(spark) if trace else None
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.hook_s = 0.0
        self.pair_walls: dict[int, dict[bool, float]] = defaultdict(dict)

    def set_pass(self, tracing: bool, counted: bool, pair: int | None) -> None:
        """Mode of the next pass; an untraced pass runs with no job
        group, as in an untraced run."""
        self.tracing, self.counted, self.pair = tracing, counted, pair
        if self.trace and not tracing:
            self.spark.sparkContext._jsc.clearJobGroup()

    def timed(self, metric: str, fn):
        """Wrap ``fn`` so each call's wall time lands in ``metric``."""

        def wrapper(*a, **kw):
            t0 = probe.now()
            try:
                return fn(*a, **kw)
            finally:
                self.layer[metric].append((probe.now() - t0) * 1000)

        return wrapper

    def op(self, kind: str, layer: str, fn, check) -> object:
        """Run one op: ``fn()`` is timed, ``check(result)`` is not."""
        tracing = self.tracing
        t_tr = probe.now()
        group = f"bench-op-{len(self.ops)}"
        if tracing:
            self.spark.sparkContext.setJobGroup(group, kind)
            drv0, pyw0, gc0 = self.tree.driver_cpu(), self.tree.pyworker_cpu(), self.status.gc_ms()
            self.hook_s += probe.now() - t_tr
        cpu0, st0 = self.tree.cpu(), probe.cpu_times()
        w0 = time.time()
        t0 = probe.now()
        result, err = None, None
        try:
            result = fn()
        except Exception as e:  # a failed op counts, it does not end the run
            err = f"{type(e).__name__}: {str(e)[:200]}"
        wall = probe.now() - t0
        w1 = time.time()
        rec = {
            "kind": kind,
            "wall_s": wall,
            "cpu_s": self.tree.cpu() - cpu0,
            "steal": probe.steal_frac(st0, probe.cpu_times()),
            "traced": tracing,
            "pair": self.pair,
            "counted": self.counted,
        }
        if self.counted:
            self.layer[layer].append(wall * 1000)
        if tracing:
            t_tr = probe.now()
            rec.update(self.status.group(group, w0, w1))
            rec["driver_cpu_s"] = self.tree.driver_cpu() - drv0
            rec["pyworker_cpu_s"] = self.tree.pyworker_cpu() - pyw0
            rec["gc_ms"] = self.status.gc_ms() - gc0
            self.hook_s += probe.now() - t_tr
        if err is None:
            try:
                err = check(result)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
        rec["ok"] = err is None
        if err is not None:
            self.failures.append(f"{kind}: {err}")
        self.ops.append(rec)
        return result

    def measured(self) -> list[dict]:
        """The ops the run's figures describe."""
        return [r for r in self.ops if r["counted"]]

    def end_pass(self, wall: float) -> None:
        if self.pair is not None:
            self.pair_walls[self.pair][self.tracing] = wall

    def overhead_ms(self) -> float:
        """Traced minus untraced pass wall, per op, over the complete
        pairs: everything tracing adds, inside the ops and between them."""
        done = {p: m for p, m in self.pair_walls.items() if len(m) == 2}
        n = sum(1 for r in self.ops if r["pair"] in done and r["traced"])
        if not n:
            return 0.0
        return sum(m[True] - m[False] for m in done.values()) * 1000.0 / n

    def layer_metrics(self, extra: dict[str, float]) -> dict[str, float]:
        out = {m: statistics.median(self.layer[m]) if self.layer[m] else 0.0 for m in LAYER_TIMERS}
        ops = self.measured()
        n = max(len(ops), 1)

        def per_op(key: str, scale: float = 1.0) -> float:
            return sum(r.get(key, 0) for r in ops) * scale / n

        out.update({
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.shuffle_bytes_per_op": per_op("shuffle_bytes"),
            "spark.spill_bytes_per_op": per_op("spill_bytes"),
            "driver.gap_ms_per_op": per_op("gap_s", 1000.0),
            "driver.cpu_s_per_op": per_op("driver_cpu_s"),
            "pyworker.cpu_s_per_op": per_op("pyworker_cpu_s"),
            "jvm.gc_ms_per_op": per_op("gc_ms"),
            "trace.overhead_ms_per_op": self.overhead_ms(),
            "trace.hook_ms_per_op": self.hook_s * 1000.0 / n,
            "sources.bytes_written_per_input_byte": 0.0,
        })
        out.update(extra)
        return out


def _materialize(df):
    return df.localCheckpoint(eager=True)


# ------------------------------------------------------------------ serving


class Explorer:
    """Explorer sessions: open at a Zipf-chosen entity (rank by degree,
    so hubs and leaves both appear), then follow-ups that reuse nodes of
    the previous reply.

    The reference's front-end (static/js/graph.js) is not in this
    repository; SURVEY.md section 3.4 documents only its routes: the
    page loads the dropdown lists once, the client POSTs the subgraph
    query for the chosen seeds, hops and exclude list, and the SETI
    endpoints are views of their own. How often a user calls each
    endpoint is therefore an assumption, fixed here as: one dropdown
    load per session; four explore steps, one at each of hops 0-3 in a
    seeded order; after each step one labels request (the nodes shown
    and the exclude list) and one by-work request (the works shown);
    after the first step one of each of the three collection views.
    That is 16 requests: 4 subgraph, 4 labels, 4 by-work, 3 collection
    views and 1 dropdown."""

    HOPS = (0, 1, 2, 3)
    SHOWN = 40  # nodes of a reply a follow-up names, at most

    def __init__(self, c, rng: random.Random) -> None:
        self.c = c
        self.rng = rng
        self.by_degree = sorted(c.types, key=lambda i: (-c.graph.degree(i), i))
        weights = [1.0 / (r + 1) ** 1.1 for r in range(len(self.by_degree))]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.collections = list(gen.COLLECTIONS)

    def seed_entity(self) -> str:
        import bisect

        k = bisect.bisect_left(self.cdf, self.rng.random())
        return self.by_degree[min(k, len(self.by_degree) - 1)]

    def warm_requests(self) -> list[tuple[str, dict]]:
        """One request per endpoint, around one Zipf-chosen entity: the
        dropdown, a subgraph query at hops 3, labels and by-work for its
        neighbours, and the three collection views. A hops-3 query runs
        every plan the smaller ones do: hops 0 only the part after the
        BFS loop, hop 1 the shuffled expand join, later hops the
        broadcast one (operators/graph.py khop_bfs)."""
        rng = self.rng
        center = self.seed_entity()
        kind = self.c.types[center]
        near = sorted(self.c.graph.to_undirected(as_view=True)[center]) or [center]
        works = [i for i in near if self.c.types[i] == "work"] or [rng.choice(self.c.works)]
        c1, c2 = rng.sample(self.collections, 2)
        return [
            ("dropdown_options", {}),
            ("subgraph_response", {
                "authors": [center] if kind == "author" else [],
                "works": [center] if kind == "work" else [],
                "hops": max(self.HOPS),
                "exclude_list": [],
            }),
            ("entity_labels_response", {"ids": near[: self.SHOWN]}),
            ("by_work_response", {"ids": works[: self.SHOWN]}),
            ("by_collection_response", {"coll": c1}),
            ("unique_to_collection_response", {"coll": c2}),
            ("overlap_response", {"c1": c1, "c2": c2}),
        ]

    def session(self):
        """Yields (endpoint, kwargs) per request; ``send`` back the reply."""
        rng = self.rng
        yield ("dropdown_options", {})
        center, exclude = self.seed_entity(), []
        for k, hops in enumerate(rng.sample(self.HOPS, len(self.HOPS))):
            kind = self.c.types[center]
            reply = yield ("subgraph_response", {
                "authors": [center] if kind == "author" else [],
                "works": [center] if kind == "work" else [],
                "hops": hops,
                "exclude_list": list(exclude),
            })
            shown = [n["id"] for n in reply["graph"]["nodes"]] if reply and "graph" in reply else [center]
            shown = rng.sample(shown, min(len(shown), self.SHOWN))
            exclude.append(center)
            yield ("entity_labels_response", {"ids": list(dict.fromkeys(shown + exclude))})
            works = [i for i in shown if self.c.types[i] == "work"] or [rng.choice(self.c.works)]
            yield ("by_work_response", {"ids": works})
            if k == 0:
                c1, c2 = rng.sample(self.collections, 2)
                yield ("by_collection_response", {"coll": c1})
                yield ("unique_to_collection_response", {"coll": c2})
                yield ("overlap_response", {"c1": c1, "c2": c2})
            nxt = [i for i in shown if i not in exclude]
            center = rng.choice(nxt) if nxt else self.seed_entity()


def _build_tables(bench: Bench, ctx, with_links: bool) -> tuple:
    """The server's start-up tables: the entity snapshot, the edges the
    ETL derives from it, and the SETI links the ETL reads from CSV, each
    materialized. Each step's wall lands in its layer metric."""
    from panditya_spark import etl
    from panditya_spark.sources.loaders import load_table

    def step(metric, fn):
        t0 = probe.now()
        df = _materialize(fn())
        bench.layer[metric].append((probe.now() - t0) * 1000)
        return df

    entities = step("sources.load_table.ms", lambda: load_table(ctx.spark, ctx.data_dir, "entities"))
    edges = step("etl.edges_from_entities.ms", lambda: etl.edges_from_entities(entities))
    if not with_links:
        return entities, edges, None
    links = step(
        "etl.etext_links_from_csv.ms",
        lambda: etl.etext_links_from_csv(ctx.spark, os.path.join(ctx.data_dir, "seti.csv"))[0],
    )
    return entities, edges, links


def _setup(bench: Bench, ctx, with_links: bool = True) -> tuple[tuple, float]:
    """Build the start-up tables once, cold, as a server or batch job
    does at start; returns them and the build's wall."""
    t0 = probe.now()
    tables = _build_tables(bench, ctx, with_links)
    return tables, probe.now() - t0


def serve_explore(ctx):
    from panditya_spark import serving

    spark, c = ctx.spark, ctx.corpus
    bench = Bench(spark, ctx.trace)
    ora = Oracle(c)
    (entities, edges, links), build_s = _setup(bench, ctx)

    def call(endpoint: str, kw: dict):
        if endpoint == "subgraph_response":
            return serving.subgraph_response(
                entities, edges, links, kw["authors"], kw["works"], kw["hops"], kw["exclude_list"]
            )
        if endpoint == "entity_labels_response":
            return serving.entity_labels_response(entities, kw["ids"])
        if endpoint == "by_work_response":
            return serving.by_work_response(links, entities, ",".join(kw["ids"]))
        if endpoint == "by_collection_response":
            return serving.by_collection_response(links, kw["coll"])
        if endpoint == "unique_to_collection_response":
            return serving.unique_to_collection_response(links, kw["coll"])
        if endpoint == "overlap_response":
            return serving.overlap_response(links, kw["c1"], kw["c2"])
        return serving.dropdown_options(entities)

    def check(endpoint: str, kw: dict, resp) -> str | None:
        if endpoint == "subgraph_response":
            return ora.check_subgraph(resp, kw["authors"] + kw["works"], kw["hops"], kw["exclude_list"])
        if endpoint == "entity_labels_response":
            return ora.check_labels(resp, kw["ids"])
        if endpoint == "by_work_response":
            return ora.check_by_work(resp, kw["ids"])
        if endpoint == "by_collection_response":
            return ora.check_by_collection(resp, kw["coll"])
        if endpoint == "unique_to_collection_response":
            return ora.check_unique(resp, kw["coll"])
        if endpoint == "overlap_response":
            return ora.check_overlap(resp, kw["c1"], kw["c2"])
        return ora.check_dropdown(resp)

    def send(endpoint: str, kw: dict):
        return bench.op(
            endpoint, f"serving.{endpoint}.ms",
            lambda: call(endpoint, kw), lambda r: check(endpoint, kw, r),
        )

    def run_session(explorer: Explorer) -> list[tuple[str, dict]]:
        """One session; returns its requests, in order."""
        sent = []
        gen_ = explorer.session()
        req = next(gen_)
        while True:
            sent.append(req)
            resp = send(*req)
            try:
                req = gen_.send(resp)
            except StopIteration:
                return sent

    # Warm-up: one request of each endpoint (subgraph at hops 3), replayed
    # until two successive replays take the same time within WARM_TOL. A
    # replay's wall, not its median request, is compared: the cold
    # requests are two or three of seven, which a median hides.
    # Its ops are checked but not counted.
    t0 = probe.now()
    bench.set_pass(tracing=False, counted=False, pair=None)
    shapes = Explorer(c, random.Random(f"warm-{ctx.seed}")).warm_requests()
    replays: list[float] = []
    while len(replays) < 2 or (
        abs(replays[-1] - replays[-2]) > WARM_TOL * replays[-2] and len(replays) < WARM_MAX
    ):
        first = len(bench.ops)
        for req in shapes:
            send(*req)
        replays.append(sum(r["wall_s"] for r in bench.ops[first:]))
    warm_s = probe.now() - t0
    setup_cpu_s = bench.tree.cpu() - ctx.cpu_start

    explorer = Explorer(c, random.Random(ctx.seed))
    orig_bfs = serving.khop_bfs
    bfs_timer = bench.timed("graph.khop_bfs.ms", orig_bfs)

    def one_pass(tracing: bool, counted: bool, pair: int | None, replay=None):
        """One session, or a replay of ``replay``'s requests. In a
        traced pass the BFS the serving layer runs is wrapped in a timer."""
        bench.set_pass(tracing, counted, pair)
        serving.khop_bfs = bfs_timer if tracing else orig_bfs
        t0 = probe.now()
        try:
            if replay is None:
                replay = run_session(explorer)
            else:
                for req in replay:
                    send(*req)
        finally:
            serving.khop_bfs = orig_bfs
        wall = probe.now() - t0
        bench.end_pass(wall)
        return replay, wall

    def run_pass(k: int) -> float:
        if not ctx.trace:
            return one_pass(False, True, None)[1]
        # A traced session and an untraced replay of it, in alternating
        # order; the traced one is counted.
        first_traced = k % 2 == 0
        reqs, wall = one_pass(first_traced, first_traced, k)
        wall2 = one_pass(not first_traced, not first_traced, k, reqs)[1]
        return wall if first_traced else wall2

    sessions = _loop(ctx, run_pass, TRACE_MIN_PASSES["serve_explore"] if ctx.trace else 1)
    return bench, {
        "build_s": build_s, "warmup_s": warm_s, "warmup_replays_s": replays,
        "setup_cpu_s": setup_cpu_s, "passes_s": sessions,
    }


def _loop(ctx, run_pass, min_passes: int) -> list[float]:
    """Whole passes until ``ctx.seconds`` have gone by: at least one, at
    least ``min_passes`` while time allows, and none that the last
    pass's wall says would end after the run's deadline.
    ``run_pass(k)`` runs pass ``k`` and returns its wall."""
    t_start = probe.now()
    walls: list[float] = []
    last = 0.0
    while not walls or probe.now() + last < ctx.deadline:
        if len(walls) >= min_passes and probe.now() - t_start >= ctx.seconds:
            break
        t0 = probe.now()
        walls.append(run_pass(len(walls)))
        last = probe.now() - t0
    return walls


# ------------------------------------------------------------------ analytics


def analytics_batch(ctx):
    from panditya_spark.operators import graph as G
    from panditya_spark.plans import ORACLES, QUERIES
    from panditya_spark.sources import sinks

    spark, c, data_dir, tables_dir = ctx.spark, ctx.corpus, ctx.data_dir, ctx.tables_dir
    bench = Bench(spark, ctx.trace)
    ora = Oracle(c)
    reg = RegistryOracle(tables_dir, ["customer", "events", "documents"])
    (entities, edges, _), build_s = _setup(bench, ctx, with_links=False)
    setup_cpu_s = bench.tree.cpu() - ctx.cpu_start
    edges = edges.select("src", "dst")
    vertices = entities.select("id")
    map_path = os.path.join(data_dir, "entity_map.json")
    map_bytes: list[float] = []

    def cc():
        comps = _materialize(G.connected_components(edges, vertices=vertices))
        return comps.collect(), G.component_census(comps).collect()

    def check_cc(res):
        return ora.check_components(res[0]) or ora.check_census(res[1])

    def entity_map():
        sinks.entity_map_json(entities, map_path)
        with open(map_path, encoding="utf-8") as f:
            data = json.load(f)
        map_bytes.append(os.path.getsize(map_path) / os.path.getsize(os.path.join(data_dir, "entities.parquet")))
        return data

    pass_ops = [
        ("connected_components", cc, check_cc),
        ("degrees", lambda: G.degrees(edges).collect(), ora.check_degrees),
        ("pagerank", lambda: G.pagerank(edges, iters=PAGERANK_ITERS, damping=DAMPING, vertices=vertices).collect(),
         lambda r: ora.check_pagerank(r, PAGERANK_ITERS, DAMPING)),
        ("label_propagation", lambda: G.label_propagation(edges, max_iter=LPA_ITERS, vertices=vertices).collect(),
         lambda r: ora.check_communities(r, "community", 0.3)),
        ("strongly_connected_components", lambda: G.strongly_connected_components(edges).collect(), ora.check_scc),
    ]
    ops = [(k, f"graph.{k}.ms", fn, chk) for k, fn, chk in pass_ops]
    ops.append(("entity_map_json", "sources.entity_map_json.ms", entity_map, ora.check_entity_map))
    for q in REGISTRY_QUERIES:
        def run_q(q=q):
            df = QUERIES[q](spark, tables_dir)
            return df.columns, df.collect()

        ops.append((q, f"plans.{q}.ms", run_q, lambda r, q=q: reg.check(ORACLES[q], r[0], r[1])))

    def run_pass(k: int) -> float:
        """Pass 0 is the cold pass the run's figures describe. In a
        traced run it is traced, and the later passes pair untraced and
        traced passes (U T, then T U) for the tracing overhead only."""
        if not ctx.trace:
            bench.set_pass(False, True, None)
        elif k == 0:
            bench.set_pass(True, True, None)
        else:
            bench.set_pass(k % 4 in (2, 3), False, (k - 1) // 2)
        t0 = probe.now()
        for kind, layer, fn, chk in ops:
            bench.op(kind, layer, fn, chk)
        wall = probe.now() - t0
        bench.end_pass(wall)
        return wall

    walls = _loop(ctx, run_pass, TRACE_MIN_PASSES["analytics_batch"] if ctx.trace else 1)
    passes = walls[:1] if ctx.trace else walls
    extra = {"sources.bytes_written_per_input_byte": statistics.median(map_bytes)}
    return bench, {
        "build_s": build_s, "warmup_s": 0.0, "setup_cpu_s": setup_cpu_s, "passes_s": passes, "extra": extra,
    }


WORKLOADS = {"serve_explore": serve_explore, "analytics_batch": analytics_batch}
SCALE = {"serve_explore": 1.0, "analytics_batch": ANALYTICS_SCALE}
