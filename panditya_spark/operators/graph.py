"""Graph operators (SURVEY.md §2.8) over an ``edges(src, dst)`` DataFrame.

The reference does all of this with NetworkX on a single in-memory graph
(grapher.py, utils/analyze.py). Every algorithm here has a distributed
tier: a loop of joins with lineage hygiene (cache + localCheckpoint every
few rounds, _LoopState), so the same code runs on a 17k-node
prosopography graph or a multi-billion-edge cluster graph.

Connected components, strongly connected components, PageRank and
personalized PageRank, label propagation and exact betweenness also
have a local tier, because on a small graph every loop round is Spark
fixed cost, not work. The rule that picks the tier (_local_graph): one
``limit(cap+1)`` collect of the edges, and of the vertices when given,
is both the size probe and the data fetch. When the edges fit the
heap-derived cap (_local_cap), no id is null, all ids share one string
or integer type, and the result has at most _LOCAL_MAX_ROWS rows, a
pure-Python kernel with the distributed loop's exact semantics runs on
the driver and its rows come back through relational.literal_frame.
Otherwise the distributed loop runs.
The truss peel of ktruss and truss_decomposition finishes on the driver
under the same cap.

Semantics replicated from the reference:
- k-hop BFS (grapher.py:25-94): undirected expansion from a seed set;
  nodes in `exclude` are included when reached but never expanded
  (grapher.py:48-50); the result keeps exactly the edges whose BOTH
  endpoints were visited — the "queued-up but unestablished periphery"
  trim at grapher.py:90-92 is equivalent to inducing on visited nodes.
- connected components (analyze.py:36-39): undirected, via iterative
  min-label propagation (large-star/small-star style contraction).
- degrees / density (analyze.py:94-117).
- longest chain depth (analyze.py:226-253): longest path in a DAG by
  iterative relaxation, cycle-guarded by an iteration cap.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as _W

from panditya_spark.operators.relational import literal_frame


def undirected(edges: DataFrame) -> DataFrame:
    """Undirected projection (analyze.py:36,127): both directions, deduped."""
    return undirected_multi(edges).distinct()


def undirected_multi(edges: DataFrame) -> DataFrame:
    """Undirected projection WITHOUT the trailing distinct — a full
    O(E) shuffle that duplicate-insensitive consumers (BFS frontier
    expansion, min-label aggregation) don't need. At 100 TB the skipped
    dedup of the largest table is the difference between one pass and
    two."""
    fwd = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    rev = edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    return fwd.union(rev)


_CKPT_ROOT: str | None = None
_CKPT_SEQ = 0


def _cleanup_ckpt_root() -> None:
    """Delete the spill root at process exit — final loop generations
    (still referenced by returned DataFrames) live until then."""
    global _CKPT_ROOT
    if _CKPT_ROOT is not None:
        import shutil

        shutil.rmtree(_CKPT_ROOT, ignore_errors=True)
        _CKPT_ROOT = None


def _checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut lineage AND reset plan statistics via a parquet roundtrip.

    Why not localCheckpoint()/checkpoint(): Dataset.checkpoint carries
    the optimized plan's Statistics into the resulting LogicalRDD, and
    the size-only stats visitor computes a join's sizeInBytes as the
    *product* of its children's. In an iterative loop the carried
    BigInt's bit-length therefore doubles every round — by round ~22 a
    single stats multiplication allocates GBs and OOMs the driver
    (observed: java.lang.OutOfMemoryError inside
    SizeInBytesOnlyStatsPlanVisitor / BigIntIsIntegral.times).

    A parquet write+read gives a scan with *true file-size* stats each
    round — constant-size plans, honest AQE/broadcast decisions, and
    the spill location is where a cluster deployment would put reliable
    checkpoints anyway (swap the tmp dir for an HDFS/S3 path)."""
    global _CKPT_ROOT, _CKPT_SEQ
    if _CKPT_ROOT is None:
        import atexit
        import tempfile

        _CKPT_ROOT = tempfile.mkdtemp(prefix="panditya-iter-ckpt-")
        atexit.register(_cleanup_ckpt_root)
    import os

    path = os.path.join(_CKPT_ROOT, f"c{_CKPT_SEQ}")
    _CKPT_SEQ += 1
    df.write.mode("overwrite").parquet(path)
    out = df.sparkSession.read.parquet(path)
    out._panditya_ckpt_path = path  # type: ignore[attr-defined]
    return out


def _release(df: DataFrame | None) -> None:
    """Free a superseded loop checkpoint: delete its parquet files
    (spill checkpoints) or unpersist its pinned RDD blocks (local
    checkpoints). The DF must never be used again after release."""
    if df is None:
        return
    path = getattr(df, "_panditya_ckpt_path", None)
    if path:
        import shutil

        shutil.rmtree(path, ignore_errors=True)
        return
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
    except Py4JError:
        return  # not a localCheckpoint plan: nothing pinned
    # SparkContext.unpersistRDD, not RDD.unpersist: the latter logs a
    # WARN for every locally checkpointed RDD it frees.
    df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd.id(), False)


class _LoopState:
    """Materialization for the rounds of an iterative DataFrame loop.

    ``step(*frames, **metrics)`` ends a round. It materializes every
    state frame of the round: a localCheckpoint, or on every
    ``period``-th step a parquet spill (_checkpoint) of all of them. A
    localCheckpoint cuts the plan, which a loop needs because each round
    reads the previous state more than once; but it carries the
    optimized plan's statistics, whose size estimates compound per
    round, and the spill resets them to the true file size. Every live
    state frame goes through the same spill, or its chain keeps
    compounding. A frame the loop already holds (a ``minor`` cut of this
    round, or a frame of the last step) is carried as it is, except on a
    spill step.

    The named aggregate Columns in ``metrics`` are evaluated over the
    first frame as one ``observe()`` inside the job that materializes
    it, so a fixpoint probe or a count costs no job of its own. Returns
    the materialized frames followed by the dict of metric values.

    Release rule: once a step's frames exist, the previous round's frames
    (its state and its ``minor`` cuts) are freed, unless this step
    carries them. ``finish(*keep)`` frees the rest at loop exit."""

    def __init__(self, period: int = 8):
        self.period = period
        self._round = 0
        self._prev: list[DataFrame] = []
        self._cur: list[DataFrame] = []

    def minor(self, df: DataFrame) -> DataFrame:
        """Materialize mid-round state (plan cut, no spill)."""
        out = df.localCheckpoint(eager=True)
        self._cur.append(out)
        return out

    def step(self, *frames: DataFrame, **metrics: Column) -> tuple:
        obs = Observation() if metrics else None
        if obs is not None:
            head = frames[0].observe(obs, *[c.alias(k) for k, c in metrics.items()])
            frames = (head, *frames[1:])
        self._round += 1
        spill = self._round % self.period == 0
        held = self._prev + self._cur
        out = [
            _checkpoint(f) if spill
            else f if any(f is h for h in held)
            else f.localCheckpoint(eager=True)
            for f in frames
        ]
        for f in self._prev:
            if not any(f is o for o in out):
                _release(f)
        self._prev = self._cur + [o for o in out if not any(o is c for c in self._cur)]
        self._cur = []
        return (*out, obs.get if obs is not None else {})

    def finish(self, *keep: DataFrame) -> None:
        """Free every frame the loop still holds except ``keep``, the
        frames the returned result reads. A kept spill's files go with
        the atexit cleanup of the spill root."""
        for f in self._prev + self._cur:
            if not any(f is k for k in keep):
                _release(f)
        self._prev, self._cur = [], []


def khop_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    hops: int,
    exclude: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """k-hop BFS subgraph with exclusion (grapher.py:25-94).

    edges: (src, dst [, ...]) directed edge table.
    seeds: (node) seed set. exclude: (node) or None.
    Returns (nodes(node, dist), subgraph_edges) where subgraph_edges is
    the input edges induced on visited nodes — the periphery-trim
    semantics of grapher.py:90-92.

    Each round is: frontier ⋈ undirected-adjacency → new frontier,
    anti-joined against visited. From the second round on, while the
    visited count measured by the previous round's probe stays under
    the heap-derived cap, the frontier is broadcast into the expansion
    join and visited into the anti-join; visited accumulates via
    union + localCheckpoint to keep lineage flat.
    """
    # Cached, NOT key-repartitioned: AQE broadcasts the small frontier
    # into the expansion join, so the adjacency never shuffles — an
    # up-front repartition("a") is a full O(E) shuffle that buys
    # nothing (same finding as connected_components, measured at
    # sf0.1). A ROUND-ROBIN spread does pay off when the source has
    # fewer splits than cores (per-hop scans of the cached table would
    # otherwise run 1-2 tasks); the guard makes it a no-op at scale.
    # The cache prevents per-hop re-scans.
    from panditya_spark.operators.relational import spread_small_input

    adj = spread_small_input(undirected_multi(edges)).cache()
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint()
    )
    state = _LoopState()

    # One materialization per round: the frontier is visited@dist==d-1
    # (a cheap scan of the checkpointed table), so each round is a
    # single expand ∪ accumulate job.
    # Measured-count broadcast gate (r17, guide §3.1): visited is a
    # checkpointed LogicalRDD, so the planner can only guess its size —
    # the hop-2 executed plan showed it guessing wrong both ways
    # (broadcasting the O(E) adjacency into the expand join, SMJ-ing
    # the visited anti-join). The exact visited count rides each hop's
    # step for free; the frontier is a subset of visited, so one gate
    # covers both joins. Above the heap-derived cap (cluster scale)
    # the hints stay off and both joins shuffle.
    bcast_cap = _broadcast_edge_cap(edges.sparkSession) // 2
    n_visited: int | None = None
    for depth in range(1, hops + 1):
        small = n_visited is not None and n_visited <= bcast_cap
        frontier = visited.filter(F.col("dist") == depth - 1).select("node")
        # Excluded nodes are visited but never expanded (grapher.py:48-50).
        expandable = (
            frontier.join(exclude.select(F.col(exclude.columns[0]).alias("node")), "node", "left_anti")
            if exclude is not None
            else frontier
        )
        if small:
            expandable = F.broadcast(expandable)
        seen = visited.select("node")
        nxt = (
            expandable.join(adj, expandable.node == adj.a)
            .select(F.col("b").alias("node"))
            .distinct()
            .join(F.broadcast(seen) if small else seen, "node", "left_anti")
            .withColumn("dist", F.lit(depth))
        )
        # max(dist) == depth ⇔ this hop added at least one node; the
        # visited count feeds the next hop's broadcast gate.
        visited, m = state.step(
            visited.union(nxt), max_dist=F.max("dist"), n=F.count(F.lit(1))
        )
        n_visited = int(m["n"] or 0)
        if m["max_dist"] is None or m["max_dist"] < depth:
            break

    # visited is distinct by construction (distinct seeds, each hop
    # anti-joined against visited). Under the same measured-count gate
    # it is broadcast into both semi-joins, so the edge table is read
    # in one pass and never shuffled; at hops 0 the set is the seeds.
    vnodes = visited.select("node")
    if n_visited is None or n_visited <= bcast_cap:
        vnodes = F.broadcast(vnodes)
    sub_edges = (
        edges.join(vnodes.withColumnRenamed("node", "src"), "src", "left_semi")
        .join(vnodes.withColumnRenamed("node", "dst"), "dst", "left_semi")
    )
    adj.unpersist()
    state.finish(visited)
    return visited, sub_edges


def degrees(edges: DataFrame) -> DataFrame:
    """(node, in_degree, out_degree, degree) — analyze.py:107-117.

    Two partial aggregations + one outer join; all map-side combinable.
    """
    ind = edges.groupBy(F.col("dst").alias("node")).agg(F.count(F.lit(1)).alias("in_degree"))
    outd = edges.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_degree"))
    return (
        ind.join(outd, "node", "full_outer")
        .na.fill(0, ["in_degree", "out_degree"])
        .withColumn("degree", F.col("in_degree") + F.col("out_degree"))
    )


def density(edges: DataFrame, vertices: DataFrame) -> float:
    """nx.density for digraph: m / (n*(n-1)) — analyze.py:97."""
    n = vertices.count()
    m = edges.count()
    return 0.0 if n <= 1 else m / (n * (n - 1))


# ------------------------------------------------------------ local tier
# Result rows above which the local tier hands a graph back to the
# distributed loop. Measured with connected_components on 4 cores, the
# sf0.1 key chain (165k nodes, 165k edges) and k disjoint copies of it:
# local 2.3 s against distributed 3.9-4.3 s at 165k nodes, a tie at
# 330k (6.2 s against 6.1 s) and a loss at 660k (15-17 s against
# 10-12 s). The collect, the kernel and literal_frame's JSON literal
# all grow with the graph; the distributed loop's per-round fixed cost
# does not.
_LOCAL_MAX_ROWS = 200_000

# Id types that round-trip exactly through literal_frame's JSON payload
# and order the same in Python as in Spark.
_LOCAL_ID_TYPES = frozenset({"string", "int", "bigint"})


def _local_cap(spark: SparkSession) -> int:
    """Edge cap of the driver-side tiers (the local graph kernels and
    the truss peel's tail), derived from driver heap the way
    _broadcast_edge_cap is: Python dict/heap state costs ~300 B/edge
    (measured ~0.3 GB at 1M edges), the gate budgets 3% of heap, and
    the result is clamped to [100k, 1M]. The 1M ceiling is the
    measured wall-clock crossover of the truss peel (~10-17 us/edge
    single-threaded against 3 distributed jobs per tail round), past
    which collecting more stops paying even with the memory to spare.
    A 1g driver lands at ~107k."""
    heap = _driver_heap_bytes(spark)
    return min(1_000_000, max(100_000, int(heap * 0.03) // 300))


def _local_graph(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    cols: tuple[str, str] = ("src", "dst"),
) -> tuple[list[tuple], list, str] | None:
    """The local tier's size probe and data fetch in one: collect at
    most _LOCAL_MAX_ROWS+1 vertices when given, then at most cap+1
    edges. Returns (edge pairs, nodes, id type), where nodes are the
    distinct vertices when given and the distinct edge endpoints
    otherwise, both in first-seen order. Returns None, and the caller
    runs its distributed loop, when the ids are not all of one
    _LOCAL_ID_TYPES type, an id is null, the edges exceed the cap, or
    the nodes exceed _LOCAL_MAX_ROWS."""
    src, dst = cols
    fields = [edges.schema[src], edges.schema[dst]]
    if vertices is not None:
        fields.append(vertices.schema[vertices.columns[0]])
    types = {f.dataType.simpleString() for f in fields}
    if len(types) != 1 or not types <= _LOCAL_ID_TYPES:
        return None
    nodes = None
    if vertices is not None:
        vs = vertices.select(vertices.columns[0]).limit(_LOCAL_MAX_ROWS + 1).collect()
        if len(vs) > _LOCAL_MAX_ROWS:
            return None
        nodes = list(dict.fromkeys(r[0] for r in vs))
        if None in nodes:
            return None
    cap = _local_cap(edges.sparkSession)
    pairs = [tuple(r) for r in edges.select(src, dst).limit(cap + 1).collect()]
    if len(pairs) > cap or any(a is None or b is None for a, b in pairs):
        return None
    if nodes is None:
        nodes = list(dict.fromkeys(x for p in pairs for x in p))
        if len(nodes) > _LOCAL_MAX_ROWS:
            return None
    return pairs, nodes, types.pop()


def _cc_local(pairs: list[tuple], nodes: list) -> list[tuple]:
    """connected_components on the driver: union-find whose root is
    always its set's min id. Only edges with both endpoints in `nodes`
    join sets, as in the distributed loop, whose label joins drop edges
    to non-vertices."""
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for a, b in pairs:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return [(v, find(v)) for v in nodes]


def _scc_local(pairs: list[tuple], nodes: list) -> list[tuple]:
    """strongly_connected_components on the driver: iterative Tarjan,
    each component labelled by its min member. `nodes` are the edge
    endpoints, so, as in the distributed loop, only nodes with an edge
    are emitted."""
    adj: dict = {v: [] for v in nodes}
    for a, b in pairs:
        adj[a].append(b)
    index: dict = {}
    low: dict = {}
    stack: list = []
    on_stack: set = set()
    label: dict = {}
    for root in nodes:
        if root in index:
            continue
        index[root] = low[root] = len(index)
        stack.append(root)
        on_stack.add(root)
        work = [(root, iter(adj[root]))]
        while work:
            v, it = work[-1]
            for w in it:
                if w not in index:
                    index[w] = low[w] = len(index)
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(adj[w])))
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            else:
                work.pop()
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
                if low[v] == index[v]:
                    members = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        members.append(w)
                        if w == v:
                            break
                    m = min(members)
                    for w in members:
                        label[w] = m
    return [(v, label[v]) for v in nodes]


def _pagerank_local(
    pairs: list[tuple], restart: dict, norm: float, iters: int, damping: float
) -> list[tuple]:
    """_rank_loop on the driver, for pagerank and personalized_pagerank:
    ``restart`` maps every ranked node to its restart weight r and
    ``norm`` is S. Ranks start at r and each round computes
    (1-d)*r + d*(contrib + dm/S*r), the distributed loop's operand
    order; only the order of summation differs. Out-degrees count every
    edge, duplicates included; only ranked nodes contribute; dangling
    mass is the rank of ranked nodes without an out-edge."""
    out: dict = {}
    for a, _ in pairs:
        out[a] = out.get(a, 0) + 1
    dangling = [v for v in restart if v not in out]
    keep = 1 - damping
    rank = dict(restart)
    for _ in range(iters):
        contrib: dict = {}
        for a, b in pairs:
            r = rank.get(a)
            if r is not None:
                contrib[b] = contrib.get(b, 0.0) + r / out[a]
        dm = sum(rank[v] for v in dangling) / norm
        rank = {
            v: keep * r + damping * (contrib.get(v, 0.0) + dm * r)
            for v, r in restart.items()
        }
    return list(rank.items())


def _lpa_local(pairs: list[tuple], nodes: list, max_iter: int) -> list[tuple]:
    """label_propagation on the driver: synchronous rounds over the
    deduplicated undirected projection restricted to `nodes` (a
    self-loop is one neighbor), plus the self-vote; ties go to the
    smallest label. Stops early at a fixpoint, which later rounds
    would only repeat."""
    nbrs: dict = {v: set() for v in nodes}
    for a, b in pairs:
        if a in nbrs and b in nbrs:
            nbrs[a].add(b)
            nbrs[b].add(a)
    label = {v: v for v in nodes}
    for _ in range(max_iter):
        new = {}
        for v, ns in nbrs.items():
            votes = {label[v]: 1}
            for u in ns:
                votes[label[u]] = votes.get(label[u], 0) + 1
            top = max(votes.values())
            new[v] = min(c for c, k in votes.items() if k == top)
        if new == label:
            break
        label = new
    return list(label.items())


def connected_components(
    edges: DataFrame, vertices: DataFrame | None = None, max_iter: int = 50
) -> DataFrame:
    """Undirected connected components (analyze.py:36-39) without
    GraphFrames.

    Returns (node, component) where component = min node id (string
    comparison if ids are strings) in the component. With explicit
    `vertices` only edges whose two endpoints are both vertices count.
    A graph that fits the local tier is solved by union-find on the
    driver (_cc_local). Otherwise labels propagate to a fixpoint, one
    checkpointed round at a time: hash-to-min with pointer jumping,
    O(log diameter) rounds. Raises ValueError when `max_iter` rounds
    end before the fixpoint.
    """
    local = _local_graph(edges, vertices)
    if local is not None:
        pairs, nodes, t = local
        return literal_frame(
            edges.sparkSession, _cc_local(pairs, nodes), f"node {t}, component {t}"
        )
    # Cached, NOT key-repartitioned: from round 1 on the delta side is
    # tiny and AQE broadcasts it, so the edge table is never shuffled at
    # all — an up-front repartition("b") costs a full O(E) shuffle and
    # buys nothing (measured 11.6s vs 4.2s at sf0.1). A ROUND-ROBIN
    # spread is a different matter: a few-split source otherwise scans
    # the cached table on 1-2 tasks every round (guarded no-op at
    # scale; measured 8.5→5.7s cold). The cache prevents per-round
    # re-scans.
    from panditya_spark.operators.relational import spread_small_input

    und = spread_small_input(undirected_multi(edges)).cache()
    # Without an explicit vertex table the node universe IS the key set
    # of the round-0 neighborhood aggregate (every edge endpoint appears
    # as `a` in the undirected projection), so labels need no separate
    # init table or init⋈nbr_min join — round 0 derives them straight
    # from the aggregate, one full shuffle cheaper.
    explicit_vertices = vertices is not None
    if explicit_vertices:
        nodes = vertices.select(F.col(vertices.columns[0]).alias("node")).distinct()
        # Initial state: localCheckpoint is enough (a fresh plan has
        # honest stats; the parquet spill cadence handles growth).
        labels = nodes.withColumn("component", F.col("node")).localCheckpoint(
            eager=True
        )
    else:
        labels = None

    # Hash-to-min with pointer jumping: each round takes (1) the min
    # label over the neighborhood, then (2) L(v) ← L(L(v)) — following
    # the label as a parent pointer. Step 2 doubles the propagation
    # distance per round, so convergence is O(log diameter) rounds, not
    # O(diameter): plain min-label propagation silently returned WRONG
    # results on a 60-node path (needs 60 rounds, cap was 50). At
    # billion-edge scale the round count is what dominates wall-clock,
    # so log-rounds is also the 100 TB-safe design.
    # One materialization per round: carry the old label through the
    # round and emit a `changed` flag, so convergence is a cheap scan of
    # the checkpointed output rather than a separate compare join.
    # Δ-messaging: only labels that changed last round send min-label
    # messages to their neighbors (Pregel vote-to-halt semantics), so
    # the edge-wide join touches Δ's neighborhood, not all E, from
    # round 2 on — the dominant cost once the bulk of the graph has
    # settled. The merge and pointer-jump remain O(V) joins; the
    # checkpointed labels table is the per-round state.
    if labels is not None:
        labels = labels.withColumn("changed", F.lit(True))

    def cand_plan(
        prev: DataFrame | None, use_delta: bool, bcast: bool = False
    ) -> DataFrame:
        """The hash-to-min half of a round as a LAZY plan over `prev`
        labels (None = labels are still the node ids); the caller
        applies _pointer_jump.

        bcast (r17, guide §3.1): the O(V) merge and pointer-jump joins
        sit directly over checkpointed LogicalRDDs — no exchange below
        them, so AQE can never runtime-size their inputs, and the
        static estimates (compounding per round) forced SortMergeJoins
        at every round even on a 16k-node label table (executed-plan
        trace, r17). The caller gates the hint on the MEASURED node
        count (free via the probe's extra metric) against the
        heap-derived broadcast cap — at cluster scale the count
        exceeds the cap and the joins stay shuffles."""
        if prev is None:
            # Round 0: the min-label message is a plain aggregate of
            # the edge table — no join at all.
            nbr_min = und.groupBy(F.col("a").alias("node")).agg(
                F.min("b").alias("nbr_comp")
            )
            cand = nbr_min.select(
                "node",
                F.col("node").alias("old_comp"),
                F.least("node", "nbr_comp").alias("component"),
            )
        else:
            msgs = prev.filter("changed") if use_delta else prev
            nbr_min = (
                und.join(
                    msgs.select(F.col("node").alias("b2"), "component"),
                    und.b == F.col("b2"),
                )
                .groupBy(F.col("a").alias("node"))
                .agg(F.min("component").alias("nbr_comp"))
            )
            if bcast:
                nbr_min = F.broadcast(nbr_min)
            cand = (
                prev.select("node", "component")
                .join(nbr_min, "node", "left_outer")
                .select(
                    "node",
                    F.col("component").alias("old_comp"),
                    F.least("component", "nbr_comp").alias("component"),
                )
            )
        return cand

    def _pointer_jump(cand: DataFrame, bcast: bool) -> DataFrame:
        """L(v) ← L(L(v)) over the candidate labels — the doubling
        step. cand appears twice in this plan, so the loop passes it
        in checkpointed."""
        parent = cand.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        if bcast:
            parent = F.broadcast(parent)
        return (
            cand.join(parent, cand.component == F.col("p_node"), "left_outer")
            .select(
                "node",
                F.least("component", "p_comp").alias("component"),
                (F.least("component", "p_comp") < F.col("old_comp")).alias("changed"),
            )
        )

    # One materialization per round. A fused rounds-0+1 single plan was
    # measured and REJECTED: the pointer-jump self-join makes each
    # round's subtree appear twice in the next, so a two-round lazy
    # plan carries the round-0 aggregate 8× — AQE re-optimizes each
    # occurrence and exchange reuse does not collapse them (measured at
    # sf0.1: 8.1s → 8.7s warm / 14s cold, and the small pair-graph
    # invocation in dedup_cluster_canonical 5.6s → 12.1s). Per-round
    # wall-clock here is scheduler fixed cost on a 3-round converge,
    # not data volume; at cluster scale data dominates and the
    # per-round structure is the right shape.
    state = _LoopState()
    # The label count (constant across rounds = |V|) rides round 0's
    # step for free and gates the round-plan broadcast hints; row
    # budget mirrors the frontier gate in the SCC loop.
    bcast_cap = _broadcast_edge_cap(edges.sparkSession) // 2
    n_nodes: int | None = None
    for it in range(max_iter):
        bcast = n_nodes is not None and n_nodes <= bcast_cap
        # The pointer jump references cand twice, so a lazy cand
        # would run the und-join + min-agg subtree TWICE per round;
        # the minor checkpoint trades one O(V) frame materialization
        # for computing the O(E) half once — the dominant term at
        # scale (r17).
        cand = state.minor(cand_plan(labels, use_delta=it >= 1, bcast=bcast))
        # Materialization and the any-changed fixpoint probe share
        # one job.
        labels, m = state.step(
            _pointer_jump(cand, bcast),
            changed=F.max("changed"),
            n=F.count(F.lit(1)),
        )
        n_nodes = int(m["n"] or 0)
        if not m["changed"]:
            break
    else:
        und.unpersist()
        state.finish()
        raise ValueError(
            "connected_components: labels did not reach a fixpoint "
            f"within max_iter={max_iter} rounds — raise max_iter"
        )
    und.unpersist()
    state.finish(labels)
    return labels.select("node", "component")


def component_census(components: DataFrame) -> DataFrame:
    """Component-size census bucketed into the reference's 6 named size
    categories (analyze.py:15-22,41-72): per category, component count
    and node count."""
    from panditya_spark.operators.relational import bucket_by_size

    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        sizes.select(bucket_by_size(F.col("sz")).alias("category"), "sz")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_components"),
            F.sum("sz").cast("bigint").alias("n_nodes"),
        )
    )


def longest_chain_depth(edges: DataFrame, max_iter: int = 64) -> DataFrame:
    """Longest downstream chain per node in a DAG (analyze.py:226-253:
    commentary-chain max depth via DFS from root works).

    Returns (node, chain_depth) where a leaf has depth 0; roots (no
    incoming edge) carry the max chain. max_iter is the cycle guard
    standing in for the reference's visited-set.

    Two physical strategies, picked by a one-pass degree probe:
    - out-degree ≤ 1 everywhere (a chain forest / "list" DAG, e.g. a
      single-successor version chain): pointer doubling (list ranking)
      — O(log depth) rounds of self-joins instead of O(depth).
    - general DAG: exact-length frontier propagation, O(depth) rounds
      but per-round work proportional to the frontier, never O(V).
    """
    e = edges.select("src", "dst").cache()
    max_out = e.groupBy("src").agg(F.count(F.lit(1)).alias("d")).agg(
        F.max("d")
    ).first()[0]
    if max_out is not None and max_out <= 1:
        return _list_chain_depth(e, max_iter)
    nodes = _checkpoint(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Exact-length frontier formulation: Δ_k = nodes with a downstream
    # path of exactly k edges (Δ_k = src of any edge into Δ_{k-1});
    # chain_depth(v) = max k with v ∈ Δ_k. Per-round cost is
    # O(|edges into Δ_{k-1}|) — never a join against the full O(V)
    # depth table, and no O(V) re-materialization per round, which is
    # what makes this survive V in the billions. Each Δ spills via
    # parquet (_checkpoint): the scan's honest file-size stats let AQE
    # broadcast the shrinking frontier into the edge join instead of
    # re-shuffling the (cached) edge table every round.
    frontier = nodes.select(F.col("node").alias("dst"))
    deltas: list[DataFrame] = []
    for k in range(1, max_iter + 1):
        frontier = _checkpoint(
            e.join(frontier, "dst")
            .select(F.col("src").alias("node"))
            .distinct()
        )
        if frontier.isEmpty():
            break
        deltas.append(frontier.withColumn("chain_depth", F.lit(k)))
        frontier = frontier.select(F.col("node").alias("dst"))
    all_depths = nodes.withColumn("chain_depth", F.lit(0))
    for d in deltas:
        all_depths = all_depths.union(d)
    return all_depths.groupBy("node").agg(F.max("chain_depth").alias("chain_depth"))


def _list_chain_depth(e: DataFrame, max_iter: int) -> DataFrame:
    """Pointer-doubling chain depth for out-degree ≤ 1 DAGs (list
    ranking): each node carries (ptr, chain_depth) where ptr is the
    node 2^k hops downstream after round k; one round folds the
    pointee's accumulated depth in and jumps the pointer, so depth-d
    chains converge in ⌈log2 d⌉ rounds — at billion-node scale the
    round count, not per-round volume, dominates wall-clock."""
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    t = nodes.join(
        e.select(F.col("src").alias("node"), F.col("dst").alias("ptr")),
        "node",
        "left_outer",
    ).select(
        "node",
        "ptr",
        F.when(F.col("ptr").isNotNull(), 1).otherwise(0).alias("chain_depth"),
    )
    state = _LoopState()
    t = _list_chain_rounds(t, state, max_iter)
    state.finish(t)
    return t.select("node", "chain_depth")


def _list_chain_rounds(t: DataFrame, state: _LoopState, max_iter: int) -> DataFrame:
    # Measured-count broadcast gate for the live side (r17, guide
    # §3.1): t is a checkpointed LogicalRDD, so the planner's static
    # estimate drove the live ⋈ nxt self-join to a SortMergeJoin at
    # every round past the first (executed-plan trace). The live count
    # rides each round's probe for free; under the heap-derived cap the
    # shrinking live side broadcasts and the full table streams — at
    # cluster scale early rounds exceed the cap and stay shuffles.
    bcast_cap = _broadcast_edge_cap(t.sparkSession) // 2
    n_live: int | None = None
    for _ in range(max_iter):
        nxt = t.select(
            F.col("node").alias("p_node"),
            F.col("ptr").alias("p_ptr"),
            F.col("chain_depth").alias("p_depth"),
        )
        # Live/settled split (r16, guide §2.3 — shuffle fewer bytes):
        # rows whose pointer already died pass through the old
        # left-outer join UNCHANGED (a null key matches nothing), so
        # only the LIVE rows enter the self-join and the settled bulk
        # rides a union straight into the checkpoint. The join turns
        # inner: every live ptr is a node id, and nxt covers every
        # node, so a match is guaranteed and p_depth is never null.
        # Per-round exchanged bytes now track the shrinking live set —
        # and once it fits the broadcast threshold AQE builds the live
        # side, leaving the full-table probe side unshuffled. Values
        # are bit-identical to the unsplit round.
        live = t.filter(F.col("ptr").isNotNull())
        done = t.filter(F.col("ptr").isNull())
        lhs = (
            F.broadcast(live)
            if n_live is not None and n_live <= bcast_cap
            else live
        )
        # One job per doubling round: the live-pointer count rides the
        # step; it is both the fixpoint test and next round's
        # broadcast gate.
        t, m = state.step(
            lhs.join(nxt, lhs.ptr == F.col("p_node")).select(
                "node",
                F.col("p_ptr").alias("ptr"),
                (F.col("chain_depth") + F.col("p_depth")).alias(
                    "chain_depth"
                ),
            ).unionByName(done),
            live=F.sum(F.col("ptr").isNotNull().cast("long")),
        )
        n_live = int(m["live"] or 0)
        if not n_live:
            break
    return t


def label_propagation(
    edges: DataFrame, max_iter: int = 5, vertices: DataFrame | None = None
) -> DataFrame:
    """Community detection by synchronous label propagation — the
    engine's substitute for the reference's Louvain communities
    (utils/analyze.py:123-140; python-louvain is nondeterministic, so
    SURVEY §2.8 G9 specifies LPA + modularity-quality checking as the
    documented deviation).

    Each round every node adopts the most frequent label among its
    undirected neighbors PLUS its own current label (ties → smallest
    label, making the result deterministic). The self-vote is the
    standard damper for synchronous LPA's two-coloring oscillation on
    bipartite structures — the reference graph is bipartite-ish
    (author↔work), and without it the label wave bounces between the
    levels forever (measured: modularity −0.014 undamped vs +0.917
    damped on the key-chain forest, converged by round 4). A graph
    that fits the local tier runs the same rounds on the driver
    (_lpa_local).
    """
    local = _local_graph(edges, vertices)
    if local is not None:
        pairs, nodes, t = local
        return literal_frame(
            edges.sparkSession,
            _lpa_local(pairs, nodes, max_iter),
            f"node {t}, community {t}",
        )
    und = undirected(edges).cache()
    nodes = (
        vertices.select(F.col(vertices.columns[0]).alias("node"))
        if vertices is not None
        else und.select(F.col("a").alias("node"))
    ).distinct()
    labels = nodes.withColumn("community", F.col("node")).localCheckpoint()
    state = _LoopState()
    from pyspark.sql.window import Window

    for _ in range(max_iter):
        nbr = und.join(
            labels.withColumnRenamed("node", "b2"), und.b == F.col("b2")
        ).select(F.col("a").alias("node"), "community")
        votes = (
            nbr.union(labels)
            .groupBy("node", "community")
            .agg(F.count(F.lit(1)).alias("votes"))
        )
        w = Window.partitionBy("node").orderBy(F.desc("votes"), F.asc("community"))
        winner = (
            votes.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "community")
        )
        labels, _ = state.step(
            nodes.join(winner, "node", "left_outer").select(
                "node", F.coalesce("community", F.col("node")).alias("community")
            )
        )
    und.unpersist()
    state.finish(labels)
    return labels


def louvain(
    edges: DataFrame,
    max_levels: int = 4,
    max_rounds: int = 12,
    min_gain: float = 1e-9,
) -> DataFrame:
    """Louvain community detection (utils/analyze.py:123-140 — the
    reference runs python-louvain's best_partition), distributed:
    modularity-gain local moves + graph contraction, all DataFrame
    joins/aggregations keyed by node or community — the same shuffle
    shape as every other operator here, no driver-side graph.

    Per level:
    - Each round, every ELIGIBLE node computes, for each neighbor
      community c, the standard gain ΔQ ∝ k_i_in(c) − k_i·Σ_tot'(c)/2m
      (Σ_tot' excludes i's own degree when c is its current community)
      and moves to the argmax if it beats staying by min_gain.
      Ties break by smallest community id — deterministic.
    - Moves are SEMI-SYNCHRONOUS: only nodes whose hash parity matches
      the round parity may move. Fully synchronous gain moves oscillate
      (two adjacent nodes can swap communities forever — the classic
      failure python-louvain's sequential sweep never hits); the
      parity split is the standard distributed-Louvain damper and
      keeps the result deterministic, unlike a random sweep order.
    - Converged when a full parity cycle moves nothing.

    Then the graph contracts (communities become nodes, intra-edges
    become self-loop weight, inter-edges sum) and the next level runs
    on a graph that is orders of magnitude smaller — at 100 TB only
    level 0 touches the full edge set. Final labels are composed
    through all levels and re-keyed to min member node id so the
    output is stable across runs.

    Rows-only (modularity is a float objective, not a SQL value);
    tests pin exact recovery of planted cliques and that Q beats the
    LPA substitute on the reference-shaped graph.
    """
    # Level-0 weighted symmetric edge list, each undirected edge twice,
    # no self-loops yet (w = 1 per distinct undirected pair).
    und_pairs = undirected(edges).filter(F.col("a") != F.col("b")).distinct()
    lvl_edges = und_pairs.select("a", "b", F.lit(1.0).alias("w"))
    # node → community-at-current-level, composed across levels.
    mapping: DataFrame | None = None

    for _level in range(max_levels):
        # PARQUET spill, not localCheckpoint: a localCheckpoint carries
        # the optimized plan's Statistics, and each level's contraction
        # joins through the previous level's carried stats — the
        # sizeInBytes product compounds ACROSS levels exactly like the
        # per-round growth _checkpoint's docstring describes (caught
        # live: level-2 rounds spent 290s inside
        # SizeInBytesOnlyStatsPlanVisitor/InjectRuntimeFilter walking
        # the BigInt products; with the parquet stats reset the same
        # rounds run in ~1s).
        lvl_edges = _checkpoint(lvl_edges)
        # Weighted degree k_i. Representation invariant: symmetric rows
        # for a≠b (each undirected edge twice) and self-loops stored
        # PRE-DOUBLED (the contraction's groupBy produces exactly this:
        # intra-community symmetric rows sum to 2× the undirected intra
        # weight), so k is a plain row sum and Σk = 2m.
        k = (
            lvl_edges.groupBy(F.col("a").alias("node"))
            .agg(F.sum("w").alias("k"))
            .localCheckpoint(eager=True)
        )
        m2 = k.agg(F.sum("k")).first()[0] or 0.0
        if m2 == 0:
            break
        labels = k.select("node", F.col("node").alias("comm"))
        state = _LoopState()
        labels, _ = state.step(labels)
        idle = 0
        for rnd in range(max_rounds):
            comm_tot = (
                labels.join(k, "node")
                .groupBy("comm")
                .agg(F.sum("k").alias("tot"))
            )
            # k_i_in(c): weight from node i into community c, self-loops
            # excluded (they stay intra wherever the node goes).
            nbr_w = (
                lvl_edges.filter(F.col("a") != F.col("b"))
                .join(
                    labels.select(F.col("node").alias("b"), F.col("comm").alias("nc")),
                    "b",
                )
                .groupBy(F.col("a").alias("node"), "nc")
                .agg(F.sum("w").alias("k_in"))
            )
            # Gain of STAYING, with i's own degree removed from its
            # community total. A node with zero same-community
            # neighbors must get stay = −k·(tot−k)/m2, NOT 0 — using 0
            # would overestimate staying and freeze isolated members.
            base = (
                labels.join(k, "node")
                .join(comm_tot, "comm")
                .join(
                    nbr_w.withColumnRenamed("nc", "comm").withColumnRenamed(
                        "k_in", "k_in_own"
                    ),
                    ["node", "comm"],
                    "left_outer",
                )
                .select(
                    "node",
                    "comm",
                    "k",
                    (
                        F.coalesce(F.col("k_in_own"), F.lit(0.0))
                        - F.col("k") * (F.col("tot") - F.col("k")) / F.lit(m2)
                    ).alias("stay"),
                )
            )
            # Best move among neighbor communities ≠ own, restricted to
            # this round's allowed direction (see damper note below) so
            # an excluded best candidate can't block an eligible
            # second-best.
            direction = (
                (F.col("nc") < F.col("comm"))
                if rnd % 2 == 0
                else (F.col("nc") > F.col("comm"))
            )
            mv = (
                nbr_w.join(base, "node")
                .filter(F.col("nc") != F.col("comm"))
                .filter(direction)
                .join(
                    comm_tot.select(
                        F.col("comm").alias("nc"), F.col("tot").alias("tot_nc")
                    ),
                    "nc",
                )
                .withColumn(
                    "gain",
                    F.col("k_in") - F.col("k") * F.col("tot_nc") / F.lit(m2),
                )
                .withColumn(
                    "rn",
                    F.row_number().over(
                        _W.partitionBy("node").orderBy(F.desc("gain"), F.asc("nc"))
                    ),
                )
                .filter(F.col("rn") == 1)
                .select("node", "nc", "gain")
            )
            # Oscillation damper: on even rounds nodes may only move to
            # SMALLER community ids, on odd rounds only to larger. A
            # pairwise swap (i→c_j while j→c_i) needs both directions in
            # one round, so it cannot happen; unlike a hash-parity
            # split, every node is eligible every round (measured on
            # the key-chain forest: hash parity left pair-swaps
            # oscillating and capped Q at 0.85).
            labels, m = state.step(
                base.join(mv, "node", "left_outer")
                .select(
                    "node",
                    F.when(
                        F.col("gain") > F.col("stay") + F.lit(min_gain),
                        F.col("nc"),
                    )
                    .otherwise(F.col("comm"))
                    .alias("new_comm"),
                    F.col("comm").alias("old_comm"),
                )
                .select(
                    "node",
                    F.col("new_comm").alias("comm"),
                    (F.col("new_comm") != F.col("old_comm")).alias("changed"),
                ),
                moved=F.max("changed"),
            )
            labels = labels.select("node", "comm")
            idle = 0 if m["moved"] else idle + 1
            if idle >= 2:  # full direction cycle with no move
                break
        # Compose this level's assignment into the node→community map.
        # Everything that reads `labels` (composition, census,
        # contraction) must materialize BEFORE state.finish() deletes
        # this level's loop checkpoints.
        if mapping is None:
            mapping = labels.select(
                F.col("node").alias("orig"), F.col("comm").alias("community")
            )
        else:
            mapping = mapping.join(
                labels.select(F.col("node").alias("community"), F.col("comm")),
                "community",
            ).select("orig", F.col("comm").alias("community"))
        mapping = _checkpoint(mapping)  # parquet: stats reset per level

        n_nodes = k.count()
        n_comms = labels.select("comm").distinct().count()
        if n_comms == n_nodes:
            state.finish()
            break
        # Contract: communities become nodes; intra-community weight
        # (incl. existing self-loops) accumulates on the self-loop.
        lab_a = labels.select(F.col("node").alias("a"), F.col("comm").alias("ca"))
        lab_b = labels.select(F.col("node").alias("b"), F.col("comm").alias("cb"))
        lvl_edges = (
            lvl_edges.join(lab_a, "a")
            .join(lab_b, "b")
            .groupBy(F.col("ca").alias("a"), F.col("cb").alias("b"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)  # cut now; parquet-spilled at loop top
        )
        state.finish()

    if mapping is None:  # empty edge set
        return edges.sparkSession.createDataFrame([], "node string, community string")

    # Deterministic community ids: min original member id.
    rep = mapping.groupBy("community").agg(F.min("orig").alias("rep"))
    return (
        mapping.join(rep, "community")
        .select(F.col("orig").alias("node"), F.col("rep").alias("community"))
    )


# Distinct edges up to which betweenness_centrality, without an explicit
# sample, computes exact all-sources Brandes; a larger graph samples 256
# sources. Exact Brandes is O(V·E) work on either tier.
_BETWEENNESS_EXACT_MAX_EDGES = 2_000_000


def betweenness_centrality(
    edges: DataFrame, sample_sources: int | None = None, seed: int = 42
) -> DataFrame:
    """Betweenness centrality (utils/analyze.py:166 — exact Brandes via
    NetworkX in the reference). Directed, unweighted, endpoint-excluded,
    over the distinct edges. Returns (node, betweenness) with node in
    the input id type, for every node reached from another node.

    - **Exact or sampled.** Without ``sample_sources``, a graph of at
      most _BETWEENNESS_EXACT_MAX_EDGES distinct edges is exact (every
      node a source); a larger one samples 256 sources. Sampled scores
      are scaled by V/k.
    - **Path.** An exact request that fits the local tier
      (_local_graph) runs Brandes on the driver (_brandes_local).
      Anything else runs the distributed multi-source path
      (_betweenness_distributed), which an explicit ``sample_sources``
      always takes.
    - **Sampling.** ``sample(k/V, seed)`` over the frame of distinct
      edge endpoints draws the sources, so which sources a seed picks
      depends on that frame's partitioning, not only on the node set.
      The removed Python-worker path sampled a sorted id list instead:
      a seeded sample of a small graph can draw other sources than it
      did there.
    """
    e = edges.select("src", "dst").distinct()
    if sample_sources is None:
        local = _local_graph(e)
        if local is not None:
            pairs, nodes, t = local
            return literal_frame(
                edges.sparkSession,
                _brandes_local(pairs, nodes),
                f"node {t}, betweenness double",
            )
    e = e.cache()
    try:
        if sample_sources is None and e.count() > _BETWEENNESS_EXACT_MAX_EDGES:
            sample_sources = 256
        sources = (
            e.select(F.col("src").alias("source"))
            .union(e.select(F.col("dst")))
            .distinct()
        )
        scale = 1.0
        if sample_sources is not None:
            n_nodes = sources.count()
            if sample_sources < n_nodes:
                sources = sources.sample(fraction=sample_sources / n_nodes, seed=seed)
                scale = n_nodes / max(sample_sources, 1)
        return _betweenness_distributed(e, sources, scale)
    finally:
        e.unpersist()


def _brandes_local(pairs: list[tuple], nodes: list) -> list[tuple]:
    """betweenness_centrality on the driver: Brandes from every source,
    one BFS for shortest-path counts σ, then dependency accumulation
    δ(v) = Σ σ(v)/σ(w)·(1+δ(w)) over successors w one level deeper, in
    reverse BFS order. `pairs` are distinct edges. A node gets a row
    once some other source reaches it, as in the distributed path.

    Ids are renumbered to list indices and the per-source state lives in
    lists reset after each BFS: the work is O(V·E) on one thread, and
    on random digraphs of 1-2k nodes this runs about 2.4x faster than
    the same loop over id-keyed dicts."""
    index = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    adj: list[list[int]] = [[] for _ in range(n)]
    for a, b in pairs:
        adj[index[a]].append(index[b])
    acc = [0.0] * n
    hit = [False] * n
    dist = [-1] * n
    sigma = [0.0] * n
    delta = [0.0] * n
    for s in range(n):
        if not adj[s]:
            continue
        dist[s], sigma[s] = 0, 1.0
        order = [s]
        for v in order:  # the list is the BFS queue
            dv, sv = dist[v] + 1, sigma[v]
            for w in adj[v]:
                dw = dist[w]
                if dw < 0:
                    dist[w], sigma[w] = dv, sv
                    order.append(w)
                elif dw == dv:
                    sigma[w] += sv
        for v in reversed(order):
            dv, sv, d = dist[v] + 1, sigma[v], 0.0
            for w in adj[v]:
                if dist[w] == dv:
                    d += (sv / sigma[w]) * (1.0 + delta[w])
            delta[v] = d
        dist[s] = -1
        for v in order[1:]:
            dist[v] = -1
            acc[v] += delta[v]
            hit[v] = True
    return [(nodes[i], acc[i]) for i in range(n) if hit[i]]


def _betweenness_distributed(
    e: DataFrame, sources: DataFrame, scale: float
) -> DataFrame:
    """Multi-source Brandes as DataFrame joins — zero driver-side graph.

    Forward: BFS levels keyed by (source, node); σ(w) at depth d+1 is
    the sum of σ over depth-d in-neighbors (every depth-d neighbor of a
    depth-(d+1) node is a shortest-path predecessor). Backward: δ(v) =
    Σ_w σ(v)/σ(w)·(1+δ(w)) over successors w one level deeper, one join
    per level. The forward pass has no depth limit: it stops when no
    source reaches a new node, so the scores are exact on any graph.
    Each level is materialized once and spilled to parquet
    periodically (stats reset — see _LoopState); levels stay live for
    the backward pass, so cleanup is explicit at the end.
    """
    spark = e.sparkSession
    levels: list[DataFrame] = []
    spilled: list[DataFrame] = []

    def keep(df: DataFrame, spill: bool) -> DataFrame:
        out = _checkpoint(df) if spill else df.localCheckpoint(eager=True)
        if spill:
            spilled.append(out)
        return out

    frontier = keep(
        sources.select(
            "source",
            F.col("source").alias("node"),
            F.lit(1.0).alias("sigma"),
        ),
        spill=True,
    )
    levels.append(frontier)
    depth = 0
    while True:
        visited = levels[0] if len(levels) == 1 else reduce_union(levels)
        nxt = (
            frontier.join(e, frontier.node == e.src)
            .groupBy("source", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited.select("source", "node"), ["source", "node"], "left_anti")
        )
        nxt = keep(nxt, spill=(depth % 8 == 7))
        if nxt.isEmpty():
            break
        levels.append(nxt)
        frontier = nxt
        depth += 1

    # Backward accumulation; level index == depth.
    score_frames: list[DataFrame] = []
    deltas = levels[-1].withColumn("delta", F.lit(0.0))
    if len(levels) > 1:
        score_frames.append(deltas.select("node", "delta"))
    for d in range(len(levels) - 2, -1, -1):
        cur = levels[d]
        succ = deltas.select(
            "source",
            F.col("node").alias("w"),
            F.col("sigma").alias("sigma_w"),
            F.col("delta").alias("delta_w"),
        )
        contrib = (
            cur.join(e, cur.node == e.src)
            .join(succ, (cur.source == succ.source) & (e.dst == succ.w))
            .groupBy(cur.source, cur.node)
            .agg(
                F.sum(
                    (cur.sigma / F.col("sigma_w")) * (F.lit(1.0) + F.col("delta_w"))
                ).alias("delta")
            )
        )
        deltas = (
            cur.join(contrib, ["source", "node"], "left_outer")
            .select(
                "source",
                "node",
                "sigma",
                F.coalesce("delta", F.lit(0.0)).alias("delta"),
            )
            .localCheckpoint(eager=True)
        )
        if d >= 1:  # depth-0 rows are the sources themselves (excluded)
            score_frames.append(deltas.select("node", "delta"))

    if not score_frames:
        t = e.schema["src"].dataType.simpleString()
        out = spark.createDataFrame([], f"node {t}, betweenness double")
    else:
        out = (
            reduce_union(score_frames)
            .groupBy("node")
            .agg((F.sum("delta") * F.lit(scale)).alias("betweenness"))
        )
    # Defensively materialize before releasing the parquet levels the
    # plan reads from.
    out = out.localCheckpoint(eager=True)
    for s in spilled:
        _release(s)
    return out


def reduce_union(dfs: list[DataFrame]) -> DataFrame:
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), dfs)


def eigenvector_centrality(
    edges: DataFrame,
    max_iter: int = 100,
    tol: float = 1e-6,
    vertices: DataFrame | None = None,
) -> DataFrame | None:
    """Eigenvector centrality with the reference's exact semantics
    (utils/analyze.py:169-172: nx.eigenvector_centrality, try/except →
    None on non-convergence).

    NetworkX's power iteration is x ← (I + Aᵀ)x, L2-normalized each
    round, converged when Σ|x − x_last| < n·tol within max_iter —
    replicated as a DataFrame loop: the in-neighbor contribution is one
    join + groupBy per round (same key each round, so a cluster
    pre-partitions the edge table once), the norm and the convergence
    delta are 1-row aggregates folded back in via broadcast crossJoin.
    Fail-to-null: returns None when max_iter rounds pass without
    convergence, exactly like the reference's except-branch.
    """
    e = edges.select("src", "dst").distinct().cache()
    nodes = (
        vertices.select(F.col(vertices.columns[0]).alias("node"))
        if vertices is not None
        else e.select(F.col("src").alias("node")).union(
            e.select(F.col("dst").alias("node"))
        )
    ).distinct().cache()
    n = nodes.count()
    if n == 0:
        e.unpersist()
        return nodes.withColumn("centrality", F.lit(0.0))

    state = _LoopState()
    x = _checkpoint(nodes.withColumn("x", F.lit(1.0 / n)))
    converged = False
    # Same count-gated broadcast discipline as pagerank (r17): n is
    # already measured, the x vector is a V-row checkpoint the planner
    # cannot size.
    small_v = n <= _broadcast_edge_cap(edges.sparkSession) // 2
    for _ in range(max_iter):
        # One materialization per round: the un-normalized update with
        # x_last carried along, its L2 norm riding the same job. The
        # convergence delta needs the norm, so it is a second O(V)
        # single-row aggregate over the materialized frame, and the
        # normalized x is a lazy projection of it (no plan growth — the
        # frame is a checkpoint).
        x_src = x.select(F.col("node").alias("src"), "x")
        contrib = (
            e.join(F.broadcast(x_src) if small_v else x_src, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("x").alias("c"))
        )
        if small_v:
            contrib = F.broadcast(contrib)
        raw = nodes.join(x, "node").join(contrib, "node", "left_outer").select(
            "node",
            F.col("x").alias("x_last"),
            (F.col("x") + F.coalesce(F.col("c"), F.lit(0.0))).alias("x_raw"),
        )
        raw, m = state.step(raw, norm=F.sqrt(F.sum(F.col("x_raw") * F.col("x_raw"))))
        norm = m["norm"] or 1.0
        delta = raw.agg(
            F.sum(F.abs(F.col("x_raw") / F.lit(norm) - F.col("x_last"))).alias("d")
        ).first()["d"]
        x = raw.select("node", (F.col("x_raw") / F.lit(norm)).alias("x"))
        if delta < n * tol:
            converged = True
            break
    e.unpersist()
    nodes.unpersist()
    if not converged:
        state.finish()
        return None
    out = x.select("node", F.col("x").alias("centrality")).localCheckpoint(eager=True)
    state.finish()
    return out


def modularity(edges: DataFrame, labels: DataFrame) -> float:
    """Newman modularity Q of a node partition over the undirected
    projection: Q = Σ_c (e_c/m − (a_c/2m)²), with e_c intra-community
    edge count, a_c community degree sum, m total undirected edges.
    Quantifies the LPA-for-Louvain substitution (SURVEY §2.8 G9: the
    reference's community detection is python-louvain's best_partition,
    whose objective is exactly this Q).

    `labels` is (node, community). One edge-labels join + two small
    aggregates — no driver-side graph.
    """
    und = undirected(edges).filter(F.col("a") < F.col("b"))  # each edge once
    lab = labels.select(
        F.col(labels.columns[0]).alias("node"),
        F.col(labels.columns[1]).alias("community"),
    )
    m = und.count()
    if m == 0:
        return 0.0
    tagged = (
        und.join(lab.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("community", "ca")
        .join(lab.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("community", "cb")
    )
    e_c = (
        tagged.filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("e_c"))
    )
    deg = (
        undirected(edges)
        .groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    a_c = (
        deg.join(lab, "node")
        .groupBy("community")
        .agg(F.sum("deg").alias("a_c"))
    )
    row = (
        a_c.join(e_c, "community", "left_outer")
        .select(
            F.sum(
                F.coalesce(F.col("e_c"), F.lit(0)).cast("double") / F.lit(float(m))
                - (F.col("a_c") / F.lit(2.0 * m)) * (F.col("a_c") / F.lit(2.0 * m))
            ).alias("q")
        )
        .first()
    )
    return float(row["q"] or 0.0)


def pagerank(
    edges: DataFrame,
    iters: int = 15,
    damping: float = 0.85,
    vertices: DataFrame | None = None,
) -> DataFrame:
    """Power-iteration PageRank — the engine's substitute surface for
    eigenvector centrality (analyze.py:169-172; SURVEY §2.8 G8).

    Returns (node, rank) for `vertices`, or the edge endpoints when
    none are given. The uniform case of _rank_loop: every node's
    restart weight is r = 1.0 and S = n, so ranks start at 1.0, each
    round computes (1-d) + d*(contrib + dm/n), and dangling mass is
    redistributed uniformly, keeping the ranks' sum at n. A graph that
    fits the local tier runs the same iteration on the driver
    (_pagerank_local).
    """
    local = _local_graph(edges, vertices)
    if local is not None:
        pairs, nodes, t = local
        return literal_frame(
            edges.sparkSession,
            _pagerank_local(pairs, dict.fromkeys(nodes, 1.0), float(len(nodes)), iters, damping),
            f"node {t}, rank double",
        )
    e = edges.select("src", "dst")
    nodes = (
        vertices.select(F.col(vertices.columns[0]).alias("node"))
        if vertices is not None
        else e.select(F.col("src").alias("node")).union(e.select(F.col("dst").alias("node")))
    ).distinct()
    restart = nodes.withColumn("r", F.lit(1.0)).cache()
    n = restart.count()
    return _rank_loop(e, restart, n, float(n), iters, damping)


def _rank_loop(
    e: DataFrame, restart: DataFrame, n: int, norm: float, iters: int, damping: float
) -> DataFrame:
    """The distributed power iteration of pagerank and
    personalized_pagerank over the pinned (node, r) frame ``restart``
    of n rows, r being each node's restart weight and ``norm`` the
    normalizer S. Ranks start at r; each round computes
    (1-d)*r + d*(contrib + dm/S*r), where contrib sums rank/out_degree
    over a node's in-edges and dm is the rank of the nodes without an
    out-edge. Out-degrees are precomputed once and the rank⋈edges join
    reuses the same key each round — on a cluster the edge table would
    be pre-partitioned by src so every iteration shuffles only the rank
    vector. Unpersists ``restart`` on exit."""
    outd = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("out_degree"))
    # contributions flow src -> dst; precompute (src, dst, out_degree)
    adj = e.join(outd, e.src == outd.node).select("src", "dst", "out_degree").cache()

    state = _LoopState()
    ranks = _checkpoint(restart.select("node", F.col("r").alias("rank")))
    # Count-gated broadcast hints (r17, guide §3.1): the per-round rank
    # vector and contribution table are V-row frames over checkpointed
    # LogicalRDDs the planner cannot size (the loop-family defect class
    # — see the SCC/CC gates); n is already measured, so the hint fires
    # exactly when V fits the heap-derived budget and the cached O(E)
    # adjacency streams unshuffled. Above the cap (cluster scale) the
    # joins shuffle as before.
    small_v = n <= _broadcast_edge_cap(e.sparkSession) // 2
    for _ in range(iters):
        r_src = ranks.withColumnRenamed("node", "src")
        contribs = (
            adj.join(F.broadcast(r_src) if small_v else r_src, "src")
            .select(F.col("dst").alias("node"), (F.col("rank") / F.col("out_degree")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        if small_v:
            contribs = F.broadcast(contribs)
        # Dangling mass folded in as a 1-row aggregate crossJoin — no
        # per-round driver action (a .first() here costs one extra job
        # per iteration).
        out_nodes = outd.select("node")
        dangling = ranks.join(
            F.broadcast(out_nodes) if small_v else out_nodes,
            "node",
            "left_anti",
        ).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass")
        )
        ranks, _ = state.step(
            restart.join(contribs, "node", "left_outer")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit(1 - damping) * F.col("r")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("dangling_mass") / F.lit(norm) * F.col("r")
                    )
                ).alias("rank"),
            )
        )
    adj.unpersist()
    restart.unpersist()
    state.finish(ranks)
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts: every triangle of
    triangle_list credits each of its three members once. Returns
    (node, n_triangles), nodes in at least one triangle."""
    return _triangle_credits(
        triangle_list(_canonical_edges(edges).localCheckpoint(eager=True))
    )


def _triangle_credits(tri: DataFrame) -> DataFrame:
    """(node, n_triangles): one credit per member of each (ta, tb, tc)."""
    return (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 30,
    max_inner: int = 40,
    assume_distinct: bool = False,
) -> DataFrame:
    """Directed strongly connected components (spec extension — the one
    classic graph decomposition the suite lacked): (node, scc) where
    scc = the lexicographic min member id, deterministic.

    A graph that fits the local tier is solved by iterative Tarjan on
    the driver (_scc_local); max_outer and max_inner bound only the
    distributed loop described below.

    The distributed tier is reachability MIN-LABEL FW-BW (the
    label-pair formulation of Fleischer-Hendrickson-Pinar
    divide-and-conquer). Per outer round, every active node carries two
    labels propagated as a delta iteration — lf = min node that reaches
    it (min flows FORWARD along edges), lb = min node it reaches (min
    flows BACKWARD) — and:

      lf(u) == lb(u) == x  ⇔  x reaches u AND u reaches x
                           ⇔  u ∈ SCC(x), labeled by its min member
                              (any smaller member y would force
                              lf(u) <= y < x).

    Nodes with lf != lb keep (part, lf, lb) as their refined partition:
    an SCC's members share identical reacher/reachable sets, hence
    identical label pairs, so no SCC ever straddles two classes and the
    recursion is exact. Every class settles its own min each round, so
    the outer round count is the FW-BW layering depth. Both directions
    ride one union-tagged frame, so propagation runs max(d_f, d_b)
    rounds, and every partition propagates at once.

    TRIM first: nodes with zero in- or out-degree inside their active
    partition can't lie on a cycle, so an inner fixpoint peel (one
    degree-flag frame per layer) strips DAG regions in bulk before
    propagation; the peeled nodes settle as singleton SCCs. Delta
    iteration: only labels that IMPROVED last round propagate, so late
    rounds touch frontier-sized frames. The outer labels, the trim
    layers and the propagation rounds each run on a _LoopState.

    assume_distinct: callers whose edge table is duplicate-free BY
    CONSTRUCTION (e.g. each leg keyed by a unique column, as in the
    g14 key-chain graph) may skip the defensive edge-distinct. The
    contract is the caller's to honor: duplicate edges would not change
    the answer (the degree flags are max()es), but propagation would
    ship duplicate messages per round.
    """
    src, dst = edges.columns[0], edges.columns[1]
    local = _local_graph(edges, cols=(src, dst))
    if local is not None:
        pairs, nodes, t = local
        return literal_frame(
            edges.sparkSession, _scc_local(pairs, nodes), f"node {t}, scc {t}"
        )
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if not assume_distinct:
        e = e.distinct()
    e = _checkpoint(e)

    def flags(ae: DataFrame) -> DataFrame:
        """(node, o, i): whether each endpoint of ae has an out- and an
        in-edge in ae — one shuffle."""
        return (
            ae.select(F.col("src").alias("node"), F.lit(1).alias("o"), F.lit(0).alias("i"))
            .unionByName(
                ae.select(F.col("dst").alias("node"), F.lit(0).alias("o"), F.lit(1).alias("i"))
            )
            .groupBy("node")
            .agg(F.max("o").alias("o"), F.max("i").alias("i"))
        )

    cyc = (F.col("o") == 1) & (F.col("i") == 1)
    n_cyc = F.sum(cyc.cast("long"))
    state = _LoopState()
    # The flags of the whole edge set are both the node census and the
    # outer-0 trim's first layer.
    deg0, m0 = state.step(flags(e), n=F.count(F.lit(1)), on=n_cyc)
    n_unsettled = int(m0["n"] or 0)
    labels = deg0.select(
        "node",
        F.lit("0").alias("part"),
        F.lit(None).cast(deg0.schema["node"].dataType).alias("scc"),
    )
    # Measured-count broadcast gate (r17, guide §3.1): the frontier and
    # the settled-pair frame sit directly over checkpointed LogicalRDDs,
    # so AQE can never runtime-size them and the static estimate (full
    # label size) forced shuffles in every round. Their exact counts
    # ride the steps, so the hint fires exactly when they fit the
    # heap-derived cap; at cluster scale they stay shuffles.
    fr_cap = _broadcast_edge_cap(e.sparkSession) // 2

    for outer in range(max_outer):
        if n_unsettled <= 0:
            break
        active = labels.filter(F.col("scc").isNull()).select("node", "part")
        trim, prop_state = _LoopState(), _LoopState()
        # INVARIANT: endpoints(ae) ⊆ act at every trim layer — every ae
        # keeps edges strictly INSIDE the active node set (outer 0:
        # every node is active, in one part). So each layer's on-cycle
        # set is a subset of act and simply becomes the next act.
        if outer == 0:
            ae, fl, n_on = e, deg0, int(m0["on"] or 0)
        else:
            ae = trim.minor(
                e.join(active.withColumnRenamed("node", "src"), "src")
                .join(
                    active.select(F.col("node").alias("dst"), F.col("part").alias("p2")),
                    "dst",
                )
                .filter(F.col("part") == F.col("p2"))
                .select("src", "dst")
            )
            fl = None
        n_act = n_unsettled
        ae_lazy = False
        for _ in range(max_inner):
            if fl is None:
                fl, ae, m = trim.step(flags(ae), ae, on=n_cyc)
                n_on = int(m["on"] or 0)
            act = fl.filter(cyc).select("node")
            if n_on == n_act:
                break
            n_act, n_trim = n_on, n_act - n_on
            if n_trim < max(64, 0.02 * (n_act + n_trim)):
                # A tiny strip: drop the trimmed endpoints' edges by
                # broadcast anti joins, lazily, and stop peeling; the
                # stragglers settle through later outer rounds.
                t = fl.filter(~cyc).select("node")
                ae = ae.join(
                    F.broadcast(t.withColumnRenamed("node", "src")), "src", "left_anti"
                ).join(F.broadcast(t.withColumnRenamed("node", "dst")), "dst", "left_anti")
                ae_lazy = True
                break
            ae = trim.minor(
                ae.join(act.withColumnRenamed("node", "src"), "src", "semi").join(
                    act.withColumnRenamed("node", "dst"), "dst", "semi"
                )
            )
            fl = None
        if n_act == 0:
            wide = None
        else:
            if ae_lazy:
                # Materialized once: lazily the anti joins would rerun
                # inside both union legs of every propagation round.
                ae = trim.minor(ae)
            # Fused bidirectional min-label propagation: dir 'f' rows
            # carry lf along src→dst, dir 'b' rows carry lb along the
            # reversed edges — one frame, one loop. Edges are
            # part-internal, so node determines part and the part
            # column is re-attached once at settle time.
            prop = ae.select(
                F.col("src").alias("u"), F.col("dst").alias("v"), F.lit("f").alias("dir"),
            ).unionByName(
                ae.select(
                    F.col("dst").alias("u"), F.col("src").alias("v"), F.lit("b").alias("dir"),
                )
            )
            lab = prop_state.minor(
                act.select(
                    "node", F.lit("f").alias("dir"), F.col("node").alias("val"),
                    F.lit(True).alias("chg"),
                ).unionByName(
                    act.select(
                        "node", F.lit("b").alias("dir"), F.col("node").alias("val"),
                        F.lit(True).alias("chg"),
                    )
                )
            )
            n_front = 2 * n_act
            for _ in range(max_inner):
                fr = lab.filter("chg").select(F.col("node").alias("u"), "dir", "val")
                if n_front <= fr_cap:
                    fr = F.broadcast(fr)
                cand = prop.join(fr, ["u", "dir"]).select(
                    F.col("v").alias("node"), "dir", "val", F.lit(False).alias("is_old"),
                )
                # One shuffle per round: candidate labels UNION the
                # current label rows fold through a single (node, dir)
                # min-aggregate; the old value rides along as
                # min-over-old-rows, so the change flag needs no second
                # join. No pointer-jumping leg: lb(lb(u)) is merely
                # another reachable node and can carry LESS information
                # (on a monotone-id cycle), so directed labels move one
                # edge per round and the rounds are a DIAMETER bound.
                lab, m = prop_state.step(
                    lab.select("node", "dir", "val", F.lit(True).alias("is_old"))
                    .unionByName(cand)
                    .groupBy("node", "dir")
                    .agg(
                        F.min("val").alias("val"),
                        F.min(F.when(F.col("is_old"), F.col("val"))).alias("_old"),
                    )
                    .select("node", "dir", "val", (F.col("val") < F.col("_old")).alias("chg")),
                    chg=F.max("chg"),
                    nchg=F.sum(F.col("chg").cast("long")),
                )
                n_front = int(m["nchg"] or 0)
                if not m["chg"]:
                    break
            else:
                # A truncated propagation would SILENTLY mislabel: an
                # unconverged lf/lb pair can split one SCC across two
                # classes, and later rounds never reunite a split.
                raise ValueError(
                    "strongly_connected_components: min-label "
                    f"propagation did not converge within max_inner="
                    f"{max_inner} rounds; the graph has a directed "
                    "path longer than the bound — raise max_inner"
                )
            pairs = lab.groupBy("node").agg(
                F.min(F.when(F.col("dir") == "f", F.col("val"))).alias("lf"),
                F.min(F.when(F.col("dir") == "b", F.col("val"))).alias("lb"),
            )
            # act ⊆ active, so the inner join only re-attaches part.
            pairs = (
                pairs.withColumn("part", F.lit("0")) if outer == 0
                else pairs.join(active, "node")
            )
            wide = pairs.select(
                "node",
                F.when(F.col("lf") == F.col("lb"), F.col("lf")).alias("new_scc"),
                F.concat_ws("|", "part", "lf", "lb").alias("new_part"),
            )
        # Every active node is in wide (it propagated) or was trimmed,
        # and a trimmed node is its own singleton SCC.
        if wide is None:
            upd = labels.select("node", "part", F.coalesce("scc", "node").alias("scc"))
        else:
            upd = labels.join(
                F.broadcast(wide) if n_act <= fr_cap else wide, "node", "left_outer"
            ).select(
                "node",
                F.coalesce("new_part", "part").alias("part"),
                F.when(F.col("scc").isNull() & F.col("new_part").isNull(), F.col("node"))
                .otherwise(F.coalesce("scc", "new_scc"))
                .alias("scc"),
            )
        # The unsettled count is the next round's n_act.
        labels, m = state.step(upd, unsettled=F.sum(F.col("scc").isNull().cast("long")))
        n_unsettled = int(m["unsettled"] or 0)
        trim.finish()
        prop_state.finish()
    else:
        # max_outer exhausted without the active set draining: any
        # remaining scc=NULL row would silently corrupt the output.
        if n_unsettled > 0:
            raise ValueError(
                "strongly_connected_components: FW-BW recursion did "
                f"not settle every node within max_outer={max_outer} "
                "rounds — raise max_outer"
            )
    out = labels.select("node", "scc")
    state.finish(labels, deg0)  # deg0 when no round ran
    _release(e)
    return out


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """Personalized PageRank: the restart vector concentrates on the
    seed set instead of being uniform, so rank measures graph proximity
    TO THE SEEDS — the standard graph-based relevance/recommendation
    score (which authors/works are structurally closest to this one),
    a natural serving-layer companion to the k-hop subgraph query.

    The seeded case of _rank_loop, on either tier: over the edge
    endpoints, a seed's restart weight is r = 1/|distinct seeds| and
    every other node's is 0, with S = 1.0, so each round computes
    (1-d)*r + d*(contrib + dm*r) and dangling mass returns to the seeds
    too. When every seed is a node, total mass is EXACTLY 1.0 every
    round (new_total = (1-d)·1 + d·prev_total, a fixpoint at 1); a seed
    outside the graph still counts in |seeds|, so the ranks then sum to
    less. Seeds' first column is the node id; an empty seed set raises.
    Returns (node, rank) for the nodes with rank > 0. A graph that fits
    the local tier, with at most _LOCAL_MAX_ROWS seed rows of the edge
    id type, runs the same iteration on the driver (_pagerank_local).
    """
    local = _local_graph(edges)
    seed_col = seeds.schema[seeds.columns[0]]
    if local is not None and seed_col.dataType.simpleString() == local[2]:
        fetched = seeds.select(seed_col.name).limit(_LOCAL_MAX_ROWS + 1).collect()
        if len(fetched) <= _LOCAL_MAX_ROWS:
            pairs, nodes, t = local
            ids = {r[0] for r in fetched}
            w = 1.0 / len(ids)
            restart = {v: w if v in ids else 0.0 for v in nodes}
            return literal_frame(
                edges.sparkSession,
                [vr for vr in _pagerank_local(pairs, restart, 1.0, iters, damping) if vr[1] > 0],
                f"node {t}, rank double",
            )
    e = edges.select("src", "dst")
    s = seeds.select(F.col(seed_col.name).alias("node")).distinct()
    w = 1.0 / s.count()
    restart = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .join(s.withColumn("r0", F.lit(w)), "node", "left_outer")
        .select("node", F.coalesce("r0", F.lit(0.0)).alias("r"))
        .cache()
    )
    n = restart.count()
    return _rank_loop(e, restart, n, 1.0, iters, damping).filter(F.col("rank") > 0)


# ------------------------------------------------------------ G15 (ext)
def kcore(edges: DataFrame, k: int, max_iter: int = 128) -> DataFrame:
    """k-core decomposition membership: the (unique) maximal subgraph
    in which every node has undirected degree >= k, by iterative
    peeling (spec extension; same family as g13 triangle counting).

    INCREMENTAL-DECREMENT peeling over a STATIC edge table — the same
    state discipline as ktruss: the doubled undirected edge list is
    hash-partitioned by src and checkpointed ONCE; the per-round state
    is ONLY the (node, degree) table of still-alive nodes. Each round,
    nodes below k die; their incident edges are located by one
    dying-keyed semi-join on the static table and the SURVIVORS'
    degrees are decremented by the count of edges they lost. Exactness
    of the decrement bookkeeping:
    - an edge whose endpoints BOTH die this round needs no decrement —
      both degree rows are dropped;
    - an edge from a dying node to a node that died EARLIER was
      already decremented from the dying node's count when the other
      endpoint died, and the earlier-dead node has no degree row for
      the new decrement to land on — ignored by construction
      (left join against surviving rows only);
    so at every round start deg(u) is exactly u's degree inside the
    surviving subgraph — the same per-round dying sets, round count,
    and fixpoint as the recompute-from-scratch peel, proven identical
    by the unrolled-peel SQL oracle and the brute-force pytests.

    The previous implementation re-semi-joined and re-materialized the
    FULL surviving edge set every round (2 x |E| rows x rounds of
    checkpoint/shuffle traffic: 2,249 MB shuffle write at the sf1
    stress decade, the largest ratio in the round-12 headline table);
    rounds now shuffle dying-sized and node-sized frames only, against
    one static edge materialization. No collect, no per-node driver
    state; lineage/stats reset on the shared parquet-spill cadence
    (_LoopState). Termination: at most |V| rounds; real graphs converge
    in a handful (the peel only cascades along chains of
    exactly-degree-k nodes).

    Returns (node, degree) for k-core members, degree counted INSIDE
    the core (>= k by construction, the invariant pytest pins).
    """
    e_static = (
        undirected(edges)
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    state = _LoopState()
    # The count of nodes below k rides each round's step: zero (or
    # null, for an empty deg) means deg IS the core degree table.
    n_dying = F.sum((F.col("deg") < k).cast("long"))
    deg, m = state.step(
        e_static.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), dying=n_dying
    )
    for _ in range(max_iter):
        if not m["dying"]:
            break
        dying = deg.filter(F.col("deg") < k).select("src")
        lost = (
            e_static.join(dying, "src", "semi")
            .groupBy("dst")
            .agg(F.count(F.lit(1)).alias("lost"))
        )
        deg_next = (
            deg.join(dying, "src", "anti")
            .join(lost.withColumnRenamed("dst", "src"), "src", "left_outer")
            .select(
                "src",
                (F.col("deg") - F.coalesce("lost", F.lit(0))).alias("deg"),
            )
        )
        deg, m = state.step(deg_next, dying=n_dying)
    # After max_iter peels the last step's count still certifies a core
    # the loop did not get to re-observe.
    if m["dying"]:
        raise RuntimeError(
            f"kcore: no fixpoint after {max_iter} rounds; raise max_iter "
            "(a partial peel would violate the degree >= k invariant)"
        )
    out = _checkpoint(
        deg.select(F.col("src").alias("node"), F.col("deg").alias("degree"))
    )
    state.finish()
    return out


# ------------------------------------------------------------ G16 (ext)
def hits(
    edges: DataFrame, iters: int = 30, vertices: DataFrame | None = None
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg) on the directed graph:
    a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), each L2-normalized per
    round (spec extension, same centrality family as G6-G8; the
    citation-graph complement to PageRank — authorities are pointed-to
    experts, hubs are pointers-to-experts).

    Scale shape mirrors eigenvector_centrality: each half-round is one
    equi-join + groupBy on a fixed key (a cluster pre-partitions the
    edge table once and reuses it all rounds), its L2 norm rides the
    job that materializes it, and lineage/stats reset on the shared
    parquet-spill cadence. Returns (node, hub, authority)
    over the full vertex set — sinks get authority, sources get hub,
    isolated-direction nodes get exact 0.0.
    """
    e = edges.select("src", "dst").distinct().cache()
    nodes = (
        (
            vertices.select(F.col(vertices.columns[0]).alias("node"))
            if vertices is not None
            else e.select(F.col("src").alias("node")).union(
                e.select(F.col("dst").alias("node"))
            )
        )
        .distinct()
        .cache()
    )
    # The loop runs on SPARSE score vectors: a zero-fill join against
    # the node universe is inert inside the loop (absent rows add
    # nothing to the e-join sums or the L2 norm), so it happens ONCE at
    # the output. Each half-round is one step whose L2 norm rides the
    # materializing job; the normalized vector is a lazy projection of
    # the step's frame. Two steps per round, so the state spills every
    # 8th round.
    state = _LoopState(period=16)
    sq = F.sqrt(F.sum(F.col("raw") * F.col("raw")))

    def _scaled(full: DataFrame, nrm, out_col: str) -> DataFrame:
        score = (
            (F.col("raw") / F.lit(float(nrm))) if nrm and nrm > 0 else F.lit(0.0)
        )
        return full.select("node", score.alias(out_col))

    def _authority_raw(hubs: DataFrame) -> DataFrame:
        return (
            e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("raw"))
        )

    h, carry = nodes.withColumn("hub", F.lit(1.0)), []
    for _ in range(iters):
        a_full, m = state.step(_authority_raw(h), nrm=sq)
        a = _scaled(a_full, m["nrm"], "authority")
        h_full, m = state.step(
            e.join(a.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("authority").alias("raw")),
            nrm=sq,
        )
        h, carry = _scaled(h_full, m["nrm"], "hub"), [h_full]
    # The last hub frame rides the final step, so the output join can
    # still read it.
    a_full, *_, m = state.step(_authority_raw(h), *carry, nrm=sq)
    a_fin = _scaled(a_full, m["nrm"], "authority")
    out = _checkpoint(
        nodes.join(h, "node", "left_outer")
        .join(a_fin, "node", "left_outer")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("authority", F.lit(0.0)).alias("authority"),
        )
    )
    state.finish()
    e.unpersist()
    nodes.unpersist()
    return out


# ------------------------------------------------------------ G17 (ext)
def _driver_heap_bytes(spark: SparkSession) -> int:
    """The session's ``spark.driver.memory`` in bytes (``512m``, ``3g``,
    a bare byte count; an optional trailing ``b``). Unparseable or unset
    driver memory falls back to Spark's 1g default — conservative
    beats an OOM."""
    import re

    mem = spark.conf.get("spark.driver.memory", "1g") or "1g"
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m:
        return 1 << 30
    return int(m.group(1)) << {"": 0, "k": 10, "m": 20, "g": 30, "t": 40}[m.group(2)]


def _broadcast_edge_cap(spark: SparkSession) -> int:
    """Max canonical-edge count a broadcast may carry, derived from the
    session's driver heap: a hashed (v, w) two-long relation costs
    ~48 B/edge and the gate budgets 10% of heap (a 1g driver, the
    fallback for unparseable memory, caps at ~2.2M edges)."""
    heap = _driver_heap_bytes(spark)
    return max(1_000_000, int(heap * 0.10) // 48)


# Below this edge count the broadcast close beats the bloom close's
# extra stages; above it the bloom's compact words table wins even where
# the closing set still fits the broadcast cap (.stress/ab_close.json:
# 116k edges broadcast 2.4 s vs bloom 4.2 s; 1.2M edges bloom 4.4 s vs
# broadcast 10.5 s).
_BLOOM_MIN_EDGES = 500_000


def _close_strategy(
    n_edges: int, cap: int, prefer_broadcast_in_cap: bool = False
) -> tuple[str, int]:
    """Pick triangle_list's close from the canonical edge count and the
    broadcast cap (both in edges). Returns (strategy, bloom bits per
    edge).

    - ``broadcast`` up to min(cap, _BLOOM_MIN_EDGES), or up to the whole
      cap with ``prefer_broadcast_in_cap``: the closing edge set
      broadcasts into the semi probe.
    - ``bloom`` up to 16*cap: the blocked bloom filter's words table
      broadcasts instead, at 64*cap/n bits per edge clamped to [4, 16],
      so the same heap budget reaches 16x further.

    Past 16*cap even the 4-bit words table overruns the budget, and the
    close raises ValueError."""
    if n_edges <= min(cap, _BLOOM_MIN_EDGES) or (
        prefer_broadcast_in_cap and n_edges <= cap
    ):
        return "broadcast", 0
    if n_edges <= 16 * cap:
        return "bloom", min(16, max(4, (64 * cap) // n_edges))
    raise ValueError(
        f"triangle_list: {n_edges:,} canonical edges exceed 16x the "
        f"{cap:,}-edge broadcast cap derived from the driver heap; "
        "raise spark.driver.memory"
    )


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """The simple undirected graph of ``edges(src, dst)`` as canonical
    edges (a, b) with a < b: self-loops dropped, duplicates merged."""
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_support(tri: DataFrame, name: str = "support") -> DataFrame:
    """(ea, eb, ``name``): how many triangles of ``tri`` (ta, tb, tc)
    hold each canonical edge. The exploded member edges stream into a
    map-side-combined groupBy, so the exchange is edge-sized."""
    t = [F.col("ta"), F.col("tb"), F.col("tc")]
    members = F.array(
        *(
            F.struct(t[i].alias("ea"), t[j].alias("eb"))
            for i, j in ((0, 1), (1, 2), (0, 2))
        )
    )
    return (
        tri.select(F.explode(members).alias("ed"))
        .groupBy(F.col("ed.ea").alias("ea"), F.col("ed.eb").alias("eb"))
        .agg(F.count(F.lit(1)).alias(name))
    )


def triangle_list(
    e: DataFrame,
    prefer_broadcast_in_cap: bool = False,
    probe_plan_only: bool = False,
) -> DataFrame:
    """The triangles over canonical edges ``e`` (a, b), a < b: one row per
    triangle, columns (ta, tb, tc) with ta < tb < tc. The one triangle
    enumerator: triangle_counts explodes its rows, and ktruss and
    truss_decomposition peel them. ``e`` should be pinned
    (localCheckpoint) by the caller: it is counted, then read by both
    legs of the wedge join and by the close.

    Enumeration is id-ordered: a wedge is an in-edge u→v times an
    out-edge v→w of its middle vertex v, so every wedge has u < v < w
    and is emitted once, with no filter; its closing edge (u, w) is a
    LEFT SEMI probe, never a cartesian product. A vertex of degree d is
    the middle of at most d²/4 wedges. A (degree, id) order would bound
    a hub's share on a skewed graph, but on the degree-flat co-purchase
    graphs it gives as many wedges (4.59M at sf0.01, 49.3M at sf0.1,
    either order) and costs a degree aggregate and two joins.

    The close comes from _close_strategy, given the edge count and the
    heap-derived broadcast cap:

    - ``broadcast``: the closing set broadcasts, so the wedges cross no
      exchange.
    - ``bloom``: a blocked bloom filter (Putze, Sanders and Singler
      2007; one 64-bit word per key) over the composite (u, w) key.
      xxhash64(1, u, w) picks the key's word among n*bits/64, and three
      further salted hashes pick bits inside it; one bit_or aggregate
      builds the (word, mask) table, which broadcasts. A wedge survives
      if its word holds all three of its bits. Survivors, the true
      closers plus ~0.5% false positives at 16 bits (~15% at 4), settle
      exactness in one shuffle semi join against the closing set.
      Catalyst's runtime bloom filter cannot build this filter: the key
      mixes columns from both legs of the wedge join.

    ``probe_plan_only`` returns the bloom close's survivors before the
    optimizer barrier, so scripts/explain_audit.py can gate that stage's
    plan; it raises ValueError unless the bloom close is picked."""
    n_edges = e.count()
    strat, bits = _close_strategy(
        n_edges, _broadcast_edge_cap(e.sparkSession), prefer_broadcast_in_cap
    )
    if probe_plan_only and strat != "bloom":
        raise ValueError("probe_plan_only requires the bloom close")
    wedge = e.select(F.col("a").alias("u"), F.col("b").alias("v")).join(
        e.select(F.col("a").alias("v"), F.col("b").alias("w")), "v"
    )
    closing = e.select(F.col("a").alias("u"), F.col("b").alias("w"))

    def _to_triangles(probed: DataFrame) -> DataFrame:
        return probed.select(
            F.col("u").alias("ta"), F.col("v").alias("tb"), F.col("w").alias("tc")
        )

    if strat == "broadcast":
        return _to_triangles(wedge.join(F.broadcast(closing), ["u", "w"], "left_semi"))
    m_words = max(1, (max(n_edges, 1) * bits + 63) // 64)
    # The same two SQL expressions build and probe the filter, which is
    # the whole no-false-negative argument. Distinct literal salts give
    # independent draws without long-overflowing h1 + i*h2 mixing.
    word_sql = f"pmod(xxhash64(1, u, w), {m_words}L)"
    mask_sql = " | ".join(
        f"shiftleft(1L, CAST(pmod(xxhash64({salt}, u, w), 64) AS INT))"
        for salt in (2, 3, 4)
    )
    words = (
        closing.select(F.expr(word_sql).alias("bw"), F.expr(mask_sql).alias("bm"))
        .groupBy("bw")
        .agg(F.expr("bit_or(bm)").alias("bv"))
        .localCheckpoint(eager=True)
    )
    probed = wedge.withColumn("_bw", F.expr(word_sql)).withColumn(
        "_bm", F.expr(mask_sql)
    )
    # One fused test of all three bits; a wedge whose word is absent
    # carries no bits and the inner join already dropped it.
    survivors = (
        probed.join(F.broadcast(words), F.col("_bw") == F.col("bw"))
        .filter(F.expr("(bv & _bm) = _bm"))
        .select("u", "v", "w")
    )
    if probe_plan_only:
        return survivors
    # OPTIMIZER BARRIER — load-bearing. Without it Catalyst's
    # PushDownLeftSemiAntiJoin pushes the exactness semi join below the
    # word join (its (u, w) keys exist on the probed leg), so the
    # "pruned" exchange carries every wedge: measured at sf1 as 410.9M
    # rows / 7.8 GB against 22.0M survivors. A non-deterministic
    # projection is no barrier (column pruning deletes it); a lazy
    # localCheckpoint compiles the survivors to a LogicalRDD no rule
    # reorders across. On a cluster its blocks live in executor-local
    # storage and are lost with the executor.
    survivors = survivors.localCheckpoint(eager=False)
    return _to_triangles(
        survivors.join(closing.hint("shuffle_hash"), ["u", "w"], "left_semi")
    )


def ktruss(edges: DataFrame, k: int, max_iter: int = 64) -> DataFrame:
    """k-truss: the maximal subgraph in which every edge lies in at least
    k-2 triangles, the edge-level strengthening of the k-core. Returns
    its canonical edges (a, b, support), support counted inside the
    truss.

    Phase 1 counts every edge's full-graph support from one
    triangle_list pass and keeps the edges with support >= k-2: only
    they can be in the truss (10.8% of the sf0.1 co-purchase graph's
    edges at k=10). Phase 2 runs truss_decomposition's level peel
    (_truss_peel) over them with the level pinned at k-3: each round
    removes the edges with support <= k-3 and lowers the support of the
    rest, until no such edge is left.

    k <= 2 short-circuits: the 2-truss is the whole graph, so every
    canonical edge returns with its full-graph support (0 for
    triangle-free edges). ``max_iter`` bounds the distributed peel
    rounds; running out before the fixpoint raises RuntimeError instead
    of returning a partial peel."""
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    sup_full = _edge_support(triangle_list(e))
    if k <= 2:
        full = sup_full.select(F.col("ea").alias("a"), F.col("eb").alias("b"), "support")
        out = _checkpoint(
            e.join(full, ["a", "b"], "left_outer").select(
                "a", "b", F.coalesce("support", F.lit(0)).alias("support")
            )
        )
        _release(e)
        return out
    survivors = (
        sup_full.filter(F.col("support") >= k - 2)
        .select(F.col("ea").alias("a"), F.col("eb").alias("b"))
        .localCheckpoint(eager=True)
    )
    _release(e)
    alive, _ = _truss_peel(survivors, max_iter, pin=k - 3)
    out = _checkpoint(
        alive.select(F.col("ea").alias("a"), F.col("eb").alias("b"), "support")
    )
    _release(alive)
    _release(survivors)
    return out


# A peel round whose victims number under this fraction of the alive
# triangles decrements the support of the edges their triangles touch;
# any other round recounts the surviving triangles.
_DECREMENT_FRAC = 0.1


def _truss_peel(
    e: DataFrame,
    max_rounds: int,
    pin: int | None = None,
    emit=None,
    stats: dict | None = None,
) -> tuple[DataFrame, list[tuple]]:
    """The level peel of ktruss and truss_decomposition over the
    triangles of canonical edges ``e`` (a, b), which the caller pins.

    The triangle list is built once, with the broadcast close for the
    whole in-cap range (the bloom close's pinned blocks would compete
    with the loop state in executor storage), and shrinks with the
    per-edge support (ea, eb, support). Each round, at level l (the
    minimum support, never falling; ``pin`` when given):

    1. the victims are the edges with support <= l, handed to
       ``emit(victims, l)`` when given;
    2. the triangles holding a victim leave the list: three anti joins,
       with the victims broadcast when they fit the cap;
    3. the surviving edges' support drops: a round whose victims number
       under _DECREMENT_FRAC of the alive triangles decrements it by
       the hit triangles, any other round recounts the new list.

    The peel stops when no edge is left or, with ``pin``, when no
    support <= pin is. Once the alive edges fit _local_cap the rest runs
    on the driver (_local_truss_tail), which stops the same way. More
    than ``max_rounds`` distributed rounds raise RuntimeError. ``stats``
    receives the round counts and the final level.

    Returns (alive, peeled): the (ea, eb, support) frame of the edges
    left at the stop, and the (a, b, trussness) rows the local tail
    removed."""
    spark = e.sparkSession
    cap = _broadcast_edge_cap(spark)
    state = _LoopState()
    tri = state.minor(triangle_list(e, prefer_broadcast_in_cap=True))
    # sum(support) is three times the alive triangle count, which the
    # decrement gate needs; the three ride each round's step.
    sup_stats = dict(m=F.min("support"), n=F.count(F.lit(1)), s=F.sum("support"))
    sup, m = state.step(_edge_support(tri), **sup_stats)
    stats = {} if stats is None else stats
    stats.update(distributed_rounds=0, decrement_rounds=0, local_tail_n=0)
    level = pin or 0
    peeled: list[tuple] = []
    for rnd in range(max_rounds + 1):
        if m["n"] == 0 or (pin is not None and m["m"] > pin):
            break
        if m["n"] <= _local_cap(spark):
            stats["local_tail_n"] = m["n"]
            peeled, left = _local_truss_tail(
                [tuple(r) for r in sup.collect()], level, pin is not None
            )
            sup = spark.createDataFrame(left, sup.schema)
            break
        if rnd == max_rounds:
            raise RuntimeError(
                f"truss peel: no fixpoint after {max_rounds} rounds; raise "
                "the round limit (a partial peel breaks the support invariant)"
            )
        level = max(level, m["m"])
        victims = sup.filter(F.col("support") <= level).select("ea", "eb")
        if emit is not None:
            emit(victims, level)
        n_vic = victims.count()
        tri_next, hit_parts = tri, []
        for cols in (["ta", "tb"], ["tb", "tc"], ["ta", "tc"]):
            probe = victims.select(F.col("ea").alias(cols[0]), F.col("eb").alias(cols[1]))
            if n_vic <= cap:
                probe = F.broadcast(probe)
            tri_next = tri_next.join(probe, cols, "anti")
            # A USING join moves its keys first: re-project before the
            # positional union below.
            hit_parts.append(tri.join(probe, cols, "semi").select("ta", "tb", "tc"))
        tri_next = state.minor(tri_next)
        kept = sup.filter(F.col("support") > level)
        if n_vic <= cap and n_vic < _DECREMENT_FRAC * (m["s"] // 3):
            stats["decrement_rounds"] += 1
            hits = hit_parts[0].union(hit_parts[1]).union(hit_parts[2]).distinct()
            sup_next = kept.join(_edge_support(hits, "d"), ["ea", "eb"], "left_outer")
            sup_next = sup_next.select(
                "ea", "eb", (F.col("support") - F.coalesce("d", F.lit(0))).alias("support")
            )
        else:
            sup_next = kept.select("ea", "eb").join(
                _edge_support(tri_next), ["ea", "eb"], "left_outer"
            )
            sup_next = sup_next.select(
                "ea", "eb", F.coalesce("support", F.lit(0)).alias("support")
            )
        sup, tri, m = state.step(sup_next, tri_next, **sup_stats)
        stats["distributed_rounds"] += 1
    stats["final_level"] = level
    state.finish(sup)
    return sup, peeled


def _local_truss_tail(
    alive: list[tuple], level: int, pinned: bool
) -> tuple[list[tuple], list[tuple]]:
    """The level peel on the driver over the collected (a, b, support)
    rows, from peel level ``level`` (the bucket peel of Wang and Cheng,
    VLDB 2012): pop a minimum-support edge, give it trussness
    max(level, support) + 2, remove it, and decrement the other two
    edges of every triangle it closed. ``pinned`` stops at the first
    edge whose support exceeds ``level``. State is edge-count-bounded;
    _local_cap admits it. Returns (peeled (a, b, trussness) rows, the
    (a, b, support) rows left)."""
    import heapq

    sup = {(a, b): s for a, b, s in alive}
    adj: dict = {}
    for a, b, _ in alive:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    heap = [(s, a, b) for (a, b), s in sup.items()]
    heapq.heapify(heap)
    peeled = []
    while heap:
        s, a, b = heap[0]
        if sup.get((a, b)) != s:
            heapq.heappop(heap)  # stale entry from a decrement
            continue
        if pinned and s > level:
            break
        heapq.heappop(heap)
        level = max(level, s)
        peeled.append((a, b, level + 2))
        del sup[(a, b)]
        adj[a].discard(b)
        adj[b].discard(a)
        for c in adj[a] & adj[b]:
            for e in ((min(a, c), max(a, c)), (min(b, c), max(b, c))):
                sup[e] -= 1
                heapq.heappush(heap, (sup[e], *e))
    return peeled, [(a, b, s) for (a, b), s in sup.items()]


def truss_decomposition(
    edges: DataFrame, max_rounds: int = 4096, stats_out: dict | None = None
) -> DataFrame:
    """Full truss decomposition: every canonical edge (a, b) with its
    trussness, the largest k whose k-truss holds it, so one pass answers
    every ktruss(k) as a filter.

    The level peel (_truss_peel) only ever raises its level l: each
    round removes every edge with support <= l, and when none is left l
    jumps to the new minimum support. An edge removed at level l has
    trussness l+2: when level l starts, the surviving graph is the
    (l+2)-truss, and removal during level l bars the edge from the
    (l+3)-truss. Each round's victims append to one parquet directory,
    O(|E|) writes over the whole run. Triangle-free edges get
    trussness 2.

    ``stats_out``, when given, receives the peel's distributed and
    decrement round counts, its final level, the local tail's edge
    count and the wall time. Value-checked against the unrolled
    level-peel SQL oracle (plans/graph_queries._trussness_oracle) and,
    per k, against ktruss in tests/test_graph.py."""
    import atexit
    import os
    import shutil
    import tempfile
    import time

    from pyspark.sql.types import LongType, StructField, StructType

    t0 = time.time()
    spark = edges.sparkSession
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    acc_dir = tempfile.mkdtemp(prefix="panditya-trussness-")
    atexit.register(shutil.rmtree, acc_dir, ignore_errors=True)

    def emit(victims: DataFrame, level: int) -> None:
        victims.select(
            F.col("ea").alias("a"),
            F.col("eb").alias("b"),
            F.lit(level + 2).cast("long").alias("trussness"),
        ).write.mode("append").parquet(acc_dir)

    _, peeled = _truss_peel(e, max_rounds, emit=emit, stats=stats_out)
    schema = StructType(
        [
            StructField("a", e.schema["a"].dataType),
            StructField("b", e.schema["b"].dataType),
            StructField("trussness", LongType()),
        ]
    )
    labels = spark.createDataFrame(peeled, schema)
    if os.listdir(acc_dir):
        labels = labels.union(spark.read.schema(schema).parquet(acc_dir))
    out = _checkpoint(
        e.join(labels, ["a", "b"], "left_outer").select(
            "a", "b", F.coalesce("trussness", F.lit(2).cast("long")).alias("trussness")
        )
    )
    _release(e)
    if stats_out is not None:
        stats_out["sec_total"] = round(time.time() - t0, 1)
    return out


# ------------------------------------------------------------ G18 (ext)
def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 128,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths by frontier-driven
    relaxation — the Bellman-Ford family shaped like the other
    iterative operators here (Δ-messaging BFS/CC): per round, ONLY the
    improved frontier joins the edge table, candidate distances
    min-aggregate per target, and a node re-enters the frontier only
    when its distance strictly improved. Fixpoint when a round
    improves nothing; negative weights are rejected up front (the
    relaxation fixpoint is only shortest-paths under non-negative
    weights on cyclic graphs).

    Scale shape: each round is one equi-join on src (the edge table
    keeps a stable hash partitioning a cluster reuses across rounds)
    plus one map-side-combinable min aggregate; the frontier SHRINKS
    toward convergence so late rounds cost the frontier, not the
    graph. Lineage/stats reset on the shared parquet-spill cadence.
    Exhaustion without fixpoint raises (kcore/ktruss convention).

    Returns (node, dist) for every node reachable from the seed set,
    seeds at dist 0. Integer weights give exact integer distances.
    """
    e = edges.select(
        F.col("src"), F.col("dst"), F.col(weight_col).alias("w")
    )
    if e.filter(F.col("w") < 0).limit(1).count():
        raise ValueError("weighted_sssp requires non-negative weights")
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"), F.lit(0).cast("bigint").alias("dist")
    ).distinct()
    state = _LoopState()
    dist, _ = state.step(dist)
    frontier = dist
    for _ in range(max_iter):
        cand = (
            frontier.join(e, frontier["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        merged = dist.join(cand, "node", "full_outer").select(
            "node",
            F.least(F.col("dist"), F.col("cand")).alias("best"),
            F.coalesce("dist", F.col("cand")).alias("old_or_new"),
            (
                F.col("dist").isNull()
                | (F.col("cand") < F.col("dist"))
            ).alias("improved"),
        ).select(
            "node",
            F.coalesce("best", "old_or_new").alias("dist"),
            "improved",
        )
        # ONE materialization per round AND one job: the (node, dist,
        # improved) frame is the only checkpointed state, the
        # max(improved) convergence probe rides its step, and the
        # dist/frontier pair are lazy projections over it.
        merged, m = state.step(merged, improved=F.max("improved"))
        dist = merged.select("node", "dist")
        frontier = merged.filter(F.col("improved")).select("node", "dist")
        if not m["improved"]:
            break
    else:
        raise RuntimeError(
            f"weighted_sssp: no fixpoint after {max_iter} rounds "
            "(negative cycle impossible; raise max_iter)"
        )
    out = _checkpoint(dist)
    state.finish()
    return out


# ------------------------------------------------------------ G19 (ext)
def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-node LOCAL clustering coefficient pieces: triangles through
    the node and wedges centered on it (deg·(deg−1)/2) — the standard
    cohesion metric C(v) = 2·tri / (deg·(deg−1)). Both components are
    returned as EXACT integers (the coefficient itself is their ratio,
    left to the caller) so the result is engine-exact and
    oracle-checkable — the same reason k-core returns degrees rather
    than normalized scores.

    Scale shape: the undirected edges are pinned once; degree is one
    map-side-combinable aggregate over them, triangle credit explodes
    the triangle_list rows of their a < b half, and the two join on
    node. Returns
    (node, n_triangles, n_wedges) over all nodes with degree >= 1
    (zero-triangle nodes included with n_triangles 0)."""
    und = undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy(F.col("a").alias("node")).agg(F.count(F.lit(1)).alias("deg"))
    # und holds each edge once per direction, so its a < b half is the
    # canonical edge set: one pinned copy feeds both aggregates.
    tri = _triangle_credits(triangle_list(und.filter(F.col("a") < F.col("b"))))
    return (
        deg.join(tri, "node", "left_outer")
        .select(
            "node",
            F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            (F.col("deg") * (F.col("deg") - 1) / 2).cast("bigint").alias(
                "n_wedges"
            ),
        )
    )
