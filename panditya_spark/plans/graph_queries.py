"""Graph operator queries (SURVEY.md §2.8) parameterized onto the
driver's synthetic tables per FIXTURES.md §B.

The graph under test is derived from the TPC-H key chain:
    'N'||n_nationkey  --owns-->  'C'||c_custkey  --placed-->  'O'||o_orderkey
This gives a real multi-level graph whose BFS/components/degree answers
are independently computable by DuckDB recursive CTEs (the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from panditya_spark.operators.graph import (
    connected_components,
    khop_bfs,
    longest_chain_depth,
)
from panditya_spark.plans.registry import register, table as _t


def key_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation→customer ∪ customer→order edge table with typed node ids."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    nc = c.select(
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("dst"),
    )
    co = o.select(
        F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("dst"),
    )
    return nc.union(co)


_EDGES_SQL = """
      SELECT 'N' || CAST(c_nationkey AS VARCHAR) AS src,
             'C' || CAST(c_custkey AS VARCHAR) AS dst
      FROM customer
      UNION ALL
      SELECT 'C' || CAST(o_custkey AS VARCHAR), 'O' || CAST(o_orderkey AS VARCHAR)
      FROM orders
"""


# ---------------------------------------------------------------- G1
# Reference: grapher.py:25-94 — k-hop BFS subgraph (undirected expansion,
# periphery trim). k=2 from the nations of region 0.
@register(
    "g1_khop_bfs",
    oracle=f"""
    WITH RECURSIVE
    edges AS ({_EDGES_SQL}),
    und AS (
      SELECT src AS a, dst AS b FROM edges
      UNION SELECT dst, src FROM edges
    ),
    reach(node, d) AS (
      SELECT 'N' || CAST(n_nationkey AS VARCHAR), 0 FROM nation WHERE n_regionkey = 0
      UNION
      SELECT u.b, r.d + 1 FROM reach r JOIN und u ON u.a = r.node WHERE r.d < 2
    )
    SELECT node, CAST(min(d) AS INTEGER) AS dist FROM reach GROUP BY node
    """,
)
def g1_khop_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    edges = key_chain_edges(spark, sf_dir)
    seeds = n.filter(F.col("n_regionkey") == 0).select(
        F.concat(F.lit("N"), F.col("n_nationkey").cast("string")).alias("node")
    )
    nodes, _ = khop_bfs(edges, seeds, hops=2)
    return nodes.select("node", F.col("dist").cast("int").alias("dist"))


# ---------------------------------------------------------------- G5
# Reference: analyze.py:36-39 — undirected connected components.
# Oracle: full transitive closure by recursive CTE (feasible because
# the key-chain graph's components are star-shaped and small).
@register(
    "g5_connected_components",
    oracle=f"""
    WITH RECURSIVE
    edges AS ({_EDGES_SQL}),
    und AS (
      SELECT src AS a, dst AS b FROM edges
      UNION SELECT dst, src FROM edges
    ),
    nodes AS (SELECT a AS node FROM und),
    reach(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT u.b, r.label FROM reach r JOIN und u ON u.a = r.node
    )
    SELECT node, min(label) AS component FROM reach GROUP BY node
    """,
)
def g5_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = key_chain_edges(spark, sf_dir)
    return connected_components(edges)


# ---------------------------------------------------------------- A10/G6
# Reference: analyze.py:107-117 — degree aggregates over the edge table.
@register(
    "a10_degree_stats",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    outd AS (SELECT src, count(*) AS d FROM edges GROUP BY src),
    ind AS (SELECT dst, count(*) AS d FROM edges GROUP BY dst)
    SELECT (SELECT max(d) FROM outd) AS max_out_degree,
           (SELECT avg(d) FROM outd) AS avg_out_degree,
           (SELECT max(d) FROM ind) AS max_in_degree,
           (SELECT avg(d) FROM ind) AS avg_in_degree
    """,
)
def a10_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One pass (r16, guide §1.2/§2.4): the former per-direction
    # groupBys were two independent subtrees, so the edge-table build
    # ran twice (4 parquet scans) through two keyed shuffles plus two
    # single-row aggregates and a crossJoin. Each edge now contributes
    # (src, out) and (dst, in) rows to ONE node-keyed aggregate —
    # one scan pass, one keyed exchange (map-side partial agg keeps
    # shuffle rows at distinct-nodes, not 2|E|), one global fold.
    # avg over the when-filtered column sees exactly the rows the old
    # per-direction groupBy produced (avg ignores nulls), and degree
    # sums are integers < 2^53, so the double average is bit-identical
    # regardless of partition order.
    edges = key_chain_edges(spark, sf_dir)
    deg = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("node"),
                        F.lit(1).alias("o"),
                        F.lit(0).alias("i"),
                    ),
                    F.struct(
                        F.col("dst").alias("node"),
                        F.lit(0).alias("o"),
                        F.lit(1).alias("i"),
                    ),
                )
            ).alias("c")
        )
        .select("c.node", "c.o", "c.i")
        .groupBy("node")
        .agg(F.sum("o").alias("d_out"), F.sum("i").alias("d_in"))
    )
    d_out = F.when(F.col("d_out") > 0, F.col("d_out"))
    d_in = F.when(F.col("d_in") > 0, F.col("d_in"))
    return deg.agg(
        F.max(d_out).alias("max_out_degree"),
        F.avg(d_out).alias("avg_out_degree"),
        F.max(d_in).alias("max_in_degree"),
        F.avg(d_in).alias("avg_in_degree"),
    )


# ---------------------------------------------------------------- G12/A8
# Reference: analyze.py:94-97 — node/edge counts + nx.density (digraph).
@register(
    "g12_density",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL}),
    nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    c AS (SELECT (SELECT count(*) FROM nodes) AS n_nodes,
                 (SELECT count(*) FROM edges) AS n_edges)
    SELECT n_nodes, n_edges,
           CAST(n_edges AS DOUBLE) / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)) AS density
    FROM c
    """,
)
def g12_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = key_chain_edges(spark, sf_dir).cache()
    nodes = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    ).distinct()
    nc = nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    ec = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return nc.crossJoin(ec).select(
        "n_nodes",
        "n_edges",
        (
            F.col("n_edges").cast("double")
            / (F.col("n_nodes").cast("double") * (F.col("n_nodes") - 1))
        ).alias("density"),
    )


# ---------------------------------------------------------------- G10
# Reference: analyze.py:226-253 — commentary-chain max depth (longest
# path in a DAG). Synthetic DAG: o_orderkey → 2*o_orderkey when both
# exist (a forest of doubling chains — acyclic by construction).
@register(
    "g10_longest_chain",
    oracle="""
    WITH RECURSIVE
    dag AS (
      -- o_orderkey > 0: key 0 would be a self-loop (0*2=0), i.e. a cycle
      SELECT 'K' || CAST(o1.o_orderkey AS VARCHAR) AS src,
             'K' || CAST(o1.o_orderkey * 2 AS VARCHAR) AS dst
      FROM orders o1 JOIN orders o2 ON o2.o_orderkey = o1.o_orderkey * 2
      WHERE o1.o_orderkey > 0
    ),
    -- DISTINCT, not UNION-dedupe: inside a WITH RECURSIVE block DuckDB
    -- runs this CTE's UNION branches without global dedup.
    nodes AS (SELECT DISTINCT node FROM
              (SELECT src AS node FROM dag UNION ALL SELECT dst FROM dag)),
    walk(start, node, d) AS (
      SELECT src, dst, 1 FROM dag
      UNION ALL
      SELECT w.start, e.dst, w.d + 1 FROM walk w JOIN dag e ON e.src = w.node
    )
    SELECT n.node, CAST(COALESCE(m.d, 0) AS INTEGER) AS chain_depth
    FROM nodes n
    LEFT JOIN (SELECT start, max(d) AS d FROM walk GROUP BY start) m
      ON m.start = n.node
    """,
)
def g10_longest_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o1 = o.select("o_orderkey").filter(F.col("o_orderkey") > 0)
    o2 = o.select(F.col("o_orderkey").alias("k2"))
    dag = o1.join(o2, o2.k2 == o1.o_orderkey * 2).select(
        F.concat(F.lit("K"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("K"), (F.col("o_orderkey") * 2).cast("string")).alias("dst"),
    )
    return longest_chain_depth(dag).select(
        "node", F.col("chain_depth").cast("int").alias("chain_depth")
    )


# ---------------------------------------------------------------- G2+G11
# Reference: utils/construct_full_graph.py:1-5 + analyze.py:36,127 —
# full-graph materialization (the reference's hops=25 BFS over all
# seeds is just a roundabout way to emit every edge once) and the
# undirected projection used by components/Louvain. One explode-free
# union pass; no iteration, no shuffle beyond the final distinct.
@register(
    "g2_g11_full_undirected",
    oracle=f"""
    WITH edges AS ({_EDGES_SQL})
    SELECT src AS a, dst AS b FROM edges
    UNION
    SELECT dst, src FROM edges
    """,
)
def g2_g11_full_undirected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from panditya_spark.operators.graph import undirected

    return undirected(key_chain_edges(spark, sf_dir)).select(
        F.col("a"), F.col("b")
    )


# ---------------------------------------------------------------- G13 (ext.)
# Triangle counting — no reference counterpart (NetworkX offers it but
# the reference's commentary graph is a near-forest); run on the part
# co-purchase graph (parts sharing an order), where triangles are real.
@register(
    "g13_triangle_counts",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1
      JOIN e e2 ON e2.a = e1.b
      WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
    )
    SELECT node, count(*) AS n_triangles
    FROM (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    GROUP BY node
    """,
)
def g13_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts over the part co-purchase graph
    (operators/graph.triangle_counts: exploded triangle_list rows).
    The oracle enumerates the same triangle set by an id-ordered join;
    the enumeration order does not change the counts."""
    from panditya_spark.operators.graph import triangle_counts

    li = _t(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return triangle_counts(e)


# ---------------------------------------------------------------- G14 (ext)
# Strongly connected components (spec extension): the key-chain DAG
# plus order→nation back-edges, which close one directed cycle family
# per nation: N→its customers→their orders→N. The SCC structure is
# therefore derivable WITHOUT recursion — each nation's {N, order-
# having customers, their orders} collapses to one component labeled
# by its lexicographic min member ('C...' < 'N...' < 'O...') — which
# is what makes an exact DuckDB oracle possible for a computation
# that is not otherwise SQL-expressible.
@register(
    "g14_scc",
    oracle="""
    WITH nodes_n AS (SELECT DISTINCT c_nationkey AS n FROM customer),
    co AS (SELECT DISTINCT o_custkey AS ck FROM orders),
    cn AS (
      SELECT c_custkey, c_nationkey,
             c_custkey IN (SELECT ck FROM co) AS has_o
      FROM customer
    ),
    m AS (
      SELECT c_nationkey, min('C' || CAST(c_custkey AS VARCHAR)) AS scc
      FROM cn WHERE has_o GROUP BY c_nationkey
    )
    SELECT 'N' || CAST(n.n AS VARCHAR) AS node,
           coalesce(m.scc, 'N' || CAST(n.n AS VARCHAR)) AS scc
    FROM nodes_n n LEFT JOIN m ON m.c_nationkey = n.n
    UNION ALL
    SELECT 'C' || CAST(c_custkey AS VARCHAR),
           CASE WHEN cn.has_o THEN m.scc
                ELSE 'C' || CAST(c_custkey AS VARCHAR) END
    FROM cn LEFT JOIN m ON m.c_nationkey = cn.c_nationkey
    UNION ALL
    SELECT 'O' || CAST(o_orderkey AS VARCHAR), m.scc
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN m ON m.c_nationkey = customer.c_nationkey
    """,
)
def g14_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCC of the back-edged key chain
    (operators/graph.strongly_connected_components). At sf0.01 and at
    sf0.1 (315k edges, 165k nodes) the graph fits the local tier on a
    3g or larger driver and iterative Tarjan runs on the driver; a
    larger graph runs the distributed trim + min-label FW-BW loop.
    Algorithm semantics are pinned on both tiers by the brute-force
    transitive-closure tests (tests/test_graph.py); this query
    value-checks the full decomposition against the structural oracle
    every round.

    assume_distinct is honest here, not a bench dodge: each union leg
    is keyed by a UNIQUE column of its source table (N→C by c_custkey,
    C→O and O→N by o_orderkey) and the three legs' node-type prefixes
    differ, so the edge table is duplicate-free by construction and
    the operator's defensive distinct would be an identity shuffle."""
    from panditya_spark.operators.graph import strongly_connected_components

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    back = o.join(c, o.o_custkey == c.c_custkey).select(
        F.concat(F.lit("O"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("dst"),
    )
    return strongly_connected_components(
        key_chain_edges(spark, sf_dir).union(back), assume_distinct=True
    )


# ---------------------------------------------------------------- G15 (ext)
def _kcore_oracle(k: int, unroll: int) -> str:
    """UNROLLED-peel SQL oracle for the k-core: a fixed chain of
    degree-filter CTEs. Peeling is a shrinking fixpoint, so once the
    chain reaches it, further steps are identity — an unroll depth
    comfortably above the measured convergence (k=75: 5 rounds at both
    sf0.001 and sf0.01; depth 10 = 2× margin) makes the bounded SQL
    EXACT, turning a 'not SQL-expressible' iterative operator into a
    value-checked one. The final SELECT ASSERTS the fixpoint was
    reached (|e_N| == |e_{N-1}|, valid because the peel only shrinks):
    at a larger sf where the unroll proves too shallow, the oracle
    errors loudly as an oracle-calibration problem instead of
    surfacing a spurious engine mismatch (ADVICE r5)."""
    parts = [
        "WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b"
        " FROM lp x JOIN lp y ON x.l_orderkey = y.l_orderkey"
        " AND x.l_partkey < y.l_partkey)",
    ]
    for i in range(unroll):
        parts.append(
            f"k{i} AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e{i} "
            f"UNION ALL SELECT b FROM e{i}) GROUP BY node "
            f"HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{i+1} AS MATERIALIZED (SELECT a, b FROM e{i} "
            f"WHERE a IN (SELECT node FROM k{i}) "
            f"AND b IN (SELECT node FROM k{i}))"
        )
    parts.append(
        f"chk AS (SELECT CASE WHEN (SELECT count(*) FROM e{unroll}) = "
        f"(SELECT count(*) FROM e{unroll - 1}) THEN 1 ELSE CAST(error("
        f"'kcore oracle: unroll {unroll} too shallow for this sf — "
        f"peel not at fixpoint') AS INTEGER) END AS ok)"
    )
    final = (
        f" SELECT node, CAST(count(*) AS BIGINT) AS degree FROM "
        f"(SELECT a AS node FROM e{unroll} UNION ALL SELECT b FROM e{unroll}) "
        f"CROSS JOIN chk WHERE chk.ok = 1 "
        f"GROUP BY node"
    )
    return ", ".join(parts) + final


@register("g15_kcore", oracle=_kcore_oracle(k=75, unroll=10))
def g15_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core membership of the part co-purchase graph (the same graph
    as g13 triangle counting: parts are adjacent when they share an
    order), value-checked against an unrolled-peel SQL oracle (the
    peel is a shrinking fixpoint, so a bounded CTE chain past the
    measured convergence depth is exact — see _kcore_oracle). Exact
    peel semantics (result == brute-force maximal subgraph, in-core
    degrees >= k, raise on non-fixpoint) are additionally pinned by
    tests/test_graph.py. k=75 gives a non-trivial core/shell split at
    sf0.01 (1938 of 2000 parts survive, 5 peel rounds)."""
    from panditya_spark.operators.graph import kcore

    li = _t(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return kcore(e, k=75).orderBy("node")


# ---------------------------------------------------------------- G16 (ext)
@register("g16_hits")
def g16_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the directed key-chain graph:
    customers are the hub layer (they point at orders), orders the
    authority layer. Rows-only (L2-normalized float fixpoint, the
    eigenvector class); exact semantics pinned against a NumPy power
    iteration in tests/test_graph.py::test_hits_matches_numpy."""
    from panditya_spark.operators.graph import hits

    # 12 rounds: the key-chain graph's hub ranking is stable well
    # before (star-like neighborhoods converge in a few rounds);
    # exact-fixpoint parity with NumPy is pinned at 30 rounds in the
    # pytest, where the cost lives on a 7-node graph.
    return hits(key_chain_edges(spark, sf_dir), iters=12).orderBy(
        F.desc("hub"), "node"
    )


def _hits_topk_oracle(iters: int, k: int) -> str:
    """UNROLLED HITS power-iteration oracle: each round is two
    (join + group-sum + L2-normalize) CTE blocks — the exact update
    hits() runs distributed. Floats cross engines differ only by
    accumulation-order ulps (~1e-13 after 12 rounds), so the checked
    output is the top-k AUTHORITY rank order over authorities ROUNDED
    to 6 decimals: structurally-tied nodes (all orders of one
    customer, all customers of one nation — single-term authority
    updates on this graph) snap to equal and break on node id, and
    the k-boundary gaps between distinct rounded levels are orders of
    magnitude above the noise (verified at sf0.001/sf0.01)."""
    parts = [
        f"WITH edges AS ({_EDGES_SQL})",
        "nodes AS MATERIALIZED (SELECT DISTINCT node FROM (SELECT src AS node FROM"
        " edges UNION ALL SELECT dst FROM edges))",
        "h0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE) AS hub FROM nodes)",
    ]
    for t in range(1, iters + 2):
        parts.append(
            f"ar{t} AS MATERIALIZED (SELECT e.dst AS node, sum(h.hub) AS raw "
            f"FROM edges e JOIN h{t-1} h ON h.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"af{t} AS MATERIALIZED (SELECT n.node, coalesce(ar.raw, 0.0) AS raw "
            f"FROM nodes n LEFT JOIN ar{t} ar USING (node))"
        )
        parts.append(
            f"a{t} AS MATERIALIZED (SELECT af.node, CASE WHEN q.nrm > 0 "
            f"THEN af.raw / q.nrm ELSE 0.0 END AS authority "
            f"FROM af{t} af CROSS JOIN "
            f"(SELECT sqrt(sum(raw * raw)) AS nrm FROM af{t}) q)"
        )
        if t == iters + 1:
            # hits() returns the authority OF the final hub vector —
            # one extra authority half-round, no hub update after it.
            break
        parts.append(
            f"hr{t} AS MATERIALIZED (SELECT e.src AS node, sum(a.authority) AS raw "
            f"FROM edges e JOIN a{t} a ON a.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"hf{t} AS MATERIALIZED (SELECT n.node, coalesce(hr.raw, 0.0) AS raw "
            f"FROM nodes n LEFT JOIN hr{t} hr USING (node))"
        )
        parts.append(
            f"h{t} AS MATERIALIZED (SELECT hf.node, CASE WHEN q.nrm > 0 "
            f"THEN hf.raw / q.nrm ELSE 0.0 END AS hub "
            f"FROM hf{t} hf CROSS JOIN "
            f"(SELECT sqrt(sum(raw * raw)) AS nrm FROM hf{t}) q)"
        )
    final = (
        f" SELECT rk, node FROM (SELECT CAST(row_number() OVER ("
        f"ORDER BY round(authority, 6) DESC, node) AS INTEGER) AS rk, node "
        f"FROM a{iters + 1}) WHERE rk <= {k}"
    )
    return ", ".join(parts) + final


@register("g16_hits_topk", oracle=_hits_topk_oracle(iters=12, k=10))
def g16_hits_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 HITS AUTHORITIES of the key-chain graph as (rank, node)
    — the direct driver row for the g16 family (VERDICT r5 next-round
    #2): the full float frame stays rows-only in g16_hits (L2 float
    fixpoint), but the authority RANK ORDER at a fixed k is an
    engine-exact integer derivative once authorities are rounded to 6
    decimals (see _hits_topk_oracle for the robustness argument; exact
    numeric semantics remain pinned by
    tests/test_graph.py::test_hits_matches_numpy)."""
    from panditya_spark.operators.graph import hits

    from pyspark.sql.window import Window

    res = hits(key_chain_edges(spark, sf_dir), iters=12)
    w = Window.orderBy(F.desc(F.round(F.col("authority"), 6)), F.asc("node"))
    return (
        res.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select(F.col("rk").cast("int").alias("rk"), "node")
    )


# ---------------------------------------------------------------- G17 (ext)
def _ktruss_oracle(k: int, unroll: int) -> str:
    """UNROLLED support-peel SQL oracle for the k-truss: each step
    re-enumerates triangles on the surviving edge set (the g13 ordered
    a<b<c join) and drops edges below k-2 support. Same exactness
    argument as _kcore_oracle: the peel fixpoint is unique and
    shrinking, so an unroll past measured convergence (k=10: 8 rounds
    at sf0.01, 1 at sf0.001; depth 12) is exact. The oracle's full
    per-round recount also cross-validates the Spark side's
    INCREMENTAL support maintenance — two different algorithms, one
    fixpoint. Like _kcore_oracle, the final SELECT asserts the
    fixpoint (|e_N| == |e_{N-1}|) and errors loudly if the unroll is
    too shallow for the sf (ADVICE r5)."""
    parts = [
        "WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b"
        " FROM lp x JOIN lp y ON x.l_orderkey = y.l_orderkey"
        " AND x.l_partkey < y.l_partkey)",
    ]
    for i in range(unroll):
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc "
            f"FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.b "
            f"WHERE EXISTS (SELECT 1 FROM e{i} e3 "
            f"WHERE e3.a = e1.a AND e3.b = e2.b))"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT ea, eb, count(*) AS sup FROM "
            f"(SELECT ta AS ea, tb AS eb FROM t{i} "
            f"UNION ALL SELECT tb, tc FROM t{i} "
            f"UNION ALL SELECT ta, tc FROM t{i}) GROUP BY 1, 2)"
        )
        parts.append(
            f"e{i+1} AS MATERIALIZED (SELECT ea AS a, eb AS b FROM s{i} "
            f"WHERE sup >= {k - 2})"
        )
    parts.append(
        f"chk AS (SELECT CASE WHEN (SELECT count(*) FROM e{unroll}) = "
        f"(SELECT count(*) FROM e{unroll - 1}) THEN 1 ELSE CAST(error("
        f"'ktruss oracle: unroll {unroll} too shallow for this sf — "
        f"peel not at fixpoint') AS INTEGER) END AS ok)"
    )
    final = (
        f" SELECT ea AS a, eb AS b, CAST(sup AS BIGINT) AS support "
        f"FROM s{unroll - 1} CROSS JOIN chk WHERE chk.ok = 1 AND sup >= {k - 2}"
    )
    return ", ".join(parts) + final


def _trussness_oracle(unroll: int, mod: int = 2) -> str:
    """UNROLLED level-peel SQL oracle for the FULL truss decomposition:
    each step recounts triangle supports on the surviving edge set,
    raises the peel level to max(previous level, current min support)
    — the level only ever rises, carried through the steps as a scalar
    CTE — and removes every edge at or below it with trussness
    level+2. Identical schedule to the Spark operator's distributed
    loop (the local-tail finisher changes WHO executes the tail, not
    the removal schedule's fixpoint), but with full per-step recounts,
    cross-validating the Spark side's incremental decrement. Edges
    triangle-free at any step count support 0 via the LEFT JOIN, so
    the uniform step rule also settles the initial trussness-2 edges
    (level 0 + 2). The graph is the l_orderkey %% `mod` = 0 slice of
    the co-purchase graph: the FULL graph's schedule is 63 steps at
    sf0.01 and 98 at sf0.001, and recounting ~100k edges per step
    costs the oracle ~150s — the slice keeps a non-trivial
    decomposition at a fraction of the oracle work. Round 14 promoted
    the registered slice from mod=4 (30,580 edges / 3.8s oracle at
    sf0.01) to mod=2 (59,385 edges, max trussness 13, 9.0s oracle) —
    double the value-checked coverage, affordable once the bloom
    close + 1M local tail made the Spark side cheap (VERDICT r13 #8).
    Measured mod=2 schedule: 46 steps at sf0.01, 67 at sf0.001 —
    unroll past it is cheap (all sets empty) and the final SELECT
    errors loudly if the unroll is too shallow (same guard as
    _kcore_oracle/_ktruss_oracle)."""
    parts = [
        "WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
        f" WHERE l_orderkey % {mod} = 0)",
        "e0 AS MATERIALIZED (SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b"
        " FROM lp x JOIN lp y ON x.l_orderkey = y.l_orderkey"
        " AND x.l_partkey < y.l_partkey)",
    ]
    for i in range(unroll):
        prev_lv = "0" if i == 0 else f"(SELECT lv FROM l{i - 1})"
        parts.append(
            f"t{i} AS MATERIALIZED (SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc "
            f"FROM e{i} e1 JOIN e{i} e2 ON e2.a = e1.b "
            f"WHERE EXISTS (SELECT 1 FROM e{i} e3 "
            f"WHERE e3.a = e1.a AND e3.b = e2.b))"
        )
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT ea, eb, count(*) AS cnt FROM "
            f"(SELECT ta AS ea, tb AS eb FROM t{i} "
            f"UNION ALL SELECT tb, tc FROM t{i} "
            f"UNION ALL SELECT ta, tc FROM t{i}) GROUP BY 1, 2)"
        )
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT e.a AS ea, e.b AS eb, "
            f"COALESCE(c.cnt, 0) AS sup FROM e{i} e LEFT JOIN c{i} c "
            f"ON c.ea = e.a AND c.eb = e.b)"
        )
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT GREATEST({prev_lv}, "
            f"COALESCE((SELECT MIN(sup) FROM s{i}), {prev_lv})) AS lv)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT ea, eb, "
            f"(SELECT lv FROM l{i}) + 2 AS tn FROM s{i} "
            f"WHERE sup <= (SELECT lv FROM l{i}))"
        )
        parts.append(
            f"e{i + 1} AS MATERIALIZED (SELECT ea AS a, eb AS b FROM s{i} "
            f"WHERE sup > (SELECT lv FROM l{i}))"
        )
    parts.append(
        f"chk AS (SELECT CASE WHEN (SELECT count(*) FROM e{unroll}) = 0 "
        f"THEN 1 ELSE CAST(error('trussness oracle: unroll {unroll} too "
        f"shallow for this sf — peel not finished') AS INTEGER) END AS ok)"
    )
    union = " UNION ALL ".join(
        f"SELECT ea, eb, tn FROM r{i}" for i in range(unroll)
    )
    final = (
        f" SELECT ea AS a, eb AS b, CAST(tn AS BIGINT) AS trussness "
        f"FROM ({union}) CROSS JOIN chk WHERE chk.ok = 1"
    )
    return ", ".join(parts) + final


@register("g17_trussness", oracle=_trussness_oracle(unroll=80, mod=2))
def g17_trussness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full truss decomposition of the part co-purchase graph: every
    canonical edge labeled with the max k whose k-truss contains it
    (operators/graph.truss_decomposition, the level peel it shares with
    ktruss), which answers every k-truss query in one pass. The
    l_orderkey % 2 = 0 half-graph slice keeps the oracle's per-step
    full recounts tractable (see _trussness_oracle); brute-force
    trussness and per-k slice equality with ktruss(k) on both tiers
    are in tests/test_graph.py::test_truss_decomposition_*. At sf0.01
    the slice has 59,385 edges, max trussness 13, 46 peel steps."""
    from panditya_spark.operators.graph import truss_decomposition

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 2 == 0)
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return truss_decomposition(e).orderBy("a", "b")


@register("g17_ktruss", oracle=_ktruss_oracle(k=10, unroll=12))
def g17_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss of the part co-purchase graph (edge-level cohesion, the
    step past g15's k-core): surviving canonical edges with their
    in-truss triangle support (operators/graph.ktruss: a full-graph
    support filter, then the truss level peel pinned at k-3),
    value-checked against an unrolled support-peel SQL oracle (see
    _ktruss_oracle; its full recount per round cross-validates the
    peel's decrements). Brute-force equality on both tiers is in
    tests/test_graph.py::test_ktruss_matches_bruteforce. k=10 gives a
    non-trivial truss at sf0.01 (4,974 of 115,729 edges survive)."""
    from panditya_spark.operators.graph import ktruss

    li = _t(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return ktruss(e, k=10).orderBy("a", "b")


# ---------------------------------------------------------------- G18 (ext)
@register(
    "g18_weighted_sssp",
    oracle="""
    WITH RECURSIVE
    dag AS (
      SELECT 'K' || CAST(o1.o_orderkey AS VARCHAR) AS src,
             'K' || CAST(o1.o_orderkey * 2 AS VARCHAR) AS dst,
             1 + o1.o_orderkey % 3 AS w
      FROM orders o1 JOIN orders o2 ON o2.o_orderkey = o1.o_orderkey * 2
      WHERE o1.o_orderkey > 0
    ),
    seeds AS (
      SELECT DISTINCT src AS node FROM dag
      WHERE src NOT IN (SELECT dst FROM dag)
    ),
    walk(node, d) AS (
      SELECT node, CAST(0 AS BIGINT) FROM seeds
      UNION ALL
      SELECT e.dst, w.d + e.w FROM walk w JOIN dag e ON e.src = w.node
    )
    SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node
    """,
)
def g18_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/graph.weighted_sssp) over
    the same doubling-chain DAG as g10, with deterministic integer
    edge weights (1 + key % 3) and the chain heads as the seed set —
    multi-hop relaxation with EXACT integer distances, value-checked
    against a recursive-CTE walk oracle (unique paths on this DAG keep
    the walk linear). The operator itself handles general cyclic
    non-negative graphs; cycle semantics are pinned by
    tests/test_graph.py::test_weighted_sssp_* against a Dijkstra
    reference."""
    from panditya_spark.operators.graph import weighted_sssp

    o = _t(spark, sf_dir, "orders")
    o1 = o.select("o_orderkey").filter(F.col("o_orderkey") > 0)
    o2 = o.select(F.col("o_orderkey").alias("k2"))
    dag = o1.join(o2, o1["o_orderkey"] * 2 == o2["k2"]).select(
        F.concat(F.lit("K"), F.col("o_orderkey").cast("string")).alias("src"),
        F.concat(F.lit("K"), (F.col("o_orderkey") * 2).cast("string")).alias("dst"),
        (1 + F.col("o_orderkey") % 3).alias("weight"),
    )
    heads = dag.select("src").subtract(dag.select(F.col("dst").alias("src")))
    return weighted_sssp(dag, heads.select(F.col("src").alias("node")))


# ---------------------------------------------------------------- G19 (ext)
@register(
    "g19_clustering_coeff",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
      FROM lp x JOIN lp y
        ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
    ),
    und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY 1),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)
    ),
    tn AS (
      SELECT node, count(*) AS n_triangles
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
      GROUP BY node
    )
    SELECT deg.node,
           CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(deg.deg * (deg.deg - 1) // 2 AS BIGINT) AS n_wedges
    FROM deg LEFT JOIN tn ON tn.node = deg.node
    """,
)
def g19_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering-coefficient components over the part
    co-purchase graph (operators/graph.clustering_coefficients, whose
    triangle credit explodes triangle_list rows): exact
    integer (triangles, wedges) per node — C(v) is their ratio.
    Value-checked every round through the combo slot."""
    from panditya_spark.operators.graph import clustering_coefficients

    li = _t(spark, sf_dir, "lineitem")
    lp = li.select("l_orderkey", "l_partkey").distinct()
    x = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("src"))
    y = lp.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("dst"))
    e = x.join(y, "k").filter(F.col("src") < F.col("dst")).select("src", "dst")
    return clustering_coefficients(e)
