"""Registry entries: graph analytics — PageRank, triangle counting,
label-propagation communities, multi-source BFS and k-core.

Iterative entries checkpoint per round; their oracles unroll the same
fixed number of rounds in SQL and replay every value exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from whisper_pandas_spark.entries import register, table
from whisper_pandas_spark.stage import stage_materialize


# -- PageRank over the customer<->supplier trade graph ---------------------

_PR_ITERS = 3
_PR_TOPN = 50


def _pagerank_oracle() -> str:
    # doubles forced explicitly: DuckDB parses 0.85 / 1.0 as DECIMAL
    # literals, and (1.0 - 0.85) in decimal is exactly 0.15 while the
    # engine computes the IEEE double 1.0 - 0.85 — cast first so both
    # run the identical float expression.
    tele = "CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)"
    it = []
    for i in range(1, _PR_ITERS + 1):
        it.append(f"""c{i} AS (
  SELECT e.dst AS node, CAST(r.rank / o.od AS DECIMAL(38,12)) AS c
  FROM e JOIN r{i - 1} r ON e.src = r.node JOIN outdeg o ON o.src = e.src
), s{i} AS (
  SELECT node, sum(c) AS s FROM c{i} GROUP BY node
), r{i} AS (
  SELECT n.node,
         ({tele}) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE) * coalesce(CAST(s AS DOUBLE), 0.0) AS rank
  FROM nodes n LEFT JOIN s{i} USING (node)
)""")
    iter_blocks = ",\n".join(it)
    return f"""
WITH base AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), e AS (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
), nodes AS (
  SELECT src AS node FROM e UNION SELECT dst AS node FROM e
), nn AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS od FROM e GROUP BY src),
r0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS rank FROM nodes
),
{iter_blocks}
SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       node // 2 AS key,
       round(rank * (SELECT n FROM nn), 6) AS rank_rel
FROM r{_PR_ITERS} ORDER BY rank DESC, node LIMIT {_PR_TOPN}
"""


@register("graph_pagerank_trade", _pagerank_oracle())
def graph_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph analytics (operators/graph.py:pagerank): 3 power
    iterations over the symmetrized customer<->supplier trade graph
    (edge iff a customer's order has a lineitem from the supplier; ~1.6k
    nodes / ~97k directed edges at sf0.01). Checkpointed per iteration
    (plan constant in iters), DECIMAL(38,12) contribution fold so ranks
    are partition-order independent — which is what lets the oracle
    unroll the identical recursion in SQL. Top-50 by rank, normalized
    so 1.0 = uniform mass."""
    from whisper_pandas_spark.operators.graph import pagerank

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    base = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # symmetrize by union, not explode (measured on the same trade
    # graph — see graph_bfs_distances; round 14)
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iters=_PR_ITERS)
    n = F.lit(pr.count())  # node count for the 1.0-=-uniform rescale
    return (
        pr.orderBy(F.col("rank").desc(), "node")
        .limit(_PR_TOPN)
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("c"))
            .otherwise(F.lit("s"))
            .alias("kind"),
            F.floor(F.col("node") / 2).alias("key"),
            F.round(F.col("rank") * n.cast("double"), 6).alias("rank_rel"),
        )
    )


# -- triangle counting on the co-order part graph --------------------------------


def _co_order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges (src < dst) of the co-order part graph: two parts are
    adjacent iff some order contains both.

    No lineitem self-join (round 14, guide §2.2/§3): collect the
    per-order distinct part set in ONE exchange, then emit ordered pairs
    via a double explode — the self-join form shuffled the 6×|orders|
    line table twice and re-ran per union branch. The pair SET is
    identical; per-order duplicate partkeys only changed the pre-dedup
    multiplicity."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    arr = li.groupBy("l_orderkey").agg(F.collect_set("l_partkey").alias("ps"))
    return (
        arr.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .where(F.col("src") < F.col("dst"))
    )


@register(
    "graph_triangle_count",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a
  JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), deg AS (
  SELECT k, count(*) AS d FROM (
    SELECT u AS k FROM pairs UNION ALL SELECT v AS k FROM pairs)
  GROUP BY k
), ori AS (
  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
  FROM pairs JOIN deg du ON du.k = u JOIN deg dv ON dv.k = v
), tri AS (
  SELECT e1.s AS a, e1.t AS b, e2.t AS c
  FROM ori e1
  JOIN ori e2 ON e2.s = e1.t
  JOIN ori e3 ON e3.s = e1.s AND e3.t = e2.t
), corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, CAST(count(*) AS BIGINT) AS n_tri
FROM corners GROUP BY node
ORDER BY n_tri DESC, node
LIMIT 100
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: degree-oriented triangle counting (operators/graph.py:
    triangle_participation, Suri-Vassilvitskii node-iterator-with-
    ordering) over the co-order part graph — parts appearing in the
    same order are adjacent. The (degree, id) orientation makes every
    out-degree O(sqrt(m)), bounding the wedge join on ANY degree
    distribution — the skew guard that makes triangle counting viable
    at 100 TB. Top-100 nodes by triangle participation, exact
    integers."""
    from whisper_pandas_spark.operators.graph import triangle_participation

    # the operator dedups the canonical edge list, so the pairs'
    # pre-dedup multiplicity is moot
    return (
        triangle_participation(_co_order_edges(spark, sf_dir))
        .orderBy(F.desc("n_tri"), "node")
        .limit(100)
    )


# -- label-propagation communities -------------------------------------------------

_LPA_ROUND = """
, cnt{N} AS (
  SELECT nbr.a AS node, l.label, count(*) AS c
  FROM nbr JOIN l{P} l ON l.node = nbr.b GROUP BY 1, 2
), pick{N} AS (
  SELECT node, min(label) AS new_label FROM (
    SELECT node, label, c, max(c) OVER (PARTITION BY node) AS mx FROM cnt{N}
  ) WHERE c = mx GROUP BY node
), l{N} AS (
  SELECT l.node, coalesce(p.new_label, l.label) AS label
  FROM l{P} l LEFT JOIN pick{N} p ON p.node = l.node
)"""


@register(
    "graph_label_propagation",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), nbr AS (
  SELECT u AS a, v AS b FROM pairs UNION ALL SELECT v AS a, u AS b FROM pairs
), l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM nbr
)"""
    + "".join(_LPA_ROUND.format(N=i, P=i - 1) for i in (1, 2, 3))
    + """
SELECT node, CAST(label AS BIGINT) AS label FROM l3 ORDER BY node
""",
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y+: synchronous label-propagation communities (operators/
    graph.py:label_propagation, Raghavan 2007) over the co-order part
    graph — three rounds, most-frequent neighbor label, ties to the
    SMALLEST label (the deterministic variant of the textbook random
    tie-break), isolated nodes keep their label. The oracle unrolls
    all three rounds in SQL and replays every label bit-for-bit —
    same unrolled-recursion pattern as graph_pagerank_trade."""
    from whisper_pandas_spark.operators.graph import label_propagation

    # label_propagation dedups the symmetrized set before any round
    return label_propagation(_co_order_edges(spark, sf_dir), iters=3).orderBy("node")


# -- multi-source BFS ---------------------------------------------------------

_BFS_HOPS = 3
_BFS_NATION = 1


def _bfs_oracle() -> str:
    blocks = []
    for i in range(1, _BFS_HOPS + 1):
        blocks.append(f"""d{i} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, r.dist + 1 AS dist
    FROM e JOIN d{i - 1} r ON e.src = r.node
  ) GROUP BY node
)""")
    iter_blocks = ",\n".join(blocks)
    return f"""
WITH base AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), e AS (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
), d0 AS (
  SELECT DISTINCT c_custkey * 2 AS node, 0 AS dist
  FROM customer WHERE c_nationkey = {_BFS_NATION}
),
{iter_blocks}
SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       node // 2 AS key,
       CAST(dist AS INT) AS dist
FROM d{_BFS_HOPS}
ORDER BY dist, kind, key
"""


@register("graph_bfs_distances", oracle=_bfs_oracle())
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family +: multi-source BFS (operators/graph.py:
    bfs_distances) — hop distance from ANY nation-{n} customer through
    the symmetrized customer<->supplier trade graph, bounded at 3 hops.
    The engine iterates the FRONTIER formulation (only newly-reached
    nodes join the edge list each round, anti-joined against the known
    set, checkpointed so the plan is constant in the hop bound); the
    oracle unrolls the equivalent Bellman-Ford min-relaxation — equal
    on unit weights, and all-integer, so the driver hash is exact.
    Scale: per round one src-keyed join + one map-side-combined min
    aggregate; the edge list is never re-keyed, so bucketing by src
    makes rounds exchange-free; hub skew is absorbed by the partial
    min."""
    from whisper_pandas_spark.operators.graph import bfs_distances

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cu = table(spark, sf_dir, "customer")
    base = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # Dedup the DIRECTED list, materialize it ONCE, then symmetrize by
    # unioning two reads of the checkpoint (round 15, guide §2.3/§2.4):
    # customers map to even ids and suppliers to odd, so forward pairs
    # can never collide with reversed ones and the union of the two
    # distinct branches IS the distinct symmetrized set — the dedup
    # exchange carries |directed| rows instead of 2x, and neither union
    # branch re-runs the orders-lineitem join (prepared=True skips the
    # operator's own distinct+persist; the checkpoint blocks are what
    # every BFS round re-reads). Union, NOT explode — measured, round
    # 14: explode(array(struct,struct)) pays row expansion, interleaved
    # A/B union 2.96/3.10 vs explode 3.71/3.83 s best/median.
    directed = stage_materialize(
        base.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = cu.where(F.col("c_nationkey") == _BFS_NATION).select(
        (F.col("c_custkey") * 2).alias("node")
    )
    dist = bfs_distances(edges, sources, max_hops=_BFS_HOPS, prepared=True)
    return dist.select(
        F.when(F.col("node") % 2 == 0, F.lit("c"))
        .otherwise(F.lit("s"))
        .alias("kind"),
        F.floor(F.col("node") / 2).alias("key"),
        F.col("dist").cast("int").alias("dist"),
    ).orderBy("dist", "kind", "key")


# -- k-core decomposition ------------------------------------------------------

_KCORE_K = 40
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    k, r = _KCORE_K, _KCORE_ROUNDS
    blocks = []
    for i in range(1, r):
        blocks.append(f"""e{i} AS (
  SELECT e.src, e.dst FROM e
  JOIN a{i - 1} s ON e.src = s.node JOIN a{i - 1} t ON e.dst = t.node
), a{i} AS (
  SELECT src AS node, count(*) AS deg FROM e{i}
  GROUP BY src HAVING count(*) >= {k}
)""")
    iter_blocks = ",\n".join(blocks)
    return f"""
WITH base AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), e AS (
  SELECT src, dst FROM base UNION SELECT dst, src FROM base
), a0 AS (
  SELECT src AS node, count(*) AS deg FROM e
  GROUP BY src HAVING count(*) >= {k}
),
{iter_blocks}
SELECT CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END AS kind,
       node // 2 AS key,
       CAST(deg AS INT) AS deg
FROM a{r - 1}
ORDER BY kind, key
"""


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph family +: k-core decomposition (operators/graph.py:kcore) —
    synchronous peeling of the symmetrized trade graph: delete every
    node with fewer than {k} distinct surviving neighbors, recount,
    repeat.  The deletion-based monotone fixpoint is the iterative
    shape pagerank (mass propagation), LPA (label voting), and BFS
    (min relaxation) don't exercise.  The engine stops early at a
    fixpoint (survivor counts stop shrinking); the oracle unrolls the
    full round budget — equal by monotonicity, since converged rounds
    are no-ops.  All-integer, hash-exact.  Scale: each round is one
    map-side-combined degree count over the surviving edge list plus
    two semi-joins against the (shrinking, broadcastable) survivor
    table; the edge list is filtered, never re-keyed."""
    from whisper_pandas_spark.operators.graph import kcore

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    base = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    # symmetrize by union, not explode (measured — see
    # graph_bfs_distances above; round 14)
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cores = kcore(edges, k=_KCORE_K, max_rounds=_KCORE_ROUNDS)
    return cores.select(
        F.when(F.col("node") % 2 == 0, F.lit("c"))
        .otherwise(F.lit("s"))
        .alias("kind"),
        F.floor(F.col("node") / 2).alias("key"),
        "deg",
    ).orderBy("kind", "key")
