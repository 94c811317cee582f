"""Iterative graph analytics over edge DataFrames (pipeline extension).

The reference (`whisper_pandas.py`) has no graph surface; this module
extends the engine with the iterative-propagation shape that
training-data curation needs beyond connected components
(operators/components.py) — e.g. ranking crawl hosts by link authority
before sampling, or weighting near-dup clusters by centrality.

Design points (all shared with operators/kmeans.py, the other iterative
trainer):

- **Checkpointed iterations.** Every Lloyd-style round ends in an eager
  stage barrier (``stage.stage_materialize``) so the downstream plan
  holds ONE iteration's operators over a materialized rank table —
  constant in ``iters`` instead of compounding (the kmeans change
  measured 17 -> 5 exchanges).
- **Partition-order-independent arithmetic.** Per-edge contributions are
  cast to DECIMAL(38,12) before the per-node sum, so the fold is exact
  and the result is bit-identical under any partitioning — the same
  trick the BM25 scorer (operators/textrank.py) and bigram LM
  (operators/lm.py) use, which is what lets a SQL oracle replay the
  whole recursion value-for-value.
- **Literal-for-literal teleport.** ``(1.0 - damping) / n`` is built
  from the same double literals the oracle writes, not pre-computed in
  Python (``1 - 0.85`` != the double ``0.15``), so both engines run the
  identical IEEE expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from whisper_pandas_spark.stage import stage_materialize


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list.

    Returns (node, rank) for every node appearing as a source or
    destination. Ranks after ``iters`` synchronous power iterations from
    a uniform start; nodes with no in-edges hold the teleport mass,
    nodes with no out-edges simply don't contribute (their mass is not
    redistributed — the simplified dangling rule; symmetrize the edge
    list for undirected graphs and there are no dangling nodes at all).

    Scale: per iteration ONE shuffle — the contribution aggregation
    keyed on ``dst`` (partial-agg/map-side combined since it's a sum).
    The rank and outdegree tables are node-sized (orders of magnitude
    smaller than the edge list); the edge list itself is scanned once
    per iteration and never re-keyed, so co-partitioning edges by
    ``src`` up front (bucketed write) makes the rank join shuffle-free
    on a real cluster. Skewed in-degree (every crawl graph) is absorbed
    by the partial aggregation — hot destinations combine map-side.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .distinct()
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # edge list annotated with its source's outdegree once — re-used
    # every iteration (rank is the only moving part)
    eo = e.join(outdeg, "src").persist()
    teleport = (F.lit(1.0) - F.lit(damping)) / F.lit(n)
    ranks = stage_materialize(nodes.withColumn("rank", F.lit(1.0) / F.lit(n)))
    for _ in range(iters):
        contrib = eo.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select(
            F.col("dst").alias("node"),
            (F.col("rank") / F.col("od")).cast("decimal(38,12)").alias("c"),
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = nodes.join(sums, "node", "left").select(
            "node",
            (
                teleport
                + F.lit(damping)
                * F.coalesce(F.col("s").cast("double"), F.lit(0.0))
            ).alias("rank"),
        )
        ranks = stage_materialize(ranks)
    for cached in (e, nodes, eo):
        cached.unpersist()
    return ranks


def triangle_participation(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts via degree-oriented wedge closing.

    The standard scalable formulation (Suri-Vassilvitskii "node-iterator
    with ordering", WWW'11; Cohen's MapReduce triangle counting): treat
    the graph as undirected simple (dedupe + canonicalize), then orient
    every edge from its (degree, id)-SMALLER endpoint to the larger.
    Each triangle then appears as exactly ONE closed wedge
    (e1: a->b, e2: b->c, e3: a->c), and every node's out-degree is
    O(sqrt(m)) on any graph, so the wedge join — the only superlinear
    step — is bounded by sum od^2 <= m * sqrt(m) instead of the
    unoriented sum deg^2, which a single hub can blow up quadratically.
    That orientation IS the skew guard; the joins themselves are plain
    equi-joins Catalyst shuffles on the wedge pivot and closes with a
    broadcast-or-shuffle join on the (a, c) pair.

    Returns (node, n_tri) — each triangle credits all three corners —
    exact integers, so a SQL oracle replays it verbatim.
    """
    und = stage_materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        # The canonical edge list feeds the degree build (twice) and the
        # orientation join; materialize it once (edge-list-sized — the
        # standard practice for distributed triangle counting) instead
        # of re-deriving the upstream pair-generation 3x.
    )
    deg = (
        und.select(F.col("u").alias("k"))
        .unionAll(und.select(F.col("v").alias("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("k").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("k").alias("v"), F.col("d").alias("dv"))
    first_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    ori = stage_materialize(
        und.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(first_u, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(first_u, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        # Scanned three times by the wedge join below — same rationale.
    )
    e1 = ori.select(F.col("s").alias("a"), F.col("t").alias("b"))
    e2 = ori.select(F.col("s").alias("b"), F.col("t").alias("c"))
    e3 = ori.select(F.col("s").alias("a2"), F.col("t").alias("c2"))
    tri = (
        e1.join(e2, "b")
        .join(e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")))
        .select("a", "b", "c")
    )
    # ONE pass over the (potentially huge) triangle stream: explode the
    # three corners per row instead of unioning three re-computations.
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count(F.lit(1)).alias("n_tri"))


def label_propagation(
    edges: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et
    al. 2007, the GraphX/GraphFrames LPA variant): every node starts in
    its own community (label = node id); each round every node adopts
    the most frequent label among its neighbors, ties broken to the
    SMALLEST label — the deterministic tie-break that makes the whole
    run (and therefore a SQL replay of it) bit-reproducible, where the
    textbook random tie-break is not. Isolated nodes keep their label.

    Scale shape (round 15): the symmetrized edge list is hash-partitioned
    on the neighbor key ONCE (repartition(b) + persist — the cached plan
    keeps that HashPartitioning), and each round pays exactly TWO
    exchanges, one node-sized and one edge-sized:

    - the label table (node-sized) moves to the edge layout for a
      SHUFFLE_HASH join — build side is the per-partition slice of the
      node-sized label table, so no sort of the edge cache or the label
      table (the former sort-merge join re-sorted the 2|E| cache every
      round, guide §3.1);
    - the joined (node, label) stream repartitions on ``node`` alone,
      and BOTH aggregates of the pick run on that one exchange:
      HashPartitioning(node) satisfies ClusteredDistribution(node, label)
      for the count and ClusteredDistribution(node) for the argmax, so
      neither adds an exchange (guide §2.4 — compatibly-keyed operations
      share one exchange; measured 1.09 -> 0.70 s per round at sf0.1).
      The pick is ``min_by(label, struct(-c, label))`` — a struct-keyed
      min is a SortAggregate (struct agg buffers are not hash-mutable),
      but with the exchange fused away its sort is partition-local over
      the per-node count table. (``mode(label, deterministic=true)``
      would fuse count+pick into one function but is a
      TypedImperativeAggregate whose ObjectHashAggregate falls back to
      sort-based aggregation past 128 groups per partition — measured
      4-10x slower on a 200k-node graph, round 14.)

    Round 1 needs neither the join nor the count: every neighbor label
    is its node id and the edge set is deduped, so every (node, label)
    count is exactly 1 and "most frequent, ties to smallest" collapses
    to ``min(neighbor)`` — one map-side-combined hash aggregate.

    Labels pass a stage barrier per round so plan depth is constant in
    `iters`, the same discipline as pagerank/kmeans above. Synchronous
    LPA on bipartite-ish structures can oscillate — callers pick `iters`
    (small, as recommended in the paper) rather than iterate to
    convergence.

    Returns (node, label) — nodes sharing a label after `iters` rounds
    are one community.
    """
    und = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).where(F.col("u") != F.col("v"))
    shp = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    # persist (not a stage barrier): rounds 2..n re-read the cache, and
    # the 2|E| blocks are freed before returning instead of leaking in
    # the block manager until the ContextCleaner runs (bfs_distances
    # discipline); round 1 materializes it lazily inside its own job.
    #
    # ONE edge-sized exchange in the build: the exploded directed edge
    # stream (both orientations out of one pass over the caller's frame
    # — a unionAll would re-evaluate the possibly join- or
    # aggregate-shaped edge derivation once per branch, round 14, guide
    # §2.4) repartitions on the join key b, and the dedup runs ON that
    # layout — HashPartitioning(b) satisfies ClusteredDistribution(a, b)
    # (b is a subset of the grouping keys), so dropDuplicates adds no
    # second exchange where a distinct-then-repartition would pay two.
    # The symmetrized-set result is identical either way: dup (u, v)
    # pairs from multiple co-occurrences collapse after the union
    # instead of before it, and each (u, v) emits exactly (u→v, v→u).
    both = (
        und.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("a"), F.col("v").alias("b")
                    ),
                    F.struct(
                        F.col("v").alias("a"), F.col("u").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .repartition(shp, "b")
        .dropDuplicates(["a", "b"])
        .persist()
    )
    labels: DataFrame | None = None
    for i in range(iters):
        if labels is None:
            # first round: every neighbor's label IS its node id and the
            # edge set is deduped, so every (node, label) count is 1 and
            # the argmax-with-min-tie-break IS min(neighbor) — one
            # map-side-combined hash aggregate, no join, no count table.
            pick = both.groupBy(F.col("a").alias("node")).agg(
                F.min("b").alias("label")
            )
            labels = stage_materialize(pick)
            continue
        # node-sized build side hash-joins against the cached edge
        # layout — no sort of either side (the SMJ alternative re-sorts
        # the 2|E| cache every round)
        nbr = both.join(
            labels.select(F.col("node").alias("b"), "label").hint(
                "shuffle_hash"
            ),
            "b",
        ).select("a", "label")
        # argmax-count / min-label-on-tie over ONE shared exchange: the
        # joined stream repartitions on the node key alone, and both
        # aggregates below run on that layout (HashPartitioning(node)
        # satisfies ClusteredDistribution(node, label) as well as
        # ClusteredDistribution(node) — guide §2.4). Minimizing
        # (-c, label) maximizes c with ties to the smallest label.
        cnt = (
            nbr.repartition(shp, "a")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pick = cnt.groupBy("node").agg(
            F.min_by("label", F.struct(-F.col("c"), F.col("label"))).alias(
                "label"
            )
        )
        # pick covers EVERY node by construction: nodes derive from the
        # edge endpoints, so each has >= 1 neighbor and therefore >= 1
        # neighbor-label row — no per-round left-join-coalesce needed.
        labels = stage_materialize(pick)
    if labels is None:  # iters == 0: every node keeps its own label
        nodes = both.select(F.col("a").alias("node")).distinct()
        return nodes.select("node", F.col("node").alias("label"))
    # the final labels are checkpoint-materialized (lineage cut), so the
    # edge cache can be released before the caller ever runs an action
    both.unpersist()
    return labels


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    prepared: bool = False,
) -> DataFrame:
    """Multi-source BFS hop distances, bounded at ``max_hops``.

    ``prepared=True``: the caller guarantees ``edges`` is already
    distinct AND cheap to re-scan (e.g. a union of stage barriers), so
    the internal distinct+persist is skipped — the round-15 path for
    callers that dedup the DIRECTED list before symmetrizing
    (half the dedup exchange, and the union branches read materialized
    blocks instead of re-running the edge derivation per round).

    Returns (node, dist INT) for every node reachable from any source
    within ``max_hops`` edge traversals — dist 0 for the sources
    themselves, and the MINIMUM hop count otherwise (synchronous
    level-by-level relaxation, so the bound is exact, not approximate).
    Nodes not reached within the bound are absent from the output.

    The iteration is the frontier formulation: only nodes discovered in
    round i-1 (the frontier) join the edge list in round i, so each
    round's join input is the newly-reached set, not the whole distance
    table — on a graph with small diameter the frontier collapses to
    empty and later rounds are no-ops over zero rows. All arithmetic is
    integer (hop counts), which is what lets a SQL oracle unroll the
    identical relaxation and hash-match bit-for-bit.

    Scale: per round ONE shuffle — the neighbor expansion keyed on the
    join key (node-sized frontier broadcast when stats allow, verified
    in the sf plans) — plus a node-keyed min-aggregate that partial-
    aggregates map-side (hot hubs combine before the exchange). The
    distance table is node-sized; the edge list is scanned once per
    round and never re-keyed, so bucketing edges by ``src`` makes the
    frontier join exchange-free on a real cluster. ONLY the frontier
    passes a stage barrier per round: the hop levels are disjoint by
    construction, so the final distance table is assembled as one union
    of the materialized frontiers instead of re-materializing a growing
    copy of the whole table every round (round 14 — halves the barrier
    jobs, and the anti-join reads the same materialized blocks).
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    if not prepared:
        e = e.distinct().persist()
    frontier = stage_materialize(
        sources.select(F.col(node).cast("long").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )
    frontiers = [frontier]
    seen = frontier.select("node")
    for _ in range(max_hops):
        reached = (
            e.join(
                frontier.select(F.col("node").alias("src"), "dist"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg((F.min("dist") + F.lit(1)).cast("int").alias("dist"))
        )
        frontier = stage_materialize(reached.join(seen, "node", "left_anti"))
        frontiers.append(frontier)
        seen = seen.unionByName(frontier.select("node"))
    if not prepared:
        e.unpersist()
    dist = frontiers[0]
    for f in frontiers[1:]:
        dist = dist.unionByName(f)
    return dist


def kcore(
    edges: DataFrame,
    k: int,
    max_rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by synchronous peeling, bounded at
    ``max_rounds``.

    Returns (node, deg INT): the nodes surviving ``max_rounds`` rounds of
    "delete every node whose distinct-neighbor degree is below k", with
    the degree the final round FILTERED on (the pre-peel degree of that
    round) — at the fixpoint this IS the degree inside the surviving
    subgraph; under a truncated budget it is the last decision basis
    (pinned in tests/test_round11.py on a 10k-leaf star). Pass a
    SYMMETRIZED edge
    list for undirected cores (degree counts out-neighbors). Because the
    peel is monotone (survivor sets only shrink) and a converged round
    is a no-op, running MORE rounds than needed never changes the
    output — the engine may stop early at a fixpoint while a SQL oracle
    unrolls the full ``max_rounds``, and both agree. Rounds beyond
    convergence cost nothing (the survivor set is already stable).

    Scale: each round is one groupBy(src) count over the surviving edge
    list plus two semi-joins against the node-sized survivor table —
    broadcastable once peeling shrinks it; the edge list is re-filtered,
    never re-keyed, so bucketing by src keeps every round's aggregation
    exchange-free. Checkpointed per round (plan constant in rounds).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if max_rounds < 1:
        raise ValueError("max_rounds must be >= 1")
    e = (
        edges.select(
            F.col(src).cast("long").alias("src"),
            F.col(dst).cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    alive = stage_materialize(
        deg.where(F.col("deg") >= k).select("src", "deg")
    )
    prev_n = alive.count()
    for _ in range(max_rounds - 1):
        nodes = alive.select(F.col("src").alias("n"))
        ee = e.join(
            nodes.withColumnRenamed("n", "src"), "src", "left_semi"
        ).join(nodes.withColumnRenamed("n", "dst"), "dst", "left_semi")
        deg = ee.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        alive = stage_materialize(
            deg.where(F.col("deg") >= k).select("src", "deg")
        )
        n = alive.count()
        if n == prev_n:
            break  # fixpoint: further rounds are no-ops
        prev_n = n
    e.unpersist()
    return alive.select(
        F.col("src").alias("node"), F.col("deg").cast("int").alias("deg")
    )
