"""Graph analytics operators (capability extension).

The reference era treated graph algorithms as chained MapReduce jobs
(triangle counting and PageRank were the canonical examples in the
MapReduce literature); here each is a declarative join/agg plan.
Connected components (pointer jumping) lives in
:mod:`hadoop_main_spark.operators.dedup` next to its dedup consumer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_main_spark.operators.checkpoints import ckpt_rdd_id, run_checkpoint, unpersist_rdd


def canonical_edges(df: DataFrame, src: str, dst: str) -> DataFrame:
    """Undirected edge list normalized to (a < b), self-loops dropped,
    duplicates collapsed — the precondition every edge algorithm below
    assumes."""
    a = F.least(F.col(src), F.col(dst)).alias("a")
    b = F.greatest(F.col(src), F.col(dst)).alias("b")
    return df.select(a, b).filter(F.col("a") != F.col("b")).distinct()


def triangle_count(edges: DataFrame) -> DataFrame:
    """Total triangle count over an undirected graph, degree-oriented.

    Edges are ORIENTED from the (degree, node)-smaller endpoint to the
    larger before the wedge join — the standard scale trick (each
    oriented out-degree is O(sqrt(m)) on any graph, so the wedge set
    stays near-linear even with hub nodes; id-oriented wedges explode
    quadratically on a hub). Then triangles = oriented wedges
    (u->v, u->w) whose closing edge (v->w) exists — two equi-joins,
    no cartesian anywhere. Deterministic: the orientation tie-breaks
    on the node key itself, so any engine reproduces it exactly.

    Input: canonical (a, b) edges (see :func:`canonical_edges`).
    Output: one row, ``n_triangles`` (each triangle counted once).
    """
    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # orient: keep each edge as (lo -> hi) under the (degree, node)
    # total order. Joins on the node key are vocabulary-sized — no
    # broadcast hints (the tfidf discipline).
    e = (
        edges.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("w")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("w")))
            .alias("e")
        )
        .select("e.u", "e.w")
    )
    # each triangle has EXACTLY one wedge: at its orientation-minimum
    # vertex, with the (v1 < v2) key constraint picking one ordered
    # pair. The closing probe joins the CANONICAL key-ordered edge
    # list directly (wedge pairs are key-ordered by construction) —
    # no second orientation pass.
    wedges = e.alias("e1").join(
        e.alias("e2"),
        (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.w") < F.col("e2.w")),
    ).select(F.col("e1.w").alias("v1"), F.col("e2.w").alias("v2"))
    closed = wedges.join(
        edges.select(F.col("a").alias("v1"), F.col("b").alias("v2")), ["v1", "v2"]
    )
    return closed.agg(F.count("*").cast("bigint").alias("n_triangles"))


def pagerank_int(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 2,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank with damping 0.85 in EXACT integer arithmetic: ranks
    live in BIGINT ``scale``-units and every step is integer division
    (``div``, truncating — values are non-negative so it equals the
    oracle's flooring ``//``), so iterated ranks are BIT-IDENTICAL
    across engines — the kmeans_centroids micro-grid discipline; a
    float PageRank drifts by ulps per iteration and can flip top-k
    order. Mass lost to the floors is deterministic and identical in
    both engines (and vanishes at scale=1e12 relative to rank gaps).

    ``edges``: directed (src, dst), deduplicated, no self-loops.
    ``nodes``: one ``v`` row per node (dangling nodes keep the base
    rank; their mass is not redistributed — the standard simplified
    formulation, stated here so the oracle matches by construction).

    Scale shape: each iteration is one (src-keyed) contribution join +
    one (dst-keyed) partial-agg shuffle — the textbook distributed
    PageRank step; node-count and per-iteration tables never collect
    to the driver (the node total rides as a one-row broadcast).
    """
    base_num = 15 * scale // 100
    ntot = nodes.agg(F.count("*").alias("__n"))
    outdeg = edges.groupBy("src").agg(F.count("*").alias("__d"))
    r = nodes.crossJoin(F.broadcast(ntot)).select(
        "v", F.expr(f"{scale} div __n").alias("__r")
    )
    for _ in range(iterations):
        contrib = (
            edges.join(outdeg, "src")
            .join(r.select(F.col("v").alias("src"), "__r"), "src")
            .select(F.col("dst").alias("v"), F.expr("__r div __d").alias("__c"))
        )
        summed = contrib.groupBy("v").agg(F.sum("__c").alias("__s"))
        r = (
            nodes.join(summed, "v", "left")
            .crossJoin(F.broadcast(ntot))
            .select(
                "v",
                (
                    F.expr(f"{base_num} div __n")
                    + F.expr("(85 * coalesce(__s, 0)) div 100")
                ).alias("__r"),
            )
        )
    return r.select("v", F.col("__r").alias("rank"))


def bfs_distances(
    edges: DataFrame, sources: DataFrame, max_hops: int = 6
) -> DataFrame:
    """Multi-source BFS shortest hop distances — the other classic
    chained-MapReduce graph benchmark beside PageRank (the
    single-source-shortest-paths pattern every MapReduce graph text
    unrolls; GraphFrames ships it as ``shortestPaths`` landmarks).
    ``edges``: directed (src, dst) deduplicated; ``sources``: one
    ``lm`` row per landmark. Returns (lm, v, dist) for every node
    reachable within ``max_hops`` (dist 0 = the landmark itself).

    Shape: ``max_hops`` unrolled rounds of ONE frontier-keyed equi-join
    + one (lm, v) min partial-agg — no state beyond the distance
    table, lineage flattened per round (the connected-components
    localCheckpoint discipline, eager=False so unexecuted branches
    cost nothing)."""
    dist = sources.select(F.col("lm"), F.col("lm").alias("v"), F.lit(0).alias("dist"))
    for h in range(1, max_hops + 1):
        frontier = dist.filter(F.col("dist") == h - 1)
        step = (
            frontier.join(edges, frontier["v"] == edges["src"])
            .select("lm", F.col("dst").alias("v"), F.lit(h).alias("dist"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("lm", "v")
            .agg(F.min("dist").alias("dist"))
            .transform(run_checkpoint)
        )
    return dist


def kcore(
    edges: DataFrame,
    k: int | None = None,
    mean_frac: tuple[int, int] = (5, 8),
    max_rounds: int = 64,
) -> DataFrame:
    """The k-CORE of an undirected graph: the maximal subgraph where
    every node has degree >= k — the standard web/host-graph trimming
    pass (peel leaves and near-leaves before expensive link analysis;
    Common Crawl host-graph releases publish exactly this cut) and
    the densest-region prefilter for community detection.

    Iterative peel (Matula & Beck 1983 distributed form): each round
    computes degrees in ONE union+partial-agg shuffle, drops nodes
    below k with two semi-joins, and stops at the fixpoint (the
    surviving-edge count is the monotone convergence measure — it
    only shrinks, so equal counts == converged). Peeling removes
    WHOLE frontiers per round, so round count is bounded by the
    graph's degeneracy ordering depth, not node count (single-digit
    on web/token graphs). Frontier localCheckpoints per round with
    superseded blocks released (the connected-components discipline);
    the query run owns the surviving frontier.

    ``edges``: canonical (a < b) undirected, deduplicated (the
    :func:`canonical_edges` contract). Returns (v, core_degree) for
    every node in the k-core, core_degree = its degree WITHIN the
    core (>= k by construction).

    ``k=None`` derives the threshold from the graph's own mean
    degree, k = (mean_frac[0] * (2|E| div |V|)) div mean_frac[1] —
    a FIXED k either peels nothing or everything as the corpus
    scales; the fraction keeps the cut discriminative at any sf.
    The stats ride the FIRST round's degree table (one action, no
    separate counting pass), and each round's convergence count is
    the action that materializes its lazy checkpoint — one job per
    round total.
    """

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("v"))
            .unionByName(e.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count("*").alias("dg"))
        )

    cur = edges.select("a", "b").localCheckpoint(eager=False)
    prev_rid = ckpt_rdd_id(cur)
    prev_n = None
    for _ in range(max_rounds):
        deg = degrees(cur)
        if prev_n is None:
            # one action: |E| (= sum(dg)/2) and |V| off the degree
            # table that round 0 consumes anyway — lazily checkpointed
            # so the stats pass and round 0's keep-filter share ONE
            # materialization (released after the round)
            deg = deg.localCheckpoint(eager=False)
            deg_rid = ckpt_rdd_id(deg)
            s = deg.agg(
                F.sum("dg").alias("__s"), F.count("*").alias("__c")
            ).first()
            if not s["__c"]:
                return degrees(cur).select(
                    "v", F.col("dg").cast("bigint").alias("core_degree")
                )
            prev_n = int(s["__s"]) // 2
            if k is None:
                k = (mean_frac[0] * ((2 * prev_n) // int(s["__c"]))) // mean_frac[1]
        else:
            deg_rid = None
        keep = deg.filter(F.col("dg") >= k).select("v")
        nxt = (
            cur.join(keep.withColumnRenamed("v", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .transform(run_checkpoint)
        )
        created = ckpt_rdd_id(nxt)
        n = nxt.count()  # materializes the lazy checkpoint
        unpersist_rdd(edges, prev_rid)
        if deg_rid is not None:
            unpersist_rdd(edges, deg_rid)
        prev_rid = created
        cur = nxt
        if n == prev_n:
            break
        prev_n = n
    else:
        raise ValueError(f"k-core peel did not converge in {max_rounds} rounds")
    return degrees(cur).select("v", F.col("dg").cast("bigint").alias("core_degree"))


def hits_int(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 2,
    scale: int = 10**6,
) -> DataFrame:
    """HITS hubs/authorities (Kleinberg JACM'99) in EXACT integer
    arithmetic — the link-analysis scorer beside :func:`pagerank_int`.

    Kleinberg normalizes by the L2 norm; that needs a square root, so
    iterated floats drift by ulps and can flip top-k order across
    engines. This form normalizes by the L-INFINITY norm instead —
    after each half-step the maximum score is rescaled to exactly
    ``scale`` via one BIGINT multiply and one truncating ``div`` —
    which preserves Kleinberg's fixpoint direction (any p-norm does;
    the iteration converges to the principal eigenvectors of A^T A /
    A A^T either way) while every intermediate stays a BIGINT that
    both engines compute bit-identically (the pagerank_int / kmeans
    micro-grid discipline).

    Overflow is guarded LOUDLY, not wrapped: raw sums are bounded by
    in-degree * ``scale``, and any raw value whose rescale multiply
    would exceed int64 raises (non-ANSI Spark would otherwise wrap
    silently to a WRONG answer — the autocorr_user_value lesson; the
    DuckDB oracle errors loudly on the same bound by construction).
    At the default scale=1e6 the guard admits in-degrees up to ~9.2e6.

    ``edges``: directed (src, dst), deduplicated, no self-loops.
    ``nodes``: one ``v`` row per node.  Returns (v, auth, hub).

    Scale shape: each half-iteration is ONE edge-keyed join + ONE
    partial-agg shuffle (identical to the distributed PageRank step);
    the L-inf max rides as a one-row broadcast; nothing collects to
    the driver.
    """
    bound = (2**63 - 1) // scale

    def _normalize(raw: DataFrame, col: str, out: str) -> DataFrame:
        m = raw.agg(F.max(col).alias("__m"))
        return (
            nodes.join(raw, "v", "left")
            .crossJoin(F.broadcast(m))
            .select(
                "v",
                F.when(
                    F.coalesce(F.col(col), F.lit(0)) > bound,
                    F.raise_error(
                        f"hits_int: raw score exceeds int64 rescale "
                        f"bound {bound} at scale {scale}"
                    ).cast("bigint"),
                )
                .when(
                    F.coalesce(F.col("__m"), F.lit(0)) <= 0, F.lit(0)
                )
                .otherwise(
                    F.expr(
                        f"(coalesce({col}, 0) * cast({scale} as bigint))"
                        " div __m"
                    )
                )
                .cast("bigint")
                .alias(out),
            )
        )

    h = nodes.select("v", F.lit(scale).cast("bigint").alias("__h"))
    a = nodes.select("v", F.lit(0).cast("bigint").alias("__a"))
    for _ in range(iterations):
        a_raw = (
            edges.join(h.select(F.col("v").alias("src"), "__h"), "src")
            .groupBy(F.col("dst").alias("v"))
            .agg(F.sum("__h").alias("__ar"))
        )
        a = _normalize(a_raw, "__ar", "__a")
        h_raw = (
            edges.join(a.select(F.col("v").alias("dst"), "__a"), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.sum("__a").alias("__hr"))
        )
        h = _normalize(h_raw, "__hr", "__h")
    return (
        a.join(h, "v")
        .select("v", F.col("__a").alias("auth"), F.col("__h").alias("hub"))
    )
