"""Link-graph rank propagation — integer-exact distributed PageRank.

Why it belongs in a training-data pipeline: domain/page authority is a
standard web-corpus curation signal (crawl frontiers and corpus filters
weight URLs by link-graph centrality; the domain layer in operators/web.py
produces exactly the (src_domain, dst_domain) edges this consumes).  The
reference repo has no graph operator at all — this extends the existing
graph family (connected components, triangles in operators/dedup.py /
__spark_entry__) with the canonical iterative one.

Why INTEGER arithmetic: float PageRank sums are order-dependent (a
different partitioning yields different last-ulp results), which breaks
cross-engine verification.  Ranks here are BIGINT "micro-rank" units:
each round is

    r'(v) = (100 - d)·SCALE // 100  +  d · Σ_{u→v} (r(u) // outdeg(u)) // 100

— floor division and integer sums only, so the result is bit-identical
across engines, partitionings, and row orders, and a DuckDB oracle can
unroll the rounds as CTEs (the q_kmeans_assign / q_train_classifier
pattern).  Floor losses bias each rank down by < outdeg + 1 units per
round — at SCALE = 10^12 that is a 1e-9 relative artifact, far below any
ranking-relevant difference.  Dangling nodes (no out-edges) leak their
mass, the standard simplification of non-matrix implementations.

Exactness boundary: hub in-sums are accumulated in DECIMAL(38,0) — a
BIGINT sum wraps silently past 2^63, reachable for a hub with ~9.2M
full-rank in-links at the default scale — and a final rank that would
overflow the BIGINT output column raises loudly (lower `scale` for
graphs whose node count × scale approaches 2^63) instead of wrapping.

Scale shape (100 TB of edges): per round, ONE shuffle keyed by src (rank
table ⋈ edges; both sides hash-partition on the same uniform key) and ONE
shuffle keyed by dst (the in-sum groupBy, map-side partial combine
absorbing hub fan-in).  The edge table is materialized ONCE into executor
block storage (one edge-sized localCheckpoint write, MEMORY_AND_DISK) so
the rounds read the checkpoint instead of re-executing the edge source's
upstream plan rounds+2 times — provision executor storage for one copy of
the (2-column, pruned) edge list plus the node-sized rank/degree tables.
The per-round state is the node-sized rank table, checkpointed between
rounds (ckpt.next_round) — rounds compose the plan, the driver never
touches row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import fixpoint, free_local_checkpoint, next_round


def out_degrees(edges: DataFrame, src: str = "src") -> DataFrame:
    return edges.groupBy(F.col(src).alias("node")).agg(
        F.count("*").alias("outdeg")
    )


def pagerank(
    edges: DataFrame,
    rounds: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) after `rounds` integer-exact power-iteration rounds
    over the directed edge list; every node starts at `scale` units and
    the damping term is the integer percentage `damping_pct`."""
    # one materialization of the (possibly derived) edge list, node set
    # and degree table instead of per-round re-executions of their
    # upstream plans: every round's in-sum join re-reads edges, and every
    # round's left join / contrib join re-reads nodes / deg — without
    # checkpoints a `rounds`-round run re-scans the edge source rounds+2
    # times and re-aggregates the node set each round (label-prop CC
    # pins its edge table the same way).  All three stay live under the
    # returned plan, so they are never freed here; loop consumers release
    # them between calls via ckpt.free_session_litter (bench.py does).
    edges = edges.select(F.col(src), F.col(dst)).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = out_degrees(edges, src).localCheckpoint(eager=True)
    base = (100 - damping_pct) * scale // 100
    ranks = nodes.select("node", F.lit(scale).cast("bigint").alias("rank"))
    ranks_cp = None
    for _ in range(rounds):
        ranks = ranks_cp = next_round(ranks, ranks_cp)
        # SQL DIV, not `/`: Spark's `/` on bigints routes through DOUBLE,
        # which silently loses exactness past 2^53 — DIV stays integral
        # (and equals DuckDB `//` on the non-negative values here)
        contrib = ranks.join(deg, "node").select(
            F.col("node").alias(src),
            F.expr("rank DIV outdeg").alias("_c"),
        )
        insum = (
            edges.join(contrib, src)
            .groupBy(F.col(dst).alias("node"))
            # decimal(38,0) accumulator, NOT bigint: a hub's in-sum is
            # bounded only by total mass ≈ n_nodes·scale, which passes
            # 2^63 around 9.2M full-rank in-links at the default scale —
            # a bigint sum would wrap silently there.  decimal holds to
            # 10^38 (≈10^26 nodes at scale 10^12, beyond any graph).
            .agg(F.sum(F.col("_c").cast("decimal(38,0)")).alias("_in"))
        )
        # largest _in whose damped quotient still fits the bigint rank:
        # quotient ≤ cap  ⟺  _in ≤ (100·cap + 99) // damping_pct
        cap = (1 << 63) - 1 - base
        thresh = (100 * cap + 99) // damping_pct
        damped = F.expr(
            f"(CAST({damping_pct} AS DECIMAL(38,0))"
            f" * coalesce(_in, CAST(0 AS DECIMAL(38,0)))) DIV 100"
        )
        ranks = nodes.join(insum, "node", "left").select(
            "node",
            F.when(
                F.coalesce(F.col("_in"), F.expr("CAST(0 AS DECIMAL(38,0))"))
                > F.expr(f"CAST('{thresh}' AS DECIMAL(38,0))"),
                F.raise_error(F.lit("pagerank rank overflows BIGINT: lower `scale`")),
            )
            .otherwise(F.lit(base) + damped)
            .alias("rank"),
        )
    return ranks


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 5,
    src: str = "src",
    dst: str = "dst",
    directed: bool = True,
) -> DataFrame:
    """(node, dist) — minimal hop distance from ANY source node, for every
    node reachable within `max_hops` hops (multi-source BFS; unreached
    nodes are absent, sources themselves are dist 0).

    Completes the graph family (connected components, triangles,
    PageRank) with the reachability primitive: crawl-frontier depth,
    link-distance-from-seed-list corpus weighting, and bounded lineage
    queries beyond the fixed 2-hop form (q_two_hop_lineage).

    Level-synchronous, so minimality is structural (a node is first seen
    at exactly its minimal hop count, never relaxed afterwards): per
    round, ONE shuffle keyed by src joins the frontier to the edge list,
    a distinct on the discovered nodes, and ONE anti-join against the
    visited set keeps only first-time nodes.  State is node-sized; each
    round's new slice is localCheckpointed (the kmeans/pagerank round
    pattern) so the plan stays flat across rounds.  Rounds stop early on
    an empty frontier, counted by the checkpoint's own job (no extra
    job).  The (possibly derived) edge table is materialized ONCE at
    entry instead of re-executing its upstream plan every hop, and freed
    before return — the result union reads only the per-hop checkpoints,
    never the edge table itself.

    `sources`' FIRST column is the seed node id; duplicates are fine.
    NULL endpoints and NULL seeds are dropped up front: a NULL is not a
    node id, and the null-UNSAFE anti-join would otherwise "re-discover"
    a NULL every round, emitting one duplicate row per hop.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if not directed:
        e = e.unionByName(
            edges.select(F.col(dst).alias("_s"), F.col(src).alias("_d"))
        )
    e = e.filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
    e = e.localCheckpoint(eager=True)
    dist = (
        sources.select(F.col(sources.columns[0]).alias("node"))
        .filter(F.col("node").isNotNull())
        .distinct()
        .select("node", F.lit(0).cast("int").alias("dist"))
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        # prev=None: every slice is read by the returned union
        nxt, (n, _h) = next_round(
            frontier.join(e, frontier["node"] == e["_s"])
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .select("node", F.lit(h).cast("int").alias("dist")),
            None,
            ["node"],
        )
        if n == 0:
            # the empty terminal frontier joins no result — free it now;
            # every non-empty slice stays live inside the returned union
            free_local_checkpoint(nxt)
            break
        dist = dist.unionByName(nxt)
        frontier = nxt
    # every returned slice is its own checkpoint (lineage truncated), so
    # the edge materialization has no remaining reader — free it now
    free_local_checkpoint(e)
    return dist


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iter: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, degree) — the k-core of the UNDIRECTED simple graph: the
    maximal subgraph where every node keeps degree ≥ k after iterative
    peeling.  The density diagnostic beyond component size: a near-dup
    cluster that is also a dense core is template boilerplate, a sparse
    chain is incidental overlap (the triangle census's big sibling —
    triangles bound local density, the core bounds it transitively).

    Peeling is the textbook fixpoint: compute degrees, drop nodes below
    k, drop edges touching dropped nodes, repeat until no node falls.
    Order-independence of the result (the core is unique regardless of
    peel order) is what makes it distribution-safe; each round is ONE
    map-side-combined degree aggregate + ONE semi-join of the edge list
    against survivors per endpoint, with the shrinking edge table
    checkpointed per round (:func:`..ckpt.fixpoint`).  A graph that keeps
    peeling past max_iter raises — the peel depth of real graphs is
    small, and silently returning a non-converged "core" would claim
    density that is not there.

    Input edges are canonicalized: direction dropped, (a,a) self-loops
    removed, duplicate edges counted once.  NULL endpoints dropped.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    e, fp = next_round(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("_a"),
            F.greatest(F.col(src), F.col(dst)).alias("_b"),
        )
        .filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
        .filter(F.col("_a") != F.col("_b"))
        .distinct(),
        None,
        ("_a", "_b"),
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("_a").alias("node"))
            .unionByName(e.select(F.col("_b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("degree"))
        )

    def peel(e: DataFrame) -> DataFrame:
        keep = degrees(e).filter(F.col("degree") >= k).select("node")
        return e.join(keep.withColumnRenamed("node", "_a"), "_a", "leftsemi").join(
            keep.withColumnRenamed("node", "_b"), "_b", "leftsemi"
        )

    # a peel that keeps every edge means every degree is already >= k;
    # a fully peeled graph returns no rows.  Either way the node type is
    # the CANONICALIZED edge table's (least/greatest promotes mixed
    # src/dst types).
    return degrees(fixpoint(peel, e, ("_a", "_b"), max_iter, "k_core", fp))
