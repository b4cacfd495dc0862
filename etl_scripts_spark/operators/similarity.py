"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — broadcast the (small) query set against
the full corpus; the dot product is a sequential double-precision fold inside
whole-stage codegen (`aggregate(zip_with(...))`), no Python.  Scale path:
sign-random-projection LSH — each vector is bucketed by the sign pattern of
its dot products with deterministic integer hyperplanes, so candidate
generation becomes an equi-join on the bucket key (one uniform shuffle)
instead of an O(n·q) cross product.  Quantizer paths: IVF cells,
k-means and product quantization (PQ), all cut, seeded, assigned and
trained by one Lloyd trainer — k-means is PQ with one block.

At 100 TB the corpus side stays partitioned; only queries/centroids move.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import next_round
from ..exactness import cov_scale as _cov_scale
from ..exactness import e9_div_expr


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a.cast("array<double>"), b.cast("array<double>"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank); rank 1 = most similar, self
    excluded.  The query side is broadcast — corpus never shuffles.
    """
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cvec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos",
            dot(F.col("_qvec"), F.col("_cvec"))
            / (l2_norm(F.col("_qvec")) * l2_norm(F.col("_cvec"))),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def hyperplanes(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic integer-valued pseudo-random hyperplanes in [-3, 3].

    Integer weights keep the dot product exactly reproducible in any engine
    (no libm / RNG dependence).
    """
    return [
        [float((i * 31 + j * 17 + (i * j) % 11) % 7 - 3) for j in range(dim)]
        for i in range(n_planes)
    ]


def srp_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket key: one char per plane ('1' if dot>0)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    vec.cast("array<double>"),
                    F.array(*[F.lit(w) for w in plane]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def srp_buckets_df(
    corpus: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) assignment for the LSH-bucketed ANN scale path."""
    planes = hyperplanes(n_planes, dim)
    return corpus.select(
        F.col(id_col), srp_bucket(F.col(vec_col), planes).alias("bucket")
    )


def srp_near_dup_pairs(
    corpus: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs by cosine, LSH-pruned.

    Candidates come from an equi-join on the SRP bucket key (identical and
    near-identical vectors agree on every sign bit with high probability),
    then the exact cosine verifies.  The staging projection materializes the
    bucket AND the l2 norm once per row, so the pair stage costs exactly one
    dot product per candidate — the bucket/norm expressions are never
    re-inlined into the join (see dedup.shingles_from_words for the general
    lesson).  Shuffle key is the bucket: md-uniform for random data; a
    pathological all-identical corpus would need a band/salt refinement.
    """
    planes = hyperplanes(n_planes, dim)
    staged = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_v"),
        srp_bucket(F.col(vec_col), planes).alias("bucket"),
        l2_norm(F.col(vec_col)).alias("_nrm"),
    )
    a = staged.select(
        F.col(id_col).alias("id_a"), F.col("_v").alias("_va"),
        F.col("bucket"), F.col("_nrm").alias("_na"),
    )
    b = staged.select(
        F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"),
        F.col("bucket"), F.col("_nrm").alias("_nb"),
    )
    pairs = a.join(b, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.withColumn("_cos", cos)
        .filter(F.col("_cos") > threshold)
        .select("id_a", "id_b", F.round("_cos", 4).alias("cos"))
    )


# --- Quantizers: one Lloyd trainer --------------------------------------
# k-means is product quantization with one block (Jégou et al., TPAMI
# 2011), so every quantizer below runs on the same long form
# (id, blk, _v, _nrm) and the same four steps: cut (`_blocks`), seed
# (`_seed_cents`), assign (`_assign`) and train (`_lloyd`).


def _blocks(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, m: int = 1, dim: int = 0
) -> DataFrame:
    """(out_id, blk, _v, _nrm): each vector cut into `m` contiguous
    blocks of dim/m components, with their l2 norms.  With m=1 it is the
    whole vector as block 0, no explode.  `_v`/`_nrm` are materialized
    columns, so the assign lambda references them once per element — no
    expression re-inlining."""
    v = F.col(vec_col).cast("array<double>")
    if m == 1:
        return df.select(
            F.col(id_col).alias(out_id),
            F.lit(0).alias("blk"),
            v.alias("_v"),
            l2_norm(F.col(vec_col)).alias("_nrm"),
        )
    d = dim // m
    blocks = F.array(
        *[F.struct(F.lit(b).alias("blk"), F.slice(v, b * d + 1, d).alias("sv")) for b in range(m)]
    )
    return df.select(F.col(id_col).alias(out_id), F.explode(blocks).alias("_b")).select(
        out_id,
        F.col("_b.blk").alias("blk"),
        F.col("_b.sv").alias("_v"),
        l2_norm(F.col("_b.sv")).alias("_nrm"),
    )


def _cents_row(tbl: DataFrame) -> DataFrame:
    """(blk, cid, cv) table → one broadcast row `_cents` =
    [struct(blk, cid, cv, cn), ...], sorted by blk, then cid."""
    return F.broadcast(
        tbl.select(
            F.struct(
                F.col("blk").cast("long").alias("blk"),
                F.col("cid").cast("long").alias("cid"),
                F.col("cv").cast("array<double>").alias("cv"),
                l2_norm(F.col("cv")).alias("cn"),
            ).alias("_c")
        ).agg(F.array_sort(F.collect_list("_c")).alias("_cents"))
    )


def _seed_cents(staged: DataFrame, n: int, id_col: str) -> DataFrame:
    """Lloyd's iteration zero, and the training-free IVF quantizer: the
    vectors with id < `n` are the centroids of every block."""
    return _cents_row(
        staged.filter(F.col(id_col) < n).select(
            "blk", F.col(id_col).alias("cid"), F.col("_v").alias("cv")
        )
    )


def _assign(staged: DataFrame, cents_row: DataFrame, id_col: str) -> DataFrame:
    """(id, blk, cid, _v, _nrm): map-side nearest-centroid argmax by cosine
    among the row's own block's centroids.  array_max over
    struct(cos, -cid) picks the highest cosine and, on ties, the lowest
    centroid id.  The only exchange is the 1-row centroid broadcast."""
    mine = F.filter(F.col("_cents"), lambda c: c["blk"] == F.col("blk"))
    scored = F.transform(
        mine,
        lambda c: F.struct(
            (dot(F.col("_v"), c["cv"]) / (F.col("_nrm") * c["cn"])).alias("cos"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    return (
        staged.join(cents_row)
        .withColumn("_best", F.array_max(scored))
        .select(id_col, "blk", (-F.col("_best")["negcid"]).alias("cid"), "_v", "_nrm")
    )


def _lloyd(staged: DataFrame, k: int, n_iter: int, id_col: str) -> DataFrame:
    """Distributed Lloyd's over the long form: `n_iter` rounds, returning
    the trained centroid row (:func:`_cents_row` shape).

    Per round: (1) map-side assign against the broadcast centroids — the
    corpus NEVER shuffles; (2) centroid update as a per-component mean via
    posexplode → groupBy(blk, cid, pos) — both shuffles are map-side
    combinable and carry blocks×k×dim aggregates, not vectors.  Every
    block trains in the same round, so a round is ONE checkpoint job
    whatever the block count.

    Engine-portable numerics (the property the oracles check): cosines
    are sequential double folds (bit-identical to the oracle's
    list_dot_product), and the mean's numerator sums components rounded
    to 7 dp as DECIMAL — exact and shuffle-order-independent, where a raw
    double SUM over shuffled members would differ run-to-run.  The mean
    itself rounds to 6 dp, so round-N centroids are bit-identical across
    engines and assignments stay exact integers.  Clusters that lose all
    members simply vanish (deterministic in both engines).

    Because centroids round to 6 dp, an unchanged centroid-set
    fingerprint is a Lloyd fixpoint: the remaining rounds would be exact
    no-ops, so the loop stops there (the fixed-round DuckDB oracles agree
    because the update is idempotent at the fixpoint).  A fixed-round run
    that has not converged is still a valid quantizer, so unlike
    :func:`..ckpt.fixpoint` this loop never raises."""
    cents_row = _seed_cents(staged, k, id_col)
    fp = cents = None
    for _ in range(n_iter):
        dims = _assign(staged, cents_row, id_col).select(
            "blk", "cid", F.posexplode("_v").alias("pos", "val")
        )
        sums = dims.groupBy("blk", "cid", "pos").agg(
            F.sum(F.round(F.col("val"), 7).cast("decimal(18,7)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        cents, new_fp = next_round(
            sums.withColumn("m", F.round(F.col("s").cast("double") / F.col("n"), 6))
            .groupBy("blk", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("_pm"))
            .select("blk", "cid", F.transform(F.col("_pm"), lambda x: x["m"]).alias("cv")),
            cents,
            ("blk", "cid", "cv"),
        )
        cents_row = _cents_row(cents)
        if new_fp == fp:
            break
        fp = new_fp
    return cents_row


def ivf_assign_cells(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents_row: DataFrame | None = None,
) -> DataFrame:
    """(id, cid, _v, _nrm) nearest-centroid assignment, map-side (no
    corpus shuffle).  Without `cents_row`, the training-free quantizer
    (:func:`_seed_cents`).  The only exchange in this plan is the
    BroadcastExchange of the 1-row centroid array (asserted in
    tests/test_plans.py).
    """
    staged = _blocks(corpus, id_col, vec_col, id_col)
    if cents_row is None:
        cents_row = _seed_cents(staged, n_centroids, id_col)
    return _assign(staged, cents_row, id_col).drop("blk")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cents_row: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: coarse-quantize the corpus into
    centroid cells, probe only the closest `nprobe` cells per query.
    Pass `cents_row` (e.g. from :func:`kmeans_centroids_row`) to search a
    TRAINED quantizer instead of the default training-free one.

    Deterministic training-free quantizer: the first `n_centroids` vectors
    by id are the centroids (so an external oracle can replay the exact
    algorithm — this checks ALGORITHM parity, not ANN recall).  Scale shape:

      - centroids broadcast to every executor; cell assignment is a
        map-side argmax over the corpus scan, NO shuffle of corpus vectors;
      - the probes (queries × nprobe rows, small by construction) rank
        their cells in a window on the query side only, and are
        hint-broadcast into the candidate join — the corpus never
        shuffles or broadcasts for it.  Without the hint AQE picked
        either side from call to call at small scale, and the job count
        drifted with it;
      - exact cosine + row_number window verify within the probed cells.

    Ties (equal cosine) break on the lower centroid/neighbor id in both the
    assignment and the ranking, so results are exactly reproducible.
    """
    if cents_row is None:
        cents_row = _seed_cents(_blocks(corpus, id_col, vec_col, id_col), n_centroids, id_col)
    assigned = ivf_assign_cells(
        corpus, id_col=id_col, vec_col=vec_col, cents_row=cents_row
    ).withColumnRenamed(id_col, "neighbor_id")
    ccos = dot(F.col("_v"), F.col("_c")["cv"]) / (F.col("_nrm") * F.col("_c")["cn"])
    cw = Window.partitionBy("query_id").orderBy(F.desc("_ccos"), F.asc(F.col("_c")["cid"]))
    probes = (
        _blocks(queries, id_col, vec_col, "query_id")
        .join(cents_row)
        .select("query_id", "_v", "_nrm", F.explode("_cents").alias("_c"))
        .withColumn("_ccos", ccos)
        .withColumn("_crank", F.row_number().over(cw))
        .filter(F.col("_crank") <= nprobe)
        .select(
            "query_id",
            F.col("_c")["cid"].alias("cid"),
            F.col("_v").alias("_qv"),
            F.col("_nrm").alias("_qn"),
        )
    )
    cand = assigned.join(F.broadcast(probes), "cid").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = dot(F.col("_qv"), F.col("_v")) / (F.col("_qn") * F.col("_nrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("_cos"), F.asc("neighbor_id"))
    return (
        cand.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def kmeans_assign(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed spherical k-means (Lloyd's, :func:`_lloyd` with one
    block): (id, cid) after `n_iter` update rounds — the trained upgrade
    of the IVF coarse quantizer, whose training-free centroids are
    iteration zero of exactly this loop."""
    staged = _blocks(corpus, id_col, vec_col, id_col)
    cents_row = _lloyd(staged, k, n_iter, id_col)
    return _assign(staged, cents_row, id_col).select(id_col, "cid")


def kmeans_centroids_row(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the quantizer: `n_iter` Lloyd rounds, returning the 1-row
    broadcast centroid array in the shape `ivf_topk(cents_row=...)` and
    `ivf_assign_cells` consume — compose for trained-quantizer ANN."""
    return _lloyd(_blocks(corpus, id_col, vec_col, id_col), k, n_iter, id_col)


def semdedup(
    corpus: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by clustering
    the embedding space, then pruning near-duplicates WITHIN each cluster
    — a document is pruned when a lower-id document in its cluster has
    cosine similarity above the threshold.  Returns (id, cid, keep).

    This is the composition that makes embedding dedup tractable at
    corpus scale: the k-means quantizer (broadcast centroids, map-side
    assign — the corpus never shuffles during training) partitions the
    space so the exact-cosine verify join runs per cluster, O(Σ|c|²)
    instead of O(n²).  The only corpus shuffle is the hash partition by
    cluster id for the self-join.  At extreme cluster sizes the
    within-cluster step composes with SRP-LSH bucketing
    (:func:`srp_near_dup_pairs`) instead of the plain self-join —
    cluster-then-LSH, the published SemDeDup scale recipe.
    """
    staged = _blocks(corpus, id_col, vec_col, id_col)
    cents_row = _lloyd(staged, k, n_iter, id_col)
    # NOT checkpointed, deliberately: the assignment feeds both self-join
    # arms and the final keep join, but both arms shuffle by cid from the
    # identical subplan, so Spark reuses one exchange — the corpus is
    # scanned ~2×, not 3×, and each scan is a cheap column-pruned read +
    # k map-side dot products.  An eager materialization of the vector
    # arrays measured 45% SLOWER at sf0.1 (the deserialized array write
    # costs more than the re-scan it saves) — see SCALE.md r10.
    assigned = _assign(staged, cents_row, id_col)
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cid",
        F.col("_v").alias("va"), F.col("_nrm").alias("na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cid",
        F.col("_v").alias("vb"), F.col("_nrm").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pruned = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos > threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return assigned.join(pruned, id_col, "left").select(
        F.col(id_col),
        "cid",
        F.coalesce(~F.col("_pruned"), F.lit(True)).alias("keep"),
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m: int = 4,
    k: int = 8,
    n_iter: int = 1,
    topk: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (the PQ of FAISS IVF-PQ): split each
    vector into m contiguous sub-blocks, train a k-centroid codebook per
    block (distributed Lloyd's), encode every corpus vector as m small
    codes, and answer queries by Asymmetric Distance Computation — each
    query precomputes a per-block lookup table of dot products against
    the codebook, and a document's approximate score is the sum of m
    table lookups, never a full-vector dot product.

    Scale story: the index is m bytes-ish per vector instead of dim
    floats (16× compression here); search touches codes + a broadcast
    m×k LUT per query, so the corpus is scanned once with map-side
    lookups and the only corpus shuffle is the final per-query top-k.
    ALL m codebooks train in ONE fused Lloyd pass (:func:`_lloyd` on the
    m-block long form — k-means is the m=1 case), so a round costs one
    job regardless of m (m separate trainings would pay m sequential
    checkpoint jobs — measured 4× slower locally, and m driver
    round-trips at scale), and training stops early at a fixpoint.

    Engine-portable numerics: codebooks use the decimal-exact mean of
    :func:`_lloyd` (bit-identical across engines), LUT entries round
    to 7 dp and sum as DECIMAL (order-independent), ties rank by
    neighbor_id — so the oracle reproduces ranks exactly.
    Returns (query_id, neighbor_id, rank), rank <= topk, self excluded.
    """
    corpus_long = _blocks(corpus, id_col, vec_col, "vid", m, dim)
    cents = _lloyd(corpus_long, k, n_iter, "vid")
    codes = _assign(corpus_long, cents, "vid").select(
        F.col("vid"), "blk", F.col("cid").alias("code")
    )
    cents_tbl = cents.select(F.explode("_cents").alias("_c")).select(
        F.col("_c.blk").alias("blk"),
        F.col("_c.cid").alias("code"),
        F.col("_c.cv").alias("cv"),
    )
    lut = (
        _blocks(queries, id_col, vec_col, "query_id", m, dim)
        .join(F.broadcast(cents_tbl), "blk")
        .select(
            "query_id",
            "blk",
            "code",
            F.round(dot(F.col("_v"), F.col("cv")), 7).cast("decimal(18,7)").alias("d"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["blk", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", "vid")
        .agg(F.sum("d").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", F.col("vid").alias("neighbor_id"), "rank")
    )


def _snapped_vectors(
    df: DataFrame, vec_col: str, grid: int, max_dim: int
) -> DataFrame:
    """Shared snap stage for the moment aggregates here: (_v, _d) with
    every component snapped to the integer grid, NULL/empty vectors
    dropped, loud in-plan raises for NULL/NaN/Inf components and for
    dims past max_dim.  ONE copy — the exactness contract must not be
    able to drift between the full-covariance and diagonal paths."""
    if grid <= 0:
        raise ValueError("grid must be positive")
    lim = (1 << 62) // grid

    def snap(x: Column) -> Column:
        # x.isNull() first: a NULL component would otherwise snap to NULL,
        # silently vanish from sum() while count() still counts the row,
        # and skew every moment it touches
        bad = x.isNull() | F.isnan(x) | (F.abs(x) >= F.lit(float(lim)))
        return F.when(
            bad,
            F.raise_error(
                F.lit("embedding_covariance: NULL/NaN/Inf or component too large for grid")
            ).cast("double"),
        ).otherwise(F.round(x.cast("double") * F.lit(grid), 0)).cast("bigint")

    return (
        # empty arrays are dropped like NULL vectors (they carry no
        # moments; Spark's sequence(1, 0) counts DOWN and would index
        # element 0) — the oracle's empty generate_series skips them too
        df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .select(F.transform(F.col(vec_col), snap).alias("_v"))
        .localCheckpoint(eager=True)
        .withColumn(
            "_d",
            F.when(
                F.size("_v") > F.lit(max_dim),
                F.raise_error(
                    F.lit(f"embedding_covariance: dim exceeds max_dim={max_dim}")
                ).cast("int"),
            ).otherwise(F.size("_v")),
        )
    )


def _diagonal_covariance(
    df: DataFrame, vec_col: str, grid: int = 1_000_000, max_dim: int = 256
) -> DataFrame:
    """Diagonal-only covariance, same output columns as
    embedding_covariance restricted to i == j: the statistics pass for
    standardize_embeddings, which reads ONLY the d variances — the full
    upper-triangle aggregate would explode d(d+1)/2 cells per row for
    d useful ones (~(d+1)/2× wasted fan-out at d=256)."""
    staged = _snapped_vectors(df, vec_col, grid, max_dim)
    agg = (
        staged.select(F.posexplode("_v").alias("_i0", "_x"), F.col("_d"))
        .select((F.col("_i0") + 1).alias("i"), F.col("_x"), F.col("_d"))
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"),
            F.sum(
                (
                    F.col("_x").cast("decimal(38,0)")
                    * F.col("_x").cast("decimal(38,0)")
                )
            ).alias("_q"),
            # same mixed-dims guard as embedding_covariance: ragged input
            # would give each dimension a DIFFERENT population (per-dim n
            # varies) — a silently ill-defined statistic that only blows
            # up later at projection time in standardize_embeddings
            F.min("_d").alias("_dmin"),
            F.max("_d").alias("_dmax"),
        )
    )
    agg = agg.withColumn(
        "_n",
        F.when(
            F.col("_dmin") != F.col("_dmax"),
            F.raise_error(
                F.lit("embedding_covariance: mixed vector lengths in input")
            ).cast("bigint"),
        ).otherwise(F.col("_n")),
    )
    raw_num = (
        F.col("_n").cast("decimal(38,0)") * F.col("_q") - F.col("_s") * F.col("_s")
    )
    num = F.when(
        raw_num.isNull(),
        F.raise_error(
            F.lit("embedding_covariance: moment arithmetic overflowed DECIMAL(38,0); lower grid")
        ).cast("decimal(38,0)"),
    ).otherwise(raw_num)
    # the SAME exact-e9 rounding law as embedding_covariance — the
    # standardize_embeddings contract is that the diagonal path and the
    # full-covariance path give IDENTICAL statistics, which a float
    # round here would break exactly on the 10-digit ties the e9 law
    # exists for (caught by the r11 in-round review)
    _cov_mult, _cov_den = _cov_scale(grid)
    staged2 = (
        agg.withColumn("_mden", (F.col("_n").cast("decimal(38,0)") * F.lit(int(grid)).cast("decimal(38,0)")))
        .withColumn("_cden", (
            F.col("_n").cast("decimal(38,0)") * F.col("_n").cast("decimal(38,0)")
            * F.lit(int(_cov_den)).cast("decimal(38,0)")
        ))
        .withColumn("_num", num)
    )
    mean = (
        F.expr(e9_div_expr("_s", 10**9, "_mden", "embedding_covariance mean")).cast("double")
        / F.lit(1e9)
    )
    return staged2.select(
        "i",
        F.col("i").alias("j"),
        F.col("_n").cast("bigint").alias("n"),
        mean.alias("mean_i"),
        mean.alias("mean_j"),
        (F.expr(e9_div_expr("_num", _cov_mult, "_cden", "embedding_covariance cov")).cast("double")
         / F.lit(1e9)).alias("cov"),
    )


def embedding_covariance(
    df: DataFrame,
    vec_col: str,
    grid: int = 1_000_000,
    max_dim: int = 256,
) -> DataFrame:
    """Exact distributed covariance matrix of an embedding column, long
    form: (i, j, n, mean_i, mean_j, cov) for 1-based dims i ≤ j — the
    vector-valued sibling of reports.regression.grouped_ols.

    Exactness contract: each component snaps to a fixed-point integer
    grid (round(x·grid) as BIGINT — per-value, so partitioning cannot
    change it), and every moment (n, Σxᵢ, Σxᵢxⱼ) accumulates as
    DECIMAL(38,0) exact integers with map-side combine — any partitioning
    yields bit-identical sums, where a float accumulation is
    reduction-tree-dependent.  The final mean/cov values round to 9 dp
    IN EXACT INTEGER ARITHMETIC (round-half-away on Σ·10⁹ against the
    integer denominator, then one exact /10⁹ division): rounding a
    FLOAT quotient at 9 dp is engine-divergent exactly when the true
    quotient terminates at 10 digits — n·grid = 2·10¹² on the sf0.1
    testdata put EVERY mean on that boundary, Spark (BigDecimal on the
    binary double, just below .5) rounded down while DuckDB
    (multiply-based) rounded away, found by the r11 sf0.1 sweep.
    Worst case fits: |x|·grid ≤ 2^62 is guarded in-plan (raise_error),
    |Σxᵢ|·10⁹ at 1e9 rows stays < 10³⁸ (the r12 remainder-form law
    never doubles the numerator — see exactness.e9_div_expr), and n·ΣQ
    at 1e9 rows × grid 1e6 stays ~1e30; |mean| and |cov| are
    additionally guarded ≤ 2^53/10⁹ ≈ 9.007·10⁶ (exactness.E9_ENVELOPE:
    the e9 BIGINT must cast to double EXACTLY — beyond that the
    operator raises instead of wrapping or rounding).

    Plan: stage the snapped vector once, explode the upper-triangle
    (i, j, xᵢ·xⱼ) per row (d(d+1)/2 local fan-out — bounded by max_dim,
    loud raise beyond), ONE groupBy(i,j) whose shuffle carries only
    map-side partial sums (≤ partitions × d²/2 rows), then two
    d-row-sized joins attach the per-dim Σxᵢ sums.  Mixed vector lengths
    raise in-plan (a silently truncated pair law would skew every
    covariance).  NULL vectors are dropped; NaN/±Inf components raise
    (a NaN would snap to an engine-defined integer silently).
    """
    staged = _snapped_vectors(df, vec_col, grid, max_dim)
    idx = F.sequence(F.lit(1), F.col("_d"))
    tri = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.col("_d")),
                lambda j: F.struct(
                    i.alias("i"),
                    j.alias("j"),
                    (
                        F.element_at(F.col("_v"), i).cast("decimal(38,0)")
                        * F.element_at(F.col("_v"), j).cast("decimal(38,0)")
                    ).alias("q"),
                ),
            ),
        )
    )
    prods = staged.select(F.explode(tri).alias("_t"), F.col("_d")).select(
        F.col("_t.i").alias("i"), F.col("_t.j").alias("j"), F.col("_t.q").alias("q"), "_d"
    )
    qsum = prods.groupBy("i", "j").agg(
        F.sum("q").alias("_q"),
        F.count(F.lit(1)).alias("_n"),
        # mixed dims guard: every row contributing to a cell must carry the
        # same vector length, or the (i, j) population is ill-defined
        F.min("_d").alias("_dmin"),
        F.max("_d").alias("_dmax"),
    )
    qsum = qsum.withColumn(
        "_n",
        F.when(
            F.col("_dmin") != F.col("_dmax"),
            F.raise_error(
                F.lit("embedding_covariance: mixed vector lengths in input")
            ).cast("bigint"),
        ).otherwise(F.col("_n")),
    )
    sums = (
        staged.select(F.posexplode("_v").alias("_i0", "_x"))
        .select((F.col("_i0") + 1).alias("_si"), F.col("_x").cast("decimal(38,0)").alias("_x"))
        .groupBy("_si")
        .agg(F.sum("_x").alias("_s"))
    )
    sa = sums.select(F.col("_si").alias("i"), F.col("_s").alias("_si_sum"))
    sb = sums.select(F.col("_si").alias("j"), F.col("_s").alias("_sj_sum"))
    # snapped inputs are non-NULL by construction, so a NULL here can only
    # be DECIMAL(38,0) overflow (non-ANSI configs return NULL instead of
    # throwing) — guard the COMPUTED numerator, not just the moment sums:
    # the n·Q and Sᵢ·Sⱼ products can overflow even when every sum fits
    raw_num = (
        F.col("_n").cast("decimal(38,0)") * F.col("_q")
        - F.col("_si_sum") * F.col("_sj_sum")
    )
    num = F.when(
        raw_num.isNull(),
        F.raise_error(
            F.lit("embedding_covariance: moment arithmetic overflowed DECIMAL(38,0); lower grid")
        ).cast("decimal(38,0)"),
    ).otherwise(raw_num)

    # exact 9-dp rounding: value_e9 = round_half_away(Σ·mult·10⁹', den)
    # in DECIMAL(38,0) (both engines truncate integral division toward
    # zero; abs+sign sidesteps the negative-operand convention), then
    # value = value_e9 / 10⁹ — one exact double division of an exactly
    # representable integer, bit-identical across engines.  The cov
    # scale factor folds gcd(10⁹, grid²) into the denominator so the
    # default grid (10⁶) needs NO numerator growth (mult=1).
    _cov_mult, _cov_den = _cov_scale(grid)

    # build via expr: named intermediates keep the div operator usable;
    # the shared exact-e9 law (exactness.e9_div_expr — one copy, the
    # DuckDB twin is oracle.e9_div_sql) carries the NULL/envelope guards
    joined = (
        qsum.join(sa, "i")
        .join(sb, "j")
        .withColumn("_mden", (F.col("_n").cast("decimal(38,0)") * F.lit(int(grid)).cast("decimal(38,0)")))
        .withColumn("_cden", (
            F.col("_n").cast("decimal(38,0)") * F.col("_n").cast("decimal(38,0)")
            * F.lit(int(_cov_den)).cast("decimal(38,0)")
        ))
        .withColumn("_num", num)
    )

    return joined.select(
        "i",
        "j",
        F.col("_n").cast("bigint").alias("n"),
        (F.expr(e9_div_expr("_si_sum", 10**9, "_mden", "embedding_covariance mean")).cast("double")
         / F.lit(1e9)).alias("mean_i"),
        (F.expr(e9_div_expr("_sj_sum", 10**9, "_mden", "embedding_covariance mean")).cast("double")
         / F.lit(1e9)).alias("mean_j"),
        (F.expr(e9_div_expr("_num", _cov_mult, "_cden", "embedding_covariance cov")).cast("double")
         / F.lit(1e9)).alias("cov"),
    )


def pca_components(cov_long: DataFrame, k: int = 2) -> DataFrame:
    """Top-k principal components from an `embedding_covariance` output:
    (component, eigenvalue, explained_variance_ratio, vector, offset).

    The covariance matrix is d(d+1)/2 rows — kilobytes at any corpus
    size — so the eigen-decomposition runs in a SINGLE-ROW Arrow stage
    (numpy.linalg.eigh on the d×d symmetric matrix), never on the
    driver (no collect()) and never over data-sized input.  The
    expensive pass is the covariance aggregate upstream; this stage is
    O(d³) on one executor.

    Determinism: eigh is deterministic for a given matrix; the sign of
    each eigenvector is canonicalized so its largest-|entry| coordinate
    is positive (eigenvectors are defined up to ±1).  `offset` is
    dot(mean, vector), precomputed here so projection becomes the pure
    column expression dot(x, v) − offset (centering without carrying
    the mean vector into the corpus-sized stage).  Near-degenerate
    (tied) eigenvalues make the component BASIS rotation-unstable —
    inherent to PCA, not to this implementation; tests pin spectra with
    separated eigenvalues.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    one = cov_long.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("i", "j", "cov", "mean_i"))
        ).alias("_c")
    ).select(
        F.col("_c.i").alias("_i"),
        F.col("_c.j").alias("_j"),
        F.col("_c.cov").alias("_cov"),
        F.col("_c.mean_i").alias("_mi"),
    )

    schema = (
        "component int, eigenvalue double, explained_variance_ratio double, "
        "vector array<double>, offset double"
    )

    def fit(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if pdf.empty or len(pdf["_i"][0]) == 0:
                # empty covariance (e.g. every input vector was NULL):
                # collect_list still yields one row of empty arrays —
                # emit no components rather than crash in jj.max()
                continue
            ii = np.asarray(pdf["_i"][0], dtype=np.int64)
            jj = np.asarray(pdf["_j"][0], dtype=np.int64)
            cc = np.asarray(pdf["_cov"][0], dtype=np.float64)
            mi = np.asarray(pdf["_mi"][0], dtype=np.float64)
            d = int(jj.max())
            cov = np.zeros((d, d))
            cov[ii - 1, jj - 1] = cc
            cov[jj - 1, ii - 1] = cc
            mean = np.zeros(d)
            diag = ii == jj
            mean[ii[diag] - 1] = mi[diag]
            evals, evecs = np.linalg.eigh(cov)
            order = np.argsort(evals)[::-1][: min(k, d)]
            total = float(evals.sum()) or 1.0
            out = []
            for rank, col in enumerate(order, start=1):
                v = evecs[:, col]
                pivot = int(np.abs(v).argmax())
                if v[pivot] < 0:
                    v = -v
                out.append(
                    {
                        "component": rank,
                        "eigenvalue": round(float(evals[col]), 9),
                        "explained_variance_ratio": round(float(evals[col] / total), 9),
                        "vector": [round(float(x), 9) for x in v],
                        "offset": round(float(np.dot(mean, v)), 9),
                    }
                )
            yield pd.DataFrame(out)

    return one.mapInPandas(fit, schema)


def pca_project(
    df: DataFrame, vec_col: str, id_col: str, components: DataFrame
) -> DataFrame:
    """(id, proj) — project each embedding onto the PCA components:
    proj[c] = dot(x, vector_c) − offset_c (the centered projection,
    because offset_c = dot(mean, vector_c) was folded in at fit time).

    Pure Catalyst over the corpus: the components collapse to ONE
    broadcast row (join_singleton — the kmeans cents_row shape), and
    the per-component dot product is the same codegen fold as
    cosine_topk.  No Python touches corpus-sized data.
    """
    from .corpus import join_singleton

    comps_row = (
        components.select(
            F.struct("component", "vector", "offset").alias("_p")
        )
        .groupBy()
        .agg(F.sort_array(F.collect_list("_p")).alias("_comps"))
    )
    staged = df.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("_x")
    )
    proj = F.transform(
        F.col("_comps"),
        # loud on NULL vectors and on corpus/components dimension mismatch:
        # zip_with NULL-pads the shorter array, so the dot fold would
        # otherwise degrade to a silent NULL score — inconsistent with the
        # covariance op this composes with, which raises on both
        lambda c: F.when(
            F.col("_x").isNull() | (F.size(F.col("_x")) != F.size(c["vector"])),
            F.raise_error(
                F.lit("pca_project: NULL vector or dimension mismatch with components")
            ).cast("double"),
        ).otherwise(F.round(dot(F.col("_x"), c["vector"]) - c["offset"], 7)),
    )
    return join_singleton(staged, comps_row).select(
        F.col(id_col), proj.alias("proj")
    )


def standardize_embeddings(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    cov_long: DataFrame | None = None,
    grid: int = 1_000_000,
    eps: float = 1e-9,
) -> DataFrame:
    """(id, vec) — per-dimension z-scoring of an embedding column:
    vec[i] = (x[i] − mean_i) / std_i, 6-dp rounded.  The whitening
    on-ramp for the distance-based stack: kmeans/SemDeDup/SRP distances
    are dominated by whichever raw dimension has the largest scale, and
    standardizing first makes every dimension count equally.

    Statistics come from :func:`embedding_covariance` (pass `cov_long`
    to reuse one you already computed; only the diagonal is read) — so
    the means/vars carry that op's exactness contract: any partitioning
    yields the identical statistics, hence identical standardized
    output.  The per-row projection is pure Catalyst: the d diagonal
    cells collapse to ONE broadcast row (join_singleton), and the
    transform reads mean/std arrays positionally.  Near-constant
    dimensions (var ≤ eps) standardize to 0 rather than exploding to
    ±huge values on noise.  NULL/empty vectors are dropped (the
    covariance op's law); a dimension mismatch raises in-plan.
    """
    from .corpus import join_singleton

    if cov_long is None:
        # diagonal-only statistics: d cells per row, not d(d+1)/2
        cov_long = _diagonal_covariance(df, vec_col, grid=grid)
    diag = (
        cov_long.filter(F.col("i") == F.col("j"))
        .select(F.struct(F.col("i"), F.col("mean_i"), F.col("cov")).alias("_c"))
        .groupBy()
        .agg(F.sort_array(F.collect_list("_c")).alias("_cells"))
        .select(
            F.col("_cells.mean_i").alias("_means"),
            F.transform(
                F.col("_cells.cov"),
                lambda v: F.when(v > F.lit(eps), F.sqrt(v)).otherwise(F.lit(0.0)),
            ).alias("_stds"),
        )
    )
    staged = df.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_x"))
    z = F.transform(
        F.col("_x"),
        # NULL/NaN components raise HERE too: with a reused cov_long the
        # covariance op's snap guard never sees this frame, and a silent
        # NaN z-score would corrupt every downstream distance
        lambda x, i: F.when(
            (F.size(F.col("_x")) != F.size(F.col("_means")))
            | x.isNull()
            | F.isnan(x),
            F.raise_error(
                F.lit(
                    "standardize_embeddings: NULL/NaN component or "
                    "vector/statistics dimension mismatch"
                )
            ).cast("double"),
        ).otherwise(
            F.when(
                F.element_at(F.col("_stds"), i + 1) > 0,
                F.round(
                    (x - F.element_at(F.col("_means"), i + 1))
                    / F.element_at(F.col("_stds"), i + 1),
                    6,
                ),
            ).otherwise(F.lit(0.0))
        ),
    )
    return join_singleton(staged, diag).select(F.col(id_col), z.alias("vec"))
