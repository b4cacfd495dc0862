"""Distributed quality-classifier training — the fastText-shaped story
completed (SURVEY §2-ext: quality scoring): featurize with the hashing
trick, train a batch perceptron over the whole corpus in a fixed number
of rounds, and score every document with the trained weights — one
composed plan, no driver round-trip per round.

Why a perceptron and not logistic regression: the update rule is pure
integer arithmetic (counts, sums, sign comparisons — no sigmoid, no
learning-rate float), so the trained weights are EXACT — bit-identical
across engines, partitionings, and row orders.  A logistic model's
exp() is libm-dependent and its float gradient sums are
order-dependent; the perceptron gives the same distributed-training
shape (broadcast weights out, aggregate gradients back) with none of
the cross-engine drift.  Swapping in float gradients + sigmoid is a
two-line change to `_round` — the plan shape is the story.

Scale shape (100 TB): featurization is one corpus shuffle (doc_id ×
bucket partial-count); each training round broadcasts the D-row weight
vector OUT (D = feature buckets, fits any executor) and shuffles only
per-doc margins (keyed by uniform doc id) and the D-row gradient IN —
the corpus-sized featurized table is built once, localCheckpointed, and
re-joined per round.  Rounds are a Python loop composing the plan, like
the Lloyd rounds of similarity._lloyd; the corpus itself never re-tokenizes.

Reference: the reference has no trained classifier (its quality gates
are hand rules, e.g. register-utils barcode checks); this is the
LLM-data-pipeline extension the survey's §2-ext calls for, shaped after
fastText supervised mode (Joulin et al. 2017, public).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import next_round
from .text import unigram_bigram_features, words


def hashed_features(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    d: int = 64,
    salt: str = "tc",
) -> DataFrame:
    """(id, bucket, x) features from raw text — tokenizes then delegates
    to hashed_features_from_tokens (which documents the law)."""
    toks = docs.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    return hashed_features_from_tokens(toks, id_col=id_col, d=d, salt=salt)


def hashed_features_from_tokens(
    toks: DataFrame,
    id_col: str = "doc_id",
    d: int = 64,
    salt: str = "tc",
) -> DataFrame:
    """(id, bucket, x): unigram+bigram features (text.unigram_bigram_features
    — the SAME array law q_hashed_quality scores with) hashed into `d`
    buckets (hashing trick), x = occurrence count — exact integers — plus
    one bias row per doc at the sentinel bucket `d` (outside the hash
    range, so no token can collide with it; without an intercept a
    perceptron cannot express any threshold-on-magnitude concept).  The
    bucket law is the engine-portable md5 hex prefix (same as
    sketch.cms_build).  `toks` is an (id, _w words-array) frame — callers
    that already tokenized (train_and_score) pass it directly so the
    corpus-wide tokenize runs ONCE."""
    feats = toks.select(
        F.col(id_col), F.explode(unigram_bigram_features(F.col("_w"))).alias("_f")
    ).filter(F.col("_f") != "")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), F.col("_f"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % d
    )
    hashed = (
        feats.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("x"))
    )
    bias = toks.select(
        F.col(id_col),
        F.lit(d).cast("bigint").alias("bucket"),
        F.lit(1).cast("bigint").alias("x"),
    )
    return hashed.unionByName(bias)


def _margins(fx: DataFrame, weights: DataFrame, id_col: str) -> DataFrame:
    """(id, margin) = w · x per doc over the broadcast D-row weight table.
    Docs with no features (or only zero-weight buckets) simply don't
    appear — callers coalesce the margin to 0."""
    return (
        fx.join(F.broadcast(weights), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("w") * F.col("x")).alias("margin"))
    )


def train_perceptron(
    fx: DataFrame,
    labels: DataFrame,
    rounds: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Batch perceptron over (id, bucket, x) features and (id, y) labels
    (y ∈ {-1, +1}): w_0 = 0; each round adds Σ y·x over the documents the
    CURRENT weights misclassify (y · margin <= 0 — so round 0, where every
    margin is 0, seeds w_1 = Σ y·x over the whole corpus).  Returns the
    (bucket, w) weight table after `rounds` rounds — exact BIGINTs.

    Each round is: broadcast w out, one margin aggregation keyed by doc
    id, one D-row gradient aggregation back.  `fx` is localCheckpointed by
    the caller side once (it feeds every round AND final inference)."""
    # round 0 short-cut: w=0 misclassifies everything, grad = sum(y*x)
    weights = (
        fx.join(labels, id_col)
        .groupBy("bucket")
        .agg(F.sum(F.col("y") * F.col("x")).alias("w"))
    )
    weights_cp = None
    for _ in range(1, rounds):
        weights = weights_cp = next_round(weights, weights_cp)
        m = _margins(fx, weights, id_col)
        mis = (
            labels.join(m, id_col, "left")
            .filter(F.col("y") * F.coalesce(F.col("margin"), F.lit(0)) <= 0)
            .select(id_col, "y")
        )
        grad = (
            fx.join(mis, id_col)
            .groupBy("bucket")
            .agg(F.sum(F.col("y") * F.col("x")).alias("g"))
        )
        weights = (
            weights.join(grad, "bucket", "full")
            .select(
                "bucket",
                (
                    F.coalesce(F.col("w"), F.lit(0))
                    + F.coalesce(F.col("g"), F.lit(0))
                ).alias("w"),
            )
        )
    return weights


def train_and_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    d: int = 64,
    rounds: int = 2,
    label_min_tokens: int = 56,
) -> DataFrame:
    """End-to-end: featurize → label (y = +1 iff the doc has at least
    `label_min_tokens` tokens — a deterministic stand-in for human quality
    labels, chosen at the corpus median so classes balance) → train →
    score every document with the trained weights.  Returns
    (id, margin, pred, label); margin is the exact integer w·x."""
    # tokenize the corpus ONCE: labels and features both derive from the
    # checkpointed (id, _w) frame, so normalize+split never runs twice
    toks = docs.select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    ).localCheckpoint(eager=True)
    # labels joins three plan branches (round-0 weights, each round's mis
    # filter, final scoring) — checkpointing the tiny (id, y) table keeps
    # even the materialized-token scan from re-running once per branch
    labels = toks.select(
        F.col(id_col),
        F.when(
            F.size(F.filter(F.col("_w"), lambda t: t != "")) >= label_min_tokens,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("y"),
    ).localCheckpoint(eager=True)
    fx = hashed_features_from_tokens(toks, id_col=id_col, d=d).localCheckpoint(
        eager=True
    )
    weights = train_perceptron(fx, labels, rounds=rounds, id_col=id_col)
    m = _margins(fx, weights, id_col)
    return (
        labels.join(m, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("margin"), F.lit(0)).alias("margin"),
            (F.coalesce(F.col("margin"), F.lit(0)) > 0).alias("pred"),
            F.col("y").alias("label"),
        )
    )
