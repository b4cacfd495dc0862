"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed for 100 TB corpora:

  - exact dedup is a hash-groupBy on a 128-bit content digest — one shuffle
    on the digest, map-side partial aggregation, no full-text comparison;
  - MinHash signatures tokenize once, explode the shingles and take the
    per-seed minima with map-side partial aggregation — the one shuffle,
    keyed by doc id, carries partial minima, never shingles;
  - LSH banding turns near-dup search from O(n²) into an equi-join on
    (band_id, band_hash) — a single shuffle whose key space is uniform by
    construction (md5), so no skew;
  - pair verification (Jaccard) runs only on candidate pairs.

All hashing is md5-based so the DuckDB oracle reproduces results exactly.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import fixpoint, free_local_checkpoint, next_round
from ..exactness import e9_div_expr
from .text import normalize_text, word_positions, words


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonical-id per exact-content group: (content_hash, n_dups, keep_id)."""
    h = F.md5(normalize_text(F.col(text_col)))
    return (
        df.select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def shingles_from_words(wcol: Column, k: int = 3) -> Column:
    """Array of k-word shingles from a MATERIALIZED words-array column.

    `wcol` must be a bound column reference (stage `words(text)` in its own
    select first), never the tokenizer expression itself: a lambda body
    referencing an outer expression inlines it, so the regexp tokenizer
    would re-run for every `element_at` of every shingle (k× per element —
    measured 5-12× slower end-to-end).

    element_at is O(1) per word (vs slice+join which copies subarrays);
    concat_ws skips the nulls element_at returns past the end, which yields
    the short-document fallback (one shingle of all available words).
    """
    n = F.greatest(F.size(wcol) - F.lit(k - 1), F.lit(1))

    def shingle_at(i: Column) -> Column:
        return F.concat_ws(" ", *[F.element_at(wcol, i + j) for j in range(k)])

    return F.transform(F.sequence(F.lit(1), n), shingle_at)


def minhash_df(df: DataFrame, text_col: str, id_col: str, num_hashes: int = 8, k: int = 3) -> DataFrame:
    """MinHash signatures via staged tokenize → explode shingles → agg min.

    The scale path, in three plan stages:

      1. a Project materializes the words array (the regexp tokenizer runs
         exactly once per document — see :func:`shingles_from_words`);
      2. a Generate explodes the shingle array (no window, no sort of the
         token stream);
      3. groupBy(doc) with `min` per seed — map-side partial aggregation
         means the shuffle carries only `num_hashes` partial minima per doc
         per input partition, not the exploded shingles.

    Measured ~5× faster than a window(lead)-based shingler at sf0.1 because
    the window had to shuffle+sort every token; here the only shuffle input
    is the already-reduced partial aggregate.  Skew-free: the shuffle key is
    the unique doc id.

    Signature value `mh{i}` is the min over the document's k-word
    shingles of md5('{i}|' + shingle), short-document fallback included
    (the law `oracle.minhash_sigs_ctes` reproduces).
    """
    staged = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    sh = staged.select(
        F.col(id_col), F.explode(shingles_from_words(F.col("_w"), k)).alias("_sh")
    )
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("_sh")))).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def lsh_bands(sig_df: DataFrame, id_col: str, num_hashes: int = 8, band_size: int = 2) -> DataFrame:
    """(id, band_id, band_hash) — one row per band, hash = md5 of the band's
    concatenated signature values."""
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"mh{b * band_size + j}") for j in range(band_size)])
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sig_df.select(F.col(id_col), F.explode(bands).alias("band"))
        .select(id_col, F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    )


def lsh_candidate_pairs(band_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing ≥1 band bucket, id_a < id_b.

    The equi-join on (band_id, band_hash) is the scale path: bucket keys are
    md5-uniform so the shuffle has no skew, and each bucket is tiny.  The
    band assignment is materialized once (localCheckpoint) before the
    self-join — Spark plans the two sides independently and would otherwise
    recompute the whole signature pipeline twice.  localCheckpoint rather
    than persist(): the blocks are freed when the frame is GC'd instead of
    pinning the CacheManager until an unpersist nobody owns.
    """
    band_df = band_df.localCheckpoint(eager=True)
    a = band_df.select(
        F.col("band_id"), F.col("band_hash"), F.col(id_col).alias("id_a")
    )
    b = band_df.select(
        F.col("band_id").alias("band_id_b"), F.col("band_hash").alias("band_hash_b"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(
            b,
            (a["band_id"] == b["band_id_b"])
            & (a["band_hash"] == b["band_hash_b"])
            & (a["id_a"] < b["id_b"]),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def _shingle_sets(
    docs: DataFrame, ids: DataFrame, text_col: str, id_col: str, k: int, out: str
) -> DataFrame:
    """(id, `out`): the distinct k-word shingle set of every doc whose id
    is in `ids` (one column, named `id_col`).  Semi-join FIRST: sets are
    built for candidate docs only, never for the whole corpus."""
    staged = docs.join(ids, id_col, "leftsemi").select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    )
    return staged.select(
        F.col(id_col),
        F.array_distinct(shingles_from_words(F.col("_w"), k)).alias(out),
    )


def verified_pairs(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str,
    threshold: float, k: int = 3,
) -> DataFrame:
    """Filter LSH candidate pairs by true shingle-set Jaccard ≥ threshold.

    The canonical near-dup pipeline stage between banding and clustering:
    LSH bounds the candidate set (no O(n²)), and the exact verification
    runs only on candidates.  Shingle sets are computed ONCE, for
    candidate-TOUCHED docs only (semi-join against the pair endpoints),
    and pinned before the two joins: Spark plans the a/b join sides
    independently, so the unpinned form re-ran the full-corpus
    tokenize+shingle pass once per side — and at 100 TB the sets frame
    is candidate-bounded (LSH-bounded), never corpus-sized, so both the
    pin and the two join shuffles scale with the candidate set.
    """
    # the candidate pairs are read three times below (both endpoint
    # projections + the verify join) — pin them, or each read re-runs
    # the caller's whole candidate-generation subtree
    pairs = pairs.localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sets = _shingle_sets(docs, ids, text_col, id_col, k, "_sh").localCheckpoint(
        eager=True
    )
    a = sets.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sets.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .filter(jaccard_from_sets(F.col("_sh_a"), F.col("_sh_b")) >= threshold)
        .select("id_a", "id_b")
    )


#: First label-propagation round that pointer-jumps.  Every dense consumer
#: (near-dup, entity-resolution and sample-graph components) reaches its
#: fixpoint within 5 rounds, so its plan stays exactly the plain one and
#: pays no jump join.
_JUMP_FROM_ROUND = 6


def connected_components(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, component) — min-id label propagation over an undirected pair
    graph, iterated to fixpoint.

    Each round every node takes the min label among itself and its
    neighbors: a join of the label table with the (symmetrized) edge
    table, then a min-aggregate.  Plain rounds needed = graph diameter —
    for near-dup clusters (dense, LSH-bucket-shaped) that is 2-3, so at
    100 TB this is a handful of skew-free shuffles on uniform id keys.
    From round :data:`_JUMP_FROM_ROUND` on, each round also pointer-jumps
    its aggregate output, ``lbl ← least(lbl, lbl[lbl])``, so a label
    closes on the minimum geometrically instead of one hop per round: a
    diameter-100 chain converges in 10 rounds instead of ~100.  A label
    only ever falls to another node's label, so the fixpoint is still
    every component's minimum id.  Labels are checkpointed per round and
    the loop stops on a label-set fingerprint (:func:`..ckpt.fixpoint`).
    """
    # symmetrize by exploding each pair into its two directed rows — ONE
    # execution of the caller's pair subtree.  The union form referenced
    # `pairs` twice, and the common callers hand over an UNMATERIALIZED
    # expensive subtree (near-dup's verify join with its per-pair
    # array_intersect; entity resolution's two-arm Levenshtein scoring):
    # ReuseExchange dedupes the shuffle files under the two copies, but
    # the join merge + verification filter still executed twice inside
    # the edge-checkpoint job (guide §2.4 — the r13 verified_pairs bug
    # class, one level up).  Same multiset as the union, same checkpoint.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
            )
        ).alias("_e")
    ).select("_e.src", "_e.dst")
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("lbl", F.col("id"))
    )

    rounds = 0

    def step(labels: DataFrame) -> DataFrame:
        nonlocal rounds
        rounds += 1
        nbr = labels.join(edges, labels["id"] == edges["src"]).select(
            F.col("dst").alias("id"), F.col("lbl")
        )
        # A null endpoint never sends its label (id = src drops it), so it
        # is no node: drop its row every round.  In a jump round the
        # explicit not-null also keeps both copies of `out` one plan, so
        # the min-aggregate runs once: else the join's inferred not-null on
        # `_hop` sinks below the hop copy's aggregate only.
        out = labels.select("id", "lbl").union(nbr).groupBy("id").agg(F.min("lbl").alias("lbl"))
        out = out.filter(F.col("id").isNotNull())
        if rounds < _JUMP_FROM_ROUND:
            return out
        # every label is a node id, so each row matches exactly one row
        hop = out.select(F.col("id").alias("_hop"), F.col("lbl").alias("_lbl2"))
        return out.join(hop, F.col("lbl") == F.col("_hop")).select(
            "id", F.least("lbl", "_lbl2").alias("lbl")
        )

    labels = fixpoint(step, labels, ("id", "lbl"), max_iter, "connected_components")
    # the result references only the final label checkpoint — the edge
    # checkpoint's blocks are dead weight from here on
    free_local_checkpoint(edges)
    return labels.select("id", F.col("lbl").alias("component"))


def incremental_components(
    prior: DataFrame, new_pairs: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Incremental connected-components maintenance: fold a batch of NEW
    edges into an already-converged labeling without reprocessing the
    historical edge set.

    prior: (id, component) — converged labels from the previous batch,
    where each component label is the component's minimum member id (the
    invariant connected_components produces).
    new_pairs: (id_a, id_b) — edges arriving this batch; endpoints may be
    brand-new ids.

    The prior graph is re-entered as STAR edges (component ↔ member),
    which is its transitive closure in O(nodes) edges — so the fixpoint
    input is |prior| + |new| edges instead of the full historical edge
    log, and label propagation converges in ~(diameter of the NEW merge
    graph over component representatives) + 2 rounds, independent of the
    historical graph's diameter.  Untouched singleton components carry
    over unchanged via an anti-join (they appear in no edge).  This is
    the component-level analog of incremental_near_dups: batch work
    scales with the batch, not the corpus.
    """
    star = prior.filter(F.col("id") != F.col("component")).select(
        F.col("component").alias("id_a"), F.col("id").alias("id_b")
    )
    edges = star.unionByName(
        new_pairs.select(F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"))
    )
    cc = connected_components(edges, max_iter=max_iter)
    untouched = prior.join(cc, prior["id"] == cc["id"], "left_anti").select(
        prior["id"], prior["component"]
    )
    return cc.unionByName(untouched).select(
        F.col("id").alias("node_id"), F.col("component").alias("component_id")
    )


def near_dup_clusters(
    pairs: DataFrame, docs: DataFrame, text_col: str, id_col: str,
    threshold: float = 0.5, k: int = 3,
) -> DataFrame:
    """End-to-end near-dup clustering: verify candidates → connected
    components → canonical keeper per cluster.

    Returns (doc_id, component_id, is_canonical) for every doc in a
    verified pair; the training-data dedup decision is "drop rows where
    NOT is_canonical".  Docs in no verified pair are implicitly canonical
    singletons (left out, as they need no decision).
    """
    verified = verified_pairs(pairs, docs, text_col, id_col, threshold, k)
    cc = connected_components(verified)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("component_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


def jaccard_from_sets(sa: Column, sb: Column) -> Column:
    inter = F.size(F.array_intersect(sa, sb))
    union = F.size(sa) + F.size(sb) - inter
    return F.round(inter / F.greatest(union, F.lit(1)), 4)


def positional_gram_hashes(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, pos, h): md5 of each FULL n-word-gram with its 1-based word
    position.  Unlike :func:`shingles_from_words` there is no short-document
    fallback — a document with fewer than `n` words yields no rows, because
    span semantics need every gram to cover exactly `n` words.

    Pure projection + explode: no shuffle, and the ~50-byte raw gram text
    never leaves the mapper — only the fixed-width digest travels.
    """
    wdf = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    npos = F.size("_w") - F.lit(n - 1)
    # guard: sequence(1, 0) counts DOWN in Spark, not empty
    idx = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    gram = wdf.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("bigint").alias("pos"),
                    F.md5(
                        F.concat_ws(
                            " ",
                            *[F.element_at(F.col("_w"), i + j) for j in range(n)],
                        )
                    ).alias("h"),
                ),
            )
        ).alias("_g"),
    )
    return gram.select(id_col, "_g.pos", "_g.h")


def _dup_gram_hits(
    df: DataFrame, text_col: str, id_col: str, n: int, min_docs: int
) -> DataFrame:
    """(id, pos) of every n-gram that occurs in at least `min_docs`
    distinct documents: ONE groupBy on md5-uniform gram keys, then an
    equi-join mark back on the same keys — never a broadcast, because
    the duplicated-gram set is data-dependent and can itself be huge on
    crawl data."""
    grams = positional_gram_hashes(df, text_col, id_col, n)
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("h")
    )
    return grams.join(dup, "h", "leftsemi").select(id_col, "pos")


def dup_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact duplicated-substring detection at n-gram granularity (the
    distributed approximation of suffix-array substring dedup from Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models Better").

    A word position is *duplicated* when the n-gram starting there occurs in
    at least `min_docs` distinct documents.  Overlapping / adjacent
    duplicated grams merge into maximal spans; returns one row per span:
    (id, span_start, span_end, n_dup_grams), positions 1-based inclusive in
    words.

    Scale shape (100 TB): grams are a map-side projection of digests; the
    duplicate-gram table is ONE groupBy on md5-uniform keys (no skew by
    construction); marking is an equi-join back on the same uniform keys —
    never a broadcast, because the duplicated-gram set is data-dependent and
    can itself be huge on crawl data.  Span merging is a per-document
    window (lag + running sum = classic island detection), partitioned by
    doc — no global sort.
    """
    from pyspark.sql import Window

    hits = _dup_gram_hits(df, text_col, id_col, n, min_docs)
    w = Window.partitionBy(id_col).orderBy("pos")
    marked = hits.select(
        id_col,
        "pos",
        # gap > n starts a new island; first row (lag NULL) also starts one
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0))
        .otherwise(F.lit(1))
        .alias("_brk"),
    )
    islands = marked.select(
        id_col,
        "pos",
        F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_sid"),
    )
    return (
        islands.groupBy(id_col, "_sid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_dup_grams")
    )


def span_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_freq: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Document-level clustering from exact shared substrings — the
    published end state of Lee et al. 2022's suffix-array pipeline:
    document pairs whose shared duplicated-gram coverage exceeds
    `threshold` become edges; connected components give the cluster; the
    min-id member is the canonical keeper.

    Coverage for a pair = distinct shared n-grams / the SMALLER doc's
    distinct-gram count, so a small doc wholly contained in a large one
    scores 1.0 (the containment case substring dedup exists to catch).

    Scale shape (100 TB): the pair generation self-joins gram digests on
    md5-uniform keys, but a gram occurring in k docs yields k² pairs — so
    grams above `max_freq` docs are EXCLUDED from edge generation (the
    standard frequency cap: boilerplate shared by thousands of docs is
    span-REMOVAL territory, see dup_span_removal, not evidence two
    specific docs duplicate each other).  With the cap, pair fan-out is
    bounded by max_freq² per gram; everything else is uniform-key
    groupBy/join plus the near-dup CC fixpoint already used by
    near_dup_clusters.
    """
    # materialized ONCE: per_doc, the frequency cap, and the pair join all
    # read the distinct gram table — without this the tokenize+explode
    # pipeline runs three times (same device as lsh_bands)
    grams = (
        positional_gram_hashes(df, text_col, id_col, n)
        .select(id_col, "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    per_doc = grams.groupBy(id_col).agg(F.count("*").alias("_ng"))
    capped = (
        grams.groupBy("h")
        .agg(F.count("*").alias("_nd"))
        .filter((F.col("_nd") >= 2) & (F.col("_nd") <= max_freq))
        .select("h")
    )
    hits = grams.join(capped, "h", "leftsemi")
    a = hits.select("h", F.col(id_col).alias("id_a"))
    b = hits.select("h", F.col(id_col).alias("id_b"))
    shared = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_shared"))
    )
    na = per_doc.select(F.col(id_col).alias("id_a"), F.col("_ng").alias("_na"))
    nb = per_doc.select(F.col(id_col).alias("id_b"), F.col("_ng").alias("_nb"))
    edges = (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .filter(F.col("_shared") / F.least("_na", "_nb") >= F.lit(threshold))
        .select("id_a", "id_b")
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("component_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    w: int = 5,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    the MOSS algorithm): slide a window of `w` consecutive n-gram hashes and
    keep each window's minimum; the distinct selected (hash, pos) pairs are
    the fingerprint set.  Guarantees every match of length ≥ w+n-1 words
    shares a fingerprint, with ~2/(w+1) selection density.

    Tie-break: the LEFTMOST minimal hash per window, encoded by taking the
    string-min of  h || '|' || lpad(pos)  — one totally-ordered key both
    engines compare identically, so no argmin/min_by construct is needed.
    Documents with fewer than `w` grams contribute their single truncated
    window (global minimum), matching MOSS's short-document behavior.

    Scale: hashes are a map-side projection; the sliding min is a per-doc
    row-frame window (one shuffle on doc id — or zero if the corpus is
    already laid out by doc); selection drops ~ (w-1)/(w+1) of rows BEFORE
    the distinct, so the only corpus-wide exchange moves the already-sparse
    fingerprint set.
    """
    from pyspark.sql import Window

    grams = positional_gram_hashes(df, text_col, id_col, n)
    key = F.concat_ws("|", F.col("h"), F.lpad(F.col("pos").cast("string"), 9, "0"))
    win = Window.partitionBy(id_col).orderBy("pos")
    keyed = grams.select(
        F.col(id_col),
        "pos",
        F.min(key).over(win.rowsBetween(0, w - 1)).alias("_k"),
        F.count("*").over(
            win.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_g"),
    )
    picked = keyed.filter(
        F.col("pos") <= F.greatest(F.col("_g") - F.lit(w - 1), F.lit(1))
    )
    return picked.select(
        F.col(id_col),
        F.substring("_k", 1, 32).alias("fp_hash"),
        F.substring("_k", 34, 9).cast("bigint").alias("fp_pos"),
    ).distinct()


def dup_span_removal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Remove duplicated substrings and rebuild each document — the second
    half of the Lee et al. 2022 pipeline (:func:`dup_ngram_spans` is the
    detection half): every word covered by ANY n-gram that occurs in at
    least `min_docs` distinct documents is deleted, the survivors are
    re-joined in order, and the result is digested.  Returns one row per
    document: (id, n_words, n_kept, cleaned_md5) — including documents with
    nothing removed (n_kept = n_words) and documents shorter than n words
    (no grams, so nothing can be removed).

    Scale shape (100 TB): identical to dup_ngram_spans up through the hit
    set — map-side gram digests, ONE groupBy on md5-uniform keys, equi-join
    mark (never broadcast).  Coverage expansion is a map-side n-fanout of
    the (sparse) hit set followed by a distinct on (id, pos) — uniform
    composite keys; the mark-back is a shuffled LEFT join on the same keys,
    and the rebuild is the package's standard bounded per-doc groupBy (one
    document's words, the same invariant as segment_dedup's rebuild).
    """
    wpos = word_positions(df, text_col, id_col)
    hits = _dup_gram_hits(df, text_col, id_col, n, min_docs)
    covered = hits.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
            "cpos"
        ),
    ).distinct()
    marked = wpos.join(
        covered,
        (wpos[id_col] == covered[id_col]) & (wpos["pos"] == covered["cpos"]),
        "left",
    ).select(wpos[id_col], wpos["pos"], wpos["word"], covered["cpos"].isNull().alias("_keep"))
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("_keep"), F.struct(F.col("pos"), F.col("word")))
        )
    )
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda s: s["word"]), " ")
        ).alias("cleaned_md5"),
    )


def incremental_near_dups(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 4,
    k: int = 3,
    band_size: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Batch-vs-history near-dup detection — the operating mode dedup
    actually runs in at 100 TB: each incoming batch is checked against the
    accumulated corpus, and the corpus is NEVER re-deduped wholesale.
    Returns one row per batch document: (id, is_dup, best_jaccard,
    best_match_id) — best_* NULL when the batch doc shares no LSH band
    with any historical doc.

    Scale shape: the history side reduces to its band index (num_bands
    fixed-width rows per doc — in production this index is what persists
    between batches; the historical TEXT is only fetched for verified
    candidates).  The candidate join is batch-bands × history-bands on
    md5-uniform (band_id, band_hash) — O(batch + collisions), not
    O(batch × corpus).  Jaccard verification joins shingle sets for
    candidate ids only, and best-match selection is a window over the
    candidate set (bounded by LSH collision counts, not corpus size).
    """
    from pyspark.sql import Window

    hb = lsh_bands(
        minhash_df(corpus, text_col, id_col, num_hashes, k),
        id_col,
        num_hashes,
        band_size,
    )
    bb = lsh_bands(
        minhash_df(batch, text_col, id_col, num_hashes, k),
        id_col,
        num_hashes,
        band_size,
    )
    # checkpoint: cand feeds three consumers (two semi-joins + the verify
    # join) — without it each would recompute the whole signature pipeline
    cand = (
        bb.select("band_id", "band_hash", F.col(id_col).alias("_bid"))
        .join(
            hb.select(
                F.col("band_id").alias("_hbband"),
                F.col("band_hash").alias("_hbhash"),
                F.col(id_col).alias("_hid"),
            ),
            (F.col("band_id") == F.col("_hbband"))
            & (F.col("band_hash") == F.col("_hbhash")),
        )
        .select("_bid", "_hid")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sets(df: DataFrame, cand_col: str, out: str) -> DataFrame:
        # the history side must never be re-tokenized wholesale per batch
        keep = cand.select(cand_col).distinct().withColumnRenamed(cand_col, id_col)
        return _shingle_sets(df, keep, text_col, id_col, k, out)

    ver = (
        cand.join(
            _sets(batch, "_bid", "_shb").withColumnRenamed(id_col, "_bid2"),
            F.col("_bid") == F.col("_bid2"),
        )
        .join(
            _sets(corpus, "_hid", "_shh").withColumnRenamed(id_col, "_hid2"),
            F.col("_hid") == F.col("_hid2"),
        )
        .select(
            "_bid",
            "_hid",
            jaccard_from_sets(F.col("_shb"), F.col("_shh")).alias("_jac"),
        )
    )
    w = Window.partitionBy("_bid").orderBy(F.desc("_jac"), F.asc("_hid"))
    best = (
        ver.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("_bid", "_hid", "_jac")
    )
    return (
        batch.select(F.col(id_col))
        .join(best, F.col(id_col) == F.col("_bid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_jac") >= F.lit(threshold), F.lit(False)).alias(
                "is_dup"
            ),
            F.col("_jac").alias("best_jaccard"),
            F.col("_hid").alias("best_match_id"),
        )
    )


def benchmark_contamination_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Train×eval exact n-gram contamination (the GPT-3/PaLM
    decontamination test: a training document is contaminated when it
    shares an exact n-gram with a benchmark document; 13-grams in the
    GPT-3 appendix, `n` here to match this corpus's gram scale):
    one row per contaminated (train, bench) pair —
    (train_id, bench_id, n_shared_grams) with the count of DISTINCT
    shared gram hashes.

    Scale shape (100 TB train corpus × bounded-but-large eval suite):
    both sides reduce to DISTINCT (id, gram-hash) sets first — md5-uniform
    keys, one map-side-combined shuffle each — so boilerplate repetition
    inside a document cannot inflate the join; the contamination join is
    a plain equi-join on the uniform hash (never a broadcast of the
    bench gram set, which is data-dependent and can be gigabytes for a
    large suite — AQE will still broadcast it when it measures small);
    each (train, bench, h) triple then occurs exactly once, so the pair
    aggregate is a count(*), not a count_distinct.
    """
    tg = (
        positional_gram_hashes(train, text_col, id_col, n)
        .select(F.col(id_col).alias("train_id"), "h")
        .distinct()
    )
    bg = (
        positional_gram_hashes(bench, text_col, id_col, n)
        .select(F.col(id_col).alias("bench_id"), "h")
        .distinct()
    )
    return (
        tg.join(bg, "h")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per contaminated TRAIN document: how much of it the benchmark
    covers — (train_id, n_hit_positions, n_grams, contaminated_frac) —
    the decision surface for drop-vs-keep in a decontamination pass
    (docs above a fraction threshold are dropped; span-level removal is
    `dup_span_removal`'s job).

    Position-based like dup_ngram_spans: a train word position is *hit*
    when the n-gram starting there appears anywhere in the benchmark;
    the fraction divides hit positions by the document's total gram
    positions (9-dp round — the cross-engine division recipe).  Only
    contaminated documents return (zero-hit docs are the overwhelming
    majority at scale and carry no information).

    Scale shape: the benchmark reduces to its distinct gram-hash set
    (one uniform shuffle); train grams semi-join it on the uniform hash
    (per-position multiplicity preserved — no distinct needed, positions
    are unique within a doc by construction); totals come straight from
    the tokenized length (greatest(len-n+1, 0)), not a second gram
    explode.
    """
    grams = positional_gram_hashes(train, text_col, id_col, n)
    bset = (
        positional_gram_hashes(bench, text_col, id_col, n).select("h").distinct()
    )
    hits = (
        grams.join(bset, "h", "leftsemi")
        .groupBy(F.col(id_col).alias("train_id"))
        .agg(F.count(F.lit(1)).alias("n_hit_positions"))
    )
    totals = train.select(
        F.col(id_col).alias("_tid"),
        F.greatest(
            F.size(words(F.col(text_col))) - F.lit(n - 1), F.lit(0)
        ).cast("bigint").alias("n_grams"),
    )
    return (
        hits.join(totals, F.col("train_id") == F.col("_tid"))
        .select(
            "train_id",
            "n_hit_positions",
            "n_grams",
            # exact-e9 rounding (the shared exactness.e9_div_expr law):
            # a float round at 9 dp diverges across engines when the
            # count ratio terminates at exactly 10 decimal digits;
            # DECIMAL(38,0) keeps the law exact past BIGINT corpora
            (
                F.expr(
                    e9_div_expr(
                        "CAST(n_hit_positions AS DECIMAL(38,0))",
                        10**9,
                        "CAST(n_grams AS DECIMAL(38,0))",
                        "benchmark_contamination",
                        signed=False,
                    )
                ).cast("double")
                / F.lit(1e9)
            ).alias("contaminated_frac"),
        )
    )


def _check_setsim_threshold(t_num: int, t_den: int) -> None:
    """ONE copy of the rational-threshold guard shared by the setsim
    siblings — a validation change must not be able to diverge them."""
    if not (isinstance(t_num, int) and isinstance(t_den, int)):
        raise ValueError("t_num/t_den must be integers")
    if not (0 < t_num <= t_den):
        raise ValueError(
            f"threshold must satisfy 0 < t_num <= t_den, got {t_num}/{t_den}"
        )


def _setsim_toks(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(_id, _tok) rows: per-row-distinct non-empty normalized words —
    the ONE tokenization law shared by setsim_pairs and
    incremental_setsim (and mirrored by their DuckDB twins)."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("_tok"),
    ).filter(F.col("_tok") != "")


def _probe_prefix_len(t_num: int, t_den: int) -> Column:
    """`_p`, the probing prefix length p = s − ceil(t·s) + 1 of a doc of
    `_s` tokens (exact integer ceil)."""
    return (
        F.col("_s")
        - F.expr(f"({t_num} * _s + {t_den} - 1) DIV {t_den}")
        + F.lit(1)
    )


def _index_prefix_len(t_num: int, t_den: int) -> Column:
    """`_pi`, the indexing prefix length p_i = s − ceil(2t/(1+t)·s) + 1
    of a doc of `_s` tokens — explodes the size-smaller side of every
    setsim_pairs candidate pair."""
    return (
        F.col("_s")
        - F.expr(f"(2 * {t_num} * _s + {t_num + t_den} - 1) DIV {t_num + t_den}")
        + F.lit(1)
    )


def _setsim_docs(
    toks: DataFrame, freq: DataFrame, t_num: int, t_den: int,
    checkpoint: bool = True,
) -> DataFrame:
    """(_id, _toks, _s, _p): each doc's token array sorted by the
    GLOBAL (df ASC, token ASC) order given by `freq`, with the exact
    integer prefix length p = s − ceil(t·s) + 1.  Tokens absent from
    `freq` take df = 0 — the rarest end, a consistent total-order
    extension (incremental batches see corpus-unknown tokens).
    `checkpoint` materializes the build for multi-consumer plans
    (setsim_pairs explodes BOTH prefix sides from it; the persisted
    corpus index reuses it across batches) — single-consumer callers
    (the incremental BATCH side, which since the r13 fused-verification
    rewrite is exploded exactly once) pass False and skip the
    materialization round-trip."""
    docs = (
        toks.join(freq, "_tok", "left")
        .withColumn("_df", F.coalesce("_df", F.lit(0)))
        .groupBy("_id")
        .agg(F.sort_array(F.collect_set(F.struct("_df", "_tok"))).alias("_st"))
        .select(
            "_id",
            F.col("_st._tok").alias("_toks"),
            F.size("_st").alias("_s"),
        )
        .withColumn("_p", _probe_prefix_len(t_num, t_den))
    )
    return docs.localCheckpoint(eager=True) if checkpoint else docs


def _setsim_pos_prefixes(
    docs: DataFrame, len_col: str, with_arr: bool = False
) -> DataFrame:
    """(_id, _s, _pos, _tok[, _toks]) prefix-token index rows
    (rarest-first) with the token's 1-based position in the FULL sorted
    array — the positional-filter (PPJoin) form both setsim consumers
    explode.  `len_col` selects which prefix length to explode (the
    probing `_p` or the shorter indexing `_pi`); positions are
    prefix-relative == array-relative because prefixes are array heads.
    `with_arr` carries the doc's full sorted token array on every index
    row: the fused-verification join computes the exact intersection
    INSIDE the candidate join (no join-back to the doc table), at the
    cost of avg_s extra tokens per index row — the right trade whenever
    candidate volume exceeds index volume, which is the regime a dedup
    operator exists for (duplicate-heavy corpora)."""
    cols = ["_id", "_s"] + (["_toks"] if with_arr else [])
    return docs.select(
        *cols,
        F.posexplode(F.slice("_toks", F.lit(1), F.col(len_col))).alias(
            "_pos0", "_tok"
        ),
    ).select(*cols, (F.col("_pos0") + 1).alias("_pos"), "_tok")


def _setsim_salts(freq: DataFrame, n_vocab: int | None = None) -> int:
    """Adaptive salt count for the prefix candidate join (skew guard).

    The candidate equi-join is keyed on prefix TOKENS, so its reduce-side
    parallelism is bounded by the number of distinct prefix tokens and a
    hot token's postings all meet in ONE task.  In the 100 TB regime
    (large Zipfian vocabulary, rarest-first prefixes) there are millions
    of keys and no help is needed — S stays 1 and the plan is untouched.
    A small or degenerate vocabulary (|V| below ~8 keys/core) caps the
    join at |V| tasks: salt it by replicating the SMALLER side S ways
    (bounded, deterministic — never rand(), see SPARK-38388) and keying
    the other side by pmod(xxhash64(id), S), restoring ~8 keys per core.
    freq must be localCheckpointed by the caller so the count() here is
    a vocabulary-sized lookup, not a corpus re-tokenize."""
    p = freq.sparkSession.sparkContext.defaultParallelism
    v = freq.count() if n_vocab is None else n_vocab
    if v >= 8 * p:
        return 1
    return max(1, min(p, -(-8 * p // max(v, 1))))


def setsim_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """EXACT word-set-Jaccard join via prefix filtering (AllPairs):
    every pair with Jaccard(words(a), words(b)) ≥ t_num/t_den, id_a < id_b,
    as (id_a, id_b, n_common, n_union, jaccard) — no false negatives and,
    after verification, no false positives.

    The deterministic complement to MinHash-LSH: LSH trades recall for a
    fixed banding cost (measured by q_lsh_recall); this op guarantees the
    complete answer, with the candidate set bounded by the prefix-filter
    theorem (Bayardo et al., WWW 2007; Chaudhuri et al., ICDE 2006)
    instead of by chance.

    Plan, four stages, all shuffles on uniform keys:

      1. (id, token) pairs — tokenize once, explode (distinct per ROW via
         array_distinct; rows sharing an id merge into one set at stage 2's
         collect_set, and each such row counts once toward df — an
         order-only effect: any consistent global order keeps the prefix
         filter complete, df-ascending is the fan-out OPTIMIZATION);
      2. global token document-frequency (vocabulary-sized aggregate,
         map-side combined) joined back, then ONE id-keyed aggregate
         builds each doc's token array sorted by (df ASC, token ASC) —
         the global canonical order that makes prefixes RAREST-FIRST;
      3. candidate generation — the PPJoin-refined prefix self-join
         (Xiao, Wang, Lin, Yu, WWW 2008, on top of AllPairs): the
         size-SMALLER side of every pair explodes only its INDEXING
         prefix p_i = s − ceil(2t/(1+t)·s) + 1 (≈ s/3 at t = 0.5) while
         the larger side probes with the full probing prefix
         p = s − ceil(t·s) + 1 (≈ s/2) — pairs are generated under the
         (s, id) lexicographic order, the asymmetry the published
         indexing-prefix lemma licenses for self-joins; the POSITIONAL
         filter 1 + min(s_a−pos_a, s_b−pos_b) ≥ α with
         α = ceil(t/(1+t)·(s_a+s_b)) (all exact integer ceils —
         (n + d − 1) DIV d, never float) drops matches where too little
         of either suffix remains to reach the required overlap.
         Because the order is frequency-ascending, prefix tokens have
         the smallest postings lists, so the self-join's fan-out is the
         minimum any token choice allows; the size filter
         (t·s_a ≤ s_b ≤ s_a/t, exact integer cross-multiply) is fused
         into the join condition so oversized pairs never materialize.
         When the prefix vocabulary is too small to parallelize the
         equi-join (hot tokens — the degenerate-corpus regime), the
         join is salted adaptively (_setsim_salts): bounded
         deterministic replication of the indexing side, S == 1 (plan
         untouched) whenever the vocabulary already gives ≥ 8 keys per
         core;
      4. verification — regime-split (r13).  The verification predicate
         is always inter·t_den ≥ union·t_num, the exact integer form of
         J ≥ t (a float `jaccard >= t` comparison flips on IEEE
         boundaries exactly at the threshold, e.g. 7/10 vs 0.7):

         * vocabulary ≤ 64 (the DENSE regime — a tiny vocabulary makes
           nearly every pair a candidate, so candidate volume is
           Ω(docs²) and per-pair cost must be O(1)): token sets become
           BIGINT bitmasks over the global rank order (rank =
           row_number over (df, token) on ≤ 64 rows), the intersection
           is bit_count(mask_a & mask_b), and a pair is emitted only
           from its FIRST common token (no common bit below the matched
           rank) — each qualifying pair survives EXACTLY once, fully
           verified, inside the candidate join's own pipelined stage:
           no candidate-dedup exchange, no verify join-backs, no
           per-row allocation (measured at sf0.1, vocab 31: a 59M-row
           distinct input and two 10.8M-row joins removed; post-join
           the plan is shuffle-free and every per-pair op is ALU-only).
           Completeness of emit-once: the first common token's
           positions are minimal among common tokens, so it sits
           inside both prefixes and passes the positional bound
           whenever ANY common token does.
         * vocabulary > 64 (the SPARSE regime — prefix postings are
           short, candidate duplication is low): candidates are
           deduplicated by (id_a, id_b) and joined back to the
           checkpointed doc arrays for the array_intersect
           verification — carrying full token arrays through the join
           was measured SLOWER here-shaped workloads than the dedup
           (per-match set allocation × duplication), so the narrow
           index + join-back shape is kept deliberately.

    The doc table is localCheckpointed once: candidate generation and
    (in the sparse regime) verification consume it repeatedly, and Spark
    would otherwise replay the two-shuffle build per use.  Docs whose
    normalized text has no tokens never pair (Jaccard with an empty set
    is 0 for any non-empty partner and undefined for two empty ones).
    Rows sharing an id merge into one token set (collect_set).
    """
    _check_setsim_threshold(t_num, t_den)
    toks = _setsim_toks(df, text_col, id_col)
    # checkpointed so the doc build reads the materialized df table instead
    # of re-aggregating it; the checkpoint's own job counts the vocabulary
    # for the regime/salt decision
    freq, (n_vocab, _h) = next_round(
        toks.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df")), None, ["_tok"]
    )
    n_salts = _setsim_salts(freq, n_vocab)
    if n_vocab <= 64:
        return _setsim_pairs_bitmask(toks, freq, t_num, t_den, n_salts)
    return _setsim_pairs_general(toks, freq, t_num, t_den, n_salts)


def _setsim_pair_cond(a, b, t_num: int, t_den: int, key: str, key_b: str):
    """The shared candidate-join condition of both setsim_pairs regimes:
    token/rank equality, the (s, id) lexicographic pair order (the
    indexed side a is the size-smaller doc, id tiebreak — the
    indexing-prefix lemma's self-join order), the surviving upper size
    bound (s_a ≤ s_b from the order subsumes the t·s_a ≤ s_b half), and
    the PPJoin positional filter 1 + min(s_a−pos_a, s_b−pos_b) ≥ α with
    α = ceil(t·(s_a+s_b)/(1+t)) — all exact integer ceils."""
    alpha = F.expr(
        f"({t_num} * (_sa + _sb) + {t_num + t_den} - 1) DIV {t_num + t_den}"
    )
    return (
        (a[key] == b[key_b])
        & (
            (a["_sa"] < b["_sb"])
            | ((a["_sa"] == b["_sb"]) & (a["id_a"] < b["id_b"]))
        )
        & (a["_sa"] * F.lit(t_den) >= b["_sb"] * F.lit(t_num))
        & (
            F.lit(1)
            + F.least(
                F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb")
            )
            >= alpha
        )
    )


def _setsim_salted(a, b, cond, n_salts: int, b_id: str):
    """Apply the small-vocabulary skew guard to a candidate join:
    replicate the (smaller) indexed side over every salt, key the
    probing side by its id's hash.  S == 1 returns the join unchanged —
    the common large-vocabulary case costs nothing."""
    if n_salts <= 1:
        return a, b, cond
    a = a.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    b = b.withColumn(
        "_salt", F.pmod(F.xxhash64(b_id), F.lit(n_salts)).cast("int")
    )
    return a, b, (a["_salt"] == b["_salt"]) & cond


def _setsim_emit(
    pairs: DataFrame, size_a: str, size_b: str, t_num: int, t_den: int
) -> DataFrame:
    """The verify-and-project tail of both setsim_pairs cores, over
    (id_a, id_b, `_inter`, set sizes `size_a`/`size_b`) pair rows:
    keep inter·t_den ≥ union·t_num (exact integer J ≥ t) and emit
    (id_a, id_b, n_common, n_union, jaccard)."""
    return (
        pairs.withColumn("_union", F.col(size_a) + F.col(size_b) - F.col("_inter"))
        .filter(F.col("_inter") * F.lit(t_den) >= F.col("_union") * F.lit(t_num))
        .select(
            # candidates ride the (s, id) order; the output contract stays
            # id_a < id_b, so canonicalize by id (symmetric stats unmoved)
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            F.col("_inter").cast("bigint").alias("n_common"),
            F.col("_union").cast("bigint").alias("n_union"),
            F.round(
                F.col("_inter").cast("double") / F.col("_union"), 4
            ).alias("jaccard"),
        )
    )


def _setsim_pairs_bitmask(
    toks: DataFrame, freq: DataFrame, t_num: int, t_den: int, n_salts: int
) -> DataFrame:
    """Dense-regime setsim_pairs core (|vocab| ≤ 64): token sets as
    BIGINT bitmasks over the global (df ASC, token ASC) rank order.
    Candidate volume here is Ω(docs²) — a 31-token vocabulary at sf0.1
    makes 71% of ALL doc pairs qualify — so per-pair work must be O(1):
    intersection = bit_count(mask_a & mask_b), and emit-once = "no
    common bit below the matched rank", both pure ALU ops with zero
    per-row allocation.  Each qualifying pair is emitted exactly once,
    fully verified, inside the candidate join's pipelined stage: no
    candidate-dedup exchange, no verify join-backs (guide §2.4 — the
    three heavy post-join exchanges of the sparse shape removed
    outright).  Index rows are 5 fixed-width columns (~40 B)."""
    from pyspark.sql import Window

    # rank = row_number over (df, token): ≤ 64 rows through one task —
    # bounded by the regime branch, never a table-sized window
    ranks = freq.withColumn(
        "_rank", F.row_number().over(Window.orderBy("_df", "_tok"))
    )
    one = F.lit(1).cast("long")
    docs = (
        toks.join(F.broadcast(ranks.select("_tok", "_rank")), "_tok")
        .groupBy("_id")
        .agg(
            F.sort_array(F.collect_set("_rank")).alias("_ranks"),
            F.bit_or(
                F.call_function("shiftleft", one, F.col("_rank") - F.lit(1))
            ).alias("_mask"),
        )
        .select("_id", "_mask", "_ranks", F.size("_ranks").alias("_s"))
        .withColumn("_p", _probe_prefix_len(t_num, t_den))
        .withColumn("_pi", _index_prefix_len(t_num, t_den))
        .localCheckpoint(eager=True)
    )

    def prefix(len_col: str) -> DataFrame:
        return docs.select(
            "_id",
            "_s",
            "_mask",
            F.posexplode(F.slice("_ranks", F.lit(1), F.col(len_col))).alias(
                "_pos0", "_rank"
            ),
        ).select(
            "_id", "_s", "_mask", (F.col("_pos0") + 1).alias("_pos"), "_rank"
        )

    a = prefix("_pi").select(
        F.col("_rank").alias("_rka"),
        F.col("_id").alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_pos").alias("_pa"),
        F.col("_mask").alias("_ma"),
    )
    b = prefix("_p").select(
        F.col("_rank").alias("_rkb"),
        F.col("_id").alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_pos").alias("_pb"),
        F.col("_mask").alias("_mb"),
    )
    cond = _setsim_pair_cond(a, b, t_num, t_den, "_rka", "_rkb")
    a, b, cond = _setsim_salted(a, b, cond, n_salts, "id_b")
    # bits strictly below the matched rank r: r−1 low bits.  Built with
    # shiftrightunsigned(−1, 64−(r−1)) — guarded at r == 1 because Java
    # shifts count mod 64 (a 64-shift would yield ALL bits, not none) —
    # so no expression here can overflow under ANSI (the naive
    # shiftleft(1, r−1) − 1 form hits bigint overflow at r == 64).
    below = F.when(F.col("_rka") == 1, F.lit(0).cast("long")).otherwise(
        F.call_function(
            "shiftrightunsigned",
            F.lit(-1).cast("long"),
            F.lit(64) - (F.col("_rka") - F.lit(1)),
        )
    )
    pairs = (
        a.join(b, cond)
        .select("id_a", "id_b", "_sa", "_sb", "_ma", "_mb", "_rka")
        .withColumn("_common", F.col("_ma").bitwiseAND(F.col("_mb")))
        # emit-once: this row's rank is the FIRST common token.  For a
        # qualifying pair the first common token sits inside both
        # prefixes and passes the positional bound (its positions are
        # minimal among common tokens, where the bound is weakest), so
        # completeness is inherited from the prefix lemma and each pair
        # survives exactly once — no dedup needed.
        .filter(F.col("_common").bitwiseAND(below) == 0)
        .withColumn("_inter", F.bit_count("_common").cast("int"))
    )
    return _setsim_emit(pairs, "_sa", "_sb", t_num, t_den)


def _setsim_pairs_general(
    toks: DataFrame, freq: DataFrame, t_num: int, t_den: int, n_salts: int
) -> DataFrame:
    """Sparse-regime setsim_pairs core (|vocab| > 64): the narrow-index
    PPJoin shape — candidates deduplicated by (id_a, id_b), then joined
    back to the checkpointed doc arrays for array_intersect
    verification.  In this regime prefix postings are short and
    candidate duplication is low, so the dedup exchange is small;
    carrying full token arrays on every index row (the dense-regime
    trick) was measured SLOWER here (per-match hash-set allocation ×
    duplication beats the saved exchange)."""
    # the probing side keeps _setsim_docs' `_p`
    docs = _setsim_docs(toks, freq, t_num, t_den).withColumn(
        "_pi", _index_prefix_len(t_num, t_den)
    )
    a = _setsim_pos_prefixes(docs, "_pi").select(
        F.col("_tok"),
        F.col("_id").alias("id_a"),
        F.col("_s").alias("_sa"),
        F.col("_pos").alias("_pa"),
    )
    b = _setsim_pos_prefixes(docs, "_p").select(
        F.col("_tok").alias("_tokb"),
        F.col("_id").alias("id_b"),
        F.col("_s").alias("_sb"),
        F.col("_pos").alias("_pb"),
    )
    cond = _setsim_pair_cond(a, b, t_num, t_den, "_tok", "_tokb")
    a, b, cond = _setsim_salted(a, b, cond, n_salts, "id_b")
    cand = a.join(b, cond).select("id_a", "id_b").distinct()
    da = docs.select(
        F.col("_id").alias("id_a"), F.col("_toks").alias("_ta"), F.col("_s").alias("_na")
    )
    db = docs.select(
        F.col("_id").alias("id_b"), F.col("_toks").alias("_tb"), F.col("_s").alias("_nb")
    )
    pairs = (
        cand.join(da, "id_a")
        .join(db, "id_b")
        .withColumn("_inter", F.size(F.array_intersect("_ta", "_tb")))
    )
    return _setsim_emit(pairs, "_na", "_nb", t_num, t_den)


class SetsimIndex(NamedTuple):
    """Persisted corpus prefix index for :func:`incremental_setsim`:
    the document-frequency table and the sorted-token doc table, both
    localCheckpointed so consecutive batches reuse the materialized
    build instead of re-tokenizing the corpus.  Thresholds ride along
    because the prefix length p is a FUNCTION of t — reusing an index
    built at a different threshold would silently under- or over-prune
    candidates, so the consumer validates them loudly."""

    freq: DataFrame
    docs: DataFrame
    t_num: int
    t_den: int


def setsim_index(
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    t_num: int = 7,
    t_den: int = 10,
) -> SetsimIndex:
    """Build the standing corpus index incremental_setsim consumes: in
    production this is built ONCE per corpus version and every arriving
    batch joins against it — the O(batch + collisions) claim holds only
    when the corpus tokenize + df shuffle + sort amortize across
    batches (SCALE.md, "Persisted-index probe for incremental_setsim",
    records 3 consecutive batches against one index)."""
    _check_setsim_threshold(t_num, t_den)
    ctoks = _setsim_toks(corpus, text_col, id_col)
    freq = (
        ctoks.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .localCheckpoint(eager=True)
    )
    return SetsimIndex(freq, _setsim_docs(ctoks, freq, t_num, t_den), t_num, t_den)


def incremental_setsim(
    corpus: DataFrame | None,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    t_num: int = 7,
    t_den: int = 10,
    index: SetsimIndex | None = None,
) -> DataFrame:
    """Batch-vs-history EXACT set-similarity check — the deterministic
    sibling of :func:`incremental_near_dups`: one row per batch document,
    (id, is_dup, best_jaccard, best_match_id), where is_dup is a
    GUARANTEE (∃ corpus doc with word-set Jaccard ≥ t_num/t_den), not an
    LSH probability.  best_* are NULL for clean documents.

    The shared-order requirement is the whole trick: the prefix-filter
    lemma needs BOTH sides' prefixes drawn from ONE global token order,
    so the order comes from the CORPUS document frequencies alone (in
    production that df table persists with the corpus prefix index and
    batches never perturb it — exactly why corpus-side prefixes stay
    valid between batches).  Batch tokens the corpus has never seen take
    df = 0: a consistent total-order extension (they land at the rarest
    end, where prefix tokens belong anyway).

    Scale shape: the corpus reduces to its prefix index (p ≈ (1−t)·s
    rows per doc) plus the sorted token arrays for verified candidates;
    the candidate join is batch-prefixes × corpus-prefixes on token with
    the exact integer size filter fused in — O(batch + collisions),
    never O(batch × corpus).  Verification is fused into the candidate
    stage (emit-once at the first common token, r13), and best-match
    selection is one map-side-combinable aggregate whose min-struct law
    ≡ ordering by the IEEE double inter/union DESC (identical in every
    engine for the same exact integers) with the corpus-id ASC tiebreak.
    Batch docs with no tokens come back clean (no token set ⇒ no
    Jaccard partner).
    """
    _check_setsim_threshold(t_num, t_den)
    if index is not None:
        if corpus is not None:
            # ambiguous call: silently preferring the index would dedup
            # against a potentially STALE corpus version while the passed
            # corpus is never consulted — is_dup=false lies for docs that
            # duplicate it.  Same loud-guard convention as the threshold
            # and NULL-id checks below.
            raise ValueError(
                "incremental_setsim: pass corpus OR index, not both "
                "(an index already embeds its corpus)"
            )
        if (index.t_num, index.t_den) != (t_num, t_den):
            # p = s − ceil(t·s) + 1 is threshold-dependent: an index built
            # at a different t has wrong prefixes for THIS query and would
            # silently miss (or over-generate) candidates
            raise ValueError(
                "incremental_setsim: index was built at threshold "
                f"{index.t_num}/{index.t_den}, query asks {t_num}/{t_den}"
            )
        freq, cdocs = index.freq, index.docs
    else:
        if corpus is None:
            raise ValueError("incremental_setsim: pass either corpus or index")
        idx = setsim_index(corpus, text_col, id_col, t_num, t_den)
        freq, cdocs = idx.freq, idx.docs
    n_salts = _setsim_salts(freq)
    # batch docs are exploded exactly once below (arrays ride the index
    # rows), so the materialization round-trip is skipped
    bdocs = _setsim_docs(
        _setsim_toks(batch, text_col, id_col), freq, t_num, t_den,
        checkpoint=False,
    )
    bp = _setsim_pos_prefixes(bdocs, "_p", with_arr=True).select(
        F.col("_tok"),
        F.col("_id").alias("_bid"),
        F.col("_s").alias("_bs"),
        F.col("_pos").alias("_bpos"),
        F.col("_toks").alias("_bt"),
    )
    cp = _setsim_pos_prefixes(cdocs, "_p", with_arr=True).select(
        F.col("_tok").alias("_ctok"),
        F.col("_id").alias("_cid"),
        F.col("_s").alias("_cs"),
        F.col("_pos").alias("_cpos"),
        F.col("_toks").alias("_ct"),
    )
    # PPJoin positional filter (valid for this R-S join: the per-pair
    # first-common-token argument only needs both prefixes drawn from the
    # ONE shared corpus-df order) — a match at position (pb, pc) survives
    # only if enough suffix remains on BOTH sides to reach the required
    # overlap α = ceil(t·(s_b+s_c)/(1+t)).
    alpha = F.expr(
        f"({t_num} * (_bs + _cs) + {t_num + t_den} - 1) DIV {t_num + t_den}"
    )
    cond = (
        (bp["_tok"] == cp["_ctok"])
        & (cp["_cs"] * F.lit(t_den) >= bp["_bs"] * F.lit(t_num))
        & (bp["_bs"] * F.lit(t_den) >= cp["_cs"] * F.lit(t_num))
        & (
            F.lit(1)
            + F.least(
                F.col("_bs") - F.col("_bpos"), F.col("_cs") - F.col("_cpos")
            )
            >= alpha
        )
    )
    # small-vocabulary skew guard: the batch side (the smaller one) is
    # the replicated side
    bp, cp, cond = _setsim_salted(bp, cp, cond, n_salts, "_cid")
    # Fused emit-once verification (r13, same law as setsim_pairs): the
    # exact intersection is computed on the join output in the same
    # pipelined stage and a (batch, corpus) pair survives only at its
    # FIRST common token under the shared corpus-df order — exactly once
    # per pair, so the old candidate `.distinct()` (49.4M rows at sf0.1)
    # and both verify join-backs disappear; best-match selection becomes
    # ONE map-side-combinable aggregate instead of a window over a
    # distinct (min over (−jaccard, corpus_id) structs ≡ the (jaccard
    # DESC, corpus_id ASC) row_number law — IEEE negation is exact).
    verified = (
        bp.join(cp, cond)
        .select("_bid", "_cid", "_bs", "_cs", "_bt", "_ct", "_tok")
        .withColumn("_int", F.array_intersect("_bt", "_ct"))
        .filter(F.get("_int", 0) == F.col("_tok"))
        .withColumn("_inter", F.size("_int"))
        .withColumn("_union", F.col("_bs") + F.col("_cs") - F.col("_inter"))
        .filter(F.col("_inter") * F.lit(t_den) >= F.col("_union") * F.lit(t_num))
        .withColumn("_jac", F.col("_inter").cast("double") / F.col("_union"))
    )
    best = (
        verified.groupBy("_bid")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_jac")).alias("_nj"), F.col("_cid").alias("_id")
                )
            ).alias("_m")
        )
        .select(
            "_bid",
            F.round(-F.col("_m._nj"), 4).alias("best_jaccard"),
            F.col("_m._id").alias("best_match_id"),
        )
    )
    # the final report join is null-UNSAFE by design, so a NULL batch id
    # would silently come back is_dup=false — raise loudly instead, the
    # convention every other id-keyed op in this module follows
    id_type = batch.schema[id_col].dataType.simpleString()
    ids = batch.select(
        F.when(
            F.col(id_col).isNull(),
            F.raise_error(
                F.lit("incremental_setsim: NULL batch ids are not allowed")
            ).cast(id_type),
        )
        .otherwise(F.col(id_col))
        .alias(id_col)
    ).distinct()
    return (
        ids.join(best, ids[id_col] == best["_bid"], "left")
        .select(
            id_col,
            F.col("best_match_id").isNotNull().alias("is_dup"),
            "best_jaccard",
            "best_match_id",
        )
    )
