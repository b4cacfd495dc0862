"""Corpus-level statistics and hygiene operators for LLM training data.

The round-1 suite covers per-document signals (quality, lang-ID, fingerprints)
and pairwise dedup (MinHash/SimHash/LSH).  This module adds the corpus-wide
operations a production pretraining pipeline runs between dedup and packing:

- **train/eval decontamination** — remove training documents that share an
  n-gram with a held-out benchmark set (the guard against eval leakage).
- **BM25 / TF-IDF ranking** — lexical relevance scoring for corpus search
  and per-document salient-term extraction.
- **token-window chunking** — split long documents into fixed-size,
  overlapping context windows (the step before sequence packing).
- **global top n-grams** — boilerplate detection via most-frequent phrases.

Everything is pure Catalyst (no Python UDFs) and md5-keyed so the DuckDB
oracle reproduces results bit-identically.  Scale notes are per-function;
the common theme is that the *corpus* side stays map-only wherever possible
and only small derived tables (benchmark n-grams, vocabulary document
frequencies) are shuffled or broadcast.

Reference provenance: the reference repo has no corpus analytics (it is an
ingestion framework); these operators extend SURVEY.md §6's LLM-pipeline
mandate, mirroring published pretraining-pipeline practice (GPT-3 §2.2
13-gram decontamination; Gopher/MassiveText repetition and quality filters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import next_round
from .dedup import shingles_from_words
from .text import word_positions, words


def ngram_hashes(wcol: Column, n: int) -> Column:
    """Distinct md5 hashes of the n-grams of a MATERIALIZED words column.

    Hashes (16-byte md5 hex) rather than raw n-gram strings are what travel
    through joins/shuffles: at n=8 a raw n-gram averages ~50 bytes and the
    hash is both smaller and fixed-width.  md5 keeps the DuckDB oracle
    bit-identical.
    """
    return F.array_distinct(
        F.transform(shingles_from_words(wcol, n), lambda s: F.md5(s))
    )


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Training docs sharing ≥1 n-gram with the eval/benchmark set.

    Returns ``(id_col, n_shared_grams)`` for every contaminated training
    document (GPT-3-style n-gram decontamination).

    Scale shape (the benchmark set is always tiny — thousands of docs —
    while train is the 100 TB side):

    1. eval side: explode its distinct n-gram hashes and ``distinct()``
       them — a shuffle of the *small* side only.
    2. train side: stage words once, explode n-gram hashes (map-only
       Generate, no shuffle), then **broadcast inner-join** against the
       eval grams — the train corpus is never shuffled.
    3. the per-doc ``count`` groups only the *matches* (rare by
       construction), not the corpus.

    n=4 here vs the published 8-13: the synthetic corpus draws from a
    ~30-word vocabulary, so 4-grams occupy the same "rare but present"
    collision regime that 13-grams do on web text.
    """
    ev_grams = (
        eval_df.select(words(F.col(text_col)).alias("_w"))
        .select(F.explode(ngram_hashes(F.col("_w"), n)).alias("g"))
        .distinct()
    )
    tr_grams = train.select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    ).select(F.col(id_col), F.explode(ngram_hashes(F.col("_w"), n)).alias("g"))
    return (
        tr_grams.join(F.broadcast(ev_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_grams"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Drop contaminated docs from ``train`` (anti-join on contaminated ids).

    The contaminated-id set is small (it is bounded by the benchmark's
    n-gram footprint), so the anti-join broadcasts and the train side
    stays shuffle-free end to end.
    """
    bad = contaminated_ids(train, eval_df, text_col, id_col, n).select(id_col)
    return train.join(F.broadcast(bad), id_col, "left_anti")


def join_singleton(df: DataFrame, one_row: DataFrame) -> DataFrame:
    """Attach a 1-row aggregate (corpus stats, doc count) to every row.

    Plans as BroadcastNestedLoopJoin with a 1-row build side — the right
    physical shape for a global-stats attach at any scale (the build side
    is a single broadcast row; the probe side streams map-side).  A
    literal-key equi-join would plan identically: Catalyst constant-folds
    the key back to a true-condition join.  Queries using this declare the
    shape in the plan-test whitelist (CROSS_JOINS_BY_DESIGN).
    """
    return df.crossJoin(F.broadcast(one_row))


def doc_lengths(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, token array, doc length) — the staged base for ranking scores."""
    return df.select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    ).withColumn("dl", F.size("_w"))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a fixed term list.

    Per-term contributions are computed as separate columns and added in
    *fixed query order* — a float sum via groupBy would be order-dependent
    and break bit-reproducibility.  Term frequencies come from
    ``size(filter(tokens, = term))`` on the staged token array: map-side,
    no explode, no shuffle of the corpus.  The only aggregation is one
    corpus-wide stats row (N, avgdl, per-term document frequencies) — a
    partial-agg reduce to a single row, broadcast back via cross join.
    avgdl divides two exact integer sums, so it is deterministic.

    idf uses the monotone BM25+ form ``ln(1 + (N - df + .5)/(df + .5))``,
    which keeps contributions positive for ultra-common terms.
    """
    base = doc_lengths(df, text_col, id_col)
    for i, t in enumerate(query_terms):
        base = base.withColumn(
            f"_tf{i}",
            F.size(F.filter(F.col("_w"), (lambda term: lambda x: x == term)(t))),
        )
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(query_terms))
        ],
    )
    scored = join_singleton(base, stats).withColumn(
        "avgdl", F.col("sum_dl") / F.col("n_docs")
    )
    score = F.lit(0.0)
    for i in range(len(query_terms)):
        idf = F.log(
            1.0
            + (F.col("n_docs") - F.col(f"_df{i}") + 0.5) / (F.col(f"_df{i}") + 0.5)
        )
        tf = F.col(f"_tf{i}")
        denom = tf + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
        score = score + idf * (tf * (k1 + 1.0)) / denom
    return scored.select(
        F.col(id_col), F.col("dl"), F.round(score, 4).alias("bm25")
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
) -> DataFrame:
    """Top-n salient terms per document by tf·idf.

    Plan: stage tokens → explode to (doc, term, tf) — the corpus-side
    shuffle on (doc, term) is a map-side-combinable count — then join the
    (small: vocabulary-sized) document-frequency table back by broadcast,
    and window-rank within each doc.  The per-doc window re-uses the same
    (id) partitioning the tf groupBy already produced, and ranks on the
    *rounded* score with the term string as final tiebreak so the cut is
    reproducible across engines.
    """
    toks = df.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    from pyspark.sql.window import Window

    scored = (
        join_singleton(tf.join(F.broadcast(dfreq), "term"), n_docs)
        .withColumn(
            "tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 4)
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= top_n)
        .select(id_col, "term", "tf", "tfidf", "rk")
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size overlapping token windows (the pre-packing chunking step).

    Window starts are ``1, 1+stride, 1+2·stride, …`` while a full-or-final
    window still begins before the end; each chunk carries its token count
    and an md5 content hash (slice → concat → md5 — all inside one
    projection).  Map-only: sequence + transform + explode, no shuffle, so
    at 100 TB this is embarrassingly parallel and chunk count per task is
    bounded by input split size.

    ``stride < chunk_size`` gives overlapping context windows; the final
    short chunk is kept (training pipelines pad or pack it downstream).
    """
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(F.col("_w")) - (chunk_size - stride), F.lit(1)), F.lit(stride)
    )
    base = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    chunked = base.select(
        F.col(id_col),
        F.size("_w").alias("dl"),
        F.posexplode(
            F.transform(starts, lambda s: F.slice(F.col("_w"), s, chunk_size))
        ).alias("chunk_idx", "_chunk"),
    )
    return chunked.select(
        F.col(id_col),
        "chunk_idx",
        F.size("_chunk").alias("chunk_tokens"),
        F.md5(F.array_join("_chunk", " ")).alias("chunk_hash"),
    )


def lm_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document add-one-smoothed unigram LM mean log-likelihood — the
    classic cheap fluency/quality signal for corpus filtering (documents
    scoring far below the corpus mean are boilerplate, non-language, or
    mojibake).

    Scale shape: one (term) groupBy builds the vocabulary (map-side
    combinable), one tiny aggregate derives (V, N), and the per-document
    score is explode → vocab join → groupBy(doc) — all equi-joins on
    uniform keys; the vocabulary join broadcasts at test scale and
    degrades gracefully to a shuffle join when the vocab outgrows the
    threshold (plain equi-join, no hint lock-in).

    Float discipline: per-token log-probs are rounded to 8 dp and summed
    as DECIMAL(18,8), so the per-doc sum is EXACT and shuffle-order-
    independent — a raw double sum over an exploded token table would be
    order-dependent and unreproducible across engines (and across runs).
    """
    base = doc_lengths(df, text_col, id_col)
    toks = base.select(F.col(id_col), F.explode("_w").alias("term"))
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    stats = vocab.agg(
        F.count("*").alias("v"), F.sum("c").alias("n_tok")
    )
    scored = join_singleton(toks.join(vocab, "term"), stats)
    logp = F.round(
        F.log((F.col("c") + F.lit(1)) / (F.col("n_tok") + F.col("v"))), 8
    ).cast("decimal(18,8)")
    per_doc = scored.groupBy(id_col).agg(
        F.sum(logp).alias("_ll"), F.count(F.lit(1)).alias("n_tokens")
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.col("_ll").cast("double") / F.col("n_tokens"), 4).alias("avg_logp"),
    )


def top_ngrams(
    df: DataFrame,
    text_col: str = "text",
    n: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Most frequent n-grams corpus-wide (boilerplate/template detector).

    Explode n-grams (map-only) → count by gram (map-side partial agg does
    the heavy lifting; the shuffle carries one row per *distinct* gram per
    partition) → global top-k with a total order (count desc, gram asc) so
    the cut is deterministic.  TakeOrderedAndProject keeps the final sort
    driver-cheap: each partition contributes only its local top-k.
    """
    grams = df.select(words(F.col(text_col)).alias("_w")).select(
        F.explode(shingles_from_words(F.col("_w"), n)).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(top_k)
    )


def dsir_logweights(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance log-weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every document
    by how much more likely its unigrams are under a TARGET distribution
    (a curated subset, selected by `is_target`) than under the full-corpus
    source distribution.  High log-weight documents look like the target;
    resampling by weight shifts the corpus toward it.

    log w(doc) = Σ_t log( p_tgt(t) / p_src(t) ), add-one smoothed over the
    SHARED source vocabulary (target counts of unseen terms are 0, never
    missing — a left join with coalesce, so the ratio is defined for every
    corpus token).

    Scale shape: two term groupBys (map-side combinable) build the two
    count tables over the same key space; the per-document score is
    explode → vocab join → groupBy(doc).  The vocabulary join broadcasts
    at test scale and degrades to a plain shuffle equi-join beyond the
    threshold.  The target subset never needs to fit anywhere — only its
    term counts do.

    Float discipline (same as :func:`lm_scores`): per-token log-ratios are
    rounded to 8 dp and summed as DECIMAL(18,8), so the per-doc sum is
    exact and shuffle-order-independent across engines.
    """
    base = df.select(
        F.col(id_col), words(F.col(text_col)).alias("_w"), is_target.alias("_tgt")
    )
    toks = base.select(F.col(id_col), "_tgt", F.explode("_w").alias("term"))
    src_vocab = toks.groupBy("term").agg(F.count("*").alias("c_src"))
    tgt_vocab = (
        toks.filter(F.col("_tgt")).groupBy("term").agg(F.count("*").alias("c_tgt"))
    )
    # NOT checkpointed, deliberately: same-methodology A/B at sf0.1
    # (fresh JVM per run, both variants) measured NO win from
    # materializing this vocab join (2.25-2.47 s with vs ~2.30 s
    # without) — its two consumers (stats total + scoring join) share
    # the aggregates' exchanges at runtime, so the eager join job buys
    # nothing here, unlike pmi/bigram_lm where the checkpoint removed
    # real tokenize re-runs.  Default to lazy when the measurement is
    # neutral.
    vocab = src_vocab.join(tgt_vocab, "term", "left").select(
        "term", "c_src", F.coalesce("c_tgt", F.lit(0)).alias("c_tgt")
    )
    stats = vocab.agg(
        F.count("*").alias("v"),
        F.sum("c_src").alias("n_src"),
        F.sum("c_tgt").alias("n_tgt"),
    )
    scored = join_singleton(toks.join(vocab, "term"), stats)
    log_ratio = F.round(
        F.log(
            ((F.col("c_tgt") + F.lit(1)) / (F.col("n_tgt") + F.col("v")))
            / ((F.col("c_src") + F.lit(1)) / (F.col("n_src") + F.col("v")))
        ),
        8,
    ).cast("decimal(18,8)")
    per_doc = scored.groupBy(id_col).agg(
        F.sum(log_ratio).alias("_lw"), F.count(F.lit(1)).alias("n_tokens")
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.round(F.col("_lw").cast("double"), 4).alias("dsir_logw"),
    )


def boilerplate_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """Flag documents containing any corpus-wide top-k n-gram — the
    boilerplate/template filter that composes :func:`top_ngrams` with a
    per-document membership probe (MassiveText-style repeated-template
    removal, driven by the corpus's own statistics instead of a curated
    phrase list).

    Scale shape: the top-k table is tiny by construction (k rows) and
    broadcasts; the document side explodes its DISTINCT n-grams map-side
    and semi-joins — one row per (doc, matched gram) candidate, collapsed
    by the distinct before the left join back.  The corpus is scanned
    twice (once for global counts, once for membership) — unavoidable
    without materializing per-doc gram sets, which would dwarf the text.
    """
    top = top_ngrams(df, text_col, n, top_k).select("gram")
    grams = df.select(
        F.col(id_col), words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_words(F.col("_w"), n))).alias("gram"),
    )
    hit = (
        grams.join(F.broadcast(top), "gram")
        .select(id_col)
        .distinct()
        .withColumn("_hit", F.lit(True))
    )
    return df.select(F.col(id_col)).join(hit, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col("_hit"), F.lit(False)).alias("is_boilerplate")
    )


def bpe_merges(
    df: DataFrame, text_col: str = "text", n_merges: int = 3
) -> DataFrame:
    """Distributed BPE tokenizer training: learn the top `n_merges` merge
    rules from the corpus.  Returns (merge_rank, pair, merged, pair_count)
    — the merge table a BPE tokenizer is built from.

    This is the scalable word-frequency formulation every production BPE
    trainer uses: ONE corpus pass builds the (word, freq) vocabulary
    table (map-side-combinable groupBy — the only corpus-sized shuffle);
    every merge round then runs over the VOCABULARY (types, not tokens) —
    at 100 TB that table is millions of rows where the corpus is
    trillions, so the iterative part never touches the corpus again.

    Round semantics (identical in the DuckDB oracle): words start as
    space-separated characters; pair counts are adjacent-symbol counts
    weighted by word frequency; the argmax pair (count desc, pair asc —
    deterministic tie-break) merges via literal space-padded replace,
    applied 4× because a single leftmost-nonoverlapping replace pass
    skips alternate occurrences of self-overlapping runs ('a b a b': the
    first match consumes the shared boundary space).  4 passes reach the
    fixpoint for any run of ≤ 8 adjacent pair occurrences.  Integer
    counts + literal string ops — no floats anywhere, so cross-engine
    parity is exact.  The per-round vocab table localCheckpoints: the
    segmentation column would otherwise nest 4 replaces per round
    multiplicatively into one expression tree.
    """
    merges, _ = _bpe_train(df, text_col, n_merges)
    return merges


def _bpe_train(
    df: DataFrame, text_col: str, n_merges: int
) -> tuple[DataFrame, DataFrame]:
    """Shared BPE trainer: returns (merge table, final per-word
    segmentation table (word, freq, seg)).  See bpe_merges for semantics
    and the scale argument; bpe_encode reuses the segmentation table so
    train→encode is one plan with no driver-side collect of the rules."""
    vocab = (
        df.select(F.explode(words(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    seg_tbl = vocab.select(
        "word",
        "freq",
        F.array_join(F.regexp_extract_all("word", F.lit("."), 0), " ").alias("seg"),
    ).localCheckpoint(eager=True)

    best_rows = []
    for r in range(n_merges):
        syms = seg_tbl.select("freq", F.split(F.col("seg"), " ").alias("_s"))
        # single-symbol words contribute no pairs; guard the sequence —
        # Spark's sequence(1, 0) would count DOWN, not return empty
        idx = F.when(
            F.size("_s") > 1, F.sequence(F.lit(1), F.size("_s") - 1)
        ).otherwise(F.array().cast("array<int>"))
        pairs = syms.select(
            "freq",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.concat_ws(
                        " ", F.element_at(F.col("_s"), i.cast("int")),
                        F.element_at(F.col("_s"), (i + 1).cast("int")),
                    ),
                )
            ).alias("pair"),
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
            .limit(1)
            .select(
                F.lit(r + 1).cast("bigint").alias("merge_rank"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "pair_count",
            )
            .localCheckpoint(eager=True)
        )
        best_rows.append(best)
        padded = F.concat(F.lit(" "), F.col("seg"), F.lit(" "))
        search = F.concat(F.lit(" "), F.col("_bp"), F.lit(" "))
        repl = F.concat(F.lit(" "), F.col("_bm"), F.lit(" "))
        for _ in range(4):
            padded = F.replace(padded, search, repl)
        # LEFT join on TRUE + coalesce: a round with NO learnable pair
        # (best is empty — e.g. every word is a single symbol already)
        # leaves the segmentation UNCHANGED instead of emptying the table
        # through an inner cross-join with zero rows
        seg_tbl = next_round(
            seg_tbl.join(
                F.broadcast(
                    best.select(
                        F.col("pair").alias("_bp"), F.col("merged").alias("_bm")
                    )
                ),
                F.lit(True),
                "left",
            )
            .select(
                "word",
                "freq",
                F.coalesce(F.trim(padded), F.col("seg")).alias("seg"),
            ),
            seg_tbl,
        )
    out = best_rows[0]
    for b in best_rows[1:]:
        out = out.union(b)
    return out, seg_tbl


def bpe_encode(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 3,
) -> DataFrame:
    """Tokenize the corpus with a BPE model trained on it — the encode half
    of the tokenizer story (:func:`bpe_merges` is training).  Per document:
    (id, n_words, n_tokens, tokens_md5) where the token stream is each
    word's final segmentation in document order and tokens_md5 digests it.

    Word-level BPE encoding is a LOOKUP, not a per-token loop: identical
    words segment identically, so the merge rules are applied once to the
    vocabulary (types — millions of rows at 100 TB) and the corpus is
    encoded by one equi-join on the word.  The sequential part (merge
    rounds) therefore never touches the corpus; the corpus-sized work is
    the word-position explode, the join, and the bounded per-doc rebuild —
    the same shapes as segment_dedup.  Single in-rank-order application,
    matching how the rules were learned; no driver-side collect — each
    round's rule is a broadcast 1-row join (see _bpe_train).
    """
    _, seg_tbl = _bpe_train(df, text_col, n_merges)
    joined = word_positions(df, text_col, id_col).join(seg_tbl.select("word", "seg"), "word")
    seg_structs = F.array_sort(
        F.collect_list(F.struct(F.col("pos"), F.col("seg")))
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_words"),
        F.sum(F.size(F.split("seg", " ")).cast("bigint")).alias("n_tokens"),
        F.md5(
            F.array_join(F.transform(seg_structs, lambda s: s["seg"]), " ")
        ).alias("tokens_md5"),
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 3,
    max_count: int = 1,
) -> DataFrame:
    """CCNet-style segment-level deduplication (Wenzek et al. 2020): split
    each document into consecutive `seg_len`-word segments (the
    paragraph/line analog for unstructured text), drop every segment whose
    exact content occurs more than `max_count` times corpus-wide, and
    report per document: (id, n_segments, n_kept, kept_md5) where kept_md5
    digests the surviving segments re-joined in order.

    Scale shape (100 TB): segmentation is a map-side explode of DISJOINT
    slices (total copied bytes = corpus size, not corpus × seg_len); the
    global frequency table is one groupBy on md5-uniform segment digests —
    the only corpus-sized shuffle — and the mark-join is an equi-join on
    the same uniform keys, never a broadcast (on crawl data the frequent-
    segment table is huge: that is the point of the filter).  The per-doc
    rebuild is a single groupBy(id) whose collect_list holds one document's
    segments — bounded by max document size, the same invariant every
    per-doc operator in this package relies on.
    """
    wdf = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    nseg = F.floor((F.size("_w") + F.lit(seg_len - 1)) / F.lit(seg_len)).cast("int")
    segs = wdf.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), nseg),
                lambda i: F.struct(
                    i.cast("bigint").alias("seg_idx"),
                    F.concat_ws(
                        " ",
                        F.slice(
                            F.col("_w"), (i - 1) * seg_len + 1, seg_len
                        ),
                    ).alias("seg"),
                ),
            )
        ).alias("_s"),
    ).select(id_col, "_s.seg_idx", "_s.seg", F.md5("_s.seg").alias("_h"))
    freq = segs.groupBy("_h").agg(F.count("*").alias("_cnt"))
    marked = segs.join(freq, "_h").select(
        id_col, "seg_idx", "seg", (F.col("_cnt") <= max_count).alias("_keep")
    )
    kept_structs = F.array_sort(
        F.collect_list(
            F.when(F.col("_keep"), F.struct(F.col("seg_idx"), F.col("seg")))
        )
    )
    return marked.groupBy(id_col).agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("_keep").cast("bigint")).alias("n_kept"),
        F.md5(
            F.array_join(F.transform(kept_structs, lambda s: s["seg"]), " ")
        ).alias("kept_md5"),
    )


def gopher_repetition(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 3,
) -> DataFrame:
    """The Gopher repetition filters (Rae et al. 2021, Table A1) per
    document: duplicate-line fraction, duplicate-line CHARACTER fraction,
    and top-bigram character fraction.  "Lines" are consecutive
    `seg_len`-word segments — the same line analog for unstructured text
    as segment_dedup (CCNet); the metric laws are the paper's.

    - dup_seg_frac: fraction of segment instances whose content occurs
      more than once WITHIN the document.
    - dup_seg_char_frac: fraction of segment characters in such segments.
    - top_bigram_char_frac: characters covered by the document's most
      frequent word bigram (count × gram length / doc length); ties break
      to the lexicographically smallest gram so both engines pick one row.

    Scale shape: everything is per-document — segment/bigram explode is
    map-side, the count tables group on (id, content) whose cardinality
    is bounded by document size, and the per-doc aggregates shuffle on
    uniform ids.  No corpus-wide frequency table at all (contrast
    segment_dedup, which is the cross-document variant).
    """
    from pyspark.sql.window import Window

    # materialized ONCE: the segment branch and the bigram branch both read
    # the tokenized projection — without this the normalize+split tokenizer
    # runs twice over the full corpus (same device as dedup.lsh_bands)
    wdf = df.select(
        F.col(id_col), F.length(text_col).alias("_nch"), words(F.col(text_col)).alias("_w")
    ).localCheckpoint(eager=True)
    nseg = F.floor((F.size("_w") + F.lit(seg_len - 1)) / F.lit(seg_len)).cast("int")
    seg_idx = F.when(nseg >= 1, F.sequence(F.lit(1), nseg)).otherwise(
        F.array().cast("array<int>")
    )
    segs = wdf.select(
        id_col,
        F.explode(
            F.transform(
                seg_idx,
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("_w"), (i - 1) * seg_len + 1, seg_len)
                ),
            )
        ).alias("seg"),
    )
    segc = segs.groupBy(id_col, "seg").agg(F.count("*").alias("_cnt"))
    segstats = segc.groupBy(id_col).agg(
        F.round(
            F.sum(F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(0))
            / F.sum("_cnt"),
            4,
        ).alias("dup_seg_frac"),
        F.round(
            F.sum(
                F.when(F.col("_cnt") > 1, F.col("_cnt") * F.length("seg")).otherwise(0)
            )
            / F.greatest(F.sum(F.col("_cnt") * F.length("seg")), F.lit(1)),
            4,
        ).alias("dup_seg_char_frac"),
    )
    npair = F.size("_w") - 1
    pair_idx = F.when(npair >= 1, F.sequence(F.lit(1), npair)).otherwise(
        F.array().cast("array<int>")
    )
    bigrams = wdf.select(
        id_col,
        "_nch",
        F.explode(
            F.transform(
                pair_idx,
                lambda i: F.concat(
                    F.element_at("_w", i), F.lit(" "), F.try_element_at("_w", i + 1)
                ),
            )
        ).alias("g"),
    )
    bigc = bigrams.groupBy(id_col, "_nch", "g").agg(F.count("*").alias("_cnt"))
    w = Window.partitionBy(id_col).orderBy(F.col("_cnt").desc(), F.col("g"))
    top = (
        bigc.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            id_col,
            F.round(
                F.col("_cnt") * F.length("g") / F.greatest("_nch", F.lit(1)), 4
            ).alias("top_bigram_char_frac"),
        )
    )
    # LEFT join: a 1-word document has segments but no bigram — it must
    # still be scored (top-bigram coverage 0.0), not silently dropped
    return segstats.join(top, id_col, "left").withColumn(
        "top_bigram_char_frac", F.coalesce("top_bigram_char_frac", F.lit(0.0))
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Pairwise n-gram overlap matrix between corpus sources — the
    cross-source contamination / redundancy profile a mixing pipeline
    consults before setting source weights (a source whose grams are mostly
    contained in another adds little diversity at full weight).

    For every unordered source pair (a < b): the distinct-k-gram set sizes,
    the intersection size, Jaccard = |A∩B| / |A∪B| and containment =
    |A∩B| / min(|A|,|B|), both rounded to 4 decimals.

    Scale shape (100 TB): per-doc grams collapse map-side via
    array_distinct before exploding; the global distinct on (source, hash)
    is one shuffle on md5-uniform composite keys; the pair intersection is
    a self equi-join on the hash — per-gram fan-out is bounded by the
    number of sources carrying that gram (≤ n_sources, NOT corpus size),
    and the outputs (sizes, pair counts) are n_sources² rows at most, so
    the size join is broadcast-eligible by the cost model.
    """
    grams = (
        df.select(F.col(group_col).alias("src"), words(F.col(text_col)).alias("_w"))
        .select("src", F.explode(ngram_hashes(F.col("_w"), k)).alias("h"))
        .distinct()
    )
    sizes = grams.groupBy("src").agg(F.count("*").alias("n_grams"))
    a = grams.select(F.col("src").alias("source_a"), "h")
    b = grams.select(F.col("src").alias("source_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        common.join(sizes.withColumnsRenamed({"src": "source_a", "n_grams": "_na"}), "source_a")
        .join(sizes.withColumnsRenamed({"src": "source_b", "n_grams": "_nb"}), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("_na").alias("n_grams_a"),
            F.col("_nb").alias("n_grams_b"),
            "n_common",
            F.round(
                F.col("n_common") / (F.col("_na") + F.col("_nb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
            F.round(F.col("n_common") / F.least("_na", "_nb"), 4).alias(
                "containment"
            ),
        )
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document interpolated bigram-LM mean log-likelihood:
    p(w2|w1) = 0.75·c(w1,w2)/c(w1·) + 0.25·p_uni(w2) with add-one unigram
    backoff — one notch up from :func:`lm_scores` on the fluency axis
    (catches scrambled-word documents a unigram model scores as fluent).
    Returns (id, n_bigrams, avg_logp2) over documents with ≥2 words.

    Scale shape: bigram and context counts are two map-side-combinable
    groupBys over the pair table; scoring is explode → three equi-joins on
    uniform token keys (broadcast-eligible while the vocab fits, plain
    shuffle joins beyond).  Float discipline as in lm_scores: per-pair
    log-probs round to 8 dp and sum as DECIMAL(18,8) — exact,
    order-independent; interpolation weights 0.75/0.25 are exact binary.
    """
    wdf = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    toks = wdf.select(F.col(id_col), F.explode("_w").alias("term"))
    # vocab and big are each consumed twice (their own total/context
    # aggregate + the scoring join); both are VOCABULARY-sized, so the
    # materialization is near-free and caps the corpus tokenize+explode
    # at one pass per count table (the pmi_collocations pattern).  The
    # corpus-sized `pairs`/`toks` stay lazy — materializing those is the
    # semdedup-class losing trade.
    vocab = toks.groupBy("term").agg(F.count("*").alias("cu")).localCheckpoint(eager=True)
    stats = vocab.agg(
        F.count("*").alias("v"), F.sum("cu").alias("n_tok")
    )
    npos = F.size("_w") - F.lit(1)
    idx = F.when(npos >= 1, F.sequence(F.lit(1), npos)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = wdf.select(
        F.col(id_col),
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("_w"), i).alias("w1"),
                    F.element_at(F.col("_w"), i + 1).alias("w2"),
                ),
            )
        ).alias("_p"),
    ).select(id_col, "_p.w1", "_p.w2")
    big = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2")).localCheckpoint(eager=True)
    ctx = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    scored = join_singleton(
        pairs.join(big, ["w1", "w2"])
        .join(ctx, "w1")
        .join(vocab.withColumnRenamed("term", "w2"), "w2"),
        stats,
    )
    p = F.lit(0.75) * F.col("c2") / F.col("c1") + F.lit(0.25) * (
        (F.col("cu") + F.lit(1)) / (F.col("n_tok") + F.col("v"))
    )
    logp = F.round(F.log(p), 8).cast("decimal(18,8)")
    per_doc = scored.groupBy(id_col).agg(
        F.sum(logp).alias("_ll"), F.count(F.lit(1)).alias("n_bigrams")
    )
    return per_doc.select(
        F.col(id_col),
        F.col("n_bigrams"),
        F.round(F.col("_ll").cast("double") / F.col("n_bigrams"), 4).alias(
            "avg_logp2"
        ),
    )


def batch_retrieval(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 top-k documents for a BATCH of queries — the offline
    retrieval-evaluation / hard-negative-mining workload (score a
    benchmark's queries against the training corpus in one plan).

    Different shape from bm25_scores (which scores EVERY doc against one
    fixed term list, map-side): here the corpus becomes an inverted
    index — (doc, term, tf) postings, ONE corpus shuffle shared with the
    df table — and the query batch joins INTO it.

    Scale shape (100 TB corpus, thousands of queries): the query-term
    table broadcasts (n_queries × terms rows), so postings not matching
    any query term are dropped MAP-SIDE at the index scan — the
    (query, doc) aggregation only shuffles matched postings.  The top-k
    cut is a per-query row_number, which Spark plans as WindowGroupLimit
    on both sides of its exchange: each task ships at most top_k rows
    per query.

    Determinism: per-term contributions are rounded to 6 dp and summed
    as DECIMAL(18,6) — decimal addition is exact and commutative, so the
    score is independent of aggregation order (a raw float sum over a
    dynamic term set would be order-dependent; bm25_scores avoids that
    with fixed-order column addition, which cannot work when terms come
    from data).  idf/avgdl laws match bm25_scores exactly.  Ties on
    score break on doc id, so the cut itself is reproducible.

    Returns (query_id, rank, doc_id, score) with rank 1..top_k.
    """
    from pyspark.sql.window import Window

    base = doc_lengths(docs, text_col, id_col)
    stats = base.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    qtoks = queries.select(
        F.col(query_id_col), words(F.col(query_text_col)).alias("_qw")
    )
    # qterms is consumed twice (the semi probe below and the query
    # fanout) and relevant twice (df + scoring).  Without a
    # materialization Catalyst rebuilds each consumer's whole subtree, so
    # the corpus explode+aggregate — the ONE big shuffle this operator is
    # designed around — appears three times in the unmaterialized plan
    # (verified: 3 corpus scans).  Checkpoint both reuse boundaries:
    # qterms is query-vocabulary-sized (tiny), and relevant is the
    # MATCHED postings — its term SET is query-bounded but its ROW count
    # is match-bounded: a stop-wordy query term that appears in nearly
    # every document makes `relevant` approach the full postings size,
    # so provision executor block storage (MEMORY_AND_DISK, like
    # graph.pagerank's edge pin) for one copy of the 4-column pruned
    # index at the worst-case match rate, not for the query vocabulary.
    # The write still wins when it fits: it is exactly the data every
    # downstream consumer needs, and replaces two extra full-corpus
    # scan+tokenize passes (sf0.1 A/B: floor 10.69 -> 7.78 s).  The two
    # checkpoints stay pinned under the returned plan for the session
    # (they cannot be freed — the result reads them).
    qterms = (
        qtoks.select(F.col(query_id_col), F.explode("_qw").alias("term"))
        .filter(F.col("term") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # prune the exploded token stream to query terms FIRST (semi on the
    # broadcast query vocabulary, evaluated map-side at the scan), and
    # derive the df table from the PRUNED postings — per-term df is
    # unchanged by term-level pruning, and the broadcast is then bounded
    # by the query vocabulary, never the corpus vocabulary (a full-vocab
    # dfreq broadcast is unbounded in corpus size and would not survive
    # 100 TB).  The tf aggregation's exchange is an EXPLICIT hash(doc)
    # repartition at defaultParallelism: hash(doc) satisfies the
    # clustering of BOTH this groupBy and the downstream (query, doc)
    # score aggregation (each pair's postings are co-located, so partial
    # aggregation collapses pairs fully map-side and neither agg needs
    # another exchange), and the user-specified partition count is
    # exempt from AQE coalescing — without it the tiny-bytes postings
    # shuffle coalesces to one partition and the ~50x query fanout join
    # (the expensive stage, whose output AQE cannot foresee) runs on a
    # single core at any byte size (measured: 5.3M fanout rows on 1
    # task, 3.5 s of the 7.8 s standalone floor at sf0.1).
    dp = docs.sparkSession.sparkContext.defaultParallelism
    matched_toks = (
        base.select(F.col(id_col), F.col("dl"), F.explode("_w").alias("term"))
        .filter(F.col("term") != "")
        .join(F.broadcast(qterms.select("term").distinct()), "term", "left_semi")
    )
    relevant = (
        matched_toks.repartition(dp, F.col(id_col))
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = relevant.groupBy("term").agg(F.count("*").alias("df"))
    scored = join_singleton(relevant.join(F.broadcast(dfreq), "term"), stats)
    idf = F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") / (F.col("sum_dl") / F.col("n_docs"))
    )
    contrib = F.round(idf * (F.col("tf") * (k1 + 1.0)) / denom, 6).cast(
        "decimal(18,6)"
    )
    # contrib is a function of the posting (tf, dl) and per-term/corpus
    # stats (df, n_docs, sum_dl) — never of the query — so evaluate it
    # ONCE per matched posting BEFORE the query fanout join; the fanout
    # replicates a finished decimal instead of re-running
    # log/divide/round per (query, posting) row.  Catalyst does not
    # hoist expressions below joins by itself.
    posting_scores = scored.select("term", F.col(id_col), contrib.alias("_c"))
    pair_scores = (
        posting_scores.join(F.broadcast(qterms), "term")
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_c").alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        pair_scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(query_id_col, "rank", id_col, "score")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Collocation mining: consecutive word pairs scored by PMI and NPMI
    — the phrase-detection step (word2vec-style "new_york" merging,
    boilerplate-phrase discovery) a pretraining pipeline runs between
    tokenization and vocabulary construction.

    Law (engine-portable, both engines compute it identically):

      pmi  = round(ln((c_ab / N_bi) / ((c_a / N_uni) * (c_b / N_uni))), 9)
      npmi = round(pmi_unrounded / -ln(c_ab / N_bi), 9)   in [-1, 1]

    with exact integer counts (c_ab, c_a, c_b, N_bi, N_uni) and double
    division/log as the only float steps (the PSI-pinned 9-dp parity).

    Scale shape: tokenize ONCE (staged `_w`, never inlined into the HOF
    — the plan-guarded pattern), one explode+groupBy per n-gram order
    (map-side combine collapses to vocabulary size), `min_count` prunes
    the bigram tail BEFORE the two vocabulary-keyed joins, and the two
    corpus totals attach as 1-row broadcasts (join_singleton).  Nothing
    downstream of the explodes is corpus-sized — at 100 TB the joins
    move vocabulary tables, not documents.
    """
    w = df.select(words(F.col(text_col)).alias("_w"))

    # both vocabulary tables are consumed 2-3 times (their corpus total
    # + the scored joins); each is VOCABULARY-sized, so materializing is
    # near-free and caps the corpus tokenize+explode at exactly one pass
    # per n-gram order — without it the total aggregate and each join
    # consumer can re-run the explode (5 static corpus scans in the lazy
    # plan).  The favorable case of the materialize-only-when-measured
    # rule: tiny write, heavy subtree (cf. semdedup's documented revert).
    uni = (
        w.select(F.explode("_w").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .localCheckpoint(eager=True)
    )
    n_uni = uni.agg(F.sum("c_uni").alias("n_uni"))

    toks = F.col("_w")
    pairs = F.filter(
        F.transform(
            toks,
            lambda t, i: F.struct(
                t.alias("w1"), F.try_element_at(toks, i + 2).alias("w2")
            ),
        ),
        lambda p: p["w2"].isNotNull(),
    )
    bi = (
        w.select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .localCheckpoint(eager=True)
    )
    n_bi = bi.agg(F.sum("c_ab").alias("n_bi"))

    scored = (
        bi.where(F.col("c_ab") >= min_count)
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c_uni", "c_a"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c_uni", "c_b"), "w2")
    )
    scored = join_singleton(join_singleton(scored, n_uni), n_bi)

    p_ab = F.col("c_ab").cast("double") / F.col("n_bi").cast("double")
    p_a = F.col("c_a").cast("double") / F.col("n_uni").cast("double")
    p_b = F.col("c_b").cast("double") / F.col("n_uni").cast("double")
    pmi_raw = F.log(p_ab / (p_a * p_b))
    return scored.select(
        "w1",
        "w2",
        "c_ab",
        "c_a",
        "c_b",
        F.round(pmi_raw, 9).alias("pmi"),
        # a corpus whose every bigram is this one pair has -ln(p_ab) = 0:
        # NPMI is undefined there (NULL), not an inf that poisons sorts
        F.when(F.col("c_ab") < F.col("n_bi"), F.round(pmi_raw / -F.log(p_ab), 9))
        .alias("npmi"),
    )


def phrase_search(
    docs: DataFrame,
    phrases: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
    qid_col: str = "query_id",
) -> DataFrame:
    """Exact PHRASE search: which documents contain each query phrase as a
    consecutive token run (the positional companion to batch_retrieval's
    bag-of-words BM25 — "new york times" must not match a doc containing
    the three words scattered).

    Returns (qid_col, id_col, n_occurrences, first_pos) — one row per
    (phrase, doc) with ≥1 occurrence; positions are 1-based over the
    normalized token stream (the same `words` law every text operator
    shares).

    Law: start s matches iff doc[s+o] == phrase[o] for every offset o.
    Distributed as the COUNT-PER-START identity: explode doc tokens with
    positions (map-only Generate over the staged `_w`), broadcast-join
    the phrase tokens-with-offsets (query batches are always tiny), emit
    candidate (doc, query, s = pos − off); a start matches iff its
    candidate count equals the phrase length — each offset contributes
    exactly one row iff its token matches, and (pos, off) pairs cannot
    collide at the same s.  So: one broadcast map-side join, ONE shuffle
    of candidates (rows whose tokens appear anywhere in a phrase — the
    published refinement at 100 TB is anchoring on each phrase's rarest
    token to shrink candidates; the verify law is unchanged), and a
    query×doc-sized final aggregate.  No self-join of the corpus, no
    per-doc regex (a regex would re-scan raw text and disagree with the
    token law).

    Phrases that normalize to nothing raise loudly (an empty token list
    would "match" everywhere or nowhere depending on convention — make
    the caller decide).
    """
    reserved = {"_w", "_pw", "_pwc", "_pos", "_tok", "_off", "_plen", "_s", "_m", "_rid"}
    if {id_col, qid_col} & reserved:
        raise ValueError("phrase_search: id/query columns collide with internals")
    # _rid = per-ROW identity (map-only, no shuffle): the count-per-start
    # identity is only valid per physical row, so candidates group on the
    # row, never on id_col — duplicated doc_ids would otherwise merge two
    # rows' candidates and silently produce BOTH false negatives (counts
    # doubled past plen) and phantom cross-row matches.  _rid values are
    # partition-dependent but are only ever a grouping key, never emitted,
    # so the result stays deterministic; (doc, query) occurrences then SUM
    # across rows sharing an id (the same law the oracle's per-row cross
    # join + GROUP BY id produces).
    d = docs.select(
        F.col(id_col),
        words(F.col(text_col)).alias("_w"),
        F.monotonically_increasing_id().alias("_rid"),
    )
    dtok = d.select(id_col, "_rid", F.posexplode("_w").alias("_pos", "_tok"))
    p = phrases.select(F.col(qid_col), words(F.col(phrase_col)).alias("_pw"))
    # normalize_text("") → [""]: a phrase of only punctuation/whitespace
    # yields one empty token; a NULL phrase tokenizes to NULL.  Both are
    # rejected loudly — NULL would otherwise explode to zero rows and the
    # query would silently vanish from the output.
    degenerate = (
        F.col("_pw").isNull()
        | (F.size("_pw") == 0)
        | F.exists(F.col("_pw"), lambda t: t == "")
    )
    # the raise rides the GENERATOR INPUT, not a sibling projection: a NULL
    # array explodes to zero output rows, so a per-output-row guard column
    # would never evaluate and the NULL phrase would silently vanish
    checked = F.when(
        degenerate,
        F.raise_error(F.lit("phrase_search: phrase normalizes to no tokens")),
    ).otherwise(F.col("_pw"))
    ptok = p.select(qid_col, checked.alias("_pwc")).select(
        qid_col, F.size("_pwc").alias("_plen"), F.posexplode("_pwc").alias("_off", "_tok")
    )
    cand = (
        dtok.join(F.broadcast(ptok), "_tok")
        .select(
            id_col,
            "_rid",
            qid_col,
            "_plen",
            (F.col("_pos") - F.col("_off") + 1).alias("_s"),
        )
        .filter(F.col("_s") >= 1)
    )
    hits = (
        cand.groupBy("_rid", id_col, qid_col, "_plen", "_s")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") == F.col("_plen"))
    )
    return hits.groupBy(qid_col, id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.min("_s").cast("bigint").alias("first_pos"),
    )


def hashed_embedding(
    df: DataFrame,
    text_col: str,
    id_col: str,
    dim: int = 64,
    salt: str = "emb-v1",
) -> DataFrame:
    """(id, vec) — signed hashing-trick bag-of-words embedding: vec has
    `dim` exact BIGINT components, component b = Σ over token
    occurrences hashing to bucket b of a ±1 sign bit.  The feature-
    hashing construction (Weinberger et al. 2009): sparse-JL-style, so
    dot products approximate token-multiset overlap and the output
    composes directly with the vector stack — kmeans_assign, semdedup,
    srp_near_dup_pairs, embedding_covariance/pca all accept it — giving
    every embedding operator a TEXT on-ramp with no model weights.

    Engine-portable and exact: bucket = first 48 md5 bits of
    (salt|token) mod dim, sign = parity of the DISJOINT 13th hex char
    (the HLL disjoint-ranges idiom); components are exact integer sums,
    so any partitioning gives bit-identical vectors and a DuckDB twin
    reproduces them.

    Plan: tokenize once, explode, ONE groupBy(id, bucket) with map-side
    combine (the shuffle carries ≤ dim partial sums per doc per
    partition), then an id-keyed assembly aggregate builds the dense
    array via map lookup over sequence(0, dim-1).  Docs whose
    normalized text has no tokens emit nothing (no zero-vector row —
    they carry no signal, and emitting one would cost a corpus-wide
    left join).
    """
    if dim < 1:
        raise ValueError("dim must be >= 1")
    toks = df.select(
        F.col(id_col), F.explode(words(F.col(text_col))).alias("_tok")
    ).filter(F.col("_tok") != "")
    h = F.md5(F.concat(F.lit(salt + "|"), F.col("_tok")))
    bucket = (
        F.conv(F.substring(h, 1, 12), 16, 10).cast("bigint") % F.lit(dim)
    ).alias("_b")
    sign = F.when(
        F.conv(F.substring(h, 13, 1), 16, 10).cast("bigint") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1)).alias("_s")
    sums = (
        toks.select(F.col(id_col), bucket, sign)
        .groupBy(id_col, "_b")
        .agg(F.sum("_s").alias("_v"))
    )
    assembled = sums.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("_b"), F.col("_v")))
        ).alias("_m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda b: F.coalesce(
            F.element_at(F.col("_m"), b.cast("bigint")), F.lit(0).cast("bigint")
        ),
    )
    return assembled.select(F.col(id_col), vec.alias("vec"))
