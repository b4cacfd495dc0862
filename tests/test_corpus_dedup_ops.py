"""Semantic laws of the span/fingerprint/segment/sketch operators.

Each operator is oracle-backed at the driver gate (value-exact vs DuckDB);
these tests pin the *algorithmic guarantees* the oracle comparison alone
cannot express: span maximality, the MOSS coverage law, CCNet rebuild
semantics, and KMV's lossless-below-k / bounded-error-above-k behavior.
"""

from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F

from etl_scripts_spark.operators.corpus import segment_dedup
from etl_scripts_spark.operators.dedup import dup_ngram_spans, winnow_fingerprints
from etl_scripts_spark.operators.sketch import kmv_distinct


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


def test_dup_ngram_spans_merges_to_maximal_span(spark):
    """Two docs sharing a 10-word run at n=3: the 8 duplicated gram starts
    merge into ONE maximal span covering exactly the shared words, in both
    docs, at their respective offsets."""
    shared = " ".join(f"s{i}" for i in range(10))
    texts = [
        "aa bb cc " + shared + " dd ee",
        shared + " zz yy xx ww vv uu tt",
        "qq rr ss tt uu vv ww xx yy zz nn mm",  # unrelated filler
    ]
    rows = dup_ngram_spans(_docs(spark, texts), n=3).collect()
    spans = {r.doc_id: (r.span_start, r.span_end, r.n_dup_grams) for r in rows}
    assert spans[0] == (4, 13, 8)  # words 4..13 of doc 0
    assert spans[1][0] == 1 and spans[1][1] >= 10


def test_dup_ngram_spans_needs_cross_doc_duplication(spark):
    """A gram repeated only WITHIN one document is not a duplicate at
    min_docs=2, and docs shorter than n yield no grams at all."""
    texts = ["p q r p q r p q r", "one two"]
    rows = dup_ngram_spans(_docs(spark, texts), n=3, min_docs=2).collect()
    assert rows == []


def test_winnow_coverage_law(spark):
    """MOSS guarantee: any shared run of ≥ w+n-1 words yields at least one
    shared fingerprint; and selection density stays near 2/(w+1)."""
    n, w = 4, 5
    rng = random.Random(20260814)
    vocab = [f"v{i:03d}" for i in range(500)]
    shared = " ".join(rng.sample(vocab, w + n - 1))  # minimal guaranteed run
    a = " ".join(rng.sample(vocab, 40)) + " " + shared
    b = shared + " " + " ".join(rng.sample(vocab, 40))
    fps = winnow_fingerprints(_docs(spark, [a, b]), n=n, w=w).collect()
    by_doc = {0: set(), 1: set()}
    for r in fps:
        by_doc[r.doc_id].add(r.fp_hash)
    assert by_doc[0] & by_doc[1], "guaranteed shared fingerprint missing"
    # density: ~2/(w+1)=0.33 of gram positions selected; allow wide slack
    n_grams = (40 + 1 + w + n - 1) - n + 1
    assert len(by_doc[0]) <= 0.7 * n_grams


def test_winnow_short_doc_single_fingerprint(spark):
    """A doc with fewer than w grams contributes its global minimum once."""
    rows = winnow_fingerprints(
        _docs(spark, ["a b c d e"]), n=4, w=5
    ).collect()  # 2 grams < w → one truncated window
    assert len(rows) == 1


def test_segment_dedup_drops_repeated_segment_and_rebuilds(spark):
    """The duplicated 3-word segment is dropped from BOTH docs; kept_md5
    digests the surviving segments joined in order."""
    texts = [
        "dup dup dup alpha beta gamma",
        "dup dup dup delta epsilon zeta",
    ]
    rows = segment_dedup(_docs(spark, texts), seg_len=3, max_count=1).collect()
    out = {r.doc_id: r for r in rows}
    assert out[0].n_segments == 2 and out[0].n_kept == 1
    assert out[0].kept_md5 == hashlib.md5(b"alpha beta gamma").hexdigest()
    assert out[1].kept_md5 == hashlib.md5(b"delta epsilon zeta").hexdigest()


def test_segment_dedup_unique_doc_untouched(spark):
    text = "one two three four five six"
    rows = segment_dedup(_docs(spark, [text]), seg_len=3).collect()
    assert rows[0].n_kept == rows[0].n_segments == 2
    assert rows[0].kept_md5 == hashlib.md5(text.encode()).hexdigest()


def test_kmv_lossless_below_k_and_bounded_above(spark):
    """Groups with < k distinct values estimate exactly; a 2000-distinct
    group at k=64 lands within 4 standard errors (4/sqrt(k) ≈ 50%)."""
    rows = [("small", f"x{i}") for i in range(10)]
    rows += [("big", f"y{i}") for i in range(2000)]
    df = spark.createDataFrame(rows, "g string, v string")
    out = {r.g: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert out["small"].est_distinct == 10.0
    assert out["small"].exact_distinct == 10
    assert abs(out["big"].est_distinct - 2000) / 2000 < 0.5
    # determinism: a second run returns the identical estimate
    again = {r.g: r for r in kmv_distinct(df, "g", "v", k=64).collect()}
    assert again["big"].est_distinct == out["big"].est_distinct


def test_dup_span_removal_rebuilds_survivors(spark):
    """Words covered by a cross-doc duplicated 3-gram vanish from BOTH docs;
    untouched docs keep everything (n_kept == n_words, digest of the
    normalized text)."""
    from etl_scripts_spark.operators.dedup import dup_span_removal

    shared = " ".join(f"s{i}" for i in range(10))
    texts = [
        "aa bb cc " + shared + " dd ee",
        shared + " zz yy",
        "totally unrelated words here only once",
    ]
    rows = dup_span_removal(_docs(spark, texts), n=3).collect()
    out = {r.doc_id: r for r in rows}
    # doc 0: 15 words, the 10 shared ones removed
    assert out[0].n_words == 15 and out[0].n_kept == 5
    assert out[0].cleaned_md5 == hashlib.md5(b"aa bb cc dd ee").hexdigest()
    assert out[1].n_kept == 2
    assert out[1].cleaned_md5 == hashlib.md5(b"zz yy").hexdigest()
    # doc 2 untouched
    assert out[2].n_kept == out[2].n_words == 6
    assert out[2].cleaned_md5 == hashlib.md5(
        b"totally unrelated words here only once"
    ).hexdigest()


def test_source_overlap_identical_and_disjoint(spark):
    """Two sources with identical gram sets → jaccard = containment = 1;
    disjoint sources produce NO row (no shared gram survives the join)."""
    from etl_scripts_spark.operators.corpus import source_overlap

    rows = spark.createDataFrame(
        [
            ("a", "one two three four"),
            ("b", "one two three four"),
            ("c", "five six seven eight"),
        ],
        "source string, text string",
    )
    out = source_overlap(rows, "text", "source", k=3).collect()
    pairs = {(r.source_a, r.source_b): r for r in out}
    assert set(pairs) == {("a", "b")}
    ab = pairs[("a", "b")]
    assert ab.jaccard == 1.0 and ab.containment == 1.0
    assert ab.n_grams_a == ab.n_grams_b == ab.n_common == 2


def test_cms_never_underestimates_and_is_deterministic(spark):
    """CMS point estimates are >= exact counts for every probed value, equal
    when no collision lands in all d rows, and bit-stable across runs."""
    from etl_scripts_spark.operators.sketch import cms_build, cms_estimate

    rows = [(f"v{i % 50}",) for i in range(1000)] + [("rare",)]
    df = spark.createDataFrame(rows, "v string")
    cms = cms_build(df, "v", d=4, w=1024)
    items = df.distinct()
    est = {r.v: r.cms_count for r in cms_estimate(cms, items, "v").collect()}
    exact = {r.v: r["cnt"] for r in df.groupBy("v").agg(F.count("*").alias("cnt")).collect()}
    assert set(est) == set(exact)
    assert all(est[v] >= exact[v] for v in exact)
    # 51 distinct values into 1024 buckets x 4 rows: no full-collision chain
    assert est["rare"] == 1
    est2 = {r.v: r.cms_count for r in cms_estimate(cms, items, "v").collect()}
    assert est2 == est


def test_hashed_feature_score_matches_reference(spark):
    """The score equals the hand-computed mean centered md5 weight over
    unigrams + joined bigrams of the normalized text."""
    from etl_scripts_spark.operators.text import hashed_feature_score, words as words_col
    from pyspark.sql import functions as SF

    text = "Alpha beta gamma delta"
    toks = ["alpha", "beta", "gamma", "delta"]
    feats = toks + ["alpha_beta", "beta_gamma", "gamma_delta"]
    total = sum(
        int(hashlib.md5(f"qw|{f}".encode()).hexdigest()[:12], 16) - (1 << 47)
        for f in feats
    )
    want = round(total / (len(feats) * float(1 << 47)), 6)
    df = spark.createDataFrame([(text,)], "text string").select(
        words_col(SF.col("text")).alias("_w")
    )
    n, score = hashed_feature_score(SF.col("_w"))
    row = df.select(n.alias("n"), score.alias("s")).collect()[0]
    assert row.n == len(feats)
    assert row.s == want


def test_bpe_encode_known_merges(spark):
    """Corpus ['aaab aaab', 'ab']: rounds learn (a a)->aa, (a b)->ab,
    (aa ab)->aaab, so 'aaab' encodes to ONE token and 'ab' to one token
    (never merged further — 'a b' was consumed inside aaab's path)."""
    from etl_scripts_spark.operators.corpus import bpe_encode

    rows = bpe_encode(
        _docs(spark, ["aaab aaab", "ab"]), n_merges=3
    ).collect()
    out = {r.doc_id: r for r in rows}
    assert out[0].n_words == 2 and out[0].n_tokens == 2
    assert out[0].tokens_md5 == hashlib.md5(b"aaab aaab").hexdigest()
    assert out[1].n_words == 1 and out[1].n_tokens == 1
    assert out[1].tokens_md5 == hashlib.md5(b"ab").hexdigest()


def test_histogram_sketch_merge_and_quantile_error(spark):
    """Histogram sketches are mergeable (sum of two halves' counters ==
    sketch of the union) and the quantile estimate lands within one bin
    width of the exact quantile."""
    from etl_scripts_spark.operators.sketch import histogram_quantile, histogram_sketch

    vals = [(i % 3, float(v)) for i, v in enumerate(range(1000))]
    df = spark.createDataFrame(vals, "g int, v double")
    lo, hi, bins = 0.0, 1024.0, 64
    whole = histogram_sketch(df, "g", "v", lo, hi, bins)
    h1 = histogram_sketch(df.filter("v < 500"), "g", "v", lo, hi, bins)
    h2 = histogram_sketch(df.filter("v >= 500"), "g", "v", lo, hi, bins)
    merged = (
        h1.union(h2)
        .groupBy("g", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))
    est = {r.g: r.est for r in histogram_quantile(whole, "g", 0.5, lo, hi, bins).collect()}
    import statistics

    for g in (0, 1, 2):
        exact = statistics.median([v for gg, v in vals if gg == g])
        assert abs(est[g] - exact) <= (hi - lo) / bins, (g, est[g], exact)


def test_incremental_near_dups_flags_copies_not_novel(spark):
    """A batch doc copying a historical doc is flagged with jaccard 1.0 and
    the right match id; a novel batch doc gets (False, NULL, NULL)."""
    from etl_scripts_spark.operators.dedup import incremental_near_dups

    hist = _docs(spark, [
        "the quick brown fox jumps over the lazy dog again and again",
        "completely different historical content about other things",
    ])
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog again and again"),
            (101, "novel text sharing nothing with history qq ww ee rr tt yy"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in incremental_near_dups(hist, batch).collect()}
    assert rows[100].is_dup and rows[100].best_jaccard == 1.0
    assert rows[100].best_match_id == 0
    assert not rows[101].is_dup
    assert rows[101].best_jaccard is None and rows[101].best_match_id is None


def test_bpe_rounds_beyond_learnable_merges_keep_segmentation(spark):
    """A merge round with NO remaining pair (every word fully merged) must
    leave the segmentation unchanged, not empty the vocabulary table: with
    corpus ['ab'] only one merge is learnable, yet n_merges=3 still encodes
    every document."""
    from etl_scripts_spark.operators.corpus import bpe_encode, bpe_merges

    rows = bpe_encode(_docs(spark, ["ab"]), n_merges=3).collect()
    assert len(rows) == 1
    assert rows[0].n_words == 1 and rows[0].n_tokens == 1
    assert rows[0].tokens_md5 == hashlib.md5(b"ab").hexdigest()
    merges = bpe_merges(_docs(spark, ["ab"]), n_merges=3).collect()
    assert [(m.merge_rank, m.pair, m.merged) for m in merges] == [(1, "a b", "ab")]


def test_kmv_overlap_estimates_jaccard(spark):
    """Identical value sets estimate Jaccard 1.0, disjoint sets 0.0 (the
    pair row still exists — unlike exact overlap, sketches compare every
    pair), and a constructed 1/3-Jaccard pair lands within 4 standard
    errors (4/sqrt(k) ≈ 0.35 at k=128)."""
    from etl_scripts_spark.operators.sketch import kmv_bottoms, kmv_overlap

    rows = []
    for i in range(900):
        rows.append(("a", f"x{i}"))                 # a = x0..x899
        rows.append(("b", f"x{i + 450}"))           # b = x450..x1349, |∩|/|∪| = 1/3
        rows.append(("c", f"x{i}"))                 # c == a
        rows.append(("d", f"z{i}"))                 # disjoint from all
    df = spark.createDataFrame(rows, "g string, v string")
    sk = kmv_bottoms(df, "g", "v", k=128)
    out = {(r.source_a, r.source_b): r for r in kmv_overlap(sk, "g", k=128).collect()}
    assert out[("a", "c")].est_jaccard == 1.0
    assert out[("a", "d")].est_jaccard == 0.0
    assert abs(out[("a", "b")].est_jaccard - 1 / 3) < 0.35
    assert len(out) == 6  # every unordered pair compared


def test_retention_cohort_law(spark):
    """A user's events land in their first-event cohort at the correct
    week offsets, and each (cohort, offset) counts a user once regardless
    of how many events fall in that week."""
    from __spark_entry__ import q_retention_cohorts
    import pyspark.sql.functions as SF

    rows = [
        # user 1: first event week w, events at +0, +0, +2 weeks
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-02 00:00:00", "click"),
        (1, "2024-01-15 00:00:00", "view"),
        # user 2: same cohort week, only week 0
        (2, "2024-01-03 00:00:00", "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, event_id string")
    df = df.select(
        "user_id", SF.col("ts").cast("timestamp").alias("ts"),
        SF.monotonically_increasing_id().alias("event_id"),
        SF.col("event_id").alias("event_type"),
    )
    import tempfile, os
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {(r.cohort_week, r.week_offset): r.n_users
           for r in q_retention_cohorts(spark, d).collect()}
    offsets = sorted(k[1] for k in out)
    assert offsets == [0, 2], out          # +0 dedup'd, +2 present
    assert all(v in (1, 2) for v in out.values())
    week0 = [v for (c, o), v in out.items() if o == 0]
    assert week0 == [2]                     # both users active in week 0
