"""Text-analysis operators for the training-data pipeline extensions.

All pure Catalyst expressions (no Python in the hot path): tokenization,
token counting (whitespace + BPE-ish regex), document quality scoring,
n-gram language-ID heuristic, and content fingerprinting.  Hashes use md5 so
the DuckDB oracle reproduces them bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny marker-word lists for the n-gram language-ID heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "la", "de", "que", "los"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def normalize_text(text: Column) -> Column:
    """lower → strip non-alnum → collapse whitespace (dedup-canonical form)."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def words(text: Column) -> Column:
    return F.split(normalize_text(text), " ")


def word_positions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, word): every word of `words(text)` with its 1-based
    position — the one per-word explode under the span-removal and
    BPE-encode rebuilds.  The tokenizer runs once, in its own select (a
    HOF over the raw tokenizer expression would inline it per element)."""
    wdf = df.select(F.col(id_col), words(F.col(text_col)).alias("_w"))
    # lambda(e, i) is the (element, index) HOF form, index 0-based
    return wdf.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.col("_w"),
                lambda w, i: F.struct(
                    (i + 1).cast("bigint").alias("pos"), w.alias("word")
                ),
            )
        ).alias("_p"),
    ).select(id_col, "_p.pos", "_p.word")


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(F.trim(text), r"\s+"))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_TOKEN_REGEX), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are not alnum/space, 4 decimals."""
    stripped = F.regexp_replace(text, "[A-Za-z0-9 ]", "")
    return F.round(F.length(stripped) / F.greatest(F.length(text), F.lit(1)), 4)


def stopword_ratio(text: Column) -> Column:
    toks = words(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.round(hits / F.greatest(F.size(toks), F.lit(1)), 4)


def mean_word_length(text: Column) -> Column:
    toks = words(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.round(total / F.greatest(F.size(toks), F.lit(1)), 4)


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: long enough, low punctuation,
    non-degenerate stopword rate.  Deterministic; 4 decimals."""
    length_term = F.least(F.length(text) / F.lit(400.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(text) * 5, F.lit(1.0))
    stop = stopword_ratio(text)
    stop_term = F.when((stop > 0.01) & (stop < 0.5), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round((length_term * 0.4 + punct_term * 0.3 + stop_term * 0.3), 4)


def lang_scores(toks: Column) -> dict[str, Column]:
    """Marker-word hit counts per language over a distinct-token array."""

    def marker_pred(markers: list[str]):
        # single-arg lambda on purpose: a 2-param lambda becomes (element, index)
        return lambda t: t.isin(markers)

    return {
        lang: F.size(F.filter(toks, marker_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def distinct_tokens(text: Column) -> Column:
    return F.array_distinct(words(text))


def lang_id_from_tokens(toks: Column) -> Column:
    """argmax language by marker hits; ties broken by fixed lang order; 'und'
    when nothing matches.  Pass a pre-materialized token column — HOF lambdas
    defeat CSE, so deriving tokens here 4× would re-tokenize 4×."""
    scores = lang_scores(toks)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in ("en", "de", "fr", "es"):
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


#: PII patterns (shared dialect subset of Java regex and RE2 so the DuckDB
#: oracle matches byte-for-byte): emails, and digit runs long enough to be
#: phone/account numbers.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_NUMBER_REGEX = r"[0-9]{7,}"


def word_repetition_ratio(toks: Column) -> Column:
    """Fraction of tokens that repeat an earlier token (Gopher-style
    repetition quality signal): 1 - distinct/total, 4 decimals.  Pass a
    materialized token array (see :func:`lang_id_from_tokens` for why)."""
    n = F.size(toks)
    return F.round(
        (n - F.size(F.array_distinct(toks))) / F.greatest(n, F.lit(1)), 4
    )


def pii_counts(text: Column) -> tuple[Column, Column]:
    """(n_emails, n_long_numbers) found in the raw text."""
    return (
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_REGEX), 0)),
        F.size(F.regexp_extract_all(text, F.lit(LONG_NUMBER_REGEX), 0)),
    )


def mask_pii(text: Column) -> Column:
    """Replace emails with <EMAIL> and long digit runs with <NUM>.

    Email masking runs first so an address's digits are not half-eaten by
    the number rule.  Pure regexp_replace — at 100 TB this is a map-only
    projection with no shuffle.
    """
    return F.regexp_replace(
        F.regexp_replace(text, EMAIL_REGEX, "<EMAIL>"),
        LONG_NUMBER_REGEX,
        "<NUM>",
    )


def fingerprint(text: Column) -> Column:
    """Whole-document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


# bit k of a hex digit, as the set of hex chars having that bit set —
# lets both Spark and DuckDB read md5 bits with substring+IN, no conv().
HEX_BIT_SETS = [
    ["1", "3", "5", "7", "9", "b", "d", "f"],
    ["2", "3", "6", "7", "a", "b", "e", "f"],
    ["4", "5", "6", "7", "c", "d", "e", "f"],
    ["8", "9", "a", "b", "c", "d", "e", "f"],
]


def simhash64_from_tokens(toks: Column) -> Column:
    """64-bit SimHash over distinct normalized tokens.

    Signature bit j = (p-1)*4 + k is read from bit k of md5 hex digit p
    (1-based) of each token; bit j of the signature is set iff the signed
    vote sum over tokens is positive.  Cross-engine reproducible: md5 hex
    is identical in Spark and DuckDB, and bit membership is a hex-char set
    test (HEX_BIT_SETS), not integer conversion.

    One aggregate pass: md5 is computed once per token, all 64 votes ride
    in a single array accumulator (zip_with), and the signature is
    assembled in the finish lambda.  Bit 63 enters as the bigint-min
    literal so the signed 64-bit sum is exact in both engines.  A 64-bit
    signature keeps equal-signature groups from saturating as the corpus
    grows — the 16-bit predecessor produced quadratic band-join output.

    Kernel shape: the expression stays COMPACT (transform over
    sequence(0,63) with dynamic shifts via call_function) instead of
    64-way Python unrolling — the unrolled tree costs ~1.7 s of driver
    analysis per plan and is 3× slower to execute; bit extraction is
    integer shift/mask on two conv()'d 32-bit halves, no per-bit string
    allocation.  shiftleft(1L, 63) wraps to bigint-min on the JVM, which
    is exactly the oracle's literal weight for bit 63.

    Pass a materialized token column — votes over a recomputed-token
    expression would tokenize repeatedly.
    """
    ms = F.transform(toks, F.md5)
    halves = F.transform(
        ms,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h0"),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h1"),
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(63))

    def tok_bits(h: Column) -> Column:
        def bit(j: Column) -> Column:
            # signature bit j = (p-1)*4 + k reads bit k of md5 hex digit p;
            # conv() is big-endian, so digit p sits at bits (7-q)*4 of its
            # 32-bit half (q = 0-based digit index within the half).
            q = F.floor(j / 4) % 8
            shift = (F.lit(7) - q) * 4 + (j % 4)
            half = F.when(j < 32, h["h0"]).otherwise(h["h1"])
            return (
                F.call_function("shiftright", half, shift.cast("int"))
                .bitwiseAND(F.lit(1))
                * 2
                - 1
            )

        return F.transform(idx, bit)

    def to_sig(votes: Column) -> Column:
        return F.aggregate(
            idx,
            F.lit(0).cast("bigint"),
            lambda acc, j: acc
            + F.when(
                F.element_at(votes, (j + 1).cast("int")) > 0,
                F.call_function("shiftleft", F.lit(1).cast("bigint"), j.cast("int")),
            ).otherwise(F.lit(0).cast("bigint")),
        )

    return F.aggregate(
        halves,
        F.array_repeat(F.lit(0).cast("bigint"), 64),
        lambda acc, h: F.zip_with(acc, tok_bits(h), lambda a, b: a + b),
        to_sig,
    )


def simhash_band(sig: Column, i: int) -> Column:
    """16-bit pigeonhole band i (0..3) of a 64-bit simhash.  Arithmetic
    shift + mask extracts the same bits in Spark and DuckDB regardless of
    the sign bit (the mask discards the sign fill)."""
    banded = F.shiftright(sig, 16 * i) if i else sig
    return banded.bitwiseAND(F.lit(65535))


def simhash_near_dup_pairs(
    docs, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
):
    """Near-dup pairs via 64-bit SimHash + 4×16-bit pigeonhole banding.

    Any pair within hamming distance 3 agrees exactly on at least one of
    the four bands (pigeonhole), so four equi-joins on 16-bit keys bound
    the candidate set; bit_count(xor) verifies.  Hamming is filtered
    INSIDE each band join, before the distinct — the final distinct
    shuffles only surviving (id_a, id_b, hamming) triples.

    Scale: the 64-bit signature space does not saturate, so pair output
    grows ~linearly with the true near-dup count, not quadratically with
    corpus size (tests/test_stages.py asserts the linear-growth law).
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    sig = docs.select(
        F.col(id_col).alias("doc_id"),
        simhash64_from_tokens(distinct_tokens(F.col(text_col))).alias("simhash"),
    )
    return hamming_near_dup_pairs(sig, sig_col="simhash", max_hamming=max_hamming)


def hamming_near_dup_pairs(
    sig, id_col: str = "doc_id", sig_col: str = "simhash", max_hamming: int = 3
):
    """The generic 4×16-bit pigeonhole band join over ANY 64-bit
    signature column — shared by text SimHash and the image aHash
    (multimodal.image_near_dup_pairs), so the banding law lives once.
    `sig` is a (id, 64-bit signature) frame; returns
    (id_a, id_b, hamming) with id_a < id_b.  See simhash_near_dup_pairs
    for the pigeonhole/scale argument.

    ONE self-join, not four: each signature explodes into its four
    (band_id, band_hash) rows and a single equi-join on that composite key
    produces exactly the union the per-band joins did (a pair agreeing on
    several bands appears once per agreeing band; the final distinct dedups
    either way — value-identical, ABAB-measured 2.1× faster: the four-join
    form paid 4 join stages + 3 unions of re-reads of the same checkpoint,
    this form pays one exchange pair on a key whose band_id component
    keeps the four bucket spaces disjoint).  At scale the single join
    shuffles the same 4 rows/signature the four joins read in aggregate,
    with one sort/hash instead of four."""
    # localCheckpoint, not persist(): computed once for both join sides,
    # blocks freed on GC instead of leaking a pinned cache.
    bands = (
        sig.select(
            F.col(id_col).alias("doc_id"),
            F.col(sig_col).alias("_sig"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_id"),
                            simhash_band(F.col(sig_col), i).alias("band_hash"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("_b"),
        )
        .select("doc_id", "_sig", "_b.band_id", "_b.band_hash")
        .localCheckpoint(eager=True)
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    a = bands.select(
        F.col("doc_id").alias("id_a"),
        F.col("_sig").alias("sa"),
        "band_id",
        "band_hash",
    )
    b = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("_sig").alias("sb"),
        F.col("band_id").alias("band_id_b"),
        F.col("band_hash").alias("band_hash_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_id") == F.col("band_id_b"))
            & (F.col("band_hash") == F.col("band_hash_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter(ham <= max_hamming)
        .select("id_a", "id_b", ham.cast("bigint").alias("hamming"))
        .distinct()
    )


def unigram_bigram_features(toks: Column) -> Column:
    """unigrams ++ '_'-joined bigrams as ONE array column — the feature
    law shared by hashed_feature_score and classifier.hashed_features
    (q_hashed_quality and q_train_classifier must hash the SAME features,
    so the construction lives in exactly one place).

    try_element_at: past-the-end is NULL (plain element_at throws under
    ANSI); concat (not concat_ws) lets that NULL poison the incomplete
    last pair, which the isNotNull filter then drops.  `toks` must be a
    MATERIALIZED words-array column (see shingles_from_words for why the
    tokenizer expression must not be inlined into HOF lambdas)."""
    bigrams = F.filter(
        F.transform(
            toks,
            lambda t, i: F.concat(t, F.lit("_"), F.try_element_at(toks, i + 2)),
        ),
        lambda g: g.isNotNull(),
    )
    return F.concat(toks, bigrams)


def hashed_feature_score(toks: Column, salt: str = "qw") -> tuple[Column, Column]:
    """(n_features, score): hash-kernel linear scorer over unigram+bigram
    features — the Spark shape of a fastText-style document quality
    classifier (featurize with a hashing trick, dot the weight vector,
    threshold).  Weights here are a fixed deterministic random projection:
    w(f) = (first 48 bits of md5(salt|f)) - 2^47, an exact BIGINT in
    [-2^47, 2^47); the score is the mean weight over the document's
    features, scaled to [-1, 1] and rounded to 6 decimals.

    The feature sum is exact integer arithmetic (order-independent — no
    float-summation drift between engines or between partitionings); only
    the final normalization divides in double, which both engines evaluate
    identically (IEEE).  A trained classifier swaps the md5 projection for
    a broadcast weight table joined on the same feature hash — identical
    plan shape plus one broadcast join; everything stays map-side either
    way: zero shuffles, no UDF.

    `toks` must be a MATERIALIZED words-array column (see
    shingles_from_words for why the tokenizer expression must not be
    inlined into HOF lambdas).
    """
    feats = unigram_bigram_features(toks)

    def weight(f: Column) -> Column:
        h = F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), f)), 1, 12), 16, 10
        ).cast("bigint")
        return h - F.lit(1 << 47).cast("bigint")

    total = F.aggregate(
        feats, F.lit(0).cast("bigint"), lambda acc, f: acc + weight(f)
    )
    n = F.greatest(F.size(feats), F.lit(1))
    score = F.round(total / (n.cast("double") * F.lit(float(1 << 47))), 6)
    return F.size(feats).cast("bigint"), score


#: one sentence = a maximal run of non-terminators plus its trailing
#: terminators.  RE2-safe (no lookaround), so DuckDB's regexp_extract_all
#: produces the identical split — the cross-engine requirement that rules
#: out lookbehind formulations.  Known heuristic limit (shared by both
#: engines, by design): abbreviations split ("dr. smith" → two pieces).
SENTENCE_RE = "[^.!?]+[.!?]*"


def sentences(text: Column) -> Column:
    """Array of trimmed, non-empty sentences of the raw text."""
    pieces = F.regexp_extract_all(text, F.lit(SENTENCE_RE), 0)
    return F.filter(F.transform(pieces, lambda s: F.trim(s)), lambda s: s != "")


def segment_sentences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, sent_idx, sentence, n_ws_tokens) — one row per sentence, in
    document order.  The segmentation step upstream of chunking
    (corpus.chunk_documents) and packing (sampling.pack_chunks): RAG
    pipelines embed sentences or sentence-windows, and quality filters
    score them (a doc whose every "sentence" is 200 tokens long is a
    table, not prose).

    Map-only fan-out — scales with bytes scanned, no shuffle; documents
    with no sentence content (empty, terminators only) emit nothing, the
    same verdict the oracle's unnest reaches.
    """
    sents = sentences(F.col(text_col))
    out = df.select(
        F.col(id_col), F.posexplode(sents).alias("sent_idx", "sentence")
    )
    # explicit class, not \s: Java \s includes \x0B, RE2's does not —
    # the oracle must split on the IDENTICAL set (PDF/Excel-extracted text
    # really contains vertical tabs)
    n_toks = F.size(F.split(F.trim(F.col("sentence")), "[ \t\n\x0B\f\r]+"))
    return out.select(
        id_col,
        "sent_idx",
        "sentence",
        n_toks.alias("n_ws_tokens"),
    )
