"""Mergeable cardinality sketches for corpus-scale profiling.

At 100 TB an exact `count(distinct x)` per group is a full shuffle of every
distinct value; profiling pipelines (vocabulary growth, per-source token
diversity, join-cardinality estimation) want a bounded-size summary instead.
Spark's built-in `approx_count_distinct` (HyperLogLog++) covers the
black-box case but is neither deterministic across engines nor inspectable;
this module implements the **KMV / bottom-k sketch** (Bar-Yossef et al.
2002, "Counting distinct elements in a data stream"): keep the k smallest
md5 digests of the values; the k-th smallest, read as a fraction u of the
hash space, estimates the cardinality as (k-1)/u.

Why KMV here: it is *exactly reproducible* (md5 is engine-portable, the
bottom-k set is order-independent), *mergeable* (union two sketches, re-take
the k smallest — an algebraic aggregate, so map-side partial aggregation
works), and *auditable* (the sketch IS the k hashes; the DuckDB oracle
recomputes it bit-identically — Spark's BUILT-IN HLL++ register layout
allows none of that).  The module now also carries its own
engine-portable HyperLogLog (hll_registers/hll_estimate below): same
md5-derived determinism, ≤2^p rows per group instead of k, and max-merge
with NO dedup shuffle on build — the better shape when only the
cardinality (not the hash sample) is needed.

Scale shape, honestly stated: building the sketch from raw data pays one
distinct-style shuffle (partial aggregation dedups map-side, but each task
still ships its per-task distinct set — the same first stage exact
counting pays).  What the sketch buys is everything AFTER that: the
persisted summary is k rows per group instead of the full distinct set, it
merges across batches/days without re-scanning them (union the hashes,
re-take the k smallest), and the rank-filter cut itself is map-side
(WindowGroupLimit below the second exchange).  At 100 TB the win is the
standing index: yesterday's sketch + today's batch = today's estimate,
with no second corpus scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: 2^48 — the hash space when reading the first 12 hex chars of an md5.
_HASH_SPACE = float(1 << 48)


def bottom_k_hashes(hashed: DataFrame, group_col: str, k: int) -> DataFrame:
    """(group, _h) rows of the k smallest digests per group, from an
    ALREADY-HASHED-AND-DISTINCT (group, _h) table.  The single shared
    bottom-k kernel behind kmv_sketch / kmv_bottoms / the accuracy query:
    an explicit `row_number() <= k` Filter, which Spark plans as
    WindowGroupLimit on BOTH sides of the rank exchange — each task ships
    at most k digests per group into that stage."""
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy(group_col).orderBy("_h"))
    return (
        hashed.select(group_col, "_h", rn.alias("_rn"))
        .filter(F.col("_rn") <= k)
        .select(group_col, "_h")
    )


def _hashed_distinct(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    return df.select(group_col, F.md5(F.col(value_col)).alias("_h")).distinct()


def kmv_sketch(
    df: DataFrame, group_col: str, value_col: str, k: int = 32
) -> DataFrame:
    """Per-group bottom-k sketch: (group, kth_hash, sketch_n).

    `value_col` must be a materialized string column (one value per row —
    explode arrays first).  See :func:`bottom_k_hashes` for the map-side
    rank cut.  NB the upstream distinct is still a distinct-value shuffle
    (see the module docstring for what the sketch does and does not
    save); merging sketches = union the hash sets, re-take the k smallest
    (algebraic, so partial aggregation composes) — re-estimation across
    batches never re-scans the data.
    """
    bottom = bottom_k_hashes(_hashed_distinct(df, group_col, value_col), group_col, k)
    return bottom.groupBy(group_col).agg(
        F.max("_h").alias("kth_hash"),
        F.count("*").alias("sketch_n"),
    )


def kmv_estimate(k: int) -> Column:
    """The KMV distinct-count estimate over a sketch's (kth_hash,
    sketch_n) columns: sketch_n while the sketch is lossless (sketch_n <
    k — it then holds every distinct digest), else (k-1)/u_k, u_k being
    the k-th smallest digest's first 48 bits over 2^48, rounded to 4
    decimals.  Both engines evaluate the identical literal expression
    tree, so doubles match bit-exactly."""
    kth_val = F.conv(F.substring("kth_hash", 1, 12), 16, 10).cast("bigint")
    return F.when(
        F.col("sketch_n") < k, F.col("sketch_n").cast("double")
    ).otherwise(F.round(F.lit(float(k - 1)) * F.lit(_HASH_SPACE) / kth_val, 4))


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 32
) -> DataFrame:
    """Per-group KMV distinct-count estimate next to the exact count.

    Returns (group, exact_distinct, est_distinct), est_distinct by
    :func:`kmv_estimate` (exact whenever the group has fewer than k
    distinct values).

    Two branches joined on the group key: the sketch branch (the 100 TB
    path — WindowGroupLimit caps per-task traffic at k rows per group) and
    an exact `count(distinct)` self-check branch a production run would
    simply drop.
    """
    exact = (
        df.select(group_col, F.md5(F.col(value_col)).alias("_h"))
        .distinct()
        .groupBy(group_col)
        .agg(F.count("*").alias("exact_distinct"))
    )
    sk = kmv_sketch(df, group_col, value_col, k)
    return exact.join(sk, group_col).select(
        group_col, "exact_distinct", kmv_estimate(k).alias("est_distinct")
    )


def md5_bucket(salt: str, col, modulus: int, hex_chars: int):
    """THE engine-portable bucket law: first `hex_chars` hex chars of
    md5(salt|col) read as a bigint, mod `modulus`.  One definition shared
    by the CMS buckets (hex_chars=8) and the Bloom bit positions
    (hex_chars=12) so the DuckDB twins — ('0x' || substr(md5(...), 1, n))
    ::BIGINT % m — can never drift from one copy silently."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", F.lit(salt), col)), 1, hex_chars),
            16,
            10,
        ).cast("bigint")
        % modulus
    )


def cms_build(df: DataFrame, value_col: str, d: int = 4, w: int = 1024) -> DataFrame:
    """Count-min sketch of a value stream (Cormode & Muthukrishnan 2005):
    d salted hash rows × w counters.  Returns (r, b, cnt) — at most d·w rows
    regardless of input size, which is the whole point: the sketch is a
    bounded-size, MERGEABLE (counters add) frequency summary of an unbounded
    stream.

    Scale shape: the explode is a map-side d-fanout, but partial aggregation
    collapses each task's output to ≤ d·w rows before the exchange — the
    shuffle moves kilobytes at any corpus size.  Bucket = first 32 bits of
    md5(r|value) mod w: engine-portable, uniform per row-salt.
    """
    probes = [
        F.struct(
            F.lit(j).alias("r"),
            md5_bucket(str(j), F.col(value_col), w, hex_chars=8).alias("b"),
        )
        for j in range(d)
    ]
    return (
        df.select(F.explode(F.array(*probes)).alias("_rb"))
        .select("_rb.r", "_rb.b")
        .groupBy("r", "b")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame, items: DataFrame, value_col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Point-query the sketch: est(x) = min over rows of counter[r, b_r(x)].
    Never underestimates; overestimates by collision mass with probability
    shrinking exponentially in d.  `items` is a (small) candidate table —
    the join against the ≤ d·w-row sketch is broadcast-eligible from either
    side, so the probe is shuffle-free under the cost model.
    """
    probes = [
        F.struct(
            F.lit(j).alias("r"),
            md5_bucket(str(j), F.col(value_col), w, hex_chars=8).alias("b"),
        )
        for j in range(d)
    ]
    probed = items.select(
        F.col(value_col), F.explode(F.array(*probes)).alias("_rb")
    ).select(value_col, "_rb.r", "_rb.b")
    return (
        probed.join(cms, ["r", "b"])
        .groupBy(value_col)
        .agg(F.min("cnt").alias("cms_count"))
    )


def histogram_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    bins: int = 128,
) -> DataFrame:
    """Per-group fixed-bin histogram: (group, bin, cnt), at most
    groups × bins rows at any input size.  The third mergeable sketch in
    this module (KMV = cardinality, CMS = frequency, histogram =
    quantiles/distribution): counters add, so map-side partial aggregation
    collapses each task to ≤ bins rows per group before the exchange.

    [lo, hi) is a CALLER-SUPPLIED range (monitoring pipelines know their
    metric ranges), which keeps the sketch deterministic and mergeable
    across batches — a data-dependent min/max would make yesterday's
    sketch un-mergeable with today's.  Values outside the range clamp to
    the edge bins.  Bin math is floor over exact integer-scaled doubles —
    both engines evaluate the identical expression tree.
    """
    width = (hi - lo) / bins
    b = F.least(
        F.lit(bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((F.col(value_col).cast("double") - F.lit(lo)) / F.lit(width)).cast(
                "int"
            ),
        ),
    )
    return (
        df.select(F.col(group_col), b.alias("bin"))
        .groupBy(group_col, "bin")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantile(
    hist: DataFrame, group_col: str, q: float, lo: float, hi: float, bins: int = 128
) -> DataFrame:
    """Quantile estimate from a histogram sketch: the first bin where the
    cumulative count reaches q·total, linearly interpolated within the bin
    — (group, est).  The cumulative scan is a per-group window over ≤ bins
    rows; everything downstream of the sketch is O(groups × bins),
    independent of the original data size.
    """
    from pyspark.sql import Window

    width = (hi - lo) / bins
    w = Window.partitionBy(group_col).orderBy("bin")
    c = hist.select(
        F.col(group_col),
        "bin",
        "cnt",
        F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("_cum"),
        F.sum("cnt").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("_tot"),
    )
    target = F.ceil(F.lit(q) * F.col("_tot"))
    picked = c.filter(F.col("_cum") >= target).withColumn(
        "_rn", F.row_number().over(w)
    ).filter(F.col("_rn") == 1)
    est = (
        F.lit(lo)
        + (
            F.col("bin").cast("double")
            + (target - (F.col("_cum") - F.col("cnt"))).cast("double") / F.col("cnt")
        )
        * F.lit(width)
    )
    return picked.select(F.col(group_col), F.round(est, 4).alias("est"))


def kmv_bottoms(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 128,
    pre_hashed: bool = False,
) -> DataFrame:
    """Per-group bottom-k digest SET as an array column: (group, ks) with
    ks sorted ascending, |ks| ≤ k.  The materialized form of the KMV sketch
    that set-operation estimators compose over (see kmv_overlap).  Pass
    pre_hashed=True when `value_col` already holds DISTINCT md5 digests
    per group (e.g. a shared distinct-digest table also feeding an exact
    branch): hashing again would move the digests in the hash space, and
    re-distincting would add a full shuffle the caller already paid —
    checkpointed inputs hide their distinctness from the optimizer, so the
    contract is the caller's to uphold."""
    if pre_hashed:
        d = df.select(group_col, F.col(value_col).alias("_h"))
    else:
        d = _hashed_distinct(df, group_col, value_col)
    bottom = bottom_k_hashes(d, group_col, k)
    return bottom.groupBy(group_col).agg(F.array_sort(F.collect_list("_h")).alias("ks"))


def kmv_overlap(
    sketches: DataFrame, group_col: str, k: int = 128
) -> DataFrame:
    """Pairwise Jaccard ESTIMATED from KMV sketches alone (Beyer et al.
    2007's K-minimum-values set-operation estimator): for groups a < b,
    K = bottom-k of (Ka ∪ Kb) is a valid sketch of the union, and the
    fraction of K lying in Ka ∩ Kb is an unbiased Jaccard estimate.

    This is the sketch-composed alternative to the exact
    corpus.source_overlap: the full gram self-join (corpus-sized shuffle)
    is replaced by pure array arithmetic over the ≤ k-hash summaries —
    O(groups² · k), data-size-independent, and runnable on yesterday's
    persisted sketches without touching the corpus at all.  The pair join
    is groups × groups on an inequality (tiny both sides — at most the
    group count); all engines compute the identical rounded ratio.
    """
    a = sketches.select(F.col(group_col).alias("source_a"), F.col("ks").alias("_ka"))
    b = sketches.select(F.col(group_col).alias("source_b"), F.col("ks").alias("_kb"))
    pairs = a.join(b, F.col("source_a") < F.col("source_b"))
    union_k = F.slice(
        F.array_sort(F.array_union(F.col("_ka"), F.col("_kb"))), 1, k
    )
    in_both = F.size(
        F.array_intersect(union_k, F.array_intersect(F.col("_ka"), F.col("_kb")))
    )
    return pairs.select(
        "source_a",
        "source_b",
        F.size(union_k).cast("bigint").alias("union_sketch_n"),
        in_both.cast("bigint").alias("n_in_both"),
        F.round(in_both / F.size(union_k), 4).alias("est_jaccard"),
    )


# --- Bloom filter: join pruning ------------------------------------------


def _bloom_pos(j: int, key, m_bits: int):
    """Bit position of salted hash j: first 48 bits of md5('bf<j>'|key)
    mod m — the same engine-portable law as cms_build's buckets, so a
    DuckDB oracle recomputes every position bit-identically."""
    return md5_bucket(f"bf{j}", key, m_bits, hex_chars=12)


def bloom_build(
    keys: DataFrame, key_col: str, m_bits: int = 1 << 20, k: int = 3
) -> DataFrame:
    """(word_idx, word): an m-bit Bloom filter of `keys` packed into
    64-bit words — at most m/64 rows (m = 2^20 → 16 K rows ≈ 128 KB)
    regardless of how many keys went in.

    Why it earns its place at 100 TB: a semi join whose filter side is
    too big to BROADCAST normally shuffles BOTH sides.  The Bloom words
    of that side always broadcast (m/64 rows), so the fact side can be
    pruned map-side BEFORE its shuffle — bloom_semi_join below shuffles
    only the survivors.  This is the explicit, engine-portable version
    of Spark's own runtime row-level filtering (which is cost-based and
    not deterministic across engines).

    Scale shape: the k-fanout explode is map-side; partial aggregation
    collapses each task's output to ≤ m/64 (word_idx, word) rows via
    bit_or before the exchange — the build shuffle moves kilobytes.
    No false negatives ever; false-positive rate ≈ (1 - e^(-kn/m))^k.
    """
    probes = [_bloom_pos(j, F.col(key_col), m_bits) for j in range(k)]
    pos = keys.select(F.explode(F.array(*probes)).alias("_p"))
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("bigint"), (F.col("_p") % 64).cast("int")
    )
    return (
        pos.select(F.expr("_p DIV 64").alias("word_idx"), bit.alias("_b"))
        .groupBy("word_idx")
        .agg(F.bit_or("_b").alias("word"))
    )


def bloom_prune(
    df: DataFrame, key_col: str, words: DataFrame, m_bits: int = 1 << 20, k: int = 3
) -> DataFrame:
    """Rows of `df` whose key MIGHT be in the filter (all k bits set) —
    a guaranteed superset of the true matches (no false negatives).
    k broadcast left-semi joins against the word table, each with the
    bit test fused into the join condition: entirely map-side, ZERO
    exchanges on `df`, so it composes under whatever partitioning the
    caller already has and cuts rows BEFORE any downstream shuffle.

    Bit test is `!= 0`, never `> 0`: position 63 sets the sign bit
    (shiftleft wraps to BIGINT-min, the same value in both engines)."""
    clash = set(df.columns) & {f"_p{j}" for j in range(k)}
    if clash:
        # withColumn would silently overwrite them and the final drop
        # would delete the caller's data — fail loudly instead
        raise ValueError(f"input columns collide with bloom temp names: {clash}")
    out = df
    for j in range(k):
        out = out.withColumn(f"_p{j}", _bloom_pos(j, F.col(key_col), m_bits))
        w = words.select(
            F.col("word_idx").alias(f"_wi{j}"), F.col("word").alias(f"_w{j}")
        )
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (F.col(f"_p{j}") % 64).cast("int")
        )
        out = out.join(
            F.broadcast(w),
            (F.expr(f"_p{j} DIV 64") == F.col(f"_wi{j}"))
            & (F.col(f"_w{j}").bitwiseAND(bit) != F.lit(0).cast("bigint")),
            "left_semi",
        )
    return out.drop(*[f"_p{j}" for j in range(k)])


def bloom_semi_join(
    big: DataFrame,
    keys: DataFrame,
    big_key: str,
    keys_key: str | None = None,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Exact semi join with Bloom pre-pruning: equals
    big.join(keys, ..., "left_semi") row-for-row — the Bloom stage is
    pure plumbing that cuts what reaches the final shuffle.

    When `keys` is broadcastable you do not need this (a plain broadcast
    semi join is already shuffle-free).  The target is the middle
    regime: `keys` too big to broadcast (its exact set would blow the
    driver), but its m-bit Bloom words always fit — so the 100 TB fact
    side is pruned map-side and only survivors (true matches + the
    (1-e^(-kn/m))^k false-positive sliver) pay the exchange."""
    keys_key = keys_key or big_key
    kd = keys.select(F.col(keys_key).alias(big_key))
    words = bloom_build(kd, big_key, m_bits, k)
    return bloom_prune(big, big_key, words, m_bits, k).join(kd, big_key, "left_semi")


# ---------------------------------------------------------------------------
# HyperLogLog — engine-portable register law (md5-derived, oracle-able)
# ---------------------------------------------------------------------------

def _hll_alpha(p: int) -> float:
    """Standard HLL bias-correction constant — the ONE definition; the
    DuckDB twin (oracle.hll_distinct_sql) embeds the same value via this
    import-free mirror `oracle._hll_alpha`, sync-pinned by a unit test."""
    return {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / (1 << p)))


def _check_hll_p(p: int) -> None:
    # the bucket law reads the first 16 md5 bits, so 2^p buckets need
    # p <= 16; the exact-integer denominator is safe throughout (terms
    # are <= 2^48 each and sum in DECIMAL(38,0)/HUGEINT); p < 4 has no
    # published alpha
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")


def hll_registers(
    df: DataFrame, group_col: str, value_col: str, p: int = 12
) -> DataFrame:
    """Per-group HyperLogLog registers (Flajolet et al. 2007):
    (group, bucket, register) with bucket = first 16 md5 bits mod 2^p and
    register = max over values of (leading zeros of the NEXT 48 md5 bits)
    + 1 (49 caps the all-zero word).  Absent buckets are implicitly 0.

    Unlike Spark's built-in approx_count_distinct (HLL++, opaque register
    layout), this law is engine-portable: bucket and rank derive from
    disjoint md5 hex ranges, and the leading-zero count rides
    length(bin(w)) — both engines drop leading zeros in bin(), so rho is
    exact integer arithmetic, never a float log2.

    Scale shape: ONE groupBy (map-side combined max) straight off the raw
    rows — no distinct pre-shuffle, because max is idempotent under
    duplicate values; that is HLL's advantage over the KMV family above,
    which must dedup before ranking.  The register table is ≤ 2^p rows
    per group forever, merges by max (hll_merge), and never re-scans
    history."""
    _check_hll_p(p)
    vtype = dict(df.dtypes).get(value_col)
    if vtype != "string":
        # a non-string value would hash each engine's OWN string rendering
        # (Spark formats 1e-4 as '1.0E-4', DuckDB as '0.0001') — the
        # parity claim dies silently; callers format explicitly instead
        raise ValueError(
            f"hll value column must be string (got {vtype}); "
            "cast/format it explicitly so both engines hash identical bytes"
        )
    h = F.md5(F.col(value_col))
    w = F.conv(F.substring(h, 5, 12), 16, 10).cast("long")
    bucket = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % (1 << p)).cast("int")
    rho = (
        F.when(w == 0, F.lit(49))
        .otherwise(F.lit(49) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(F.col(group_col), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("register"))
    )


def hll_merge(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Union two register tables into one (per-bucket max) — the
    algebraic merge that lets yesterday's sketch absorb today's batch
    without re-scanning either corpus."""
    return (
        a.unionByName(b)
        .groupBy(group_col, "bucket")
        .agg(F.max("register").alias("register"))
    )


def hll_estimate(registers: DataFrame, group_col: str, p: int = 12) -> DataFrame:
    """(group, hll_distinct) from a register table.

    The harmonic denominator Σ 2^(−M_j) is scaled by 2^49 into EXACT
    integers (term = 1 << (49 − M), empty buckets contribute 2^49 via
    the missing-bucket count), summed as DECIMAL(38,0) — so the only
    float steps are one division and, on the small-range branch, one ln
    of an exact rational.  A float harmonic sum would be
    reduction-tree-dependent and could diverge between engines; the
    integer form cannot.  Small-range (E ≤ 2.5m, zero buckets present)
    switches to linear counting m·ln(m/zeros); no large-range branch —
    the 48-bit hash space makes collisions negligible far past any
    practical cardinality.  6-dp round (the division-parity recipe)."""
    _check_hll_p(p)
    m = 1 << p
    num = _hll_alpha(p) * m * m * float(1 << 49)
    term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (F.lit(49) - F.col("register")).cast("int")
    )
    agg = registers.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_np"),
        F.max("bucket").alias("_maxb"),
        F.sum(term.cast("decimal(38,0)")).alias("_denom_present"),
    )
    zeros = F.lit(m) - F.col("_np")
    denom = (
        F.col("_denom_present")
        + zeros.cast("decimal(38,0)") * F.lit(1 << 49).cast("decimal(38,0)")
    ).cast("double")
    raw = F.lit(num) / denom
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.round(F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")), 6),
    ).otherwise(F.round(raw, 6))
    # registers built at a larger p than the estimate assumes would make
    # zeros negative and the estimate silently garbage — raise in-plan
    est = F.when(
        F.col("_maxb") >= m,
        F.raise_error(
            F.lit(f"hll_estimate: register bucket >= {m} — built with larger p")
        ).cast("double"),
    ).otherwise(est)
    return agg.select(F.col(group_col), est.alias("hll_distinct"))


def hll_distinct(
    df: DataFrame, group_col: str, value_col: str, p: int = 12
) -> DataFrame:
    """End-to-end per-group HLL cardinality estimate: (group,
    hll_distinct).  See hll_registers / hll_estimate."""
    return hll_estimate(hll_registers(df, group_col, value_col, p), group_col, p)


def hll_join_estimate(
    a: DataFrame, b: DataFrame, group_col: str, p: int = 12
) -> DataFrame:
    """Distinct-key overlap between two register tables (hll_registers
    outputs) per group: (group, est_a, est_b, est_union, est_intersection,
    est_jaccard) — inclusion–exclusion over three HLL estimates, union via
    the algebraic max-merge.

    The join-planning primitive the sketch family was missing: before
    shuffling two 100 TB fact tables, estimate how many join KEYS
    actually meet (and per group, e.g. per day/partition) from kilobyte
    register tables alone — no scan, no shuffle of either side.  This
    estimates DISTINCT-key intersection; output row counts additionally
    need per-key multiplicities (pair it with a CMS over the keys).

    Inclusion–exclusion subtracts two same-sign errors, so the
    intersection estimate is noisier than either input (relative error
    grows as |A∩B| shrinks — at zero true overlap the estimate is pure
    sketch noise, clamped at 0 here).  That is inherent to HLL algebra,
    not to this implementation; KMV (kmv_overlap) gives a direct Jaccard
    estimator when both sketches were built bottom-k.

    All three estimates ride hll_estimate's exact-integer harmonic law,
    6-dp rounded, so the composition is engine-portable: the DuckDB twin
    recomputes est_union from a UNION ALL of the two sources and lands on
    the identical doubles.  Groups present in only one side estimate the
    missing side as 0 (full-outer joins over the group-sized tables).
    """
    ea = hll_estimate(a, group_col, p).withColumnRenamed("hll_distinct", "est_a")
    eb = hll_estimate(b, group_col, p).withColumnRenamed("hll_distinct", "est_b")
    eu = hll_estimate(hll_merge(a, b, group_col), group_col, p).withColumnRenamed(
        "hll_distinct", "est_union"
    )
    # eu's group set is exactly the union of ea's and eb's, so outer-join
    # the sides onto it and coalesce the absent side to 0.  eqNullSafe:
    # hll_registers keeps NULL groups (it filters NULL VALUES only), and
    # a null-unsafe join would silently zero the NULL partition's sides
    ea = ea.withColumnRenamed(group_col, "_ga")
    eb = eb.withColumnRenamed(group_col, "_gb")
    joined = (
        eu.join(ea, eu[group_col].eqNullSafe(ea["_ga"]), "left")
        .join(eb, eu[group_col].eqNullSafe(eb["_gb"]), "left")
        .withColumn("est_a", F.coalesce("est_a", F.lit(0.0)))
        .withColumn("est_b", F.coalesce("est_b", F.lit(0.0)))
        .drop("_ga", "_gb")
    )
    inter = F.greatest(
        F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 6),
        F.lit(0.0),
    )
    return joined.select(
        group_col,
        "est_a",
        "est_b",
        "est_union",
        inter.alias("est_intersection"),
        F.when(
            F.col("est_union") > 0,
            F.round(inter / F.col("est_union"), 6),
        ).alias("est_jaccard"),
    )
