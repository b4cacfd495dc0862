"""Entity resolution / record linkage — blocking, pairwise matching,
transitive clustering.

The classic pipeline (Fellegi-Sunter shaped, deterministic scoring):

  1. BLOCKING: emit several cheap keys per record (prefix+length bucket,
     sorted-token initials) — candidate generation is a self-join per
     key, never all-pairs.  Hot blocks are frequency-capped, exactly like
     span_dup_clusters' gram cap: a block shared by thousands of records
     (empty names, "unknown") is noise, not match evidence.
  2. MATCHING: candidates join back their strings ONCE and score with the
     JVM-side levenshtein() — similarity = 1 - lev/maxlen, threshold
     configurable.  No Python anywhere.
  3. CLUSTERING: matched pairs → connected components → min-id canonical
     per entity (transitive closure: A~B, B~C ⇒ one entity even if A,C
     never candidate-paired).

Scale shape (100 TB): blocking keys are map-side projections; the
per-key self-join fans out at most cap² pairs per block; matching is an
equi-join on uniform record ids; clustering is the same CC fixpoint the
dedup family uses.  The corpus is never shuffled more than once per
stage, and never compared all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import connected_components
from .text import normalize_text


def blocking_keys(
    df: DataFrame,
    name_col: str,
    id_col: str = "rec_id",
    prefix_len: int = 3,
    initials_len: int = 1,
    suffix_len: int | None = None,
) -> DataFrame:
    """(id, block_key) under complementary strategies:

    - ``p:`` normalized `prefix_len`-char prefix + length bucket (catches
      suffix typos: "mueller gmbh" / "mueller gmbh."),
    - ``i:`` sorted `initials_len`-char token prefixes (catches token
      reorderings: "anna maria" / "maria anna"),
    - ``s:`` (opt-in via `suffix_len`) `suffix_len`-char SUFFIX + length
      bucket — the prefix key's mirror: a typo EARLY in the string kills
      the prefix key at every width, but leaves the suffix intact.  At
      corpus sizes where the initials key saturates the hot-block cap
      (its key space is tiny), prefix+suffix is the pair that keeps
      single-typo recall: one edit cannot break both.  Opt-in because
      registered queries pin the two-key law in their oracles.

    Records missing a usable name emit no key — they can never match.

    The two widths are the recall-vs-fan-out dials at scale: when a
    corpus grows past the point where a strategy's blocks saturate the
    hot-block cap (candidate_pairs `max_block`), widening THAT
    strategy's key restores its recall WITHOUT raising the cap (which
    would restore the k² blowup) — the blocking analog of span
    clustering's `max_freq`.  Measured in the round-7 10× probe
    (SCALE.md): at 10× records the 1-char initials blocks all saturate
    and reorder matches vanish; initials_len=2 brings them back with
    candidates still sub-linear.
    """
    if suffix_len is not None and suffix_len <= 0:
        # substring(norm, 0, 0) = '' would emit a shared degenerate
        # 's:#<bucket>' key per length bucket: one giant block that
        # saturates the hot cap and silently disables the suffix arm
        raise ValueError(f"blocking_keys: suffix_len must be positive, got {suffix_len}")
    norm = normalize_text(F.col(name_col))
    toks = F.split(norm, " ")
    prefix_key = F.concat(
        F.lit("p:"),
        F.substring(norm, 1, prefix_len),
        F.lit("#"),
        F.floor(F.length(norm) / 4).cast("string"),
    )
    initials_key = F.concat(
        F.lit("i:"),
        F.array_join(
            F.array_sort(
                F.transform(toks, lambda t: F.substring(t, 1, initials_len))
            ),
            "",
        ),
    )
    keys = [prefix_key, initials_key]
    if suffix_len is not None:
        keys.append(
            F.concat(
                F.lit("s:"),
                F.substring(norm, -suffix_len, suffix_len),
                F.lit("#"),
                F.floor(F.length(norm) / 4).cast("string"),
            )
        )
    keyed = df.select(
        F.col(id_col),
        F.explode(F.array(*keys)).alias("block_key"),
    )
    return keyed.filter(
        (F.length("block_key") > 2) & ~F.col("block_key").isin("p:#0", "i:", "s:#0")
    ).distinct()


def candidate_pairs(
    keys: DataFrame,
    id_col: str = "rec_id",
    max_block: int = 50,
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a block key, with blocks
    larger than `max_block` records EXCLUDED before the self-join — the
    quadratic-blowup guard."""
    # the key table is consumed by the hot-block aggregate AND both arms
    # of the self-join; without a materialization its upstream plan (the
    # per-record normalize + key explode over the corpus) re-executes
    # per consumer.  Key-sized (2 narrow columns), lives under the
    # returned plan.  Same-methodology A/B at sf0.1 (fresh JVMs, 2 runs
    # per variant): with 2.7-3.3 s, without 3.0-3.5 s — neutral-to-
    # better locally, and the saved normalize+explode passes are the
    # 100 TB win.
    keys = keys.localCheckpoint(eager=True)
    capped = keys.join(
        keys.groupBy("block_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") <= max_block)
        .select("block_key"),
        "block_key",
        "leftsemi",
    )
    a = capped.select("block_key", F.col(id_col).alias("id_a"))
    b = capped.select("block_key", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "block_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def match_pairs(
    cands: DataFrame,
    df: DataFrame,
    name_col: str,
    id_col: str = "rec_id",
    threshold: float = 0.82,
) -> DataFrame:
    """Score candidates with normalized Levenshtein similarity
    (1 - lev/maxlen, JVM built-in) and keep pairs ≥ threshold:
    (id_a, id_b, sim).

    Two arms, max wins (fuzzywuzzy's token_sort_ratio shape): the raw
    normalized form catches typos; the SORTED-token form catches
    reorderings ("anna maria" / "maria anna"), which raw edit distance
    scores near zero.  Both are projections staged once per record, so
    each pair costs two levenshtein calls, no retokenization.
    """

    names = _name_forms(df, name_col, id_col)
    na = names.select(
        F.col(id_col).alias("id_a"), F.col("_nm").alias("_na"), F.col("_ts").alias("_ta")
    )
    nb = names.select(
        F.col(id_col).alias("id_b"), F.col("_nm").alias("_nb"), F.col("_ts").alias("_tb")
    )
    scored = (
        cands.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b", _two_arm_sim("_na", "_ta", "_nb", "_tb").alias("sim")
        )
    )
    return scored.filter(F.col("sim") >= threshold)


def resolve_entities(
    df: DataFrame,
    name_col: str,
    id_col: str = "rec_id",
    threshold: float = 0.82,
    max_block: int = 50,
    prefix_len: int = 3,
    initials_len: int = 1,
) -> DataFrame:
    """Full pipeline: (rec_id, entity_id, is_canonical) for every record
    in a matched pair; unmatched records are implicitly their own
    entity (left out, like near_dup_clusters)."""
    keys = blocking_keys(df, name_col, id_col, prefix_len, initials_len)
    cands = candidate_pairs(keys, id_col, max_block)
    matched = match_pairs(cands, df, name_col, id_col, threshold)
    cc = connected_components(matched.select("id_a", "id_b"))
    return cc.select(
        F.col("id").alias("rec_id"),
        F.col("component").alias("entity_id"),
        (F.col("component") == F.col("id")).alias("is_canonical"),
    )


def _name_forms(df: DataFrame, name_col: str, id_col: str) -> DataFrame:
    """(id, _nm normalized, _ts sorted-token form) — staged once per
    record so each candidate pair costs two levenshtein calls, never a
    retokenization (the match_pairs law, shared with link_records)."""
    norm = normalize_text(F.col(name_col))
    return df.select(
        F.col(id_col),
        norm.alias("_nm"),
        F.array_join(F.array_sort(F.split(norm, " ")), " ").alias("_ts"),
    )


def _two_arm_sim(na, ta, nb, tb):
    """max(raw, sorted-token) normalized Levenshtein — the ONE scoring
    law (typos via raw; reorderings via sorted tokens), 4-dp rounded."""

    def _lev_sim(a, b):
        return F.lit(1.0) - F.levenshtein(a, b) / F.greatest(
            F.length(a), F.length(b), F.lit(1)
        )

    return F.round(F.greatest(_lev_sim(na, nb), _lev_sim(ta, tb)), 4)


def link_candidates(
    left_keys: DataFrame,
    right_keys: DataFrame,
    left_id: str = "rec_id",
    right_id: str = "rec_id",
    max_block: int = 50,
) -> DataFrame:
    """Bipartite candidate generation: distinct (id_l, id_r) sharing a
    block key, with keys that are hot on EITHER side excluded before the
    join (a block with 10k existing records is noise evidence exactly as
    in the self-join case — and the fan-out is left_n × right_n, so one
    hot side is enough to blow up)."""
    # each side's key table feeds its hot-block aggregate AND its
    # anti-join arm — materialize once per side so the normalize+explode
    # upstream runs once, not twice (same rationale as candidate_pairs;
    # measured via q_link_records: 3.53 -> 1.86 s standalone at sf0.1).
    left_keys = left_keys.localCheckpoint(eager=True)
    right_keys = right_keys.localCheckpoint(eager=True)
    hot = (
        left_keys.groupBy("block_key").agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > max_block)
        .select("block_key")
        .union(
            right_keys.groupBy("block_key").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_block)
            .select("block_key")
        )
        .distinct()
    )
    lk = left_keys.join(hot, "block_key", "left_anti").select(
        "block_key", F.col(left_id).alias("id_l")
    )
    rk = right_keys.join(hot, "block_key", "left_anti").select(
        "block_key", F.col(right_id).alias("id_r")
    )
    return lk.join(rk, "block_key").select("id_l", "id_r").distinct()


def link_records(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    left_id: str = "rec_id",
    right_id: str = "rec_id",
    threshold: float = 0.82,
    max_block: int = 50,
    prefix_len: int = 3,
    initials_len: int = 1,
    suffix_len: int | None = None,
) -> DataFrame:
    """Record linkage across two tables — the reference's register-time
    decision ("does this incoming record match an existing entity, or is
    it new?", register-imgag.py:190-218's nested candidate loops): one
    row per LEFT record with its best right-side match, or NULLs and
    decision='new' when nothing clears the threshold.

    Best-match law: highest similarity wins, lowest right id breaks
    ties (deterministic — a re-run can never flip the linkage).  The
    rank<=1 cut rides WindowGroupLimit per left id.

    Scale shape: blocking keys are map-side; the candidate join is
    per-block with the either-side hot cap; scoring joins each side's
    staged name forms ONCE; the final left join returns every left row
    — O(left + right + candidates), never all-pairs.
    """
    lkeys = blocking_keys(left, left_name, left_id, prefix_len, initials_len, suffix_len)
    rkeys = blocking_keys(right, right_name, right_id, prefix_len, initials_len, suffix_len)
    cands = link_candidates(lkeys, rkeys, left_id, right_id, max_block)

    ln = _name_forms(left, left_name, left_id).select(
        F.col(left_id).alias("id_l"), F.col("_nm").alias("_na"), F.col("_ts").alias("_ta")
    )
    rn = _name_forms(right, right_name, right_id).select(
        F.col(right_id).alias("id_r"), F.col("_nm").alias("_nb"), F.col("_ts").alias("_tb")
    )
    scored = (
        cands.join(ln, "id_l")
        .join(rn, "id_r")
        .select("id_l", "id_r", _two_arm_sim("_na", "_ta", "_nb", "_tb").alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    w = Window.partitionBy("id_l").orderBy(F.col("sim").desc(), F.col("id_r").asc())
    best = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("id_l", "id_r", "sim")
    )
    out = left.select(F.col(left_id).alias("id_l")).join(best, "id_l", "left")
    return out.select(
        "id_l",
        "id_r",
        "sim",
        F.when(F.col("id_r").isNotNull(), F.lit("matched"))
        .otherwise(F.lit("new"))
        .alias("decision"),
    )
