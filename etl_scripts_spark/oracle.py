"""DuckDB SQL twins of the catalog derivations in :mod:`catalog`.

The driver verifies every ``queries()`` entry against ``oracle_sql()`` by
running the SQL in DuckDB over the same parquet tables.  Any derivation used
by a Spark query must be reproduced *bit-identically* here — keep this module
in lockstep with catalog.py / expressions.py.  All fragments are plain ANSI-ish
DuckDB SQL built from column-name strings.
"""

from __future__ import annotations


def project_code_sql(key: str) -> str:
    """DuckDB twin of catalog.project_code."""
    return (
        f"('Q' || chr(({key} % 26 + 65)::INT)"
        f" || chr((({key} // 26) % 26 + 65)::INT)"
        f" || chr((({key} // 676) % 26 + 65)::INT) || 'X')"
    )


def checksum_char_sql(code9: str) -> str:
    """DuckDB twin of expressions.barcode_checksum_char (mod-34 weighted sum)."""
    s = (
        f"list_sum(list_transform(generate_series(1, length({code9})),"
        f" i -> ascii(substring({code9}, i, 1)) * i))"
    )
    n = f"(({s}) % 34 + 48)"
    return f"chr((CASE WHEN {n} > 57 THEN {n} + 7 ELSE {n} END)::INT)"


def sample_code9_sql(key: str, class_char: str = "A") -> str:
    return f"({project_code_sql(key)} || lpad(({key} % 999 + 1)::VARCHAR, 3, '0') || '{class_char}')"


def sample_barcode_sql(key: str, class_char: str = "A") -> str:
    code9 = sample_code9_sql(key, class_char)
    return f"({code9} || {checksum_char_sql(code9)})"


#: entity-model CTE block — DuckDB twin of catalog.{samples,experiments,files,
#: sample_parents,vocabularies}_view.  Prepend as f"WITH {ENTITY_CTES} SELECT ...".
ENTITY_CTES = f"""
samples AS (
  SELECT {sample_barcode_sql('c_custkey')} AS code,
         'SPACE_' || (c_custkey % 5)::VARCHAR AS space,
         {project_code_sql('c_custkey')} AS project,
         'Q_TEST_SAMPLE' AS type,
         c_custkey AS custkey,
         c_name AS secondary_name,
         c_mktsegment AS tissue,
         c_nationkey AS nationkey
  FROM customer
),
experiments AS (
  SELECT '/' || 'SPACE_' || (o_custkey % 5)::VARCHAR || '/' || {project_code_sql('o_custkey')}
           || '/' || {project_code_sql('o_custkey')} || 'E' || o_orderkey::VARCHAR AS experiment_id,
         'SPACE_' || (o_custkey % 5)::VARCHAR AS space,
         {project_code_sql('o_custkey')} AS project,
         CASE WHEN o_orderstatus = 'O' THEN 'Q_NGS_MEASUREMENT' ELSE 'Q_MS_MEASUREMENT' END AS type,
         o_orderkey AS orderkey,
         o_custkey AS custkey,
         o_orderdate AS orderdate,
         o_orderstatus AS status
  FROM orders
),
files AS (
  SELECT 'DS-' || l_orderkey::VARCHAR AS dataset_code,
         'store/' || l_orderkey::VARCHAR || '/'
           || (CASE WHEN l_linenumber % 3 = 0 THEN 'original' ELSE 'data' END)
           || '/' || 'f_' || l_linenumber::VARCHAR || '.fastq.gz' AS relative_path,
         'f_' || l_linenumber::VARCHAR || '.fastq.gz' AS file_name,
         round(l_extendedprice)::BIGINT AS size_in_bytes,
         l_orderkey AS orderkey,
         l_linenumber AS linenumber
  FROM lineitem
),
sample_parents AS (
  SELECT 'C' || c_custkey::VARCHAR AS child_code, 'N' || c_nationkey::VARCHAR AS parent_code
  FROM customer
  UNION ALL
  SELECT 'N' || n_nationkey::VARCHAR, 'R' || n_regionkey::VARCHAR
  FROM nation
),
vocabularies AS (
  SELECT 'Q_NCBI_TAXONOMY' AS vocabulary, 'N' || n_nationkey::VARCHAR AS code, n_name AS label
  FROM nation
)
""".strip()


def with_entities(select_sql: str) -> str:
    """Wrap a SELECT using entity views in the shared CTE block."""
    return f"WITH {ENTITY_CTES}\n{select_sql}"


def with_entities_recursive(extra_ctes: str, select_sql: str) -> str:
    """Entity CTEs + additional (possibly recursive) CTEs."""
    return f"WITH RECURSIVE {ENTITY_CTES},\n{extra_ctes}\n{select_sql}"


# --- text-operator fragments (twins of operators.text / operators.dedup) ---

def norm_text_sql(col: str = "text") -> str:
    """DuckDB twin of operators.text.normalize_text (note 'g' flags — DuckDB
    regexp_replace is first-match-only by default, Spark's is global)."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', ' ', 'g'),"
        f" ' +', ' ', 'g'))"
    )


def words_sql(col: str = "text") -> str:
    return f"string_split({norm_text_sql(col)}, ' ')"


def shingles_from_ws_sql(ws: str, k: int = 3) -> str:
    """The ONE definition of the k-word-shingle law (short-document
    fallback included), over an already-tokenized list expression/column
    `ws`.  Both the inline form (shingles_sql) and the staged CTE form
    (minhash_sigs_ctes) expand this — edit shingle semantics here only."""
    return (
        f"list_transform(generate_series(1, greatest(len({ws}) - {k - 1}, 1)),"
        f" i -> array_to_string(({ws})[i:i+{k - 1}], ' '))"
    )


def shingles_sql(col: str = "text", k: int = 3) -> str:
    """DuckDB k-word shingles (≥1) of the tokenized `col` — the twin of
    operators.dedup.shingles_from_words over `words(col)`."""
    return shingles_from_ws_sql(words_sql(col), k)


def minhash_sql(col: str = "text", seed: int = 0, k: int = 3) -> str:
    """DuckDB twin of one MinHash signature value."""
    return f"list_min(list_transform({shingles_sql(col, k)}, s -> md5('{seed}|' || s)))"


def minhash_sigs_ctes(source: str, prefix: str = "", k: int = 3, num: int = 4) -> str:
    """Staged minhash-signature CTE chain: tokenize ONCE, shingle ONCE,
    then the `num` per-seed min-hash maps — value-identical to `num`
    inlined :func:`minhash_sql` projections but ~14× cheaper (the inlined
    form re-evaluates the tokenizer inside every signature expression;
    DuckDB does not CSE across them).  Yields
    ``{prefix}sigs(doc_id, mh0..mh{num-1})`` plus ``{prefix}shg(doc_id,
    shl)`` with the raw shingle list for set-similarity follow-ups.
    `prefix` disambiguates multiple instantiations in one query."""
    mh = ", ".join(
        f"list_min(list_transform(shl, s -> md5('{i}|' || s))) AS mh{i}"
        for i in range(num)
    )
    return f"""{prefix}w AS (
      SELECT doc_id, {words_sql('text')} AS ws FROM {source}
    ), {prefix}shg AS (
      SELECT doc_id, {shingles_from_ws_sql('ws', k)} AS shl
      FROM {prefix}w
    ), {prefix}sigs AS (
      SELECT doc_id, {mh} FROM {prefix}shg
    )"""


def pagerank_rounds_ctes(
    edges_cte: str = "edges",
    rounds: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> str:
    """Unrolled per-round CTEs mirroring graph.pagerank bit-for-bit:
    integer micro-rank units, floor division only (DuckDB `//` on
    non-negative values == Spark `DIV`), dangling mass leaked.  The
    caller provides `edges_cte` with (src, dst) and appends
    `SELECT node, rank FROM r{rounds}`.  Prepared for the r8
    registration (graph.pagerank is banked, unit-tested, probed)."""
    base = (100 - damping_pct) * scale // 100
    parts = [
        f"nodes AS (SELECT src AS node FROM {edges_cte} "
        f"UNION SELECT dst FROM {edges_cte})",
        f"deg AS (SELECT src AS node, count(*) AS outdeg FROM {edges_cte} GROUP BY 1)",
        f"r0 AS (SELECT node, CAST({scale} AS HUGEINT) AS rank FROM nodes)",
    ]
    for i in range(1, rounds + 1):
        prev = f"r{i - 1}"
        parts.append(
            f"c{i} AS (SELECT {prev}.node AS src, {prev}.rank // deg.outdeg AS c "
            f"FROM {prev} JOIN deg USING (node))"
        )
        parts.append(
            f"s{i} AS (SELECT e.dst AS node, sum(c{i}.c) AS insum "
            f"FROM {edges_cte} e JOIN c{i} ON e.src = c{i}.src GROUP BY 1)"
        )
        parts.append(
            f"r{i} AS (SELECT n.node, "
            f"CAST({base} AS HUGEINT) + ({damping_pct} * coalesce(s{i}.insum, 0)) // 100 AS rank "
            f"FROM nodes n LEFT JOIN s{i} ON n.node = s{i}.node)"
        )
    return ",\n".join(parts)


def scd2_apply_sql(
    history_cte: str,
    updates_cte: str,
    keys: list[str],
    attrs: list[str],
    effective_col: str = "effective_ts",
) -> str:
    """DuckDB mirror of sinks/merge.scd2_apply: batch LWW dedupe with the
    payload tiebreak (DESC NULLS LAST — Spark desc and DuckDB desc
    agree), full-outer current×batch, the same changes predicate
    (IS NOT DISTINCT FROM == eqNullSafe), and the three-way emit.
    Returns a complete SELECT for the post-apply table.  Prepared for
    the r8 registration (scd2_apply is banked, model-tested, probed)."""
    kcols = ", ".join(keys)
    acols = ", ".join(attrs)
    key_eq = " AND ".join(f"c.{k} = u.{k}" for k in keys)
    key_out = ", ".join(f"coalesce(c.{k}, u.{k}) AS {k}" for k in keys)
    tiebreak = ", ".join(f"{a} DESC NULLS LAST" for a in attrs)
    same = " AND ".join(f"c_{a} IS NOT DISTINCT FROM {a}" for a in attrs)
    c_attrs_sel = ", ".join(f"c.{a} AS c_{a}" for a in attrs)
    c_attrs_out = ", ".join(f"c_{a} AS {a}" for a in attrs)
    return f"""
WITH upd_ranked AS (
  SELECT {kcols}, {acols}, {effective_col} AS _eff,
         row_number() OVER (
           PARTITION BY {kcols}
           ORDER BY {effective_col} DESC, {tiebreak}
         ) AS _rn
  FROM {updates_cte}
),
upd AS (SELECT {kcols}, {acols}, _eff FROM upd_ranked WHERE _rn = 1),
cur AS (SELECT * FROM {history_cte} WHERE valid_to IS NULL),
clsd AS (SELECT {kcols}, {acols}, valid_from, valid_to FROM {history_cte}
         WHERE valid_to IS NOT NULL),
j AS (
  SELECT {key_out}, {c_attrs_sel},
         c.valid_from AS c_vf, c.valid_to AS c_vt,
         {", ".join(f"u.{a}" for a in attrs)}, u._eff
  FROM cur c FULL JOIN upd u ON {key_eq}
),
flags AS (
  SELECT *,
         (_eff IS NOT NULL AND (c_vf IS NULL OR _eff > c_vf)
          AND (c_vf IS NULL OR NOT ({same}))) AS _chg
  FROM j
)
SELECT * FROM clsd
UNION ALL
SELECT {kcols}, {c_attrs_out}, c_vf AS valid_from, _eff AS valid_to
FROM flags WHERE _chg AND c_vf IS NOT NULL
UNION ALL
SELECT {kcols}, {acols}, _eff AS valid_from, NULL AS valid_to
FROM flags WHERE _chg
UNION ALL
SELECT {kcols}, {c_attrs_out}, c_vf AS valid_from, c_vt AS valid_to
FROM flags WHERE c_vf IS NOT NULL AND NOT _chg
"""


def plan_compaction_sql(files_cte: str, target_bytes: int) -> str:
    """DuckDB mirror of sinks/layout.plan_compaction: size-DESC/path
    total order, exact running sum, bin = (running-1) // target.
    `files_cte` provides (path, size_bytes).  Prepared for the r8
    registration (plan_compaction is banked, unit-tested)."""
    # the ::BIGINT matters for driver-hash parity: the running sum is
    # HUGEINT, and HUGEINT // int stays HUGEINT, which fetchdf renders
    # as float64 where Spark emits int64
    return f"""
SELECT path, size_bytes,
       ((sum(size_bytes) OVER (ORDER BY size_bytes DESC, path
                               ROWS UNBOUNDED PRECEDING) - 1)
        // {int(target_bytes)})::BIGINT AS bin_id
FROM {files_cte}
"""


def profile_columns_sql(table: str, columns: list[str], k: int = 128) -> str:
    """DuckDB mirror of reports/drift.profile_columns: per column, exact
    n/n_null and the KMV distinct estimate over md5(value-as-string),
    truncated to BIGINT (DuckDB's double→int cast ROUNDS; Spark's cast
    truncates — trunc() aligns them).  Columns must cast to identical
    strings in both engines (strings/integers do; avoid doubles).
    Prepared for a drift-report registration."""
    space = float(1 << 48)
    parts = []
    for c in columns:
        parts.append(f"""
SELECT '{c}' AS column,
       (SELECT count(*) FROM {table}) AS n_rows,
       (SELECT count(*) - count({c}) FROM {table}) AS n_null,
       (SELECT CAST(trunc(
          CASE WHEN count(*) < {k} THEN count(*)::DOUBLE
               ELSE round({(k - 1)} * {space}
                          / ('0x' || substr(max(CASE WHEN rn <= {k} THEN h END), 1, 12))::BIGINT, 4)
          END) AS BIGINT)
        FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
              FROM (SELECT DISTINCT md5(CAST({c} AS VARCHAR)) AS h
                    FROM {table} WHERE {c} IS NOT NULL))
       ) AS distinct_est""")
    return "\nUNION ALL\n".join(parts)


def psi_report_sql(
    base_cte: str, new_cte: str, group_col: str = "column", smoothing: int = 1
) -> str:
    """DuckDB mirror of reports/drift.psi_report: full-join the observed
    bins, smooth, per-bin term rounded to 9 dp as DECIMAL(20,9), exact
    decimal sum.  ln() agreement at 9 dp between DuckDB (libm) and the
    JVM is part of what the parity test pins."""
    g = f'"{group_col}"'  # quote: 'column' (the default) is reserved in DuckDB
    return f"""
WITH j AS (
  SELECT coalesce(b.{g}, n.{g}) AS g,
         coalesce(b.cnt, 0) + {smoothing} AS bs,
         coalesce(n.cnt, 0) + {smoothing} AS ns
  FROM {base_cte} b FULL JOIN {new_cte} n
    ON b.{g} = n.{g} AND b.bin = n.bin
),
tot AS (SELECT g, sum(bs) AS bt, sum(ns) AS nt FROM j GROUP BY g),
terms AS (
  SELECT j.g,
         CAST(round((j.bs / tot.bt - j.ns / tot.nt)
                    * ln((j.bs / tot.bt) / (j.ns / tot.nt)), 9)
              AS DECIMAL(20,9)) AS t
  FROM j JOIN tot ON j.g = tot.g
),
psi AS (SELECT g AS {g}, sum(t) AS psi FROM terms GROUP BY g)
SELECT {g}, psi,
       CASE WHEN psi < 0.1 THEN 'stable'
            WHEN psi < 0.25 THEN 'moderate_shift'
            ELSE 'shifted' END AS status
FROM psi
"""


def batch_retrieval_sql(
    docs_cte: str,
    queries_cte: str,
    top_k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB mirror of corpus.batch_retrieval: same tokenizer law
    (words_sql), dl INCLUDES empty tokens while postings exclude them
    (matching doc_lengths/postings exactly), query-vocabulary pruning
    before df, per-term contributions rounded to 6 dp and summed as
    DECIMAL(18,6), per-query top-k ranked by (score DESC, doc_id).
    `docs_cte` provides (doc_id, text); `queries_cte` provides
    (query_id, query_text)."""
    return f"""
WITH base AS (
  SELECT doc_id, {words_sql('text')} AS w FROM {docs_cte}
),
stats AS (SELECT count(*) AS n_docs, sum(len(w)) AS sum_dl FROM base),
postings AS (
  SELECT doc_id, len(w) AS dl, term, count(*) AS tf
  FROM (SELECT doc_id, w, unnest(w) AS term FROM base)
  WHERE term <> ''
  GROUP BY doc_id, len(w), term
),
qterms AS (
  SELECT DISTINCT query_id, term
  FROM (SELECT query_id, unnest({words_sql('query_text')}) AS term
        FROM {queries_cte})
  WHERE term <> ''
),
relevant AS (
  SELECT * FROM postings
  WHERE term IN (SELECT DISTINCT term FROM qterms)
),
dfreq AS (SELECT term, count(*) AS df FROM relevant GROUP BY term),
contrib AS (
  SELECT q.query_id, r.doc_id,
         CAST(round(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * (r.tf * ({k1} + 1.0))
           / (r.tf + {k1} * (1.0 - {b} + {b} * r.dl / (s.sum_dl / s.n_docs))),
           6) AS DECIMAL(18,6)) AS c
  FROM relevant r
  JOIN qterms q ON r.term = q.term
  JOIN dfreq d ON r.term = d.term
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scores
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {top_k}
"""

def table_changes_sql(
    old_cte: str, new_cte: str, keys: list[str], attrs: list[str]
) -> str:
    """DuckDB mirror of sinks/cdc.snapshot_changes: full-outer join the two
    snapshots on the key, classify with IS NOT DISTINCT FROM (== Spark
    eqNullSafe), emit insert / delete / update_preimage / update_postimage
    via 4-way UNION ALL.  `old_cte` / `new_cte` provide keys + attrs.
    Prepared for the r8/r9 registration (snapshot_changes is banked,
    unit- and parity-tested)."""
    key_eq = " AND ".join(f"o.{k} IS NOT DISTINCT FROM n.{k}" for k in keys)
    k_o = ", ".join(f"o.{k}" for k in keys)
    k_n = ", ".join(f"n.{k}" for k in keys)
    kcols = ", ".join(keys)
    same = (
        " AND ".join(f"o.{a} IS NOT DISTINCT FROM n.{a}" for a in attrs)
        if attrs
        else "TRUE"
    )
    n_attrs = "".join(f", n.{a}" for a in attrs)
    o_attrs = "".join(f", o.{a}" for a in attrs)
    return f"""
WITH o AS ({old_cte}), n AS ({new_cte})
SELECT {k_n}{n_attrs}, 'insert' AS _change_type
FROM n WHERE NOT EXISTS (SELECT 1 FROM o WHERE {key_eq})
UNION ALL
SELECT {k_o}{o_attrs}, 'delete' AS _change_type
FROM o WHERE NOT EXISTS (SELECT 1 FROM n WHERE {key_eq})
UNION ALL
SELECT {k_o}{o_attrs}, 'update_preimage' AS _change_type
FROM o JOIN n ON {key_eq} WHERE NOT ({same})
UNION ALL
SELECT {k_n}{n_attrs}, 'update_postimage' AS _change_type
FROM n JOIN o ON {key_eq} WHERE NOT ({same})
"""

def spectrogram_law_sql(ids_cte: str) -> str:
    """DuckDB mirror of multimodal.audio_spectrogram over the SQUARE-tone
    fixture (synthetic_square_wav_bytes): every law is integer-exact —
    n_frames = 1 + doc_id % 4, dominant bin = the fundamental 3 + doc_id
    % 60 (square-wave harmonics, folded or not, are <= 1/3 of it), and
    per-frame energy = 256 * 12000^2 (the wave is ±A everywhere).
    `ids_cte` provides doc_id.  Prepared for the r8/r9 registration
    (audio_spectrogram is banked, unit- and parity-tested)."""
    return f"""
SELECT doc_id,
       CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate,
       CAST(unnest(generate_series(0, doc_id % 4)) AS INTEGER) AS frame_idx,
       CAST(3 + doc_id % 60 AS INTEGER) AS dominant_bin,
       CAST(36864000000 AS BIGINT) AS frame_energy
FROM ({ids_cte})
"""


def interval_join_sql(
    left_cte: str,
    right_cte: str,
    l_cols: list[str],
    r_cols: list[str],
    by: str | None = None,
    left_bounds: tuple[str, str] = ("start", "end"),
    right_bounds: tuple[str, str] = ("start", "end"),
    suffix: str = "_r",
    point: str | None = None,
) -> str:
    """DuckDB mirror of operators/intervals.interval_join (and, with
    `point` set, point_in_interval_join): the PLAIN closed-interval
    inequality join, which DuckDB executes natively (IEJoin) — the
    binning + emit-once machinery is internal to the Spark side, so the
    oracle never sees it; matching output proves each overlapping pair
    is emitted exactly once.  `l_cols` / `r_cols` are the full column
    lists of the two relations; right columns (except `by`) come back
    with `suffix`, same as the operator.  Every identifier is
    double-quoted — interval columns are routinely named `end`, reserved
    in DuckDB."""

    def q(c: str) -> str:
        return '"' + c + '"'

    ls, le = left_bounds
    rs, re_ = right_bounds
    overlap = (
        f"r.{q(rs)} <= l.{q(point)} AND l.{q(point)} <= r.{q(re_)}"
        if point
        else f"l.{q(ls)} <= r.{q(re_)} AND r.{q(rs)} <= l.{q(le)}"
    )
    on = (f"l.{q(by)} = r.{q(by)} AND " if by else "") + overlap
    sel = ", ".join(
        [f"l.{q(c)}" for c in l_cols]
        + [f"r.{q(c)} AS {q(c + suffix)}" for c in r_cols if c != by]
    )
    return f"""
WITH l AS ({left_cte}), r AS ({right_cte})
SELECT {sel} FROM l JOIN r ON {on}
"""


def grouped_ols_sql(source_cte: str, y: str, x: str, by: list[str]) -> str:
    """DuckDB mirror of reports/regression.grouped_ols: the same five
    HUGEINT moment sums (exact, order-independent), the same closed
    forms with double division as the only float step, the same 9-dp
    round — NOT DuckDB's regr_* (those accumulate in floating point, so
    their last bits depend on scan order).  Degenerate laws match:
    zero x-variance → NULL slope/intercept/r2; zero y-variance →
    slope 0, r2 NULL.  `by=[]` emits the ungrouped whole-table form."""
    keys = ", ".join(by)
    key_sel = f"{keys}, " if by else ""
    group_by = f"GROUP BY {keys}" if by else ""
    return f"""
WITH src AS ({source_cte}),
m AS (
  SELECT {key_sel}count(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN 1 END) AS n,
         sum(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN CAST({x} AS HUGEINT) END) AS sx,
         sum(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN CAST({y} AS HUGEINT) END) AS sy,
         sum(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN CAST({x} AS HUGEINT) * CAST({y} AS HUGEINT) END) AS sxy,
         sum(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN CAST({x} AS HUGEINT) * CAST({x} AS HUGEINT) END) AS sxx,
         sum(CASE WHEN {x} IS NOT NULL AND {y} IS NOT NULL THEN CAST({y} AS HUGEINT) * CAST({y} AS HUGEINT) END) AS syy
  FROM src {group_by}
),
d AS (
  SELECT {key_sel}n,
         CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
         CAST(n * sxx - sx * sx AS DOUBLE) AS varx,
         CAST(n * syy - sy * sy AS DOUBLE) AS vary,
         CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         CAST(n AS DOUBLE) AS nd
  FROM m WHERE n > 0
)
SELECT {key_sel}n,
       CASE WHEN varx > 0 THEN round(covn / varx, 9) END AS slope,
       CASE WHEN varx > 0
            THEN round((syd - (covn / varx) * sxd) / nd, 9) END AS intercept,
       CASE WHEN varx > 0 AND vary > 0
            THEN round(covn * covn / (varx * vary), 9) END AS r2
FROM d
"""


def expectation_report_sql(source_cte: str, rules: list[tuple[str, str]]) -> str:
    """DuckDB mirror of reports/expectations.expectation_report: every
    rule is a conditional count in ONE aggregate over ONE scan, pass iff
    the predicate `IS TRUE` (NULL fails — the closed-world law), fail
    rate rounded to 9 dp with the zero-rows → 0.0 convention.  `rules`
    pairs each name with a DuckDB boolean expression over the source
    columns."""
    counts = ", ".join(
        f"count(CASE WHEN ({pred}) IS TRUE THEN 1 END) AS p_{i}, "
        f"count(CASE WHEN NOT (({pred}) IS TRUE) THEN 1 END) AS f_{i}"
        for i, (_, pred) in enumerate(rules)
    )
    arms = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, p_{i} AS n_pass, f_{i} AS n_fail, "
        f"CASE WHEN p_{i} + f_{i} > 0 "
        f"THEN {e9_div_sql(f'f_{i}', 10**9, f'(p_{i}::HUGEINT + f_{i})', signed=False)}::DOUBLE / 1000000000 "
        f"ELSE 0.0 END AS fail_rate "
        f"FROM wide"
        for i, (name, _) in enumerate(rules)
    )
    return f"""
WITH src AS ({source_cte}),
wide AS (SELECT {counts} FROM src)
{arms}
"""


def pmi_collocations_sql(source_cte: str, min_count: int = 5) -> str:
    """DuckDB mirror of corpus.pmi_collocations: the same staged-words
    law (words_sql), bigram pairs via two zipped slice unnests, exact
    counts, and the identical double ln/division law at 9 dp.  NPMI is
    NULL when this pair is the whole bigram population (-ln(p_ab) = 0)."""
    return f"""
WITH src AS ({source_cte}),
w AS (SELECT {words_sql('text')} AS ws FROM src),
uni AS (SELECT unnest(ws) AS w FROM w),
uc AS (SELECT w, count(*) AS c_uni FROM uni GROUP BY w),
nu AS (SELECT sum(c_uni) AS n_uni FROM uc),
bip AS (
  SELECT unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2 FROM w
),
bc AS (SELECT w1, w2, count(*) AS c_ab FROM bip GROUP BY w1, w2),
nb AS (SELECT sum(c_ab) AS n_bi FROM bc)
SELECT bc.w1, bc.w2, bc.c_ab, a.c_uni AS c_a, b.c_uni AS c_b,
       round(ln((bc.c_ab::DOUBLE / n_bi::DOUBLE)
                / ((a.c_uni::DOUBLE / n_uni::DOUBLE)
                   * (b.c_uni::DOUBLE / n_uni::DOUBLE))), 9) AS pmi,
       CASE WHEN bc.c_ab < n_bi THEN
         round(ln((bc.c_ab::DOUBLE / n_bi::DOUBLE)
                  / ((a.c_uni::DOUBLE / n_uni::DOUBLE)
                     * (b.c_uni::DOUBLE / n_uni::DOUBLE)))
               / -ln(bc.c_ab::DOUBLE / n_bi::DOUBLE), 9)
       END AS npmi
FROM bc
JOIN uc a ON a.w = bc.w1
JOIN uc b ON b.w = bc.w2
CROSS JOIN nu CROSS JOIN nb
WHERE bc.c_ab >= {min_count}
"""


def link_records_sql(
    left_cte: str,
    right_cte: str,
    threshold: float = 0.82,
    max_block: int = 50,
    prefix_len: int = 3,
    suffix_len: int | None = None,
    initials_len: int = 1,
) -> str:
    """DuckDB mirror of er.link_records over PRE-NORMALIZED names
    (lowercase, single spaces — normalize_text is then the identity,
    the q_resolve_entities convention): same blocking keys, the
    either-side hot cap, both Levenshtein arms at 4 dp, best match =
    (sim DESC, id_r ASC) row 1, unmatched lefts decision='new'.
    The CTEs provide (rec_id, name)."""
    def keys(src, alias):
        suffix_arm = (
            f"""
    UNION ALL
    SELECT rec_id,
           's:' || substr(name, -{suffix_len}, {suffix_len}) || '#' ||
           (length(name) // 4)::VARCHAR AS key
    FROM {src}"""
            if suffix_len is not None
            else ""
        )
        return f"""{alias} AS (
  SELECT DISTINCT rec_id, key FROM (
    SELECT rec_id,
           'p:' || substr(name, 1, {prefix_len}) || '#' ||
           (length(name) // 4)::VARCHAR AS key
    FROM {src}
    UNION ALL
    SELECT rec_id,
           'i:' || array_to_string(
             list_sort(list_transform(string_split(name, ' '),
                                      t -> substr(t, 1, {initials_len}))), '') AS key
    FROM {src}{suffix_arm}
  ) WHERE length(key) > 2 AND key NOT IN ('p:#0', 'i:', 's:#0')
)"""

    return f"""
WITH l AS ({left_cte}), r AS ({right_cte}),
{keys('l', 'lk')},
{keys('r', 'rk')},
hot AS (
  SELECT key FROM lk GROUP BY key HAVING count(*) > {max_block}
  UNION
  SELECT key FROM rk GROUP BY key HAVING count(*) > {max_block}
),
cands AS (
  SELECT DISTINCT lk.rec_id AS id_l, rk.rec_id AS id_r
  FROM lk JOIN rk ON lk.key = rk.key
  WHERE lk.key NOT IN (SELECT key FROM hot)
),
lf AS (SELECT rec_id, name AS nm,
              array_to_string(list_sort(string_split(name, ' ')), ' ') AS ts
       FROM l),
rf AS (SELECT rec_id, name AS nm,
              array_to_string(list_sort(string_split(name, ' ')), ' ') AS ts
       FROM r),
scored AS (
  SELECT id_l, id_r,
         round(greatest(
           1.0 - levenshtein(lf.nm, rf.nm)::DOUBLE
                 / greatest(length(lf.nm), length(rf.nm), 1),
           1.0 - levenshtein(lf.ts, rf.ts)::DOUBLE
                 / greatest(length(lf.ts), length(rf.ts), 1)), 4) AS sim
  FROM cands JOIN lf ON lf.rec_id = id_l JOIN rf ON rf.rec_id = id_r
),
best AS (
  SELECT id_l, id_r, sim,
         row_number() OVER (PARTITION BY id_l ORDER BY sim DESC, id_r ASC) AS rk
  FROM scored WHERE sim >= {threshold}
)
SELECT l.rec_id AS id_l, b.id_r, b.sim,
       CASE WHEN b.id_r IS NOT NULL THEN 'matched' ELSE 'new' END AS decision
FROM l LEFT JOIN (SELECT id_l, id_r, sim FROM best WHERE rk = 1) b
  ON b.id_l = l.rec_id
"""


def segment_sentences_sql(source_cte: str) -> str:
    """DuckDB mirror of text.segment_sentences: the same RE2 sentence
    regex (the law is chosen lookaround-free precisely so both engines'
    extract_all agree), trim + drop-empty, 0-based order index via
    unnest WITH ORDINALITY, whitespace token count."""
    return r"""
WITH src AS ({src}),
pieces AS (
  SELECT doc_id,
         list_filter(list_transform(
           regexp_extract_all(text, '[^.!?]+[.!?]*'), s -> trim(s)),
           s -> s <> '') AS sents
  FROM src
),
exploded AS (
  SELECT doc_id,
         unnest(generate_series(1, len(sents))) AS idx,
         unnest(sents) AS sentence
  FROM pieces
)
SELECT doc_id,
       CAST(idx - 1 AS INTEGER) AS sent_idx,
       sentence,
       CAST(len(regexp_split_to_array(trim(sentence), '[ \t\n\x0B\f\r]+')) AS INTEGER)
         AS n_ws_tokens
FROM exploded
""".replace("{src}", source_cte)


def table_fingerprint_sql(
    source_cte: str, cols: list[str], by: list[str] | None = None
) -> str:
    """DuckDB mirror of exactness.table_fingerprint: per row the canonical
    `v<value>`/\\x01 tokens joined by \\x1f, md5, first 15 hex chars as a
    60-bit BIGINT; per group (n_rows, Σ mod 2^61−1, xor).  HUGEINT holds
    the raw sum; the mod brings it back to BIGINT like Spark's
    decimal-(38,0)-then-cast."""
    by = by or []
    fp_mod = (1 << 61) - 1

    def tok(c: str) -> str:
        return f"CASE WHEN {c} IS NULL THEN chr(1) ELSE 'v' || CAST({c} AS VARCHAR) END"

    row = " || chr(31) || ".join(tok(c) for c in cols)
    h = f"('0x' || substr(md5({row}), 1, 15))::BIGINT"
    sel_by = "".join(f"{c}, " for c in by)
    grp = f" GROUP BY {', '.join(by)}" if by else ""
    return f"""
SELECT {sel_by}count(*)::BIGINT AS n_rows,
       coalesce((sum({h}::HUGEINT) % {fp_mod})::BIGINT, 0) AS fp_sum,
       coalesce(bit_xor({h}), 0) AS fp_xor
FROM ({source_cte}){grp}
"""


def rolling_zscore_sql(
    source_cte: str,
    by: str,
    order_col: str,
    value_col: str,
    window: int = 20,
    min_periods: int = 5,
    z_thresh: float = 3.0,
    passthrough: list[str] | None = None,
) -> str:
    """DuckDB mirror of reports/anomaly.rolling_zscore: the identical
    trailing ROWS frame, HUGEINT exact moment sums, and the VERBATIM
    variance/z expression (same IEEE op order → identical doubles),
    rounded to 9 dp.  `passthrough` = extra input columns to carry."""
    extra = "".join(f"{c}, " for c in (passthrough or []))
    w = f"PARTITION BY {by} ORDER BY {order_col}"
    frame = f"ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING"
    return f"""
WITH src AS ({source_cte}), m AS (
  SELECT {extra}{by}, {order_col}, {value_col},
         count({value_col}) OVER ({w} {frame}) AS n,
         sum({value_col}::HUGEINT) OVER ({w} {frame}) AS s1,
         sum(({value_col}::HUGEINT) * ({value_col}::HUGEINT)) OVER ({w} {frame}) AS s2
  FROM src
), zc AS (
  SELECT *,
         CASE WHEN n >= {min_periods}
               AND (s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                   / (n::DOUBLE - 1) > 0
              THEN round(({value_col}::DOUBLE - s1::DOUBLE / n::DOUBLE)
                         / sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE / n::DOUBLE)
                                / (n::DOUBLE - 1)), 9)
         END AS z
  FROM m
)
SELECT {extra}{by}, {order_col}, {value_col}, n::BIGINT AS roll_n, z,
       CASE WHEN z IS NOT NULL THEN abs(z) > {z_thresh} END AS is_anomaly
FROM zc
"""


def phrase_search_sql(
    docs_cte: str,
    phrases_cte: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    phrase_col: str = "phrase",
    qid_col: str = "query_id",
) -> str:
    """DuckDB mirror of corpus.phrase_search, deliberately via a DIFFERENT
    formulation — per-start LIST-SLICE equality over the token lists — so
    a bug in the count-per-start distribution law cannot hide in its own
    mirror.  list_filter over generate_series (empty when the doc is
    shorter than the phrase, so first_pos = hits[1] is always the min);
    the unnest-in-select + outer-slice-filter form hits a DuckDB 1.0
    binder bug ("Failed to bind column reference"), and lateral
    generate_series is unsupported — the lambda form avoids both.
    Small-side cross join is fine at oracle scale."""
    return f"""
WITH d AS (SELECT {id_col}, {words_sql(text_col)} AS toks FROM ({docs_cte})),
p AS (SELECT {qid_col}, {words_sql(phrase_col)} AS ptoks FROM ({phrases_cte})),
m AS (
  SELECT d.{id_col}, p.{qid_col},
         list_filter(generate_series(1, len(d.toks) - len(p.ptoks) + 1),
                     s -> d.toks[s:s + len(p.ptoks) - 1] = p.ptoks) AS hits
  FROM d, p
)
SELECT {qid_col}, {id_col}, len(hits)::BIGINT AS n_occurrences,
       hits[1]::BIGINT AS first_pos
FROM m WHERE len(hits) > 0
"""


def _gram_ctes(train_src: str, bench_src: str, n: int = 8) -> str:
    """Shared CTE chain for the contamination twins: positional gram
    hashes for both corpora via the ONE words/gram law (the
    q_dup_ngram_spans pattern — tokenize once, slice, md5).  The gram
    expression is spelled exactly twice (train/bench instantiations of
    `gram`); both downstream twins read these CTEs only, so an edit to
    the law cannot desynchronize them."""
    span = n - 1
    gram = f"md5(array_to_string(ws[i:i+{span}], ' '))"
    series = f"unnest(generate_series(1, len(ws) - {span})) AS t(i)"
    return f"""tw AS (
  SELECT doc_id, {words_sql('text')} AS ws FROM ({train_src})
), tg AS (
  SELECT doc_id, i AS pos, {gram} AS h FROM tw, {series}
), bw AS (
  SELECT doc_id, {words_sql('text')} AS ws FROM ({bench_src})
), bgrams AS (
  SELECT doc_id, {gram} AS h FROM bw, {series}
)"""


def contamination_pairs_sql(train_src: str, bench_src: str, n: int = 8) -> str:
    """DuckDB twin of dedup.benchmark_contamination_pairs."""
    return f"""
WITH {_gram_ctes(train_src, bench_src, n)},
bgd AS (SELECT DISTINCT doc_id AS bench_id, h FROM bgrams),
tgd AS (SELECT DISTINCT doc_id AS train_id, h FROM tg)
SELECT train_id, bench_id, count(*)::BIGINT AS n_shared_grams
FROM tgd JOIN bgd USING (h)
GROUP BY train_id, bench_id
"""


def contamination_report_sql(train_src: str, bench_src: str, n: int = 8) -> str:
    """DuckDB twin of dedup.contamination_report."""
    return f"""
WITH {_gram_ctes(train_src, bench_src, n)},
hits AS (
  SELECT doc_id AS train_id, count(*)::BIGINT AS n_hit_positions
  FROM tg WHERE h IN (SELECT DISTINCT h FROM bgrams)
  GROUP BY doc_id
),
totals AS (
  SELECT doc_id, greatest(len(ws) - {n - 1}, 0)::BIGINT AS n_grams FROM tw
)
SELECT train_id, n_hit_positions, n_grams,
       {e9_div_sql("n_hit_positions", 10**9, "n_grams", signed=False)}::DOUBLE
       / 1000000000 AS contaminated_frac
FROM hits JOIN totals ON train_id = doc_id
"""


def _hll_alpha(p: int) -> float:
    """Import-free mirror of operators.sketch._hll_alpha — this module
    stays pyspark-free so the twins run in a DuckDB-only process; a unit
    test pins the two definitions equal for every legal p."""
    return {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1 + 1.079 / (1 << p)))


def hll_registers_sql(source_sql: str, group: str, value: str, p: int = 12) -> str:
    """The register-table half of the HLL law — one row per (group,
    bucket) with the max rho — shared by hll_distinct_sql and the
    streaming-drain oracle (q_stream_hll), so the bucket/rho law
    (disjoint md5 hex ranges, exact leading-zero count via
    length(bin(w)), the 49-cap for w=0) lives in ONE place and the
    twins cannot drift."""
    m = 1 << p
    return f"""
WITH hsh AS (
  SELECT {group} AS grp, md5(({value})::VARCHAR) AS h
  FROM ({source_sql}) WHERE {value} IS NOT NULL
)
SELECT grp AS {group},
       (('0x' || substr(h, 1, 4))::BIGINT % {m})::INT AS bucket,
       max(CASE WHEN ('0x' || substr(h, 5, 12))::BIGINT = 0 THEN 49
                ELSE 49 - length(bin(('0x' || substr(h, 5, 12))::BIGINT))
           END)::INT AS register
FROM hsh GROUP BY grp, bucket
"""


def hll_distinct_sql(source_sql: str, group: str, value: str, p: int = 12) -> str:
    """DuckDB twin of sketch.hll_distinct: identical md5-derived
    bucket/rho law (hll_registers_sql), identical exact-integer harmonic
    denominator (1 << (49-M), HUGEINT sum), identical single-division +
    small-range linear-counting branch.  The float `num` constant is
    computed ONCE in Python and embedded verbatim in both engines."""
    m = 1 << p
    num = _hll_alpha(p) * m * m * float(1 << 49)
    return f"""
WITH regs AS ({hll_registers_sql(source_sql, group, value, p)}),
agg AS (
  SELECT {group} AS grp, count(*)::BIGINT AS np,
         sum((1::BIGINT << (49 - register))::HUGEINT) AS denp
  FROM regs GROUP BY {group}
), est AS (
  SELECT grp, ({m} - np) AS zeros,
         {num!r} / (denp + ({m} - np)::HUGEINT
                    * (1::BIGINT << 49)::HUGEINT)::DOUBLE AS raw
  FROM agg
)
SELECT grp AS {group},
       CASE WHEN raw <= 2.5 * {m} AND zeros > 0
            THEN round({m}::DOUBLE * ln({m}::DOUBLE / zeros::DOUBLE), 6)
            ELSE round(raw, 6) END AS hll_distinct
FROM est
"""


def exact_percentiles_sql(
    source_sql: str,
    value: str,
    pcts: tuple[int, ...] = (25, 50, 75),
    by: str | None = None,
) -> str:
    """DuckDB twin of windows.exact_percentiles: the same explicit
    integer-rank law ((pct·n + 99) // 100), spelled over row_number —
    deliberately NOT quantile_disc(value, pct/100.0), whose float
    quantile argument re-introduces the boundary rounding the operator
    avoids (unit tests crosscheck quantile_disc off-boundary)."""
    part = f"PARTITION BY {by} " if by else ""
    bysel = f"{by}, " if by else ""
    pvals = ", ".join(f"({p})" for p in pcts)
    return f"""
WITH v AS (
  SELECT {bysel}{value} AS value FROM ({source_sql}) WHERE {value} IS NOT NULL
), r AS (
  SELECT {bysel}value,
         row_number() OVER ({part}ORDER BY value) AS rn,
         count(*) OVER ({part.rstrip() or ''}) AS n
  FROM v
)
SELECT {bysel}pct, value
FROM r JOIN (VALUES {pvals}) AS p(pct)
  ON rn = (pct * n + 99) // 100
"""


def pivot_table_sql(
    source_sql: str,
    group: str,
    pivot: str,
    values: list[str],
    agg_col: str | None = None,
) -> str:
    """DuckDB twin of reshape.pivot_table: explicit CASE-inside-aggregate
    (the very plan pivot-with-values compiles to), 0 for absent cells."""
    def lit(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    def cell(v: str) -> str:
        if agg_col is None:
            inner = f"count(*) FILTER (WHERE {pivot} = {lit(v)})"
        else:
            inner = f"coalesce(sum({agg_col}) FILTER (WHERE {pivot} = {lit(v)}), 0)"
        return f'{inner} AS "{v}"'

    cells = ",\n       ".join(cell(v) for v in values)
    quoted = ", ".join(lit(v) for v in values)
    return f"""
SELECT {group}, {cells}
FROM ({source_sql})
WHERE {pivot} IN ({quoted})
GROUP BY {group}
"""


def setsim_pairs_sql(source_cte: str, t_num: int = 7, t_den: int = 10) -> str:
    """DuckDB twin of dedup.setsim_pairs — deliberately the BRUTE-FORCE
    formulation (distinct (id, token) self-join → pair intersection
    counts → exact integer threshold), with NO prefix filter: a false
    negative in the Spark side's prefix/size pruning cannot hide in its
    own mirror.  Source must expose (doc_id, text).  Threshold compare
    is the same integer cross-multiply (inter·t_den ≥ union·t_num)."""
    return f"""
WITH src AS ({source_cte}),
tok AS (
  SELECT DISTINCT doc_id AS id, tok
  FROM (SELECT doc_id, unnest({words_sql('text')}) AS tok FROM src)
  WHERE tok <> ''
),
sizes AS (SELECT id, count(*) AS s FROM tok GROUP BY 1),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_common
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.id < b.id
  GROUP BY 1, 2
)
SELECT i.id_a, i.id_b,
       i.n_common::BIGINT AS n_common,
       (sa.s + sb.s - i.n_common)::BIGINT AS n_union,
       round(i.n_common::DOUBLE / (sa.s + sb.s - i.n_common), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.n_common * {t_den} >= (sa.s + sb.s - i.n_common) * {t_num}
"""


def e9_div_sql(num: str, mult: int, den: str, signed: bool = True) -> str:
    """DuckDB twin of exactness.e9_div_expr — THE other copy of the
    exact-e9 law (round-half-away(num·mult/den) in units of 10⁻⁹, as
    exact HUGEINT arithmetic; `//` truncates toward zero for the
    non-negative operands abs() guarantees).  DuckDB raises loudly on
    HUGEINT overflow by itself, so no guard scaffolding is needed; the
    Spark side carries the NULL/envelope guards instead.

    Same REMAINDER rounding form as the Spark copy (q = g // den; round
    up iff r ≥ den − r): the textbook doubling (2·g + den) // (2·den)
    overflows INT128 for g ≥ ~8.5·10³⁷ — a magnitude the Spark side's
    skipped-envelope regime legally reaches (g < 10³⁸) — so the two
    engines would stop being value-equal exactly where the r12 hardening
    made the Spark side exact.  q·den ≤ g and den − r cannot overflow."""
    g = f"(abs({num})::HUGEINT * {mult})"
    q = f"({g} // ({den})::HUGEINT)"
    r = f"({g} - {q} * ({den})::HUGEINT)"
    e9 = f"({q} + (CASE WHEN {r} >= ({den})::HUGEINT - {r} THEN 1 ELSE 0 END))"
    if signed:
        return f"((CASE WHEN ({num}) < 0 THEN -1 ELSE 1 END) * {e9})"
    return e9


def embedding_covariance_sql(
    source_cte: str, vec: str = "embedding", grid: int = 1_000_000
) -> str:
    """DuckDB twin of similarity.embedding_covariance: identical snap law
    (round(x·grid) per component — both engines round the same IEEE
    double away from zero), identical exact HUGEINT moment sums, and the
    IDENTICAL exact-integer 9-dp rounding — e9 = (2·|Σ|·mult + den) //
    (2·den) re-signed, then one exact /10⁹ double division.  A float
    round(x, 9) here is engine-divergent whenever the true quotient
    terminates at 10 digits (DuckDB rounds via a 10⁹ multiply, Spark
    via BigDecimal on the binary double — they disagree on every such
    tie; the sf0.1 testdata's n·grid = 2·10¹² made every mean one).
    Upper triangle i ≤ j, 1-based dims."""
    # the gcd fold is THE shared copy (exact_math.cov_scale — a
    # dependency-free module, so this import keeps the pure-SQL-builder
    # contract: no pyspark reaches this module even transitively);
    # similarity.py imports the same function, so the two engines cannot
    # silently disagree on the cov rounding grid.
    from .exact_math import cov_scale

    cov_mult, cov_den = cov_scale(grid)
    return f"""
WITH src AS ({source_cte}),
vecs AS (
  SELECT row_number() OVER () AS rid, {vec} AS v FROM src WHERE {vec} IS NOT NULL
),
snapped AS (
  SELECT rid, i, round(v[i]::DOUBLE * {grid})::BIGINT AS x
  FROM vecs, unnest(generate_series(1, len(v))) t(i)
),
q AS (
  SELECT a.i AS i, b.i AS j,
         sum(a.x::HUGEINT * b.x::HUGEINT) AS qsum,
         count(*) AS n
  FROM snapped a JOIN snapped b ON a.rid = b.rid AND b.i >= a.i
  GROUP BY 1, 2
),
s AS (SELECT i, sum(x::HUGEINT) AS ssum FROM snapped GROUP BY 1),
raw AS (
  SELECT q.i, q.j, q.n,
         si.ssum AS si_sum, sj.ssum AS sj_sum,
         q.n::HUGEINT * q.qsum - si.ssum * sj.ssum AS num,
         q.n::HUGEINT * {grid}::HUGEINT AS mden,
         q.n::HUGEINT * q.n::HUGEINT * {cov_den}::HUGEINT AS cden
  FROM q JOIN s si ON si.i = q.i JOIN s sj ON sj.i = q.j
)
SELECT i, j, n::BIGINT AS n,
       {e9_div_sql("si_sum", 10**9, "mden")}::DOUBLE / 1000000000 AS mean_i,
       {e9_div_sql("sj_sum", 10**9, "mden")}::DOUBLE / 1000000000 AS mean_j,
       {e9_div_sql("num", cov_mult, "cden")}::DOUBLE / 1000000000 AS cov
FROM raw
"""


def bfs_distances_sql(edges_src: str, sources_src: str, max_hops: int = 5) -> str:
    """DuckDB twin of graph.bfs_distances (directed form; pass a
    union-reversed edges_src for undirected): recursive walk bounded by
    max_hops, minimal distance per node.  UNION (distinct) dedups
    (node, dist) pairs so cycles terminate at the hop bound.  NULL seeds
    and NULL edge endpoints are dropped — the Spark op's law."""
    return f"""
WITH RECURSIVE walk AS (
  SELECT node, 0 AS dist FROM ({sources_src}) WHERE node IS NOT NULL
  UNION
  SELECT e.dst AS node, w.dist + 1 AS dist
  FROM walk w JOIN ({edges_src}) e ON e.src = w.node
  WHERE w.dist < {max_hops} AND e.dst IS NOT NULL
)
SELECT node, min(dist)::INT AS dist FROM walk GROUP BY 1
"""


def _disc_median_cte(src: str, val: str, by: str | None, name: str) -> str:
    """PERCENTILE_DISC(50) via the exact integer rank law ((50n+99)//100)
    — the exact_percentiles formulation, NOT quantile_disc, so the twin
    replays the identical arithmetic rather than trusting a builtin."""
    part = f"PARTITION BY {by}" if by else ""
    key = f"{by}, " if by else ""
    return f"""{name} AS (
  SELECT {key}v AS m FROM (
    SELECT {key}{val} AS v,
           row_number() OVER ({part} ORDER BY {val}) AS rn,
           count(*) OVER ({part}) AS n
    FROM {src} WHERE {val} IS NOT NULL)
  WHERE rn = (50 * n + 99) // 100
)"""


def mad_outliers_sql(
    source_cte: str,
    value: str,
    by: str | None = None,
    k_num: int = 3,
    k_den: int = 1,
) -> str:
    """DuckDB twin of reports.anomaly.mad_outliers.  is_outlier emitted
    as the raw three-valued boolean; cast at the call site if the
    comparator needs it."""
    j = f"ON s.{by} IS NOT DISTINCT FROM med.{by}" if by else "ON TRUE"
    j2 = f"ON d.{by} IS NOT DISTINCT FROM mad.{by}" if by else "ON TRUE"
    return f"""
WITH src AS ({source_cte}),
{_disc_median_cte('src', value, by, 'med')},
dev AS (
  SELECT s.*, med.m AS med, abs(s.{value} - med.m) AS _dev
  FROM src s LEFT JOIN med {j}
),
{_disc_median_cte('dev', '_dev', by, 'mad')}
SELECT d.* EXCLUDE (_dev), mad.m AS mad,
       CASE WHEN d.{value} IS NULL OR d.med IS NULL THEN NULL
            ELSE d._dev::HUGEINT * {k_den} > {k_num} * mad.m::HUGEINT END
         AS is_outlier
FROM dev d LEFT JOIN mad {j2}
"""


def weighted_bernoulli_sql(
    source_cte: str,
    weight: str,
    rate_num: int,
    rate_den: int,
    id_col: str = "doc_id",
    salt: str = "wbs-v1",
) -> str:
    """DuckDB twin of sampling.weighted_bernoulli_sample: identical
    48-bit md5(salt|id) draw and exact HUGEINT cross-multiply — keep iff
    u·rate_den < weight·rate_num·2^48.  NULL/negative weights and NULL
    ids drop, matching the op (negative weight ⇒ rhs ≤ 0 < u·den)."""
    scale = int(rate_num) * (1 << 48)
    return f"""
SELECT * FROM ({source_cte})
WHERE {weight} IS NOT NULL AND {id_col} IS NOT NULL
  AND ('0x' || substr(md5('{salt}|' || {id_col}::VARCHAR), 1, 12))::BIGINT
      * {int(rate_den)}::HUGEINT
      < {weight}::HUGEINT * {scale}::HUGEINT
"""


def stratified_sample_sql(
    source_cte: str,
    total_n: int,
    stratum: str,
    id_col: str,
    salt: str = "strat-v1",
) -> str:
    """DuckDB twin of sampling.stratified_sample: identical Hamilton
    allocation in exact HUGEINT arithmetic, identical md5(salt|id)
    selection order (both engines compare the lowercase hex string).
    The Spark side's total_n > row-count guard is mirrored with an
    error() arm in `tot` — without it the twin would silently return
    fewer than total_n rows where the op raises."""
    return f"""
WITH src AS ({source_cte}),
cnt AS (SELECT {stratum} AS st, count(*) AS ng FROM src GROUP BY 1),
tot AS (SELECT CASE WHEN {total_n} > sum(ng)
                    THEN error('stratified_sample: total_n exceeds input rows')
                    ELSE sum(ng) END AS n
        FROM cnt),
alloc0 AS (
  SELECT st, ng, n,
         ({total_n}::HUGEINT * ng) // n AS base,
         {total_n}::HUGEINT * ng - (({total_n}::HUGEINT * ng) // n) * n AS rem
  FROM cnt, tot
),
spent AS (SELECT sum(base) AS s FROM alloc0),
alloc AS (
  SELECT st,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, st ASC)
                      <= {total_n} - (SELECT s FROM spent) THEN 1 ELSE 0 END AS a
  FROM alloc0
),
ranked AS (
  SELECT s.*,
         row_number() OVER (
           PARTITION BY s.{stratum}
           ORDER BY md5('{salt}|' || s.{id_col}::VARCHAR), s.{id_col}
         ) AS sample_rank
  FROM src s
)
SELECT r.* FROM ranked r
JOIN alloc a ON r.{stratum} IS NOT DISTINCT FROM a.st
WHERE r.sample_rank <= a.a
"""


def hll_join_estimate_sql(
    a_src: str, b_src: str, group: str, value: str, p: int = 12
) -> str:
    """DuckDB twin of sketch.hll_join_estimate: the three estimates each
    ride the hll_distinct_sql law (union = UNION ALL of the two sources —
    algebraically identical to max-merging the register tables), then
    the same inclusion–exclusion with the same 6-dp rounds, so both
    engines land on identical doubles."""
    ea = hll_distinct_sql(a_src, group, value, p)
    eb = hll_distinct_sql(b_src, group, value, p)
    eu = hll_distinct_sql(f"({a_src}) UNION ALL ({b_src})", group, value, p)
    return f"""
WITH ea AS ({ea}), eb AS ({eb}), eu AS ({eu})
SELECT eu.{group},
       coalesce(ea.hll_distinct, 0) AS est_a,
       coalesce(eb.hll_distinct, 0) AS est_b,
       eu.hll_distinct AS est_union,
       greatest(round(coalesce(ea.hll_distinct, 0) + coalesce(eb.hll_distinct, 0)
                      - eu.hll_distinct, 6), 0) AS est_intersection,
       CASE WHEN eu.hll_distinct > 0
            THEN round(greatest(round(coalesce(ea.hll_distinct, 0)
                                      + coalesce(eb.hll_distinct, 0)
                                      - eu.hll_distinct, 6), 0)
                       / eu.hll_distinct, 6)
       END AS est_jaccard
FROM eu
LEFT JOIN ea ON ea.{group} IS NOT DISTINCT FROM eu.{group}
LEFT JOIN eb ON eb.{group} IS NOT DISTINCT FROM eu.{group}
"""


def hashed_embedding_sql(
    source_cte: str, dim: int = 64, salt: str = "emb-v1"
) -> str:
    """DuckDB twin of corpus.hashed_embedding: identical md5 bucket/sign
    law (disjoint hex ranges), identical exact integer sums, dense array
    assembled over the same 0..dim-1 sequence.  Source must expose
    (doc_id, text)."""
    return f"""
WITH src AS ({source_cte}),
tok AS (
  SELECT doc_id, md5('{salt}|' || tok) AS h
  FROM (SELECT doc_id, unnest({words_sql('text')}) AS tok FROM src)
  WHERE tok <> ''
),
sums AS (
  SELECT doc_id,
         ('0x' || substring(h, 1, 12))::BIGINT % {dim} AS b,
         sum(CASE WHEN ('0x' || substring(h, 13, 1))::BIGINT % 2 = 0
                  THEN 1 ELSE -1 END)::BIGINT AS v
  FROM tok GROUP BY 1, 2
),
dense AS (
  -- dense 0..dim-1 grid left-joined to the sparse sums: deliberately
  -- NOT a MAP lookup — DuckDB changed map-bracket extraction semantics
  -- between 1.0 (returns a list) and 1.1+ (returns the value), and the
  -- twin must not depend on which duckdb is installed
  SELECT d.doc_id, g.b, coalesce(s.v, 0)::BIGINT AS v
  FROM (SELECT DISTINCT doc_id FROM sums) d
  CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS b) g
  LEFT JOIN sums s ON s.doc_id = d.doc_id AND s.b = g.b
)
SELECT doc_id, list(v ORDER BY b) AS vec FROM dense GROUP BY 1
"""


def key_skew_report_sql(source_cte: str, key: str, top_k: int = 20) -> str:
    """DuckDB twin of skew.key_skew_report: same count/total/top-k law,
    same exact integer parts-per-million ((n·1e6) // total), same
    (n DESC, key ASC NULLS LAST) total order — DuckDB's ASC default is
    already nulls-last, matching the Spark side's explicit
    asc_nulls_last."""
    return f"""
WITH src AS ({source_cte}),
cnt AS (SELECT {key} AS key, count(*) AS n FROM src GROUP BY 1),
tot AS (SELECT sum(n) AS t FROM cnt),
ranked AS (
  SELECT key, n, row_number() OVER (ORDER BY n DESC, key ASC) AS rank
  FROM cnt
)
SELECT rank::INT AS rank, key, n::BIGINT AS n,
       ((n * 1000000) // t)::BIGINT AS share_ppm
FROM ranked, tot WHERE rank <= {top_k}
"""


def k_core_sql(edges_src: str, k: int = 2, rounds: int = 8) -> str:
    """DuckDB twin of graph.k_core: the peel fixpoint unrolled as
    `rounds` degree-filter CTE pairs (extra rounds past convergence are
    no-ops, so any rounds ≥ the true peel depth is exact — the pagerank
    unrolled-CTE pattern)."""
    # AS MATERIALIZED throughout: every round references its predecessor
    # and its degree table MORE THAN ONCE, and an inlined CTE chain
    # re-evaluates multiply-referenced predecessors — exponential in
    # `rounds` (observed as a hang at rounds=10 before materializing)
    parts = [
        f"""e0 AS MATERIALIZED (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM ({edges_src})
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
)"""
    ]
    for i in range(1, rounds + 1):
        prev = f"e{i - 1}"
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, count(*) AS degree FROM "
            f"(SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev}) "
            f"GROUP BY 1)"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT * FROM {prev} "
            f"WHERE a IN (SELECT node FROM d{i} WHERE degree >= {k}) "
            f"AND b IN (SELECT node FROM d{i} WHERE degree >= {k}))"
        )
    # convergence guard, mirroring the Spark op's loud non-convergence
    # raise: e_i ⊆ e_{i-1}, so equal counts ⟺ fixpoint reached — a
    # too-small `rounds` must error, never bless a non-converged
    # superset as oracle truth (duckdb error() aborts the query)
    parts.append(
        f"chk AS MATERIALIZED (SELECT CASE WHEN "
        f"(SELECT count(*) FROM e{rounds}) = (SELECT count(*) FROM e{rounds - 1}) "
        f"THEN 1 ELSE error('k_core_sql: peel not converged within rounds={rounds}') "
        f"END AS ok)"
    )
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, degree::BIGINT AS degree FROM d{rounds}, chk "
        f"WHERE degree >= {k}"
    )


def attribute_conversions_sql(
    source_cte: str,
    conversion_type: str = "purchase",
    touch_types: tuple[str, ...] = ("click", "view"),
    lookback_s: int = 86400,
) -> str:
    """DuckDB twin of reports.attribution.attribute_conversions —
    deliberately the DIRECT range-join formulation (no interval binning),
    so a bin-boundary bug in the Spark side cannot hide in its own
    mirror.  Source must expose (event_id, ts, user_id, event_type).
    epoch_us both sides (never epoch()::BIGINT — that rounds)."""
    tt = ", ".join(f"'{t}'" for t in touch_types)
    lb = lookback_s * 1_000_000
    return f"""
WITH src AS ({source_cte}),
ev AS (
  SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
  FROM src WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
pairs AS (
  SELECT c.event_id AS conv_id, t.event_id AS touch_id,
         t.event_type AS touch_type, t.ts_us
  FROM ev c JOIN ev t
    ON t.user_id = c.user_id
   AND t.ts_us BETWEEN c.ts_us - {lb} AND c.ts_us
  WHERE c.event_type = '{conversion_type}' AND t.event_type IN ({tt})
),
ranked AS (
  SELECT conv_id, touch_id, touch_type,
         row_number() OVER (PARTITION BY conv_id ORDER BY ts_us, touch_id)
           AS touch_rank,
         count(*) OVER (PARTITION BY conv_id) AS n_touches
  FROM pairs
)
SELECT conv_id, touch_id, touch_type,
       n_touches::BIGINT AS n_touches,
       touch_rank::INT AS touch_rank,
       touch_rank = 1 AS is_first,
       touch_rank = n_touches AS is_last,
       ((1000000 // n_touches)
        + CASE WHEN touch_rank <= 1000000 % n_touches THEN 1 ELSE 0 END)::BIGINT
         AS weight_ppm
FROM ranked
"""


def hopping_rollup_sql(
    source_cte: str,
    width_s: int,
    slide_s: int,
    key: str | None = None,
    value: str | None = None,
) -> str:
    """DuckDB twin of windows.hopping_rollup — INDEPENDENT formulation:
    each event explodes to its window starts via generate_series (an
    event at t belongs to aligned windows with start in
    (t − width, t] ∩ slideℤ), so a window-assignment bug in Spark's
    native F.window cannot be mirrored.  Bounds in epoch microseconds;
    the same exact per-row cents snap."""
    w_us = width_s * 1_000_000
    s_us = slide_s * 1_000_000
    keysel = f"{key}, " if key else ""
    valagg = (
        f", sum(floor({value} * 100 + 0.5)::BIGINT)::BIGINT AS value_cents"
        if value
        else ""
    )
    valcol = f", {value}" if value else ""
    return f"""
WITH src AS ({source_cte}),
ev AS (
  SELECT epoch_us(ts) AS t{valcol}{(", " + key) if key else ""}
  FROM src WHERE ts IS NOT NULL
),
assigned AS (
  -- FLOOR alignment, not //: DuckDB integer // truncates toward zero,
  -- which drops the earliest window for pre-1970 (negative) epochs
  -- while Spark's F.window floor-aligns — the intervals._bin_of lesson
  SELECT (t - (((t % {s_us}) + {s_us}) % {s_us})) - g.i * {s_us}
           AS window_start_us, ev.*
  FROM ev, unnest(generate_series(0, {w_us // s_us - 1})) g(i)
  WHERE (t - (((t % {s_us}) + {s_us}) % {s_us})) - g.i * {s_us} > t - {w_us}
    AND (t - (((t % {s_us}) + {s_us}) % {s_us})) - g.i * {s_us} <= t
)
SELECT window_start_us::BIGINT AS window_start_us,
       (window_start_us + {w_us})::BIGINT AS window_end_us,
       {keysel}count(*)::BIGINT AS n_events{valagg}
FROM assigned
GROUP BY window_start_us{(", " + key) if key else ""}
"""


def incremental_setsim_sql(
    corpus_src: str, batch_src: str, t_num: int = 7, t_den: int = 10
) -> str:
    """DuckDB twin of dedup.incremental_setsim — the BRUTE-FORCE
    batch×corpus formulation (no prefix index), so a pruning false
    negative cannot hide in its own mirror.  Best-match tiebreak is the
    same (jaccard DESC via the identical IEEE double, corpus id ASC).
    Sources must expose (doc_id, text)."""
    return f"""
WITH ctok AS (
  SELECT DISTINCT doc_id AS id, tok
  FROM (SELECT doc_id, unnest({words_sql('text')}) AS tok FROM ({corpus_src}))
  WHERE tok <> ''
),
btok AS (
  SELECT DISTINCT doc_id AS id, tok
  FROM (SELECT doc_id, unnest({words_sql('text')}) AS tok FROM ({batch_src}))
  WHERE tok <> ''
),
csz AS (SELECT id, count(*) AS s FROM ctok GROUP BY 1),
bsz AS (SELECT id, count(*) AS s FROM btok GROUP BY 1),
inter AS (
  SELECT b.id AS bid, c.id AS cid, count(*) AS n_common
  FROM btok b JOIN ctok c ON b.tok = c.tok
  GROUP BY 1, 2
),
verified AS (
  SELECT i.bid, i.cid,
         i.n_common::DOUBLE / (bs.s + cs.s - i.n_common) AS jac
  FROM inter i
  JOIN bsz bs ON bs.id = i.bid
  JOIN csz cs ON cs.id = i.cid
  WHERE i.n_common * {t_den} >= (bs.s + cs.s - i.n_common) * {t_num}
),
best AS (
  SELECT bid, round(jac, 4) AS best_jaccard, cid AS best_match_id
  FROM (SELECT *, row_number() OVER (PARTITION BY bid ORDER BY jac DESC, cid ASC) AS rk
        FROM verified)
  WHERE rk = 1
),
ids AS (SELECT DISTINCT doc_id FROM ({batch_src}))
SELECT ids.doc_id,
       best.best_match_id IS NOT NULL AS is_dup,
       best.best_jaccard, best.best_match_id
FROM ids LEFT JOIN best ON ids.doc_id = best.bid
"""
