"""Randomized cross-checks against independent reference implementations.

The oracle suite checks operators on the driver's tables; these checks run
the custom operators on adversarial random inputs (seeded — reproducible)
against a second implementation with nothing in common: pandas merge_asof
for the as-of join, union-find for connected components.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def test_asof_join_matches_pandas_merge_asof(spark):
    rng = np.random.default_rng(42)
    n_l, n_r = 400, 300
    left = pd.DataFrame(
        {
            "k": rng.integers(0, 12, n_l),
            "ts": rng.integers(0, 1000, n_l),
            "lid": np.arange(n_l),
        }
    )
    right = pd.DataFrame(
        {
            "k": rng.integers(0, 12, n_r),
            "ts": rng.integers(0, 1000, n_r),
            "v": rng.normal(size=n_r).round(3),
        }
    )
    # merge_asof direction='backward' is inclusive, like our operator; it
    # needs sorted inputs and breaks right-side ts ties by taking the LAST
    # row — make (k, ts) unique on the right so tie policy can't differ.
    right = right.drop_duplicates(["k", "ts"], keep="last")

    from etl_scripts_spark.operators.asof import asof_join

    got = (
        asof_join(
            spark.createDataFrame(left.astype({"k": "int64", "ts": "int64"})),
            spark.createDataFrame(right.astype({"k": "int64", "ts": "int64"})),
            on="ts",
            by="k",
        )
        .select("lid", "ts_matched", "v_matched")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    want = (
        pd.merge_asof(
            left.sort_values("ts"),
            right.sort_values("ts"),
            on="ts",
            by="k",
            direction="backward",
            suffixes=("", "_r"),
        )
        .rename(columns={"v": "v_matched"})
        .sort_values("lid")
        .reset_index(drop=True)
    )
    assert got["v_matched"].equals(want["v_matched"]), (
        got[got["v_matched"] != want["v_matched"]].head()
    )


def _union_find_min_labels(edges) -> dict[int, int]:
    """node → its component's minimum node id, by union-find."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    want = {x: find(x) for x in touched}
    # union-find roots are not guaranteed minimal per component; canonicalize
    comp_min: dict[int, int] = {}
    for x, r in want.items():
        comp_min[r] = min(comp_min.get(r, x), x)
    return {x: comp_min[r] for x, r in want.items()}


def test_connected_components_matches_union_find(spark):
    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 150, (250, 2)) if a != b]

    from etl_scripts_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == _union_find_min_labels(edges)


def test_label_propagation_matches_union_find_on_chain_clique_and_random(spark):
    """Label propagation must agree with union-find on a chain (the
    31-node chain runs the pointer-jump rounds), a clique, and random
    graphs."""
    from etl_scripts_spark.operators.dedup import connected_components

    cases = [
        [(i, i + 1) for i in range(30)],                      # 31-node chain
        [(a, b) for a in range(5) for b in range(a)],          # clique
    ]
    for seed in range(3):
        edges = [
            (int(a), int(b))
            for a, b in np.random.default_rng(seed).integers(0, 60, (80, 2))
            if a != b
        ]
        cases.append(edges)

    for edges in cases:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        lp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
        assert lp == _union_find_min_labels(edges), f"divergence on {edges[:5]}..."


@pytest.mark.parametrize(
    "edges, null_ends",
    [
        ([(1, 2)], [3, 4]),  # converges before the pointer-jump rounds
        ([(i, i + 1) for i in range(20)], [30, 40]),  # 21-node chain jumps
    ],
    ids=["plain_rounds", "jump_rounds"],
)
def test_null_endpoint_is_no_node(spark, edges, null_ends):
    """A pair with a null endpoint links nothing: no null id in the
    result, in plain and in pointer-jump rounds alike, and its non-null
    endpoint stays a singleton."""
    from etl_scripts_spark.operators.dedup import connected_components

    rows = edges + [(e, None) for e in null_ends]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert None not in got
    assert got == {**_union_find_min_labels(edges), **{e: e for e in null_ends}}


def test_asof_join_sliced_matches_plain_under_skew(spark):
    """The time-sliced (skew-resistant) as-of join is semantically identical
    to the single-window plan — verified on a hot-key distribution with
    right-side ties, where both engines' greatest-payload tie rule and the
    slice-boundary carry-in must agree."""
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.asof import asof_join, asof_join_sliced

    rng = np.random.default_rng(11)
    n_l, n_r = 600, 500
    # 60% of rows on key 0 (hot); coarse ts so (k, ts) ties actually occur
    hot = lambda n: np.where(rng.random(n) < 0.6, 0, rng.integers(1, 10, n))  # noqa: E731
    left = pd.DataFrame(
        {"k": hot(n_l), "ts": rng.integers(0, 300, n_l), "lid": np.arange(n_l)}
    )
    right = pd.DataFrame(
        {"k": hot(n_r), "ts": rng.integers(0, 300, n_r), "v": rng.normal(size=n_r).round(3)}
    )
    ldf = spark.createDataFrame(left.astype({"k": "int64", "ts": "int64"}))
    rdf = spark.createDataFrame(right.astype({"k": "int64", "ts": "int64"}))
    # the unkeyed form (by=None): the slice alone keys the carry
    uldf = spark.createDataFrame(
        pd.DataFrame({"ts": rng.integers(0, 300, 400), "lid": np.arange(400)})
    )
    urdf = spark.createDataFrame(
        pd.DataFrame({"ts": rng.integers(0, 300, 300), "v": rng.normal(size=300).round(3)})
    )
    cols = ["lid", "ts_matched", "v_matched"]
    for lf, rf, by, n in ((ldf, rdf, "k", n_l), (uldf, urdf, None, 400)):
        plain = sorted(
            asof_join(lf, rf, on="ts", by=by).select(*cols).collect(),
            key=lambda r: r.lid,
        )
        # slice width 50 → ~6 slices, so carry-in across empty/partial
        # slices runs
        sliced = sorted(
            asof_join_sliced(
                lf, rf, on="ts", by=by, bucket=lambda c: F.floor(c / 50)
            ).select(*cols).collect(),
            key=lambda r: r.lid,
        )
        assert len(plain) == n
        assert plain == sliced


def _random_corpus(rng, n_docs=60, vocab=25, max_len=40):
    """Small vocab → heavy cross-doc n-gram collisions (the adversarial
    regime for span/fingerprint operators)."""
    return [
        " ".join(
            f"w{rng.integers(0, vocab)}" for _ in range(int(rng.integers(1, max_len)))
        )
        for _ in range(n_docs)
    ]


def test_dup_ngram_spans_matches_python_reference(spark):
    """Independent per-doc reference: mark positions whose n-gram occurs in
    >=2 distinct docs, merge islands with gap <= n."""
    rng = np.random.default_rng(7)
    texts = _random_corpus(rng)
    n = 3
    toks = [t.split(" ") for t in texts]
    gram_docs: dict[tuple, set] = {}
    for d, ws in enumerate(toks):
        for i in range(len(ws) - n + 1):
            gram_docs.setdefault(tuple(ws[i : i + n]), set()).add(d)
    want = set()
    for d, ws in enumerate(toks):
        hits = [
            i + 1
            for i in range(len(ws) - n + 1)
            if len(gram_docs[tuple(ws[i : i + n])]) >= 2
        ]
        spans: list[list] = []
        for p in hits:
            if spans and p - spans[-1][1] <= n:
                spans[-1][1] = p
                spans[-1][2] += 1
            else:
                spans.append([p, p, 1])
        for s, e, c in spans:
            want.add((d, s, e + n - 1, c))

    from etl_scripts_spark.operators.dedup import dup_ngram_spans

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in dup_ngram_spans(df, n=n).collect()
    }
    assert got == want


def test_winnow_matches_python_reference(spark):
    """Independent reference: md5 hashes, sliding-window minima with
    leftmost tie-break, truncated single window for short docs."""
    import hashlib

    rng = np.random.default_rng(11)
    texts = _random_corpus(rng, n_docs=40, vocab=10, max_len=20)
    n, w = 3, 4
    want = set()
    for d, t in enumerate(texts):
        ws = t.split(" ")
        hs = [
            hashlib.md5(" ".join(ws[i : i + n]).encode()).hexdigest()
            for i in range(len(ws) - n + 1)
        ]
        if not hs:
            continue
        for start in range(max(len(hs) - w + 1, 1)):
            window = hs[start : start + w]
            m = min(window)
            pos = start + window.index(m) + 1  # leftmost, 1-based
            want.add((d, m, pos))

    from etl_scripts_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        (r.doc_id, r.fp_hash, r.fp_pos)
        for r in winnow_fingerprints(df, n=n, w=w).collect()
    }
    assert got == want


def test_segment_dedup_matches_python_reference(spark):
    import hashlib
    from collections import Counter

    rng = np.random.default_rng(13)
    texts = _random_corpus(rng, n_docs=50, vocab=8, max_len=15)
    seg_len = 2
    segs_per_doc = [
        [
            " ".join(t.split(" ")[i : i + seg_len])
            for i in range(0, len(t.split(" ")), seg_len)
        ]
        for t in texts
    ]
    freq = Counter(s for segs in segs_per_doc for s in segs)
    want = {}
    for d, segs in enumerate(segs_per_doc):
        kept = [s for s in segs if freq[s] <= 1]
        want[d] = (
            len(segs),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    from etl_scripts_spark.operators.corpus import segment_dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r.doc_id: (r.n_segments, r.n_kept, r.kept_md5)
        for r in segment_dedup(df, seg_len=seg_len, max_count=1).collect()
    }
    assert got == want


def _py_canonicalize_url(url: str) -> str:
    """Independent Python reference for web.canonicalize_url — same rule
    set, implemented with urllib.parse instead of regex/HOF columns."""
    import re
    from urllib.parse import urlsplit

    parts = urlsplit(url)
    scheme = parts.scheme.lower()
    hostport = parts.netloc.lower()
    if scheme == "http" and hostport.endswith(":80"):
        hostport = hostport[:-3]
    elif scheme == "https" and hostport.endswith(":443"):
        hostport = hostport[:-4]
    host = hostport[4:] if hostport.startswith("www.") else hostport
    path = re.sub(r"/+$", "", parts.path)
    params = [
        p
        for p in parts.query.split("&")
        if p and not re.match(r"^(utm_[a-z]+|gclid|fbclid)($|=)", p)
    ]
    q = "&".join(sorted(params))
    return f"{scheme}://{host}{path}" + (f"?{q}" if q else "")


def test_canonicalize_url_matches_urllib_reference(spark):
    import itertools

    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.web import canonicalize_url

    schemes = ["http", "HTTP", "https", "HTTPS"]
    hosts = ["example.com", "WWW.Example.COM", "sub.example.com:8080",
             "example.com:80", "Example.com:443"]
    paths = ["", "/", "/a/b", "/a/b/", "/a//"]
    queries = ["", "?id=3", "?utm_source=x&id=3", "?b=2&a=1&utm_campaign=z",
               "?gclid=abc", "?fbclid=1&utm_a=2"]
    frags = ["", "#frag"]
    urls = [
        f"{s}://{h}{p}{q}{f}"
        for s, h, p, q, f in itertools.product(schemes, hosts, paths, queries, frags)
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r.url: r.canon
        for r in df.select("url", canonicalize_url(F.col("url")).alias("canon")).collect()
    }
    for u in urls:
        assert got[u] == _py_canonicalize_url(u), f"mismatch for {u!r}"


def test_gopher_repetition_matches_python_reference(spark):
    """corpus.gopher_repetition vs a from-scratch Python computation of
    the same laws on seeded random word streams (including degenerate
    all-same-word and unique-word docs)."""
    import collections

    import numpy as np

    from etl_scripts_spark.operators.corpus import gopher_repetition

    rng = np.random.default_rng(7)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    docs = []
    for i in range(40):
        n = int(rng.integers(1, 30))
        words = [vocab[int(j)] for j in rng.integers(0, len(vocab), n)]
        docs.append((i, " ".join(words)))
    docs.append((100, "aa " * 20 + "aa"))  # fully repeated
    docs.append((101, " ".join(f"w{i}" for i in range(25))))  # all unique

    seg_len = 3

    def py_ref(text):
        ws = text.split(" ")
        segs = [" ".join(ws[i : i + seg_len]) for i in range(0, len(ws), seg_len)]
        cnt = collections.Counter(segs)
        tot = len(segs)
        dup = sum(c for c in cnt.values() if c > 1)
        chars = sum(len(s) * c for s, c in cnt.items())
        dup_chars = sum(len(s) * c for s, c in cnt.items() if c > 1)
        bigs = collections.Counter(
            f"{ws[i]} {ws[i+1]}" for i in range(len(ws) - 1)
        )
        if bigs:
            top_cnt = max(bigs.values())
            g = min(g for g, c in bigs.items() if c == top_cnt)
            top_frac = round(top_cnt * len(g) / max(len(text), 1), 4)
        else:
            top_frac = 0.0
        return (
            round(dup / tot, 4),
            round(dup_chars / max(chars, 1), 4),
            top_frac,
        )

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.dup_seg_frac, r.dup_seg_char_frac, r.top_bigram_char_frac)
        for r in gopher_repetition(df, "text", "doc_id", seg_len=seg_len).collect()
    }
    for doc_id, text in docs:
        assert got[doc_id] == py_ref(text), f"doc {doc_id}: {got[doc_id]} vs {py_ref(text)}"


def test_incremental_components_matches_union_find(spark):
    """incremental_components(prior, new_edges) must equal a from-scratch
    union-find over (prior co-membership ∪ new edges) — including prior
    singletons untouched by any new edge, and brand-new nodes."""
    import numpy as np

    from etl_scripts_spark.operators.dedup import incremental_components

    rng = np.random.default_rng(11)
    n = 120
    # prior: random partition into groups; component label = min member
    group_of = {i: int(rng.integers(0, 30)) for i in range(n)}
    members: dict[int, list[int]] = {}
    for i, g in group_of.items():
        members.setdefault(g, []).append(i)
    prior_rows = [
        (i, min(members[g])) for i, g in group_of.items()
    ]
    # new edges: some within prior nodes, some to brand-new ids >= n
    new_rows = [
        (int(rng.integers(0, n)), int(rng.integers(0, n + 20))) for _ in range(25)
    ]
    new_rows = [(a, b) for a, b in new_rows if a != b]

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    for i, comp in prior_rows:
        union(i, comp)
    for a, b in new_rows:
        union(a, b)
    nodes = set(group_of) | {x for e in new_rows for x in e}
    # canonicalize: min member per root
    by_root: dict[int, list[int]] = {}
    for x in nodes:
        by_root.setdefault(find(x), []).append(x)
    expect = {x: min(mem) for root, mem in by_root.items() for x in mem}

    prior = spark.createDataFrame(prior_rows, "id long, component long")
    new_pairs = spark.createDataFrame(new_rows, "id_a long, id_b long")
    got = {
        r.node_id: r.component_id
        for r in incremental_components(prior, new_pairs).collect()
    }
    assert got == expect
