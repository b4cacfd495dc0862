"""Batch BM25 retrieval (corpus.batch_retrieval): agreement with the
single-query bm25_scores law on matched docs, top-k cut with
deterministic tie handling, map-side query-term pruning, and
partitioning-independence of the decimal score.  Also the early stop of
product-quantization training (similarity.pq_topk)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_scripts_spark.operators.corpus import batch_retrieval, bm25_scores

DOCS = [
    (1, "spark shuffles data across the cluster"),
    (2, "bloom filters prune joins on the cluster"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "data pipelines shuffle and join data at scale"),
    (5, "entirely unrelated text about gardening and soil"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string")


def test_matches_single_query_law(spark):
    """For one query, batch scores equal bm25_scores (same idf/avgdl/tf
    laws) on every doc that matches at least one term — up to rounding
    placement: bm25_scores rounds its SUM at 4 dp (≤ 5e-5), batch rounds
    each term at 6 dp (≤ n_terms·5e-7)."""
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("q1", "cluster data")], "query_id string, query_text string"
    )
    got = {
        r["doc_id"]: float(r["score"])
        for r in batch_retrieval(docs, queries, top_k=10).collect()
    }
    want = {
        r["doc_id"]: r["bm25"]
        for r in bm25_scores(docs, ["cluster", "data"]).collect()
        if r["bm25"] > 0.0
    }
    assert set(got) == set(want)
    for d, s in want.items():
        assert abs(got[d] - s) < 6e-5


def test_topk_cut_and_rank_order(spark):
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("q1", "data cluster"), ("q2", "gardening")],
        "query_id string, query_text string",
    )
    rows = batch_retrieval(docs, queries, top_k=2).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    assert len(by_q["q1"]) == 2  # cut from 3+ matching docs
    ranks = sorted(by_q["q1"])
    assert [r[0] for r in ranks] == [1, 2]
    assert ranks[0][2] >= ranks[1][2]
    assert by_q["q2"] == [(1, 5, by_q["q2"][0][2])]  # only doc 5 matches


def test_unmatched_query_returns_nothing(spark):
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("q1", "zzz qqq")], "query_id string, query_text string"
    )
    assert batch_retrieval(docs, queries).count() == 0


def test_partitioning_independent_scores(spark):
    """Decimal contribution sum: identical scores under any partitioning
    (a float sum here would drift with aggregation order)."""
    docs = _docs(spark)
    queries = spark.createDataFrame(
        [("q1", "data cluster shuffle join")], "query_id string, query_text string"
    )
    a = sorted(
        (r["query_id"], r["doc_id"], str(r["score"]))
        for r in batch_retrieval(docs.repartition(7), queries, top_k=5).collect()
    )
    b = sorted(
        (r["query_id"], r["doc_id"], str(r["score"]))
        for r in batch_retrieval(docs.coalesce(1), queries, top_k=5).collect()
    )
    assert a == b


def test_batch_retrieval_duckdb_oracle_parity(spark):
    """oracle.batch_retrieval_sql reproduces batch_retrieval exactly —
    ranks, doc ids, and the DECIMAL(18,6) scores — over multiple
    queries with shared and disjoint vocabulary."""
    import duckdb

    from etl_scripts_spark.oracle import batch_retrieval_sql

    docs = _docs(spark)
    qrows = [
        ("q1", "cluster data"),
        ("q2", "gardening soil"),
        ("q3", "the quick data join"),
    ]
    queries = spark.createDataFrame(qrows, "query_id string, query_text string")
    got = sorted(
        (r["query_id"], r["rank"], r["doc_id"], str(r["score"]))
        for r in batch_retrieval(docs, queries, top_k=3).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE docs(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?,?)", DOCS)
    con.execute("CREATE TABLE qs(query_id VARCHAR, query_text VARCHAR)")
    con.executemany("INSERT INTO qs VALUES (?,?)", qrows)
    want = sorted(
        (q, int(rk), int(d), str(s))
        for q, rk, d, s in con.execute(
            batch_retrieval_sql("docs", "qs", top_k=3)
        ).fetchall()
    )
    assert got == want


def test_pq_training_stops_at_its_fixpoint(spark, monkeypatch):
    """PQ codebooks train in the shared Lloyd loop, so training stops once
    the centroid fingerprint repeats: on two well-separated clusters it
    checkpoints fewer rounds than asked, and returns exactly the rows of
    a run asked for just the rounds it took."""
    from etl_scripts_spark.operators import similarity

    rounds = []
    real_next_round = similarity.next_round

    def counting(*args, **kwargs):
        rounds.append(1)
        return real_next_round(*args, **kwargs)

    monkeypatch.setattr(similarity, "next_round", counting)
    a, b = [1.0, 0.0, 1.0, 0.0], [0.0, 1.0, 0.0, 1.0]
    # even ids near (a | b), odd ids near (b | a): seeds 0 and 1 fall in
    # different clusters in both blocks
    vecs = [
        (i, [x + 0.01 * ((i * 7 + j) % 5) for j, x in enumerate(a + b if i % 2 == 0 else b + a)])
        for i in range(12)
    ]
    corpus = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id < 3")

    def run(n_iter):
        rounds.clear()
        out = similarity.pq_topk(corpus, queries, m=2, k=2, n_iter=n_iter, topk=4, dim=8)
        return sorted(tuple(r) for r in out.collect()), len(rounds)

    rows, took = run(6)
    assert took < 6, "PQ training ran every round past its fixpoint"
    assert run(took) == (rows, took)
