"""Unit tests for the round-7 banked operators: integer-exact PageRank
(operators/graph.py), the byte-based compaction planner
(sinks/layout.plan_compaction on windows.global_running_sum) and the
range-prefix kernel under it (windows._range_ranked)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_scripts_spark.operators import graph
from etl_scripts_spark.operators.windows import (
    _range_ranked,
    global_row_number,
    global_running_sum,
    ntile_buckets,
)
from etl_scripts_spark.sinks.layout import plan_compaction


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src bigint, dst bigint")


def test_pagerank_hand_computed(spark):
    """A→B, B→A, C→A at SCALE=1000, d=85, 2 rounds — every intermediate
    hand-derived with floor division:
    r1 = {A: 150+85·2000//100=1850, B: 1000, C: 150};
    r2 = {A: 150+(85·1150)//100=1127, B: 150+(85·1850)//100=1722, C: 150}."""
    edges = _edges(spark, [(1, 2), (2, 1), (3, 1)])
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, rounds=2, scale=1000).collect()
    }
    assert got == {1: 1127, 2: 1722, 3: 150}


def test_pagerank_cycle_is_exact_fixed_point(spark):
    """On a cycle every node keeps EXACTLY scale units every round
    (150 + 85·1000//100 = 1000) — integer arithmetic has no drift."""
    n = 6
    edges = _edges(spark, [(i, (i + 1) % n) for i in range(n)])
    got = graph.pagerank(edges, rounds=4, scale=1000).collect()
    assert all(r["rank"] == 1000 for r in got) and len(got) == n


def test_pagerank_dangling_and_sourceless_nodes(spark):
    """A dangling node (no out-edges) still receives rank and leaks its
    own mass (documented simplification); a sourceless node decays to the
    base term."""
    edges = _edges(spark, [(1, 2)])  # 2 dangles, 1 is sourceless
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, rounds=2, scale=1000).collect()
    }
    # r1 = {1: 150, 2: 150+850=1000}; r2 = {1: 150, 2: 150+85*150//100=277}
    assert got == {1: 150, 2: 277}


@contextmanager
def _range_partitions(spark, n):
    """Scope the session's shuffle partitions to `n`, uncoalesced, so the
    range-prefix kernel really splits a small frame, and restore both."""
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def _scored(spark):
    return spark.range(100).select(
        F.col("id"), ((F.col("id") * 37) % 11 + 1).alias("v")
    )


def test_global_running_sum_matches_single_partition_window(spark):
    df = _scored(spark)
    with _range_partitions(spark, 7):
        assert _range_ranked(df, ["id"], "_r")[1].count() > 1
        got = {
            r["id"]: r["running"]
            for r in global_running_sum(df, ["id"], "v").collect()
        }
    rows = sorted(df.collect(), key=lambda r: r["id"])
    acc = 0
    for r in rows:
        acc += r["v"]
        assert got[r["id"]] == acc


def test_global_row_number_matches_single_partition_window(spark):
    df = _scored(spark)
    with _range_partitions(spark, 7):
        assert _range_ranked(df, ["v", "id"], "_r")[1].count() > 1
        got = {r["id"]: r["rank"] for r in global_row_number(df, ["v", "id"]).collect()}
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy("v", "id")).alias("rn")
        ).collect()
    }
    assert got == want


def test_ntile_buckets_matches_single_partition_window(spark):
    df = _scored(spark)
    for k in (3, 8):
        with _range_partitions(spark, 7):
            got = {
                r["id"]: r["bucket"]
                for r in ntile_buckets(df, ["v", "id"], n_buckets=k).collect()
            }
        want = {
            r["id"]: r["b"]
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("b")
            ).collect()
        }
        assert got == want, f"k={k}"


def test_plan_compaction_bins_sequential_fill(spark):
    """Size-desc greedy fill: bins hold ~target bytes, overshoot bounded
    by one file, oversized files take their own bin, and the law is the
    closed form bin = (running-1) DIV target."""
    files = spark.createDataFrame(
        [(f"f{i}", s) for i, s in enumerate([900, 500, 400, 300, 200, 100, 50])],
        "path string, size_bytes bigint",
    )
    got = {r["path"]: r["bin_id"] for r in plan_compaction(files, 1000).collect()}
    # order: f0(900) f1(500) f2(400) f3(300) f4(200) f5(100) f6(50)
    # running: 900, 1400, 1800, 2100, 2300, 2400, 2450
    assert got == {"f0": 0, "f1": 1, "f2": 1, "f3": 2, "f4": 2, "f5": 2, "f6": 2}
    # an oversized file occupies its own bin id range
    big = spark.createDataFrame([("huge", 2500), ("tiny", 10)], "path string, size_bytes bigint")
    got2 = {r["path"]: r["bin_id"] for r in plan_compaction(big, 1000).collect()}
    assert got2 == {"huge": 2, "tiny": 2}  # tiny's end byte (2510) in bin 2


def test_plan_compaction_deterministic_across_partitionings(spark):
    files = spark.createDataFrame(
        [(f"p{i:04d}", (i * 97) % 5000 + 1) for i in range(500)],
        "path string, size_bytes bigint",
    )
    a = sorted(plan_compaction(files.repartition(17), 10_000).collect())
    b = sorted(plan_compaction(files.coalesce(1), 10_000).collect())
    assert a == b


def test_pagerank_hub_insum_exceeding_bigint_raises(spark):
    """A hub whose decimal in-sum would push the damped rank past the
    BIGINT output column raises loudly (lower `scale`) instead of
    wrapping: 3 full-rank sources at scale 2^62 sum to ~1.4e19 > the
    ~1.0e19 threshold.  The sum itself is exact (decimal accumulator)."""
    import pytest as _pt

    edges = _edges(spark, [(1, 99), (2, 99), (3, 99)])
    with _pt.raises(Exception, match="overflows BIGINT"):
        graph.pagerank(edges, rounds=1, scale=1 << 62).collect()


def test_pagerank_hub_insum_past_2_63_is_exact_when_rank_fits(spark):
    """In-sums PAST 2^63 are still summed exactly (a bigint accumulator
    would wrap silently): 9 full-rank sources at scale 2^60 give
    _in = 9·2^60 ≈ 1.04e19 > 2^63, damped rank ≈ 8.99e18 — fits BIGINT
    and must equal the hand-derived floor value."""
    scale = 1 << 60
    edges = _edges(spark, [(s, 99) for s in range(1, 10)])
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(edges, rounds=1, scale=scale).collect()
    }
    base = 15 * scale // 100
    assert got[99] == base + (85 * (9 * scale)) // 100
    assert all(got[s] == base for s in range(1, 10))


def test_pagerank_duckdb_oracle_parity(spark):
    """The unrolled-CTE oracle (oracle.pagerank_rounds_ctes) reproduces
    graph.pagerank value-exactly on a mixed graph — hub, cycle, dangling
    node, sourceless node — across 3 rounds.  De-risks the r8
    registration: the oracle side is already law-verified."""
    import duckdb

    from etl_scripts_spark.oracle import pagerank_rounds_ctes

    pairs = [(1, 2), (2, 3), (3, 1), (4, 1), (5, 1), (6, 7), (1, 8)]
    got = {
        r["node"]: r["rank"]
        for r in graph.pagerank(_edges(spark, pairs), rounds=3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE edges(src BIGINT, dst BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", pairs)
    sql = (
        "WITH " + pagerank_rounds_ctes("edges", rounds=3)
        + " SELECT node, rank FROM r3"
    )
    want = {int(n): int(r) for n, r in con.execute(sql).fetchall()}
    assert got == want


def test_plan_compaction_duckdb_oracle_parity(spark):
    """oracle.plan_compaction_sql reproduces plan_compaction exactly on
    a 500-file listing with size ties — r8's oracle, pre-verified."""
    import duckdb

    from etl_scripts_spark.oracle import plan_compaction_sql

    rows = [(f"p{i:04d}", (i * 97) % 500 + 1) for i in range(500)]
    files = spark.createDataFrame(rows, "path string, size_bytes bigint")
    got = sorted(tuple(r) for r in plan_compaction(files, 10_000).collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE files(path VARCHAR, size_bytes BIGINT)")
    con.executemany("INSERT INTO files VALUES (?,?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(plan_compaction_sql("files", 10_000)).fetchall()
    )
    assert got == want
