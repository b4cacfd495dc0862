"""Eager localCheckpoint release (etl_scripts_spark/ckpt.py).

The iterative operators checkpoint per-round state; before this fix every
superseded round's blocks stayed pinned until JVM GC, and SCALE.md measured
a later operator inflating ~4x under the retained pressure (the
diameter-100 chain CC query was the worst producer).  These tests pin BOTH
sides of the contract: superseded rounds are freed promptly, and the
checkpoint a result actually reads is never freed (the result stays
collectable AFTER the free pass, with correct values).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_scripts_spark import ckpt
from etl_scripts_spark.ckpt import free_local_checkpoint, next_round
from etl_scripts_spark.operators.dedup import _JUMP_FROM_ROUND, connected_components
from etl_scripts_spark.operators.graph import k_core, pagerank


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def chain_pairs(spark, n: int):
    return spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )


def test_free_is_a_noop_on_non_checkpoint_plans(spark):
    df = spark.range(10).select("id", (F.col("id") * 2).alias("x"))
    free_local_checkpoint(df)  # must not raise
    free_local_checkpoint(None)
    assert df.count() == 10


def test_free_actually_releases_blocks(spark):
    before = _n_persistent(spark)
    cp = spark.range(100).localCheckpoint(eager=True)
    assert _n_persistent(spark) == before + 1
    free_local_checkpoint(cp)
    assert _n_persistent(spark) == before


def test_label_prop_cc_frees_every_superseded_jump_round(spark):
    # a 60-node chain runs past the plain rounds into the pointer-jump
    # rounds; a leak would leave one pinned label checkpoint per round
    before = _n_persistent(spark)
    out = connected_components(chain_pairs(spark, 60))
    leaked = _n_persistent(spark) - before
    # only the final label checkpoint (which the result reads) may remain
    assert leaked <= 1, f"label-prop CC retained {leaked} checkpoints"
    # and that surviving checkpoint must still be readable: one component
    rows = out.toPandas()
    assert set(rows["component"]) == {0}
    assert len(rows) == 60


def test_label_prop_cc_frees_rounds_and_keeps_result_live(spark):
    before = _n_persistent(spark)
    out = connected_components(chain_pairs(spark, 12), max_iter=20)
    leaked = _n_persistent(spark) - before
    assert leaked <= 1, f"label-prop CC retained {leaked} checkpoints"
    rows = out.toPandas()
    assert set(rows["component"]) == {0}
    assert len(rows) == 12


def test_pagerank_frees_rounds_and_keeps_result_live(spark):
    edges = spark.range(20).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 20).alias("dst")
    )
    before = _n_persistent(spark)
    out = pagerank(edges, rounds=4)
    leaked = _n_persistent(spark) - before
    # 4 = the edges/nodes/deg input materializations (live under the
    # returned plan BY DESIGN — they stop per-round re-scans of the edge
    # source) + the final round's rank checkpoint.  The per-round leak
    # this test exists to catch would add one more per extra round.
    assert leaked <= 4, f"pagerank retained {leaked} checkpoints"
    rows = out.toPandas()
    # 20-cycle: every node has in/out degree 1 → identical ranks
    assert len(set(rows["rank"])) == 1
    assert len(rows) == 20


def test_k_core_frees_rounds_and_keeps_result_live(spark):
    # triangle (survives k=2) + a pendant chain that peels over 3 rounds
    tri = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(tri, "src bigint, dst bigint")
    before = _n_persistent(spark)
    out = k_core(edges, k=2, max_iter=10)
    leaked = _n_persistent(spark) - before
    assert leaked <= 1, f"k_core retained {leaked} checkpoints"
    rows = out.toPandas().sort_values("node")
    assert list(rows["node"]) == [0, 1, 2]
    assert list(rows["degree"]) == [2, 2, 2]


def test_label_prop_cc_pointer_jumps_a_diameter_100_chain(spark):
    # plain label propagation needs ~100 rounds on this chain; the jump
    # rounds from round 6 on must bring it under 12
    rows = connected_components(chain_pairs(spark, 100), max_iter=12).toPandas()
    assert set(rows["component"]) == {0}
    assert len(rows) == 100


def test_label_prop_jump_round_runs_its_aggregate_once(spark, monkeypatch):
    # a jump round self-joins the round's min-aggregate; both copies must
    # plan alike so the aggregate's shuffle is reused, or every jump round
    # runs the aggregate twice (8 jobs where a plain round runs 5).  The
    # ids are nullable, as in the queries: the join's inferred not-null is
    # what can set the copies apart.
    pairs = spark.createDataFrame([(i, i + 1) for i in range(39)], "id_a long, id_b long")
    sc = spark.sparkContext
    groups: list[str] = []

    def grouped_round(*args):
        groups.append(f"test-cc-round-{len(groups) + 1}")
        sc.setJobGroup(groups[-1], groups[-1])
        return next_round(*args)

    monkeypatch.setattr(ckpt, "next_round", grouped_round)
    try:
        connected_components(pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = [len(sc.statusTracker().getJobIdsForGroup(g)) for g in groups]
    assert len(jobs) > _JUMP_FROM_ROUND, jobs  # the chain reaches the jump rounds
    plain, jump = jobs[1:_JUMP_FROM_ROUND - 1], jobs[_JUMP_FROM_ROUND - 1:]
    assert max(jump) <= max(plain) + 1, jobs


def test_ancestors_to_root_runs_one_job_per_hop(spark):
    # a 3-tier chain c -> b -> a takes 2 hops; each hop's checkpoint job
    # also counts its frontier, so the empty last frontier needs no
    # isEmpty job.  AQE off: it would submit each query stage of a hop as
    # a job of its own
    from etl_scripts_spark.operators.lineage import ancestors_to_root

    edges = spark.createDataFrame(
        [("c", "b"), ("b", "a")], "child_code string, parent_code string"
    )
    sc = spark.sparkContext
    group = "test-ancestors-to-root"
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup(group, group)
    try:
        out = ancestors_to_root(edges)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert jobs == 2, jobs
    assert sorted(map(tuple, out.collect())) == [("b", "a", 1), ("c", "a", 2)]


def test_round_cap_raises_with_the_operator_name(spark):
    # a 12-node chain needs more rounds than 2 in every fixpoint operator;
    # stopping there would return split components or a non-core, so each
    # must refuse loudly and say which operator gave up
    pairs = chain_pairs(spark, 12)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    for name, run in (
        ("connected_components", lambda: connected_components(pairs, max_iter=2)),
        ("k_core", lambda: k_core(edges, k=2, max_iter=2)),
    ):
        with pytest.raises(RuntimeError, match=f"^{name} did not converge in 2 rounds"):
            run()
