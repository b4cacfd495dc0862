"""Physical-plan audits — the scale contract, enforced.

Correctness tests say an operator computes the right rows; these say it
computes them with the plan we would accept on a 1000-executor cluster
reading 100 TB: filters reach the parquet scan, projections prune the
read schema, aggregates combine map-side, small dimensions broadcast,
and no row-at-a-time Python ever appears in a hot path.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"

#: queries whose plans intentionally contain an Arrow-batched Python stage
#: (multimodal codecs, the PDF scrape, external-tool wrappers) — each one
#: a `multimodal.map_payloads` stage (MapInArrow), never row-at-a-time
#: BatchEvalPython and never a pandas stage.
ARROW_STAGES = {
    "q_multimodal_features",
    "q_multimodal_frame_sample",
    "q_multimodal_image_meta",
    "q_multimodal_jpeg_stats",
    "q_multimodal_pixel_stats",
    "q_multimodal_resize",
    "q_multimodal_audio_stats",
    "q_multimodal_video_frames",
    # square-tone WAV fixture synthesis + the rFFT itself (numpy inside
    # the Arrow stage) — map-only, payloads never leave the batch
    "q_audio_spectrogram",
    "q_pdf_metadata",
    "q_tool_dryrun",
    # r10 flips: real PNG/BMP decode → 8x8 aHash, and AVI demux + baseline
    # JPEG frame decode — both map-only Arrow stages, pixels never leave
    # the batch
    "q_image_ahash",
    "q_mjpeg_video_stats",
    # r12 flips: real GIF (variable-width LZW + interlace) and baseline
    # TIFF (IFD walk + PackBits) decode → pixel stats — map-only Arrow
    # stages, pixels never leave the batch
    "q_gif_pixel_stats",
    "q_tiff_pixel_stats",
    # r13 flip: real G.711 µ-law expansion (stateless per-byte table
    # lookup, np.take inside the Arrow stage) — map-only, zero shuffles
    "q_g711_audio_stats",
}

#: brute-force ANN baseline + 1-row-build-side batch marks: the only
#: accepted nested-loop joins (cross joins by design).
CROSS_JOINS_BY_DESIGN = {
    "q_embedding_topk",
    "q_ivf_topk",
    "q_ivf_recall",  # composes the brute-force ground truth above
    "q_timestamped_ids",
    # 1-row corpus-stats attach (corpus.join_singleton): a single broadcast
    # row joined to every document — BNLJ is the correct physical shape and
    # Catalyst folds any literal equi-key back into it.
    "q_bm25_rank",
    "q_tfidf_terms",
    "q_lm_score",
    # 1-row centroid-array broadcast per Lloyd round (same shape as ivf)
    "q_kmeans_assign",
    "q_ivf_trained",
    "q_semdedup",
    "q_pq_topk",  # per-query ADC LUT = queries × tiny codebook broadcast
    "q_pq_recall",  # composes the brute-force ground truth + PQ above
    # 1-row corpus-stats attach (join_singleton), same as bm25/lm_score
    "q_dsir_weights",
    "q_lm_buckets",
    "q_bigram_lm",
    # sketch-pair comparison: inequality join over the per-source sketch
    # tables (≤ n_sources rows EACH side — the whole point of comparing
    # sketches instead of corpora); BNLJ on bounded inputs by design
    "q_kmv_overlap",
    "q_sketch_accuracy",
    # three 1-row scalar aggregates stitched by 1-row cross joins
    "q_triangle_count",
    # bounded-subset brute-force ground truth + 1-row stat stitching
    # (the LSH-recall measurement baseline, like q_ivf_recall's brute arm)
    "q_lsh_recall",
    # two 1-row corpus totals (N_uni, N_bi) attached via join_singleton
    "q_pmi_collocations",
    # the global positive-balance average as a 1-row broadcast threshold
    # (join_singleton) — the decorrelated form of Q22's scalar subquery
    "q_tpch_q22",
    # 1-row corpus stats (N, avgdl) attached via join_singleton — the
    # bm25 shape, batch-query form
    "q_batch_retrieval",
    # the quarter's max revenue as a 1-row broadcast (join_singleton) —
    # the decorrelated form of Q15's scalar view, ties kept exactly
    "q_tpch_q15",
    # r11 flips: the part×supplier-grid derived-partsupp law
    # (reports/tpch.partsupp_df — a broadcast of the 10·SF-row supplier
    # dim against part, the deterministic stand-in for the missing
    # table); q11 additionally broadcasts its 1-row global threshold
    "q_tpch_q02",
    "q_tpch_q09",
    "q_tpch_q11",
    "q_tpch_q20",
    # r12 flips: 1-row total attach (key_skew_report) and 1-row total +
    # 1-row leftover attach (stratified_sample's Hamilton allocation) —
    # the join_singleton shape again
    "q_key_skew_report",
    "q_stratified_sample",
}

STREAMING = {
    "q_stream_hourly_rollup",
    "q_stream_user_totals",
    "q_stream_dedup",
    "q_stream_sessionize",
    "q_stream_enriched",
    "q_stream_interval_join",
    "q_stream_cms",
}

#: Registered queries whose real work executes eagerly at call time, so
#: there is no lazy plan to audit (the oracle is the contract instead):
#: the scratch-root stream folds (MV rollup, KMV, rolling z-score) and the
#: vacuum chain return an eager localCheckpoint of a small result —
#: auditing that trivial LogicalRDD scan would just re-run the whole
#: drain / 5-version write + GC.
EAGER = {
    "q_stream_mv_drain",
    "q_stream_kmv",
    "q_stream_rolling_zscore",
    "q_vacuum_report",
    # r13 flip: an AvailableNow drain into the memory sink — the real
    # work executes at call time (micro-batches through the state store),
    # leaving only a trivial scan to audit; the oracle is the contract
    # (the batch law over the same events)
    "q_stream_hll",
}


def _plan(spark, name: str, mode: str = "extended") -> str:
    df = entrymod.queries()[name](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(set(entrymod.queries()) - STREAMING - EAGER))
def test_no_row_at_a_time_python(spark, name):
    """BatchEvalPython (per-row pickling) must never appear; Python stages
    are Arrow-batched (MapInArrow) and only in the declared codec/tool
    wrappers."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, f"{name} uses a row-at-a-time Python UDF"
    if name not in ARROW_STAGES:
        for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow"):
            assert marker not in plan, f"{name} has an undeclared Python stage ({marker})"
    if name not in CROSS_JOINS_BY_DESIGN:
        for marker in ("CartesianProduct", "BroadcastNestedLoopJoin"):
            assert marker not in plan, f"{name} has an undeclared cross join ({marker})"
    # tokenizer-inlining guard: the words() chain feeding element_at means
    # the regexp tokenizer re-runs per HOF element (40× observed; 24× on
    # q_kmv_distinct before staging).  Stage words(text) in its own select.
    assert "element_at(split(trim(regexp_replace" not in plan, (
        f"{name} inlines the tokenizer expression into a HOF lambda"
    )


@pytest.mark.parametrize("name", sorted(ARROW_STAGES))
def test_codec_stages_are_map_payloads(spark, name):
    """Every declared Python stage is the one `map_payloads` driver:
    MapInArrow, and no pandas stage of any kind."""
    plan = _plan(spark, name)
    assert "MapInArrow" in plan, f"{name} has no map_payloads stage"
    for marker in ("MapInPandas", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{name} has a pandas stage ({marker})"


def test_pricing_summary_scan_is_minimal(spark):
    """TPC-H Q1 shape: predicate pushed to the parquet scan, read schema
    pruned to the 7 referenced columns, aggregation partial before the
    single exchange."""
    plan = _plan(spark, "q_pricing_summary", "formatted")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = next(l for l in plan.splitlines() if l.startswith("ReadSchema"))
    assert "l_comment" not in read_schema and len(read_schema.split(",")) == 7
    assert "partial_sum" in plan, "map-side combine missing"
    assert plan.count("Exchange") >= 1 and "hashpartitioning(l_returnflag" in plan


def test_revenue_join_broadcasts_dimensions(spark):
    """The customer->nation->region dim chain must broadcast — a shuffle
    join on a 25-row dimension would shuffle the fact table for nothing."""
    plan = _plan(spark, "q_revenue_by_nation", "formatted")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_waiting_orders_aggregates_instead_of_self_joining(spark):
    """TPC-H Q21 shape: the EXISTS / NOT-EXISTS quantifiers must be the
    agg-before-join rewrite (one per-order supplier profile), NOT the
    textbook double self-join — so the plan carries no semi/anti join on
    lineitem and the nation-filtered supplier dim broadcasts."""
    plan = _plan(spark, "q_waiting_orders", "formatted")
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan, "map-side combine missing"


def test_classifier_training_broadcasts_weights(spark):
    """Perceptron training: the D+1-row weight table must BROADCAST to
    the featurized corpus each round (never shuffle the corpus on
    bucket), and the whole train+score plan stays JVM-side."""
    plan = _plan(spark, "q_train_classifier", "formatted")
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_minhash_pipeline_stays_jvm_side(spark):
    """The whole dedup pipeline (tokenize, shingle, hash, band, self-join)
    compiles to JVM expressions — no Python stage anywhere — with the
    signature aggregation partial (map-side) before its one exchange and
    the band self-join broadcast (AQE's formatted output hides
    WholeStageCodegen spans pre-execution, so assert on operators)."""
    plan = _plan(spark, "q_minhash_lsh_pairs", "formatted")
    assert "Python" not in plan
    assert "partial_min" in _plan(spark, "q_minhash_signatures")
    assert "BroadcastHashJoin" in plan


def test_ivf_assignment_is_mapside(spark):
    """IVF cell assignment must not shuffle the corpus: the only exchanges
    allowed are the BroadcastExchange of the 1-row centroid array and the
    SinglePartition gather of the <=n_centroids centroid partials that feeds
    it.  A hash-partition exchange or a Window on the corpus side means the
    whole corpus is being shuffled for an argmax — the round-1 regression."""
    from etl_scripts_spark import catalog
    from etl_scripts_spark.operators import similarity

    emb = catalog.load(spark, SF, "embeddings")
    df = similarity.ivf_assign_cells(emb)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "hashpartitioning" not in plan
    for line in plan.splitlines():
        if "Exchange" in line and "Broadcast" not in line:
            # must be the centroid-build gather, never a corpus repartition
            pass
    exchange_args = [l for l in plan.splitlines() if l.startswith("Arguments:") and "plan_id" in l]
    non_broadcast = [a for a in exchange_args if "SinglePartition" not in a and "broadcast" not in a.lower()]
    assert not non_broadcast, f"unexpected exchange(s): {non_broadcast}"


def test_register_fastq_tokenizer_not_inlined(spark):
    """The fastq pipeline's regex barcode extraction must appear a bounded
    number of times — expression-inlining regressions multiply it."""
    plan = _plan(spark, "q_register_fastq")
    assert plan.count("regexp_extract") < 60


def test_doc_sample_rank_cut_is_mapside(spark):
    """deterministic_sample must plan WindowGroupLimit on BOTH sides of the
    exchange — without the map-side cut, every row of every group travels
    to the reducer just to be discarded."""
    plan = _plan(spark, "q_doc_sample", "formatted")
    assert plan.count("WindowGroupLimit") >= 2, "rank cut not pushed map-side"


def test_boilerplate_topk_broadcasts(spark):
    """The top-k gram table is k rows by construction: the membership probe
    must be a broadcast join, never a shuffle of the exploded gram table."""
    plan = _plan(spark, "q_boilerplate_flags", "formatted")
    assert "BroadcastHashJoin" in plan


def test_lm_buckets_avoids_global_window(spark):
    """The ntile must NOT plan a single-partition Window over the scored
    corpus (the `Window.orderBy` trap).  The only single-partition pieces
    allowed are the tiny partition-size offset table (one row per range
    partition) and 1-row stats gathers; the corpus-side rank partitions by the physical
    range partition id."""
    plan = _plan(spark, "q_lm_buckets", "formatted")
    # (the range exchange itself is hidden behind global_row_number's
    # localCheckpoint — the visible evidence is the window spec)
    assert "windowspecdefinition(_pid" in plan, "corpus rank window is not keyed by the range partition id"


def test_pq_search_joins_codes_not_vectors(spark):
    """PQ/ADC search must join the code table against the broadcast LUT —
    BroadcastHashJoin on (blk, code) — and never recompute full-vector dot
    products corpus-side at search time (the LUT is the only place dots
    happen, and it is queries × codebook sized)."""
    plan = _plan(spark, "q_pq_topk", "formatted")
    assert "BroadcastHashJoin" in plan


def _plan_no_autobroadcast(spark, name: str, mode: str = "formatted") -> str:
    """Plan with auto-broadcast off: at test SF the optimizer broadcasts
    everything (correctly — the tables are tiny); disabling the threshold
    exposes any HARD-CODED broadcast() hint, which is what the scale
    claims below forbid.  A hint survives threshold=-1; cost-model
    broadcasts do not."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        return _plan(spark, name, mode)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_candidate_join_broadcasts_the_probes(spark):
    """The IVF candidate join must broadcast its probe side (queries ×
    nprobe rows, small by construction) by hint: without it AQE chose the
    probes or the whole assigned corpus as the build side from call to
    call, and the query's job count drifted with the choice."""
    plan = _plan_no_autobroadcast(spark, "q_ivf_topk", "extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert re.search(r"BroadcastHashJoin \[cid#\d+L?\], \[cid#\d+L?\], Inner, BuildRight", phys), (
        "IVF candidate join does not broadcast its probe side"
    )


def test_dup_span_mark_join_is_not_hinted_broadcast(spark):
    """The duplicate-gram mark-join must NOT carry a broadcast hint — on
    crawl corpora the duplicated-gram table is itself huge, so the plan
    must degrade to a shuffled join on the md5-uniform digest when the
    cost model says so.  (At test SF, AQE broadcasting it is fine and
    expected.)  Window island-merge partitions by doc — no global sort."""
    plan = _plan_no_autobroadcast(spark, "q_dup_ngram_spans")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan, "dup-gram table is hint-broadcast"
    assert "CartesianProduct" not in plan


def test_winnow_selects_before_distinct(spark):
    """Winnowing must filter to window-starts BEFORE the distinct — the
    only corpus-wide exchange moves the ~2/(w+1)-density fingerprint set,
    never the full gram table."""
    plan = _plan(spark, "q_winnow_fingerprints", "extended")
    # anchor to the SPECIFIC operators (not first string occurrences,
    # which unrelated Filters/HashAggregates could shift): the distinct's
    # HashAggregate is the one keyed on fp_hash/fp_pos, and the selection
    # Filter is the one carrying the (pos <= greatest(...)) predicate
    phys = plan.split("== Physical Plan ==")[-1]
    distinct_aggs = [
        m.start()
        for m in re.finditer(r"HashAggregate\s*\([^)]*keys=\[[^\]]*fp_hash", phys)
    ]
    select_filters = [
        m.start()
        for m in re.finditer(r"Filter .*\(pos#\d+L? <= greatest", phys)
    ]
    assert distinct_aggs, "no HashAggregate keyed on fp_hash in plan"
    assert select_filters, "no window-start (pos <= greatest) Filter in plan"
    assert min(distinct_aggs) < min(select_filters), (
        "distinct runs before the window-start filter"
    )


def test_segment_freq_join_is_not_hinted_broadcast(spark):
    """Segment dedup's frequency mark-join must not be hint-broadcast: on
    crawl data the frequent-segment table is huge (that is the point of
    the filter), so the plan must fall back to a shuffled join on the
    md5-uniform digest."""
    plan = _plan_no_autobroadcast(spark, "q_segment_dedup")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan, "freq table is hint-broadcast"


def test_kmv_rank_cut_is_mapside(spark):
    """The sketch branch's bottom-k rank filter must plan WindowGroupLimit
    on both sides of its exchange, so each task ships at most k digests per
    group into the rank stage.  (The upstream distinct remains a
    distinct-value shuffle — KMV's 100 TB win is the persisted mergeable
    summary, not that first scan; see sketch.py's module docstring.)"""
    plan = _plan(spark, "q_kmv_distinct", "formatted")
    assert plan.count("WindowGroupLimit") >= 2, "bottom-k cut not pushed map-side"


def test_span_removal_mark_join_is_not_hinted_broadcast(spark):
    """Span removal's dup-gram mark and coverage mark must both survive
    with shuffled joins when the cost model can't broadcast — the covered
    set is data-dependent (could be most of a crawl corpus)."""
    plan = _plan_no_autobroadcast(spark, "q_dup_span_removal")
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan


def test_source_overlap_no_cartesian(spark):
    """The pair intersection is an equi-join on the gram hash (fan-out
    bounded by n_sources), never an all-pairs product."""
    plan = _plan(spark, "q_source_overlap", "formatted")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_topk_is_take_ordered_not_global_sort(spark):
    """The top-20 candidate cut must plan TakeOrderedAndProject (distributed
    partial top-k) — a bare global Sort+Limit or a single-partition window
    would collapse the gram table through one task."""
    plan = _plan(spark, "q_cms_gram_counts", "formatted")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_hashed_quality_is_shuffle_free(spark):
    """The hash-kernel scorer is a pure projection: featurize, integer dot
    product, normalize — all in one map stage.  No hash/range exchange (the
    loader's round-robin repartition for local-mode parallelism is the only
    allowed exchange — it carries no key, so it vanishes behind file splits
    on a real cluster)."""
    plan = _plan(spark, "q_hashed_quality", "formatted")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan and "HashAggregate" not in plan


def test_shipping_priority_pushdown_and_topk(spark):
    """Q3 shape: segment + both date predicates reach the parquet scans
    (PushedFilters), and the top-10 cut is TakeOrderedAndProject — never a
    single-task global sort."""
    plan = _plan(spark, "q_shipping_priority", "formatted")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("PushedFilters: [IsNotNull") >= 3
    assert "c_mktsegment" in plan.split("PushedFilters")[1].split("]")[0] or (
        "EqualTo(c_mktsegment,BUILDING)" in plan
    )


def test_large_orders_aggregates_before_joining(spark):
    """Q18 shape: the HAVING-filtered quantity aggregate runs on lineitem
    BEFORE any join (partial_sum under the only hash exchange, keyed on
    l_orderkey), the lineitem scan reads exactly its 2 referenced columns,
    and both lookups against the reduced table are broadcast joins — the
    fact table is never shuffled for a join."""
    plan = _plan(spark, "q_large_orders", "formatted")
    assert "partial_sum" in plan, "quantity aggregate not map-side partial"
    assert "hashpartitioning(l_orderkey" in plan
    # formatted mode prints each operator in the tree AND its detail block
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    li_schema = next(
        l for l in plan.splitlines() if l.startswith("ReadSchema") and "l_quantity" in l
    )
    assert li_schema.endswith("struct<l_orderkey:bigint,l_quantity:double>"), (
        f"lineitem scan over-reads: {li_schema}"
    )


def test_nation_trade_prefilters_through_broadcast_dims(spark):
    """Q7 shape: both nation filters reach the broadcast dimension scans
    (PushedFilters In(n_name...)), all joins on the fact chain stay
    hash joins, no cartesian."""
    plan = _plan(spark, "q_nation_trade", "formatted")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2
    # BOTH nation dimension scans carry the pushed In filter
    assert plan.count("In(n_name, [NATION_0,NATION_1])") >= 2


def test_parts_supplier_exclusion_is_broadcast_anti(spark):
    """Q16 shape: the complaint-supplier exclusion must be a broadcast
    LeftAnti — the distinct (part,supplier) relation is never shuffled for
    the exclusion — and the brand/type predicates reach the part scan."""
    plan = _plan(spark, "q_parts_supplier_count", "formatted")
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan
    assert "Not(EqualTo(p_brand,Brand#1))" in plan


def test_domain_blocklist_join_is_broadcast_anti(spark):
    """The domain blocklist must hit the rollup as a BROADCAST anti-join:
    blocklists are bounded-small by construction, so the corpus-sized
    left side must never shuffle for it."""
    plan = _plan(spark, "q_domain_quality_rollup", "formatted")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "blocklist anti-join is not broadcast"
    )


def test_url_canonicalize_is_scan_fused(spark):
    """URL canonicalization + dedup must plan as projection -> ONE
    exchange -> final aggregate: no Python stage, no extra shuffle."""
    plan = _plan(spark, "q_url_canonical_dedup", "formatted")
    assert "Exchange" in plan
    assert plan.count("Exchange") <= 2, "url dedup shuffles more than once (+AQE read)"
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ms_register_windows_share_one_exchange(spark):
    """Both MS allocators (conflict-experiment numbering, per-sample run
    numbering) must run off ONE project-keyed exchange — hash(project)
    satisfies the (project, barcode) clustering, so the second window
    re-sorts instead of re-shuffling.  The samples dim must broadcast."""
    plan = _plan(spark, "q_register_ms_batch", "formatted")
    assert "BroadcastHashJoin" in plan, "samples dim not broadcast"
    assert plan.count("Window") >= 2
    # ABOVE the samples join (node ids grow toward the root in formatted
    # output) there must be exactly ONE exchange feeding both windows —
    # a second one means the allocators stopped sharing.  Exchanges below
    # the join (the persisted manifest's shuffle, whose node ids shift
    # with cross-test cache state) are out of scope.
    join_id = min(
        int(m.group(1)) for m in re.finditer(r"^\((\d+)\) BroadcastHashJoin", plan, re.M)
    )
    above = [
        int(m.group(1))
        for m in re.finditer(r"^\((\d+)\) Exchange", plan, re.M)
        if int(m.group(1)) > join_id
    ]
    assert len(above) == 1, f"window allocators re-shuffle: exchanges at {above}"


def _lazy_plan_of(df):
    import contextlib as _ctx
    import io as _io

    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def _audit_lazy(plan: str, label: str) -> None:
    assert "BatchEvalPython" not in plan, f"{label}: row-at-a-time Python UDF"
    for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas", "MapInArrow"):
        assert marker not in plan, f"{label}: undeclared Python stage ({marker})"
    assert "element_at(split(trim(regexp_replace" not in plan, (
        f"{label}: tokenizer expression inlined into a HOF lambda"
    )


def _lazy_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")


def _lazy_er_sides(spark):
    from pyspark.sql import functions as F

    cust = spark.read.parquet(f"{SF}/customer.parquet")
    left = cust.filter(F.col("c_custkey") % 3 != 0).select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name")
    )
    right = cust.filter(F.col("c_custkey") % 3 != 1).select(
        F.col("c_custkey").alias("rec_id"), F.col("c_name").alias("name")
    )
    return left, right


def _lazy_form(spark, name):
    """Build ONE operator with its eager checkpoints elided: while it is
    constructed, `localCheckpoint` returns its receiver, so the plan is
    the one the pins cut into LogicalRDD scans — the tokenize/normalize/
    postings pipelines the registered queries' plan audit cannot see
    behind them.  The patch targets the classic DataFrame, whose
    `localCheckpoint` overrides `pyspark.sql.DataFrame`'s, and is scoped
    to construction.  Only the requested form is built.

    Loops are not patched: resolve_entities' connected_components and
    bfs_distances stop on the counts their checkpoints' jobs observe, so
    the resolve_entities audit stops at its pre-CC subplan (blocking →
    candidate_pairs → match_pairs) and bfs_distances has no lazy form.
    link_records has no CC and its lazy form IS the full pipeline."""
    from unittest import mock

    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from etl_scripts_spark.operators import corpus as _c
    from etl_scripts_spark.operators.er import (
        blocking_keys,
        candidate_pairs,
        link_records,
        match_pairs,
    )

    with mock.patch.object(ClassicDataFrame, "localCheckpoint", lambda self, *a, **k: self):
        if name in ("batch_retrieval", "pmi_collocations", "bigram_lm_scores"):
            docs = _lazy_docs(spark)
            if name == "batch_retrieval":
                queries_df = docs.filter(F.col("doc_id") % 41 == 0).select(
                    F.col("doc_id").alias("query_id"),
                    F.substring("text", 1, 80).alias("query_text"),
                )
                return _c.batch_retrieval(docs, queries_df, top_k=10)
            if name == "pmi_collocations":
                return _c.pmi_collocations(docs)
            return _c.bigram_lm_scores(docs)

        left, right = _lazy_er_sides(spark)
        if name == "resolve_entities_pre_cc":
            keys = blocking_keys(left, "name", "rec_id", 3, 1)
            cands = candidate_pairs(keys, "rec_id", 50)
            return match_pairs(cands, left, "name", "rec_id", 0.82)
        assert name == "link_records"
        return link_records(left, right, "name", "name")


LAZY_FORMS = [
    "batch_retrieval", "pmi_collocations", "bigram_lm_scores",
    "resolve_entities_pre_cc", "link_records",
]


@pytest.mark.parametrize("name", LAZY_FORMS)
def test_lazy_form_stays_on_the_scale_contract(spark, name):
    df = _lazy_form(spark, name)
    _audit_lazy(_lazy_plan_of(df), name)


def test_er_lazy_form_shapes(spark):
    """Every audited lazy form reads straight from parquet with ZERO
    LogicalRDD: a pin that bypasses `localCheckpoint` (an RDD round
    trip, a `checkpoint()`) would survive the patch and hide a subtree
    from the audit, so it fails here instead."""
    for name in LAZY_FORMS:
        plan = _lazy_plan_of(_lazy_form(spark, name))
        assert "LogicalRDD" not in plan, f"{name}: pin outside localCheckpoint"
        assert "Relation [" in plan or "parquet" in plan


def test_batch_retrieval_lazy_plan_shape(spark):
    """The inverted-index pipeline must prune postings with a broadcast
    semi on the query vocabulary and cut top-k via WindowGroupLimit —
    visible only in the unmaterialized form."""
    import contextlib as _ctx
    import io as _io

    df = _lazy_form(spark, "batch_retrieval")
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        df.explain("formatted")
    formatted = buf.getvalue()
    assert "LeftSemi" in formatted, "postings not pruned by the query vocabulary"
    assert "WindowGroupLimit" in formatted, "top-k cut lost its group-limit"


@pytest.mark.parametrize("arrow", ["false", "true"])
def test_literal_table_is_a_local_relation(spark, arrow):
    """catalog.literal_table plans a LocalRelation (no Python RDD scan)
    whatever the Arrow conf, and round-trips values and nulls."""
    from decimal import Decimal

    from etl_scripts_spark.catalog import literal_table

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        rows = [(1, "a", Decimal("1.25")), (None, None, None)]
        df = literal_table(spark, rows, "k bigint, s string, d decimal(10,2)")
        empty = literal_table(spark, [], "k bigint")
        for d in (df, empty):
            plan = d._jdf.queryExecution().optimizedPlan().toString()
            assert plan.startswith("LocalRelation"), plan
        assert [tuple(r) for r in df.collect()] == rows
        assert empty.collect() == [] and empty.schema.simpleString() == "struct<k:bigint>"
    finally:
        spark.conf.set(key, before)


def test_no_python_list_dataframes_in_the_program():
    """`spark.createDataFrame(<list>)` scans a Python RDD; the program
    builds every literal table through catalog.literal_table."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sources = [root / "__spark_entry__.py", *sorted((root / "etl_scripts_spark").rglob("*.py"))]
    found = []
    for path in sources:
        tree = ast.parse(path.read_text(), filename=str(path))
        helper = {
            id(n)
            for f in ast.walk(tree)
            if isinstance(f, ast.FunctionDef) and f.name == "literal_table"
            for n in ast.walk(f)
        }
        found += [
            f"{path.relative_to(root)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "createDataFrame"
            and id(n) not in helper
        ]
    assert not found, f"createDataFrame outside catalog.literal_table: {found}"
