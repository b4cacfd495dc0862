"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

# The engine imports (entry module, session factory, checkpoint sweeper)
# are deferred into main(): consumers that want only HEADLINE or
# floors_gate (scripts/record_floors.py, tests/test_bench_harness.py)
# must not pay the full 200+-query registration import (~1.3 s + pyspark).

#: headline set: one per operator family — scans/agg, join chain, lineage
#: fixpoint, windowed allocation, end-to-end pipeline, sessionization,
#: dedup (exact + LSH), text stats, similarity search, streaming.
HEADLINE = [
    "q_pricing_summary",
    "q_revenue_by_nation",
    "q_projects_with_data",
    "q_lineage_roots",
    "q_register_fastq",
    "q_experiment_numbering",
    "q_topk_orders_per_customer",
    "q_sessionize",
    "q_hourly_rollup",
    "q_query_files",
    "q_word_count",
    "q_dedup_exact",
    "q_minhash_lsh_pairs",
    "q_near_dup_clusters",
    "q_corpus_curation",
    "q_simhash",
    "q_token_stats",
    "q_embedding_topk",
    "q_srp_buckets",
    "q_embedding_near_dup",
    "q_ivf_topk",
    "q_stream_hourly_rollup",
    "q_stream_user_totals",
    "q_stream_dedup",
    "q_stream_sessionize",
    "q_asof_join",
    "q_sequence_packing",
    "q_ivf_recall",
    "q_simhash_pairs",
    "q_graph_components",
    # adversarial shapes: hot-key as-of (sliced plan) and diameter-100
    # chain CC — regressions in skew handling / star convergence show here
    "q_asof_join_skewed",
    "q_graph_components_chain",
    # round-4 additions: the real pixel/PDF decode paths (Arrow-batched
    # Python stages — their cost scales with payload bytes, worth watching)
    "q_multimodal_pixel_stats",
    "q_multimodal_resize",
    "q_pdf_metadata",
    # iterative training + trained-quantizer search
    "q_kmeans_assign",
    "q_ivf_trained",
    # round-5 additions: semantic dedup, importance weighting, perplexity
    # bucketing (distributed ntile), stream-stream interval join
    "q_semdedup",
    "q_dsir_weights",
    "q_lm_buckets",
    "q_stream_interval_join",
    "q_boilerplate_flags",
    "q_doc_sample",
    "q_pq_topk",
    "q_pq_recall",
    "q_bpe_merges",
    # substring-level dedup + fingerprinting + sketches
    "q_dup_ngram_spans",
    "q_winnow_fingerprints",
    "q_segment_dedup",
    "q_kmv_distinct",
    "q_dup_span_removal",
    "q_source_overlap",
    "q_cms_gram_counts",
    "q_hashed_quality",
    "q_bpe_encode",
    "q_hist_quantiles",
    "q_incremental_dedup",
    "q_stream_kmv",
    "q_shipping_priority",
    "q_large_orders",
    "q_kmv_overlap",
    "q_sketch_accuracy",
    "q_funnel_conversion",
    "q_triangle_count",
    "q_nation_trade",
    "q_parts_supplier_count",
    "q_retention_cohorts",
    "q_component_sizes",
    "q_bigram_lm",
    # round-6 additions: URL/domain curation layer, span-based doc
    # clustering, sketch-merge law, MS-conversion registration pipeline
    "q_url_canonical_dedup",
    "q_domain_quality_rollup",
    "q_span_dup_clusters",
    "q_hist_merge",
    "q_register_ms_batch",
    "q_ms_instrument_conflicts",
    "q_gopher_repetition",
    "q_incremental_components",
    "q_lsh_recall",
    # round-7 additions: entity resolution (blocking + Levenshtein + CC),
    # Z-order layout key, streaming CMS maintenance
    "q_resolve_entities",
    "q_zorder_key",
    "q_stream_cms",
    # TPC-H Q21 shape: EXISTS/NOT-EXISTS via agg-before-join
    "q_waiting_orders",
    # distributed perceptron training over hashed features
    "q_train_classifier",
    # baseline JPEG decode (huffman + IDCT + YCbCr), the last codec seam
    "q_multimodal_jpeg_stats",
    # round-8 additions: the lakehouse/scale wave — Bloom join pruning,
    # SCD2 apply, integer-exact PageRank, footer-sweep skipping report,
    # bin-bucketed interval join, incremental rollup refresh
    "q_bloom_prune_join",
    "q_scd2_apply",
    "q_pagerank",
    "q_skipping_report",
    "q_interval_join",
    "q_refresh_rollup",
    # round-9 additions: the queue drain (CDC feed, spectrogram FFT,
    # grouped OLS, expectations engine, PMI collocations, PSI drift)
    # plus the TPC-H drip (Q17 small-quantity, Q22 idle balances)
    "q_snapshot_changes",
    "q_audio_spectrogram",
    "q_grouped_ols",
    "q_expectation_report",
    "q_pmi_collocations",
    "q_psi_report",
    "q_tpch_q17",
    "q_tpch_q22",
    # round-10 additions: the pre-staged flip — real image-hash decode,
    # signature clustering, MJPEG frame decode, grid resample + ffill,
    # exact weighted sampling, batch BM25 retrieval, record linkage,
    # the scratch-root pair (streaming MV drain, vacuum GC), and the
    # first TPC-H completion trio (Q6 pushdown probe, Q12, Q14)
    "q_image_ahash",
    "q_signature_dup_clusters",
    "q_mjpeg_video_stats",
    "q_resample_ffill",
    "q_weighted_bernoulli",
    "q_batch_retrieval",
    "q_link_records",
    "q_stream_mv_drain",
    "q_vacuum_report",
    "q_tpch_q06",
    "q_tpch_q12",
    "q_tpch_q14",
    "q_tpch_q04",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q15",
    "q_tpch_q19",
    # round-11 additions: the TPC-H completion five (derived-partsupp
    # correlated shapes q02/q09/q11/q20 + the seven-table star q08 —
    # the suite is now 22/22) and the five cheapest banked shapes
    # (HLL distinct, exact windowed percentiles, explicit-values pivot,
    # multiset table fingerprint, positional phrase search)
    "q_tpch_q02",
    "q_tpch_q08",
    "q_tpch_q09",
    "q_tpch_q11",
    "q_tpch_q20",
    "q_hll_distinct",
    "q_exact_percentiles",
    "q_pivot_table",
    "q_table_fingerprint",
    "q_phrase_search",
    # round-12 additions: the ten cheapest banked shapes — skew diagnosis,
    # robust outliers (MAD), exact stratified sampling, trailing-frame
    # z-score, hopping-window rollup, sentence segmentation, column
    # profiling, hashing-trick embeddings, and the GIF/TIFF decode paths
    "q_key_skew_report",
    "q_mad_outliers",
    "q_stratified_sample",
    "q_rolling_zscore",
    "q_hopping_rollup",
    "q_segment_sentences",
    "q_profile_columns",
    "q_hashed_embedding",
    "q_gif_pixel_stats",
    "q_tiff_pixel_stats",
    # round-13 additions: the staged heavy tail drains — HLL join-size
    # estimation, multi-touch attribution, exact set-similarity join
    # (AllPairs; at sf0.1 the ~8.9M-pair result is counted, never
    # collected — bench times df.count(), the decided rows-only form),
    # incremental batch-vs-corpus dedup, benchmark decontamination,
    # exact embedding covariance, multi-source BFS, k-core peel,
    # compaction bin-packing, the two AvailableNow streaming twins
    # (rolling z-score folded per micro-batch, HLL registers in the
    # state store), and G.711 µ-law decode
    "q_hll_join_estimate",
    "q_attribution",
    "q_setsim_pairs",
    "q_incremental_setsim_feed",
    "q_contamination_report",
    "q_embedding_covariance",
    "q_bfs_distances",
    "q_k_core",
    "q_plan_compaction",
    "q_stream_rolling_zscore",
    "q_stream_hll",
    "q_g711_audio_stats",
]


def floors_gate(
    floors_path: Path, sf_dir: str, timings: dict[str, float]
) -> tuple[dict[str, dict[str, float]], dict[str, str] | None, dict[str, str] | None]:
    """Self-diagnosis against recorded standalone floors: returns
    (inflated, skipped_scale_mismatch, skipped_unreadable).  Pure so the
    artifact-key contract is unit-testable (tests/test_bench_harness.py).

    An in-suite time > 2x its standalone floor is driver-box /
    suite-context noise, not a plan regression — the flag makes the
    artifact carry its own attribution.  Floors below 0.2 s are skipped
    (jitter at that size trips 2x without meaning anything).
    """
    inflated: dict[str, dict[str, float]] = {}
    floors_skipped: dict[str, str] | None = None
    floors_unreadable: dict[str, str] | None = None
    if floors_path.exists():
        # an unreadable / garbled / wrong-shaped floors file must never
        # cost the one-JSON-line artifact after the suite has already
        # run — but the gate being OFF must be visible in the artifact,
        # under its OWN key with the reason (a broken floors file is not
        # a scale mismatch; consumers grep these keys).  Shape failures
        # (non-dict payload, non-dict floors, empty floors) are as fatal
        # to the gate as a parse failure and report the same way.
        payload: dict = {}
        try:
            payload = json.loads(floors_path.read_text())
        except (OSError, ValueError) as exc:
            floors_unreadable = {"run": sf_dir,
                                 "error": f"{type(exc).__name__}"}
        if floors_unreadable is None and not isinstance(payload, dict):
            payload = {}
            floors_unreadable = {"run": sf_dir, "error": "bad_shape"}
        # floors are only meaningful at the scale they were recorded at:
        # comparing an sf1 run against sf0.1 floors would flag nearly
        # every query as "inflated" (i.e. mislabel genuine scale cost as
        # suite noise) and bury real regressions.  Compare realpaths, not
        # strings — a symlink / '//' / relative spelling of the SAME dir
        # must not silently disable the gate — and when floors ARE dropped
        # say so in the artifact instead of leaving a hole nobody can see.
        recorded = str(payload.get("sf_dir", ""))
        same_sf = bool(recorded) and os.path.realpath(recorded) == os.path.realpath(sf_dir)
        floors = payload.get("floors", {}) if same_sf else {}
        if payload and not same_sf:
            floors_skipped = {"recorded": recorded, "run": sf_dir}
        if same_sf and not (isinstance(floors, dict) and floors):
            # matching sf_dir but missing/empty/non-dict floors map — a
            # partially-written record_floors run; the gate is OFF and
            # the artifact must say so, not show a clean n_inflated: 0
            floors = {}
            floors_unreadable = {"run": sf_dir, "error": "empty_floors"}
        for name, t in timings.items():
            f = floors.get(name)
            if isinstance(f, (int, float)) and f >= 0.2 and t > 2 * f:
                inflated[name] = {"suite": t, "floor": f}
    return inflated, floors_skipped, floors_unreadable


def build_artifacts(
    timings: dict[str, float],
    runs: dict[str, list[float]],
    errors: dict[str, str],
    inflated: dict[str, dict[str, float]],
    floors_skipped: dict[str, str] | None,
    floors_unreadable: dict[str, str] | None,
    sf: float,
) -> tuple[dict, dict]:
    """Split the run's record into (stdout_line, stderr_detail).

    The driver parses the ONE stdout JSON line, and its capture window has
    clipped oversized lines more than once (BENCH_r05/r06 lost pieces;
    BENCH_r12's line grew past the window entirely and the driver's
    round-over-round PERF comparison went blind — `prev_bench_ok: false`).
    So the stdout line carries ONLY what the driver contract needs —
    `queries` + the scalar tail — and every bulky diagnostic (`runs` raw
    pairs, `inflated` floor details) moves to ONE stderr `#detail` line,
    where the `#partial` diagnostics already live.  Key order still
    matters: scalars ride the very END of the line, which survives any
    tail clip.  Pure so the size budget is unit-testable.
    """
    result: dict = {"queries": timings}
    if errors:
        result["errors"] = errors
    result["metric"] = "headline_suite_seconds"
    result["unit"] = "sec"
    result["sf"] = sf
    # gate-off markers ride the clip-surviving TAIL (like inflated_names
    # below): a head-clipped artifact showing n_inflated: 0 must be
    # distinguishable from a run whose inflation gate was OFF
    if floors_skipped is not None:
        # floors existed but were recorded at a different data dir — the
        # inflation gate is OFF for this run, and the artifact says so
        result["floors_skipped_scale_mismatch"] = floors_skipped
    if floors_unreadable is not None:
        result["floors_skipped_unreadable"] = floors_unreadable
    # the inflated NAMES (compact) stay on stdout so the artifact remains
    # self-attributing even if the stderr detail line is lost; the
    # per-query suite/floor numbers live in the detail line
    result["inflated_names"] = sorted(inflated)
    result["n_inflated"] = len(inflated)
    result["n_queries"] = len(timings)
    # artifact format version, in the tail so even a clipped line carries
    # it: 2 = this slim form (`runs`/`inflated` on the stderr #detail line);
    # a line without `fmt` is the older form that carried them on stdout
    result["fmt"] = 2
    result["value"] = round(sum(timings.values()), 3)
    detail: dict = {"runs": runs}
    if inflated:
        detail["inflated"] = inflated
    return result, detail


def main() -> None:
    import __spark_entry__ as entrymod
    from etl_scripts_spark.ckpt import free_session_litter
    from etl_scripts_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # SPARK_GRAFT_BENCH_ONLY=q_a,q_b runs just those queries in a fresh
    # session — the discriminator for suite-context noise: if a standalone
    # run reproduces a full-suite number, the regression is real; if not,
    # it was GC/retained-block pressure from the surrounding suite.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        wanted = {t.strip() for t in only.split(",") if t.strip()}
        unknown = wanted - set(HEADLINE)
        if unknown:
            # a typo'd name silently matching nothing would emit a valid-
            # looking empty benchmark — the exact wrong signal for the
            # standalone-discriminator protocol this filter exists for
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_ONLY names not in HEADLINE: {sorted(unknown)}"
            )
        headline = [q for q in HEADLINE if q in wanted]
    else:
        headline = HEADLINE
    spark = get_spark("etl-scripts-spark-bench")
    queries = entrymod.queries()

    # Warm-up actions so one-time infra startup isn't billed to whichever
    # query happens to run first: JVM/codegen, parquet footer reading, and
    # the Python/Arrow worker pool (first mapInPandas pays worker spawn).
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(64).repartition(64).mapInPandas(_noop, "id long").count()

    # One broken query must not cost the whole suite its bench signal:
    # time each query independently, record failures, and always emit the
    # headline JSON for whatever ran.  Each query runs TWICE and reports
    # min-of-2 — single-run numbers entangle real regressions with run
    # noise (JIT warmup, GC, first-touch plan analysis), which made two
    # past round-over-round deltas undiagnosable.  Both raws are kept in
    # "runs" so the warm/cold split stays visible.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in headline:
        # free the previous query's localCheckpoint blocks: the iterative
        # operators (k-means, CC, BPE) eagerly checkpoint per round, and 60
        # queries of retained blocks in one JVM turn into GC pressure that
        # showed up as a 4x slowdown on late suite entries (8.1 s vs 2.1 s
        # standalone for q_kmeans_assign).  Python gc drops the py4j refs,
        # but the JVM only releases the blocks at its own GC (which may
        # not run for many queries on a 128 GiB heap) — so ALSO unpersist
        # every leftover persistent RDD explicitly.  Safe because nothing
        # in the engine `.cache()`s across queries: anything still
        # registered here is a finished query's checkpoint litter.
        gc.collect()
        # (free_session_litter is best-effort internally — a py4j hiccup
        # during a long GC pause must not cost the remaining queries
        # their bench signal)
        free_session_litter(spark)
        raws: list[float] = []
        rows = -1
        for _ in range(2):
            t0 = time.time()
            try:
                df = queries[name](spark, sf_dir)
                rows = df.count()
                raws.append(round(time.time() - t0, 3))
            except Exception as exc:  # noqa: BLE001 — harness boundary
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"# {name}: FAILED after {round(time.time() - t0, 3)}s: "
                      f"{errors[name]}", file=sys.stderr, flush=True)
                break
        if raws:
            runs[name] = raws
        # a query is either timed or errored, never both — a run-2 failure
        # keeps its run-1 raw (in runs) for diagnosis but stays out of the
        # headline total
        if raws and name not in errors:
            timings[name] = min(raws)
            print(f"# {name}: {rows} rows in {timings[name]}s (runs: {raws})",
                  file=sys.stderr, flush=True)
        # Truncation self-defense: the driver's capture can clip the tail
        # of the output (BENCH_r05 lost the final JSON's head, i.e. 14
        # queries + the total).  Emit the cumulative per-query map after
        # EVERY query on stderr, so wherever the clip lands, the last
        # surviving "#partial" line still carries a complete map of all
        # timings up to that point.  stdout keeps the ONE-JSON-line
        # contract untouched.
        print("#partial " + json.dumps(
            {"done": len(timings) + len(errors), "of": len(headline),
             "sum": round(sum(timings.values()), 3), "queries": timings,
             **({"errors": errors} if errors else {})}),
            file=sys.stderr, flush=True)

    # BENCH_FLOORS.json is written by scripts/record_floors.py (min-of-2
    # across SEPARATE JVM sessions in small batches); r7 and r8 each
    # burned round time re-attributing suite-noise movers by hand before
    # the gate existed.
    floors_path = Path(__file__).resolve().parent / "BENCH_FLOORS.json"
    inflated, floors_skipped, floors_unreadable = floors_gate(
        floors_path, sf_dir, timings
    )
    result, detail = build_artifacts(
        timings, runs, errors, inflated, floors_skipped, floors_unreadable, sf
    )
    # bulky diagnostics (raw run pairs, inflation floor details) ride ONE
    # stderr line next to the #partial trail; stdout keeps the slim
    # one-JSON-line driver contract (see build_artifacts)
    print("#detail " + json.dumps(detail, separators=(",", ":")),
          file=sys.stderr, flush=True)
    print(json.dumps(result, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
