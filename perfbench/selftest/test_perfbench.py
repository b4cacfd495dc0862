"""Self-tests of the benchmark's own logic.

    python3 -m pytest perfbench/selftest -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import metrics  # noqa: E402
import tracing  # noqa: E402
import workload  # noqa: E402
from mixes import WORKLOADS, pass_order  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())


# -- percentile selection ----------------------------------------------------

def test_p75_needs_ten_samples_beyond_it():
    assert metrics.beyond(40, 75) == 10
    assert metrics.beyond(39, 75) == 9
    assert "p75" not in metrics.latency_summary([float(i) for i in range(39)])
    summary = metrics.latency_summary([float(i) for i in range(40)])
    assert summary["p75"] == 29.0  # rank 30 of 40: ten samples lie above it
    assert "p90" not in summary


def test_p90_needs_a_hundred_samples():
    assert "p90" not in metrics.latency_summary([1.0] * 99)
    assert metrics.latency_summary([float(i) for i in range(100)])["p90"] == 89.0


def test_median_is_always_reported():
    assert metrics.latency_summary([3.0]) == {"p50": 3.0}
    assert metrics.latency_summary([1.0, 2.0, 10.0, 11.0])["p50"] == 6.0


# -- span self-time arithmetic ------------------------------------------------

def _span(layer, start, end, parent=None, jobs=(0, 0)):
    return tracing.Span(layer, layer, start, parent, jobs[0], end, jobs[1])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("entry.construct", 0.0, 10.0, jobs=(0, 20)),
        _span("operators.dedup", 1.0, 3.0, parent=0, jobs=(2, 8)),
        _span("catalog", 2.0, 4.0, parent=0, jobs=(5, 10)),  # overlaps the first child
        _span("fixpoint", 5.0, 6.0, parent=0, jobs=(12, 13)),
        _span("fixpoint", 1.5, 2.5, parent=1, jobs=(3, 5)),
    ]
    costs = tracing.self_costs(spans)
    assert costs[0][0] == pytest.approx(10 - (3 + 1))  # [1,4) and [5,6)
    assert costs[0][1] == 20 - (8 + 1)                 # job ids [2,10) and [12,13)
    assert costs[1][0] == pytest.approx(2 - 1)
    assert costs[1][1] == 6 - 2
    table = tracing.layer_table(spans)
    assert table["fixpoint"]["calls"] == 2
    assert table["fixpoint"]["self_s"] == pytest.approx(2.0)
    total = sum(r["self_s"] for r in table.values())
    # self times add up to the root span, except that the 1 s in which two
    # siblings overlap is counted by both
    assert total == pytest.approx(10 + 1)


def test_union_length():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 1), (0.5, 2), (3, 4), (3.5, 3.7)]) == pytest.approx(3)
    assert tracing.union_length([(2, 1)]) == 0


def test_tracer_nests_spans_and_reads_counters():
    ids = iter(range(100))
    tracer = tracing.Tracer(lambda: (next(ids), 0))
    with tracer.span("entry.construct"):
        with tracer.span("catalog", "load"):
            pass
    outer, inner = tracer.spans
    assert inner.parent == 0 and outer.parent is None
    assert (outer.job0, inner.job0, inner.job1, outer.job1) == (0, 1, 2, 3)
    assert inner.name == "load" and outer.end >= inner.end


def test_callback_thread_span_is_child_of_the_blocked_main_span():
    import threading

    tracer = tracing.Tracer(lambda: (0, 0))
    with tracer.span("streaming"):
        def callback():
            with tracer.span("sinks"):
                pass

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    assert tracer.spans[-1].parent == 0


def test_layer_of_module_names():
    assert tracing.layer_of("etl_scripts_spark.catalog") == "catalog"
    assert tracing.layer_of("etl_scripts_spark.sinks.merge") == "sinks"
    assert tracing.layer_of("etl_scripts_spark.operators.graph") == "operators.graph"
    assert tracing.layer_of("etl_scripts_spark.operators.windows") is None
    assert tracing.layer_of("etl_scripts_spark") is None
    assert tracing.layer_of("pyspark.sql") is None


def test_task_stats_from_event_log_lines():
    def end(stage, reason, run_ms, shuffle):
        return json.dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}},
        })

    lines = [end(3, "Success", 10, 100), end(3, "ExceptionFailure", 5, 0),
             end(4, "Success", 7, 1), '{"Event": "SparkListenerJobStart"}', end(9, "Success", 1, 1)]
    stats = tracing.task_stats(lines)
    assert tracing.sum_stages(stats, 3, 5) == {
        "tasks": 3, "failed_tasks": 1, "executor_run_ms": 22, "shuffle_write_bytes": 101}


# -- metric names and the printed result --------------------------------------

@pytest.mark.parametrize("name", ["setup_s", "operators.dedup.self_s", "p-50", "9x"])
def test_good_names(name):
    assert metrics.check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "séance"])
def test_bad_names(name):
    with pytest.raises(ValueError):
        metrics.check_name(name)


def test_benchmark_json_names_follow_the_grammar():
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in BENCHMARK[key]]
    names += [w["name"] for w in BENCHMARK["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        metrics.check_name(n)


def test_result_line_format():
    line = metrics.result_line(True, 12, 0, {"pass_cpu_s": (1.25, "s"), "spark.jobs": (7, "count")})
    assert "\n" not in line
    parsed = json.loads(line)
    assert list(parsed) == ["correct", "attempted", "failed", "metrics"]
    assert parsed["metrics"] == {"pass_cpu_s": {"value": 1.25, "unit": "s"},
                                 "spark.jobs": {"value": 7, "unit": "count"}}
    with pytest.raises(ValueError):
        metrics.result_line(True, 1, 0, {"pass_cpu_s": (math.nan, "s")})
    with pytest.raises(ValueError):
        metrics.result_line(True, 0, 0, {})


def test_printed_metrics_are_the_declared_ones():
    run = SimpleNamespace(failed=0, attempted=4, scratch={"bytes": 0, "files": 0})
    passes = [{"wall": 2.0, "cpu": {"work": 3.0, "jit": 1.0, "gc": 0.2},
               "latencies": [0.5, 0.7], "execs": [],
               "jobs": (0, 3), "stages": (0, 4)}]
    e2e = workload.end_to_end(run, passes, 1.0, 900.0)
    assert [(k, u) for k, (_, u) in e2e.items()] == [
        (m["name"], m["unit"]) for m in BENCHMARK["end_to_end"]]
    stream = SimpleNamespace(batches=0, input_rows=0, batch_ms=0)
    layer = workload.per_layer(run.scratch, 0, [], passes, passes, 1.0, (900.0, 80.0),
                               stream, {}, "report", 4)
    assert [(k, u) for k, (_, u) in layer.items()] == [
        (m["name"], m["unit"]) for m in BENCHMARK["per_layer"]]


def test_cpu_split_counts_this_session_as_work():
    def burn(seconds):
        t0 = time.process_time()
        while time.process_time() - t0 < seconds:
            pass

    before = workload.cpu_split(os.getpid())
    burn(0.3)
    after = workload.cpu_split(os.getpid())
    assert after["work"] - before["work"] >= 0.25
    # no thread of this process is named like a JVM compiler or GC thread
    assert after["jit"] == after["gc"] == 0


# -- seeds ------------------------------------------------------------------

def test_same_seed_same_order():
    mix = WORKLOADS["report"]["queries"]
    assert pass_order(mix, 7, 0) == pass_order(mix, 7, 0)
    assert sorted(pass_order(mix, 7, 3)) == sorted(mix)
    assert pass_order(mix, 7, 0) != pass_order(mix, 8, 0)
    assert pass_order(mix, 7, 0) != pass_order(mix, 7, 1)


def test_workloads_match_benchmark_json():
    assert [w["name"] for w in BENCHMARK["workloads"]] == list(WORKLOADS)
    for w in BENCHMARK["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]]["why"]
        for q in WORKLOADS[w["name"]]["queries"]:
            assert (HERE / "expected" / f"{q}.parquet").is_file(), q


# -- job counting on a live session --------------------------------------------

@pytest.fixture(scope="module")
def spark():
    pyspark_sql = pytest.importorskip("pyspark.sql")
    session = (pyspark_sql.SparkSession.builder.master("local[2]")
               .appName("perfbench-selftest")
               .config("spark.ui.enabled", "false")
               .config("spark.sql.shuffle.partitions", "2")
               .getOrCreate())
    yield session
    session.stop()


def test_span_counts_stream_jobs_that_job_groups_miss(spark, tmp_path):
    """Micro-batches run on the stream's thread under the stream's job group,
    so counting by the caller's group misses them; the id range does not."""
    from pyspark.sql import functions as F

    spark.range(200).write.parquet(str(tmp_path / "in"))
    sc = spark.sparkContext
    tracer = tracing.Tracer(tracing.scheduler_counters(spark))
    sc.setJobGroup("perfbench-selftest", "caller")
    try:
        with tracer.span("streaming") as sp:
            query = (spark.readStream.schema("id long").parquet(str(tmp_path / "in"))
                     .groupBy((F.col("id") % 3).alias("k")).count()
                     .writeStream.format("memory").queryName("perfbench_selftest")
                     .outputMode("complete").trigger(availableNow=True)
                     .option("checkpointLocation", str(tmp_path / "ckpt")).start())
            query.awaitTermination()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    caller = set(tracker.getJobIdsForGroup("perfbench-selftest"))
    stream = set(tracker.getJobIdsForGroup(str(query.runId)))
    assert stream, "the drain ran no job under its own group"
    assert set(range(sp.job0, sp.job1)) == caller | stream
    assert sp.job1 - sp.job0 > len(caller)


def test_traced_function_pickles_as_the_original():
    from pyspark import cloudpickle

    from etl_scripts_spark import ckpt

    tracer = tracing.Tracer(lambda: (0, 0))
    wrapped = tracing._Traced(tracer, "ckpt", ckpt.free_local_checkpoint)  # noqa: SLF001
    assert wrapped.__name__ == "free_local_checkpoint"
    assert cloudpickle.loads(cloudpickle.dumps(wrapped)) is ckpt.free_local_checkpoint
