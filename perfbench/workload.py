"""One run of one workload, in a fresh process started by run.py.

Set-up (engine import, `get_spark`, bench.py-style warm-up actions) is timed
from the moment run.py spawned this process.  Then an untimed pass collects
every query and compares it with the DuckDB-oracle expectation, which also
warms the JVM and the Python workers.  Timed passes follow until `--seconds`
have passed, at least the workload's `passes`; each execution is construct
plus `count()`, and the count is checked against the expected row count.  With `--trace 1`, `--seconds` of
traced passes run between two untraced passes, and the per-layer table is
printed instead of the end-to-end metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent))

import metrics  # noqa: E402
import tracing  # noqa: E402
from mixes import (  # noqa: E402
    DATA_DIR, EXPECTED_DIR, ROOT, RUN_DIR, SHAPE_FILE, WORKLOADS, cpu_count, pass_order,
)


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


CLK_TCK = os.sysconf("SC_CLK_TCK")
#: driver JVM threads (by the first letters of their name) that do the JVM's
#: own upkeep: compiling hot code, and collecting garbage
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")
GC_THREADS = ("GC Thread", "G1 ", "VM Thread")


def _cpu_ticks(stat_path: str, reaped: bool) -> tuple[int, int] | None:
    """(session id, user + system ticks) from a /proc stat file, with the
    ticks of reaped children if `reaped`; None if it is gone."""
    try:
        with open(stat_path) as f:
            fields = f.read().rpartition(")")[2].split()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return int(fields[3]), sum(int(x) for x in fields[11:15 if reaped else 13])


def cpu_split(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by this run's session -- this process, the
    driver JVM, the Python workers and the children they reaped -- split
    into the JVM's JIT compiler threads, its garbage-collector threads and
    the rest, which is the workload's own work.  The kernel leaves out the
    time the hypervisor ran other guests (steal), so this grows far less
    than wall time when the host is busy.  The JVM runs with a fixed set of
    compiler threads (see run.py), so none exits and takes its ticks along."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            got = _cpu_ticks(f"/proc/{pid}/stat", reaped=True)
            if got and got[0] == sid:
                total += got[1]
    ticks = {"jit": 0, "gc": 0}
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                name = f.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        kind = "jit" if name.startswith(JIT_THREADS) else "gc" if name.startswith(GC_THREADS) else None
        got = _cpu_ticks(f"/proc/{jvm_pid}/task/{tid}/stat", reaped=False) if kind else None
        if got:
            ticks[kind] += got[1]
    ticks["work"] = total - ticks["jit"] - ticks["gc"]
    return {k: v / CLK_TCK for k, v in ticks.items()}


def scratch_writes(since: float) -> tuple[int, int]:
    """(bytes, files) of files under the engine's scratch root modified
    at or after `since`."""
    nbytes = nfiles = 0
    for dirpath, _, files in os.walk(ROOT / ".scratch"):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                nbytes += st.st_size
                nfiles += 1
    return nbytes, nfiles


class Run:
    """The state of one run: the mix, its expectations, what was attempted
    and failed, and the tracer while traced passes run."""

    def __init__(self, spark, workload: str, seed: int):
        import __spark_entry__ as entry
        import pandas as pd

        self.spark = spark
        self.seed = seed
        self.mix = WORKLOADS[workload]["queries"]
        self.min_passes = WORKLOADS[workload]["passes"]
        registry = entry.queries()
        self.fns = {q: registry[q] for q in self.mix}
        self.expected = {q: pd.read_parquet(EXPECTED_DIR / f"{q}.parquet") for q in self.mix}
        self.sf_dir = str(DATA_DIR)
        self.attempted = self.failed = 0
        self.litter_freed = 0
        self.pass_no = 0
        self.counters = tracing.scheduler_counters(spark)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        self.tracer: tracing.Tracer | None = None
        self.scratch = {"bytes": 0, "files": 0}

    def _fail(self, q: str, why: str) -> None:
        self.failed += 1
        log(f"# FAILED {q}: {why[:400]}")

    def cleanup(self) -> None:
        """Give the next execution the same start: drop cached plans and the
        finished query's checkpoint litter (its result is consumed)."""
        from etl_scripts_spark import ckpt

        gc.collect()
        self.spark.catalog.clearCache()
        self.litter_freed += ckpt.free_session_litter(self.spark)

    def _next_order(self) -> list[str]:
        order = pass_order(self.mix, self.seed, self.pass_no)
        self.pass_no += 1
        return order

    def check_pass(self) -> None:
        from tests.parity import compare

        for q in self._next_order():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                problems = compare(self.fns[q](self.spark, self.sf_dir).toPandas(),
                                   self.expected[q])
            except Exception as exc:  # noqa: BLE001 -- a failed query is a measured outcome
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                self._fail(q, "; ".join(problems))
            log(f"# check {q}: {time.perf_counter() - t0:.3f} s")
            self.cleanup()

    def _span(self, layer: str, name: str):
        return self.tracer.span(layer, name) if self.tracer else contextlib.nullcontext()

    def timed_pass(self) -> dict:
        """One pass over the mix: wall time, CPU time, per-execution
        latencies, and the scheduler id ranges of the pass and of each
        execution."""
        latencies, execs = [], []
        job0, stage0 = self.counters()
        cpu0 = cpu_split(self.jvm_pid)
        t_pass = time.perf_counter()
        for q in self._next_order():
            self.attempted += 1
            since = time.time()
            t0 = time.perf_counter()
            e0 = self.counters() if self.tracer else None
            try:
                with self._span("entry.construct", q):
                    df = self.fns[q](self.spark, self.sf_dir)
                with self._span("entry.action", q):
                    rows = df.count()
                latency = time.perf_counter() - t0
            except Exception as exc:  # noqa: BLE001 -- a failed query is a measured outcome
                self._fail(q, f"{type(exc).__name__}: {exc}")
            else:
                if rows != len(self.expected[q]):
                    self._fail(q, f"{rows} rows, expected {len(self.expected[q])}")
                else:
                    latencies.append(latency)
                    log(f"# timed {q}: {latency:.3f} s")
            if self.tracer:
                execs.append((q, e0, self.counters()))
                nbytes, nfiles = scratch_writes(since)
                self.scratch["bytes"] += nbytes
                self.scratch["files"] += nfiles
            self.cleanup()
        wall = time.perf_counter() - t_pass
        cpu = {k: v - cpu0[k] for k, v in cpu_split(self.jvm_pid).items()}
        log(f"# pass {self.pass_no}: {wall:.3f} s wall, {cpu['work']:.2f} s work CPU "
            f"({cpu['jit']:.2f} s JIT, {cpu['gc']:.2f} s GC)")
        job1, stage1 = self.counters()
        return {"wall": wall, "cpu": cpu, "latencies": latencies, "execs": execs,
                "jobs": (job0, job1), "stages": (stage0, stage1)}

    def timed(self, seconds: float) -> list[dict]:
        passes, t0 = [], time.perf_counter()
        while len(passes) < self.min_passes or time.perf_counter() - t0 < seconds:
            passes.append(self.timed_pass())
        return passes


def warm_up(spark, cpus: int) -> None:
    """bench.py's warm-up actions: JVM and codegen, a parquet footer read,
    and one Python worker per core."""
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(str(DATA_DIR / "region.parquet")).count()

    def _noop(it):
        yield from it

    spark.range(64).repartition(cpus).mapInPandas(_noop, "id long").count()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def jvm_live_heap_mb(spark) -> float:
    """Driver heap still in use after a full collection: what the run retains."""
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / (1 << 20)


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc  # noqa: SLF001
    spark.stop()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 -- never leave the JVM behind
        proc.kill()
        proc.wait()


def end_to_end(run: Run, passes: list[dict], setup_s: float, rss_mb: float) -> dict:
    """The gated end-to-end metrics.  The wall time of a pass, per-execution
    latency, the error rate and the driver's peak RSS are printed beside
    them but not gated: on a shared host the hypervisor's steal moves wall
    times by up to half between runs minutes apart, a run holds too few
    executions for a steady latency median, and the JVM's peak RSS follows
    its heap sizing.  The pass's work CPU time leaves steal out."""
    lat = [x for p in passes for x in p["latencies"]]
    info = {"pass_s": (statistics.median(p["wall"] for p in passes), "s"),
            "passes": (len(passes), "count")}
    info.update({f"latency_{k}_s": (v, "s") for k, v in
                 (metrics.latency_summary(lat) if lat else {}).items()})
    info["latency_samples"] = (len(lat), "count")
    info["error_rate"] = (run.failed / run.attempted, "ratio")
    info["jvm_peak_rss_mb"] = (rss_mb, "MB")
    print_table("also measured, not gated", info)
    return {
        "setup_s": (setup_s, "s"),
        "pass_cpu_s": (statistics.median(p["cpu"]["work"] for p in passes), "s"),
        "success_rate": (1 - run.failed / run.attempted, "ratio"),
    }


def shape_of(passes: list[dict], stats: dict) -> dict[str, list[dict[str, int]]]:
    """Per query, the jobs, stages and tasks of each traced execution."""
    out: dict[str, list[dict[str, int]]] = {}
    for p in passes:
        for q, (j0, s0), (j1, s1) in p["execs"]:
            tasks = tracing.sum_stages(stats, s0, s1)["tasks"]
            out.setdefault(q, []).append({"jobs": j1 - j0, "stages": s1 - s0, "tasks": tasks})
    return out


def shape_diffs(workload: str, shape: dict[str, list[dict[str, int]]]) -> int:
    """Print and count the exact structure counts this run did not repeat."""
    recorded = json.loads(SHAPE_FILE.read_text()).get(workload, {}) if SHAPE_FILE.exists() else {}
    n = 0
    for q, runs in sorted(shape.items()):
        for key, want in recorded.get(q, {}).items():
            seen = sorted({r[key] for r in runs})
            if seen != [want]:
                n += 1
                log(f"# shape: {q} {key} {want} -> {seen}")
    return n


def per_layer(scratch: dict, litter_freed: int, spans: list, untraced: list[dict],
              traced: list[dict], session_s: float, memory: tuple[float, float], stream,
              stats: dict, workload: str, cpus: int) -> dict:
    """The per-layer metrics of the traced passes, per pass."""
    n = len(traced)
    table = tracing.layer_table(spans)

    def row(layer: str, key: str) -> float:
        return table.get(layer, {}).get(key, 0) / n

    pass_s = statistics.median(p["wall"] for p in traced)
    wall = sum(p["wall"] for p in traced)
    totals = dict.fromkeys(tracing.TASK_FIELDS, 0)
    for p in traced:
        for k, v in tracing.sum_stages(stats, *p["stages"]).items():
            totals[k] += v
    freed_ckpts = sum(1 for s in spans if s.name == "free_local_checkpoint")
    m = {
        "session.start_s": (session_s, "s"),
        "entry.construct_s": (row("entry.construct", "self_s"), "s"),
        "entry.action_s": (row("entry.action", "self_s"), "s"),
        "catalog.calls": (row("catalog", "calls"), "count"),
        "catalog.self_s": (row("catalog", "self_s"), "s"),
    }
    for layer in ("reports", "pipelines", "sinks", "streaming"):
        m[f"{layer}.self_s"] = (row(layer, "self_s"), "s")
        if layer != "streaming":
            m[f"{layer}.jobs"] = (row(layer, "jobs"), "count")
    m["sinks.bytes_written"] = (scratch["bytes"] / n, "bytes")
    m["sinks.files_written"] = (scratch["files"] / n, "count")
    m["streaming.micro_batches"] = (stream.batches / n, "count")
    m["streaming.input_rows"] = (stream.input_rows / n, "count")
    m["streaming.batch_s"] = (stream.batch_ms / 1000 / n, "s")
    for op in tracing.OPERATOR_LAYERS:
        for key, unit in (("self_s", "s"), ("jobs", "count"), ("calls", "count")):
            m[f"operators.{op}.{key}"] = (row(f"operators.{op}", key), unit)
    m["fixpoint.checkpoints"] = (row("fixpoint", "calls"), "count")
    m["fixpoint.checkpoint_s"] = (row("fixpoint", "self_s"), "s")
    m["ckpt.free_s"] = (row("ckpt", "self_s"), "s")
    m["ckpt.rdds_freed"] = ((litter_freed + freed_ckpts) / n, "count")
    m["spark.jobs"] = (sum(p["jobs"][1] - p["jobs"][0] for p in traced) / n, "count")
    m["spark.stages"] = (sum(p["stages"][1] - p["stages"][0] for p in traced) / n, "count")
    m["spark.tasks"] = (totals["tasks"] / n, "count")
    m["spark.failed_tasks"] = (totals["failed_tasks"] / n, "count")
    m["spark.shuffle_write_bytes"] = (totals["shuffle_write_bytes"] / n, "bytes")
    m["spark.executor_run_s"] = (totals["executor_run_ms"] / 1000 / n, "s")
    m["spark.busy_frac"] = (totals["executor_run_ms"] / 1000 / (wall * cpus), "ratio")
    attributed = sum(r["self_s"] for r in table.values()) / n
    untraced_s = statistics.median(p["wall"] for p in untraced)
    m["trace.pass_s"] = (pass_s, "s")
    m["trace.untraced_pass_s"] = (untraced_s, "s")
    m["trace.overhead_s"] = (pass_s - untraced_s, "s")
    m["trace.unattributed_s"] = (wall / n - attributed, "s")
    m["shape.diffs"] = (shape_diffs(workload, shape_of(traced, stats)), "count")
    m["cpu.work_s"] = (statistics.median(p["cpu"]["work"] for p in traced), "s")
    m["jvm.jit_cpu_s"] = (statistics.median(p["cpu"]["jit"] for p in traced), "s")
    m["jvm.gc_cpu_s"] = (statistics.median(p["cpu"]["gc"] for p in traced), "s")
    m["jvm.peak_rss_mb"] = (memory[0], "MB")
    m["jvm.live_heap_mb"] = (memory[1], "MB")
    return m


def print_table(title: str, m: dict) -> None:
    log(f"# {title}")
    for name, (value, unit) in m.items():
        log(f"#   {name:32s} {value:16.4f} {unit}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--shape-out", type=Path)
    args = ap.parse_args(argv)
    spawned = float(os.environ.get("PERFBENCH_SPAWNED", T_START))
    cpus = cpu_count()

    sys.path.insert(0, str(ROOT))
    import __spark_entry__  # noqa: F401 -- the engine import is part of set-up
    from etl_scripts_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    log(f"# {args.workload} seed {args.seed}: {spark.sparkContext.master}, driver heap "
        f"{os.environ.get('SPARK_GRAFT_DRIVER_MEM')}, data {DATA_DIR.relative_to(ROOT)}")
    try:
        warm_up(spark, cpus)
        setup_s = time.time() - spawned
        stream = None
        if args.trace:
            stream = tracing.stream_listener()
            spark.streams.addListener(stream)
        run = Run(spark, args.workload, args.seed)
        t0 = time.perf_counter()
        run.check_pass()
        log(f"# set-up {setup_s:.3f} s (session {session_s:.3f} s); "
            f"check pass {time.perf_counter() - t0:.3f} s")
        if not args.trace:
            m = end_to_end(run, run.timed(args.seconds), setup_s, jvm_peak_rss_mb(spark))
            print_table(f"{args.workload} end-to-end (seed {args.seed})", m)
            print(metrics.result_line(run.failed == 0, run.attempted, run.failed, m))
            return 0
        # traced passes sit between two untraced ones, so the overhead is
        # not confused with the warming of the first timed pass
        untraced = [run.timed_pass()]
        tracer = run.tracer = tracing.Tracer(run.counters)
        instr = tracing.Instrumentation(tracer)
        log(f"# tracing {instr.install(spark)} layer functions")
        run.litter_freed = 0
        stream.recording = True
        try:
            traced = run.timed(args.seconds)
            tracing.wait_listeners(spark)
        finally:
            stream.recording = False
            instr.uninstall()
        litter_freed, run.tracer = run.litter_freed, None
        untraced.append(run.timed_pass())
        memory = (jvm_peak_rss_mb(spark), jvm_live_heap_mb(spark))
    finally:
        stop(spark)
    logs = list((RUN_DIR / "eventlog").iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    with open(logs[0]) as f:
        stats = tracing.task_stats(f)
    m = per_layer(run.scratch, litter_freed, tracer.spans, untraced, traced, session_s,
                  memory, stream, stats, args.workload, cpus)
    if args.shape_out:
        args.shape_out.write_text(json.dumps(shape_of(traced, stats)))
    print_table(f"{args.workload} per layer (seed {args.seed})", m)
    print(metrics.result_line(run.failed == 0, run.attempted, run.failed, m))
    return 0


if __name__ == "__main__":
    sys.exit(main())
