"""The benchmark's workloads, its data set and the session shape it pins.

Each workload is a closed loop with one client: the queries of its mix run
one after another, each through the engine's public registry
(`__spark_entry__.queries()`), and the next starts only when the previous
result has been counted.  `--seed` permutes the order inside every pass;
the engine only ever sees the fixed parquet tables under `DATA_DIR`.
A run measures passes for `--seconds`, and at least `passes` of them.
"""

from __future__ import annotations

import os
import random
from pathlib import Path

HERE = Path(__file__).resolve().parent
#: the checkout the benchmark measures: the directory holding perfbench/
ROOT = HERE.parent
#: the repository's synthetic star schema at scale factor 0.01 (TPC-H-ish
#: tables plus events, documents and embeddings), read-only input
DATA_DIR = HERE / "data" / "sf0.01"
#: DuckDB-oracle results of every mix query on DATA_DIR (see record.py)
EXPECTED_DIR = HERE / "expected"
#: per-query Spark job/stage/task counts that repeat exactly (see record.py)
SHAPE_FILE = HERE / "shape.json"
#: everything a run writes besides the engine's own `.scratch/`:
#: Spark local dirs, JVM and Python temp files, the traced run's event log
RUN_DIR = ROOT / ".bench_run"

WORKLOADS: dict[str, dict] = {
    "report": {
        "why": "short read-only reporting requests (catalog reads, report "
               "and TPC-H shapes); per-job scheduling overhead shows here",
        "queries": [
            "q_query_files", "q_projects_with_data", "q_sample_lookup",
            "q_experimental_design", "q_pricing_summary", "q_revenue_by_nation",
            "q_tpch_q04",
        ],
        "passes": 1,
    },
    "etl": {
        "why": "write path and curation loops: dropbox registration, a "
               "stateful stream drain, PageRank, BPE merges and entity "
               "resolution by label-propagation CC",
        "queries": [
            "q_register_fastq", "q_wf_results_register", "q_stream_dedup",
            "q_pagerank", "q_bpe_merges", "q_resolve_entities",
        ],
        # the JIT still compiles this mix's code at full tilt in the first
        # two counted passes (10-20 s of compiler CPU each); over ten seeds
        # the work CPU of either pass alone spread 0.15-0.17 of its median,
        # their mean 0.12
        "passes": 2,
    },
}


def pass_order(queries: list[str], seed: int, pass_no: int) -> list[str]:
    """The mix in the order pass `pass_no` of a `seed` run executes it."""
    order = list(queries)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def cpu_count() -> int:
    """Cores this process may run on (affinity-aware, unlike os.cpu_count)."""
    return len(os.sched_getaffinity(0))


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical memory, at most 2 GiB.  The
    engine's default (16g) is above the RAM of small boxes, and sf0.01
    never needs more than a few hundred MB of heap."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return max(512, min(2048, total // 4 // (1 << 20)))
