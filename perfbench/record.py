"""Regenerate the benchmark's recorded references.

    python3 perfbench/record.py expected
        DuckDB runs each mix query's `oracle_sql()` twin over the benchmark's
        data; the results become perfbench/expected/<query>.parquet, against
        which the untimed check pass compares every Spark result.

    python3 perfbench/record.py shape
        Traced runs of every workload for three seeds; per query, the Spark
        job, stage and task counts that repeat exactly across every traced
        execution go to perfbench/shape.json, which traced runs diff against.

Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mixes import DATA_DIR, EXPECTED_DIR, HERE, ROOT, SHAPE_FILE, WORKLOADS  # noqa: E402
from run import reap, session_env  # noqa: E402


def record_expected() -> None:
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as entry
    import pandas as pd
    from tests.parity import compare, duckdb_con

    oracles = entry.oracle_sql()
    con = duckdb_con(str(DATA_DIR))
    EXPECTED_DIR.mkdir(exist_ok=True)
    for w in WORKLOADS.values():
        for q in w["queries"]:
            df = con.execute(oracles[q]).fetchdf()
            path = EXPECTED_DIR / f"{q}.parquet"
            df.to_parquet(path, index=False)
            problems = compare(pd.read_parquet(path), df)
            if problems:
                raise SystemExit(f"{q}: parquet round trip changes the result: {problems}")
            print(f"{q}: {len(df)} rows")


def exact_counts(samples: list[dict[str, int]]) -> dict[str, int]:
    """The counts that are the same in every sample."""
    return {k: samples[0][k] for k in samples[0] if all(s[k] == samples[0][k] for s in samples)}


def record_shape(seeds=(1, 2, 3), seconds: float = 5) -> None:
    samples: dict[str, dict[str, list[dict[str, int]]]] = {w: {} for w in WORKLOADS}
    for w in WORKLOADS:
        for seed in seeds:
            with tempfile.NamedTemporaryFile(dir=ROOT, suffix=".json") as out:
                env = session_env(trace=True)
                proc = subprocess.Popen(
                    [sys.executable, str(HERE / "workload.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
                     "--shape-out", out.name],
                    cwd=ROOT, env=env, stdout=subprocess.DEVNULL, start_new_session=True)
                try:
                    proc.wait(timeout=300)
                finally:
                    reap(proc)
                if proc.returncode != 0:
                    raise SystemExit(f"{w} seed {seed}: exit code {proc.returncode}")
                for q, runs in json.loads(Path(out.name).read_text()).items():
                    samples[w].setdefault(q, []).extend(runs)
    shape = {w: {q: exact_counts(s) for q, s in sorted(qs.items())}
             for w, qs in samples.items()}
    SHAPE_FILE.write_text(json.dumps(shape, indent=1, sort_keys=True) + "\n")
    for w, qs in shape.items():
        for q, counts in qs.items():
            drift = sorted(set(samples[w][q][0]) - set(counts))
            print(f"{w} {q}: exact {counts}" + (f"; drifts: {drift}" if drift else ""))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", choices=("expected", "shape"))
    args = ap.parse_args()
    os.chdir(ROOT)
    if args.what == "expected":
        record_expected()
    else:
        record_shape()


if __name__ == "__main__":
    main()
