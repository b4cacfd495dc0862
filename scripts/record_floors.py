"""Record per-query standalone floors for bench.py's self-diagnosis.

The r7/r8 pattern: a different random subset of headline queries inflates
>2x in each full-suite driver run, on code that is git-verified unchanged —
suite-context noise (GC/retained-block pressure, driver-box load), not plan
regressions.  Attributing those movers by hand cost round time twice.  This
script records each query's STANDALONE floor — min over N_PASSES runs in
SEPARATE JVM sessions, each session a small SPARK_GRAFT_BENCH_ONLY batch —
so bench.py can flag `inflated` entries in the artifact itself and future
rounds read the attribution instead of re-deriving it.

Warm-read floors: `__spark_entry__._fastq_incoming` and `_ms_incoming`
build their incoming-file manifest with `.persist()`, and bench.py runs
`free_session_litter` between queries but not between a query's two runs.
So run 2 of q_register_fastq and of the MS queries (q_register_ms_batch,
q_ms_instrument_conflicts) reads the manifest already persisted by run 1,
and the min-of-2 floors of those queries are warm-read floors: they leave
out building the manifest.

Floors refresh policy: re-run after any round that changes query code or
registers new headline entries (the file records the commit it was built
at; `git diff --stat <commit>` tells you if a floor is stale).

Usage:  python scripts/record_floors.py [batch_size]
Writes: BENCH_FLOORS.json at the repo root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import bench  # noqa: E402  (for HEADLINE — no Spark session is created)

N_PASSES = 2


def run_batch(names: list[str]) -> dict[str, float]:
    env = dict(os.environ, SPARK_GRAFT_BENCH_ONLY=",".join(names))
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        check=False,
    )
    line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else "{}"
    try:
        return json.loads(line).get("queries", {})
    except ValueError:
        print(f"batch {names[0]}..: unparseable bench output", file=sys.stderr)
        return {}


def main() -> None:
    batch_size = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    headline = bench.HEADLINE
    batches = [
        headline[i : i + batch_size] for i in range(0, len(headline), batch_size)
    ]
    floors: dict[str, float] = {}
    for p in range(N_PASSES):
        for i, batch_names in enumerate(batches):
            got = run_batch(batch_names)
            for name, t in got.items():
                floors[name] = min(floors.get(name, float("inf")), t)
            print(
                f"pass {p + 1}/{N_PASSES} batch {i + 1}/{len(batches)}: "
                f"{len(got)}/{len(batch_names)} timed",
                flush=True,
            )
    commit = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=False,
    ).stdout.strip()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    payload = {
        "commit": commit,
        "sf_dir": sf_dir,
        "passes": N_PASSES,
        "batch_size": batch_size,
        "floors": {k: floors[k] for k in sorted(floors)},
    }
    (REPO / "BENCH_FLOORS.json").write_text(json.dumps(payload, indent=1) + "\n")
    missing = [q for q in headline if q not in floors]
    print(f"wrote BENCH_FLOORS.json: {len(floors)} floors" + (
        f"; MISSING {missing}" if missing else ""
    ))


if __name__ == "__main__":
    main()
