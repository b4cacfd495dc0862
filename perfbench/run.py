"""The spark-graft benchmark.

    python3 perfbench/run.py --workload report --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 1

Run from the root of a checkout.  Each workload runs in a fresh Python
process (perfbench/workload.py) whose session shape is pinned here:
`local[<cores>]`, a driver heap below physical memory, and every Spark local
dir, temp file and event log under `.bench_run/` in the checkout.  The last
stdout line is one JSON object: `correct`, `attempted`, `failed` and the
metrics -- end-to-end with `--trace 0`, per layer with `--trace 1`.
`--workload all` runs every workload in turn and prints one line each.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mixes import HERE, ROOT, RUN_DIR, WORKLOADS, cpu_count, driver_mem_mb  # noqa: E402

#: a run that has not finished by then is killed and fails
RUN_TIMEOUT_S = 140


def session_env(trace: bool) -> dict[str, str]:
    """The environment of a workload process: the session shape and where
    Spark may write."""
    local, tmp, events = RUN_DIR / "local", RUN_DIR / "tmp", RUN_DIR / "eventlog"
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    for d in (local, tmp, events):
        d.mkdir(parents=True)
    # compiler threads that come and go would take their CPU ticks with them
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    submit = ["--driver-java-options", java_opts,
              "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        for kv in ("spark.eventLog.enabled=true", f"spark.eventLog.dir={events.as_uri()}",
                   "spark.eventLog.compress=false", "spark.eventLog.rolling.enabled=false"):
            submit += ["--conf", kv]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYTHONPATH": str(ROOT),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        # the same string hashes in every run and every Python worker
        "PYTHONHASHSEED": "0",
    })
    return env


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict | None:
    """Run one workload in a fresh process group; return its result line,
    or None if it failed.  Every process of the group is gone on return."""
    env = session_env(trace)
    env["PERFBENCH_SPAWNED"] = repr(time.time())
    cmd = [sys.executable, str(HERE / "workload.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(int(trace))]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"# {workload}: no result after {RUN_TIMEOUT_S} s", file=sys.stderr)
        out = ""
    finally:
        reap(proc)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(f"# {workload}: exit code {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


def reap(proc: subprocess.Popen) -> None:
    """Kill what is left of the process group (the driver JVM, Python
    workers) and wait until it is gone."""
    if proc.poll() is None:
        proc.kill()
    proc.wait()
    t0 = time.monotonic()
    while time.monotonic() - t0 < 30:
        try:
            os.killpg(proc.pid, signal.SIGTERM if time.monotonic() - t0 < 10 else signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated benchmark still reaps the workload process group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "__spark_entry__.py").is_file():
        print(f"# no engine at {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    names = sorted(WORKLOADS) if args.workload == "all" else [args.workload]
    results = {}
    for name in names:
        res = run_workload(name, args.seed, args.seconds, bool(args.trace))
        if res is None:
            return 1
        results[name] = res
    for name, res in results.items():
        if len(results) > 1:
            print(f"# {name}")
        print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
