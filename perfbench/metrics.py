"""Pure helpers for the benchmark's numbers: percentile selection, the
metric-name grammar and the one-line result it prints last."""

from __future__ import annotations

import json
import math
import re
import statistics

#: a metric name: a letter or digit, then letters, digits, `_`, `.`, `-`
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
#: a percentile is reported only with at least this many samples above it
MIN_BEYOND = 10


def nearest_rank(samples: list[float], p: float) -> float:
    """The p-th percentile by the nearest-rank rule (a measured sample)."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    k = max(1, math.ceil(p / 100 * len(ordered)))
    return ordered[k - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def latency_summary(samples: list[float]) -> dict[str, float]:
    """The median, plus p75 and p90 where at least MIN_BEYOND samples lie
    beyond them (p75 needs 40 samples, p90 needs 100)."""
    out = {"p50": statistics.median(samples)}
    for p in (75, 90):
        if beyond(len(samples), p) >= MIN_BEYOND:
            out[f"p{p}"] = nearest_rank(samples, p)
    return out


def check_name(name: str) -> str:
    if not NAME_RE.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    """The JSON object the benchmark prints as its last stdout line."""
    if attempted < 1:
        raise ValueError("nothing attempted")
    body = {}
    for name, (value, unit) in metrics.items():
        if not UNIT_RE.fullmatch(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if not math.isfinite(value):
            raise ValueError(f"{name} is not finite: {value!r}")
        body[check_name(name)] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": body})
