"""bench.py artifact-key contract: the floors self-diagnosis gate.

The driver's per-round BENCH_r{N}.json is the only performance record a
round leaves behind, so the gate's three outcomes must be distinguishable
from the artifact alone: `inflated` (per-query noise attribution),
`floors_skipped_scale_mismatch` (floors recorded at a different data
dir), and `floors_skipped_unreadable` (garbled floors file — a parse
failure is NOT a scale mismatch; consumers grep these keys).  No Spark
session: floors_gate is pure.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from bench import build_artifacts, floors_gate  # noqa: E402


def _write_floors(tmp_path: Path, sf_dir: str, floors: dict) -> Path:
    p = tmp_path / "BENCH_FLOORS.json"
    p.write_text(json.dumps({"sf_dir": sf_dir, "floors": floors}))
    return p


def test_inflation_flags_only_above_2x_and_above_min_floor(tmp_path):
    p = _write_floors(
        tmp_path, str(tmp_path), {"q_a": 1.0, "q_b": 1.0, "q_tiny": 0.1}
    )
    timings = {"q_a": 2.5, "q_b": 1.9, "q_tiny": 5.0, "q_no_floor": 9.0}
    inflated, skipped, unreadable = floors_gate(p, str(tmp_path), timings)
    # q_a: >2x a >=0.2s floor -> flagged with both numbers.
    # q_b: under 2x -> clean.  q_tiny: floor below the 0.2s jitter cut ->
    # never flagged.  q_no_floor: no floor recorded -> never flagged.
    assert inflated == {"q_a": {"suite": 2.5, "floor": 1.0}}
    assert skipped is None and unreadable is None


def test_scale_mismatch_disables_gate_and_says_so(tmp_path):
    other = tmp_path / "other_sf"
    other.mkdir()
    p = _write_floors(tmp_path, str(other), {"q_a": 1.0})
    inflated, skipped, unreadable = floors_gate(p, str(tmp_path), {"q_a": 99.0})
    assert inflated == {}
    assert skipped == {"recorded": str(other), "run": str(tmp_path)}
    assert unreadable is None


def test_realpath_spelling_of_same_dir_keeps_gate_on(tmp_path):
    # a '//' / trailing-slash respelling of the SAME dir must not
    # silently disable the gate
    p = _write_floors(tmp_path, str(tmp_path), {"q_a": 1.0})
    respelled = str(tmp_path) + "//"
    inflated, skipped, unreadable = floors_gate(p, respelled, {"q_a": 3.0})
    assert inflated == {"q_a": {"suite": 3.0, "floor": 1.0}}
    assert skipped is None and unreadable is None


def test_unreadable_floors_reports_under_its_own_key(tmp_path):
    p = tmp_path / "BENCH_FLOORS.json"
    p.write_text("{not json")
    inflated, skipped, unreadable = floors_gate(p, str(tmp_path), {"q_a": 9.0})
    assert inflated == {}
    assert skipped is None, "parse failure must not report as scale mismatch"
    assert unreadable == {"run": str(tmp_path), "error": "JSONDecodeError"}


def test_missing_floors_file_is_silent(tmp_path):
    p = tmp_path / "BENCH_FLOORS.json"
    inflated, skipped, unreadable = floors_gate(p, str(tmp_path), {"q_a": 9.0})
    assert inflated == {} and skipped is None and unreadable is None


def test_valid_json_wrong_shape_reports_not_raises(tmp_path):
    # valid JSON that is not the expected payload shape must degrade to
    # a reported gate-off, never an AttributeError after the suite ran
    p = tmp_path / "BENCH_FLOORS.json"
    p.write_text("[1, 2, 3]")
    inflated, skipped, unreadable = floors_gate(p, str(tmp_path), {"q_a": 9.0})
    assert inflated == {} and skipped is None
    assert unreadable == {"run": str(tmp_path), "error": "bad_shape"}


def test_matching_sf_with_empty_or_nondict_floors_reports_gate_off(tmp_path):
    for floors_val in ({}, [1, 2], None):
        p = tmp_path / "BENCH_FLOORS.json"
        payload = {"sf_dir": str(tmp_path)}
        if floors_val is not None:
            payload["floors"] = floors_val
        p.write_text(json.dumps(payload))
        inflated, skipped, unreadable = floors_gate(p, str(tmp_path), {"q_a": 9.0})
        assert inflated == {} and skipped is None, floors_val
        assert unreadable == {"run": str(tmp_path), "error": "empty_floors"}, floors_val


def test_non_numeric_floor_value_is_skipped_not_fatal(tmp_path):
    p = _write_floors(tmp_path, str(tmp_path), {"q_a": "garbage", "q_b": 1.0})
    inflated, skipped, unreadable = floors_gate(
        p, str(tmp_path), {"q_a": 9.0, "q_b": 9.0}
    )
    assert inflated == {"q_b": {"suite": 9.0, "floor": 1.0}}
    assert skipped is None and unreadable is None


def test_gate_off_markers_ride_the_artifact_tail():
    """The driver's capture keeps only the TAIL of stdout, so the
    gate-off keys must serialize AFTER the bulky queries map — a
    head-clipped artifact showing n_inflated: 0 must still carry its
    gate-off marker."""
    result, _ = build_artifacts(
        timings={"q_a": 1.0, "q_b": 2.0},
        runs={"q_a": [1.5, 1.0], "q_b": [2.0, 2.2]},
        errors={},
        inflated={"q_a": {"suite": 1.0, "floor": 0.4}},
        floors_skipped={"recorded": "/x", "run": "/y"},
        floors_unreadable={"run": "/y", "error": "bad_shape"},
        sf=0.1,
    )
    line = json.dumps(result, separators=(",", ":"))
    q_pos = line.index('"queries"')
    for key in ("floors_skipped_scale_mismatch", "floors_skipped_unreadable",
                "inflated_names", "n_inflated", "n_queries", "value"):
        assert line.index(f'"{key}"') > q_pos, key
    # value is last: it must survive any tail-window clip
    assert line.rstrip("}").endswith('"value":3.0')


def test_stdout_artifact_stays_inside_size_budget():
    """BENCH_r12's stdout line grew past the driver's capture window (the
    bulky `runs` map rode stdout) and the round-over-round PERF comparison
    went blind (`prev_bench_ok: false`, zero per-query comparisons).  Pin
    the fix: at 250 queries — well past the current 147-query headline —
    the stdout line must stay small (runs/inflated details on stderr),
    and the detail artifact must carry what moved off stdout."""
    names = [f"q_some_longish_query_name_{i:03d}" for i in range(250)]
    timings = {n: 123.456 for n in names}
    runs = {n: [456.789, 123.456] for n in names}
    inflated = {n: {"suite": 123.456, "floor": 1.234} for n in names}
    result, detail = build_artifacts(
        timings, runs, errors={}, inflated=inflated,
        floors_skipped=None, floors_unreadable=None, sf=0.1,
    )
    line = json.dumps(result, separators=(",", ":"))
    # worst case (~40 B/query map + EVERY query flagged by name): stays
    # under 20 KB, vs ~60 KB for the old runs-on-stdout form at this size
    assert len(line) < 20_000, len(line)
    assert "runs" not in result
    assert "inflated" not in result, "floor details belong on stderr"
    assert result["inflated_names"] == sorted(names)
    assert result["n_queries"] == 250
    # the format version rides the clip-surviving scalar tail
    assert result["fmt"] == 2
    assert list(result)[-3:] == ["n_queries", "fmt", "value"]
    assert detail["runs"] == runs and detail["inflated"] == inflated
    # the realistic shape (147 queries, handful of flags) stays ~6 KB
    few = dict(list(timings.items())[:147])
    slim, _ = build_artifacts(
        few, {n: [1.0, 1.0] for n in few}, errors={},
        inflated={n: {"suite": 9.0, "floor": 1.0} for n in names[:7]},
        floors_skipped=None, floors_unreadable=None, sf=0.1,
    )
    assert len(json.dumps(slim, separators=(",", ":"))) < 8_192
