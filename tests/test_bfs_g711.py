"""BFS shortest-path distances (graph.bfs_distances) and G.711 μ-law /
A-law audio decode (multimodal decode_wav_pcm formats 6/7): hand-built
graphs + DuckDB recursive-CTE parity; ITU-T known vectors + closed-form
fixture law through the distributed Arrow stats stage."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_scripts_spark import oracle
from etl_scripts_spark.operators.graph import bfs_distances
from etl_scripts_spark.operators.multimodal import (
    _g711_expand_alaw,
    _g711_expand_ulaw,
    _g711_tables,
    decode_audio_stats,
    decode_wav_pcm,
    payload_source,
    synthetic_g711_wav_bytes,
)
from tests.parity import compare, duckdb_con
from tests.conftest import SF_SMALL


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def test_bfs_chain_and_cutoff(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r.node: r.dist for r in bfs_distances(e, _seeds(spark, [1]), max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 is beyond max_hops


def test_bfs_cycle_terminates_and_min_distance(spark):
    # cycle 1->2->3->1 plus shortcut 1->3: dist(3) must be 1, not 2
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (1, 3)])
    got = {r.node: r.dist for r in bfs_distances(e, _seeds(spark, [1]), max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 1}


def test_bfs_multi_source_takes_nearest(spark):
    e = _edges(spark, [(1, 2), (2, 3), (9, 3)])
    got = {r.node: r.dist for r in bfs_distances(e, _seeds(spark, [1, 9]), max_hops=5).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 1}


def test_bfs_undirected_and_isolated_seed(spark):
    e = _edges(spark, [(2, 1), (3, 2)])
    got = {r.node: r.dist for r in bfs_distances(
        e, _seeds(spark, [1, 77]), max_hops=5, directed=False
    ).collect()}
    # 77 has no edges: present at dist 0 only
    assert got == {1: 0, 77: 0, 2: 1, 3: 2}
    # directed form cannot leave node 1
    d = {r.node: r.dist for r in bfs_distances(e, _seeds(spark, [1]), max_hops=5).collect()}
    assert d == {1: 0}


def test_bfs_guard(spark):
    e = _edges(spark, [(1, 2)])
    with pytest.raises(ValueError):
        bfs_distances(e, _seeds(spark, [1]), max_hops=-1)


def test_bfs_null_endpoints_dropped(spark):
    # NULL dst must not be "re-discovered" every round (null-unsafe
    # anti-join) — NULLs are not node ids and are dropped up front
    e = spark.createDataFrame(
        [(1, 2), (1, None), (2, None), (None, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (None,)], "node long")
    got = {r.node: r.dist for r in bfs_distances(e, seeds, max_hops=3).collect()}
    assert got == {1: 0, 2: 1}


def test_bfs_parity_with_duckdb_recursive_cte(spark):
    """Seeded pseudo-random graph, both engines from the same edge law."""
    rng = np.random.RandomState(11)
    pairs = [(int(a), int(b)) for a, b in rng.randint(0, 120, size=(400, 2)) if a != b]
    got = bfs_distances(
        _edges(spark, pairs), _seeds(spark, [0, 1]), max_hops=4
    ).toPandas()
    con = duckdb_con(SF_SMALL)
    vals = ", ".join(f"({a}, {b})" for a, b in pairs)
    edges_src = f"SELECT * FROM (VALUES {vals}) t(src, dst)"
    want = con.execute(
        oracle.bfs_distances_sql(edges_src, "SELECT unnest([0, 1]) AS node", 4)
    ).fetchdf()
    assert len(want) > 10
    assert compare(got, want) == []


# ---------------------------------------------------------------- G.711


def test_ulaw_known_vectors():
    t = _g711_tables()[7]
    assert t[0xFF] == 0          # encoded positive zero
    assert t[0x7F] == 0          # encoded negative zero
    assert t[0x00] == -32124     # negative max (ITU-T G.711 table)
    assert t[0x80] == 32124      # positive max
    # mirror law: flipping the sign bit of the COMPLEMENTED code negates
    for b in range(128):
        assert t[b] == -t[b ^ 0x80] or (t[b] == 0 and t[b ^ 0x80] == 0)


def test_alaw_known_vectors():
    t = _g711_tables()[6]
    assert t[0x55] == -8         # A-law has no zero: smallest negative
    assert t[0xD5] == 8          # smallest positive
    assert t[0x2A] == -32256     # negative max
    assert t[0xAA] == 32256      # positive max
    for b in range(128):
        assert t[b] == -t[b ^ 0x80]


def test_g711_tables_match_scalar_law():
    tu, ta = _g711_tables()[7], _g711_tables()[6]
    for b in range(256):
        assert tu[b] == _g711_expand_ulaw(b)
        assert ta[b] == _g711_expand_alaw(b)


def test_g711_wav_decode_closed_form():
    for law in (6, 7):
        for doc_id in (0, 5, 131):
            dec = decode_wav_pcm(synthetic_g711_wav_bytes(doc_id, law))
            assert dec is not None
            rate, ch, s = dec
            assert (rate, ch) == (8000, 1)
            n = 128 + doc_id % 128
            t = _g711_tables()[law]
            want = t[np.array([(doc_id * 37 + i * 11) % 256 for i in range(n)])]
            assert np.array_equal(s, want)


def test_g711_stereo_and_bad_bits():
    data = bytes(range(8))
    fmt = struct.pack("<HHIIHH", 7, 2, 8000, 16000, 2, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    dec = decode_wav_pcm(wav)
    assert dec is not None and dec[1] == 2 and len(dec[2]) == 8
    # 16-bit G.711 is malformed -> None
    fmt16 = struct.pack("<HHIIHH", 7, 1, 8000, 16000, 2, 16)
    body16 = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt16)) + fmt16
        + b"data" + struct.pack("<I", len(data)) + data
    )
    assert decode_wav_pcm(b"RIFF" + struct.pack("<I", len(body16)) + body16) is None


def test_g711_distributed_stats_match_law(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = decode_audio_stats(
        payload_source(ids, "doc_id", lambda d: synthetic_g711_wav_bytes(d, 7))
    ).collect()
    assert len(rows) == 40
    t = _g711_tables()[7]
    for r in rows:
        n = 128 + r.doc_id % 128
        want = t[np.array([(r.doc_id * 37 + i * 11) % 256 for i in range(n)])].astype(np.int64)
        assert r.n_samples == n
        assert r.sum_samples == int(want.sum())
        assert r.peak == int(np.abs(want).max())
        assert r.sample_rate == 8000
