"""Audio spectrogram (multimodal.audio_spectrogram): real rFFT dominant
bin + exact frame energy over the integer square-tone fixture, stereo
de-interleaving, quarantine rows, Parseval cross-check, and DuckDB
oracle-law parity (oracle.spectrogram_law_sql)."""

from __future__ import annotations

import struct

import pytest

from etl_scripts_spark import oracle
from etl_scripts_spark.operators.multimodal import (
    audio_spectrogram,
    decode_wav_pcm,
    payload_source,
    synthetic_square_wav_bytes,
)


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id bigint")


def _square_wavs(ids):
    return payload_source(ids, "doc_id", synthetic_square_wav_bytes)


def _law(doc_id: int):
    rate = 8000 + (doc_id % 4) * 4000
    k = 3 + doc_id % 60
    return [
        (doc_id, rate, f, k, 256 * 12000 * 12000)
        for f in range(1 + doc_id % 4)
    ]


def test_square_tone_law(spark):
    ids = list(range(31))
    got = sorted(
        tuple(r)
        for r in audio_spectrogram(_square_wavs(_ids(spark, ids))).collect()
    )
    want = sorted(row for i in ids for row in _law(i))
    assert got == want


def test_parseval_ties_energy_to_spectrum():
    """The emitted time-domain energy equals sum|X|^2 / N of the very
    spectrum the operator searches — a broken transform breaks the tie."""
    import numpy as np

    rate, channels, s = decode_wav_pcm(synthetic_square_wav_bytes(7))
    frame = s[:256].astype(np.int64)
    mag2 = np.abs(np.fft.rfft(frame)) ** 2
    # rfft folds the conjugate half: interior bins count twice
    spectral = (mag2[0] + mag2[-1] + 2 * mag2[1:-1].sum()) / 256
    assert abs(spectral - (frame * frame).sum()) < 1e-3 * spectral


def _wav(channels: int, interleaved: bytes, rate: int = 8000) -> bytes:
    byte_rate = (rate * 2 * channels) % 2**32  # field is u32; decode ignores it
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate, 2 * channels, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(interleaved)) + interleaved
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_stereo_uses_channel_zero(spark):
    import numpy as np

    i = np.arange(256, dtype=np.int64)
    ch0 = np.where((5 * i) % 256 < 128, 12000, -12000)
    ch1 = np.where((20 * i) % 256 < 128, 12000, -12000)
    inter = np.empty(512, dtype="<i2")
    inter[0::2], inter[1::2] = ch0, ch1
    df = spark.createDataFrame([(1, bytearray(_wav(2, inter.tobytes())))], "doc_id bigint, payload binary")
    rows = audio_spectrogram(df).collect()
    assert [r["dominant_bin"] for r in rows] == [5]


def test_quarantine_rows(spark):
    short = _wav(1, b"\x00\x00" * 100)  # < one frame
    # a parseable header with a rate past INT32 is corrupt, not a crash:
    # it must quarantine like any undecodable payload (the Int32 Arrow
    # conversion would otherwise kill the whole task)
    huge_rate = _wav(1, b"\x00\x00" * 256, rate=3_000_000_000)
    df = spark.createDataFrame(
        [(1, bytearray(b"not a wav")), (2, bytearray(short)), (3, bytearray(huge_rate))],
        "doc_id bigint, payload binary",
    )
    rows = sorted(tuple(r) for r in audio_spectrogram(df).collect())
    assert rows == [
        (1, None, None, None, None),
        (2, None, None, None, None),
        (3, None, None, None, None),
    ]


def test_oracle_law_parity(spark):
    import duckdb

    from tests.parity import compare

    ids = list(range(64, 131))
    spark_pdf = audio_spectrogram(_square_wavs(_ids(spark, ids))).toPandas()
    con = duckdb.connect()
    vals = ", ".join(f"({i})" for i in ids)
    sql = oracle.spectrogram_law_sql(f"SELECT * FROM (VALUES {vals}) t(doc_id)")
    oracle_pdf = con.execute(sql).fetchdf()
    problems = compare(spark_pdf, oracle_pdf)
    assert problems == [], problems
