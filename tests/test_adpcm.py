"""IMA ADPCM decode (operators/multimodal.py decode_ima_adpcm_block +
the format-17 branch of decode_wav_pcm): hand-computed adaptation
vectors, clamp laws, the closed-form zero-magnitude fixture, the full
distributed stats path, and decoder totality on garbage."""

from __future__ import annotations

import struct

import pytest

from etl_scripts_spark.operators.multimodal import (
    decode_ima_adpcm_block,
    decode_wav_audio,
    decode_wav_pcm,
    synthetic_adpcm_wav_bytes,
)


def _block(pred, idx, nibbles):
    assert len(nibbles) % 2 == 0
    data = bytes(
        nibbles[i] | (nibbles[i + 1] << 4) for i in range(0, len(nibbles), 2)
    )
    return struct.pack("<hBB", pred, idx, 0) + data


def test_hand_computed_adaptation_vector():
    """P=0, idx=0 (step 7): nib 7 → +11 (idx→8, step 16); nib 3 → +14
    (idx→7, step 14); nib 15 → −25 (idx→15, step 31); nib 0 → +3."""
    assert decode_ima_adpcm_block(_block(0, 0, [7, 3, 15, 0])) == [0, 11, 25, 0, 3]


def test_header_predictor_is_first_sample_and_sign_nibble():
    assert decode_ima_adpcm_block(_block(-123, 0, [8, 0])) == [-123, -123, -123]


def test_predictor_clamps_to_int16():
    # idx 88 → step 32767; nib 4 → diff = 4095 + 32767, clamps both ways
    assert decode_ima_adpcm_block(_block(32000, 88, [4, 12]))[1:] == [32767, -4095]
    assert decode_ima_adpcm_block(_block(-32000, 88, [12, 4]))[1] == -32768


def test_index_clamps_at_both_ends():
    # nib 0 at idx 0: index would go to -1, clamps to 0 → step stays 7,
    # diff stays 0 forever (the fixture's whole law)
    assert decode_ima_adpcm_block(_block(5, 0, [0, 0, 0, 0])) == [5] * 5
    # nib 7 at idx 88: index would go to 96, clamps to 88
    out = decode_ima_adpcm_block(_block(0, 88, [7, 7]))
    assert out is not None and len(out) == 3


def test_bad_step_index_rejected():
    assert decode_ima_adpcm_block(_block(0, 89, [0, 0])) is None


def test_fixture_closed_form_decode():
    """Every sample of block b equals P(b) = (131·d + 1717·b) mod 65536
    − 32768; 17 samples per block, 2 + d % 3 blocks, rate 8000."""
    for d in (0, 1, 5, 77, 12345):
        rate, samples = decode_wav_audio(synthetic_adpcm_wav_bytes(d))
        k = 2 + d % 3
        assert rate == 8000 and len(samples) == 17 * k
        for b in range(k):
            p = ((d * 131 + b * 1717) % 65536) - 32768
            assert list(samples[b * 17 : (b + 1) * 17]) == [p] * 17


def test_malformed_adpcm_rejected():
    good = synthetic_adpcm_wav_bytes(3)
    # stereo flag on a MONO-aligned stream (block_align 12 < the stereo
    # minimum 16) — the channel/align consistency guard rejects it
    stereo = bytearray(good)
    assert stereo[22] == 1
    stereo[22] = 2
    assert decode_wav_pcm(bytes(stereo)) is None
    # block_align < 5 can't hold a header
    tiny = bytearray(good)
    tiny[32] = 4
    assert decode_wav_pcm(bytes(tiny)) is None
    # a trailing partial block is ignored, full blocks still decode
    truncated = good[:-3]
    dec = decode_wav_pcm(truncated)
    k = 2 + 3 % 3
    assert dec is not None and len(dec[2]) == 17 * (k - 1)


def test_decoder_totality_on_garbage():
    import random

    rng = random.Random(99)
    base = synthetic_adpcm_wav_bytes(7)
    for trial in range(60):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        out = decode_wav_pcm(bytes(buf))  # None or samples — never a raise
        assert out is None or len(out) == 3


def test_distributed_stats_match_closed_form(spark):
    """The full Arrow path: fixture payloads → REAL ADPCM decode →
    per-file stats, value-exact vs doc_id arithmetic."""
    from etl_scripts_spark.operators.multimodal import (
        decode_audio_stats,
        payload_source,
        synthetic_adpcm_wav_bytes,
    )

    docs = spark.range(40).selectExpr("id AS doc_id")
    got = {
        r["doc_id"]: (r["sample_rate"], r["n_samples"], r["sum_samples"], r["peak"])
        for r in decode_audio_stats(
            payload_source(docs, "doc_id", synthetic_adpcm_wav_bytes)
        ).collect()
    }
    for d in range(40):
        k = 2 + d % 3
        preds = [((d * 131 + b * 1717) % 65536) - 32768 for b in range(k)]
        assert got[d] == (8000, 17 * k, 17 * sum(preds), max(abs(p) for p in preds))


def test_stereo_hand_interleaving():
    """Group-pair law: 4 bytes of L nibbles then 4 of R, the two 8-sample
    runs interleaved samplewise; per-channel adaptive state independent."""
    import struct as _st

    from etl_scripts_spark.operators.multimodal import decode_ima_adpcm_stereo_block

    # L: pred 0 idx 0, nibbles 7,3,15,0 then 0s; R: pred 100 idx 0, all 0s
    l_n = [7, 3, 15, 0, 0, 0, 0, 0]
    r_n = [0] * 8
    pack = lambda ns: bytes(ns[i] | (ns[i + 1] << 4) for i in range(0, 8, 2))
    blk = (
        _st.pack("<hBB", 0, 0, 0)
        + _st.pack("<hBB", 100, 0, 0)
        + pack(l_n)
        + pack(r_n)
    )
    out = decode_ima_adpcm_stereo_block(blk)
    ls, rs = out[0::2], out[1::2]
    # L replays the mono hand vector; R stays flat at its predictor
    assert ls[:5] == [0, 11, 25, 0, 3]
    assert rs == [100] * 9


def test_stereo_fixture_closed_form():
    from etl_scripts_spark.operators.multimodal import synthetic_adpcm_wav_bytes

    for d in (0, 3, 8, 101):
        dec = decode_wav_pcm(synthetic_adpcm_wav_bytes(d, channels=2))
        assert dec is not None
        rate, ch, s = dec
        k = 2 + d % 3
        assert (rate, ch, len(s)) == (8000, 2, 18 * k)
        for b in range(k):
            pl = ((d * 131 + b * 1717) % 65536) - 32768
            pr = ((d * 131 + b * 1717 + 4999) % 65536) - 32768
            seg = s[b * 18 : (b + 1) * 18]
            assert list(seg[0::2]) == [pl] * 9 and list(seg[1::2]) == [pr] * 9


def test_stereo_degenerate_blocks_rejected():
    from etl_scripts_spark.operators.multimodal import decode_ima_adpcm_stereo_block

    assert decode_ima_adpcm_stereo_block(b"\x00" * 7) is None  # short
    assert decode_ima_adpcm_stereo_block(b"\x00" * 12) is None  # ragged group
    bad_idx = b"\x00\x00\x59\x00" + b"\x00" * 4 + b"\x00" * 8
    assert decode_ima_adpcm_stereo_block(bad_idx) is None  # idx 89
