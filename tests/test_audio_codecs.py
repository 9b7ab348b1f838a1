"""Compressed-audio codec pins: G.711 tables bit-exact vs an
independent implementation (stdlib audioop where present), IMA ADPCM
vs a textbook reference loop over random blocks, and the WAV dispatch
error boundaries."""

from __future__ import annotations

import numpy as np
import pytest

from minoan_athenaeum_spark.operators.audio_codecs import (
    ALAW_TABLE,
    IMA_INDEX_TABLE,
    IMA_STEP_TABLE,
    MULAW_TABLE,
    decode_ima_adpcm,
    unpack_nibbles,
)
from minoan_athenaeum_spark.operators.multimodal import (
    decode_wav,
    encode_wav_raw,
)


def test_g711_tables_match_audioop():
    audioop = pytest.importorskip("audioop")  # removed in Python 3.13
    allb = bytes(range(256))
    assert np.array_equal(
        np.frombuffer(audioop.ulaw2lin(allb, 2), dtype="<i2"), MULAW_TABLE
    )
    assert np.array_equal(
        np.frombuffer(audioop.alaw2lin(allb, 2), dtype="<i2"), ALAW_TABLE
    )


def test_g711_known_codewords():
    # μ-law: 0xFF is +0, 0x7F is -0, 0x80 is the most negative value.
    assert MULAW_TABLE[0xFF] == 0
    assert MULAW_TABLE[0x7F] == 0
    assert MULAW_TABLE[0x00] == -32124  # max negative magnitude
    assert MULAW_TABLE[0x80] == 32124
    # A-law: inverted sign convention; 0x55 decodes to -8 (quiet).
    assert ALAW_TABLE[0x55] == -8
    assert ALAW_TABLE[0xD5] == 8
    assert int(np.abs(ALAW_TABLE.astype(np.int64)).max()) == 32256


def test_unpack_nibbles_low_first():
    assert list(unpack_nibbles(b"\x2f\xa0")) == [0xF, 0x2, 0x0, 0xA]


def _reference_decode_block(block: bytes) -> list[int]:
    """Textbook IMA ADPCM loop, written independently of the operator."""
    pred = int.from_bytes(block[0:2], "little", signed=True)
    idx = block[2]
    out = [pred]
    nibs = []
    for b in block[4:]:
        nibs += [b & 15, b >> 4]
    for n in nibs:
        step = int(IMA_STEP_TABLE[idx])
        diff = step >> 3
        if n & 4:
            diff += step
        if n & 2:
            diff += step >> 1
        if n & 1:
            diff += step >> 2
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(IMA_INDEX_TABLE[n & 7])))
        out.append(pred)
    return out


def test_ima_adpcm_random_blocks_match_reference():
    rng = np.random.default_rng(7)
    for _ in range(25):
        nblocks = int(rng.integers(1, 4))
        data, expect = b"", []
        for _k in range(nblocks):
            pred = int(rng.integers(-32768, 32768))
            idx = int(rng.integers(0, 89))
            body = bytes(rng.integers(0, 256, 32, dtype=np.uint8))
            blk = (
                pred.to_bytes(2, "little", signed=True)
                + bytes([idx, 0])
                + body
            )
            data += blk
            expect += _reference_decode_block(blk)
        assert list(decode_ima_adpcm(data, 36)) == expect


def test_ima_adpcm_saturation_clamps():
    # Start at max predictor with the largest step: positive deltas
    # must clamp at 32767, then negative deltas walk back down.
    blk = (32767).to_bytes(2, "little", signed=True) + bytes([88, 0]) + (
        b"\x77" * 4 + b"\xff" * 4
    )
    out = decode_ima_adpcm(blk, len(blk))
    assert out[1] == 32767  # clamped immediately
    assert out[-1] < 32767
    assert all(-32768 <= int(x) <= 32767 for x in out)


def test_wav_dispatch_roundtrip_and_errors():
    raw = bytes(range(64))
    mu = encode_wav_raw(raw, 7, 1, 8000, 8, 1)
    rate, s = decode_wav(mu)
    assert rate == 8000 and s.shape == (64, 1)
    assert np.array_equal(s[:, 0], MULAW_TABLE[np.frombuffer(raw, np.uint8)])
    al = encode_wav_raw(raw, 6, 1, 8000, 8, 1)
    _, sa = decode_wav(al)
    assert np.array_equal(sa[:, 0], ALAW_TABLE[np.frombuffer(raw, np.uint8)])
    # Unknown format tag raises with the tag named (MS ADPCM, tag 2,
    # decodes for real now — see test_ms_adpcm_matches_reference_loop).
    bad = encode_wav_raw(raw, 85, 1, 8000, 8, 1)  # MP3-in-WAV: unsupported
    with pytest.raises(NotImplementedError, match="format tag 85"):
        decode_wav(bad)
    # >2-channel ADPCM decodes for real now (see
    # test_multichannel_adpcm_matches_reference): a 3-channel stream
    # with zeroed headers/payload decodes to silence, shape (_, 3).
    adp = encode_wav_raw(b"\x00" * 36, 0x11, 3, 8000, 4, 36)
    _, s3 = decode_wav(adp)
    assert s3.shape[1] == 3 and np.all(s3 == 0)
    # Truncated block header detected.
    short = encode_wav_raw(b"\x00\x01\x02", 0x11, 1, 8000, 4, 36)
    with pytest.raises(ValueError, match="truncated IMA ADPCM"):
        decode_wav(short)


def test_stereo_ima_adpcm_matches_reference_loop():
    """Stereo blocks (per-channel headers + 4-byte interleaved groups)
    must decode each channel exactly as the mono state machine run over
    that channel's nibble subsequence."""
    import numpy as np

    from minoan_athenaeum_spark.operators.audio_codecs import (
        decode_ima_adpcm,
        decode_ima_adpcm_multi,
    )
    from minoan_athenaeum_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
    )

    rng = np.random.RandomState(19)
    block_align = 8 + 16  # per-channel headers + 2 interleaved groups
    blocks = []
    mono_l, mono_r = [], []
    for _ in range(5):
        hdrs = b""
        states = []
        for _c in range(2):
            pred = int(rng.randint(-2000, 2000))
            idx = int(rng.randint(0, 89))
            states.append((pred, idx))
            hdrs += pred.to_bytes(2, "little", signed=True) + bytes([idx, 0])
        body = rng.randint(0, 256, size=16, dtype=np.uint8).tobytes()
        blocks.append(hdrs + body)
        groups = np.frombuffer(body, dtype=np.uint8).reshape(-1, 2, 4)
        for c, acc in ((0, mono_l), (1, mono_r)):
            chan = groups[:, c, :].reshape(-1).tobytes()
            mono_block = (
                states[c][0].to_bytes(2, "little", signed=True)
                + bytes([states[c][1], 0])
                + chan
            )
            acc.append(decode_ima_adpcm(mono_block, 4 + len(chan)))
    data = b"".join(blocks)
    out = decode_ima_adpcm_multi(data, block_align, 2)
    want_l = np.concatenate(mono_l)
    want_r = np.concatenate(mono_r)
    assert (out[:, 0] == want_l).all()
    assert (out[:, 1] == want_r).all()

    # and through the WAV container dispatch
    payload = encode_wav_raw(data, 0x11, 2, 8000, 4, block_align)
    rate, arr = decode_wav(payload)
    assert rate == 8000 and arr.shape == out.shape and (arr == out).all()


def test_ms_adpcm_matches_reference_loop():
    """Independent spec-derived reference loop vs the implementation,
    over random blocks (predictor indices, deltas, histories, codes) +
    clamp/floor edges + container dispatch."""
    import numpy as np

    from minoan_athenaeum_spark.operators.audio_codecs import (
        decode_ms_adpcm,
    )
    from minoan_athenaeum_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
    )

    COEF = [(256, 0), (512, -256), (0, 0), (192, 64),
            (240, 0), (460, -208), (392, -232)]
    ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
             768, 614, 512, 409, 307, 230, 230, 230]

    def reference(block):
        pi = block[0]
        c1, c2 = COEF[pi]
        delta = int.from_bytes(block[1:3], "little", signed=True)
        s1 = int.from_bytes(block[3:5], "little", signed=True)
        s2 = int.from_bytes(block[5:7], "little", signed=True)
        out = [s2, s1]
        for byte in block[7:]:
            for nib in (byte >> 4, byte & 15):
                c = nib - 16 if nib >= 8 else nib
                pred = ((s1 * c1 + s2 * c2) >> 8) + c * delta
                pred = max(-32768, min(32767, pred))
                s2, s1 = s1, pred
                delta = max(16, (ADAPT[nib] * delta) >> 8)
                out.append(pred)
        return out

    rng = np.random.RandomState(29)
    block_align = 7 + 10
    blocks = []
    want = []
    for i in range(6):
        hdr = bytes([i % 7]) + int(rng.randint(16, 4000)).to_bytes(2, "little") \
            + int(rng.randint(-30000, 30000)).to_bytes(2, "little", signed=True) \
            + int(rng.randint(-30000, 30000)).to_bytes(2, "little", signed=True)
        body = rng.randint(0, 256, size=10, dtype=np.uint8).tobytes()
        blocks.append(hdr + body)
        want.extend(reference(hdr + body))
    data = b"".join(blocks)
    got = decode_ms_adpcm(data, block_align)
    assert got.tolist() == want

    rate, arr = decode_wav(encode_wav_raw(data, 2, 1, 8000, 4, block_align))
    assert rate == 8000 and arr[:, 0].tolist() == want

    import pytest

    with pytest.raises(ValueError, match="predictor index"):
        decode_ms_adpcm(bytes([9]) + b"\x00" * 16, block_align)
    with pytest.raises(ValueError, match="truncated MS ADPCM"):
        decode_ms_adpcm(b"\x00\x01\x02", 17)


def test_multichannel_adpcm_matches_reference():
    """3-channel IMA and 3-channel MS ADPCM decode each channel exactly
    as an independent per-channel reference run — the generalization
    that closed the >2-channel boundary."""
    import numpy as np

    from minoan_athenaeum_spark.operators.audio_codecs import (
        MS_ADPCM_ADAPT,
        MS_ADPCM_COEFFS,
        decode_ima_adpcm,
        decode_ima_adpcm_multi,
        decode_ms_adpcm_multi,
    )
    from minoan_athenaeum_spark.operators.multimodal import (
        decode_wav,
        encode_wav_raw,
    )

    rng = np.random.RandomState(23)
    nch = 3

    # ---- IMA: per-channel headers + nch×4-byte interleaved groups
    block_align = 4 * nch + 4 * nch * 2  # headers + 2 groups
    blocks, refs = [], [[] for _ in range(nch)]
    for _ in range(4):
        hdrs, states = b"", []
        for _c in range(nch):
            pred = int(rng.randint(-3000, 3000))
            idx = int(rng.randint(0, 89))
            states.append((pred, idx))
            hdrs += pred.to_bytes(2, "little", signed=True) + bytes([idx, 0])
        body = rng.randint(0, 256, size=4 * nch * 2, dtype=np.uint8).tobytes()
        blocks.append(hdrs + body)
        groups = np.frombuffer(body, dtype=np.uint8).reshape(-1, nch, 4)
        for c in range(nch):
            chan = groups[:, c, :].reshape(-1).tobytes()
            mono_block = (
                states[c][0].to_bytes(2, "little", signed=True)
                + bytes([states[c][1], 0])
                + chan
            )
            refs[c].append(decode_ima_adpcm(mono_block, 4 + len(chan)))
    data = b"".join(blocks)
    out = decode_ima_adpcm_multi(data, block_align, nch)
    for c in range(nch):
        assert (out[:, c] == np.concatenate(refs[c])).all()
    rate, arr = decode_wav(encode_wav_raw(data, 0x11, nch, 8000, 4, block_align))
    assert rate == 8000 and (arr == out).all()

    # ---- MS: channel-wise headers, round-robin nibbles
    def ms_reference(preds, deltas, s1s, s2s, nibbles):
        outs = [[int(np.int16(s2s[c])), int(np.int16(s1s[c]))] for c in range(nch)]
        d, a, b = list(deltas), list(s1s), list(s2s)
        for t, nib in enumerate(nibbles):
            c = t % nch
            c1, c2 = MS_ADPCM_COEFFS[preds[c]]
            code = nib - 16 if nib >= 8 else nib
            pred = ((a[c] * c1 + b[c] * c2) >> 8) + code * d[c]
            pred = max(-32768, min(32767, pred))
            b[c], a[c] = a[c], pred
            d[c] = max(16, (int(MS_ADPCM_ADAPT[nib]) * d[c]) >> 8)
            outs[c].append(pred)
        return outs

    n_body = 9  # 18 nibbles = 6 samples/channel
    block_align = 7 * nch + n_body
    blocks, want = [], [[] for _ in range(nch)]
    for _ in range(4):
        preds = [int(rng.randint(0, 7)) for _ in range(nch)]
        deltas = [int(rng.randint(16, 4000)) for _ in range(nch)]
        s1s = [int(rng.randint(-20000, 20000)) for _ in range(nch)]
        s2s = [int(rng.randint(-20000, 20000)) for _ in range(nch)]
        body = rng.randint(0, 256, size=n_body, dtype=np.uint8)
        blk = bytes(preds)
        for vals in (deltas, s1s, s2s):
            blk += b"".join(v.to_bytes(2, "little", signed=True) for v in vals)
        blk += body.tobytes()
        blocks.append(blk)
        nibbles = []
        for byte in body:
            nibbles += [int(byte) >> 4, int(byte) & 15]
        outs = ms_reference(preds, deltas, s1s, s2s, nibbles)
        for c in range(nch):
            want[c].append(np.array(outs[c], dtype=np.int16))
    data = b"".join(blocks)
    out = decode_ms_adpcm_multi(data, block_align, nch)
    for c in range(nch):
        w = np.concatenate(want[c])
        n = out.shape[0]
        assert (out[:, c] == w[:n]).all()
    rate, arr = decode_wav(encode_wav_raw(data, 2, nch, 8000, 4, block_align))
    assert rate == 8000 and (arr == out).all()
