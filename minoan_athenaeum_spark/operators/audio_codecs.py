"""Compressed-audio decoders, pure numpy — closing the last declared
codec boundary (reference scope: `/root/reference/README.md` has no
audio support at all; this is extension surface for the multimodal
training-data pipeline, see COVERAGE.md).

Three genuinely compressed formats decode for real:

- **G.711 μ-law** (WAV format tag 7): 8-bit logarithmic companding,
  the telephony standard. Decode is a closed-form per-byte expression
  — vectorized as a 256-entry table lookup.
- **G.711 A-law** (WAV format tag 6): the E1 companding variant
  (XOR 0x55 framing, piecewise exponent).
- **IMA/DVI ADPCM** (WAV format tag 0x11): 4-bit differential coding
  with a per-block predictor — a *sequential* decoder (each sample
  feeds the next prediction), implemented as a numpy loop over nibble
  positions within a block (samples across blocks/docs stay
  vectorized in the Arrow batch).

All three are bit-exactly specified, so the DuckDB oracles recompute
the decode in SQL (μ/A-law as list_transform lambdas; ADPCM as a
recursive-CTE fold) and certify the decoder, not just the plumbing.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------- G.711


def _mulaw_decode_table() -> np.ndarray:
    """256-entry int16 lookup: μ-law byte → linear PCM sample (G.711:
    complement, 3-bit exponent, 4-bit mantissa, bias 0x84)."""
    codes = np.arange(256, dtype=np.int32)
    u = ~codes & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    magnitude = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return np.where(sign != 0, -magnitude, magnitude).astype(np.int16)


def _alaw_decode_table() -> np.ndarray:
    """256-entry int16 lookup: A-law byte → linear PCM sample (G.711:
    XOR 0x55, exponent 0 is linear, exponents 1-7 shift with the
    0x108 bias)."""
    codes = np.arange(256, dtype=np.int32)
    a = codes ^ 0x55
    sign = a & 0x80
    exponent = (a >> 4) & 0x07
    mantissa = a & 0x0F
    magnitude = np.where(
        exponent == 0,
        (mantissa << 4) + 8,
        ((mantissa << 4) + 0x108) << np.maximum(exponent - 1, 0),
    )
    # A-law's sign convention is INVERTED vs μ-law: MSB set ⇒ positive.
    return np.where(sign != 0, magnitude, -magnitude).astype(np.int16)


MULAW_TABLE = _mulaw_decode_table()
ALAW_TABLE = _alaw_decode_table()


def decode_mulaw(data: bytes) -> np.ndarray:
    """μ-law bytes → int16 samples (vectorized table lookup)."""
    return MULAW_TABLE[np.frombuffer(data, dtype=np.uint8)]


def decode_alaw(data: bytes) -> np.ndarray:
    """A-law bytes → int16 samples (vectorized table lookup)."""
    return ALAW_TABLE[np.frombuffer(data, dtype=np.uint8)]


# ------------------------------------------------------------ IMA ADPCM

# IMA/DVI ADPCM step-size table (89 entries) and index-adjust table —
# from the IMA ADPCM reference algorithm (public spec).
IMA_STEP_TABLE = np.array(
    [
        7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
        34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
        143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408,
        449, 494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282,
        1411, 1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327,
        3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630,
        9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350,
        22385, 24623, 27086, 29794, 32767,
    ],
    dtype=np.int32,
)
IMA_INDEX_TABLE = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8],
    dtype=np.int32,
)


def decode_ima_adpcm_block(
    nibbles: np.ndarray, predictor: int, index: int
) -> np.ndarray:
    """Decode one mono IMA ADPCM block body: ``nibbles`` (uint8 values
    0..15, already unpacked low-nibble-first) against the starting
    ``predictor``/``index`` state. Returns int16 samples, one per
    nibble (the block-header predictor sample itself is emitted by the
    caller). Sequential by construction — each step's quantizer step
    size depends on the previous sample's index adjustment."""
    out = np.empty(len(nibbles), dtype=np.int16)
    pred = int(predictor)
    idx = int(index)
    step_t = IMA_STEP_TABLE
    idx_t = IMA_INDEX_TABLE
    for i, nib in enumerate(nibbles):
        step = int(step_t[idx])
        diff = step >> 3
        if nib & 4:
            diff += step
        if nib & 2:
            diff += step >> 1
        if nib & 1:
            diff += step >> 2
        if nib & 8:
            pred -= diff
        else:
            pred += diff
        if pred > 32767:
            pred = 32767
        elif pred < -32768:
            pred = -32768
        idx += int(idx_t[nib])
        if idx < 0:
            idx = 0
        elif idx > 88:
            idx = 88
        out[i] = pred
    return out


def unpack_nibbles(data: bytes) -> np.ndarray:
    """ADPCM byte stream → uint8 nibble stream, low nibble first (the
    IMA WAV packing order)."""
    b = np.frombuffer(data, dtype=np.uint8)
    out = np.empty(2 * len(b), dtype=np.uint8)
    out[0::2] = b & 0x0F
    out[1::2] = b >> 4
    return out


def decode_ima_adpcm(data: bytes, block_align: int) -> np.ndarray:
    """Decode a mono IMA ADPCM 'data' chunk: per-block 4-byte header
    (int16 predictor, uint8 step index, reserved) then packed nibbles.
    Each block emits its header predictor as the first sample followed
    by one sample per nibble."""
    if block_align < 4:
        raise ValueError(f"IMA ADPCM block_align {block_align} < 4")
    pieces = []
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < 4:
            raise ValueError("truncated IMA ADPCM block header")
        predictor = int.from_bytes(block[0:2], "little", signed=True)
        index = block[2]
        if index > 88:
            raise ValueError(f"IMA ADPCM step index {index} > 88")
        nibbles = unpack_nibbles(block[4:])
        pieces.append(np.array([predictor], dtype=np.int16))
        pieces.append(decode_ima_adpcm_block(nibbles, predictor, index))
    return np.concatenate(pieces) if pieces else np.empty(0, np.int16)


MS_ADPCM_COEFFS = [
    (256, 0), (512, -256), (0, 0), (192, 64),
    (240, 0), (460, -208), (392, -232),
]
MS_ADPCM_ADAPT = np.array(
    [230, 230, 230, 230, 307, 409, 512, 614,
     768, 614, 512, 409, 307, 230, 230, 230],
    dtype=np.int32,
)


def decode_ms_adpcm(data: bytes, block_align: int) -> np.ndarray:
    """Decode a mono MS-ADPCM (WAV format tag 2) 'data' chunk to int16.

    Per-block layout: uint8 predictor index (0..6 into the fixed
    coefficient pairs), int16 initial delta, int16 sample1 (newer),
    int16 sample2 (older), then 4-bit codes HIGH NIBBLE FIRST (the
    opposite packing of IMA). Each code c (sign-extended from 4 bits):

        pred   = (sample1·coef1 + sample2·coef2) >> 8  + c·delta
        clamp to int16; history shifts; delta = max(16, (adapt[c]·delta) >> 8)

    Sequential per block by construction; blocks are independent (each
    carries full decoder state), so at scale blocks parallelize."""
    if block_align < 7:
        raise ValueError(f"MS ADPCM block_align {block_align} < 7")
    pieces = []
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < 7:
            raise ValueError("truncated MS ADPCM block header")
        pred_idx = block[0]
        if pred_idx > 6:
            raise ValueError(f"MS ADPCM predictor index {pred_idx} > 6")
        c1, c2 = MS_ADPCM_COEFFS[pred_idx]
        delta = int.from_bytes(block[1:3], "little", signed=True)
        s1 = int.from_bytes(block[3:5], "little", signed=True)
        s2 = int.from_bytes(block[5:7], "little", signed=True)
        out = [np.int16(s2), np.int16(s1)]
        body = np.frombuffer(block[7:], dtype=np.uint8)
        nibbles = np.empty(2 * len(body), dtype=np.uint8)
        nibbles[0::2] = body >> 4      # HIGH nibble first
        nibbles[1::2] = body & 0x0F
        for nib in nibbles:
            c = int(nib) - 16 if nib >= 8 else int(nib)
            pred = ((s1 * c1 + s2 * c2) >> 8) + c * delta
            if pred > 32767:
                pred = 32767
            elif pred < -32768:
                pred = -32768
            s2, s1 = s1, pred
            delta = (int(MS_ADPCM_ADAPT[nib]) * delta) >> 8
            if delta < 16:
                delta = 16
            out.append(np.int16(pred))
        pieces.append(np.array(out, dtype=np.int16))
    return np.concatenate(pieces) if pieces else np.empty(0, np.int16)


def decode_ima_adpcm_multi(
    data: bytes, block_align: int, n_channels: int
) -> np.ndarray:
    """Decode N-CHANNEL IMA ADPCM to (n_frames, n_channels) int16. WAV
    layout per block: one 4-byte state header per channel, then the
    nibble payload interleaved in 4-byte groups round-robin across
    channels (8 samples per channel per group; stereo is 8 left, 8
    right, repeating). Each channel's predictor/step machine runs independently
    over its own subsequence, so channels decode in parallel at scale.
    """
    if n_channels < 1:
        raise ValueError(f"n_channels {n_channels} < 1")
    hdr = 4 * n_channels
    if block_align < hdr:
        raise ValueError(
            f"IMA ADPCM block_align {block_align} < header {hdr}"
        )
    parts: list[list[np.ndarray]] = [[] for _ in range(n_channels)]
    group = 4 * n_channels
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < hdr:
            raise ValueError("truncated IMA ADPCM block header")
        states = []
        for c in range(n_channels):
            pred = int.from_bytes(block[4 * c : 4 * c + 2], "little", signed=True)
            index = block[4 * c + 2]
            if index > 88:
                raise ValueError(f"IMA ADPCM step index {index} > 88")
            states.append((pred, index))
        body = np.frombuffer(block[hdr:], dtype=np.uint8)
        usable = len(body) - len(body) % group
        groups = body[:usable].reshape(-1, n_channels, 4)
        for c in range(n_channels):
            chan_bytes = groups[:, c, :].reshape(-1).tobytes()
            nibbles = unpack_nibbles(chan_bytes)
            parts[c].append(np.array([states[c][0]], dtype=np.int16))
            parts[c].append(
                decode_ima_adpcm_block(nibbles, states[c][0], states[c][1])
            )
    chans = [
        np.concatenate(p) if p else np.empty(0, np.int16) for p in parts
    ]
    n = min(len(ch) for ch in chans)
    return np.stack([ch[:n] for ch in chans], axis=1)


def decode_ms_adpcm_multi(
    data: bytes, block_align: int, n_channels: int
) -> np.ndarray:
    """Decode N-CHANNEL MS-ADPCM (WAV tag 2) to (n_frames, n_channels)
    int16. Block layout generalizes the mono case channel-wise: N
    predictor-index bytes, N int16 initial deltas, N int16 sample1s, N
    int16 sample2s, then 4-bit codes HIGH NIBBLE FIRST assigned
    round-robin to channels (sample t -> channel t mod N). Per-channel
    state machines are independent; blocks self-contain state."""
    if n_channels < 1:
        raise ValueError(f"n_channels {n_channels} < 1")
    hdr = 7 * n_channels
    if block_align < hdr:
        raise ValueError(f"MS ADPCM block_align {block_align} < header {hdr}")
    chan_parts: list[list[int]] = [[] for _ in range(n_channels)]
    for start in range(0, len(data), block_align):
        block = data[start : start + block_align]
        if len(block) < hdr:
            raise ValueError("truncated MS ADPCM block header")
        coeffs, deltas, s1s, s2s = [], [], [], []
        for c in range(n_channels):
            pred_idx = block[c]
            if pred_idx > 6:
                raise ValueError(f"MS ADPCM predictor index {pred_idx} > 6")
            coeffs.append(MS_ADPCM_COEFFS[pred_idx])
        off = n_channels
        for c in range(n_channels):
            deltas.append(
                int.from_bytes(block[off + 2 * c : off + 2 * c + 2], "little", signed=True)
            )
        off += 2 * n_channels
        for c in range(n_channels):
            s1s.append(
                int.from_bytes(block[off + 2 * c : off + 2 * c + 2], "little", signed=True)
            )
        off += 2 * n_channels
        for c in range(n_channels):
            s2s.append(
                int.from_bytes(block[off + 2 * c : off + 2 * c + 2], "little", signed=True)
            )
        for c in range(n_channels):
            chan_parts[c].append(int(np.int16(s2s[c])))
            chan_parts[c].append(int(np.int16(s1s[c])))
        body = np.frombuffer(block[hdr:], dtype=np.uint8)
        nibbles = np.empty(2 * len(body), dtype=np.uint8)
        nibbles[0::2] = body >> 4
        nibbles[1::2] = body & 0x0F
        for t, nib in enumerate(nibbles):
            c = t % n_channels
            cc1, cc2 = coeffs[c]
            code = int(nib) - 16 if nib >= 8 else int(nib)
            pred = ((s1s[c] * cc1 + s2s[c] * cc2) >> 8) + code * deltas[c]
            if pred > 32767:
                pred = 32767
            elif pred < -32768:
                pred = -32768
            s2s[c], s1s[c] = s1s[c], pred
            deltas[c] = (int(MS_ADPCM_ADAPT[nib]) * deltas[c]) >> 8
            if deltas[c] < 16:
                deltas[c] = 16
            chan_parts[c].append(pred)
    chans = [np.array(p, dtype=np.int16) for p in chan_parts]
    n = min(len(ch) for ch in chans)
    return np.stack([ch[:n] for ch in chans], axis=1)
