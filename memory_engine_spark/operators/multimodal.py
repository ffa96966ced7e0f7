"""Multimodal columns: opaque binary payloads + typed metadata, with
decode / feature-extract / frame-sample stages as Arrow-batched
``mapInPandas`` pipelines.

Beyond the reference's surface (its content is text-only) — this is the
training-data-pipeline extension from the build brief: images/audio/
video ride through the engine as ``binary`` columns with a metadata
struct. Header METADATA extraction (PNG/JPEG/GIF/BMP/WAV dimensions,
sample rate, duration — ``probe_media_headers`` / ``image_dims_sql``)
is REAL pure-byte parsing, and so are the pixel/sample decoders with a
pure-Python/stdlib path: PNG (zlib + spec unfilters), BMP, GIF (LZW),
baseline JPEG — grayscale, 4:4:4 and subsampled 4:2:0 color with the
JFIF YCbCr conversion (Huffman entropy decode + exact fixed-point
IDCT) — WAV-PCM, G.711 μ-law/A-law, stateful IMA-ADPCM, and AVI video
(container walk + raw DIB frames + frame sampling). Only perceptual
audio codecs (mp3/aac) stay stubbed behind
``DECODERS`` because no media libraries ship in this container — swap
a real decoder in at the same seam (same signature) on a cluster with
codecs installed.

Scale notes: media rows are LARGE — the pipeline repartitions by
byte-size budget, not row count, and decode stages must run AFTER
filters/projections so only surviving rows pay decode cost.
"""

from __future__ import annotations

import hashlib
import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = ("media_id string, kind string, payload binary, "
                "mime string, width int, height int, duration_s double")


def _stage(df, gen, out_schema: str, id_col: str,
           payload_col: str):
    """Tail of every (id, payload) → facts decode wrapper. With a
    DataFrame it is the original one-``mapInPandas``-stage shape;
    with ``df=None`` it EXPOSES the per-batch generator and its
    output schema so ``fuse_synth_stage`` can compose it with a
    payload synthesizer into a single Python stage."""
    if df is None:
        return gen, out_schema
    return df.select(id_col, payload_col).mapInPandas(gen, out_schema)


def fuse_synth_stage(docs: DataFrame, synth, stage_fn,
                     **stage_kw) -> DataFrame:
    """Compose a payload-synthesizing ``Iterator[pdf] → Iterator[pdf]``
    generator with a decode/stats wrapper into ONE Arrow
    ``mapInPandas`` stage. Two chained ``mapInPandas`` stages each pay
    a full JVM↔Python Arrow round trip of every payload byte between
    them (guide §4.1); because both stages are plain batch-iterator
    transforms, ``stats_gen(synth(batches))`` is the SAME computation
    with the intermediate (id, payload) frame never serialized to the
    JVM at all. Results are bit-identical: the composed generators run
    unchanged, only the boundary crossing disappears. ``docs`` must
    already be projected to the columns ``synth`` reads (callers pass
    purpose-built narrow frames — guide §4.2's explicit-select rule
    applies at the call site, exactly as it did pre-fusion)."""
    gen, out_schema = stage_fn(None, **stage_kw)

    def fused(batches):
        return gen(synth(batches))

    return docs.mapInPandas(fused, out_schema)


def fake_decode_image(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decoder: derives a tiny
    'pixel' array from the payload hash. Real impl: PIL/libvips —
    NotImplemented in this container."""
    h = hashlib.md5(payload or b"").digest()
    return np.frombuffer(h, dtype=np.uint8).reshape(4, 4).astype(np.float32)


def fake_decode_audio(payload: bytes) -> np.ndarray:
    """Deterministic stand-in for COMPRESSED audio codecs (mp3/aac/ogg —
    soundfile/ffmpeg territory, not in this container): the md5 digest
    as four 4-'sample' frames (ROW means under ``decode_features``'s
    ``mean(axis=0)`` readout — a different feature map than the image
    decoder's column means, so per-kind dispatch is observable in the
    output). WAV-PCM payloads never reach this: ``decode_audio``
    routes RIFF/WAVE bytes through the REAL ``decode_wav_pcm`` path
    (r05 VERDICT item 7). The seam a real codec plugs into is
    ``decode_features(decoders=...)`` — proven by
    ``test_real_decoder_injection_seam``, which swaps in a stub mp3
    decoder with zero operator change."""
    h = hashlib.md5(payload or b"").digest()
    return np.frombuffer(h, dtype=np.uint8).reshape(4, 4).T \
        .astype(np.float32)


# ---------------------------------------------------------------------------
# REAL G.711 companded audio (ITU-T G.711 μ-law / A-law — WAV fmt 7 / 6).
# Pure integer segment arithmetic (the classic Sun g711.c formulation the
# spec tables reduce to), so encode∘decode is bit-reproducible by any
# engine — which is what lets q159's oracle replay the quantizer in SQL.
# ---------------------------------------------------------------------------

_ULAW_BIAS = 0x84   # 132
_ULAW_CLIP = 32635


def _ulaw_decode_one(u: int) -> int:
    """Expand one μ-law byte to 16-bit linear: complement, unpack
    (sign, 3-bit exponent e, 4-bit mantissa m), magnitude
    ((8m+132)·2^e)−132 — equal to the spec table exp_lut[e]+(m<<(e+3))."""
    u = ~u & 0xFF
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = ((m * 8 + _ULAW_BIAS) << e) - _ULAW_BIAS
    return -mag if u & 0x80 else mag


def _alaw_decode_one(a: int) -> int:
    """Expand one A-law byte to 16-bit linear: XOR 0x55 (the spec's
    even-bit inversion), unpack (sign, segment, mantissa); segment 0
    is linear (step 16, +8 mid-rise), segments 1..7 double the step.
    Sign bit SET means positive (the 0xD5 encode mask)."""
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if a & 0x80 else -t


_ULAW_LUT = np.array([_ulaw_decode_one(i) for i in range(256)],
                     dtype=np.int32)
_ALAW_LUT = np.array([_alaw_decode_one(i) for i in range(256)],
                     dtype=np.int32)


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """Vectorized μ-law expand: one 256-entry LUT gather."""
    return _ULAW_LUT[np.asarray(codes, dtype=np.uint8)]


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """Vectorized A-law expand: one 256-entry LUT gather."""
    return _ALAW_LUT[np.asarray(codes, dtype=np.uint8)]


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """Vectorized μ-law compress (16-bit linear → 8-bit log-PCM):
    clip to ±32635, add bias 132, exponent = segment of the biased
    magnitude (digitize against the 8 power-of-two boundaries),
    4-bit mantissa, complement. No ZEROTRAP (the G.191 reference
    keeps code 0x00; some hardware remaps it to 0x02)."""
    x = np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767)
    neg = x < 0
    m = np.minimum(np.abs(x), _ULAW_CLIP) + _ULAW_BIAS
    e = np.digitize(m, [256, 512, 1024, 2048, 4096, 8192, 16384])
    mant = (m >> (e + 3)) & 0x0F
    return (~(np.where(neg, 0x80, 0) | (e << 4) | mant) & 0xFF) \
        .astype(np.uint8)


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """Vectorized A-law compress: arithmetic-shift to the 13-bit
    domain (negatives fold as −x−1, the two's-complement mirror),
    segment by magnitude, 4-bit mantissa (segments 0–1 share the
    linear step), XOR mask 0xD5 positive / 0x55 negative."""
    x = np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767) >> 3
    pos = x >= 0
    v = np.where(pos, x, -x - 1)
    mask = np.where(pos, 0xD5, 0x55)
    seg = np.digitize(v, [0x20, 0x40, 0x80, 0x100, 0x200, 0x400, 0x800])
    shift = np.where(seg < 2, 1, seg)
    mant = (v >> shift) & 0x0F
    return (((seg << 4) | mant) ^ mask).astype(np.uint8)


# IMA (DVI4) ADPCM — WAV fmt tag 0x11: a genuinely STATEFUL codec
# (per-sample predictor + step-index state machine), 4 bits/sample.
# The encoder and decoder share the vpdiff accumulation exactly, so
# the decoded stream equals the predictor sequence the encoder walked
# — which is what lets q161's oracle replay it as a recursive CTE.
_IMA_STEP_TABLE = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767]
_IMA_INDEX_TABLE = [-1, -1, -1, -1, 2, 4, 6, 8]  # symmetric in sign bit


def ima_adpcm_encode(samples: np.ndarray, init_index: int = 0) -> bytes:
    """Encode one IMA-ADPCM block (IMA 'Recommended Practices' rev 3.0
    / the MS WAVE 0x11 layout): 4-byte header (first sample verbatim
    as int16 LE + initial step index), then 4-bit deltas packed low
    nibble first. Sample count must be odd (header sample + nibble
    pairs)."""
    s = np.clip(np.asarray(samples, dtype=np.int64), -32768, 32767)
    if len(s) < 1 or (len(s) - 1) % 2:
        raise ValueError("IMA block needs 1 + 2k samples")
    pred, idx = int(s[0]), int(init_index)
    nib = []
    for v in s[1:]:
        step = _IMA_STEP_TABLE[idx]
        diff = int(v) - pred
        sign = 8 if diff < 0 else 0
        if sign:
            diff = -diff
        delta, vpd = 0, step >> 3
        if diff >= step:
            delta, diff, vpd = 4, diff - step, vpd + step
        if diff >= step >> 1:
            delta, diff, vpd = delta | 2, diff - (step >> 1), vpd + (step >> 1)
        if diff >= step >> 2:
            delta, vpd = delta | 1, vpd + (step >> 2)
        pred = pred - vpd if sign else pred + vpd
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX_TABLE[delta]))
        nib.append(delta | sign)
    out = bytearray((int(s[0]) & 0xFFFF).to_bytes(2, "little")
                    + bytes([init_index, 0]))
    for lo, hi in zip(nib[0::2], nib[1::2]):
        out.append(lo | (hi << 4))
    return bytes(out)


def ima_adpcm_decode(block: bytes, n_samples: int) -> np.ndarray:
    """Decode one IMA-ADPCM block: header sample emitted verbatim,
    then the predictor/step-index state machine over the nibbles
    (vpdiff = step/8 + bit-gated step, step/2, step/4 — identical to
    the encoder's accumulation, so round-trip is exact by
    construction)."""
    if len(block) < 4:
        raise ValueError("truncated IMA block")
    pred = int.from_bytes(block[0:2], "little", signed=True)
    idx = block[2]
    # the header step index addresses the 89-entry step table; a
    # corrupt byte must loud-fail, not IndexError mid-decode (the
    # in-loop updates clamp to 0..88, the seed was never checked)
    if idx > 88:
        raise ValueError(f"IMA step index {idx} out of range 0..88")
    nib = []
    for b in block[4:]:
        nib.append(b & 0x0F)
        nib.append(b >> 4)
    if n_samples - 1 > len(nib):
        raise ValueError("IMA block shorter than advertised sample count")
    out = [pred]
    for k in range(n_samples - 1):
        m = nib[k]
        step = _IMA_STEP_TABLE[idx]
        vpd = step >> 3
        if m & 4:
            vpd += step
        if m & 2:
            vpd += step >> 1
        if m & 1:
            vpd += step >> 2
        pred = pred - vpd if m & 8 else pred + vpd
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + _IMA_INDEX_TABLE[m & 7]))
        out.append(pred)
    return np.array(out, dtype=np.int32)


def synth_wav_ima(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Assemble a spec-complete single-block IMA-ADPCM WAV (fmt tag
    0x11, 4 bits/sample, cbSize=2 extension carrying samples-per-
    block, plus the fact chunk non-PCM formats require). The encode
    twin of ``decode_wav_pcm``'s ADPCM branch."""
    n = len(samples)
    block = ima_adpcm_encode(samples)
    fmt = (b"fmt " + (20).to_bytes(4, "little")
           + (0x11).to_bytes(2, "little")
           + (1).to_bytes(2, "little")               # mono
           + int(sample_rate).to_bytes(4, "little")
           + (int(sample_rate) * len(block) // max(1, n))
           .to_bytes(4, "little")                    # approx byte rate
           + len(block).to_bytes(2, "little")        # block align
           + (4).to_bytes(2, "little")               # bits per sample
           + (2).to_bytes(2, "little")               # cbSize
           + n.to_bytes(2, "little"))                # samples per block
    fact = b"fact" + (4).to_bytes(4, "little") + n.to_bytes(4, "little")
    chunk = b"data" + len(block).to_bytes(4, "little") + block \
        + (b"\x00" if len(block) & 1 else b"")
    body = b"WAVE" + fmt + fact + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def synth_wav_g711(samples: np.ndarray, law: str = "ulaw",
                   sample_rate: int = 8000) -> bytes:
    """Assemble a spec-complete G.711 WAV payload (RIFF + 18-byte fmt
    with the cbSize field non-PCM formats require + data): 16-bit
    linear input, companded to 8-bit μ-law (tag 7) or A-law (tag 6).
    The encode twin of ``decode_wav_pcm``'s G.711 branch."""
    if law == "ulaw":
        data, tag = ulaw_encode(samples).tobytes(), 7
    elif law == "alaw":
        data, tag = alaw_encode(samples).tobytes(), 6
    else:
        raise ValueError(f"unknown companding law {law!r}")
    fmt = (b"fmt " + (18).to_bytes(4, "little")
           + tag.to_bytes(2, "little")
           + (1).to_bytes(2, "little")               # mono
           + int(sample_rate).to_bytes(4, "little")
           + int(sample_rate).to_bytes(4, "little")  # byte rate (1 B/sample)
           + (1).to_bytes(2, "little")               # block align
           + (8).to_bytes(2, "little")               # bits per sample
           + (0).to_bytes(2, "little"))              # cbSize
    chunk = b"data" + len(data).to_bytes(4, "little") + data \
        + (b"\x00" if len(data) & 1 else b"")
    body = b"WAVE" + fmt + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_wav_pcm(payload: bytes) -> tuple[np.ndarray, int, int]:
    """REAL WAV decoder — no codec library needed: RIFF chunk walk
    (word-aligned), fmt parse, then per-format sample decode: PCM
    (tag 1) 8-bit (unsigned, recentered) or 16-bit (signed LE), and
    the ITU-T G.711 companded telephony codecs — A-law (tag 6) and
    μ-law (tag 7), 8-bit log-PCM expanded to 16-bit linear through
    the exact integer segment formulas (``alaw_decode`` /
    ``ulaw_decode``) — and single-block IMA ADPCM (tag 0x11, the
    stateful 4-bit predictor codec; sample count from the fact
    chunk). Multi-channel mixes to mono by integer mean (floor
    division — deterministic, no float summation order). Returns
    (int32 mono samples, sample_rate, audio_fmt_tag). Raises on
    non-RIFF payloads and unsupported encodings (the loud-fail stub
    contract of this module).

    RIFF sizes carry no checksum, so the walk enforces STRUCTURE
    (r12, the same treatment as ``decode_avi_frames``): the RIFF size
    must lie within the payload, every chunk must fit and the chunks
    must tile [12, riff_end) exactly, and a PCM data length must be a
    whole number of sample frames — a flipped size byte therefore
    loud-fails instead of silently truncating the fmt/data slice or
    resynchronizing the walk on sample bytes."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    riff_end = 8 + int.from_bytes(b[4:8], "little")
    if riff_end > len(b) or riff_end < 12:
        raise ValueError("RIFF size exceeds payload")
    i, fmt, data, fact = 12, None, None, None
    while i + 8 <= riff_end:
        cid = b[i:i + 4]
        csize = int.from_bytes(b[i + 4:i + 8], "little")
        if i + 8 + csize + (csize & 1) > riff_end:
            raise ValueError(
                "RIFF chunk overruns its parent (desynced size)")
        if cid == b"fmt ":
            fmt = b[i + 8:i + 8 + csize]
        elif cid == b"data":
            data = b[i + 8:i + 8 + csize]
        elif cid == b"fact" and csize >= 4:
            fact = int.from_bytes(b[i + 8:i + 12], "little")
        i += 8 + csize + (csize & 1)
    if i != riff_end:
        raise ValueError(
            "RIFF children do not tile their parent (desynced size)")
    if fmt is None or len(fmt) < 16 or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt = int.from_bytes(fmt[0:2], "little")
    n_ch = max(1, int.from_bytes(fmt[2:4], "little"))
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    # exact frame alignment, not floor-truncation: a data length that
    # is not a whole number of sample frames is a desynced/truncated
    # payload, and silently dropping the tail would mask it
    frame = (2 if bits == 16 else 1) * n_ch
    if audio_fmt in (1, 6, 7) and len(data) % frame:
        raise ValueError(
            f"data length {len(data)} not a whole number of "
            f"{frame}-byte sample frames")
    if audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif audio_fmt == 1 and bits == 8:
        x = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    elif audio_fmt in (6, 7) and bits == 8:
        codes = np.frombuffer(data, dtype=np.uint8)
        x = (alaw_decode(codes) if audio_fmt == 6
             else ulaw_decode(codes)).astype(np.int32)
    elif audio_fmt == 0x11 and bits == 4 and n_ch == 1:
        n_samples = fact if fact is not None \
            else 1 + (len(data) - 4) * 2
        x = ima_adpcm_decode(data, n_samples)
    else:
        raise NotImplementedError(
            f"only PCM 8/16-bit and G.711 supported "
            f"(fmt={audio_fmt}, bits={bits})")
    if n_ch > 1:
        x = x.reshape(-1, n_ch).sum(axis=1) // n_ch
    return x.astype(np.int32), rate, audio_fmt


def wav_window_energy(payload: bytes, n_windows: int = 8) -> np.ndarray:
    """Window-energy features over a REAL WAV-PCM decode: the mono
    signal splits into ``n_windows`` equal windows (floor(n/k) samples
    each; the sub-window remainder tail is dropped) and each window's
    feature is its mean square energy sum(s²)/win — the int64
    sum-of-squares is exact, the single trailing division is
    IEEE-deterministic, so features are byte-reproducible by any
    engine that can see the samples (MFCC-lite without the float FFT
    a hash-gate could never pin)."""
    x, _rate, _fmt = decode_wav_pcm(payload)
    xs = x.astype(np.int64)
    win = max(1, len(xs) // n_windows)
    out = np.zeros(n_windows, dtype=np.float64)
    for w in range(n_windows):
        seg = xs[w * win:(w + 1) * win]
        if len(seg):
            out[w] = float(int(seg @ seg)) / len(seg)
    return out


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (W3C PNG spec §9.4): choose the neighbor
    (left a, up b, upper-left c) closest to a + b - c, ties broken
    a, b, c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# PNG color type -> channels (spec §11.2.2); bit depth 8 only.
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def decode_png_pixels(payload: bytes) -> np.ndarray:
    """REAL PNG pixel decoder — no codec library needed beyond stdlib
    zlib (PNG's DEFLATE is the only compression the spec allows):
    signature check, chunk walk (IHDR → concatenated IDAT), zlib
    inflate, then per-scanline unfiltering of all five filter types
    (None/Sub/Up/Average/Paeth, spec §9). Supports bit depth 8,
    color types 0/2/4/6 (gray, RGB, gray+alpha, RGBA), non-interlaced
    — the dominant shapes; anything else raises (the loud-fail stub
    contract of this module, same as non-PCM audio). Returns an
    (H, W, C) uint8 array."""
    import zlib

    b = payload or b""
    if len(b) < 8 or b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    i, ihdr, idat = 8, None, b""
    while i + 8 <= len(b):
        csize = int.from_bytes(b[i:i + 4], "big")
        ctype = b[i + 4:i + 8]
        data = b[i + 8:i + 8 + csize]
        # chunk CRC-32 over type+data (spec §5.3) — skipping it
        # accepts silent corruption (a flipped IHDR color-type byte
        # would "decode" a garbage shape; the zlib adler only covers
        # IDAT). Same loud-fail contract as the FLAC/Ogg/MKV walks.
        if i + 12 + csize > len(b):
            raise ValueError(f"truncated PNG chunk {ctype!r}")
        stored = int.from_bytes(b[i + 8 + csize:i + 12 + csize], "big")
        if zlib.crc32(ctype + data) != stored:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        i += 12 + csize  # length + type + data + CRC
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    width = int.from_bytes(ihdr[0:4], "big")
    height = int.from_bytes(ihdr[4:8], "big")
    depth, color, comp, filt_m, interlace = ihdr[8:13]
    if depth != 8 or color not in _PNG_CHANNELS or comp != 0 \
            or filt_m != 0 or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced gray/RGB/LA/RGBA supported "
            f"(depth={depth}, color={color}, interlace={interlace})")
    ch = _PNG_CHANNELS[color]
    try:
        raw = zlib.decompress(idat)
    except zlib.error as exc:
        # single-bit flips always fail the chunk CRC first, but a
        # recomputed-CRC corrupt stream must still meet the loud-fail
        # contract (ValueError, not zlib.error)
        raise ValueError(f"corrupt IDAT deflate stream: {exc}")
    stride = width * ch
    if len(raw) < height * (stride + 1):
        raise ValueError("truncated IDAT stream")
    out = np.zeros((height, stride), dtype=np.uint8)
    prev = bytearray(stride)
    pos = 0
    for r in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for k in range(ch, stride):
                line[k] = (line[k] + line[k - ch]) & 0xFF
        elif ftype == 2:  # Up
            for k in range(stride):
                line[k] = (line[k] + prev[k]) & 0xFF
        elif ftype == 3:  # Average
            for k in range(stride):
                left = line[k - ch] if k >= ch else 0
                line[k] = (line[k] + ((left + prev[k]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for k in range(stride):
                left = line[k - ch] if k >= ch else 0
                ul = prev[k - ch] if k >= ch else 0
                line[k] = (line[k] + _paeth(left, prev[k], ul)) & 0xFF
        else:
            raise ValueError(f"bad filter type {ftype} on row {r}")
        out[r] = np.frombuffer(bytes(line), dtype=np.uint8)
        prev = line
    return out.reshape(height, width, ch)


def synth_png(pixels: np.ndarray, row_filters=None) -> bytes:
    """Assemble a spec-complete PNG (signature + IHDR + IDAT + IEND,
    real CRC32s, zlib-compressed scanlines) from an (H, W, C) uint8
    array. ``row_filters`` picks the filter type per scanline
    (default 0) — the test/synthesis path deliberately exercises all
    five so a decoder unfilter bug anywhere is observable. This is
    the encode twin of ``decode_png_pixels``, also the shape a real
    ingest job would emit after transcoding."""
    import zlib

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    height, width, ch = px.shape
    color = {1: 0, 3: 2, 2: 4, 4: 6}[ch]
    stride = width * ch
    flat = px.reshape(height, stride)
    row_filters = row_filters or [0] * height
    body = bytearray()
    prev = bytes(stride)
    for r in range(height):
        rawl = flat[r].tobytes()
        ftype = int(row_filters[r]) % 5
        body.append(ftype)
        if ftype == 0:
            body += rawl
        elif ftype == 1:
            body += bytes((rawl[k] - (rawl[k - ch] if k >= ch else 0))
                          & 0xFF for k in range(stride))
        elif ftype == 2:
            body += bytes((rawl[k] - prev[k]) & 0xFF for k in range(stride))
        elif ftype == 3:
            body += bytes((rawl[k] - (((rawl[k - ch] if k >= ch else 0)
                                       + prev[k]) >> 1)) & 0xFF
                          for k in range(stride))
        else:
            body += bytes((rawl[k] - _paeth(
                rawl[k - ch] if k >= ch else 0, prev[k],
                prev[k - ch] if k >= ch else 0)) & 0xFF
                for k in range(stride))
        prev = rawl

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (len(data).to_bytes(4, "big") + ctype + data
                + zlib.crc32(ctype + data).to_bytes(4, "big"))

    ihdr = (width.to_bytes(4, "big") + height.to_bytes(4, "big")
            + bytes([8, color, 0, 0, 0]))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(body), 6))
            + chunk(b"IEND", b""))


def decode_pixels(payload: bytes) -> np.ndarray:
    """Magic-byte dispatch over the REAL pixel decoders
    (PNG/BMP/GIF/baseline JPEG — grayscale JPEG broadcasts to 3
    channels); unknown formats raise (loud-fail — this seam is for
    callers that need pixels, not the feature fallback
    ``decode_image`` offers)."""
    b = payload or b""
    if len(b) >= 8 and b[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png_pixels(b)
    if len(b) >= 2 and b[:2] == b"BM":
        return decode_bmp_pixels(b)
    if len(b) >= 3 and b[:3] == b"GIF":
        return decode_gif_pixels(b)
    if len(b) >= 2 and b[:2] == b"\xFF\xD8":
        return decode_jpeg_color(b)  # grayscale broadcasts to 3ch
    if len(b) >= 4 and (b[:4] == b"II*\x00" or b[:4] == b"MM\x00*"):
        return decode_tiff_pixels(b)
    raise NotImplementedError("no real pixel decoder for this format")


def image_pixel_stats(df: DataFrame, payload_col: str = "payload",
                      id_col: str = "media_id") -> DataFrame:
    """REAL image feature extraction as one Arrow ``mapInPandas``
    stage: pixel decode (PNG/BMP/GIF by magic bytes) → per-channel
    integer pixel statistics. Sums and sums-of-squares are exact
    int64, so the output is byte-reproducible by any engine that can
    see the pixels — a filter/unfilter, LZW, chunk-walk, or inflate
    bug anywhere breaks them. Returns (id, width, height, channels,
    csum array<long>, csqsum array<long>)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                px = decode_pixels(b).astype(np.int64)
                rows.append({
                    id_col: mid,
                    "width": px.shape[1], "height": px.shape[0],
                    "channels": px.shape[2],
                    "csum": px.sum(axis=(0, 1)).tolist(),
                    "csqsum": (px * px).sum(axis=(0, 1)).tolist()})
            yield pd.DataFrame(rows, columns=[
                id_col, "width", "height", "channels", "csum", "csqsum"])

    out_schema = (f"{id_col} string, width int, height int, "
                  "channels int, csum array<long>, csqsum array<long>")
    return _stage(df, gen, out_schema, id_col, payload_col)


# q156 and its tests predate the BMP/GIF decoders; same stage.
png_pixel_stats = image_pixel_stats


def decode_audio(payload: bytes) -> np.ndarray:
    """Audio decoder seam: RIFF/WAVE payloads take the REAL PCM
    window-energy path; anything else (compressed codecs) falls back
    to the deterministic stand-in."""
    b = payload or b""
    if len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return wav_window_energy(b, n_windows=4).reshape(1, 4) \
            .astype(np.float32)
    return fake_decode_audio(b)


def decode_bmp_pixels(payload: bytes) -> np.ndarray:
    """REAL BMP pixel decoder — BMP is uncompressed, so this is pure
    byte layout: BITMAPINFOHEADER parse, 24-bit BGR rows padded to
    4-byte boundaries, bottom-up storage (top-down when height is
    negative). Returns (H, W, 3) uint8 RGB. Compressed (RLE) or
    non-24-bit BMPs raise (loud-fail contract)."""
    b = payload or b""
    if len(b) < 54 or b[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(b[10:14], "little")
    width = int.from_bytes(b[18:22], "little", signed=True)
    height = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    compression = int.from_bytes(b[30:34], "little")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported "
            f"(bpp={bpp}, compression={compression})")
    top_down = height < 0
    h, w = abs(height), abs(width)
    stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
    if data_off < 54:
        # the two headers occupy [0, 54); an offset pointing inside
        # them would silently decode header bytes as pixels — the
        # same desynced-offset class the TIFF strip walk rejects
        raise ValueError("BMP pixel-array offset overlaps headers")
    if len(b) < data_off + h * stride:
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(b[data_off:data_off + h * stride],
                         dtype=np.uint8).reshape(h, stride)[:, :w * 3]
    px = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return px if top_down else px[::-1]


def synth_bmp(pixels: np.ndarray) -> bytes:
    """Assemble a spec-complete 24-bit uncompressed BMP
    (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up, 4-byte row
    padding) from an (H, W, 3) uint8 RGB array — the encode twin of
    ``decode_bmp_pixels``."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (stride - len(row))
    info = ((40).to_bytes(4, "little") + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
            + b"\x00" * 16)
    off = 14 + 40
    head = (b"BM" + (off + len(body)).to_bytes(4, "little")
            + b"\x00" * 4 + off.to_bytes(4, "little"))
    return head + info + bytes(body)


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int
                    ) -> list[int]:
    """GIF-variant LZW decode (GIF89a spec appendix F): variable code
    width min+1..12 bits, little-endian bit packing, clear + EOI
    codes, the classic KwKwK first-entry special case."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    out: list[int] = []
    table: list[list[int]] = []

    def reset():
        nonlocal table, width, next_code
        table = [[i] for i in range(1 << min_code_size)] + [[], []]
        width = min_code_size + 1
        next_code = eoi + 1

    width = min_code_size + 1
    next_code = eoi + 1
    reset()
    acc = nbits = 0
    prev: list[int] | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == eoi:
                return out[:n_pixels]
            if code < next_code:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + [prev[0]]  # KwKwK
            else:
                raise ValueError(f"bad LZW code {code}")
            out.extend(entry)
            if prev is not None and next_code < 4096:
                table.append(prev + [entry[0]])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
            if len(out) >= n_pixels:
                return out[:n_pixels]
    return out[:n_pixels]


def decode_gif_pixels(payload: bytes) -> np.ndarray:
    """REAL GIF pixel decoder — pure-Python LZW (GIF's only
    compression) + palette lookup: logical screen descriptor, global
    color table, first image descriptor, sub-block reassembly,
    variable-width LZW, palette indexing. Non-interlaced single-frame
    GIFs with a global color table; anything else raises. Returns
    (H, W, 3) uint8 RGB."""
    b = payload or b""
    if len(b) < 13 or b[:3] != b"GIF":
        raise ValueError("not a GIF payload")
    flags = b[10]
    if not flags & 0x80:
        raise NotImplementedError("GIF without global color table")
    gct_size = 2 << (flags & 0x07)
    i = 13
    palette = np.frombuffer(b[i:i + 3 * gct_size], dtype=np.uint8) \
        .reshape(gct_size, 3)
    i += 3 * gct_size
    while i < len(b):
        block = b[i]
        if block == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < len(b) and b[i] != 0:
                i += 1 + b[i]
            i += 1
        elif block == 0x2C:  # image descriptor
            if i + 10 > len(b):
                raise ValueError("truncated GIF image descriptor")
            w = int.from_bytes(b[i + 5:i + 7], "little")
            h = int.from_bytes(b[i + 7:i + 9], "little")
            iflags = b[i + 9]
            i += 10
            if iflags & 0x40:
                raise NotImplementedError("interlaced GIF")
            if iflags & 0x80:  # local color table overrides
                lct_size = 2 << (iflags & 0x07)
                palette = np.frombuffer(
                    b[i:i + 3 * lct_size], dtype=np.uint8) \
                    .reshape(lct_size, 3)
                i += 3 * lct_size
            if i >= len(b):
                raise ValueError("truncated GIF (no LZW min code)")
            min_code = b[i]
            # GIF89a LZW roots are 2..8-bit (codes cap at 12 bits); a
            # corrupted byte here would otherwise size the decoder's
            # root table as 2**min_code — a flipped high bit turns
            # that into a memory bomb, not a parse error.
            if not 2 <= min_code <= 11:
                raise ValueError(f"bad LZW min code size {min_code}")
            i += 1
            data = bytearray()
            while i < len(b) and b[i] != 0:
                n = b[i]
                data += b[i + 1:i + 1 + n]
                i += 1 + n
            idx = _gif_lzw_decode(bytes(data), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("truncated GIF pixel data")
            arr = np.array(idx, dtype=np.int32)
            # the LZW alphabet (2**min_code roots) can be WIDER than
            # the color table; a corrupt stream yielding an index past
            # the palette must loud-fail, not crash numpy indexing
            if arr.size and int(arr.max()) >= len(palette):
                raise ValueError("LZW index beyond color table")
            return palette[arr].reshape(h, w, 3)
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("no image descriptor in GIF")


def _gif_lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encode (the decode twin): dictionary of pixel
    strings, clear emitted up-front, codes little-endian bit-packed,
    width grows after the code that fills the current width."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    table = {(i,): i for i in range(1 << min_code_size)}
    next_code = eoi + 1
    width = min_code_size + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    cur: tuple = ()
    for px in indices:
        nxt = cur + (px,)
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur])
        table[nxt] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear)
            table = {(i,): i for i in range(1 << min_code_size)}
            next_code = eoi + 1
            width = min_code_size + 1
        cur = (px,)
    if cur:
        emit(table[cur])
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def synth_gif(indices: np.ndarray, palette: np.ndarray) -> bytes:
    """Assemble a spec-complete single-frame GIF89a (logical screen
    descriptor + global color table + image descriptor + LZW data
    sub-blocks + trailer) from an (H, W) uint8 index array and an
    (N, 3) palette — the encode twin of ``decode_gif_pixels``."""
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    pal = np.asarray(palette, dtype=np.uint8)
    bits = max(1, int(len(pal) - 1).bit_length())
    gct_size = 1 << bits
    pal_full = np.zeros((gct_size, 3), dtype=np.uint8)
    pal_full[:len(pal)] = pal
    min_code = max(2, bits)
    lzw = _gif_lzw_encode([int(v) for v in idx.ravel()], min_code)
    blocks = bytearray()
    for off in range(0, len(lzw), 255):
        chunk = lzw[off:off + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (b"GIF89a"
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + bytes([0x80 | (bits - 1), 0, 0])
            + pal_full.tobytes()
            + b"\x2C" + b"\x00" * 4
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00" + bytes([min_code]) + bytes(blocks) + b"\x00"
            + b"\x3B")


# ---------------------------------------------------------------------------
# REAL baseline JPEG (ITU-T T.81): Huffman entropy decode + DC prediction
# + dezigzag + dequant + EXACT fixed-point integer IDCT. Grayscale
# (single-component) baseline sequential — the full segment/entropy/
# transform pipeline with zero codec dependencies. The IDCT is the
# spec's float transform in 13-bit fixed point, so decoded pixels are a
# deterministic integer function of the quantized coefficients — which
# is what lets q162's oracle replay dequant+IDCT relationally. (T.81
# does not mandate one IDCT; this pair pins one, exactly.)
# ---------------------------------------------------------------------------

_JPEG_ZZ = [0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
            12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
            35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
            58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63]
_JPEG_QTAB = [16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
              14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
              18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113,
              92, 49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112,
              100, 103, 99]  # Annex K luminance
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]  # Annex K luminance AC
_JPEG_QTAB_C = [17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99,
                99, 24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99,
                99, 99] + [99] * 32  # Annex K chrominance
_JPEG_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_JPEG_DC_VALS_C = list(range(12))
_JPEG_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119]
_JPEG_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]  # Annex K chrominance AC
# JFIF YCbCr -> RGB in 16-bit fixed point (libjpeg's rounded constants);
# floor((k·(c-128) + 2^15) >> 16) keeps the conversion exactly integer.
_JPEG_FIX_RCR = 91881    # 1.402
_JPEG_FIX_GCB = 22554    # 0.344136
_JPEG_FIX_GCR = 46802    # 0.714136
_JPEG_FIX_BCB = 116130   # 1.772
_JPEG_K = 13
_JPEG_IDCT_A = [
    [int(math.floor(((1 / math.sqrt(2)) if u == 0 else 1.0)
                    * math.cos((2 * x + 1) * u * math.pi / 16)
                    * (1 << _JPEG_K) + 0.5))
     for x in range(8)] for u in range(8)]


def _jpeg_huff_codes(bits: list[int], vals: list[int]) -> dict:
    """Canonical Huffman code assignment (T.81 Annex C)."""
    codes, code, k = {}, 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return codes


_JPEG_A_MAT = np.array(_JPEG_IDCT_A, dtype=np.int64)  # [u][x]


def _jpeg_idct_block(F: list[int]) -> np.ndarray:
    """Exact fixed-point 8×8 inverse DCT: S = Σ F[u,v]·A[u][y]·A[v][x]
    = (Aᵀ·F·A) as two int64 matrix multiplies (exact — worst-case
    |S| ≤ 64·(2047·255)·2^26 < 2^63), pixel =
    clamp(((S + 2^(2K+1)) >> (2K+2)) + 128)."""
    half, sh = 1 << (2 * _JPEG_K + 1), 2 * _JPEG_K + 2
    Fm = np.asarray(F, dtype=np.int64).reshape(8, 8)
    s = _JPEG_A_MAT.T @ Fm @ _JPEG_A_MAT
    return np.clip(((s + half) >> sh) + 128, 0, 255).astype(np.uint8)


class _JpegBitWriter:
    """MSB-first bit packer with T.81 0xFF byte stuffing."""

    def __init__(self):
        self.buf, self.acc, self.n = bytearray(), 0, 0

    def put(self, code: int, ln: int):
        if not ln:
            return
        self.acc = (self.acc << ln) | (code & ((1 << ln) - 1))
        self.n += ln
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.n -= 8
            self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)  # pad with 1s
        return bytes(self.buf)

    def restart(self, n: int):
        """Byte-align (1-padded) and emit RSTn — marker bytes bypass
        stuffing by contract (a stuffed marker would be 0xFF00)."""
        if self.n:
            self.put((1 << (8 - self.n)) - 1, 8 - self.n)
        self.buf += bytes([0xFF, 0xD0 + (n & 7)])


def _jpeg_put_block(bw: _JpegBitWriter, blk: list[int], dc_c: dict,
                    ac_c: dict, prev_dc: int) -> int:
    """Entropy-encode one quantized 8×8 block (raster order in):
    zigzag, DC diff category + amplitude, AC run/size with EOB and
    ZRL. Returns the new DC predictor."""
    zz = [blk[_JPEG_ZZ[i]] for i in range(64)]
    diff = zz[0] - prev_dc
    s = abs(diff).bit_length()
    bw.put(*dc_c[s])
    bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    k = 1
    while k < 64:
        if all(v == 0 for v in zz[k:]):
            bw.put(*ac_c[0x00])  # EOB
            break
        run = 0
        while zz[k] == 0:
            run += 1
            k += 1
        while run >= 16:
            bw.put(*ac_c[0xF0])  # ZRL
            run -= 16
        s = abs(zz[k]).bit_length()
        bw.put(*ac_c[(run << 4) | s])
        bw.put(zz[k] if zz[k] >= 0 else zz[k] + (1 << s) - 1, s)
        k += 1
    return zz[0]


def _jpeg_seg(marker: int, payload: bytes) -> bytes:
    return bytes([0xFF, marker]) \
        + (len(payload) + 2).to_bytes(2, "big") + payload


def synth_jpeg_gray(coef_blocks: list[list[int]], w: int, h: int) -> bytes:
    """Assemble a spec-complete baseline grayscale JPEG (SOI, DQT,
    SOF0, DHT with the Annex K luminance tables, SOS, entropy-coded
    data with 0xFF byte stuffing, EOI) from already-QUANTIZED 8×8
    coefficient blocks in raster order (left-to-right, top-to-bottom
    MCUs). The encode twin of ``decode_jpeg_gray`` — coefficients in,
    so the decoded output is the exact integer IDCT of these blocks."""
    dc_c = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_c = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    prev_dc = 0
    for blk in coef_blocks:
        prev_dc = _jpeg_put_block(bw, blk, dc_c, ac_c, prev_dc)
    dqt = _jpeg_seg(0xDB, bytes([0x00])
                    + bytes(_JPEG_QTAB[_JPEG_ZZ[i]] for i in range(64)))
    sof = _jpeg_seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                    + w.to_bytes(2, "big") + bytes([1, 1, 0x11, 0]))
    dht = _jpeg_seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
                    + bytes(_JPEG_DC_VALS) + bytes([0x10])
                    + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos = _jpeg_seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    return b"\xFF\xD8" + dqt + sof + dht + sos + bw.flush() + b"\xFF\xD9"


def synth_jpeg_color(coef_blocks: list[list[list[int]]], w: int,
                     h: int) -> bytes:
    """Assemble a spec-complete baseline COLOR JPEG: 3 components
    (YCbCr ids 1/2/3), 4:4:4 (all sampling factors 1×1 — every MCU
    interleaves one block of each component), two DQTs (Annex K
    luminance for Y, chrominance for Cb/Cr), four DHTs (separate
    luma/chroma DC+AC tables), per-component DC predictors.
    ``coef_blocks`` is [Y_blocks, Cb_blocks, Cr_blocks], each a list
    of already-QUANTIZED raster-order 8×8 blocks."""
    lum = (_jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
           _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS))
    chr_ = (_jpeg_huff_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
            _jpeg_huff_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C))
    tabs = [lum, chr_, chr_]
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    for mcu in range(len(coef_blocks[0])):
        for ci in range(3):
            dc_c, ac_c = tabs[ci]
            preds[ci] = _jpeg_put_block(
                bw, coef_blocks[ci][mcu], dc_c, ac_c, preds[ci])
    dqt = _jpeg_seg(0xDB, bytes([0x00])
                    + bytes(_JPEG_QTAB[_JPEG_ZZ[i]] for i in range(64))
                    + bytes([0x01])
                    + bytes(_JPEG_QTAB_C[_JPEG_ZZ[i]] for i in range(64)))
    sof = _jpeg_seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                    + w.to_bytes(2, "big")
                    + bytes([3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = _jpeg_seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
                    + bytes(_JPEG_DC_VALS) + bytes([0x10])
                    + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
                    + bytes([0x01]) + bytes(_JPEG_DC_BITS_C)
                    + bytes(_JPEG_DC_VALS_C) + bytes([0x11])
                    + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C))
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return b"\xFF\xD8" + dqt + sof + dht + sos + bw.flush() + b"\xFF\xD9"


def synth_jpeg_420(y_blocks: list[list[int]], cb_blocks: list[list[int]],
                   cr_blocks: list[list[int]], w: int, h: int,
                   restart_interval: int = 0) -> bytes:
    """Assemble a baseline 4:2:0 COLOR JPEG — the dominant real-world
    shape: Y sampled 2×2 (four Y blocks per MCU, row-major per T.81
    §A.2.3), Cb/Cr 1×1 (one block each per MCU covering the same
    16×16 pixels at half resolution). ``y_blocks`` holds 4 blocks per
    MCU in MCU order; ``cb_blocks``/``cr_blocks`` one per MCU. Same
    tables as ``synth_jpeg_color``."""
    lum = (_jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS),
           _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS))
    chr_ = (_jpeg_huff_codes(_JPEG_DC_BITS_C, _JPEG_DC_VALS_C),
            _jpeg_huff_codes(_JPEG_AC_BITS_C, _JPEG_AC_VALS_C))
    bw = _JpegBitWriter()
    preds = [0, 0, 0]
    n_mcus = len(cb_blocks)
    rst = 0
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            bw.restart(rst)
            rst = (rst + 1) & 7
            preds = [0, 0, 0]
        for j in range(4):
            preds[0] = _jpeg_put_block(
                bw, y_blocks[4 * m + j], lum[0], lum[1], preds[0])
        preds[1] = _jpeg_put_block(bw, cb_blocks[m], chr_[0], chr_[1],
                                   preds[1])
        preds[2] = _jpeg_put_block(bw, cr_blocks[m], chr_[0], chr_[1],
                                   preds[2])
    dqt = _jpeg_seg(0xDB, bytes([0x00])
                    + bytes(_JPEG_QTAB[_JPEG_ZZ[i]] for i in range(64))
                    + bytes([0x01])
                    + bytes(_JPEG_QTAB_C[_JPEG_ZZ[i]] for i in range(64)))
    sof = _jpeg_seg(0xC0, bytes([8]) + h.to_bytes(2, "big")
                    + w.to_bytes(2, "big")
                    + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1]))
    dht = _jpeg_seg(0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS)
                    + bytes(_JPEG_DC_VALS) + bytes([0x10])
                    + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS)
                    + bytes([0x01]) + bytes(_JPEG_DC_BITS_C)
                    + bytes(_JPEG_DC_VALS_C) + bytes([0x11])
                    + bytes(_JPEG_AC_BITS_C) + bytes(_JPEG_AC_VALS_C))
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    dri = (_jpeg_seg(0xDD, restart_interval.to_bytes(2, "big"))
           if restart_interval else b"")
    return b"\xFF\xD8" + dqt + sof + dht + dri + sos + bw.flush() \
        + b"\xFF\xD9"


def _decode_jpeg_planes(payload: bytes) \
        -> tuple[list[np.ndarray], int, int, list[tuple[int, int]]]:
    """REAL baseline JPEG decode core (T.81 baseline sequential, 1 or
    3 components, sampling factors 1–2 — covers 4:4:4, 4:2:2 and the
    dominant 4:2:0): segment walk (multi-table DQT dezigzagged, SOF0
    component list with per-component sampling, DHT canonical rebuild
    keyed by (class, id), SOS table bindings), MSB-first bit reader
    with 0xFF00 unstuffing, Huffman symbol decode, per-component DC
    prediction across interleaved MCUs (hi×vi blocks per component
    per MCU, row-major — the T.81 §A.2.3 order), AC
    run-length/EOB/ZRL, T.81 EXTEND sign recovery, dequant, and the
    exact fixed-point integer IDCT. Returns (subsampled component
    planes, width, height, [(hi, vi)] per component). Progressive
    SOFs, sampling factors > 2, and 16-bit qtables raise
    (loud-fail)."""
    b = payload or b""
    if len(b) < 4 or b[:2] != b"\xFF\xD8":
        raise ValueError("not a JPEG payload")
    i, w, h = 2, None, None
    qts: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] | None = None  # (id, tq, hi, vi)
    scan: dict[int, tuple[int, int]] | None = None
    data = None
    ri = 0  # DRI restart interval (MCUs); 0 = none
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            raise ValueError("bad segment marker")
        m = b[i + 1]
        if m == 0xD9:
            break
        ln = int.from_bytes(b[i + 2:i + 4], "big")
        # JPEG segments carry no checksum (r12, the RIFF/TIFF desync
        # class): a flipped length byte must loud-fail, not silently
        # truncate the slice below (IndexError) or resync on garbage
        if ln < 2 or i + 2 + ln > len(b):
            raise ValueError("segment length overruns payload")
        p = b[i + 4:i + 2 + ln]
        if m == 0xDB:
            j = 0
            while j < len(p):
                if j + 65 > len(p):
                    raise ValueError("truncated DQT segment")
                if p[j] >> 4 != 0:
                    raise NotImplementedError("only 8-bit qtables")
                t = [0] * 64
                for zi in range(64):
                    t[_JPEG_ZZ[zi]] = p[j + 1 + zi]
                qts[p[j] & 15] = t
                j += 65
        elif m == 0xC0:
            if len(p) < 6:
                raise ValueError("truncated SOF0 segment")
            h = int.from_bytes(p[1:3], "big")
            w = int.from_bytes(p[3:5], "big")
            nf = p[5]
            if p[0] != 8 or nf not in (1, 3):
                raise NotImplementedError(
                    "only 8-bit 1- or 3-component baseline supported")
            if len(p) < 6 + 3 * nf:
                raise ValueError("truncated SOF0 component list")
            comps = []
            for c in range(nf):
                cid, samp, tq = p[6 + 3 * c], p[7 + 3 * c], p[8 + 3 * c]
                hi, vi = samp >> 4, samp & 15
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        "only sampling factors 1-2 supported")
                comps.append((cid, tq, hi, vi))
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("only baseline SOF0 supported")
        elif m == 0xC4:
            j = 0
            while j < len(p):
                if j + 17 > len(p):
                    raise ValueError("truncated DHT segment")
                tc, th = p[j] >> 4, p[j] & 15
                if tc > 1:
                    raise ValueError("bad huffman table class")
                bits = list(p[j + 1:j + 17])
                nv = sum(bits)
                if j + 17 + nv > len(p):
                    raise ValueError("truncated DHT value list")
                vals = list(p[j + 17:j + 17 + nv])
                # T.81 F.1.2.1.2: DC values are ssss categories 0..15
                # (0..11 in 8-bit baseline); a larger value would make
                # bits_read() build an arbitrarily wide integer
                if tc == 0 and any(v > 15 for v in vals):
                    raise ValueError("DC category out of range")
                tbl, code, k = {}, 0, 0
                for lnn in range(1, 17):
                    for _ in range(bits[lnn - 1]):
                        tbl[(lnn, code)] = vals[k]
                        k += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = tbl
                j += 17 + nv
        elif m == 0xDD:
            if len(p) < 2:
                raise ValueError("truncated DRI segment")
            ri = int.from_bytes(p[0:2], "big")  # DRI restart interval
        elif m == 0xDA:
            if len(p) < 1 or len(p) < 1 + 2 * p[0]:
                raise ValueError("truncated SOS segment")
            scan = {}
            for c in range(p[0]):
                scan[p[1 + 2 * c]] = (p[2 + 2 * c] >> 4, p[2 + 2 * c] & 15)
            data = b[i + 2 + ln:len(b) - 2]
            break
        i += 2 + ln
    if not qts or w is None or comps is None or scan is None \
            or data is None:
        raise ValueError("missing DQT/SOF0/DHT/SOS segment")
    # table bindings are data-driven — resolve them loudly up front
    # instead of KeyError-ing mid-MCU on a flipped id byte
    for (cid, tq, _hi, _vi) in comps:
        if cid not in scan:
            raise ValueError(f"SOS does not cover component {cid}")
        td, ta = scan[cid]
        if (0, td) not in huff or (1, ta) not in huff:
            raise ValueError(f"missing huffman table for component {cid}")
        if tq not in qts:
            raise ValueError(f"missing quantization table {tq}")

    pos, acc, nbits = 0, 0, 0

    def bit() -> int:
        nonlocal pos, acc, nbits
        if nbits == 0:
            if pos >= len(data):
                raise ValueError("entropy data underrun")
            v = data[pos]
            pos += 1
            if v == 0xFF:
                if pos >= len(data) or data[pos] != 0x00:
                    raise ValueError("marker inside entropy data")
                pos += 1
            acc, nbits = v, 8
        nbits -= 1
        return (acc >> nbits) & 1

    def bits_read(k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | bit()
        return v

    def symbol(tbl: dict) -> int:
        code, ln = 0, 0
        while ln <= 16:
            code = (code << 1) | bit()
            ln += 1
            if (ln, code) in tbl:
                return tbl[(ln, code)]
        raise ValueError("invalid huffman code")

    def extend(v: int, s: int) -> int:
        return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1

    if w == 0 or h == 0:
        raise ValueError("zero frame dimension")
    hmax = max(c[2] for c in comps)
    vmax = max(c[3] for c in comps)
    mx = (w + 8 * hmax - 1) // (8 * hmax)
    my = (h + 8 * vmax - 1) // (8 * vmax)
    # structural plausibility BEFORE allocating planes: every block
    # costs >= 2 entropy bits (1-bit DC symbol + 1-bit EOB), so a
    # frame whose block count cannot fit in the scan data is a
    # corrupted dimension, not a picture — without this, one flipped
    # SOF height byte allocates gigabytes for a 50-byte scan
    n_blocks = mx * my * sum(hi * vi for (_, _, hi, vi) in comps)
    if n_blocks > 4 * len(data):
        raise ValueError(
            f"frame needs {n_blocks} blocks but scan data is only "
            f"{len(data)} bytes (corrupted dimensions)")
    planes = [np.zeros((my * vi * 8, mx * hi * 8), dtype=np.uint8)
              for (_, _, hi, vi) in comps]
    preds = [0] * len(comps)
    rst_expect = 0

    def restart_sync():
        """T.81 §E.2.4: at a restart boundary, discard the partial
        byte, consume the RSTn marker (bare in the entropy stream —
        never stuffed), verify the modulo-8 cycle, reset all DC
        predictors."""
        nonlocal pos, nbits, rst_expect
        nbits = 0
        if pos + 2 > len(data) or data[pos] != 0xFF \
                or not (0xD0 <= data[pos + 1] <= 0xD7):
            raise ValueError("expected restart marker")
        if data[pos + 1] - 0xD0 != rst_expect:
            raise ValueError("restart marker out of sequence")
        rst_expect = (rst_expect + 1) & 7
        pos += 2
        for ci in range(len(preds)):
            preds[ci] = 0

    mcu_idx = 0
    for myi in range(my):
        for mxi in range(mx):
            if ri and mcu_idx and mcu_idx % ri == 0:
                restart_sync()
            mcu_idx += 1
            for ci, (cid, tq, hi, vi) in enumerate(comps):
                td, ta = scan[cid]
                dc_tbl, ac_tbl = huff[(0, td)], huff[(1, ta)]
                qt = qts[tq]
                for byi in range(vi):
                    for bxi in range(hi):
                        zz = [0] * 64
                        s = symbol(dc_tbl)
                        preds[ci] += extend(bits_read(s), s)
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            sym = symbol(ac_tbl)
                            if sym == 0x00:
                                break
                            if sym == 0xF0:
                                k += 16
                                continue
                            k += sym >> 4
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = extend(bits_read(sym & 15), sym & 15)
                            k += 1
                        F = [0] * 64
                        for zi in range(64):
                            F[_JPEG_ZZ[zi]] = zz[zi] * qt[_JPEG_ZZ[zi]]
                        py = (myi * vi + byi) * 8
                        px = (mxi * hi + bxi) * 8
                        planes[ci][py:py + 8, px:px + 8] = \
                            _jpeg_idct_block(F)
    cropped = []
    for ci, (_, _, hi, vi) in enumerate(comps):
        ch = (h * vi + vmax - 1) // vmax
        cw = (w * hi + hmax - 1) // hmax
        cropped.append(planes[ci][:ch, :cw])
    return cropped, w, h, [(hi, vi) for (_, _, hi, vi) in comps]


def decode_jpeg_gray(payload: bytes) -> np.ndarray:
    """Grayscale baseline JPEG decode (see ``_decode_jpeg_planes``).
    Returns (H, W) uint8; color scans raise (use
    ``decode_jpeg_color``)."""
    planes, _, _, _ = _decode_jpeg_planes(payload)
    if len(planes) != 1:
        raise NotImplementedError(
            "multi-component scan: use decode_jpeg_color")
    return planes[0]


def decode_jpeg_color(payload: bytes) -> np.ndarray:
    """Color baseline JPEG decode: component planes from
    ``_decode_jpeg_planes``, subsampled chroma upsampled by pixel
    REPLICATION (nearest — chroma pixel (y, x) reads plane
    (y·vi//vmax, x·hi//hmax); deterministic, no interpolation
    convention to disagree on), then the JFIF YCbCr→RGB conversion
    in exact 16-bit fixed point — R = clamp(Y + ⌊(91881·(Cr−128) +
    2^15) / 2^16⌋) etc., floor semantics on negatives — so the RGB
    output is a deterministic integer function of the coefficients
    (the q163/q164 oracles replay the same conversion). Grayscale
    scans broadcast to 3 channels. Returns (H, W, 3) uint8."""
    planes, w, h, samps = _decode_jpeg_planes(payload)
    if len(planes) == 1:
        return np.repeat(planes[0][:, :, None], 3, axis=2)
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    full = []
    for pl, (hi, vi) in zip(planes, samps):
        up = np.repeat(np.repeat(pl, vmax // vi, axis=0),
                       hmax // hi, axis=1)
        full.append(up[:h, :w])
    y = full[0].astype(np.int64)
    cb = full[1].astype(np.int64) - 128
    cr = full[2].astype(np.int64) - 128
    half = 1 << 15
    r = y + ((_JPEG_FIX_RCR * cr + half) >> 16)
    g = y - ((_JPEG_FIX_GCB * cb + _JPEG_FIX_GCR * cr + half) >> 16)
    bl = y + ((_JPEG_FIX_BCB * cb + half) >> 16)
    return np.clip(np.stack([r, g, bl], axis=2), 0, 255).astype(np.uint8)


def decode_image(payload: bytes) -> np.ndarray:
    """Image decoder seam: PNG (stdlib zlib + spec unfilters), BMP
    (pure byte layout), and GIF (pure-Python LZW) payloads take REAL
    pixel paths (flattened to (H·W, C) so ``decode_features``'s
    mean(axis=0) readout yields per-channel means); JPEG — the one
    format whose decode genuinely needs codec machinery (Huffman +
    IDCT with spec-defined rounding) — falls back to the
    deterministic stand-in."""
    b = payload or b""
    if len(b) >= 8 and b[:8] == b"\x89PNG\r\n\x1a\n":
        px = decode_png_pixels(b)
        return px.reshape(-1, px.shape[2]).astype(np.float32)
    if len(b) >= 2 and b[:2] == b"BM":
        px = decode_bmp_pixels(b)
        return px.reshape(-1, 3).astype(np.float32)
    if len(b) >= 3 and b[:3] == b"GIF":
        px = decode_gif_pixels(b)
        return px.reshape(-1, 3).astype(np.float32)
    return fake_decode_image(b)


DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "image": decode_image,
    "audio": decode_audio,
}


def synth_wav_pcm16(samples: np.ndarray, sample_rate: int = 8000,
                    n_channels: int = 1) -> bytes:
    """Assemble a spec-complete mono/interleaved PCM16 WAV payload
    (RIFF + fmt + data). Test/synthesis tooling for the decode path —
    also the shape a real ingest job would emit after transcoding."""
    data = np.asarray(samples, dtype="<i2").tobytes()
    byte_rate = sample_rate * n_channels * 2
    fmt = (b"fmt " + (16).to_bytes(4, "little")
           + (1).to_bytes(2, "little")            # PCM
           + int(n_channels).to_bytes(2, "little")
           + int(sample_rate).to_bytes(4, "little")
           + int(byte_rate).to_bytes(4, "little")
           + int(n_channels * 2).to_bytes(2, "little")  # block align
           + (16).to_bytes(2, "little"))          # bits per sample
    chunk = b"data" + len(data).to_bytes(4, "little") + data \
        + (b"\x00" if len(data) & 1 else b"")
    body = b"WAVE" + fmt + chunk
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def audio_energy_features(df: DataFrame, payload_col: str = "payload",
                          id_col: str = "media_id",
                          n_windows: int = 8) -> DataFrame:
    """REAL audio feature extraction as one Arrow ``mapInPandas``
    stage: WAV decode (PCM or G.711) → header facts (audio_fmt tag,
    sample_rate, micro-exact duration n·1e6//rate) → per-window
    mean-square energies (``wav_window_energy``). Returns (id,
    audio_fmt int, sample_rate int, duration_s double,
    n_samples long, energy array<double>)."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                x, rate, tag = decode_wav_pcm(b)
                rows.append({
                    id_col: mid, "audio_fmt": tag, "sample_rate": rate,
                    "duration_s": (len(x) * 1_000_000 // rate) / 1e6
                    if rate else 0.0,
                    "n_samples": len(x),
                    "energy": wav_window_energy(b, n_windows).tolist()})
            yield pd.DataFrame(rows, columns=[
                id_col, "audio_fmt", "sample_rate", "duration_s",
                "n_samples", "energy"])

    out_schema = (f"{id_col} string, audio_fmt int, sample_rate int, "
                  "duration_s double, n_samples long, energy array<double>")
    return _stage(df, gen, out_schema, id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL FLAC (RFC 9639) — the canonical LOSSLESS audio codec, decodable
# with zero dependencies because its lossy-looking parts are all exact
# integer math: fixed/LPC prediction + Rice-coded residuals. Subset:
# mono streams, constant/verbatim/fixed(0-4)/LPC subframes, both Rice
# methods (4- and 5-bit params) incl. escaped raw partitions, wasted
# bits, CRC-8 frame-header and CRC-16 frame checks. Multi-channel
# decorrelation (L/R side) raises — the loud-fail subset seam.
# ---------------------------------------------------------------------------

_FLAC_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1],
                      3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_crc8(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x+1 (0x07), init 0 — FLAC frame header."""
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0 — FLAC frame."""
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000
                   else crc << 1) & 0xFFFF
    return crc


class _FlacBitW:
    """MSB-first bit accumulator (FLAC's bit order everywhere)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, val: int, n: int):
        self.acc = (self.acc << n) | (val & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def put_unary(self, q: int):
        self.put(0, q) if q else None
        self.put(1, 1)

    def align(self):
        if self.nbits:
            self.put(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.buf)


class _FlacBitR:
    """MSB-first bit reader over a byte buffer."""

    def __init__(self, b: bytes, pos: int = 0):
        self.b = b
        self.bit = pos * 8

    def read(self, n: int) -> int:
        out = 0
        for _ in range(n):
            i, off = divmod(self.bit, 8)
            if i >= len(self.b):
                raise ValueError("FLAC bitstream overrun")
            out = (out << 1) | ((self.b[i] >> (7 - off)) & 1)
            self.bit += 1
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self):
        self.bit = (self.bit + 7) & ~7

    def byte_pos(self) -> int:
        return self.bit // 8


def _flac_utf8(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame/sample index)."""
    if n < 0x80:
        return bytes([n])
    out, n_follow = [], 1
    while n >= (1 << (6 - n_follow)) << (6 * n_follow):
        n_follow += 1
    lead = (0xFF << (7 - n_follow)) & 0xFF | (n >> (6 * n_follow))
    out.append(lead)
    for i in range(n_follow - 1, -1, -1):
        out.append(0x80 | ((n >> (6 * i)) & 0x3F))
    return bytes(out)


def _flac_rice_params(resid: np.ndarray) -> int:
    """A legal (not necessarily optimal) Rice parameter: bounds every
    unary quotient ≤ ~15 so synth payloads stay compact."""
    if len(resid) == 0:
        return 0
    u = int(np.abs(resid).max()) * 2 + 1
    return max(0, min(14, u.bit_length() - 4))


def synth_flac(samples: np.ndarray, sample_rate: int = 8000,
               block_size: int = 64,
               subframe_plan=None) -> bytes:
    """Assemble a spec-shaped FLAC stream (mono, 16-bit): fLaC magic →
    STREAMINFO (last-metadata flag, real min/max block size, 20-bit
    rate, 36-bit total samples) → frames with real CRC-8'd headers
    (sync 0b11111111111110, UTF-8 frame number, 8-bit blocksize-1
    form) and CRC-16 footers. ``subframe_plan(frame_idx) -> (kind,
    order)`` picks per-frame prediction: ('fixed', 0-4) emits a fixed
    subframe with partition-order-1 Rice residuals, ('lpc', 2) the
    LPC twin of the order-2 fixed predictor (coeffs [2,-1], shift 0,
    precision 15 — a known-good quantized filter that exercises the
    generic LPC decode path), ('const', _) / ('verbatim', _) the two
    trivial types. Default plan rotates fixed orders. Lossless by
    construction — the decode twin must return ``samples`` exactly."""
    s = np.asarray(samples, dtype=np.int64)
    n = len(s)
    if subframe_plan is None:
        def subframe_plan(fi):
            return ("fixed", fi % 5)

    head = bytearray(b"fLaC")
    info = _FlacBitW()
    last_bs = n % block_size or block_size
    info.put(min(block_size, last_bs), 16)
    info.put(block_size, 16)
    info.put(0, 24)
    info.put(0, 24)
    info.put(sample_rate, 20)
    info.put(0, 3)                      # channels - 1 (mono)
    info.put(15, 5)                     # bps - 1
    info.put(n, 36)
    body = info.bytes() + b"\x00" * 16  # MD5 unknown
    head += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    out = bytearray(head)
    for fi, start in enumerate(range(0, n, block_size)):
        blk = s[start:start + block_size]
        bs = len(blk)
        hdr = bytearray(b"\xff\xf8")    # sync + reserved + fixed-bs
        hdr.append(0x60)                # bs code 0110 | rate code 0000
        hdr.append(0x08)                # mono | 16-bit (100) | reserved
        hdr += _flac_utf8(fi)
        hdr.append(bs - 1)
        hdr.append(_flac_crc8(bytes(hdr)))

        kind, order = subframe_plan(fi)
        bw = _FlacBitW()
        _flac_write_subframe(bw, blk, kind, order, 16)
        frame = bytes(hdr) + bw.bytes()
        out += frame + _flac_crc16(frame).to_bytes(2, "big")
    return bytes(out)


def _flac_write_subframe(bw: _FlacBitW, blk: np.ndarray, kind: str,
                         order: int, bits: int) -> None:
    """Emit one subframe at ``bits`` sample width (17 for a stereo
    side channel). Constant falls back to verbatim on non-constant
    input; fixed orders ≥ block size likewise."""
    bs = len(blk)
    mask = (1 << bits) - 1
    if kind == "fixed" and bs <= order:
        # a fixed subframe needs `order` warm-up samples; demote —
        # the r13 hypothesis find: a CONSTANT short block (every
        # 1-sample final block) used to stay "fixed" here because the
        # old demotion only switched NON-constant blocks to verbatim,
        # emitting bs warm-ups against a claimed order and a negative
        # first-partition count — a desynced bitstream. bs == order is
        # demoted too (conservative boundary): a zero-residual fixed
        # subframe is at the edge of FLAC spec validity.
        kind = "const"
    if kind == "lpc" and bs <= 2:
        # same demotion for lpc (hardcoded coeffs [2, -1], order 2):
        # bs < 2 would truncate warm-ups below the claimed order and
        # desync the bitstream; bs == 2 is the zero-residual edge
        kind = "const"
    if kind == "const":
        if not (blk == blk[0]).all():
            kind = "verbatim"           # constant only encodes constants
        else:
            bw.put(0, 1)
            bw.put(0b000000, 6)
            bw.put(0, 1)
            bw.put(int(blk[0]) & mask, bits)
            return
    if kind == "verbatim":
        bw.put(0, 1)
        bw.put(0b000001, 6)
        bw.put(0, 1)
        for v in blk:
            bw.put(int(v) & mask, bits)
        return
    if kind == "lpc":
        coeffs, shift, precision = [2, -1], 0, 15
        order = len(coeffs)
        bw.put(0, 1)
        bw.put(0b100000 | (order - 1), 6)
        bw.put(0, 1)
        for v in blk[:order]:
            bw.put(int(v) & mask, bits)
        bw.put(precision - 1, 4)
        bw.put(shift, 5)
        for c in coeffs:
            bw.put(c & ((1 << precision) - 1), precision)
        pred = np.array([
            sum(c * int(blk[i - 1 - j])
                for j, c in enumerate(coeffs)) >> shift
            for i in range(order, bs)], dtype=np.int64)
        resid = blk[order:] - pred
    else:                               # fixed
        bw.put(0, 1)
        bw.put(0b001000 | order, 6)
        bw.put(0, 1)
        for v in blk[:order]:
            bw.put(int(v) & mask, bits)
        resid = np.diff(blk, n=order) if order else blk.copy()
    po = 1 if bs % 2 == 0 and bs // 2 > order else 0
    bw.put(0b00, 2)                     # 4-bit Rice params
    bw.put(po, 4)
    pos = 0
    for pi in range(1 << po):
        cnt = (bs >> po) - (order if pi == 0 else 0)
        part = resid[pos:pos + cnt]
        pos += cnt
        p = _flac_rice_params(part)
        bw.put(p, 4)
        for r in part:
            u = (int(r) << 1) ^ (int(r) >> 63)
            bw.put_unary(u >> p)
            if p:
                bw.put(u & ((1 << p) - 1), p)


_FLAC_CH_CODE = {"indep": 0b0001, "ls": 0b1000,
                 "rs": 0b1001, "ms": 0b1010}


def synth_flac_stereo(left: np.ndarray, right: np.ndarray,
                      sample_rate: int = 8000, block_size: int = 64,
                      mode_plan=None) -> bytes:
    """Stereo FLAC with REAL interchannel decorrelation — the codec's
    remaining core feature beyond the mono path: per frame the plan
    picks independent, left/side, right/side, or mid/side coding
    (side = L−R at 17 bits; mid = (L+R)>>1 with the dropped low bit
    recoverable from side's parity — the lossless trick). Stored
    channels encode as fixed subframes of rotating order. Default
    plan rotates all four modes. The decode twin must reproduce
    (left, right) exactly."""
    l_s = np.asarray(left, dtype=np.int64)
    r_s = np.asarray(right, dtype=np.int64)
    if len(l_s) != len(r_s):
        raise ValueError("channel length mismatch")
    n = len(l_s)
    if mode_plan is None:
        def mode_plan(fi):
            return ("indep", "ls", "rs", "ms")[fi % 4]

    head = bytearray(b"fLaC")
    info = _FlacBitW()
    last_bs = n % block_size or block_size
    info.put(min(block_size, last_bs), 16)
    info.put(block_size, 16)
    info.put(0, 24)
    info.put(0, 24)
    info.put(sample_rate, 20)
    info.put(1, 3)                      # channels - 1 (stereo)
    info.put(15, 5)
    info.put(n, 36)
    body = info.bytes() + b"\x00" * 16
    head += bytes([0x80]) + len(body).to_bytes(3, "big") + body

    out = bytearray(head)
    for fi, start in enumerate(range(0, n, block_size)):
        lb = l_s[start:start + block_size]
        rb = r_s[start:start + block_size]
        bs = len(lb)
        mode = mode_plan(fi)
        hdr = bytearray(b"\xff\xf8")
        hdr.append(0x60)
        hdr.append((_FLAC_CH_CODE[mode] << 4) | 0x08)
        hdr += _flac_utf8(fi)
        hdr.append(bs - 1)
        hdr.append(_flac_crc8(bytes(hdr)))
        side = lb - rb
        if mode == "indep":
            stored = [(lb, 16), (rb, 16)]
        elif mode == "ls":
            stored = [(lb, 16), (side, 17)]
        elif mode == "rs":
            stored = [(side, 17), (rb, 16)]
        else:                           # ms
            stored = [((lb + rb) >> 1, 16), (side, 17)]
        bw = _FlacBitW()
        for c, (blk, bits) in enumerate(stored):
            _flac_write_subframe(bw, blk, "fixed", (fi + c) % 5, bits)
        frame = bytes(hdr) + bw.bytes()
        out += frame + _flac_crc16(frame).to_bytes(2, "big")
    return bytes(out)


_FLAC_BS_CODE = {1: 192, **{i: 576 << (i - 2) for i in range(2, 6)},
                 **{i: 256 << (i - 8) for i in range(8, 16)}}
_FLAC_SS_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _flac_read_subframe(r: _FlacBitR, bs: int, sub_bps: int) -> list:
    """One subframe at ``sub_bps`` effective width (17 for a side
    channel): constant / verbatim / fixed(0-4) / LPC, wasted bits,
    Rice residuals in both partition methods incl. escaped raw."""
    r.read(1)                           # subframe pad bit
    stype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = r.read_unary() + 1
    eff = sub_bps - wasted
    if stype == 0b000000:
        blk = [r.read_signed(eff)] * bs
    elif stype == 0b000001:
        blk = [r.read_signed(eff) for _ in range(bs)]
    else:
        if stype >> 3 == 0b001:
            order = stype & 0x07
            if order > 4:
                raise ValueError(f"reserved fixed order {order}")
            coeffs, shift = _FLAC_FIXED_COEFFS[order], 0
            blk = [r.read_signed(eff) for _ in range(order)]
        elif stype >> 5 == 1:
            order = (stype & 0x1F) + 1
            blk = [r.read_signed(eff) for _ in range(order)]
            precision = r.read(4) + 1
            shift = r.read_signed(5)
            coeffs = [r.read_signed(precision)
                      for _ in range(order)]
        else:
            raise ValueError(f"reserved subframe type {stype:06b}")
        method = r.read(2)
        if method not in (0, 1):
            raise ValueError(f"reserved residual method {method}")
        pbits, esc = (4, 0xF) if method == 0 else (5, 0x1F)
        po = r.read(4)
        resid: list[int] = []
        for pi in range(1 << po):
            cnt = (bs >> po) - (order if pi == 0 else 0)
            p = r.read(pbits)
            if p == esc:
                raw = r.read(5)
                resid += [r.read_signed(raw) if raw else 0
                          for _ in range(cnt)]
            else:
                for _ in range(cnt):
                    u = (r.read_unary() << p) | (r.read(p) if p
                                                 else 0)
                    resid.append((u >> 1) ^ -(u & 1))
        for i, rv in enumerate(resid):
            pred = sum(c * blk[order + i - 1 - j]
                       for j, c in enumerate(coeffs))
            blk.append(rv + (pred >> shift if shift >= 0
                             else pred << -shift))
    if wasted:
        blk = [v << wasted for v in blk]
    return blk


def decode_flac(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL FLAC decode (mono + stereo): magic + metadata-block walk
    (STREAMINFO parsed, others skipped via the is-last flag), then per
    frame — sync + CRC-8-verified header (all blocksize/sample-size
    code forms, UTF-8 coded number), per-channel subframes
    (constant / verbatim / fixed(0-4) / LPC, wasted bits, Rice
    residuals in both partition methods incl. the escaped raw-bits
    form), the four stereo channel assignments (independent,
    left/side, right/side, mid/side — side at bps+1, mid's dropped
    low bit recovered from side parity), and a CRC-16-verified
    footer. Returns (int32 samples — shape (n,) mono, (n, 2) stereo —
    and sample_rate). >2 channels raises NotImplementedError (honest
    subset seam)."""
    b = payload or b""
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos, sr, bps, total, n_ch = 4, None, None, None, 1
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated metadata")
        last, btype = b[pos] >> 7, b[pos] & 0x7F
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        if btype == 0:
            r = _FlacBitR(b, pos + 4)
            r.read(64)                  # block sizes, frame sizes
            r.read(16)
            sr = r.read(20)
            n_ch = r.read(3) + 1
            if n_ch > 2:
                raise NotImplementedError(
                    "only mono/stereo FLAC supported")
            bps = r.read(5) + 1
            total = r.read(36)
        pos += 4 + blen
        if last:
            break
    if sr is None:
        raise ValueError("missing STREAMINFO")

    frames: list[np.ndarray] = []
    decoded = 0
    while decoded < total:
        fstart = pos
        r = _FlacBitR(b, pos)
        if r.read(14) != 0b11111111111110:
            raise ValueError("lost frame sync")
        r.read(1)                       # reserved
        r.read(1)                       # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch = r.read(4)
        ss_code = r.read(3)
        r.read(1)
        if ch <= 7:
            mode, f_nch = "indep", ch + 1
            if f_nch > 2:
                raise NotImplementedError(
                    "only mono/stereo FLAC supported")
        elif ch in (0b1000, 0b1001, 0b1010):
            mode = {0b1000: "ls", 0b1001: "rs", 0b1010: "ms"}[ch]
            f_nch = 2
        else:
            raise ValueError(f"reserved channel assignment {ch:04b}")
        lead = r.read(8)                # UTF-8 coded number
        n_follow = 0
        while lead & (0x80 >> n_follow):
            n_follow += 1
        if n_follow:
            for _ in range(n_follow - 1):
                r.read(8)
        if bs_code == 0b0110:
            bs = r.read(8) + 1
        elif bs_code == 0b0111:
            bs = r.read(16) + 1
        else:
            bs = _FLAC_BS_CODE.get(bs_code)
            if bs is None:
                raise ValueError(f"reserved blocksize code {bs_code}")
        if sr_code == 0b1100:
            r.read(8)
        elif sr_code in (0b1101, 0b1110):
            r.read(16)
        fbps = _FLAC_SS_CODE.get(ss_code, bps)
        hdr_end = r.byte_pos()
        if _flac_crc8(b[fstart:hdr_end]) != b[hdr_end]:
            raise ValueError("frame header CRC-8 mismatch")
        r.read(8)                       # consume the CRC byte

        chans = []
        for c in range(f_nch):
            side_ch = ((mode == "ls" and c == 1)
                       or (mode == "rs" and c == 0)
                       or (mode == "ms" and c == 1))
            chans.append(_flac_read_subframe(
                r, bs, fbps + (1 if side_ch else 0)))
        if mode == "ls":
            lch = chans[0]
            rch = [a - s for a, s in zip(chans[0], chans[1])]
            chans = [lch, rch]
        elif mode == "rs":
            rch = chans[1]
            lch = [a + s for a, s in zip(chans[1], chans[0])]
            chans = [lch, rch]
        elif mode == "ms":
            lch, rch = [], []
            for m_v, s_v in zip(chans[0], chans[1]):
                m2 = (m_v << 1) | (s_v & 1)   # recover dropped low bit
                lch.append((m2 + s_v) >> 1)
                rch.append((m2 - s_v) >> 1)
            chans = [lch, rch]
        r.align()
        crc_pos = r.byte_pos()
        if _flac_crc16(b[fstart:crc_pos]) != int.from_bytes(
                b[crc_pos:crc_pos + 2], "big"):
            raise ValueError("frame CRC-16 mismatch")
        pos = crc_pos + 2
        frames.append(np.array(chans, dtype=np.int32).T)
        decoded += bs
    out = np.concatenate(frames, axis=0)[:total]
    return (out[:, 0] if n_ch == 1 else out), sr


def flac_audio_features(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id",
                        n_windows: int = 8) -> DataFrame:
    """``audio_energy_features``'s FLAC twin: real FLAC decode →
    header facts + per-window mean-square energies (exact int64
    sums, one trailing division), one Arrow ``mapInPandas`` stage.
    Stereo payloads emit channel-major energies (all of channel 0's
    windows, then channel 1's) so the array length is
    n_windows × n_channels; mono output is unchanged."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                x, rate = decode_flac(b)
                x2 = x[:, None] if x.ndim == 1 else x
                n = x2.shape[0]
                win = max(1, n // n_windows)
                en = []
                for c in range(x2.shape[1]):
                    xs = x2[:, c].astype(np.int64)
                    for w in range(n_windows):
                        seg = xs[w * win:(w + 1) * win]
                        en.append(float(int(seg @ seg)) / len(seg)
                                  if len(seg) else 0.0)
                rows.append({
                    id_col: mid, "sample_rate": rate,
                    "n_channels": x2.shape[1],
                    "duration_s": (n * 1_000_000 // rate) / 1e6
                    if rate else 0.0,
                    "n_samples": n, "energy": en})
            yield pd.DataFrame(rows, columns=[
                id_col, "sample_rate", "n_channels", "duration_s",
                "n_samples", "energy"])

    out_schema = (f"{id_col} string, sample_rate int, "
                  "n_channels int, duration_s double, "
                  "n_samples long, energy array<double>")
    return _stage(df, gen, out_schema, id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL video container: AVI (RIFF) walk + raw-DIB frame decode + sampling.
# The container layer — header lists, stream format, frame chunks, index —
# is exactly what a 100-TB video ingest must parse before any codec runs;
# frames here are uncompressed 24-bit DIB ('DIB ' handler, BI_RGB), the
# one video payload decodable with zero codec dependencies. Compressed
# streams (biCompression != 0) raise — the loud-fail stub contract.
# ---------------------------------------------------------------------------

def synth_avi(frames: np.ndarray, fps: int = 4) -> bytes:
    """Assemble a spec-shaped AVI: RIFF('AVI ') → LIST hdrl (avih +
    LIST strl (strh 'vids'/'DIB ' + strf BITMAPINFOHEADER)) → LIST
    movi ('00db' chunks: bottom-up BGR rows, 4-byte padded — the BMP
    raster) → idx1 (AVIIF_KEYFRAME entries, offsets relative to the
    'movi' fourcc). Input (n_frames, H, W, 3) uint8 RGB. The encode
    twin of ``decode_avi_frames``."""
    fr = np.asarray(frames, dtype=np.uint8)
    nf, h, w, _ = fr.shape
    stride = (w * 3 + 3) & ~3
    sz = h * stride

    def chunk(cid: bytes, data: bytes) -> bytes:
        return cid + len(data).to_bytes(4, "little") + data \
            + (b"\x00" if len(data) & 1 else b"")

    frame_bytes = []
    for f in range(nf):
        body = bytearray()
        for r in range(h - 1, -1, -1):          # bottom-up
            row = fr[f, r, :, ::-1].tobytes()   # RGB -> BGR
            body += row + b"\x00" * (stride - len(row))
        frame_bytes.append(bytes(body))
    avih = ((1_000_000 // fps).to_bytes(4, "little")    # µs per frame
            + (sz * fps).to_bytes(4, "little")          # max bytes/sec
            + (0).to_bytes(4, "little")                 # padding granularity
            + (0x10).to_bytes(4, "little")              # AVIF_HASINDEX
            + nf.to_bytes(4, "little")                  # total frames
            + (0).to_bytes(4, "little")                 # initial frames
            + (1).to_bytes(4, "little")                 # streams
            + sz.to_bytes(4, "little")                  # suggested buffer
            + w.to_bytes(4, "little") + h.to_bytes(4, "little")
            + b"\x00" * 16)                             # reserved
    strh = (b"vids" + b"DIB "
            + (0).to_bytes(4, "little")                 # flags
            + (0).to_bytes(2, "little")                 # priority
            + (0).to_bytes(2, "little")                 # language
            + (0).to_bytes(4, "little")                 # initial frames
            + (1).to_bytes(4, "little")                 # scale
            + fps.to_bytes(4, "little")                 # rate (fps=rate/scale)
            + (0).to_bytes(4, "little")                 # start
            + nf.to_bytes(4, "little")                  # length
            + sz.to_bytes(4, "little")                  # suggested buffer
            + (0xFFFFFFFF).to_bytes(4, "little")        # quality (default)
            + (0).to_bytes(4, "little")                 # sample size
            + (0).to_bytes(2, "little") + (0).to_bytes(2, "little")
            + w.to_bytes(2, "little") + h.to_bytes(2, "little"))  # rcFrame
    strf = ((40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + (0).to_bytes(4, "little")                 # BI_RGB
            + sz.to_bytes(4, "little") + b"\x00" * 16)
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih)
                 + chunk(b"LIST", b"strl" + chunk(b"strh", strh)
                         + chunk(b"strf", strf)))
    movi = chunk(b"LIST", b"movi"
                 + b"".join(chunk(b"00db", fb) for fb in frame_bytes))
    idx = bytearray()
    off = 4                                     # past the 'movi' fourcc
    for fb in frame_bytes:
        idx += (b"00db" + (0x10).to_bytes(4, "little")
                + off.to_bytes(4, "little")
                + len(fb).to_bytes(4, "little"))
        off += 8 + len(fb) + (len(fb) & 1)
    body = b"AVI " + hdrl + movi + chunk(b"idx1", bytes(idx))
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def decode_avi_frames(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL AVI container decode: RIFF walk with LIST recursion —
    hdrl/avih gives (W, H), strl/strh ('vids') gives the exact
    rational frame rate, strl/strf validates 24-bit BI_RGB, then
    every '00db'/'00dc' chunk under LIST movi decodes as a bottom-up
    4-byte-padded BGR raster. Returns ((n_frames, H, W, 3) uint8
    RGB, fps). Compressed or non-24-bit streams raise.

    RIFF sizes carry no checksum, so the walk enforces STRUCTURE
    instead (r12, the TIFF/BMP desynced-offset class): every chunk
    must fit inside its parent, children must tile the parent
    exactly, and a frame chunk must be exactly h*stride bytes — a
    flipped size byte therefore loud-fails instead of silently
    resynchronizing the movi walk on garbage and dropping frames.

    The exact-raster check runs on every frame chunk BEFORE the
    output array is allocated: each frame is then a slice of the
    payload, so the decoded array is bounded by ``len(payload)`` and
    a flipped avih width/height raises ValueError instead of asking
    for gigabytes."""
    b = payload or b""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")
    riff_end = 8 + int.from_bytes(b[4:8], "little")
    if riff_end > len(b) or riff_end < 12:
        raise ValueError("RIFF size exceeds payload")

    def walk(start: int, end: int):
        i = start
        while i + 8 <= end:
            cid = b[i:i + 4]
            csize = int.from_bytes(b[i + 4:i + 8], "little")
            step = 8 + csize + (csize & 1)
            if i + step > end:
                raise ValueError(
                    "RIFF chunk overruns its parent (desynced size)")
            yield cid, i + 8, csize
            i += step
        if i != end:
            raise ValueError(
                "RIFF children do not tile their parent (desynced size)")

    w = h = None
    rate = scale = bpp = compression = None
    frames: list[tuple[int, int]] = []
    for cid, off, sz in walk(12, riff_end):
        if cid != b"LIST":
            continue
        four = b[off:off + 4]
        if four == b"hdrl":
            for cid2, off2, sz2 in walk(off + 4, off + sz):
                if cid2 == b"avih":
                    # fixed-offset reads must stay inside the chunk's
                    # OWN csize — a short avih would otherwise read the
                    # neighboring chunk's bytes (the desynced-slice
                    # class); avih carries 10 DWORDs before dwWidth
                    if sz2 < 40:
                        raise ValueError(
                            f"avih chunk too short ({sz2} < 40)")
                    w = int.from_bytes(b[off2 + 32:off2 + 36], "little")
                    h = int.from_bytes(b[off2 + 36:off2 + 40], "little")
                elif cid2 == b"LIST" and b[off2:off2 + 4] == b"strl":
                    for cid3, off3, sz3 in walk(off2 + 4, off2 + sz2):
                        if cid3 == b"strh" and b[off3:off3 + 4] == b"vids":
                            if sz3 < 28:
                                raise ValueError(
                                    f"strh chunk too short ({sz3} < 28)")
                            scale = int.from_bytes(
                                b[off3 + 20:off3 + 24], "little")
                            rate = int.from_bytes(
                                b[off3 + 24:off3 + 28], "little")
                        elif cid3 == b"strf":
                            if sz3 < 20:
                                raise ValueError(
                                    f"strf chunk too short ({sz3} < 20)")
                            bpp = int.from_bytes(
                                b[off3 + 14:off3 + 16], "little")
                            compression = int.from_bytes(
                                b[off3 + 16:off3 + 20], "little")
        elif four == b"movi":
            for cid2, off2, sz2 in walk(off + 4, off + sz):
                if cid2[2:4] in (b"db", b"dc"):
                    frames.append((off2, sz2))
    if w is None or rate is None or not frames:
        raise ValueError("missing hdrl/strh/movi structure")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit DIB streams supported "
            f"(bpp={bpp}, compression={compression})")
    stride = (w * 3 + 3) & ~3
    for fi, (_, sz) in enumerate(frames):
        # exact, not >=: an uncompressed DIB frame is h*stride bytes
        # by construction, and a size that "merely" overshoots is a
        # desynced walk, not extra padding. Checked for every frame
        # BEFORE allocating, so (W, H) from avih can't size `out`.
        if sz != h * stride:
            raise ValueError(
                f"frame {fi} size {sz} != DIB raster {h * stride}")
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for fi, (o, _) in enumerate(frames):
        rows = np.frombuffer(b[o:o + h * stride], dtype=np.uint8) \
            .reshape(h, stride)[:, :w * 3]
        out[fi] = rows.reshape(h, w, 3)[:, :, ::-1][::-1]  # BGR→RGB, flip
    return out, (rate // scale if scale else 0)


def avi_frame_stats(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id",
                    every_s: float = 0.5) -> DataFrame:
    """REAL video frame sampling as one Arrow ``mapInPandas`` stage:
    AVI container decode → sample frames at indices 0, k, 2k, … where
    k = max(1, round(every_s·fps)) — the schedule ``sample_frames``
    only plans, executed against actual frame bytes — then per
    sampled frame the exact int64 pixel sum and sum-of-squares
    (byte-reproducible; a raster/stride/index bug breaks them).
    Returns (id, n_frames, fps, width, height, frame_idx,
    ts_ms exact = idx·1000//fps, psum, psqsum)."""
    cols = [id_col, "n_frames", "fps", "width", "height",
            "frame_idx", "ts_ms", "psum", "psqsum"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                fr, fps = decode_avi_frames(b)
                k = max(1, int(every_s * fps + 0.5))
                for fi in range(0, len(fr), k):
                    px = fr[fi].astype(np.int64)
                    rows.append({
                        id_col: mid, "n_frames": len(fr), "fps": fps,
                        "width": int(fr.shape[2]),
                        "height": int(fr.shape[1]),
                        "frame_idx": fi,
                        "ts_ms": fi * 1000 // fps if fps else 0,
                        "psum": int(px.sum()),
                        "psqsum": int((px * px).sum())})
            yield pd.DataFrame(rows, columns=cols)

    out_schema = (f"{id_col} string, n_frames int, fps int, width int, "
                  "height int, frame_idx int, ts_ms long, psum long, "
                  "psqsum long")
    return _stage(df, gen, out_schema, id_col, payload_col)


def _box(btype: bytes, payload: bytes) -> bytes:
    """One ISO-BMFF box: u32 big-endian size (incl. the 8-byte header)
    + fourcc + payload."""
    return (len(payload) + 8).to_bytes(4, "big") + btype + payload


def _full(btype: bytes, version: int, flags: int, payload: bytes) -> bytes:
    """FullBox: version byte + 24-bit flags before the payload."""
    return _box(btype, bytes([version]) + flags.to_bytes(3, "big") + payload)


_MP4_UNITY_MATRIX = b"".join(
    v.to_bytes(4, "big") for v in
    (0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000))


def synth_mp4(frames: np.ndarray, fps: int = 5,
              timescale: int = 600) -> bytes:
    """Assemble a spec-shaped ISO-BMFF (MP4) file with an uncompressed
    'raw ' RGB24 video track (ISO 14496-12 box layout; QuickTime 'raw '
    sample entry, top-down unpadded RGB rows): ftyp → mdat (samples
    back-to-back) → moov(mvhd, trak(tkhd, mdia(mdhd, hdlr 'vide',
    minf(vmhd, dinf/dref, stbl(stsd/stts/stsc/stsz/stco))))). The
    sample tables are REAL — stts carries the uniform frame delta
    (timescale/fps), stsz the per-sample byte sizes, stsc/stco the
    single all-samples chunk whose absolute file offset points into
    mdat — so the decode twin must resolve samples the way any MP4
    demuxer does. ``timescale`` must be divisible by ``fps``. The
    encode twin of ``decode_mp4_frames``."""
    fr = np.asarray(frames, dtype=np.uint8)
    nf, h, w, _ = fr.shape
    if timescale % fps:
        raise ValueError("timescale must be a multiple of fps")
    delta = timescale // fps
    duration = nf * delta
    samples = [fr[f].tobytes() for f in range(nf)]  # top-down RGB rows

    ftyp = _box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big")
                + b"isom" + b"iso2")
    mdat = _box(b"mdat", b"".join(samples))
    first_sample_off = len(ftyp) + 8            # into mdat's payload

    mvhd = _full(b"mvhd", 0, 0,
                 (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
                 + timescale.to_bytes(4, "big")
                 + duration.to_bytes(4, "big")
                 + (0x00010000).to_bytes(4, "big")      # rate 1.0
                 + (0x0100).to_bytes(2, "big")          # volume 1.0
                 + b"\x00" * 10 + _MP4_UNITY_MATRIX
                 + b"\x00" * 24 + (2).to_bytes(4, "big"))
    tkhd = _full(b"tkhd", 0, 7,                         # enabled|in movie
                 (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
                 + (1).to_bytes(4, "big") + b"\x00" * 4
                 + duration.to_bytes(4, "big") + b"\x00" * 8
                 + (0).to_bytes(2, "big") + (0).to_bytes(2, "big")
                 + (0).to_bytes(2, "big") + b"\x00" * 2
                 + _MP4_UNITY_MATRIX
                 + (w << 16).to_bytes(4, "big")          # 16.16 fixed
                 + (h << 16).to_bytes(4, "big"))
    mdhd = _full(b"mdhd", 0, 0,
                 (0).to_bytes(4, "big") + (0).to_bytes(4, "big")
                 + timescale.to_bytes(4, "big")
                 + duration.to_bytes(4, "big")
                 + (0x55C4).to_bytes(2, "big")          # 'und'
                 + (0).to_bytes(2, "big"))
    hdlr = _full(b"hdlr", 0, 0,
                 b"\x00" * 4 + b"vide" + b"\x00" * 12
                 + b"VideoHandler\x00")
    # VisualSampleEntry 'raw ' (uncompressed RGB), depth 24
    entry = (b"\x00" * 6 + (1).to_bytes(2, "big")       # data_ref_index
             + (0).to_bytes(2, "big") + (0).to_bytes(2, "big")
             + b"\x00" * 12
             + w.to_bytes(2, "big") + h.to_bytes(2, "big")
             + (0x00480000).to_bytes(4, "big")          # 72 dpi
             + (0x00480000).to_bytes(4, "big")
             + b"\x00" * 4 + (1).to_bytes(2, "big")     # frame_count
             + b"\x00" * 32                             # compressorname
             + (24).to_bytes(2, "big")
             + (0xFFFF).to_bytes(2, "big"))             # predefined -1
    stsd = _full(b"stsd", 0, 0,
                 (1).to_bytes(4, "big") + _box(b"raw ", entry))
    stts = _full(b"stts", 0, 0,
                 (1).to_bytes(4, "big") + nf.to_bytes(4, "big")
                 + delta.to_bytes(4, "big"))
    stsc = _full(b"stsc", 0, 0,
                 (1).to_bytes(4, "big") + (1).to_bytes(4, "big")
                 + nf.to_bytes(4, "big") + (1).to_bytes(4, "big"))
    stsz = _full(b"stsz", 0, 0,
                 (0).to_bytes(4, "big") + nf.to_bytes(4, "big")
                 + b"".join(len(s).to_bytes(4, "big") for s in samples))
    stco = _full(b"stco", 0, 0,
                 (1).to_bytes(4, "big")
                 + first_sample_off.to_bytes(4, "big"))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    dref = _full(b"dref", 0, 0,
                 (1).to_bytes(4, "big") + _full(b"url ", 0, 1, b""))
    minf = _box(b"minf", _full(b"vmhd", 0, 1, b"\x00" * 8)
                + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov


def _mp4_boxes(b: bytes, start: int, end: int):
    """Iterate (fourcc, payload_start, payload_end) over the sibling
    boxes in b[start:end]. Handles size==0 (to end-of-enclosure) and
    size==1 (64-bit largesize) per ISO 14496-12 §4.2."""
    i = start
    while i + 8 <= end:
        size = int.from_bytes(b[i:i + 4], "big")
        btype = b[i + 4:i + 8]
        body = i + 8
        if size == 1:
            if i + 16 > end:
                raise ValueError("truncated largesize box header")
            size = int.from_bytes(b[i + 8:i + 16], "big")
            body = i + 16
        elif size == 0:
            size = end - i
        if size < body - i or i + size > end:
            raise ValueError(f"box {btype!r} overruns its enclosure")
        yield btype, body, i + size
        i += size


def _mp4_find(b: bytes, start: int, end: int, path: list[bytes]
              ) -> tuple[int, int] | None:
    """Resolve a nested box path (first match at each level)."""
    for btype, s, e in _mp4_boxes(b, start, end):
        if btype == path[0]:
            if len(path) == 1:
                return s, e
            return _mp4_find(b, s, e, path[1:])
    return None


def decode_mp4_frames(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL ISO-BMFF (MP4) demux for the 'raw ' RGB24 subset: box walk
    to moov/trak/mdia, mdhd timescale, stsd sample-entry validation
    (fourcc 'raw ', depth 24), then sample resolution the way any MP4
    reader does — stsc runs → samples per chunk, stco → chunk file
    offsets, stsz → per-sample sizes accumulated within each chunk —
    and each sample slices straight out of the file bytes (NOT assumed
    contiguous in mdat). stts's uniform delta gives fps =
    timescale // delta. Returns ((n, H, W, 3) uint8 RGB, fps).
    Non-'raw ' codecs or non-24-bit depth raise (honest-contract
    seam, like AVI's compressed streams)."""
    b = payload or b""
    if len(b) < 12 or b[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no leading ftyp)")
    stbl = _mp4_find(b, 0, len(b),
                     [b"moov", b"trak", b"mdia", b"minf", b"stbl"])
    mdhd = _mp4_find(b, 0, len(b), [b"moov", b"trak", b"mdia", b"mdhd"])
    if stbl is None or mdhd is None:
        raise ValueError("missing moov/trak/mdia structure")
    ms, me = mdhd
    mversion = b[ms]
    timescale = int.from_bytes(
        b[ms + 20:ms + 24] if mversion == 1 else b[ms + 12:ms + 16], "big")

    boxes = {t: (s, e) for t, s, e in _mp4_boxes(b, *stbl)}
    for need in (b"stsd", b"stts", b"stsc", b"stsz", b"stco"):
        if need not in boxes:
            raise ValueError(f"missing {need.decode()} in stbl")

    s, e = boxes[b"stsd"]
    entry = next(_mp4_boxes(b, s + 8, e), None)
    if entry is None:
        raise ValueError("empty stsd")
    fourcc, es, ee = entry
    if fourcc != b"raw ":
        raise NotImplementedError(
            f"only uncompressed 'raw ' RGB tracks supported "
            f"(sample entry {fourcc!r})")
    w = int.from_bytes(b[es + 24:es + 26], "big")
    h = int.from_bytes(b[es + 26:es + 28], "big")
    depth = int.from_bytes(b[es + 74:es + 76], "big")
    if depth != 24:
        raise NotImplementedError(f"only 24-bit raw RGB (depth={depth})")

    s, e = boxes[b"stts"]
    n_tt = int.from_bytes(b[s + 4:s + 8], "big")
    if n_tt < 1:
        raise ValueError("empty stts")
    delta = int.from_bytes(b[s + 12:s + 16], "big")
    fps = timescale // delta if delta else 0

    # every sample-table count is validated against its OWN box size
    # before building the table (r12): the counts carry no checksum,
    # and one flipped entry-count byte otherwise materializes a
    # multi-million-entry table of out-of-bounds zeros — a memory/CPU
    # bomb, not a parse error
    s, e = boxes[b"stsz"]
    fixed = int.from_bytes(b[s + 4:s + 8], "big")
    n_samples = int.from_bytes(b[s + 8:s + 12], "big")
    if fixed:
        if fixed * n_samples > len(b):
            raise ValueError("stsz sample bytes exceed payload")
        sizes = [fixed] * n_samples
    else:
        if 12 + 4 * n_samples > e - s:
            raise ValueError("stsz table overruns its box")
        sizes = [int.from_bytes(b[s + 12 + 4 * i:s + 16 + 4 * i], "big")
                 for i in range(n_samples)]

    s, e = boxes[b"stco"]
    n_chunks = int.from_bytes(b[s + 4:s + 8], "big")
    if 8 + 4 * n_chunks > e - s:
        raise ValueError("stco table overruns its box")
    chunk_offs = [int.from_bytes(b[s + 8 + 4 * i:s + 12 + 4 * i], "big")
                  for i in range(n_chunks)]

    s, e = boxes[b"stsc"]
    n_runs = int.from_bytes(b[s + 4:s + 8], "big")
    if 8 + 12 * n_runs > e - s:
        raise ValueError("stsc table overruns its box")
    runs = [(int.from_bytes(b[s + 8 + 12 * i:s + 12 + 12 * i], "big"),
             int.from_bytes(b[s + 12 + 12 * i:s + 16 + 12 * i], "big"))
            for i in range(n_runs)]        # (first_chunk 1-based, spc)

    # chunk index -> samples_per_chunk from the stsc run table
    offsets: list[int] = []
    si = 0
    for ci in range(n_chunks):
        spc = 0
        for first, n in runs:
            if first <= ci + 1:
                spc = n
        pos = chunk_offs[ci]
        for _ in range(spc):
            if si >= n_samples:
                break
            offsets.append(pos)
            pos += sizes[si]
            si += 1
    if si != n_samples:
        raise ValueError(f"stsc/stco resolve {si} of {n_samples} samples")

    need = w * h * 3
    if n_samples * need > len(b):
        raise ValueError("frame bytes exceed payload")
    out = np.empty((n_samples, h, w, 3), dtype=np.uint8)
    for fi, (o, sz) in enumerate(zip(offsets, sizes)):
        if sz != need or o + sz > len(b):
            raise ValueError(f"sample {fi} size/offset out of range")
        out[fi] = np.frombuffer(b[o:o + sz], dtype=np.uint8) \
            .reshape(h, w, 3)
    return out, fps


def mp4_frame_stats(df: DataFrame, payload_col: str = "payload",
                    id_col: str = "media_id",
                    every_s: float = 0.5) -> DataFrame:
    """``avi_frame_stats``'s ISO-BMFF twin: MP4 demux → stride
    sampling at k = max(1, round(every_s·fps)) → exact int64 pixel
    sums per sampled frame, all in one Arrow ``mapInPandas`` stage.
    Same output schema as the AVI path, so downstream consumers are
    container-agnostic."""
    cols = [id_col, "n_frames", "fps", "width", "height",
            "frame_idx", "ts_ms", "psum", "psqsum"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                fr, fps = decode_mp4_frames(b)
                k = max(1, int(every_s * fps + 0.5))
                for fi in range(0, len(fr), k):
                    px = fr[fi].astype(np.int64)
                    rows.append({
                        id_col: mid, "n_frames": len(fr), "fps": fps,
                        "width": int(fr.shape[2]),
                        "height": int(fr.shape[1]),
                        "frame_idx": fi,
                        "ts_ms": fi * 1000 // fps if fps else 0,
                        "psum": int(px.sum()),
                        "psqsum": int((px * px).sum())})
            yield pd.DataFrame(rows, columns=cols)

    out_schema = (f"{id_col} string, n_frames int, fps int, width int, "
                  "height int, frame_idx int, ts_ms long, psum long, "
                  "psqsum long")
    return _stage(df, gen, out_schema, id_col, payload_col)


# ---------------------------------------------------------------------------
# Ogg (RFC 3533) — page CRC verification + lacing-based packet
# reassembly, lifting the Vorbis/Opus handling from the header-only
# _probe_one branch to a full q-gated container walk (r07 verdict
# item 8). Completes container parity with AVI/MP4/EBML. Zero new
# dependencies: Ogg's CRC-32 (poly 0x04C11DB7, init 0, no reflection,
# no final xor — NOT zlib's reflected CRC) is a 256-entry table.
# ---------------------------------------------------------------------------

def _ogg_crc_table() -> list[int]:
    tbl = []
    for n in range(256):
        r = n << 24
        for _ in range(8):
            r = ((r << 1) ^ 0x04C11DB7 if r & 0x80000000
                 else r << 1) & 0xFFFFFFFF
        tbl.append(r)
    return tbl


_OGG_CRC = _ogg_crc_table()


def ogg_crc(data: bytes) -> int:
    """Ogg page CRC-32: MSB-first, unreflected, init/xorout 0."""
    r = 0
    for byte in data:
        r = ((r << 8) & 0xFFFFFFFF) ^ _OGG_CRC[((r >> 24) ^ byte) & 0xFF]
    return r


def synth_ogg(packets: list[bytes], serial: int,
              granules: list[int], page_payload_cap: int = 510,
              corrupt: tuple[int, int, int] | None = None) -> bytes:
    """Assemble a spec-shaped Ogg stream: one page RUN per packet
    (packet i starts a fresh page; if its size exceeds
    ``page_payload_cap`` it spans continuation pages, with the
    continued-packet flag 0x01 set and granule -1 on every page
    except the one where it ends — RFC 3533 §6). BOS (0x02) on the
    first page, EOS (0x04) on the last; ``granules[i]`` is the
    granule position of packet i's final page. Lacing is real: 255
    runs with a terminating <255 value, including the required
    trailing 0 when the size is a 255 multiple. ``corrupt =
    (packet_idx, byte_offset, xor)`` flips payload bytes AFTER the
    CRC is sealed — the reader's CRC check must catch it. The
    encode twin of ``ogg_packets``."""
    pages: list[bytearray] = []
    pkt_first_byte: list[tuple[int, int]] = []  # (page_idx, payload_off)
    seq = 0
    for pi, pkt in enumerate(packets):
        off = 0
        first_of_pkt = True
        while True:
            chunk = pkt[off:off + page_payload_cap]
            off += len(chunk)
            done = off >= len(pkt)
            lacing = bytearray()
            n = len(chunk)
            while n >= 255:
                lacing.append(255)
                n -= 255
            if done:
                lacing.append(n)    # <255 terminator (0 if exact 255s)
            elif n:
                raise ValueError("page_payload_cap must be a 255 multiple")
            flags = ((0x00 if first_of_pkt else 0x01)
                     | (0x02 if pi == 0 and first_of_pkt else 0)
                     | (0x04 if pi == len(packets) - 1 and done else 0))
            gran = granules[pi] if done else -1
            hdr = (b"OggS" + b"\x00" + bytes([flags])
                   + gran.to_bytes(8, "little", signed=True)
                   + serial.to_bytes(4, "little")
                   + seq.to_bytes(4, "little")
                   + b"\x00\x00\x00\x00"       # CRC placeholder
                   + bytes([len(lacing)]) + bytes(lacing))
            page = bytearray(hdr + chunk)
            crc = ogg_crc(bytes(page))
            page[22:26] = crc.to_bytes(4, "little")
            if first_of_pkt:
                pkt_first_byte.append((len(pages), 27 + len(lacing)))
            pages.append(page)
            seq += 1
            first_of_pkt = False
            if done:
                break
    if corrupt is not None:
        cpi, boff, xor = corrupt
        pg, po = pkt_first_byte[cpi]
        pages[pg][po + boff] ^= xor
    return b"".join(bytes(p) for p in pages)


def ogg_packets(df: DataFrame, payload_col: str = "payload",
                id_col: str = "media_id") -> DataFrame:
    """REAL Ogg container walk in one Arrow ``mapInPandas`` stage:
    verify each page's CRC (recompute with the CRC field zeroed),
    reassemble packets from the lacing tables across continuation
    pages, classify the codec headers, and emit per-packet facts —
    (id, packet_idx, kind, n_bytes, pages_spanned, bos, eos,
    granule, crc_ok, sample_rate, channels, content_md5). kind:
    'vorbis_id' (\\x01vorbis — channels byte 11, rate LE32 @12,
    md5 omitted: binary header), 'opus_head' (OpusHead — channels
    byte 9, input rate LE32 @12), 'comment' ('cmt:' prefix), else
    'data'. granule = the granule position of the page where the
    packet ENDS (RFC 3533: continuation pages carry -1); crc_ok =
    every page the packet touches verified. Truncated or non-OggS
    payloads raise — loud-fail, same contract as the other
    container walks."""
    import hashlib

    cols = [id_col, "packet_idx", "kind", "n_bytes", "pages_spanned",
            "bos", "eos", "granule", "crc_ok", "sample_rate",
            "channels", "content_md5"]

    def walk(b: bytes):
        i = 0
        # packet assembly state: (bytes, first/last page flags, pages)
        buf = bytearray()
        pages_touched = 0
        pkt_bos = False
        pkt_crc_ok = True
        idx = 0
        while i < len(b):
            if b[i:i + 4] != b"OggS" or i + 27 > len(b):
                raise ValueError(f"bad Ogg capture pattern at {i}")
            nseg = b[i + 26]
            seg_end = i + 27 + nseg
            if seg_end > len(b):
                raise ValueError("truncated Ogg segment table")
            lacing = b[i + 27:seg_end]
            plen = sum(lacing)
            if seg_end + plen > len(b):
                raise ValueError("truncated Ogg page payload")
            page = bytearray(b[i:seg_end + plen])
            stored = int.from_bytes(page[22:26], "little")
            page[22:26] = b"\x00\x00\x00\x00"
            page_ok = ogg_crc(bytes(page)) == stored
            # an EMPTY page between packets has no packet to carry its
            # CRC verdict: the next page's state reset would silently
            # discard it (the MKV dropped-verdict class, r12) — raise
            if nseg == 0 and not buf and not page_ok:
                raise ValueError(
                    "corrupt empty Ogg page between packets")
            flags = b[i + 5]
            gran = int.from_bytes(b[i + 6:i + 14], "little", signed=True)
            if not buf:
                pkt_bos = bool(flags & 0x02)
                pkt_crc_ok = True
                pages_touched = 0
            pages_touched += 1
            pkt_crc_ok = pkt_crc_ok and page_ok
            pos = seg_end
            for li, lace in enumerate(lacing):
                buf += b[pos:pos + lace]
                pos += lace
                if lace < 255:      # packet ends here
                    yield (idx, bytes(buf), pages_touched, pkt_bos,
                           bool(flags & 0x04) and li == nseg - 1,
                           gran, pkt_crc_ok)
                    idx += 1
                    buf = bytearray()
                    pkt_bos = False
                    pkt_crc_ok = page_ok
                    pages_touched = 1
            if buf and pos == seg_end + plen and lacing \
                    and lacing[-1] == 255:
                pass                # packet continues on the next page
            i = seg_end + plen
        if buf:
            raise ValueError("stream ends mid-packet")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                for (idx, pkt, npg, bos, eos, gran, ok) in walk(b):
                    kind, sr, ch, md = "data", None, None, None
                    if pkt[:7] == b"\x01vorbis" and len(pkt) >= 16:
                        kind = "vorbis_id"
                        ch = pkt[11]
                        sr = int.from_bytes(pkt[12:16], "little")
                    elif pkt[:8] == b"OpusHead" and len(pkt) >= 16:
                        kind = "opus_head"
                        ch = pkt[9]
                        sr = int.from_bytes(pkt[12:16], "little")
                    elif pkt[:4] == b"cmt:":
                        kind = "comment"
                        md = hashlib.md5(pkt).hexdigest()
                    else:
                        md = hashlib.md5(pkt).hexdigest()
                    rows.append({
                        id_col: mid, "packet_idx": idx, "kind": kind,
                        "n_bytes": len(pkt), "pages_spanned": npg,
                        "bos": bos, "eos": eos, "granule": gran,
                        "crc_ok": ok, "sample_rate": sr,
                        "channels": ch, "content_md5": md})
            yield pd.DataFrame(rows, columns=cols)

    out_schema = (f"{id_col} string, packet_idx int, kind string, "
                  "n_bytes long, pages_spanned int, bos boolean, "
                  "eos boolean, granule long, crc_ok boolean, "
                  "sample_rate int, channels int, content_md5 string")
    return _stage(df, gen, out_schema, id_col, payload_col)


# ---------------------------------------------------------------------------
# Matroska/WebM (EBML) — full container walk: element-size tree,
# Cluster CRC-32 verification (the EBML CRC-32 element, IEEE
# polynomial stored little-endian — zlib's crc32 IS this one, unlike
# Ogg's), and SimpleBlock decoding with all three lacing modes (Xiph
# 255-runs, fixed-size, EBML signed-diff vints). Lifts the
# header-only _probe_one mkv branch to a q-gated walk — the r08
# verdict item 7 twin of the q210 Ogg walk. Zero new dependencies.
# ---------------------------------------------------------------------------

def _ebml_encode_size(n: int, ln: int | None = None) -> bytes:
    """EBML size vint: minimal length unless ``ln`` forces one; the
    marker bit lives in the top byte."""
    if ln is None:
        ln = 1
        while n >= (1 << (7 * ln)) - 1:     # all-ones = unknown size
            ln += 1
    return ((1 << (7 * ln)) | n).to_bytes(ln, "big")


def _ebml_elem(eid: int, payload: bytes) -> bytes:
    """One EBML element: raw ID bytes + size vint + payload. IDs are
    written exactly as specified (marker bit included)."""
    return (eid.to_bytes((eid.bit_length() + 7) // 8, "big")
            + _ebml_encode_size(len(payload)) + payload)


def _ebml_uint(v: int) -> bytes:
    return v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big")


def _xiph_runs(n: int) -> bytes:
    out = bytearray()
    while n >= 255:
        out.append(255)
        n -= 255
    out.append(n)
    return bytes(out)


def _ebml_lace_diff(d: int) -> bytes:
    """EBML-lacing signed size diff: value = d + (2^(7·ln−1) − 1)
    with the smallest ln that fits."""
    ln = 1
    while not (-(1 << (7 * ln - 1)) + 1 <= d <= (1 << (7 * ln - 1)) - 1):
        ln += 1
    return _ebml_encode_size(d + (1 << (7 * ln - 1)) - 1, ln)


def _simple_block(track: int, rel_ts: int, keyframe: bool,
                  lacing: str, frames: list[bytes]) -> bytes:
    """Matroska SimpleBlock payload: track vint, 16-bit signed
    relative timestamp, flags (0x80 keyframe, lacing bits 0x06),
    lacing header, frame data."""
    lace_bits = {"none": 0x00, "xiph": 0x02, "fixed": 0x04,
                 "ebml": 0x06}[lacing]
    if lacing == "none" and len(frames) != 1:
        raise ValueError("no-lacing block takes exactly one frame")
    if lacing == "fixed" and len({len(f) for f in frames}) > 1:
        raise ValueError("fixed lacing needs equal frame sizes")
    body = bytearray()
    body += _ebml_encode_size(track)        # track number is a vint
    body += rel_ts.to_bytes(2, "big", signed=True)
    body.append((0x80 if keyframe else 0x00) | lace_bits)
    if lacing != "none":
        body.append(len(frames) - 1)
        if lacing == "xiph":
            for f in frames[:-1]:
                body += _xiph_runs(len(f))
        elif lacing == "ebml" and len(frames) >= 2:
            # nf−1 sizes total: first as a vint, then signed diffs —
            # for a SINGLE frame nothing is written (the last frame's
            # size is always implied by the block end; found by the
            # r9 fuzz round trip, which decoded a spurious 2nd frame)
            body += _ebml_encode_size(len(frames[0]))
            prev = len(frames[0])
            for f in frames[1:-1]:
                body += _ebml_lace_diff(len(f) - prev)
                prev = len(f)
    for f in frames:
        body += f
    return bytes(body)


def synth_mkv(doctype: str, tscale_ns: int, video_wh: tuple[int, int],
              clusters: list[tuple[int, list[tuple[int, int, bool, str,
                                                   list[bytes]]]]],
              corrupt: tuple[int, int, int, int] | None = None) -> bytes:
    """Assemble a spec-shaped Matroska/WebM file: EBML header
    (Version/ReadVersion/DocType), one Segment with Info
    (TimestampScale), Tracks (a video TrackEntry with pixel
    dimensions and an audio TrackEntry), and one Cluster element per
    ``clusters`` entry — ``(cluster_ts, [(track, rel_ts, keyframe,
    lacing, frames), ...])``. Every Cluster leads with the EBML
    CRC-32 element (id 0xBF, IEEE polynomial, little-endian) over
    the REST of the cluster payload, per the EBML spec's placement
    rule. ``corrupt = (cluster_idx, block_idx, frame_byte_off,
    xor)`` flips a frame byte AFTER the CRC is sealed — the reader's
    CRC check must catch it. Encode twin of ``mkv_blocks``."""
    import zlib

    head = _ebml_elem(0x1A45DFA3, b"".join([
        _ebml_elem(0x4286, _ebml_uint(1)),          # EBMLVersion
        _ebml_elem(0x42F7, _ebml_uint(1)),          # EBMLReadVersion
        _ebml_elem(0x4282, doctype.encode()),        # DocType
    ]))
    info = _ebml_elem(0x1549A966,
                      _ebml_elem(0x2AD7B1, _ebml_uint(tscale_ns)))
    tracks = _ebml_elem(0x1654AE6B, b"".join([
        _ebml_elem(0xAE, b"".join([
            _ebml_elem(0xD7, _ebml_uint(1)),         # TrackNumber
            _ebml_elem(0x83, _ebml_uint(1)),         # TrackType video
            _ebml_elem(0x86, b"V_STUB"),             # CodecID
            _ebml_elem(0xE0, b"".join([              # Video
                _ebml_elem(0xB0, _ebml_uint(video_wh[0])),
                _ebml_elem(0xBA, _ebml_uint(video_wh[1]))])),
        ])),
        _ebml_elem(0xAE, b"".join([
            _ebml_elem(0xD7, _ebml_uint(2)),
            _ebml_elem(0x83, _ebml_uint(2)),         # audio
            _ebml_elem(0x86, b"A_STUB"),
        ])),
    ]))
    cluster_bytes = []
    for cts, blocks in clusters:
        body = _ebml_elem(0xE7, _ebml_uint(cts))     # Cluster Timestamp
        for (track, rel, key, lacing, frames) in blocks:
            body += _ebml_elem(
                0xA3, _simple_block(track, rel, key, lacing, frames))
        crc = _ebml_elem(0xBF,
                         zlib.crc32(body).to_bytes(4, "little"))
        cluster_bytes.append(bytearray(_ebml_elem(0x1F43B675,
                                                  crc + body)))
    if corrupt is not None:
        ci, bi, boff, xor = corrupt
        cl = cluster_bytes[ci]
        # locate block bi's frame area inside the sealed cluster by
        # re-walking the element structure we just wrote.
        seen = -1
        pos = None
        eid0, j0 = _ebml_vint(bytes(cl), 0, False)
        size0, k0 = _ebml_vint(bytes(cl), j0, True)
        p = k0
        while p < len(cl):
            eid, j = _ebml_vint(bytes(cl), p, False)
            size, k = _ebml_vint(bytes(cl), j, True)
            if eid == 0xA3:
                seen += 1
                if seen == bi:
                    # skip track vint, rel ts, flags (+ lacing header)
                    b = bytes(cl)
                    _, q = _ebml_vint(b, k, True)
                    flags = b[q + 2]
                    q += 3
                    lace = (flags >> 1) & 0x03
                    if lace:
                        nf = b[q] + 1
                        q += 1
                        if lace == 0x01:              # Xiph
                            cnt = 1
                            while cnt < nf:
                                while b[q] == 255:
                                    q += 1
                                q += 1
                                cnt += 1
                        elif lace == 0x03 and nf >= 2:  # EBML
                            _, q = _ebml_vint(b, q, True)
                            for _i in range(nf - 2):
                                _, q = _ebml_vint(b, q, True)
                    pos = q + boff
                    break
            p = k + size
        if pos is None:
            raise ValueError("corrupt target block not found")
        cl[pos] ^= xor
    return head + _ebml_elem(
        0x18538067, info + tracks + b"".join(bytes(c)
                                             for c in cluster_bytes))


def mkv_blocks(df: DataFrame, payload_col: str = "payload",
               id_col: str = "media_id") -> DataFrame:
    """REAL Matroska/WebM container walk in one Arrow ``mapInPandas``
    stage: EBML header → DocType, Segment → Info TimestampScale +
    Tracks (track→type map), then every Cluster — verify its leading
    EBML CRC-32 element (IEEE crc32 of the remaining cluster
    payload, little-endian), decode each SimpleBlock's track vint /
    relative timestamp / keyframe flag, and reassemble frames from
    all three lacing modes (Xiph 255-runs, fixed equal-split, EBML
    signed-diff vints; last frame size always implied by the block
    end). Emits per-block facts — (id, doctype, cluster_idx,
    block_idx, track, ts_ms = cluster_ts + rel (timestamps are in
    TimestampScale units; ms at the default 1e6 ns), keyframe,
    lacing, n_frames, n_bytes = total frame bytes, frames_md5 = md5
    of the concatenated frames, crc_ok). Structural violations
    (overrunning elements, bad vints, short blocks) raise — the
    loud-fail container-walk contract; a CRC mismatch is DATA,
    reported per block. Decode twin of ``synth_mkv``; cites the
    reference's multimodal ingestion seam (memory-engine
    ingestion/multimodal fileformats), re-expressed as an Arrow
    batch stage."""
    import hashlib
    import zlib

    cols = [id_col, "doctype", "cluster_idx", "block_idx", "track",
            "ts_ms", "keyframe", "lacing", "n_frames", "n_bytes",
            "frames_md5", "crc_ok"]
    lace_names = {0x00: "none", 0x01: "xiph", 0x02: "fixed",
                  0x03: "ebml"}

    def parse_block(b: bytes, s: int, e: int):
        track, q = _ebml_vint(b, s, True)
        if q + 3 > e:
            raise ValueError("short SimpleBlock")
        rel = int.from_bytes(b[q:q + 2], "big", signed=True)
        flags = b[q + 2]
        q += 3
        lace = (flags >> 1) & 0x03
        frames: list[bytes] = []
        # Every read below is bounded by the block end ``e``, never by
        # the whole file: a malformed block must loud-fail here, not
        # silently consume the next element's bytes as lace sizes
        # (round-9 ADVICE). Lace-size vints go through
        # _ebml_lace_vint, which neither crosses ``e`` nor maps the
        # all-ones encoding to the unknown-size sentinel.
        overrun = ValueError("SimpleBlock lacing overruns block")
        if lace == 0x00:
            frames.append(b[q:e])
        else:
            if q >= e:
                raise overrun
            nf = b[q] + 1
            q += 1
            if lace == 0x01:                          # Xiph
                sizes = []
                for _ in range(nf - 1):
                    n = 0
                    while q < e and b[q] == 255:
                        n += 255
                        q += 1
                    if q >= e:
                        raise overrun
                    n += b[q]
                    q += 1
                    sizes.append(n)
                for n in sizes:
                    if q + n > e:
                        raise overrun
                    frames.append(b[q:q + n])
                    q += n
                frames.append(b[q:e])
            elif lace == 0x02:                        # fixed
                total = e - q
                if total % nf:
                    raise ValueError("fixed lacing size not divisible")
                step = total // nf
                for i in range(nf):
                    frames.append(b[q + i * step:q + (i + 1) * step])
            else:                                     # EBML
                sizes = []
                if nf >= 2:                # nf−1 sizes; 0 when nf == 1
                    first, q = _ebml_lace_vint(b, q, e)
                    sizes = [first]
                    for _ in range(nf - 2):
                        raw, q2 = _ebml_lace_vint(b, q, e)
                        ln = q2 - q     # vint width, bounds-checked
                        sizes.append(sizes[-1] + raw
                                     - ((1 << (7 * ln - 1)) - 1))
                        q = q2
                for n in sizes:
                    if n < 0 or q + n > e:
                        raise overrun
                    frames.append(b[q:q + n])
                    q += n
                frames.append(b[q:e])
        if sum(len(f) for f in frames) > e - s:
            raise overrun
        return track, rel, bool(flags & 0x80), lace_names[lace], frames

    def walk(b: bytes):
        if b[:4] != b"\x1aE\xdf\xa3":
            raise ValueError("not an EBML stream")
        doctype = "matroska"
        dt = _ebml_find(b, 0, len(b), [0x1A45DFA3, 0x4282])
        if dt:
            doctype = b[dt[0]:dt[1]].rstrip(b"\x00").decode()
        seg = _ebml_find(b, 0, len(b), [0x18538067])
        if seg is None:
            raise ValueError("no Segment element")
        ci = -1
        for eid, s, e in _ebml_children(b, *seg):
            if eid != 0x1F43B675:
                continue
            ci += 1
            kids = list(_ebml_children(b, s, e))
            crc_ok = True
            if kids and kids[0][0] == 0xBF:
                cs, ce = kids[0][1], kids[0][2]
                stored = int.from_bytes(b[cs:ce], "little")
                crc_ok = zlib.crc32(b[ce:e]) == stored
                kids = kids[1:]
            cts = 0
            bi = -1
            for keid, ks, ke in kids:
                if keid == 0xE7:
                    cts = int.from_bytes(b[ks:ke], "big")
                elif keid == 0xA3:
                    bi += 1
                    yield (doctype, ci, bi, cts,
                           parse_block(b, ks, ke), crc_ok)
                else:
                    # strict cluster dialect (r12): this walk supports
                    # CRC-32 + Timecode + SimpleBlock children only.
                    # Skipping an unknown id silently DROPS records —
                    # a corrupted SimpleBlock id (0xA3 -> anything)
                    # yielded zero rows AND discarded the cluster's
                    # failed-CRC verdict with them (found by the
                    # cluster-flip property); BlockGroup etc. are an
                    # unimplemented subset boundary, not skippable.
                    raise NotImplementedError(
                        f"unsupported Cluster child element "
                        f"{keid:#x} (supported: CRC-32, Timecode, "
                        f"SimpleBlock)")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                for (doctype, ci, bi, cts,
                     (track, rel, key, lacing, frames),
                     crc_ok) in walk(b):
                    cat = b"".join(frames)
                    rows.append({
                        id_col: mid, "doctype": doctype,
                        "cluster_idx": ci, "block_idx": bi,
                        "track": track, "ts_ms": cts + rel,
                        "keyframe": key, "lacing": lacing,
                        "n_frames": len(frames),
                        "n_bytes": len(cat),
                        "frames_md5": hashlib.md5(cat).hexdigest(),
                        "crc_ok": crc_ok})
            yield pd.DataFrame(rows, columns=cols)

    out_schema = (f"{id_col} string, doctype string, cluster_idx int, "
                  "block_idx int, track int, ts_ms long, "
                  "keyframe boolean, lacing string, n_frames int, "
                  "n_bytes long, frames_md5 string, crc_ok boolean")
    return _stage(df, gen, out_schema, id_col, payload_col)


def decode_features(df: DataFrame, kind_col: str = "kind",
                    payload_col: str = "payload",
                    id_col: str = "media_id",
                    decoders: dict[str, Callable[[bytes], np.ndarray]]
                    | None = None) -> DataFrame:
    """Decode + feature-extract stage: mapInPandas over (id, kind,
    payload) → (id, feature array<float>, n_bytes). Arrow batches keep
    the Python boundary amortized; unknown kinds raise (the stub
    contract) so bad rows fail loudly rather than silently skew.

    ``decoders`` is the INJECTION SEAM for real codec libraries
    (defaults to the module ``DECODERS``): the mapping is captured BY
    VALUE in the task closure, so a caller-supplied decoder ships to
    executors with the job — mutating the module global would not
    (workers import the module fresh). The round-10 seam test proves
    the claim: injecting a stub "real" mp3 decoder switches the
    pipeline output with zero operator change."""
    table = DECODERS if decoders is None else decoders

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, sizes = [], []
            for kind, payload in zip(pdf[kind_col], pdf[payload_col]):
                dec = table.get(kind)
                if dec is None:
                    raise NotImplementedError(
                        f"no decoder for kind={kind!r} in this container")
                payload = bytes(payload) if payload is not None else b""
                feats.append(dec(payload).mean(axis=0).tolist())
                sizes.append(len(payload))
            yield pd.DataFrame({
                id_col: pdf[id_col], "feature": feats, "n_bytes": sizes})

    out_schema = f"{id_col} string, feature array<float>, n_bytes long"
    return df.select(id_col, kind_col, payload_col).mapInPandas(gen, out_schema)


def sample_frames(df: DataFrame, every_s: float = 1.0,
                  id_col: str = "media_id") -> DataFrame:
    """Frame-sampling stage for video rows: expands each row into frame
    slots [0, duration) at ``every_s`` — the sampling schedule is pure
    SQL (sequence+explode); actual frame extraction would plug into
    decode_features per (media_id, frame_ts)."""
    n = F.greatest(F.floor(F.col("duration_s") / every_s), F.lit(0)).cast("int")
    return (df.filter(F.col("kind") == "video")
            .select(id_col, F.explode(
                F.transform(F.sequence(F.lit(0), n),
                            lambda i: i * F.lit(every_s))).alias("frame_ts")))


def size_budget_repartition(df: DataFrame, bytes_col_expr=None,
                            target_partition_bytes: int = 128 << 20) -> DataFrame:
    """Repartition media rows to a byte budget: rows are huge and skewed,
    so row-count partitioning under-uses or OOMs executors. One pass
    computes total bytes; partitions = ceil(total/target)."""
    size_col = bytes_col_expr if bytes_col_expr is not None \
        else F.length(F.col("payload"))
    total = df.agg(F.sum(size_col)).first()[0] or 0
    parts = max(1, int(-(-total // target_partition_bytes)))
    return df.repartition(parts)


# ---------------------------------------------------------------------------
# REAL header probing (no codec libraries needed — pure byte parsing)
# ---------------------------------------------------------------------------

def _be(col, pos: int, n: int):
    """Big-endian unsigned int from ``n`` bytes at 1-based ``pos`` of a
    binary column — hex + base-convert, all JVM-side."""
    return F.conv(F.hex(F.substring(col, pos, n)), 16, 10).cast("long")


def _le(col, pos: int, n: int):
    """Little-endian unsigned int: per-byte place-value sum."""
    out = F.lit(0).cast("long")
    for i in range(n):
        out = out + _be(col, pos + i, 1) * F.lit(256 ** i).cast("long")
    return out


def image_dims_sql(payload_col):
    """(format, width, height) struct for PNG/GIF/BMP — the fixed-offset
    header formats — as ONE Column expression: magic-byte dispatch +
    substring/base-conversion, fully JVM-side (whole-stage codegen, no
    Python). At 100 TB this is the hot path for the dominant formats;
    variable-offset formats (JPEG SOF scan) fall through to NULL and
    are mopped up by the Arrow-batched ``probe_media_headers``.

    PNG: 8-byte signature then IHDR — width/height big-endian at byte
    offsets 16/20 (W3C PNG spec §11.2.2). GIF: 'GIF87a'/'GIF89a' then
    16-bit little-endian logical-screen width/height at 6/8 (GIF89a
    spec §18). BMP: 'BM' then BITMAPINFOHEADER signed 32-bit
    width/height at 18/22 (abs() — height may be negative for
    top-down rows).
    """
    c = payload_col
    is_png = (F.hex(F.substring(c, 1, 8)) == F.lit("89504E470D0A1A0A")) \
        & (F.length(c) >= 24)
    is_gif = (F.substring(c, 1, 3).cast("string") == F.lit("GIF")) \
        & (F.length(c) >= 10)
    is_bmp = (F.substring(c, 1, 2).cast("string") == F.lit("BM")) \
        & (F.length(c) >= 26)
    raw_w = _le(c, 19, 4)
    raw_h = _le(c, 23, 4)
    # two's-complement for BMP's signed fields
    bmp_w = F.abs(F.when(raw_w >= F.lit(2**31), raw_w - F.lit(2**32))
                  .otherwise(raw_w)).cast("int")
    bmp_h = F.abs(F.when(raw_h >= F.lit(2**31), raw_h - F.lit(2**32))
                  .otherwise(raw_h)).cast("int")
    return (
        F.when(is_png, F.struct(F.lit("png").alias("format"),
                                _be(c, 17, 4).cast("int").alias("width"),
                                _be(c, 21, 4).cast("int").alias("height")))
        .when(is_gif, F.struct(F.lit("gif").alias("format"),
                               _le(c, 7, 2).cast("int").alias("width"),
                               _le(c, 9, 2).cast("int").alias("height")))
        .when(is_bmp, F.struct(F.lit("bmp").alias("format"),
                               bmp_w.alias("width"), bmp_h.alias("height")))
        .otherwise(F.struct(F.lit(None).cast("string").alias("format"),
                            F.lit(None).cast("int").alias("width"),
                            F.lit(None).cast("int").alias("height")))
    )


def _ebml_vint(b: bytes, i: int, mask_marker: bool) -> tuple[int, int]:
    """One EBML variable-length integer (ID keeps its marker bit,
    sizes mask it). Returns (value, next_offset)."""
    if i >= len(b) or b[i] == 0:
        raise ValueError("bad EBML vint")
    ln = 8 - b[i].bit_length() + 1
    if i + ln > len(b):
        raise ValueError("truncated EBML vint")
    v = b[i] & (0xFF >> ln) if mask_marker else b[i]
    for k in range(1, ln):
        v = (v << 8) | b[i + k]
    if mask_marker and v == (1 << (7 * ln)) - 1:
        return -1, i + ln                   # unknown size (streaming)
    return v, i + ln


def _ebml_lace_vint(b: bytes, i: int, end: int) -> tuple[int, int]:
    """One EBML vint used as a lace size / size-diff inside a
    SimpleBlock. Differs from ``_ebml_vint`` twice (round-9 ADVICE):
    the all-ones encoding is a perfectly representable SIZE here
    (0xFF = 127 for a 1-byte vint), NOT the unknown-size streaming
    sentinel, so it is returned verbatim instead of -1; and the read
    is bounded by the enclosing block's end, not the whole file."""
    if i >= end or b[i] == 0:
        raise ValueError("bad EBML lace vint")
    ln = 8 - b[i].bit_length() + 1
    if i + ln > end:
        raise ValueError("SimpleBlock lacing overruns block")
    v = b[i] & (0xFF >> ln)
    for k in range(1, ln):
        v = (v << 8) | b[i + k]
    return v, i + ln


def _ebml_children(b: bytes, start: int, end: int):
    """Iterate (element_id, payload_start, payload_end) over EBML
    siblings; unknown-size elements extend to the parent's end."""
    i = start
    while i < end:
        eid, j = _ebml_vint(b, i, False)
        size, k = _ebml_vint(b, j, True)
        pe = end if size < 0 else k + size
        if pe > end:
            raise ValueError("EBML element overruns parent")
        yield eid, k, pe
        i = pe


def _ebml_find(b: bytes, start: int, end: int, path: list[int]):
    """Resolve a nested EBML element path (first match per level)."""
    for eid, s, e in _ebml_children(b, start, end):
        if eid == path[0]:
            if len(path) == 1:
                return s, e
            return _ebml_find(b, s, e, path[1:])
    return None


def _probe_one(b: bytes) -> dict:
    """Parse one payload's header. Formats: PNG, JPEG (SOF marker
    scan), GIF, BMP, WAV (RIFF chunk walk). Returns dict of
    format/mime/width/height/sample_rate/duration_s (None where not
    applicable or unparseable)."""
    out = {"format": None, "mime": None, "width": None, "height": None,
           "sample_rate": None, "duration_s": None}
    if not b:
        return out
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        out.update(format="png", mime="image/png",
                   width=int.from_bytes(b[16:20], "big"),
                   height=int.from_bytes(b[20:24], "big"))
    elif b[:2] == b"\xff\xd8":
        out.update(format="jpeg", mime="image/jpeg")
        i = 2
        while i + 9 <= len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            length = int.from_bytes(b[i + 2:i + 4], "big")
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                out.update(height=int.from_bytes(b[i + 5:i + 7], "big"),
                           width=int.from_bytes(b[i + 7:i + 9], "big"))
                break
            i += 2 + length
    elif len(b) >= 8 and (b[:4] == b"II*\x00" or b[:4] == b"MM\x00*"):
        out.update(format="tiff", mime="image/tiff")
        try:
            bo = "little" if b[:2] == b"II" else "big"
            ifd = int.from_bytes(b[4:8], bo)
            nent = int.from_bytes(b[ifd:ifd + 2], bo)
            for k in range(nent):
                e = ifd + 2 + 12 * k
                tag = int.from_bytes(b[e:e + 2], bo)
                typ = int.from_bytes(b[e + 2:e + 4], bo)
                val = (int.from_bytes(b[e + 8:e + 10], bo)
                       if typ == 3 else
                       int.from_bytes(b[e + 8:e + 12], bo))
                if tag == 256:
                    out["width"] = val
                elif tag == 257:
                    out["height"] = val
        except Exception:
            pass                    # malformed IFD: format-only probe
    elif b[:3] == b"GIF" and len(b) >= 10:
        out.update(format="gif", mime="image/gif",
                   width=int.from_bytes(b[6:8], "little"),
                   height=int.from_bytes(b[8:10], "little"))
    elif b[:2] == b"BM" and len(b) >= 26:
        out.update(format="bmp", mime="image/bmp",
                   width=abs(int.from_bytes(b[18:22], "little", signed=True)),
                   height=abs(int.from_bytes(b[22:26], "little", signed=True)))
    elif b[:3] == b"ID3" or (len(b) >= 4 and b[0] == 0xFF
                             and (b[1] & 0xE0) == 0xE0):
        # MPEG audio: ID3v2 tag skip (syncsafe size) + first frame
        # header parse — metadata only; the codec itself is a stub.
        out.update(format="mp3", mime="audio/mpeg")
        j = 0
        if b[:3] == b"ID3" and len(b) >= 10:
            j = 10 + ((b[6] & 0x7F) << 21 | (b[7] & 0x7F) << 14
                      | (b[8] & 0x7F) << 7 | (b[9] & 0x7F))
        if j + 4 <= len(b) and b[j] == 0xFF and (b[j + 1] & 0xE0) == 0xE0:
            ver = (b[j + 1] >> 3) & 3    # 3 = MPEG-1
            layer = (b[j + 1] >> 1) & 3  # 1 = Layer III
            if ver == 3 and layer == 1:
                br = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                      192, 224, 256, 320, 0][b[j + 2] >> 4]
                sr = [44100, 48000, 32000, 0][(b[j + 2] >> 2) & 3]
                if br and sr:
                    out["sample_rate"] = sr
                    out["duration_s"] = (len(b) - j) * 8 / (br * 1000)
    elif b[:4] == b"OggS":
        # Ogg page walk: first packet identifies the codec (Vorbis ID
        # header / OpusHead), the LAST non-negative granule position
        # gives duration in the codec's granule timescale (Vorbis:
        # sample rate; Opus: fixed 48 kHz minus pre-skip).
        out.update(format="ogg", mime="application/ogg")
        i, gran, gran_rate, preskip, first = 0, None, None, 0, True
        while i + 27 <= len(b) and b[i:i + 4] == b"OggS":
            nseg = b[i + 26]
            seg_end = i + 27 + nseg
            if seg_end > len(b):
                break
            plen = sum(b[i + 27:seg_end])
            g = int.from_bytes(b[i + 6:i + 14], "little", signed=True)
            if g >= 0:
                gran = g
            if first and plen:
                p = b[seg_end:seg_end + plen]
                if p[:7] == b"\x01vorbis" and len(p) >= 16:
                    out["mime"] = "audio/ogg"
                    out["sample_rate"] = int.from_bytes(
                        p[12:16], "little")
                    gran_rate = out["sample_rate"]
                elif p[:8] == b"OpusHead" and len(p) >= 16:
                    out["mime"] = "audio/opus"
                    preskip = int.from_bytes(p[10:12], "little")
                    out["sample_rate"] = int.from_bytes(
                        p[12:16], "little")
                    gran_rate = 48000       # Opus granules are 48 kHz
                first = False
            i = seg_end + plen
        if gran and gran_rate:
            out["duration_s"] = round(
                max(0, gran - preskip) / gran_rate, 6)
    elif b[:4] == b"\x1aE\xdf\xa3":
        # Matroska/WebM: EBML vint walk — DocType for the mime,
        # Segment/Info for TimestampScale (ns) + float Duration,
        # Segment/Tracks/TrackEntry/Video for pixel dimensions.
        out.update(format="mkv", mime="video/x-matroska")
        try:
            dt = _ebml_find(b, 0, len(b), [0x1A45DFA3, 0x4282])
            if dt and b[dt[0]:dt[1]].rstrip(b"\x00") == b"webm":
                out.update(format="webm", mime="video/webm")
            seg = _ebml_find(b, 0, len(b), [0x18538067])
            if seg is not None:
                tscale, dur = 1_000_000, None
                info = _ebml_find(b, seg[0], seg[1], [0x1549A966])
                if info is not None:
                    for eid, s, e in _ebml_children(b, *info):
                        if eid == 0x2AD7B1:
                            tscale = int.from_bytes(b[s:e], "big")
                        elif eid == 0x4489:
                            import struct
                            dur = struct.unpack(
                                ">f" if e - s == 4 else ">d",
                                b[s:e])[0]
                if dur is not None:
                    out["duration_s"] = round(dur * tscale / 1e9, 6)
                vid = _ebml_find(b, seg[0], seg[1],
                                 [0x1654AE6B, 0xAE, 0xE0])
                if vid is not None:
                    for eid, s, e in _ebml_children(b, *vid):
                        if eid == 0xB0:
                            out["width"] = int.from_bytes(b[s:e], "big")
                        elif eid == 0xBA:
                            out["height"] = int.from_bytes(b[s:e], "big")
        except ValueError:
            pass                    # malformed EBML: format-only probe
    elif len(b) >= 12 and b[4:8] == b"ftyp":
        out.update(format="mp4", mime="video/mp4")
        try:
            mvhd = _mp4_find(b, 0, len(b), [b"moov", b"mvhd"])
            if mvhd is not None:
                s, _ = mvhd
                if b[s] == 1:       # version 1: 64-bit times
                    ts = int.from_bytes(b[s + 20:s + 24], "big")
                    dur = int.from_bytes(b[s + 24:s + 32], "big")
                else:
                    ts = int.from_bytes(b[s + 12:s + 16], "big")
                    dur = int.from_bytes(b[s + 16:s + 20], "big")
                if ts:
                    out["duration_s"] = round(dur / ts, 6)
            tkhd = _mp4_find(b, 0, len(b), [b"moov", b"trak", b"tkhd"])
            if tkhd is not None:
                _, e = tkhd
                out["width"] = int.from_bytes(b[e - 8:e - 4], "big") >> 16
                out["height"] = int.from_bytes(b[e - 4:e], "big") >> 16
        except ValueError:
            pass                    # malformed box tree: format-only probe
    elif b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        out.update(format="avi", mime="video/x-msvideo")
        i = 12
        while i + 8 <= len(b):
            cid = b[i:i + 4]
            csize = int.from_bytes(b[i + 4:i + 8], "little")
            if cid == b"LIST" and b[i + 8:i + 12] == b"hdrl":
                j = i + 12
                while j + 8 <= i + 8 + csize:
                    if b[j:j + 4] == b"avih" and j + 48 <= len(b):
                        uspf = int.from_bytes(b[j + 8:j + 12], "little")
                        nf = int.from_bytes(b[j + 24:j + 28], "little")
                        out["width"] = int.from_bytes(
                            b[j + 40:j + 44], "little")
                        out["height"] = int.from_bytes(
                            b[j + 44:j + 48], "little")
                        out["duration_s"] = (nf * uspf) / 1e6
                        break
                    j += 8 + int.from_bytes(b[j + 4:j + 8], "little")
                    j += j & 1
                break
            i += 8 + csize + (csize & 1)
    elif b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        out.update(format="wav", mime="audio/wav")
        i, byte_rate, data_size = 12, None, None
        while i + 8 <= len(b):
            cid = b[i:i + 4]
            csize = int.from_bytes(b[i + 4:i + 8], "little")
            if cid == b"fmt " and i + 32 <= len(b):
                out["sample_rate"] = int.from_bytes(b[i + 12:i + 16], "little")
                byte_rate = int.from_bytes(b[i + 16:i + 20], "little")
            elif cid == b"data":
                data_size = csize
            i += 8 + csize + (csize & 1)  # chunks are word-aligned
        if byte_rate and data_size is not None:
            out["duration_s"] = round(data_size / byte_rate, 6)
    return out


def probe_media_headers(df: DataFrame, payload_col: str = "payload",
                        id_col: str = "media_id") -> DataFrame:
    """Full header probe as an Arrow-batched ``mapInPandas``: (id,
    format, mime, width, height, sample_rate, duration_s, n_bytes).
    This is REAL metadata extraction, not a stub — only pixel/sample
    DECODING still needs codec libraries. Run it after filters so only
    surviving rows cross the Python boundary; headers are the first
    few hundred bytes, so prefer probing a prefix column
    (``substring(payload, 1, 4096)``) upstream to keep Arrow transfer
    off the full payloads."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload) if payload is not None else b""
                d = _probe_one(b)
                d[id_col] = mid
                d["n_bytes"] = len(b)
                rows.append(d)
            yield pd.DataFrame(rows, columns=[
                id_col, "format", "mime", "width", "height",
                "sample_rate", "duration_s", "n_bytes"])

    out_schema = (f"{id_col} string, format string, mime string, "
                  "width int, height int, sample_rate int, "
                  "duration_s double, n_bytes long")
    return _stage(df, gen, out_schema, id_col, payload_col)


# ---------------------------------------------------------------------------
# REAL TIFF (6.0 baseline RGB subset): both byte orders ('II' little /
# 'MM' big — the tag that trips naive readers), IFD entry walk,
# multi-strip assembly via StripOffsets/StripByteCounts/RowsPerStrip,
# uncompressed and PackBits strips. Scan-corpus TIFFs are the one
# common image format q156/q157/q162 left out.
# ---------------------------------------------------------------------------


def _packbits_encode(data: bytes) -> bytes:
    """PackBits (TIFF §9): runs ≥3 → (257-n, byte); literals
    otherwise."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while (i + run < len(data) and run < 128
               and data[i + run] == data[i]):
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
        else:
            j = i + run
            while j < len(data) and j - i < 128:
                nxt = 1
                while (j + nxt < len(data) and nxt < 3
                       and data[j + nxt] == data[j]):
                    nxt += 1
                if nxt >= 3:
                    break
                j += 1
            out += bytes([j - i - 1]) + data[i:j]
            i = j
    return bytes(out)


def _packbits_decode(data: bytes, expect: int) -> bytes:
    """PackBits inflate to exactly ``expect`` bytes (TIFF §9:
    n=128 is a noop)."""
    out = bytearray()
    i = 0
    while len(out) < expect:
        if i >= len(data):
            raise ValueError("PackBits underrun")
        n = data[i]
        i += 1
        if n < 128:
            out += data[i:i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):          # run header with no run byte
                raise ValueError("PackBits underrun")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    if len(out) != expect:
        raise ValueError("PackBits overrun")
    return bytes(out)


def synth_tiff(pixels: np.ndarray, big_endian: bool = False,
               packbits: bool = False, rows_per_strip: int = 2) -> bytes:
    """Assemble a baseline RGB TIFF: byte-order mark, IFD with the
    nine required tags, REAL multi-strip layout (RowsPerStrip rows
    per strip, last strip short), optional PackBits strips. The
    encode twin of ``decode_tiff_pixels``."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, _ = px.shape
    bo = "big" if big_endian else "little"

    strips = []
    for r0 in range(0, h, rows_per_strip):
        raw = px[r0:r0 + rows_per_strip].tobytes()
        strips.append(_packbits_encode(raw) if packbits else raw)

    # layout: header(8) | bits-per-sample array(6) | strips | IFD
    bps_off = 8
    data_off = bps_off + 6
    strip_offs = []
    pos = data_off
    for s in strips:
        strip_offs.append(pos)
        pos += len(s)
    ifd_off = pos

    def ent(tag, typ, count, value):
        e = tag.to_bytes(2, bo) + typ.to_bytes(2, bo) \
            + count.to_bytes(4, bo)
        if typ == 3 and count == 1:         # SHORT packed left-aligned
            e += value.to_bytes(2, bo) + b"\x00\x00"
        else:
            e += value.to_bytes(4, bo)
        return e

    n_strips = len(strips)
    extra = b""
    if n_strips == 1:
        so_val, sc_val = strip_offs[0], len(strips[0])
    else:                                   # offset arrays after IFD
        arr_off = ifd_off + 2 + 9 * 12 + 4
        so_val, sc_val = arr_off, arr_off + 4 * n_strips
        extra = (b"".join(o.to_bytes(4, bo) for o in strip_offs)
                 + b"".join(len(s).to_bytes(4, bo) for s in strips))
    entries = [
        ent(256, 4, 1, w), ent(257, 4, 1, h),
        ent(258, 3, 3, bps_off),            # [8,8,8] stored at bps_off
        ent(259, 3, 1, 32773 if packbits else 1),
        ent(262, 3, 1, 2),                  # RGB
        ent(273, 4, n_strips, so_val),
        ent(277, 3, 1, 3),
        ent(278, 4, 1, rows_per_strip),
        ent(279, 4, 1 if n_strips == 1 else n_strips, sc_val),
    ]
    header = ((b"MM" if big_endian else b"II")
              + (42).to_bytes(2, bo) + ifd_off.to_bytes(4, bo))
    bps = b"".join((8).to_bytes(2, bo) for _ in range(3))
    ifd = (len(entries).to_bytes(2, bo) + b"".join(entries)
           + (0).to_bytes(4, bo))
    return header + bps + b"".join(strips) + ifd + extra


def decode_tiff_pixels(payload: bytes) -> np.ndarray:
    """REAL TIFF decode (baseline RGB subset): byte-order dispatch
    ('II'/'MM' + the 42 check), first-IFD entry walk, strip
    reassembly from StripOffsets/StripByteCounts honoring
    RowsPerStrip (short last strip), uncompressed or PackBits.
    Non-RGB photometric, other compressions, or bits≠8 raise."""
    b = payload or b""
    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF payload")
    bo = "little" if b[:2] == b"II" else "big"
    if int.from_bytes(b[2:4], bo) != 42:
        raise ValueError("bad TIFF magic number")
    ifd = int.from_bytes(b[4:8], bo)
    n = int.from_bytes(b[ifd:ifd + 2], bo)
    tags: dict[int, tuple[int, int, int]] = {}
    for k in range(n):
        e = ifd + 2 + 12 * k
        tag = int.from_bytes(b[e:e + 2], bo)
        typ = int.from_bytes(b[e + 2:e + 4], bo)
        cnt = int.from_bytes(b[e + 4:e + 8], bo)
        if typ == 3 and cnt == 1:
            val = int.from_bytes(b[e + 8:e + 10], bo)
        else:
            val = int.from_bytes(b[e + 8:e + 12], bo)
        tags[tag] = (typ, cnt, val)

    def req(tag):
        if tag not in tags:
            raise ValueError(f"missing required TIFF tag {tag}")
        return tags[tag][2]

    w, h = req(256), req(257)
    comp = tags.get(259, (3, 1, 1))[2]
    if tags.get(262, (3, 1, 2))[2] != 2:
        raise NotImplementedError("only RGB photometric supported")
    if tags.get(277, (3, 1, 3))[2] != 3:
        raise NotImplementedError("only 3 samples/pixel supported")
    if comp not in (1, 32773):
        raise NotImplementedError(f"compression {comp} not supported")
    _, bps_cnt, bps_val = tags.get(258, (3, 1, 8))
    if bps_cnt == 3:
        if any(int.from_bytes(b[bps_val + 2 * i:bps_val + 2 * i + 2],
                              bo) != 8 for i in range(3)):
            raise NotImplementedError("only 8 bits/sample supported")
    rps = tags.get(278, (4, 1, h))[2]
    _, so_cnt, so_val = tags[273] if 273 in tags else (0, 0, None)
    if so_val is None:
        raise ValueError("missing StripOffsets")
    if 279 not in tags:
        raise ValueError("missing StripByteCounts")
    _, sc_cnt, sc_val = tags[279]
    if so_cnt != sc_cnt:
        raise ValueError("StripOffsets/StripByteCounts count mismatch")
    if so_cnt == 1:
        offs, cnts = [so_val], [sc_val]
    else:
        offs = [int.from_bytes(b[so_val + 4 * i:so_val + 4 * i + 4],
                               bo) for i in range(so_cnt)]
        cnts = [int.from_bytes(b[sc_val + 4 * i:sc_val + 4 * i + 4],
                               bo) for i in range(sc_cnt)]

    # IFD offsets are ABSOLUTE and carry no checksum — a desynced
    # StripOffsets (the TAR-longname hazard class, r11 verdict item 4)
    # would silently decode bytes of the header/IFD/arrays as pixels.
    # Reject any strip that leaves the file or overlaps a metadata
    # span or another strip; flip-anywhere fuzz pins this.
    meta_spans = [(0, 8), (ifd, ifd + 2 + 12 * n + 4)]
    if bps_cnt == 3:
        meta_spans.append((bps_val, bps_val + 6))
    if so_cnt > 1:
        meta_spans.append((so_val, so_val + 4 * so_cnt))
        meta_spans.append((sc_val, sc_val + 4 * sc_cnt))
    for i, (o, c) in enumerate(zip(offs, cnts)):
        if c and (o < 0 or o + c > len(b)):
            raise ValueError(f"strip {i} out of bounds")
        if c and any(o < s1 and s0 < o + c for s0, s1 in meta_spans):
            raise ValueError(
                f"strip {i} overlaps TIFF metadata (desynced offsets)")
    ordered = sorted((o, o + c) for o, c in zip(offs, cnts) if c)
    if any(nxt[0] < cur[1]
           for cur, nxt in zip(ordered, ordered[1:])):
        raise ValueError("TIFF strips overlap each other")

    out = bytearray()
    for i, (o, c) in enumerate(zip(offs, cnts)):
        rows = min(rps, h - i * rps)
        expect = rows * w * 3
        raw = b[o:o + c]
        if len(raw) != c:
            raise ValueError(f"strip {i} out of range")
        out += (_packbits_decode(raw, expect) if comp == 32773
                else raw)
    if len(out) != h * w * 3:
        raise ValueError("strip assembly size mismatch")
    return np.frombuffer(bytes(out), dtype=np.uint8).reshape(h, w, 3)
