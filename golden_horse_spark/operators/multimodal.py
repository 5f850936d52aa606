"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata.

Decode is REAL for nine formats, all pure stdlib+NumPy (this container
ships no PIL/libsndfile):

* **PPM/P6** — header parse + raw RGB read;
* **PNG** (round 3) — full critical-chunk reader: zlib inflate, CRC
  verification, scanline unfiltering (types 0–4 incl. Paeth), 8-bit
  gray/RGB/RGBA, non-interlaced; plus a filter-0 RGB encoder;
* **WAV** (round 3) — RIFF chunk walk, 16-bit PCM, mono/averaged
  multichannel; plus an encoder;
* **GIF** (round 4) — GIF87a/89a reader: color tables, extension-block
  skip, real variable-width LZW (clear/EOI, KwKwK, 12-bit cap with
  reset); plus a GIF89a single-frame encoder with real LZW compression;
* **BMP** (round 4) — 24-bit uncompressed, bottom-up and top-down
  rasters, 4-byte row padding; plus an encoder;
* **JPEG** (round 4) — baseline sequential JFIF: full marker parse,
  Huffman entropy decode (Annex C code construction), DPCM/extend,
  dezigzag, dequantize, orthonormal IDCT, any sampling factors with
  nearest chroma upsample, DRI/RSTn restart markers, grayscale or
  color; plus a 4:4:4 encoder with the Annex K example tables and
  libjpeg's quality scaling (flat round-trip maxerr ≤1, gradient PSNR
  ~50 dB at q90 — tested).

* **G.711 µ-law / A-law** (round 4) — REAL compressed audio: the
  segmented ITU-T companding tables (telephony WAV format codes 7/6),
  byte-exact against CPython's audioop over the entire 16-bit domain;
  2:1 compression, round-trip SNR ~37 dB on a sine — tested.

* **Motion-JPEG AVI** (round 4) — REAL video container: RIFF writer +
  generic LIST-descent reader, one baseline-JPEG '00dc' chunk per
  frame, fps from strh; frame sampling decodes real frames.

The synthetic media table emits genuine P6/PNG/GIF/BMP/JPEG image
payloads, genuine PCM/µ-law/A-law WAV audio payloads AND genuine
Motion-JPEG AVI video payloads — EVERY payload kind now runs a real
decode end-to-end. Remaining stubs: perceptual codecs only (mp3/aac,
H.264 — native libraries; the unknown-format fallback stays the
deterministic fake, and swapping it for soundfile/ffmpeg is a
one-function change on executors). All the Spark-side plumbing (schemas, Arrow batch shapes,
mapInPandas signatures, partition sizing) is real and tested either
way.

Design: media payloads ride a separate table keyed by ``media_ref``
(documents carry only the reference — SURVEY.md §1.2), so the 100 TB of
bytes never flows through text-only stages; column pruning drops
``payload`` unless a decode stage asks for it.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    LongType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

FEATURES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("feat_dim", IntegerType()),
    ]
)


def synthesize_media(spark: SparkSession, documents: DataFrame) -> DataFrame:
    """Deterministic fake media table for every media span in documents:
    payload = repeatable bytes derived from media_ref."""
    refs = (
        documents.select(F.explode("spans").alias("s"))
        .where(F.col("s.kind") != "text")
        .select(F.col("s.media_ref").alias("media_ref"), F.col("s.kind").alias("kind"))
        .distinct()
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind in pdf[["media_ref", "kind"]].itertuples(index=False, name=None):
                h = hashlib.sha256(ref.encode()).digest()
                w, ht = 16 + h[0] % 64, 16 + h[1] % 64
                dur = (h[2] * 100) if kind != "image" else 0
                rng = np.random.RandomState(int.from_bytes(h[:4], "little"))
                if kind == "image":
                    # REAL image payload: deterministic RGB pixels seeded
                    # from the ref hash; format rotates P6/PNG/GIF/BMP/
                    # JPEG by hash so all five real decode paths run
                    # in-pipeline (GIF gets palette-limited pixels — it's
                    # an indexed format; JPEG is lossy but deterministic,
                    # so the decoded features still pin)
                    fmt = h[3] % 5
                    if fmt == 2:
                        pal = rng.randint(0, 256, size=(16, 3), dtype=np.uint8)
                        rgb = pal[rng.randint(0, 16, size=(ht, w))]
                        payload = encode_gif(rgb)
                    else:
                        rgb = rng.randint(0, 256, size=(ht, w, 3), dtype=np.uint8)
                        payload = [
                            encode_ppm,
                            encode_png,
                            None,
                            encode_bmp,
                            encode_jpeg,
                        ][fmt](rgb)
                elif kind == "audio":
                    # REAL WAV of the declared duration: a seeded sine +
                    # noise mix at 8 kHz; format rotates 16-bit PCM /
                    # G.711 µ-law / G.711 A-law by hash so the real
                    # compressed-audio decode paths run in-pipeline
                    n = max(1, dur * 8000 // 1000)
                    t = np.arange(n, dtype=np.float32) / 8000.0
                    f0 = 100.0 + float(h[4]) * 4.0
                    wave = 0.6 * np.sin(2 * np.pi * f0 * t) + 0.1 * rng.randn(
                        n
                    ).astype(np.float32)
                    afmt = h[5] % 3
                    if afmt == 0:
                        payload = encode_wav(wave)
                    else:
                        payload = encode_wav_g711(
                            wave, law="mu" if afmt == 1 else "a"
                        )
                else:
                    # REAL video payload (round 4): Motion-JPEG AVI at
                    # 1 fps — one deterministic gradient frame per
                    # sampled second, so frame sampling decodes real
                    # frames end-to-end
                    n_frames = max(1, -(-dur // 1000))
                    fh, fw = min(ht, 32), min(w, 32)
                    yy, xx = np.mgrid[0:fh, 0:fw]
                    frames = [
                        np.stack(
                            [
                                (yy * 5 + i * 31 + int(h[6])) % 256,
                                (xx * 3 + i * 17) % 256,
                                (yy + xx + i * 7) % 256,
                            ],
                            axis=-1,
                        ).astype(np.uint8)
                        for i in range(n_frames)
                    ]
                    payload = encode_avi_mjpeg(frames, fps=1)
                rows.append(
                    {
                        "media_ref": ref,
                        "kind": kind,
                        "payload": payload,
                        "width": w,
                        "height": ht,
                        "duration_ms": dur,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return refs.mapInPandas(gen, MEDIA_SCHEMA)


def encode_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG (8-bit RGB, filter 0 per scanline,
    non-interlaced). Pure zlib + struct — a real, spec-conformant file
    (readable by any PNG library)."""
    h, w = rgb.shape[:2]
    raw = b"".join(b"\x00" + rgb[y].astype(np.uint8).tobytes() for y in range(h))

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def parse_png(payload: bytes) -> np.ndarray:
    """PNG → (h, w, 3) uint8. Critical chunks only, CRC-checked; 8-bit
    depth, color types 0 (gray, replicated), 2 (RGB), 6 (RGBA, alpha
    dropped); all five scanline filters; non-interlaced only. Filters
    0/2 unfilter as whole-row vector ops (our encoder emits 0); the
    serial filters 1/3/4 fall back to a per-byte loop — correctness
    path for foreign files, not the hot path."""
    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a png")
    pos, idat, ihdr = 8, b"", None
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack(">I", payload[pos : pos + 4])
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack(">I", payload[pos + 8 + ln : pos + 12 + ln])
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad crc in {typ!r}")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("missing IHDR")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in (0, 2, 6):
        raise ValueError(f"unsupported png (depth={depth} ctype={ctype} "
                         f"interlace={interlace})")
    ch = {0: 1, 2: 3, 6: 4}[ctype]
    raw = zlib.decompress(idat)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("truncated png raster")
    out = np.zeros((h, stride), dtype=np.uint8)
    for y in range(h):
        ft = raw[y * (stride + 1)]
        line = np.frombuffer(
            raw[y * (stride + 1) + 1 : (y + 1) * (stride + 1)], np.uint8
        ).astype(np.int32)
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:
            cur = line
        elif ft == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ft in (1, 3, 4):  # Sub / Average / Paeth (serial in x)
            cur = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                if ft == 1:
                    pred = a
                elif ft == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[x - ch]) if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {ft}")
        out[y] = cur.astype(np.uint8)
    arr = out.reshape(h, w, ch)
    if ctype == 0:
        return np.repeat(arr, 3, axis=2)
    if ctype == 6:
        return arr[..., :3].copy()
    return arr


def encode_wav(wave_f32: np.ndarray, sr: int = 8000) -> bytes:
    """float32 waveform in [-1, 1] → 16-bit PCM mono RIFF/WAVE."""
    data = (
        (np.clip(wave_f32, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    )
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sr, sr * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def parse_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE → (float32 mono waveform in [-1, 1], sample rate).
    16-bit PCM; multichannel averaged to mono; chunk walk honors the
    odd-length pad byte."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a wav")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, sr, _rate, _align, bits = fmt
    if audio_fmt == 1 and bits == 16:
        x = np.frombuffer(data[: len(data) - len(data) % 2], "<i2")
        x = x.astype(np.float32) / 32767.0
    elif audio_fmt == 7 and bits == 8:  # G.711 µ-law (round 4)
        x = _mulaw_expand(np.frombuffer(data, np.uint8))
    elif audio_fmt == 6 and bits == 8:  # G.711 A-law (round 4)
        x = _alaw_expand(np.frombuffer(data, np.uint8))
    else:
        raise ValueError(f"unsupported wav (fmt={audio_fmt} bits={bits})")
    if n_ch > 1:
        x = x[: len(x) - len(x) % n_ch].reshape(-1, n_ch).mean(1)
    return x, sr


# G.711 companding (round 4) — REAL compressed-audio codecs, pure
# NumPy, implementing the ITU-T SEGMENTED tables (the telephony-WAV
# bytes, format codes 7/6), not the continuous companding formula:
# byte-exact against CPython's audioop over the entire 16-bit domain
# (both directions, both laws — tested). 2:1 compression vs 16-bit PCM.


def _msb_index(v: np.ndarray) -> np.ndarray:
    """Index of the highest set bit (v ≥ 1), vectorized."""
    return (np.frexp(v.astype(np.float64))[1] - 1).astype(np.int32)


def _lin2ulaw(pcm: np.ndarray) -> np.ndarray:
    """int16 → µ-law byte (G.711 segmented, the 14-bit-domain variant
    audioop/g711.c use; == audioop.lin2ulaw byte-for-byte)."""
    p14 = pcm.astype(np.int32) >> 2
    mask = np.where(p14 < 0, 0x7F, 0xFF)
    mag = np.minimum(np.where(p14 < 0, -p14, p14), 8159) + 33
    seg = _msb_index(mag) - 5  # mag ≥ 33 ⇒ msb ≥ 5
    uval = (seg << 4) | ((mag >> (seg + 1)) & 0xF)
    uval = np.where(seg > 7, 0x7F, uval)
    return ((uval ^ mask) & 0xFF).astype(np.uint8)


def _ulaw2lin(b: np.ndarray) -> np.ndarray:
    """µ-law byte → int16 (== audioop.ulaw2lin)."""
    a = (~b.astype(np.int32)) & 0xFF
    exp = (a >> 4) & 7
    mant = a & 0xF
    t = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(a & 0x80, -t, t).astype(np.int16)


def _lin2alaw(pcm: np.ndarray) -> np.ndarray:
    """int16 → A-law byte (G.711 segmented; == audioop.lin2alaw)."""
    pcm = pcm.astype(np.int32) >> 3  # 13-bit
    mask = np.where(pcm >= 0, 0xD5, 0x55)
    mag = np.where(pcm >= 0, pcm, -pcm - 1)
    seg = np.maximum(_msb_index(np.maximum(mag, 1)) - 4, 0)
    aval = (seg << 4) | np.where(
        seg < 2, (mag >> 1) & 0xF, (mag >> seg) & 0xF
    )
    return ((aval ^ mask) & 0xFF).astype(np.uint8)


def _alaw2lin(b: np.ndarray) -> np.ndarray:
    """A-law byte → int16 (== audioop.alaw2lin)."""
    a = b.astype(np.int32) ^ 0x55
    t = (a & 0xF) << 4
    seg = (a & 0x70) >> 4
    t = np.where(seg == 0, t + 8, t + 0x108)
    t = np.where(seg > 1, t << np.maximum(seg - 1, 0), t)
    return np.where(a & 0x80, t, -t).astype(np.int16)


def _mulaw_compress(x: np.ndarray) -> np.ndarray:
    return _lin2ulaw(
        (np.clip(x, -1.0, 1.0) * 32767.0).astype(np.int16)
    )


def _mulaw_expand(b: np.ndarray) -> np.ndarray:
    return _ulaw2lin(b).astype(np.float32) / 32768.0


def _alaw_compress(x: np.ndarray) -> np.ndarray:
    return _lin2alaw(
        (np.clip(x, -1.0, 1.0) * 32767.0).astype(np.int16)
    )


def _alaw_expand(b: np.ndarray) -> np.ndarray:
    return _alaw2lin(b).astype(np.float32) / 32768.0


def encode_wav_g711(
    wave_f32: np.ndarray, sr: int = 8000, law: str = "mu"
) -> bytes:
    """float32 waveform → G.711-companded mono RIFF/WAVE (format code 7
    for µ-law, 6 for A-law) — half the bytes of 16-bit PCM."""
    if law == "mu":
        data = _mulaw_compress(wave_f32).tobytes()
        code = 7
    elif law == "a":
        data = _alaw_compress(wave_f32).tobytes()
        code = 6
    else:
        raise ValueError("law must be 'mu' or 'a'")
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, code, 1, sr, sr, 1, 8)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )



def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → 24-bit uncompressed BMP (BITMAPINFOHEADER,
    bottom-up rows, BGR byte order, rows padded to 4 bytes)."""
    h, w = rgb.shape[:2]
    row = w * 3
    pad = (-row) % 4
    raster = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        raster += rgb[y, :, ::-1].astype(np.uint8).tobytes()  # BGR
        raster += b"\x00" * pad
    off = 14 + 40
    size = off + len(raster)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster),
                       2835, 2835, 0, 0)
    return header + info + bytes(raster)


def parse_bmp(payload: bytes) -> np.ndarray:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB. Handles bottom-up
    AND top-down (negative height) rasters and 4-byte row padding;
    raises on palettized/compressed variants."""
    if payload[:2] != b"BM":
        raise ValueError("not a bmp")
    off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    if hdr_size < 40:
        raise ValueError("BITMAPCOREHEADER unsupported")
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"unsupported bmp: {bpp}bpp compression={compression}")
    top_down = h < 0
    h = abs(h)
    row = w * 3
    stride = row + ((-row) % 4)
    if off + stride * h > len(payload):
        raise ValueError("truncated bmp raster")
    rows = []
    for i in range(h):
        start = off + i * stride
        bgr = np.frombuffer(payload, dtype=np.uint8, count=row, offset=start)
        rows.append(bgr.reshape(w, 3)[:, ::-1])  # BGR → RGB
    img = np.stack(rows)
    return img if top_down else img[::-1]


# ---------------------------------------------------------------- GIF
# GIF89a with LZW (spec Appendix F). The encoder/decoder pair keeps the
# variable code width in lockstep: the encoder widens when the JUST-
# ASSIGNED table code equals 2^width; the decoder (which learns each
# entry one code later) widens when its next free code equals 2^width
# before a read. Max width 12; at 4096 entries the encoder emits CLEAR
# and resets (no deferred-clear ambiguity).


def _gif_pack_codes(codes: list[tuple[int, int]]) -> bytes:
    """LSB-first bit packing of (code, width) pairs."""
    acc = nbits = 0
    out = bytearray()
    for c, w in codes:
        acc |= c << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_lzw_encode(indices: np.ndarray, min_code_size: int) -> bytes:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return {(i,): i for i in range(clear)}

    table, next_code, width = fresh(), eoi + 1, min_code_size + 1
    codes: list[tuple[int, int]] = [(clear, width)]
    buf = (int(indices[0]),)
    for k in indices[1:]:
        cand = buf + (int(k),)
        if cand in table:
            buf = cand
            continue
        codes.append((table[buf], width))
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            codes.append((clear, width))
            table, next_code, width = fresh(), eoi + 1, min_code_size + 1
        buf = (int(k),)
    codes.append((table[buf], width))
    codes.append((eoi, width))
    return _gif_pack_codes(codes)


def _gif_lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    entries: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    next_code, width = eoi + 1, min_code_size + 1
    pos = 0  # bit position
    out: list[int] = []
    prev: int | None = None
    total_bits = len(data) * 8
    while pos + width <= total_bits:
        byte_i, bit_i = divmod(pos, 8)
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> bit_i) & ((1 << width) - 1)
        pos += width
        if code == clear:
            entries = [bytes([i]) for i in range(clear)] + [b"", b""]
            next_code, width, prev = eoi + 1, min_code_size + 1, None
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                raise ValueError("gif lzw: first code not a literal")
            entry = entries[code]
        else:
            if code < next_code:
                entry = entries[code]
            elif code == next_code:  # KwKwK
                entry = entries[prev] + entries[prev][:1]
            else:
                raise ValueError("gif lzw: code out of range")
            if next_code < 4096:
                entries.append(entries[prev] + entry[:1])
                next_code += 1
        out.extend(entry)
        prev = code
        if next_code == (1 << width) and width < 12:
            width += 1
    return out


def encode_gif(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 with ≤256 distinct colors → single-frame GIF89a
    (global color table, non-interlaced, real LZW). Raises if the image
    needs more than 256 palette entries — GIF is an indexed format; the
    synthetic media generator feeds it palette-limited pixels."""
    h, w = rgb.shape[:2]
    flat = rgb.reshape(-1, 3).astype(np.uint8)
    palette, indices = np.unique(flat, axis=0, return_inverse=True)
    if len(palette) > 256:
        raise ValueError(f"gif needs ≤256 colors, image has {len(palette)}")
    gct_bits = max(1, int(len(palette) - 1).bit_length())  # table size 2^n
    table = np.zeros((1 << gct_bits, 3), dtype=np.uint8)
    table[: len(palette)] = palette
    min_code_size = max(2, gct_bits)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (gct_bits - 1), 0, 0)
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)  # image descriptor
    out.append(min_code_size)
    lzw = _gif_lzw_encode(indices.astype(np.int64), min_code_size)
    for i in range(0, len(lzw), 255):  # sub-blocks
        block = lzw[i : i + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def parse_gif(payload: bytes) -> np.ndarray:
    """Single-frame GIF87a/89a → (h, w, 3) uint8 RGB: header + color
    tables + extension skip + LZW decode. Non-interlaced only (raises
    otherwise); the first image block is returned."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a gif")
    w, h, flags, _bg, _ar = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while payload[pos]:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected gif block 0x{b0:02x}")
        _x, _y, iw, ih, iflags = struct.unpack_from("<HHHHB", payload, pos)
        pos += 9
        if iflags & 0x40:
            raise ValueError("interlaced gif unsupported")
        ct = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            ct = np.frombuffer(payload, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if ct is None:
            raise ValueError("gif image has no color table")
        min_code_size = payload[pos]
        pos += 1
        data = bytearray()
        while payload[pos]:
            ln = payload[pos]
            data += payload[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        indices = _gif_lzw_decode(bytes(data), min_code_size)
        if len(indices) < iw * ih:
            raise ValueError("truncated gif raster")
        arr = np.asarray(indices[: iw * ih], dtype=np.int64).reshape(ih, iw)
        return ct[arr]
    raise ValueError("gif has no image block")


def encode_ppm(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM (P6, maxval 255)."""
    h, w = rgb.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + rgb.astype(np.uint8).tobytes()


def parse_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → (h, w, 3) uint8. Pure NumPy/bytes — handles the
    whitespace/comment grammar of the header; raises on truncation."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 ppm")
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    need = w * h * 3
    raster = payload[pos : pos + need]
    if len(raster) != need:
        raise ValueError("truncated ppm raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


# --------------------------------------------------------------------
# Baseline JFIF JPEG (round 4) — the last image format leaves the stub
# list. Pure stdlib+NumPy: the encoder writes sequential-baseline 4:4:4
# with the ITU-T T.81 Annex K example tables (public spec values); the
# decoder reads any single-scan baseline JPEG (grayscale or color, any
# sampling factors incl. 4:2:0, restart markers honored): marker parse →
# Huffman entropy decode → DPCM/extend → dezigzag → dequantize → IDCT
# (orthonormal DCT-II matrix product) → upsample → YCbCr→RGB.
# --------------------------------------------------------------------

_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
])
_QT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
])
_QT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
])
# Annex K Huffman specs: (BITS counts per code length 1..16, HUFFVAL)
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA],
)


def _dct_matrix() -> np.ndarray:
    x = np.arange(8)
    c = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16)
    c[0, :] = 1.0
    m = c * np.sqrt(2.0 / 8.0)
    m[0, :] = np.sqrt(1.0 / 8.0)
    return m


_DCT = _dct_matrix()


def _huff_codes(bits, vals):
    """Annex C code generation → {symbol: (code, length)}."""
    codes, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[i]] = (code, ln)
            code += 1
            i += 1
        code <<= 1
    return codes


def _huff_decode_table(bits, vals):
    """{(length, code): symbol} for the incremental decoder."""
    table, code = {}, 0
    i = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            table[(ln, code)] = vals[i]
            code += 1
            i += 1
        code <<= 1
    return table


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            byte = (self.acc >> (self.n - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self) -> bytes:
        if self.n:
            self.write(0x7F, 8 - self.n)  # pad with 1s
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.acc = 0
        self.n = 0

    def bit(self) -> int:
        while self.n == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg: entropy data exhausted")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0
                if nxt == 0x00:
                    self.pos += 1  # stuffed FF
                else:
                    raise ValueError("jpeg: marker inside entropy data")
            self.acc = b
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table) -> int:
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | self.bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("jpeg: invalid huffman code")

    def byte_align(self) -> None:
        self.n = 0


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _category(v: int) -> int:
    return int(v).bit_length() if v >= 0 else int(-v).bit_length()


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * scale + 50) // 100, 1, 255).astype(np.int32)


def encode_jpeg(rgb: np.ndarray, quality: int = 85) -> bytes:
    """(h, w, 3) uint8 → baseline JFIF JPEG, 4:4:4 (no subsampling),
    Annex K example tables scaled by libjpeg's quality convention."""
    h, w = rgb.shape[:2]
    qly = _scaled_qt(_QT_LUMA, quality)
    qlc = _scaled_qt(_QT_CHROMA, quality)
    r = rgb[..., 0].astype(np.float64)
    g = rgb[..., 1].astype(np.float64)
    b = rgb[..., 2].astype(np.float64)
    planes = [
        0.299 * r + 0.587 * g + 0.114 * b,
        -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
        0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
    ]
    ph, pw = (h + 7) // 8 * 8, (w + 7) // 8 * 8
    dc_tabs = [_huff_codes(*_HUFF_DC_LUMA), _huff_codes(*_HUFF_DC_CHROMA)]
    ac_tabs = [_huff_codes(*_HUFF_AC_LUMA), _huff_codes(*_HUFF_AC_CHROMA)]
    qts = [qly, qlc]
    bw = _BitWriter()
    pred = [0, 0, 0]
    # pad planes by edge replication, block-scan in interleaved MCU
    # order (4:4:4 ⇒ MCU = one block per component)
    padded = []
    for pl in planes:
        p = np.empty((ph, pw), dtype=np.float64)
        p[:h, :w] = pl
        p[h:, :w] = pl[-1:, :]
        p[:, w:] = p[:, w - 1 : w]
        padded.append(p - 128.0)
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci in range(3):
                ti = 0 if ci == 0 else 1
                block = padded[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                coef = _DCT @ block @ _DCT.T
                q = np.round(
                    coef.flatten()[_ZIGZAG] / qts[ti][_ZIGZAG]
                ).astype(np.int64)
                diff = int(q[0]) - pred[ci]
                pred[ci] = int(q[0])
                cat = _category(diff)
                code, ln = dc_tabs[ti][cat]
                bw.write(code, ln)
                if cat:
                    bw.write(
                        diff if diff >= 0 else diff + (1 << cat) - 1, cat
                    )
                run = 0
                last_nz = max(np.nonzero(q[1:])[0]) + 1 if q[1:].any() else 0
                for i in range(1, last_nz + 1):
                    v = int(q[i])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_tabs[ti][0xF0]  # ZRL
                        bw.write(code, ln)
                        run -= 16
                    cat = _category(v)
                    code, ln = ac_tabs[ti][(run << 4) | cat]
                    bw.write(code, ln)
                    bw.write(v if v >= 0 else v + (1 << cat) - 1, cat)
                    run = 0
                if last_nz < 63:
                    code, ln = ac_tabs[ti][0x00]  # EOB
                    bw.write(code, ln)
    data = bw.flush()
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tid, qt in ((0, qly), (1, qlc)):
        out += b"\xff\xdb" + struct.pack(">HB", 67, tid)
        out += bytes(int(qt[z]) for z in _ZIGZAG)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for cid, tq in ((1, 0), (2, 1), (3, 1)):
        out += struct.pack("BBB", cid, 0x11, tq)  # 4:4:4
    for cls, tid, spec in (
        (0, 0, _HUFF_DC_LUMA),
        (0, 1, _HUFF_DC_CHROMA),
        (1, 0, _HUFF_AC_LUMA),
        (1, 1, _HUFF_AC_CHROMA),
    ):
        bits, vals = spec
        out += b"\xff\xc4" + struct.pack(
            ">HB", 19 + len(vals), (cls << 4) | tid
        )
        out += bytes(bits) + bytes(vals)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tabs in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += struct.pack("BB", cid, tabs)
    out += b"\x00\x3f\x00"  # Ss, Se, Ah/Al
    out += data
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def parse_jpeg(payload: bytes) -> np.ndarray:
    """Baseline sequential JPEG → (h, w, 3) uint8 RGB (grayscale
    replicated to 3 channels). Single interleaved scan; any sampling
    factors (nearest-neighbor chroma upsample); DRI/RSTn honored."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a jpeg")
    pos = 2
    qts: dict = {}
    huff: dict = {}
    comps: list = []
    h = w = 0
    restart_interval = 0
    scan = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        seg = payload[pos + 2 : pos + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant tables unsupported")
                tbl = np.zeros(64, dtype=np.int32)
                tbl[_ZIGZAG] = np.frombuffer(
                    seg[p + 1 : p + 65], dtype=np.uint8
                )
                qts[tq] = tbl
                p += 65
        elif marker in (0xC0, 0xC1):  # SOF0/1 (baseline)
            prec, h, w, nc = seg[0], *struct.unpack_from(">HH", seg, 1), seg[5]
            if prec != 8:
                raise ValueError("jpeg: only 8-bit precision")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq}
                )
        elif marker in (0xC2, 0xC3):
            raise ValueError("jpeg: progressive/lossless unsupported")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                n = sum(bits)
                vals = list(seg[p + 17 : p + 17 + n])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + n
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tabs = seg[1 + 2 * i], seg[2 + 2 * i]
                comp = next(c for c in comps if c["id"] == cs)
                scan.append((comp, tabs >> 4, tabs & 0xF))
            pos += seg_len
            break
        pos += seg_len
    if scan is None:
        raise ValueError("jpeg: no scan")
    # entropy data runs to EOI; RSTn markers handled by the bit reader
    # reset below
    data = payload[pos : payload.rfind(b"\xff\xd9")]
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    planes = [
        np.zeros((mcuy * 8 * c["v"], mcux * 8 * c["h"]), dtype=np.float64)
        for c, _, _ in scan
    ]
    # split entropy data on restart markers (they are byte-aligned and
    # not stuffed)
    segments = []
    if restart_interval:
        cur = bytearray()
        i = 0
        while i < len(data):
            if (
                data[i] == 0xFF
                and i + 1 < len(data)
                and 0xD0 <= data[i + 1] <= 0xD7
            ):
                segments.append(bytes(cur))
                cur = bytearray()
                i += 2
                continue
            cur.append(data[i])
            i += 1
        segments.append(bytes(cur))
    else:
        segments = [data]
    br = _BitReader(segments[0])
    seg_idx = 0
    pred = [0] * len(scan)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if (
                restart_interval
                and mcu_count
                and mcu_count % restart_interval == 0
            ):
                seg_idx += 1
                br = _BitReader(segments[seg_idx])
                pred = [0] * len(scan)
            for si, (comp, tdc, tac) in enumerate(scan):
                for v_ in range(comp["v"]):
                    for h_ in range(comp["h"]):
                        zz = np.zeros(64, dtype=np.int64)
                        cat = br.huff(huff[(0, tdc)])
                        diff = _extend(br.bits(cat), cat) if cat else 0
                        pred[si] += diff
                        zz[0] = pred[si]
                        i = 1
                        while i < 64:
                            sym = br.huff(huff[(1, tac)])
                            if sym == 0x00:  # EOB
                                break
                            run, cat = sym >> 4, sym & 0xF
                            if cat == 0:
                                if run != 15:
                                    raise ValueError("jpeg: bad AC symbol")
                                i += 16
                                continue
                            i += run
                            if i > 63:
                                raise ValueError("jpeg: AC overflow")
                            zz[i] = _extend(br.bits(cat), cat)
                            i += 1
                        coef = np.zeros(64, dtype=np.float64)
                        coef[_ZIGZAG] = zz * qts[comp["tq"]][_ZIGZAG]
                        block = (
                            _DCT.T @ coef.reshape(8, 8) @ _DCT
                        ) + 128.0
                        y0 = (my * comp["v"] + v_) * 8
                        x0 = (mx * comp["h"] + h_) * 8
                        planes[si][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1
    # upsample to full size and convert
    full = []
    for si, (comp, _, _) in enumerate(scan):
        pl = planes[si]
        ry, rx = vmax // comp["v"], hmax // comp["h"]
        if ry > 1 or rx > 1:
            pl = np.repeat(np.repeat(pl, ry, axis=0), rx, axis=1)
        full.append(pl[:h, :w])
    if len(full) == 1:
        yc = np.clip(full[0], 0, 255)
        return np.repeat(yc[..., None], 3, axis=2).astype(np.uint8)
    yy, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = yy + 1.402 * cr
    g = yy - 0.344136 * cb - 0.714136 * cr
    b = yy + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1), 0, 255).astype(np.uint8)


# Motion-JPEG AVI (round 4) — the video container leaves the stub
# list: a RIFF/AVI writer+reader whose frames are baseline JPEGs
# (decoded by parse_jpeg above). MJPEG-in-AVI is the classic
# library-free video interchange format; real perceptual video codecs
# (H.264 etc.) stay env-blocked.


def encode_avi_mjpeg(
    frames: list, fps: int = 1, quality: int = 85
) -> bytes:
    """List of (h, w, 3) uint8 frames → Motion-JPEG AVI (one '00dc'
    JPEG chunk per frame, avih/strh/strf headers, idx1 index)."""
    if not frames:
        raise ValueError("encode_avi_mjpeg: need at least one frame")
    h, w = frames[0].shape[:2]
    jpegs = [encode_jpeg(f, quality) for f in frames]
    movi_items = b""
    idx = b""
    offset = 4
    for j in jpegs:
        data = j + (b"\x00" if len(j) % 2 else b"")
        movi_items += b"00dc" + struct.pack("<I", len(j)) + data
        idx += b"00dc" + struct.pack("<III", 0x10, offset, len(j))
        offset += 8 + len(data)
    movi = (
        b"LIST" + struct.pack("<I", 4 + len(movi_items)) + b"movi"
        + movi_items
    )
    maxbuf = max(len(j) for j in jpegs)
    avih = b"avih" + struct.pack("<I", 56) + struct.pack(
        "<14I",
        1000000 // fps, 0, 0, 0x10, len(jpegs), 0, 1, maxbuf,
        w, h, 0, 0, 0, 0,
    )
    strh = b"strh" + struct.pack("<I", 56) + b"vidsMJPG" + struct.pack(
        "<IHHIIIIIIII4h",
        0, 0, 0, 0, 1, fps, 0, len(jpegs), maxbuf, 10000, 0,
        0, 0, w, h,
    )
    strf = b"strf" + struct.pack("<I", 40) + struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    strl = (
        b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf)) + b"strl"
        + strh + strf
    )
    hdrl = (
        b"LIST" + struct.pack("<I", 4 + len(avih) + len(strl)) + b"hdrl"
        + avih + strl
    )
    idx1 = b"idx1" + struct.pack("<I", len(idx)) + idx
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def parse_avi_mjpeg(payload: bytes) -> tuple[list, int]:
    """Motion-JPEG AVI → (list of (h, w, 3) uint8 frames, fps). Generic
    RIFF walk (LIST descent); every '..dc'/'..db' chunk decodes through
    :func:`parse_jpeg`; fps = strh rate/scale."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not an avi")
    frames: list = []
    fps = [1]

    def walk(data: bytes) -> None:
        pos = 0
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
            body = data[pos + 8 : pos + 8 + ln]
            if cid == b"LIST":
                walk(body[4:])
            elif cid == b"strh" and body[:4] == b"vids":
                scale, rate = struct.unpack("<II", body[20:28])
                if scale:
                    fps[0] = max(1, rate // scale)
            elif cid[2:4] in (b"dc", b"db") and body[:2] == b"\xff\xd8":
                frames.append(parse_jpeg(body))
            pos += 8 + ln + (ln & 1)

    walk(payload[12:])
    if not frames:
        raise ValueError("avi has no mjpeg frames")
    return frames, fps[0]


def _decode_image(payload: bytes, width: int, height: int) -> np.ndarray:
    """Grayscale float32 in [0, 1]. REAL decode for P6/PPM, PNG, GIF
    (round 4: real LZW), BMP (round 4) and baseline JPEG (round 4:
    full Huffman+IDCT decoder above) + Rec.601 luminance. Unknown
    formats fall back to the deterministic fake (payload bytes tiled
    into (h, w)) — with JPEG real, that branch only serves exotic
    formats a real cluster would route to PIL/ffmpeg."""
    decoders = {
        b"P6": parse_ppm,
        b"\x89PNG\r\n\x1a\n": parse_png,
        b"GIF8": parse_gif,
        b"BM": parse_bmp,
        b"\xff\xd8": parse_jpeg,
    }
    if payload[:4] == b"RIFF" and payload[8:12] == b"AVI ":
        # video: representative luminance = the FIRST mjpeg frame
        rgb = parse_avi_mjpeg(payload)[0][0].astype(np.float32)
        lum = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
        return (lum / 255.0).astype(np.float32)
    for magic, dec in decoders.items():
        if payload[: len(magic)] == magic:
            rgb = dec(payload).astype(np.float32)
            lum = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
            return (lum / 255.0).astype(np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    need = width * height
    tiled = np.tile(arr, need // len(arr) + 1)[:need]
    return tiled.reshape(height, width).astype(np.float32) / 255.0


def _decode_audio(payload: bytes, duration_ms: int) -> np.ndarray:
    """Mono float32 waveform in [-1, 1]. REAL decode for RIFF/WAVE
    16-bit PCM payloads (``parse_wav``); compressed audio codecs are the
    stubbed branch (soundfile on a real cluster) — deterministic fake:
    payload bytes tiled to an 8 kHz waveform of the declared duration."""
    if payload[:4] == b"RIFF":
        wave, _sr = parse_wav(payload)
        return wave
    sr = 8000
    n = max(1, int(duration_ms) * sr // 1000)
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.float32)
    tiled = np.tile(arr, n // len(arr) + 1)[:n]
    return tiled / 127.5 - 1.0


def bilinear_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """REAL bilinear resize (align_corners=False convention, the
    PIL/OpenCV default) — vectorized NumPy, no library needed. Only the
    codec decode is stubbed in this container; the geometry is exact."""
    in_h, in_w = img.shape
    ys = (np.arange(out_h) + 0.5) * in_h / out_h - 0.5
    xs = (np.arange(out_w) + 0.5) * in_w / out_w - 0.5
    y0 = np.clip(np.floor(ys).astype(int), 0, in_h - 1)
    x0 = np.clip(np.floor(xs).astype(int), 0, in_w - 1)
    y1 = np.clip(y0 + 1, 0, in_h - 1)
    x1 = np.clip(x0 + 1, 0, in_w - 1)
    wy = np.clip(ys - y0, 0.0, 1.0)[:, None]
    wx = np.clip(xs - x0, 0.0, 1.0)[None, :]
    tl = img[np.ix_(y0, x0)]
    tr = img[np.ix_(y0, x1)]
    bl = img[np.ix_(y1, x0)]
    br = img[np.ix_(y1, x1)]
    top = tl * (1 - wx) + tr * wx
    bot = bl * (1 - wx) + br * wx
    return (top * (1 - wy) + bot * wy).astype(np.float32)


def resize_images(
    media: DataFrame, out_w: int = 32, out_h: int = 32
) -> DataFrame:
    """Arrow-batched image resize: decode (stub) → REAL bilinear resize →
    re-emit uint8 payload with the new dimensions. Output rides the same
    MEDIA_SCHEMA so downstream stages are unchanged — the standard
    normalize-resolution step of a multimodal training pipeline."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, payload, w, h, dur in pdf[
                ["media_ref", "kind", "payload", "width", "height", "duration_ms"]
            ].itertuples(index=False, name=None):
                img = _decode_image(bytes(payload), int(w), int(h))
                resized = (
                    (bilinear_resize(img, out_h, out_w) * 255.0)
                    .round()
                    .astype(np.uint8)
                )
                # re-encode as P6 (grayscale replicated to RGB) so the
                # resized payload is itself decodable — the stage output
                # round-trips through the same decode path
                rows.append(
                    {
                        "media_ref": ref,
                        "kind": kind,
                        "payload": encode_ppm(
                            np.repeat(resized[:, :, None], 3, axis=2)
                        ),
                        "width": out_w,
                        "height": out_h,
                        "duration_ms": int(dur),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA.fields])

    return media.where(F.col("kind") == "image").mapInPandas(run, MEDIA_SCHEMA)


def extract_media_features(media: DataFrame, feat_dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over media payloads.

    Per batch: decode (stub) → pooled statistics vector; audio decodes
    to a waveform (RMS/zero-crossings), image/video frames to grayscale
    (pooled quadrant means). The batch shape (pandas DataFrame of binary
    + ints) is exactly what a real decoder sees; sizing note — payloads
    make rows heavy, so upstream should ``repartition`` to keep ~64 MB
    per Arrow batch at real payload sizes.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, payload, w, h, dur in pdf[
                ["media_ref", "kind", "payload", "width", "height", "duration_ms"]
            ].itertuples(index=False, name=None):
                if kind == "audio":
                    wave = _decode_audio(bytes(payload), int(dur))
                    zcr = float(np.mean(np.abs(np.diff(np.sign(wave))) > 0))
                    feat = [
                        float(wave.mean()),
                        float(wave.std()),
                        float(wave.min()),
                        float(wave.max()),
                        float(np.sqrt(np.mean(wave**2))),  # RMS
                        zcr,
                        float(len(wave)),
                        0.0,
                    ]
                else:
                    img = _decode_image(bytes(payload), int(w), int(h))
                    # pooled stats: mean/std/min/max + quadrant means; the
                    # halves come from the decoded shape, since a video's
                    # first frame need not have the row's declared size
                    hh, hw = img.shape[0] // 2, img.shape[1] // 2
                    qs = [
                        float(img[:hh, :hw].mean()),
                        float(img[:hh, hw:].mean()),
                        float(img[hh:, :hw].mean()),
                        float(img[hh:, hw:].mean()),
                    ]
                    feat = [
                        float(img.mean()),
                        float(img.std()),
                        float(img.min()),
                        float(img.max()),
                    ] + qs
                rows.append(
                    {
                        "media_ref": ref,
                        "kind": kind,
                        "feature": feat[:feat_dim],
                        "feat_dim": feat_dim,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in FEATURES_SCHEMA.fields])

    return media.mapInPandas(run, FEATURES_SCHEMA)


def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame sampling (kind='video'): one output row per sampled
    timestamp — 1→N mapInPandas fan-out. Round 4: Motion-JPEG AVI
    payloads decode REAL frames (the frame at ts picks by the
    container's fps); unknown containers keep the deterministic stub
    (payload ⊕ ts tiled), preserving the fan-out contract either way."""
    frames_schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("ts_ms", IntegerType()),
            StructField("frame_feature", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload, w, h, dur in pdf[
                ["media_ref", "payload", "width", "height", "duration_ms"]
            ].itertuples(index=False, name=None):
                raw = bytes(payload)
                frames = fps = None
                if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                    frames, fps = parse_avi_mjpeg(raw)
                for ts in range(0, max(int(dur), 1), every_ms):
                    if frames is not None:
                        f = frames[min(ts * fps // 1000, len(frames) - 1)]
                        img = (
                            0.299 * f[..., 0]
                            + 0.587 * f[..., 1]
                            + 0.114 * f[..., 2]
                        ).astype(np.float32) / 255.0
                    else:
                        img = _decode_image(
                            raw + ts.to_bytes(4, "little"), int(w), int(h)
                        )
                    rows.append(
                        {
                            "media_ref": ref,
                            "ts_ms": ts,
                            "frame_feature": [float(img.mean()), float(img.std())],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in frames_schema.fields])

    return media.where(F.col("kind") == "video").mapInPandas(run, frames_schema)


PHASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("phash", LongType()),
    ]
)


def _pack_bits64(bits: np.ndarray) -> int:
    """64 bools (row-major, MSB first) → signed int64 (Spark long)."""
    u = 0
    for b in bits.ravel():
        u = (u << 1) | int(bool(b))
    return u - (1 << 64) if u >= (1 << 63) else u


def _dhash64(img: np.ndarray) -> int:
    """Difference hash (Krawetz 2013 'Kind of Like That'): resize to
    8×9 grayscale, bit = left-to-right gradient sign — robust to
    uniform brightness/contrast shifts because only ORDER matters."""
    g = bilinear_resize(img, 8, 9)
    return _pack_bits64(g[:, 1:] > g[:, :-1])


def _ahash64(img: np.ndarray) -> int:
    """Average hash: resize to 8×8, bit = pixel above the mean."""
    g = bilinear_resize(img, 8, 8)
    return _pack_bits64(g > g.mean())


def perceptual_hash(media: DataFrame, method: str = "dhash") -> DataFrame:
    """64-bit perceptual image hashes (dHash gradient / aHash mean —
    the classic near-duplicate-image fingerprints): decode → 8×9 (or
    8×8) bilinear downsample → sign bits packed MSB-first into one
    LONG. Arrow-batched ``mapInPandas`` over image rows only (the
    decode is per-row pure python by necessity; the downstream pair
    join is pure JVM). Deterministic: same payload ⇒ same hash on any
    partitioning/engine, so the values are golden-pinnable."""
    if method not in ("dhash", "ahash"):
        raise ValueError("perceptual_hash: method must be dhash|ahash")
    fn = _dhash64 if method == "dhash" else _ahash64

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, payload, w, h in pdf[
                ["media_ref", "kind", "payload", "width", "height"]
            ].itertuples(index=False, name=None):
                img = _decode_image(bytes(payload), int(w), int(h))
                rows.append(
                    {"media_ref": ref, "kind": kind, "phash": fn(img)}
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in PHASH_SCHEMA.fields]
            )

    return media.where(F.col("kind") == "image").mapInPandas(
        run, PHASH_SCHEMA
    )


def media_dup_pairs(
    media: DataFrame,
    max_hamming: int = 3,
    method: str = "dhash",
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual hashes fed through the
    banded-hamming join of
    :func:`~golden_horse_spark.operators.dedup.simhash_near_pairs`
    (pigeonhole d+1 bands → equi-join → exact ``bit_count`` verify) —
    the media leg of the dedup family composes with the text leg's
    machinery instead of duplicating it. One Python decode pass, then
    pure JVM; returns ``(ref_a, ref_b, hamming)``. ``hashes``
    short-circuits the decode (same reuse contract as
    ``minhash_dup_pairs(signatures=…)``)."""
    from .dedup import simhash_near_pairs

    ph = hashes if hashes is not None else perceptual_hash(media, method)
    sigs = ph.select(
        F.col("media_ref").alias("doc_id"), F.col("phash").alias("simhash")
    )
    return simhash_near_pairs(
        media, max_hamming=max_hamming, signatures=sigs
    ).select(
        F.col("doc_a").alias("ref_a"),
        F.col("doc_b").alias("ref_b"),
        "hamming",
    )


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("kind", StringType()),
        StructField("landmarks", ArrayType(LongType())),
    ]
)


def _audio_landmarks(
    wave: np.ndarray,
    frame: int = 256,
    hop: int = 128,
    n_peaks: int = 3,
    fan_out: int = 3,
) -> list:
    """Constellation landmark hashes (Wang, ISMIR 2003 — the Shazam
    scheme): Hann-windowed rFFT magnitude per frame, top ``n_peaks``
    bins (ties broken toward the LOWER bin via argsort stability over
    -magnitude), then each anchor peak pairs with the peaks of the
    next ``fan_out`` frames as h = f1·2²⁰ + f2·2⁸ + dt. Peak BIN
    indices are amplitude-invariant (scaling the wave scales every
    magnitude equally), which is what makes the landmark set a
    content fingerprint rather than a loudness one."""
    if len(wave) < frame:
        return []
    win = np.hanning(frame)
    peaks = []
    for start in range(0, len(wave) - frame + 1, hop):
        mag = np.abs(np.fft.rfft(wave[start:start + frame] * win))
        # stable top-k by (-magnitude, bin): lowest bin wins ties
        order = np.argsort(-mag, kind="stable")[:n_peaks]
        peaks.append(sorted(int(b) for b in order))
    out = set()
    for t, ps in enumerate(peaks):
        for f1 in ps:
            for dt in range(1, fan_out + 1):
                if t + dt >= len(peaks):
                    break
                for f2 in peaks[t + dt]:
                    out.add((f1 << 20) | (f2 << 8) | dt)
    return sorted(out)


def audio_fingerprint(
    media: DataFrame,
    frame: int = 256,
    hop: int = 128,
    n_peaks: int = 3,
    fan_out: int = 3,
) -> DataFrame:
    """Arrow-batched audio landmark fingerprints over ``kind='audio'``
    rows (all three real WAV codec paths decode first). Output:
    ``(media_ref, kind, landmarks array<long>)`` — a deterministic
    pure function of the payload (stable argsort tiebreak), so
    checksums over the landmark set are golden-pinnable."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, kind, payload, dur in pdf[
                ["media_ref", "kind", "payload", "duration_ms"]
            ].itertuples(index=False, name=None):
                wave = _decode_audio(bytes(payload), int(dur))
                rows.append(
                    {
                        "media_ref": ref,
                        "kind": kind,
                        "landmarks": _audio_landmarks(
                            wave, frame, hop, n_peaks, fan_out
                        ),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[f.name for f in AUDIO_FP_SCHEMA.fields]
            )

    return media.where(F.col("kind") == "audio").mapInPandas(
        run, AUDIO_FP_SCHEMA
    )


def audio_dup_pairs(
    media: DataFrame,
    min_common: int = 5,
    fingerprints: DataFrame | None = None,
    **fp_kwargs,
) -> DataFrame:
    """Near-duplicate AUDIO pairs by shared constellation landmarks:
    explode each clip's landmark set into an inverted index, ONE
    self-equi-join on the landmark hash, count shared landmarks per
    pair, keep pairs with ≥ ``min_common`` — the same postings-join
    shape as ``ngram_jaccard_pairs``, with the landmark hash space
    (~2²⁸) keeping buckets near-singleton. One Python decode pass,
    then pure JVM. ``fingerprints`` reuses a precomputed table."""
    fp = (
        fingerprints
        if fingerprints is not None
        else audio_fingerprint(media, **fp_kwargs)
    )
    ex = fp.select("media_ref", F.explode("landmarks").alias("lm"))
    l, r = ex.alias("l"), ex.alias("r")
    return (
        l.join(r, "lm")
        .where(F.col("l.media_ref") < F.col("r.media_ref"))
        .groupBy(
            F.col("l.media_ref").alias("ref_a"),
            F.col("r.media_ref").alias("ref_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


VIDEO_HASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("ts_ms", IntegerType()),
        StructField("phash", LongType()),
    ]
)


def video_frame_hashes(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Per-sampled-frame dHash fingerprints over ``kind='video'`` rows:
    the frame at each sampled timestamp (real Motion-JPEG decode for
    AVI payloads, the deterministic stub for unknown containers —
    same dispatch as :func:`sample_video_frames`) is perceptually
    hashed with :func:`_dhash64`. Output ``(media_ref, ts_ms,
    phash)`` — the clip's fingerprint is its frame-hash SET."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, payload, w, h, dur in pdf[
                ["media_ref", "payload", "width", "height", "duration_ms"]
            ].itertuples(index=False, name=None):
                raw = bytes(payload)
                frames = fps = None
                if raw[:4] == b"RIFF" and raw[8:12] == b"AVI ":
                    frames, fps = parse_avi_mjpeg(raw)
                for ts in range(0, max(int(dur), 1), every_ms):
                    if frames is not None:
                        f = frames[min(ts * fps // 1000, len(frames) - 1)]
                        img = (
                            0.299 * f[..., 0]
                            + 0.587 * f[..., 1]
                            + 0.114 * f[..., 2]
                        ).astype(np.float64) / 255.0
                    else:
                        img = _decode_image(
                            raw + ts.to_bytes(4, "little"), int(w), int(h)
                        )
                    rows.append(
                        {
                            "media_ref": ref,
                            "ts_ms": ts,
                            "phash": _dhash64(img),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in VIDEO_HASH_SCHEMA.fields]
            )

    return media.where(F.col("kind") == "video").mapInPandas(
        run, VIDEO_HASH_SCHEMA
    )


def video_dup_pairs(
    media: DataFrame,
    min_common: int = 2,
    every_ms: int = 1000,
    frame_hashes: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs by shared sampled-frame dHashes —
    the postings-join shape again: distinct (clip, frame-hash) rows
    form the inverted index, ONE self-equi-join on the hash, per-pair
    shared-frame count ≥ ``min_common``. Exact-frame matching (the
    re-encode/re-container dedup case); for perturbed frames compose
    :func:`media_dup_pairs`' banded-hamming join over the frame rows
    instead."""
    fh = (
        frame_hashes
        if frame_hashes is not None
        else video_frame_hashes(media, every_ms)
    )
    ex = fh.select("media_ref", "phash").distinct()
    l, r = ex.alias("l"), ex.alias("r")
    return (
        l.join(r, "phash")
        .where(F.col("l.media_ref") < F.col("r.media_ref"))
        .groupBy(
            F.col("l.media_ref").alias("ref_a"),
            F.col("r.media_ref").alias("ref_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def media_dedup(
    media: DataFrame,
    max_hamming: int = 3,
    method: str = "dhash",
    min_common_audio: int = 5,
    min_common_video: int = 2,
) -> DataFrame:
    """End-to-end MEDIA dedup — the :func:`~golden_horse_spark.
    operators.dedup.fuzzy_dedup` recipe applied to every modality in
    one pass: image pairs from dHash banded-hamming, audio pairs from
    shared constellation landmarks, video pairs from shared sampled-
    frame hashes; the union feeds ONE connected-components run (pair-
    graph-sized, not corpus-sized — the shared ``_keep_min_
    representative`` tail) and each duplicate group keeps its
    lexicographically-first ``media_ref``. Rows of kinds without a
    pair generator pass through as singleton keeps.

    Output: ``(media_ref, kind, group, keep)`` — ``group`` is the
    component representative (min ref). Deterministic end to end:
    every pair source is a pure function of the payloads."""
    from .dedup import _keep_min_representative

    img = media_dup_pairs(media, max_hamming=max_hamming, method=method)
    aud = audio_dup_pairs(media, min_common=min_common_audio)
    vid = video_dup_pairs(media, min_common=min_common_video)
    pairs = (
        img.select(F.col("ref_a").alias("id_a"), F.col("ref_b").alias("id_b"))
        .unionByName(
            aud.select(
                F.col("ref_a").alias("id_a"), F.col("ref_b").alias("id_b")
            )
        )
        .unionByName(
            vid.select(
                F.col("ref_a").alias("id_a"), F.col("ref_b").alias("id_b")
            )
        )
    )
    ids = media.select("media_ref", "kind")
    kept = _keep_min_representative(
        ids.select("media_ref"), pairs, "media_ref"
    )
    return ids.join(kept, "media_ref").select(
        "media_ref", "kind", F.col("component").alias("group"), "keep"
    )
