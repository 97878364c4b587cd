"""Multimodal column plumbing (SURVEY.md §2.12).

Design: image/audio/video payloads are opaque `binary` columns with a
typed metadata struct beside them; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas functions over `mapInPandas`
(per-batch, never per-row). Images decode natively for PNM (P6/P5),
8/16-bit incl. Adam7 PNG (rounds 6+8), baseline JPEG (round 7 — Huffman-sequential
SOF0/SOF1 incl. 4:2:0/4:2:2 subsampling and restart intervals),
progressive JPEG (round 8 — SOF2 spectral selection + successive
approximation), and lossless JPEG (round 8 — SOF3 Annex-H predictive
coding, all 7 predictors + point transform) and lossless WebP (VP8L,
round 8); audio for PCM16 WAV and FLAC (round 8 — RFC 9639 fixed/LPC
subframes, Rice residuals, stereo decorrelation, CRC verification);
video for YUV4MPEG2 — all pure numpy/stdlib, tested end to end with
oracle-hashed decode queries (`multimodal_decode`, `multimodal_webp`,
`multimodal_flac`).
Remaining compressed formats (lossy VP8, MP3, H.264 — all DCT lossy
codecs) need codec libraries not in this container and are gated
behind a clearly-marked NotImplementedError with a deterministic fake
used by tests — the Spark-side contract (schema, batch shape,
partitioning) is real either way.

At 100 TB: binary payloads dominate bytes, so the plumbing (a) keeps
metadata in separate columns so predicate pushdown prunes row groups
without touching payloads, (b) never shuffles payloads — feature
extraction is a map-side `mapInPandas`, and only the (small) features
shuffle afterwards.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from ..registry import query

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


# Optional codec dependencies: decode is REAL where the libraries
# exist and a clearly-marked deterministic fake where they don't —
# the Spark plumbing (mapInPandas batching, schemas, partitioning)
# is identical either way.
try:
    from PIL import Image as _PILImage

    _HAS_PIL = True
except ImportError:
    _PILImage = None
    _HAS_PIL = False


def _decode_pnm(payload: bytes):
    """Pure-numpy decoder for binary PNM images (P6 RGB / P5 gray) —
    the uncompressed format family that needs NO codec library, so the
    decode path is genuinely exercised even in environments without
    pillow. Handles '#' header comments per the spec. Maxval up to
    65535: samples over 255 are TWO bytes each, big-endian ("most
    significant byte first", the Netpbm spec), scaled to uint8 by
    exact round-half-up integer arithmetic (255·s/maxval — the r9
    "16-bit PNM" codec boundary, closed in r10; for maxval 65535 this
    matches the PNG decoder's high-byte convention within rounding)."""
    import numpy as np

    magic = payload[:2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(f"not a binary PNM payload (magic {magic!r})")
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # exactly one whitespace byte after maxval, then raster
    w, h, maxval = tokens
    if not 0 < maxval < 65536:
        raise ValueError(f"PNM maxval {maxval} outside the spec's (0, 65536)")
    ch = 3 if magic == b"P6" else 1
    n = w * h * ch
    if maxval > 255:
        if len(payload) - pos < 2 * n:
            raise ValueError("truncated PNM: 16-bit raster cut off")
        wide = np.frombuffer(payload, dtype=">u2", count=n, offset=pos)
        # exact 255·s/maxval, round half up, in int64 (no float ladder);
        # spec-invalid samples above maxval scale past 255 — clamp so
        # the output stays a monotone function of the sample instead of
        # wrapping mod 256 in the uint8 cast (r11 review)
        arr = np.clip(
            (wide.astype(np.int64) * 510 + maxval) // (2 * maxval), 0, 255
        ).astype(np.uint8)
    else:
        if len(payload) - pos < n:
            raise ValueError("truncated PNM: raster cut off")
        arr = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
        if maxval < 255:
            # same exact 255·s/maxval round-half-up as the 2-byte path
            # (identity at maxval=255), so brightness semantics agree
            # on both sides of the 255 boundary — a maxval=100 sample
            # of 100 is full-scale white, not dark gray (r10 ADVICE);
            # clamped for the same spec-invalid-sample reason as above
            arr = np.clip(
                (arr.astype(np.int64) * 510 + maxval) // (2 * maxval), 0, 255
            ).astype(np.uint8)
    return arr.reshape(h, w, ch)


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _decode_png(payload: bytes):
    """Pure-python PNG decoder (round-5 verdict #6: shrink the codec
    boundary; r8 closes it for the remaining mainstream shapes) —
    stdlib zlib inflates IDAT, then the five scanline filters
    (None/Sub/Up/Average/Paeth) un-apply per RFC 2083. Covers 8-bit
    AND 16-bit depth, grayscale / RGB / palette / gray+alpha / RGBA,
    non-interlaced AND Adam7-interlaced (each of the 7 passes is an
    independent filtered sub-image, unfiltered then scattered onto
    the output grid); CRCs are verified per chunk. Returns (h, w,
    channels) uint8 — palette images expand to RGB, 16-bit samples
    scale to their high byte (the standard 16→8 downsample), and
    sub-8-bit samples (1/2/4-bit grayscale and palette, MSB-first
    packed rows with zero-padded final bytes) unpack per RFC 2083
    §2.3 — grayscale scales by the exact 255/85/17 multipliers,
    palette indices look up PLTE. Every legal (color, depth)
    combination decodes natively; illegal combinations raise
    ValueError.

    Perf note: unfiltering is an inherently sequential per-scanline
    recurrence (each row depends on the previous), so the inner loop
    is Python-over-rows with numpy row math — fine inside a
    mapInPandas batch where payloads are thumbnail/tile sized; a 100
    TB decode stage would swap this kernel for a codec library via
    the same decode_media dispatch."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, idat, header, palette = 8, [], None, None
    while pos + 12 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        # guard against truncation BEFORE slicing: a short final chunk
        # must raise the contract's ValueError, not struct.error from
        # unpacking a <4-byte CRC slice (ADVICE r6 #4)
        if pos + 12 + length > len(payload):
            raise ValueError("truncated PNG chunk")
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length : pos + 12 + length]
        )
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if length != 13:
                raise ValueError("malformed IHDR chunk")
            header = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if header is None or not idat:
        raise ValueError("PNG missing IHDR or IDAT")
    w, h, depth, color, comp, filt, interlace = header
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    _CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    if color not in _CHANNELS:  # unknown color type: ValueError, not KeyError
        raise ValueError(f"invalid PNG color type {color}")
    # Legal (color, depth) combinations per RFC 2083 §6.1: grayscale
    # any of 1/2/4/8/16; palette 1/2/4/8; the multi-channel types 8/16.
    _DEPTHS = {0: (1, 2, 4, 8, 16), 3: (1, 2, 4, 8)}
    if depth not in _DEPTHS.get(color, (8, 16)):
        raise ValueError(
            f"illegal PNG depth {depth} for color type {color}"
        )
    channels = _CHANNELS[color]
    bps = depth // 8  # bytes per sample (0 ⇒ sub-byte packing)
    # filter distance rounds UP to one byte for sub-8-bit depths
    # (RFC 2083 §6.2) — unfiltering always operates on packed bytes
    bpp = max(1, channels * bps)
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG IDAT stream: {e}") from e

    # Adam7 pass grid: (x0, y0, dx, dy); interlace 0 = one full pass
    passes = (
        [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
        if interlace == 1
        else [(0, 0, 1, 1)]
    )
    expected = 0
    pass_dims = []
    for x0, y0, dx, dy in passes:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        pass_dims.append((pw, ph))
        if pw and ph:
            # sub-byte rows pack depth-bit samples MSB-first with the
            # final byte zero-padded (RFC 2083 §2.3)
            expected += ph * ((pw * channels * depth + 7) // 8 + 1)
    if len(raw) != expected:
        raise ValueError("PNG raster size mismatch")

    if bps <= 1:
        out = np.zeros((h, w * channels), np.uint8)
    else:
        out16 = np.zeros((h, w, channels), np.uint16)
    off = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, pass_dims):
        if not (pw and ph):
            continue  # empty passes contribute zero scanlines
        stride = (pw * channels * depth + 7) // 8
        sub = np.zeros((ph, stride), np.uint8)
        for y in range(ph):
            ftype = raw[off]
            line = np.frombuffer(
                raw, np.uint8, count=stride, offset=off + 1
            ).astype(np.int32)
            off += stride + 1
            prev = (
                sub[y - 1].astype(np.int32)
                if y > 0
                else np.zeros(stride, np.int32)
            )
            if ftype == 0:
                cur = line
            elif ftype == 2:  # Up
                cur = (line + prev) & 0xFF
            elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential
                cur = np.zeros(stride, np.int32)
                for x in range(stride):
                    a = cur[x - bpp] if x >= bpp else 0
                    if ftype == 1:
                        cur[x] = (line[x] + a) & 0xFF
                    elif ftype == 3:
                        cur[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
                    else:
                        c = prev[x - bpp] if x >= bpp else 0
                        cur[x] = (line[x] + _paeth(a, int(prev[x]), int(c))) & 0xFF
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            sub[y] = cur.astype(np.uint8)
        if depth < 8:
            # unpack the filtered-and-restored bytes into depth-bit
            # samples, MSB-first, dropping the final byte's padding
            bits = np.unpackbits(sub, axis=1).reshape(ph, -1, depth)
            vals = np.zeros((ph, bits.shape[1]), np.uint8)
            for b in range(depth):
                vals = (vals << 1) | bits[:, :, b]
            px = vals[:, : pw * channels]
            if color == 0:
                # standard sample scaling to full 8-bit range: the
                # multipliers 255/85/17 are exact for depths 1/2/4
                px = px * np.uint8(255 // ((1 << depth) - 1))
            if interlace:
                out.reshape(h, w, channels)[y0::dy, x0::dx] = px.reshape(
                    ph, pw, channels
                )
            else:
                out = px
        elif bps == 1:
            px = sub.reshape(ph, pw * channels)
            if interlace:
                out.reshape(h, w, channels)[y0::dy, x0::dx] = px.reshape(
                    ph, pw, channels
                )
            else:
                out = px
        else:
            px16 = sub.reshape(ph, pw, channels, 2)
            vals = (
                px16[..., 0].astype(np.uint16) << 8
            ) | px16[..., 1].astype(np.uint16)
            out16[y0::dy, x0::dx] = vals
    if bps == 2:
        arr = (out16 >> 8).astype(np.uint8)
    else:
        arr = out.reshape(h, w, channels)
    if color == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        idx = arr[:, :, 0]
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("PNG palette index out of range")
        arr = palette[idx]
    return arr


_PNM_TYPES = ("image/x-portable-pixmap", "image/x-portable-graymap")
_WAV_TYPES = ("audio/wav", "audio/x-wav", "audio/wave")
_Y4M_TYPES = ("video/x-y4m", "video/yuv4mpeg")


def _decode_y4m(payload: bytes):
    """Pure-numpy decoder for YUV4MPEG2 (.y4m) uncompressed video —
    the third no-codec-needed modality beside PNM images and PCM WAV.
    Parses the parameter header and per-frame FRAME markers; returns
    the luma (Y) planes stacked as (n_frames, h, w) uint8 — the part
    frame-sampling and thumbnailing pipelines consume. 4:2:0
    subsampling only (the y4m default); other chroma modes raise."""
    import numpy as np

    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    chroma = b"420"
    for p in payload[:nl].split(b" ")[1:]:
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
        elif p[:1] == b"C":
            chroma = p[1:]
    if w is None or h is None:
        raise ValueError("y4m header missing W/H")
    if not chroma.startswith(b"420"):
        raise NotImplementedError("only 4:2:0 y4m decodes natively")
    frame_size = w * h * 3 // 2
    pos, frames = nl + 1, []
    while pos < len(payload):
        if not payload.startswith(b"FRAME", pos):
            raise ValueError("missing FRAME marker in y4m stream")
        pos = payload.index(b"\n", pos) + 1
        frames.append(
            np.frombuffer(payload, np.uint8, count=w * h, offset=pos).reshape(h, w)
        )
        pos += frame_size
    return np.stack(frames)


def _decode_wav(payload: bytes):
    """Pure-numpy decoder for PCM16 RIFF/WAVE audio — like PNM, the
    uncompressed container needs no codec library. Walks the chunk
    list per the spec (fmt may not be the first chunk; chunks pad to
    even sizes). Returns int16 samples shaped (n_samples, n_channels).
    Compressed WAV (non-PCM codecs) raises NotImplementedError."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated WAV: fmt chunk cut off")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)
    if fmt is None or data is None:
        raise ValueError("RIFF/WAVE payload missing fmt or data chunk")
    audio_fmt, n_ch, _rate, _bps, _align, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise NotImplementedError(
            "only PCM16 WAV decodes natively; compressed audio needs a codec"
        )
    return np.frombuffer(data, dtype="<i2").reshape(-1, n_ch)


def _encode_wav_pcm16(data: bytes, rate: int = 8000) -> bytes:
    """Minimal spec-conformant mono PCM16 RIFF/WAVE emitter — the
    forward dual of `_decode_wav` (the `_encode_flac_pcm16` pattern):
    each input byte becomes one int16 sample, letting corpus-scale
    queries gate the decoder's chunk-walk on real driver data."""
    import struct

    import numpy as np

    samples = np.frombuffer(bytes(data), np.uint8).astype("<i2")
    d = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(d)) + d
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


class _JpegBitReader:
    """MSB-first bit reader over a JPEG entropy-coded segment: handles
    0xFF00 byte stuffing, detects restart/terminating markers, and can
    byte-align at restart boundaries (ITU T.81 §B.1.1.5, §F.2.2.5)."""

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.cur, self.nbits = data, pos, 0, 0

    def bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 1  # stuffed 0xFF data byte
                else:
                    raise ValueError("marker inside JPEG entropy data")
            self.cur, self.nbits = b, 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2
        else:
            raise ValueError("expected JPEG restart marker")


def _jpeg_huff_decode(reader, table: dict) -> int:
    code, length = 0, 0
    while length < 17:
        code = (code << 1) | reader.bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """RECEIVE/EXTEND (T.81 §F.2.2.1): map s magnitude bits to a
    signed coefficient."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


class _Vp8lBitReader:
    """LSB-first bit reader (WebP lossless bitstream convention — the
    opposite bit order of JPEG's _JpegBitReader)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data, self.pos, self.cur, self.nbits = data, pos, 0, 0

    def bits(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated VP8L bitstream")
            self.cur |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        v = self.cur & ((1 << n) - 1)
        self.cur >>= n
        self.nbits -= n
        return v


class _Vp8lCode:
    """Canonical prefix code (DEFLATE-style: codes assigned smallest
    length first, in symbol order, transmitted MSB-of-code first)."""

    def __init__(self, lengths: dict[int, int]):
        # lengths: symbol -> code length (>0)
        self.single = None
        nz = {s: l for s, l in lengths.items() if l > 0}
        if len(nz) == 1:
            self.single = next(iter(nz))
            self.table = {}
            return
        # over/under-subscribed length sets decode ambiguously
        if nz and sum(1 << (15 - l) for l in nz.values()) != (1 << 15):
            raise ValueError("invalid VP8L prefix code lengths")
        code = 0
        self.table = {}
        for ln in range(1, 16):
            for sym in sorted(s for s, l in nz.items() if l == ln):
                self.table[(ln, code)] = sym
                code += 1
            code <<= 1

    def decode(self, r: _Vp8lBitReader) -> int:
        if self.single is not None:
            return self.single  # zero-length code consumes no bits
        code, ln = 0, 0
        while ln < 16:
            code = (code << 1) | r.bits(1)
            ln += 1
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid VP8L prefix code")


_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

# the 40 distance symbols: 1-120 map to near-pixel offsets, ordered by
# squared distance then dy desc then dx desc (the spec's published
# 120-entry table is exactly this enumeration: dy=0 -> dx 1..8,
# dy 1..7 -> dx -7..8)
_VP8L_DIST_MAP = sorted(
    [(dx, 0) for dx in range(1, 9)]
    + [(dx, dy) for dy in range(1, 8) for dx in range(-7, 9)],
    key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]),
)


def _vp8l_read_code(r: _Vp8lBitReader, alphabet_size: int) -> _Vp8lCode:
    """One prefix code: 'simple' (1-2 symbols inline) or normal
    (code-length-coded lengths with 16/17/18 repeat ops, DEFLATE-like,
    plus the optional max_symbol cap)."""
    if r.bits(1):  # simple
        num = r.bits(1) + 1
        first_len = 8 if r.bits(1) else 1
        sym0 = r.bits(first_len)
        if num == 1:
            return _Vp8lCode({sym0: 1})  # degenerate: 0-bit code
        sym1 = r.bits(8)
        return _Vp8lCode({sym0: 1, sym1: 1})
    num_cl = 4 + r.bits(4)
    cl_lengths = {}
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = r.bits(3)
    cl_code = _Vp8lCode({s: l for s, l in cl_lengths.items() if l > 0})
    if r.bits(1):  # length-capped symbol list
        length_nbits = 2 + 2 * r.bits(3)
        max_symbol = 2 + r.bits(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths: dict[int, int] = {}
    symbol, prev_len = 0, 8
    while symbol < alphabet_size and max_symbol > 0:
        max_symbol -= 1
        s = cl_code.decode(r)
        if s < 16:
            lengths[symbol] = s
            symbol += 1
            if s:
                prev_len = s
        elif s == 16:
            rep = 3 + r.bits(2)
            for _ in range(rep):
                if symbol < alphabet_size:
                    lengths[symbol] = prev_len
                    symbol += 1
        elif s == 17:
            symbol += 3 + r.bits(3)
        else:  # 18
            symbol += 11 + r.bits(7)
    return _Vp8lCode({s: l for s, l in lengths.items() if l > 0})


def _vp8l_prefix_value(r: _Vp8lBitReader, code: int) -> int:
    """LZ77 length/distance prefix decoding (spec 'prefix coding of
    the backward references')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + r.bits(extra) + 1


def _vp8l_decode_pixels(r: _Vp8lBitReader, w: int, h: int, spatial: bool):
    """Decode one VP8L-coded pixel grid into an (h, w) uint32 ARGB
    array. `spatial` images read the meta-prefix (entropy image) bit;
    sub-images (transform data, palettes, the entropy image itself)
    do not. Color cache applies to both."""
    import numpy as np

    cache_bits = r.bits(4) if r.bits(1) else 0
    if cache_bits > 11:
        raise ValueError("invalid VP8L color cache size")
    cache = [0] * (1 << cache_bits) if cache_bits else None

    meta = None
    meta_bits = 0
    n_groups = 1
    if spatial and r.bits(1):  # meta prefix codes
        meta_bits = r.bits(3) + 2
        mw = -(-w // (1 << meta_bits))
        mh = -(-h // (1 << meta_bits))
        meta_img = _vp8l_decode_pixels(r, mw, mh, spatial=False)
        meta = ((meta_img >> 8) & 0xFFFF).astype(np.int64)  # (red<<8)|green
        n_groups = int(meta.max()) + 1

    green_alpha = 256 + 24 + (1 << cache_bits if cache_bits else 0)
    groups = []
    for _ in range(n_groups):
        g = _vp8l_read_code(r, green_alpha)
        red = _vp8l_read_code(r, 256)
        blue = _vp8l_read_code(r, 256)
        alpha = _vp8l_read_code(r, 256)
        dist = _vp8l_read_code(r, 40)
        groups.append((g, red, blue, alpha, dist))

    out = np.zeros(w * h, np.uint32)
    pos = 0

    def cache_insert(px: int) -> None:
        if cache is not None:
            cache[(0x1E35A7BD * px & 0xFFFFFFFF) >> (32 - cache_bits)] = px

    while pos < w * h:
        if meta is not None:
            y, x = divmod(pos, w)
            gidx = int(meta[y >> meta_bits, x >> meta_bits])
            if gidx >= n_groups:
                raise ValueError("VP8L entropy image references missing group")
            gc, rc, bc, ac, dc = groups[gidx]
        else:
            gc, rc, bc, ac, dc = groups[0]
        s = gc.decode(r)
        if s < 256:  # literal
            g = s
            red = rc.decode(r)
            blue = bc.decode(r)
            alpha = ac.decode(r)
            px = (alpha << 24) | (red << 16) | (g << 8) | blue
            out[pos] = px
            cache_insert(px)
            pos += 1
        elif s < 280:  # backward reference
            length = _vp8l_prefix_value(r, s - 256)
            dcode = _vp8l_prefix_value(r, dc.decode(r))
            if dcode > 120:
                distance = dcode - 120
            else:
                dx, dy = _VP8L_DIST_MAP[dcode - 1]
                distance = dy * w + dx
                if distance < 1:
                    distance = 1
            if distance > pos or pos + length > w * h:
                raise ValueError("VP8L backward reference out of range")
            for _ in range(length):
                px = int(out[pos - distance])
                out[pos] = px
                cache_insert(px)
                pos += 1
        else:  # color cache hit
            if cache is None:
                raise ValueError("VP8L cache symbol without a color cache")
            idx = s - 280
            if idx >= len(cache):
                raise ValueError("VP8L cache index out of range")
            px = cache[idx]
            out[pos] = px
            cache_insert(px)
            pos += 1
    return out.reshape(h, w)


def _vp8l_apply_inverse_transforms(argb, transforms):
    """Apply the recorded transforms in reverse read order."""
    for ttype, tdata in reversed(transforms):
        if ttype == 2:  # subtract green
            a, rch, g, b = (
                (argb >> 24) & 0xFF,
                (argb >> 16) & 0xFF,
                (argb >> 8) & 0xFF,
                argb & 0xFF,
            )
            rch = (rch + g) & 0xFF
            b = (b + g) & 0xFF
            argb = (a << 24) | (rch << 16) | (g << 8) | b
        elif ttype == 0:  # predictor
            bits, tiles = tdata
            # operate on the CURRENT grid (a color-indexing transform
            # read earlier shrinks the coded width; tile dims were
            # computed against that same shrunken width at read time)
            gh, gw = argb.shape
            argb = _vp8l_inverse_predictor(argb, tiles, bits, gw, gh)
        elif ttype == 1:  # cross-color
            bits, tiles = tdata
            gh, gw = argb.shape
            argb = _vp8l_inverse_color_transform(argb, tiles, bits, gw, gh)
        elif ttype == 3:  # color indexing
            palette, width_bits, orig_w = tdata
            argb = _vp8l_expand_palette(argb, palette, width_bits, orig_w)
        else:
            raise ValueError(f"unknown VP8L transform {ttype}")
    return argb


def _vp8l_avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) // 2) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) // 2) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) // 2) << 8
        | ((a & 0xFF) + (b & 0xFF)) // 2
    )


def _vp8l_predict(mode: int, L: int, T: int, TL: int, TR: int) -> int:
    """The 14 spec predictors (spec §'Predictor transform')."""
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(L, TR), T)
    if mode == 6:
        return _vp8l_avg2(L, TL)
    if mode == 7:
        return _vp8l_avg2(L, T)
    if mode == 8:
        return _vp8l_avg2(TL, T)
    if mode == 9:
        return _vp8l_avg2(T, TR)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(L, TL), _vp8l_avg2(T, TR))
    if mode == 11:  # Select: Manhattan-closer of L and T to (L+T-TL)
        pl = pt = 0
        for sh in (24, 16, 8, 0):
            lc, tc, tlc = (L >> sh) & 0xFF, (T >> sh) & 0xFF, (TL >> sh) & 0xFF
            p = lc + tc - tlc
            pl += abs(p - lc)
            pt += abs(p - tc)
        return L if pl < pt else T
    if mode == 12:  # ClampAddSubtractFull
        px = 0
        for sh in (24, 16, 8, 0):
            v = ((L >> sh) & 0xFF) + ((T >> sh) & 0xFF) - ((TL >> sh) & 0xFF)
            px |= max(0, min(255, v)) << sh
        return px
    if mode == 13:  # ClampAddSubtractHalf
        ave = _vp8l_avg2(L, T)
        px = 0
        for sh in (24, 16, 8, 0):
            a = (ave >> sh) & 0xFF
            b = (TL >> sh) & 0xFF
            v = a + int((a - b) / 2)  # C-style truncation toward zero
            px |= max(0, min(255, v)) << sh
        return px
    raise ValueError(f"invalid VP8L predictor mode {mode}")


def _vp8l_inverse_predictor(argb, tiles, bits: int, w: int, h: int):
    """Residuals + per-tile predictor, applied per channel mod 256.
    Edge rules: (0,0) uses black; the rest of row 0 uses L; column 0
    uses T; TR of the rightmost pixel is the first pixel of the
    CURRENT row (the contiguous-buffer convention: top[x+1] of row
    y-1 aliases pixel (0, y))."""
    out = [[0] * w for _ in range(h)]
    for y in range(h):
        for x in range(w):
            res = int(argb[y, x])
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = out[0][x - 1]
            elif x == 0:
                pred = out[y - 1][x]
            else:
                mode = (int(tiles[y >> bits, x >> bits]) >> 8) & 0xFF
                L = out[y][x - 1]
                T = out[y - 1][x]
                TL = out[y - 1][x - 1]
                TR = out[y - 1][x + 1] if x + 1 < w else out[y][0]
                pred = _vp8l_predict(mode, L, T, TL, TR)
            px = 0
            for sh in (24, 16, 8, 0):
                px |= (((res >> sh) + (pred >> sh)) & 0xFF) << sh
            out[y][x] = px
    import numpy as np

    return np.array(out, np.uint32)


def _vp8l_inverse_color_transform(argb, tiles, bits: int, w: int, h: int):
    """Cross-color inverse (spec: green_to_red in BLUE, green_to_blue
    in GREEN, red_to_blue in RED of the transform pixel; deltas are
    int8 products >> 5, blue's red term uses the RECOVERED red)."""
    import numpy as np

    def s8(v: int) -> int:
        return v - 256 if v >= 128 else v

    out = np.zeros_like(argb)
    for y in range(h):
        for x in range(w):
            px = int(argb[y, x])
            cte = int(tiles[y >> bits, x >> bits])
            g2r = s8((cte >> 0) & 0xFF)
            g2b = s8((cte >> 8) & 0xFF)
            r2b = s8((cte >> 16) & 0xFF)
            a = (px >> 24) & 0xFF
            rch = (px >> 16) & 0xFF
            g = (px >> 8) & 0xFF
            b = px & 0xFF
            rch = (rch + ((g2r * s8(g)) >> 5)) & 0xFF
            b = (b + ((g2b * s8(g)) >> 5) + ((r2b * s8(rch)) >> 5)) & 0xFF
            out[y, x] = (a << 24) | (rch << 16) | (g << 8) | b
    return out


def _vp8l_expand_palette(argb, palette, width_bits: int, orig_w: int):
    """Color-indexing inverse: unpack sub-byte indices (LSB-first
    within the green byte) and look up the palette; out-of-range
    indices decode to 0x00000000 per the spec."""
    import numpy as np

    h = argb.shape[0]
    out = np.zeros((h, orig_w), np.uint32)
    ppb = 1 << width_bits  # pixels per packed byte
    bpp = 8 >> width_bits
    mask = (1 << bpp) - 1
    for y in range(h):
        for x in range(orig_w):
            packed = int(argb[y, x >> width_bits]) if width_bits else int(argb[y, x])
            idx = ((packed >> 8) & 0xFF)
            if width_bits:
                idx = (idx >> (bpp * (x % ppb))) & mask
            out[y, x] = palette[idx] if idx < len(palette) else 0
    return out


def _decode_webp(payload: bytes):
    """WebP container + VP8L (lossless) decode, pure python/numpy per
    the public 'WebP Lossless Bitstream Specification': LSB-first bit
    reading, simple and code-length-coded canonical prefix codes,
    meta prefix (entropy image) groups, color cache, LZ77 backward
    references with the 120-entry near-offset distance map (generated
    from its defining enumeration, not hand-typed), and all four
    transforms (predictor, cross-color, subtract-green,
    color-indexing incl. sub-byte packed indices). Returns
    (h, w, 4) RGBA uint8 — VP8L always carries alpha.

    Lossy VP8/VP8X payloads raise NotImplementedError (a DCT video
    intra-frame codec is out of scope for a pure-python decoder);
    same per-pixel-python perf boundary as the JPEG walkers —
    thumbnail/tile scale inside mapInPandas batches."""
    import struct

    import numpy as np

    if payload[:4] != b"RIFF" or payload[8:12] != b"WEBP":
        raise ValueError("not a WebP payload")
    pos = 12
    vp8l = None
    saw_lossy = False
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (sz,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + sz]
        if tag == b"VP8L":
            vp8l = body
            break
        if tag == b"VP8 ":
            saw_lossy = True
        pos += 8 + sz + (sz & 1)
    if vp8l is None:
        if saw_lossy:
            raise NotImplementedError(
                "lossy VP8 webp needs a codec library (only VP8L lossless "
                "decodes natively)"
            )
        raise ValueError("WebP container has no VP8L or VP8 chunk")
    r = _Vp8lBitReader(vp8l)
    if r.bits(8) != 0x2F:
        raise ValueError("bad VP8L signature byte")
    w = r.bits(14) + 1
    h = r.bits(14) + 1
    r.bits(1)  # alpha hint
    if r.bits(3) != 0:
        raise ValueError("unknown VP8L version")

    transforms = []
    cur_w = w
    seen = set()
    while r.bits(1):
        ttype = r.bits(2)
        if ttype in seen:
            raise ValueError("duplicate VP8L transform")
        seen.add(ttype)
        if ttype == 2:  # subtract green — no data
            transforms.append((2, None))
        elif ttype in (0, 1):  # predictor / cross-color tiles
            bits = r.bits(3) + 2
            tw = -(-cur_w // (1 << bits))
            th = -(-h // (1 << bits))
            tiles = _vp8l_decode_pixels(r, tw, th, spatial=False)
            transforms.append((ttype, (bits, tiles)))
        else:  # color indexing
            n_colors = r.bits(8) + 1
            pal_img = _vp8l_decode_pixels(r, n_colors, 1, spatial=False)
            # palette entries are difference-coded per channel
            palette = []
            prev = 0
            for i in range(n_colors):
                d = int(pal_img[0, i])
                px = 0
                for sh in (24, 16, 8, 0):
                    px |= (((d >> sh) + (prev >> sh)) & 0xFF) << sh
                palette.append(px)
                prev = px
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, (palette, width_bits, cur_w)))
            cur_w = -(-cur_w // (1 << width_bits))

    argb = _vp8l_decode_pixels(r, cur_w, h, spatial=True)
    argb = _vp8l_apply_inverse_transforms(argb, transforms)
    if argb.shape != (h, w):
        raise ValueError("VP8L transform chain produced wrong dimensions")
    out = np.zeros((h, w, 4), np.uint8)
    out[:, :, 0] = (argb >> 16) & 0xFF  # R
    out[:, :, 1] = (argb >> 8) & 0xFF   # G
    out[:, :, 2] = argb & 0xFF          # B
    out[:, :, 3] = (argb >> 24) & 0xFF  # A
    return out


def _encode_vp8l_gray(data: bytes) -> bytes:
    """Minimal VP8L (lossless WebP) encoder for a 1×len(data) grayscale
    row — the forward dual that lets the corpus-scale `multimodal_webp`
    query feed the native decoder real spec-conformant payloads without
    a codec library. Uses the subtract-green transform (red/blue
    residuals collapse to the constant 0, so those channels ship as
    zero-bit single-symbol codes) and an identity 8-bit green code
    (all 256 literal symbols at length 8 — the canonical assignment
    makes code == symbol, and the 24 length-prefix + cache symbols
    stay unused via the max_symbol cap). ~110 bytes for 64 pixels,
    one pass, no state."""
    import struct

    w = len(data)
    if not 1 <= w <= (1 << 14):
        raise ValueError("VP8L row encoder supports 1..16384 pixels")
    acc = nbits = 0
    out = bytearray()

    def put(v: int, n: int) -> None:
        nonlocal acc, nbits
        acc |= (v & ((1 << n) - 1)) << nbits
        nbits += n
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(0x2F, 8)  # signature
    put(w - 1, 14)
    put(0, 14)  # height 1
    put(0, 1)  # alpha hint
    put(0, 3)  # version
    put(1, 1)  # a transform follows
    put(2, 2)  # subtract-green
    put(0, 1)  # end of transforms
    put(0, 1)  # no color cache
    put(0, 1)  # no meta prefix codes
    # GREEN: normal code, all 256 literals at length 8 (identity).
    put(0, 1)  # not simple
    put(8, 4)  # num_code_lengths = 12 — covers CL symbols 16 and 8
    for i in range(12):  # CL order: 17 18 0 1 2 3 4 5 16 6 7 8
        put(1 if i in (8, 11) else 0, 3)  # len(16)=len(8)=1
    # canonical over {8, 16}: 8 -> code 0, 16 -> code 1 (1 bit each)
    # max_symbol caps code-length READS (one per loop iteration, repeat
    # ops included), so it must equal the stream's op count: 1 literal
    # "8" + 42 repeats of 6 + 1 repeat of 3 = 44 ops -> 256 symbols.
    put(1, 1)  # max_symbol cap present
    put(2, 3)  # length_nbits = 2 + 2*2 = 6
    put(42, 6)  # max_symbol = 2 + 42 = 44
    put(0, 1)  # CL sym 8: symbol 0 gets length 8
    for _ in range(42):  # 42 × (16, rep 3+3=6) = 252 more length-8 syms
        put(1, 1)  # CL sym 16
        put(3, 2)  # repeat prev_len 6 times
    put(1, 1)  # CL sym 16, rep 3+0=3 — symbols 253..255
    put(0, 2)
    # RED / BLUE: zero-bit single-symbol 0 (simple, 1-bit-wide value)
    for _ in range(2):
        put(1, 1)
        put(0, 1)  # one symbol
        put(0, 1)  # 1-bit symbol
        put(0, 1)
    # ALPHA: zero-bit single symbol 255 (simple, 8-bit-wide value)
    put(1, 1)
    put(0, 1)
    put(1, 1)
    put(255, 8)
    # DISTANCE: zero-bit single symbol 0
    put(1, 1)
    put(0, 1)
    put(0, 1)
    put(0, 1)
    for b in data:  # identity code: MSB-first byte per pixel
        for i in range(7, -1, -1):
            put((b >> i) & 1, 1)
    if nbits:
        out.append(acc & 0xFF)
    payload = bytes(out)
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _jpeg_lossless_predict(plane, x: int, y: int, pred: int, default: int, fresh: bool) -> int:
    """T.81 Annex H.1.2 sample prediction in the point-transformed
    domain. `fresh` marks the first sample of the scan or of a restart
    interval (default prediction, H.2.2); the first line falls back to
    Ra and the first column to Rb per H.1.2.2."""
    if fresh:
        return default
    if y == 0:
        return int(plane[0, x - 1]) if x > 0 else default
    if x == 0:
        return int(plane[y - 1, 0])
    ra, rb, rc = int(plane[y, x - 1]), int(plane[y - 1, x]), int(plane[y - 1, x - 1])
    if pred == 1:
        return ra
    if pred == 2:
        return rb
    if pred == 3:
        return rc
    if pred == 4:
        return ra + rb - rc
    if pred == 5:
        return ra + ((rb - rc) >> 1)
    if pred == 6:
        return rb + ((ra - rc) >> 1)
    if pred == 7:
        return (ra + rb) >> 1
    raise ValueError(f"invalid lossless JPEG predictor {pred}")


def _decode_jpeg_lossless(payload: bytes):
    """Lossless sequential Huffman JPEG (SOF3, ITU T.81 Annex H):
    per-sample predictive coding — Huffman SSSS category from a DC
    table, EXTENDed difference, modulo-2^16 reconstruction against
    one of the 7 spec predictors, point transform Pt (samples coded
    with Pt LSBs dropped, shifted back on output). Supports
    interleaved (one sample per component per MCU) and
    non-interleaved scans, restart intervals (prediction resets to
    the H.2.2 default for each component's next sample), and
    in-stream DHT/DRI between scans. 8-bit precision only, all
    sampling factors 1 (the overwhelmingly common lossless shape —
    DNG-style payloads); anything else raises NotImplementedError.

    T.81 defines NO color space for lossless frames (JFIF's YCbCr
    convention is a DCT-JPEG practice), so multi-component output is
    the raw component planes stacked as channels. NB pillow does not
    decode SOF3 at all — before this decoder the fall-through was a
    dead end, not a degrade path."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart_interval = 0
    planes = None
    fresh = None  # per-component: next sample uses default prediction
    pts = None    # per-component point transform (shifted back on output)
    saw_scan = False

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("malformed JPEG marker stream")
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # B.1.1.2 fill bytes
        if pos + 4 > len(payload):
            break
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xC3:  # SOF3
            if frame is not None:
                raise ValueError("multiple JPEG SOF frames")
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise NotImplementedError(
                    "only 8-bit lossless JPEG sample precision"
                )
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = []
            for c in range(nc):
                cid, hv, _tq = body[6 + 3 * c : 9 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled lossless JPEG needs a codec library"
                    )
                comps.append(cid)
            frame = (h, w, comps)
            planes = [np.zeros((h, w), np.int32) for _ in comps]
            fresh = [True] * nc
            pts = [0] * nc
        elif marker == 0xC4:  # DHT — same canonical build as the DCT path
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT segment")
                tc, th = body[i] >> 4, body[i] & 15
                counts = body[i + 1 : i + 17]
                i += 17
                if i + sum(counts) > len(body):
                    raise ValueError("JPEG DHT declares more symbols than present")
                table, code = {}, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = body[i]
                        i += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps = frame
            ns = body[0] if body else 0
            if ns < 1 or len(body) < 4 + 2 * ns:
                raise ValueError("truncated JPEG SOS segment")
            scan = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            pred, se = body[1 + 2 * ns], body[2 + 2 * ns]
            pt = body[3 + 2 * ns] & 15
            if not 1 <= pred <= 7 or se != 0:
                raise ValueError("invalid lossless JPEG scan header")
            by_id = {cid: idx for idx, cid in enumerate(comps)}
            sel = []
            for cs, tdta in scan:
                if cs not in by_id:
                    raise ValueError(
                        f"JPEG scan references unknown frame component {cs}"
                    )
                if (0, tdta >> 4) not in huff:
                    raise ValueError(
                        "JPEG scan references an undefined Huffman table"
                    )
                sel.append((by_id[cs], tdta >> 4))
            if len({s[0] for s in sel}) != len(sel):
                raise ValueError("duplicate JPEG scan component selector")
            for ci, _ in sel:
                pts[ci] = pt
            default = 1 << (8 - pt - 1)
            reader = _JpegBitReader(payload, pos + 2 + seglen)
            mcu = 0
            for y in range(h):
                for x in range(w):
                    if restart_interval and mcu and mcu % restart_interval == 0:
                        reader.restart()
                        for ci, _ in sel:
                            fresh[ci] = True
                    for ci, td in sel:
                        s = _jpeg_huff_decode(reader, huff[(0, td)])
                        if s == 16:
                            diff = 32768
                        elif s:
                            diff = _jpeg_extend(reader.bits(s), s)
                        else:
                            diff = 0
                        p = _jpeg_lossless_predict(
                            planes[ci], x, y, pred, default, fresh[ci]
                        )
                        fresh[ci] = False
                        planes[ci][y, x] = (p + diff) & 0xFFFF
                    mcu += 1
            # non-interleaved scans walk the SAME (y, x) sample grid
            # (all factors are 1), so one loop serves both shapes
            saw_scan = True
            pos = sync_to_marker_from(payload, reader.pos)
            continue
        pos += 2 + seglen
    if frame is None or planes is None or not saw_scan:
        raise ValueError("JPEG missing SOF or SOS")
    out = np.stack(
        [p << s for p, s in zip(planes, pts)], axis=2
    )
    return np.clip(out, 0, 255).astype(np.uint8)


def sync_to_marker_from(payload: bytes, p: int) -> int:
    """First real marker at/after p (skips entropy padding, 0xFF00
    stuffing, and stray RSTn) — module-level twin of _decode_jpeg's
    local helper, shared by the lossless walker."""
    while p + 1 < len(payload):
        if (
            payload[p] == 0xFF
            and payload[p + 1] != 0x00
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            return p
        p += 1
    return len(payload)


def _decode_jpeg(payload: bytes):
    """Pure-python JPEG decoder (closes the last codec boundary,
    round-6 verdict #8; progressive support added round 8 closing
    verdict-r7 gap #2): Huffman DCT per ITU T.81 — baseline/extended
    sequential (SOF0/SOF1) and progressive (SOF2) frames, 8-bit
    quantization tables, interleaved and non-interleaved scans,
    spectral selection + successive approximation (DC/AC first and
    refinement passes per G.1.2, EOB runs), restart intervals,
    in-stream DHT/DRI redefinition between scans, JFIF YCbCr→RGB.
    Returns (h, w, channels) uint8 — 3 channels for color, 1 for
    grayscale. Lossless frames (SOF3) route to the dedicated
    predictive decoder below; differential and arithmetic-coded
    frames raise NotImplementedError and fall through to pillow when
    present (though pillow itself decodes neither).

    The entropy decode is a Python-per-bit loop, which is the
    documented perf boundary: right for thumbnail/tile payloads inside
    a mapInPandas batch (same contract as `_decode_png`'s sequential
    unfilter), swapped for a codec library at production decode scale
    via the same `decode_media` dispatch. The IDCT is one vectorized
    8×8 DCT-matrix einsum over all blocks per component.

    Architecture: every scan accumulates quantized coefficients into
    per-component (blocks_y, blocks_x, 64) zigzag-order stores —
    baseline is simply the degenerate one-scan case (Ss=0, Se=63,
    Ah=Al=0, interleaved) — and one shared dequant/IDCT/upsample tail
    renders the result, so a progressive file decodes bit-identically
    to a baseline file carrying the same coefficients (pinned in
    test_multimodal by a two-sided test encoder)."""
    import struct

    import numpy as np

    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None  # (h, w, comps) where comps = [(cid, hs, vs, tq)]
    progressive = False
    restart_interval = 0
    coefs = None       # per-comp zigzag-order coefficient stores
    grids = None       # per-comp (nby_c, nbx_c) non-interleaved dims
    mcux = mcuy = max_h = max_v = 0

    def sync_to_marker(p: int) -> int:
        """First real marker at/after p (skips entropy padding, 0xFF00
        stuffing, and stray RSTn)."""
        while p + 1 < len(payload):
            if (
                payload[p] == 0xFF
                and payload[p + 1] != 0x00
                and not (0xD0 <= payload[p + 1] <= 0xD7)
            ):
                return p
            p += 1
        return len(payload)

    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("malformed JPEG marker stream")
        # T.81 B.1.1.2: any marker may be preceded by optional 0xFF
        # fill bytes — skip them, or the fill byte reads as marker
        # 0xFF and the real marker byte is misread as segment length
        # (ADVICE r7 #3)
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(payload):
            break
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise NotImplementedError(
                        "16-bit quantization tables are extended-precision JPEG"
                    )
                if i + 65 > len(body):
                    raise ValueError("truncated JPEG DQT segment")
                qt[tq] = np.frombuffer(
                    body[i + 1 : i + 65], np.uint8
                ).astype(np.int32)
                i += 65
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 progressive
            if coefs is not None:
                # non-hierarchical JPEG has exactly one frame; a second
                # SOF would silently re-map scan selectors against
                # stores sized for the first frame
                raise ValueError("multiple JPEG SOF frames")
            progressive = marker == 0xC2
            prec, h, w, nc = body[0], *struct.unpack(">HH", body[1:5]), body[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG sample precision")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF segment")
            comps = []
            for c in range(nc):
                cid, hv, tq_id = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 4 and 1 <= vs <= 4):
                    # T.81 B.2.2: Hi/Vi in 1..4 — a zero factor would
                    # divide-by-zero the MCU geometry downstream (the
                    # r10 corruption-fuzz finding)
                    raise ValueError(
                        f"JPEG sampling factor {hs}x{vs} outside 1..4"
                    )
                comps.append((cid, hs, vs, tq_id))
            frame = (h, w, comps)
        elif marker == 0xC3:  # SOF3 lossless sequential Huffman
            # predictive coding shares nothing with the DCT pipeline
            # (no quant/zigzag/IDCT); a dedicated walker keeps this
            # loop's coefficient-store architecture untouched
            return _decode_jpeg_lossless(payload)
        elif marker in (0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "differential/arithmetic-coded JPEG needs a codec library"
            )
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT segment")
                tc, th = body[i] >> 4, body[i] & 15
                counts = body[i + 1 : i + 17]
                i += 17
                if i + sum(counts) > len(body):
                    raise ValueError("JPEG DHT declares more symbols than present")
                table, code = {}, 0
                for length in range(1, 17):
                    for _ in range(counts[length - 1]):
                        table[(length, code)] = body[i]
                        i += 1
                        code += 1
                    code <<= 1
                huff[(tc, th)] = table
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated JPEG DRI segment")
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS — decode one scan, then resume
            ns = body[0] if body else 0
            if ns < 1:
                raise ValueError("JPEG scan declares no components")
            if len(body) < 4 + 2 * ns:
                raise ValueError("truncated JPEG SOS segment")
            scan = [(body[1 + 2 * c], body[2 + 2 * c]) for c in range(ns)]
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ah_al = body[3 + 2 * ns]
            ah, al = ah_al >> 4, ah_al & 15
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps = frame
            if coefs is None:
                max_h = max(c[1] for c in comps)
                max_v = max(c[2] for c in comps)
                mcux = -(-w // (8 * max_h))
                mcuy = -(-h // (8 * max_v))
                coefs, grids = [], []
                for cid, hs, vs, tq_id in comps:
                    coefs.append(
                        np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
                    )
                    cw = -(-(w * hs) // max_h)  # component sample dims
                    ch = -(-(h * vs) // max_v)
                    grids.append((-(-ch // 8), -(-cw // 8)))
            # map scan selectors to frame components BY ID (a scan may
            # order or reference components differently than the frame
            # — positional assignment would swap tables and decode
            # garbage)
            by_id = {c[0]: idx for idx, c in enumerate(comps)}
            sel = []
            for cs, tdta in scan:
                if cs not in by_id:
                    raise ValueError(
                        f"JPEG scan references unknown frame component {cs}"
                    )
                sel.append((by_id[cs], tdta >> 4, tdta & 15))
            if len({s[0] for s in sel}) != len(sel):
                raise ValueError("duplicate JPEG scan component selector")
            # validate exactly the tables this scan type consumes
            # (tables may legally arrive or be redefined between scans)
            if ss == 0:
                if progressive and se != 0:
                    raise ValueError("progressive JPEG DC scan with Se != 0")
                needed = (
                    [(0, td) for _, td, _ in sel] if ah == 0 else []
                )  # DC refinement is raw bits, no table
                if not progressive:
                    needed += [(1, ta) for _, _, ta in sel]
            else:
                if not progressive:
                    raise ValueError("sequential JPEG scan with Ss != 0")
                if ns != 1:
                    raise ValueError(
                        "progressive JPEG AC scan must have one component"
                    )
                if se < ss or se > 63:
                    raise ValueError("invalid JPEG spectral band")
                needed = [(1, sel[0][2])]
            for key in needed:
                if key not in huff:
                    raise ValueError(
                        "JPEG scan references an undefined Huffman table"
                    )
            reader = _JpegBitReader(payload, pos + 2 + seglen)
            _jpeg_decode_scan(
                reader, coefs, comps, grids, sel,
                ss, se, ah, al, huff, restart_interval, mcux, mcuy,
            )
            pos = sync_to_marker(reader.pos)
            continue
        pos += 2 + seglen
    if frame is None or coefs is None:
        raise ValueError("JPEG missing SOF or SOS")
    h, w, comps = frame
    for cid, hs, vs, tq_id in comps:
        if tq_id not in qt:
            raise ValueError("JPEG frame references an undefined quant table")
    # orthonormal 8x8 DCT basis; IDCT(block) = C.T @ coeff @ C —
    # vectorized over every block per component in one einsum
    u = np.arange(8)
    C = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) * np.sqrt(2 / 8)
    C[0] /= np.sqrt(2)
    out = []
    for ci, (cid, hs, vs, tq_id) in enumerate(comps):
        cz = coefs[ci]
        nby, nbx = cz.shape[0], cz.shape[1]
        nat = np.zeros((nby, nbx, 64), np.float64)
        nat[..., _ZIGZAG] = cz * qt[tq_id]
        px = (
            np.einsum("ij,abjk,kl->abil", C.T, nat.reshape(nby, nbx, 8, 8), C)
            + 128.0
        )
        p = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        if hs != max_h or vs != max_v:  # chroma upsample to full grid
            p = np.repeat(np.repeat(p, max_v // vs, axis=0), max_h // hs, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        # round like the color path (truncation biased gray darker)
        return np.clip(np.round(out[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = out[0], out[1] - 128.0, out[2] - 128.0
    rgb = np.stack(
        [y + 1.402 * cr, y - 0.344136 * cb - 0.714136 * cr, y + 1.772 * cb],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def _jpeg_decode_scan(
    reader, coefs, comps, grids, sel, ss, se, ah, al, huff,
    restart_interval, mcux, mcuy,
):
    """Decode one entropy-coded scan into the coefficient stores.

    Covers all four T.81 Huffman scan kinds: DC first (G.1.2.1 —
    also the baseline combined DC+AC scan when Se=63), DC refinement
    (one raw bit per block), AC first with EOB runs (G.1.2.2), and AC
    refinement with correction bits (G.1.2.3, the IJG jdphuff
    formulation — `(c & p1) == 0` relies on two's-complement &, which
    Python ints share). ns>1 scans iterate MCU-interleaved over the
    padded grid; ns==1 scans iterate the component's own block grid
    row-major (non-interleaved, T.81 A.2.2)."""
    interleaved = len(sel) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        nby_c, nbx_c = grids[sel[0][0]]
        units = nby_c * nbx_c
    dc_tabs = {ci: huff.get((0, td)) for ci, td, _ in sel}
    ac_tabs = {ci: huff.get((1, ta)) for ci, _, ta in sel}
    pred = {ci: 0 for ci, _, _ in sel}
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)

    def dc_block(blk, ci):
        nonlocal pred
        if ah == 0:
            s = _jpeg_huff_decode(reader, dc_tabs[ci])
            diff = _jpeg_extend(reader.bits(s), s) if s else 0
            pred[ci] += diff
            blk[0] = pred[ci] << al
            if se:  # baseline combined scan: AC 1..63 follows inline
                ac = ac_tabs[ci]
                k = 1
                while k <= se:
                    rs = _jpeg_huff_decode(reader, ac)
                    r, size = rs >> 4, rs & 15
                    if size == 0:
                        if r != 15:
                            break  # EOB
                        k += 16
                        continue
                    k += r
                    if k > se:
                        raise ValueError("JPEG AC coefficient overrun")
                    blk[k] = _jpeg_extend(reader.bits(size), size)
                    k += 1
        elif reader.bit():
            blk[0] |= p1

    def ac_first_block(blk, ac):
        nonlocal eobrun
        if eobrun > 0:
            eobrun -= 1
            return
        k = ss
        while k <= se:
            rs = _jpeg_huff_decode(reader, ac)
            r, size = rs >> 4, rs & 15
            if size == 0:
                if r != 15:
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.bits(r)
                    return
                k += 16
                continue
            k += r
            if k > se:
                raise ValueError("JPEG AC coefficient overrun")
            blk[k] = _jpeg_extend(reader.bits(size), size) << al
            k += 1

    def ac_refine_block(blk, ac):
        nonlocal eobrun
        k = ss
        if eobrun == 0:
            while k <= se:
                rs = _jpeg_huff_decode(reader, ac)
                r, size = rs >> 4, rs & 15
                val = 0
                if size == 0:
                    if r != 15:
                        eobrun = 1 << r
                        if r:
                            eobrun += reader.bits(r)
                        break  # correction-bit tail below finishes it
                    # ZRL: skip 16 zero-history coefficients
                else:
                    if size != 1:
                        raise ValueError("invalid JPEG AC refinement magnitude")
                    val = p1 if reader.bit() else m1
                while k <= se:
                    c = int(blk[k])
                    if c != 0:
                        if reader.bit() and (c & p1) == 0:
                            blk[k] = c + (p1 if c >= 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    blk[k] = val
                k += 1
        if eobrun > 0:
            while k <= se:
                c = int(blk[k])
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        blk[k] = c + (p1 if c >= 0 else m1)
                k += 1
            eobrun -= 1

    for unit in range(units):
        if restart_interval and unit and unit % restart_interval == 0:
            reader.restart()
            pred = {ci: 0 for ci, _, _ in sel}
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, mcux)
            for ci, td, ta in sel:
                cid, hs, vs, tq_id = comps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        dc_block(coefs[ci][my * vs + by, mx * hs + bx], ci)
        else:
            ci = sel[0][0]
            by, bx = divmod(unit, grids[ci][1])
            blk = coefs[ci][by, bx]
            if ss == 0:
                dc_block(blk, ci)
            elif ah == 0:
                ac_first_block(blk, ac_tabs[ci])
            else:
                ac_refine_block(blk, ac_tabs[ci])


def decode_media(payload: bytes, media_type: str):
    """Decode a binary payload to a numpy array.

    Binary PNM images (P6/P5) decode with the built-in pure-numpy
    parser — no library needed; other image formats decode via PIL
    when it is installed (`pip install pillow`); audio/video need
    librosa/av. Without a usable decoder this raises
    NotImplementedError — callers that can degrade (feature
    extraction) fall back to the deterministic fake kernel.
    """
    if media_type in _PNM_TYPES or (
        media_type.startswith("image/") and payload[:2] in (b"P5", b"P6")
    ):
        return _decode_pnm(payload)
    if media_type in _WAV_TYPES or (
        media_type.startswith("audio/") and payload[:4] == b"RIFF"
    ):
        return _decode_wav(payload)
    if media_type in _FLAC_TYPES or (
        media_type.startswith("audio/") and payload[:4] == b"fLaC"
    ):
        # every spec-legal FLAC form decodes natively (RFC 9639:
        # fixed/LPC/constant/verbatim subframes, both Rice methods,
        # escapes, wasted bits, all channel decorrelations, CRCs)
        return _decode_flac(payload)
    if media_type in _Y4M_TYPES or (
        media_type.startswith("video/") and payload[:9] == b"YUV4MPEG2"
    ):
        return _decode_y4m(payload)
    if media_type in _TIFF_TYPES or (
        media_type.startswith("image/")
        and payload[:4] in (b"II*\x00", b"MM\x00*")
    ):
        # baseline TIFF: IFD walk, strips, none/LZW compression
        # (MSB-first, early change), horizontal predictor
        return _decode_tiff(payload)
    if media_type == "image/bmp" or (
        media_type.startswith("image/") and payload[:2] == b"BM"
    ):
        # BI_RGB 1/4/8-bit paletted + 24-bit BGR decode natively;
        # RLE/bitfield compressions raise NotImplementedError
        return _decode_bmp(payload)
    if media_type == "image/gif" or (
        media_type.startswith("image/")
        and payload[:6] in (b"GIF87a", b"GIF89a")
    ):
        # GIF87a/89a decode natively (variable-width LZW incl. the
        # 12-bit cap and frozen-dictionary deferral, interlace,
        # local color tables); transparency renders as palette color
        return _decode_gif(payload)
    if media_type == "image/png" or (
        media_type.startswith("image/") and payload[:8] == b"\x89PNG\r\n\x1a\n"
    ):
        # every legal PNG depth/interlace combination decodes natively
        # (r8: sub-8-bit + Adam7 + 16-bit landed); malformed files
        # raise ValueError — no pillow fall-through remains
        return _decode_png(payload)
    if media_type == "image/webp" or (
        media_type.startswith("image/")
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WEBP"
    ):
        try:
            return _decode_webp(payload)
        except NotImplementedError:
            if not _HAS_PIL:
                raise
            # lossy VP8: fall through to pillow
    if media_type == "image/jpeg" or (
        media_type.startswith("image/") and payload[:2] == b"\xff\xd8"
    ):
        try:
            return _decode_jpeg(payload)
        except NotImplementedError:
            if not _HAS_PIL:
                raise
            # extended precision / arithmetic / lossless: fall through
    if media_type.startswith("image/") and _HAS_PIL:
        import io

        import numpy as np

        return np.asarray(_PILImage.open(io.BytesIO(payload)))
    raise NotImplementedError(
        f"no decoder available for {media_type!r}: install pillow "
        "(lossy VP8 webp) or an audio/video codec library; PNM, PNG "
        "(all legal depths, incl. sub-8-bit and Adam7), baseline, "
        "progressive, and lossless (SOF3) JPEG, lossless WebP (VP8L), "
        "PCM WAV, FLAC, and y4m video "
        "decode natively, and the Spark plumbing "
        "around decode (mapInPandas batching, schemas, partitioning) is "
        "real and tested"
    )


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in for the decode→embed kernel: byte-histogram
    moments. Keeps tests meaningful without codec libraries."""
    if not payload:
        return [0.0] * dim
    return [float(sum(payload[i::dim]) % 997) / 997.0 for i in range(dim)]


def media_feature(payload: bytes, media_type: str, dim: int = 8) -> list[float]:
    """Feature vector for one payload: real pixel statistics when the
    payload is decodable in this environment, the deterministic fake
    otherwise (same shape/dtype, so downstream plans are identical)."""
    try:
        arr = decode_media(payload, media_type)
    except NotImplementedError:
        return _fake_feature(payload, dim)
    import numpy as np

    flat = arr.reshape(-1).astype("float64")
    if flat.size == 0:
        return [0.0] * dim
    # per-stride mean intensities/amplitudes, normalized to the
    # sample domain — cheap, deterministic, and genuinely a function
    # of the decoded pixels/samples
    scale = 32768.0 if np.issubdtype(arr.dtype, np.int16) else 255.0
    return [float(flat[i::dim].mean()) / scale for i in range(dim)]


def extract_features(media: DataFrame, batch_size_hint: int = 64) -> DataFrame:
    """Feature extraction over binary payloads via `mapInPandas`.

    Map-side only: payloads never shuffle; each Arrow batch yields a
    small feature frame. The kernel (`media_feature`) decodes for real
    when codec libraries are installed and degrades to the
    deterministic fake otherwise.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "feature": [
                        media_feature(p, t)
                        for p, t in zip(pdf["payload"], pdf["media_type"])
                    ],
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from `documents` (UTF-8 payloads) — the
    binary-column capability demo this environment supports."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        payload.alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


@query(
    "multimodal_bytes",
    oracle="""
    SELECT doc_id AS media_id,
           'text/plain' AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
)
def multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata path: payload size + digest computed on a
    real `binary` column, metadata kept alongside (pushdown-prunable).
    Payload bytes themselves stay out of the result — at scale you
    select metadata, never the blob."""
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return media.select(
        "media_id",
        "media_type",
        "n_bytes",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def sample_frames(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame sampling over binary payloads: 1 input row → up to
    `max_frames` output rows per payload via `mapInPandas` (the video
    frame-extraction plumbing shape — a row-EXPANDING batch kernel,
    unlike `extract_features`' 1→1).

    The compressed-format decoder is gated in this environment (PNM
    decodes for real — see `decode_media`); the deterministic
    stand-in slices the payload every `every_n_bytes` — batch shapes,
    schema, and the 1→N row accounting are real.
    """

    def frames(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                if mtype in _Y4M_TYPES:
                    # REAL frame extraction for the natively-decodable
                    # video container: up to max_frames luma planes
                    planes = _decode_y4m(bytes(payload))
                    for k in range(min(max_frames, planes.shape[0])):
                        chunk = planes[k].tobytes()
                        rows.append((mid, k, chunk, len(chunk)))
                    continue
                for k in range(min(max_frames, max(1, len(payload) // every_n_bytes))):
                    chunk = bytes(payload[k * every_n_bytes : (k + 1) * every_n_bytes])
                    rows.append((mid, k, chunk, len(chunk)))
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_bytes", "n_bytes"]
            )

    return media.mapInPandas(frames, FRAME_SCHEMA)


@query(
    "multimodal_frames",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS nb
      FROM documents
    ), f AS (
      SELECT media_id, nb,
             unnest(generate_series(0, LEAST(8, GREATEST(1, nb // 64)) - 1)) AS k
      FROM m
    )
    SELECT media_id,
           k::INT                            AS frame_idx,
           LEAST(64, nb - k * 64)::BIGINT    AS n_bytes
    FROM f
    """,
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline: payload → N frame rows with typed
    metadata (frame_idx, byte size). The mapInPandas kernel's 1→N
    accounting is deterministic byte arithmetic, so even this
    Python-kernel operator is hash-verified: the oracle recomputes
    frame counts and sizes from octet lengths alone."""
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return sample_frames(media).select("media_id", "frame_idx", "n_bytes")


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           'text/plain' AS media_type,
           octet_length(encode(text))::BIGINT AS n_bytes,
           8::INT AS feature_dim
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multimodal feature pipeline on synthesized payloads:
    binary column → mapInPandas feature extraction → typed
    array<double> feature column. The oracle verifies the pipeline
    contract (row-per-payload, metadata passthrough, fixed feature
    dimensionality); the feature VALUES are kernel-specific (real
    decode where codec libs exist, byte-histogram fake otherwise) and
    are pinned by tests instead."""
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    feats = extract_features(media)
    return feats.select(
        "media_id", "media_type", "n_bytes", F.size("feature").alias("feature_dim")
    )


def resize_pnm(payload: bytes, target: int) -> tuple[bytes, int]:
    """REAL image downsample for binary PNM: decode, keep every
    stride-th row and column so the longer side lands ≤ ``target``,
    re-encode as the same PNM variant. Returns (payload, stride)."""
    import math

    arr = _decode_pnm(payload)
    h, w, ch = arr.shape
    stride = max(1, math.ceil(max(h, w) / target))
    out = arr[::stride, ::stride]
    magic = b"P6" if ch == 3 else b"P5"
    header = b"%s\n%d %d\n255\n" % (magic, out.shape[1], out.shape[0])
    return header + out.tobytes(), stride


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("orig_bytes", T.LongType()),
        T.StructField("stride", T.IntegerType()),
        T.StructField("resized_bytes", T.LongType()),
        T.StructField("resized_payload", T.BinaryType()),
    ]
)


def resize_media(media: DataFrame, target: int = 32) -> DataFrame:
    """Resize/downsample over binary payloads via `mapInPandas` (the
    image-thumbnail / audio-downsample plumbing shape — 1→1 like
    feature extraction, but emitting a SMALLER binary payload plus
    the resize accounting).

    The compressed-format decoder-resampler is gated in this
    environment (PNM decodes for real — see `decode_media`); the
    deterministic stand-in keeps every stride-th
    byte, stride = ceil(n/target), so the output payload has at most
    ``target`` bytes. Schema, batch shape, and the size accounting
    are real and oracle-checkable.
    """
    import math

    def resize(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in it:
            for mid, payload, mtype in zip(
                pdf["media_id"], pdf["payload"], pdf["media_type"]
            ):
                n = len(payload)
                if mtype in _PNM_TYPES:
                    # REAL 2D downsample for the natively-decodable
                    # format: keep every stride-th row/column, then
                    # re-encode — an actual thumbnail, not a byte slice
                    resized, stride = resize_pnm(bytes(payload), target)
                else:
                    stride = max(1, math.ceil(n / target))
                    resized = bytes(payload[::stride])
                rows.append((mid, n, stride, len(resized), resized))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "orig_bytes",
                    "stride",
                    "resized_bytes",
                    "resized_payload",
                ],
            )
            rows = []

    return media.mapInPandas(resize, RESIZE_SCHEMA)


@query(
    "multimodal_resize",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, octet_length(encode(text))::BIGINT AS nb
      FROM documents
    )
    SELECT media_id,
           nb                                              AS orig_bytes,
           GREATEST(1, CAST(ceil(nb / 32.0) AS INT))       AS stride,
           CAST(ceil(nb / GREATEST(1.0, ceil(nb / 32.0))) AS BIGINT)
                                                           AS resized_bytes
    FROM m
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pipeline: payload → ≤32-byte downsample with typed
    accounting (original size, stride, resized size). The mapInPandas
    kernel's stride arithmetic is deterministic, so the Python-kernel
    operator hash-verifies: the oracle recomputes stride and resized
    length from octet lengths alone (len(payload[::s]) = ceil(n/s)).
    The resized payload itself stays out of the result set (binary
    column; driver canonicalizer contract) — byte-level correctness
    of the stride sampling is pytest-pinned on a literal fixture."""
    docs = load_table(spark, sf_dir, "documents")
    media = documents_as_media(docs)
    return resize_media(media).select(
        "media_id", "orig_bytes", "stride", "resized_bytes"
    )


# Shared result shape of every codec's corpus hash gate, all six of
# which (multimodal_decode/webp/gif/bmp/tiff/flac) are one call to
# `_decode_gate` below: the Spark side encodes the
# UTF-8 BYTES of each document's first 64 CHARACTERS
# (encode(substring(text, 1, 64))) while the DuckDB oracle recomputes
# mean_px from the first 64 CODEPOINTS (ascii(substr(text, i, 1))).
# These agree iff the prefix is pure ASCII (1 byte == 1 codepoint ==
# ascii() value) — an EXPLICIT ASSUMPTION on the driver's synthetic
# documents table (r9 ADVICE #3), pinned mechanically by
# tests/test_multimodal.py::test_graded_documents_prefix_is_ascii so a
# generator change surfaces as a red test naming this contract, not an
# unexplained driver hash mismatch. A non-ASCII corpus would need
# octet_length(text) = length(text) filters on BOTH sides (or byte-
# level oracles); the synthetic corpus makes that dead weight today.
DECODE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("img_h", T.IntegerType()),
        T.StructField("img_w", T.IntegerType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)

# The five image gates' DuckDB oracle: (1, w, mean codepoint) over the
# first w = min(64, length) characters of every non-empty document.
_IMAGE_GATE_ORACLE = """
    SELECT doc_id AS media_id,
           1 AS img_h,
           LEAST(64, length(text))::INT AS img_w,
           FLOOR(list_aggregate(
                   list_transform(generate_series(1, LEAST(64, length(text))),
                                  i -> ascii(substr(text, i, 1))),
                   'avg') * 10000 + 0.5) / 10000 AS mean_px
    FROM documents
    WHERE length(text) >= 1
    """


def _decode_gate(spark: SparkSession, sf_dir: str, decode, payload=None) -> DataFrame:
    """One codec gate: for every document with non-empty text, run
    ``decode`` on its payload bytes in an Arrow-batched mapInPandas
    pass and emit (media_id, img_h, img_w, mean_px) — the decoded
    array's first two dimensions and the mean of its channel 0
    (``arr[..., 0]``), floor-rounded to 4 decimals engine-side.
    ``payload`` is a Column over the documents row; it defaults to
    the UTF-8 bytes of the first 64 characters, built here because a
    module-level ``F.encode`` needs an active SparkContext. Map-side
    only: payloads are built and decoded in one pass, nothing binary
    shuffles."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 1)
    if payload is None:
        payload = F.encode(F.substring("text", 1, 64), "UTF-8")
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))

    def stats(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, p in zip(pdf["media_id"], pdf["payload"]):
                arr = decode(bytes(p))
                # UNROUNDED here: Python round() is banker's; the
                # engine-side floor-form below (FLOOR(x*1e4 + 0.5))
                # rounds the bit-identical double identically on both
                # engines (r12 ROUND-over-exact-ratio class; r13
                # conversion of the codec family)
                mean = float(np.mean(arr[..., 0].astype("float64")))
                out.append((mid, int(arr.shape[0]), int(arr.shape[1]), mean))
            yield pd.DataFrame(out, columns=DECODE_STATS_SCHEMA.fieldNames())

    return media.mapInPandas(stats, DECODE_STATS_SCHEMA).withColumn(
        "mean_px", F.floor(F.col("mean_px") * 10000 + 0.5) / 10000.0
    )


@query("multimodal_decode", oracle=_IMAGE_GATE_ORACLE)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL decode path, driver-hash-verified end to end: each
    document's first 64 bytes become a 1×w grayscale binary PNM
    payload (header + raster built ENGINE-side with concat/encode),
    the Arrow-batched kernel decodes it with the pure-numpy P5 parser,
    and the emitted (height, width, mean pixel) statistics must match
    DuckDB recomputing the same statistics from the raw text
    codepoints — if the decoder misparses the header, drops raster
    bytes, or mis-normalizes, the hash gate fails. Complements the
    pytest-pinned fixtures with a corpus-scale oracle.

    Map-side only, like every payload kernel here: payloads are built
    and decoded inside one mapInPandas pass, nothing binary shuffles."""
    w = F.least(F.lit(64), F.length("text"))
    header = F.encode(F.format_string("P5\n%d 1\n255\n", w), "UTF-8")
    payload = F.concat(header, F.encode(F.substring("text", 1, 64), "UTF-8"))
    return _decode_gate(spark, sf_dir, _decode_pnm, payload)


@query("multimodal_webp", oracle=_IMAGE_GATE_ORACLE)
def multimodal_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale hash gate for the native VP8L (lossless WebP)
    decoder: each document's first 64 bytes become a real 1×w VP8L
    bitstream via the minimal forward encoder (`_encode_vp8l_gray` —
    subtract-green transform + identity 8-bit green code), the
    Arrow-batched kernel decodes it with `_decode_webp` (prefix-code
    machinery, transform inversion, RIFF walk — the full production
    path), and the (height, width, mean-R) statistics must match
    DuckDB recomputing them from the raw text codepoints. A drift in
    either direction of the bitstream convention (bit order, canonical
    code assignment, transform delta sign) fails the hash, complement-
    ing tests/test_webp.py's spec-dual fixtures with driver evidence.

    Map-side only: payloads are built and decoded inside one
    mapInPandas pass, nothing binary shuffles."""
    return _decode_gate(spark, sf_dir, lambda b: _decode_webp(_encode_vp8l_gray(b)))


# ---------------------------------------------------------------------------
# Native FLAC (lossless audio) — round-8 session-4. Pure python/numpy
# decoder for the public FLAC format spec (RFC 9639): metadata walk,
# frame sync + UTF-8 frame/sample numbers, CONSTANT / VERBATIM / FIXED
# (orders 0-4) / LPC (quantized-coefficient) subframes, Rice residuals
# (both 4- and 5-bit param methods, escape partitions), wasted bits,
# all four channel assignments (independent, left-side, right-side,
# mid-side), and CRC-8 header + CRC-16 frame verification. FLAC is to
# audio what PNG is to images — the dominant lossless interchange
# format — so a corpus pipeline that ingests audio shards needs it
# before any lossy codec.
# ---------------------------------------------------------------------------

_FLAC_TYPES = ("audio/flac", "audio/x-flac")


class _FlacBits:
    """MSB-first bit reader (the bit order the FLAC spec mandates)."""

    def __init__(self, buf: bytes, pos_bytes: int = 0):
        self.buf = buf
        self.pos = pos_bytes * 8

    def read(self, n: int) -> int:
        v = 0
        pos, buf = self.pos, self.buf
        if (pos + n) > len(buf) * 8:
            raise ValueError("flac: bitstream truncated")
        for _ in range(n):
            v = (v << 1) | ((buf[pos >> 3] >> (7 - (pos & 7))) & 1)
            pos += 1
        self.pos = pos
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def read_unary(self) -> int:
        pos, buf = self.pos, self.buf
        limit = len(buf) * 8
        q = 0
        while True:
            if pos >= limit:
                raise ValueError("flac: bitstream truncated in unary code")
            if (buf[pos >> 3] >> (7 - (pos & 7))) & 1:
                pos += 1
                break
            q += 1
            pos += 1
        self.pos = pos
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    def byte_pos(self) -> int:
        return self.pos >> 3


def _crc8_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_flac(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
            )
    return crc


def _flac_utf8_number(bits: "_FlacBits") -> int:
    """The UTF-8-style variable-length frame/sample number (FLAC
    extends UTF-8 to 36-bit values with a 7-byte form)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n_follow = 0
    mask = 0x80
    while b0 & mask:
        n_follow += 1
        mask >>= 1
    if n_follow < 2 or n_follow > 7:
        raise ValueError("flac: invalid UTF-8 coded number")
    v = b0 & (0xFF >> (n_follow + 1))
    for _ in range(n_follow - 1):
        nb = bits.read(8)
        if nb & 0xC0 != 0x80:
            raise ValueError("flac: invalid UTF-8 continuation")
        v = (v << 6) | (nb & 0x3F)
    return v


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_residual(bits: "_FlacBits", blocksize: int, order: int) -> list[int]:
    method = bits.read(2)
    if method > 1:
        raise ValueError("flac: reserved residual coding method")
    param_bits = 4 if method == 0 else 5
    escape = (1 << param_bits) - 1
    porder = bits.read(4)
    n_parts = 1 << porder
    if blocksize % n_parts:
        raise ValueError("flac: partition order does not divide blocksize")
    out: list[int] = []
    for p in range(n_parts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("flac: predictor order exceeds first partition")
        param = bits.read(param_bits)
        if param == escape:
            raw = bits.read(5)
            if raw == 0:
                out.extend(0 for _ in range(n))
            else:
                out.extend(bits.read_signed(raw) for _ in range(n))
        else:
            for _ in range(n):
                q = bits.read_unary()
                low = bits.read(param) if param else 0
                v = (q << param) | low
                out.append((v >> 1) ^ -(v & 1))
    return out


def _flac_subframe(bits: "_FlacBits", blocksize: int, bps: int) -> list[int]:
    if bits.read(1):
        raise ValueError("flac: subframe padding bit set")
    sf_type = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.read_unary() + 1
    eff_bps = bps - wasted
    if sf_type == 0:  # CONSTANT
        samples = [bits.read_signed(eff_bps)] * blocksize
    elif sf_type == 1:  # VERBATIM
        samples = [bits.read_signed(eff_bps) for _ in range(blocksize)]
    elif 8 <= sf_type <= 12:  # FIXED, order 0-4
        order = sf_type - 8
        samples = [bits.read_signed(eff_bps) for _ in range(order)]
        res = _flac_residual(bits, blocksize, order)
        coefs = _FLAC_FIXED_COEFS[order]
        for r in res:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(pred + r)
    elif sf_type >= 32:  # LPC, order 1-32
        order = sf_type - 31
        samples = [bits.read_signed(eff_bps) for _ in range(order)]
        prec = bits.read(4)
        if prec == 0xF:
            raise ValueError("flac: invalid LPC precision code")
        prec += 1
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("flac: negative LPC shift is reserved")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        res = _flac_residual(bits, blocksize, order)
        for r in res:
            acc = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append((acc >> shift) + r)
    else:
        raise ValueError(f"flac: reserved subframe type {sf_type:#08b}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_FLAC_BLOCKSIZES = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                    13: 8192, 14: 16384, 15: 32768}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _decode_flac(payload: bytes):
    """Pure-python FLAC decoder (format per RFC 9639). Returns int32
    samples shaped (n_samples, n_channels). Verifies the header CRC-8
    and the whole-frame CRC-16 — a corrupted shard fails loudly, not
    as quiet noise. Raises ValueError on malformed input; there is no
    NotImplementedError surface — every spec-legal subframe/channel/
    residual form decodes."""
    import numpy as np

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC payload")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("flac: truncated metadata")
        hdr = payload[pos]
        last, btype = hdr >> 7, hdr & 0x7F
        size = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + size]
        if btype == 0:
            b = _FlacBits(body)
            b.read(16); b.read(16); b.read(24); b.read(24)
            rate = b.read(20)
            n_ch = b.read(3) + 1
            bps = b.read(5) + 1
            total = b.read(36)
            streaminfo = (rate, n_ch, bps, total)
        pos += 4 + size
        if last:
            break
    if streaminfo is None:
        raise ValueError("flac: missing STREAMINFO")
    si_rate, si_ch, si_bps, si_total = streaminfo

    channels_out: list[list[int]] = [[] for _ in range(si_ch)]
    decoded = 0
    while pos < len(payload) and (si_total == 0 or decoded < si_total):
        frame_start = pos
        bits = _FlacBits(payload, pos)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("flac: lost frame sync")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy (both forms: number is read below)
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        bps_code = bits.read(3)
        bits.read(1)  # reserved
        _flac_utf8_number(bits)
        if bs_code == 0:
            raise ValueError("flac: reserved block size code")
        elif bs_code == 6:
            blocksize = bits.read(8) + 1
        elif bs_code == 7:
            blocksize = bits.read(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZES[bs_code]
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("flac: invalid sample rate code")
        bps = si_bps if bps_code == 0 else _FLAC_BPS[bps_code]
        hdr_end = bits.byte_pos()
        crc8 = bits.read(8)
        if _crc8_flac(payload[frame_start:hdr_end]) != crc8:
            raise ValueError("flac: frame header CRC-8 mismatch")
        if ch_code <= 7:
            n_ch = ch_code + 1
            subs = [
                _flac_subframe(bits, blocksize, bps) for _ in range(n_ch)
            ]
        elif ch_code in (8, 9, 10):
            n_ch = 2
            # the SIDE subframe carries one extra bit: slot 1 for
            # left-side (8) and mid-side (10), slot 0 for right-side (9)
            side_slot = 0 if ch_code == 9 else 1
            subs = [
                _flac_subframe(
                    bits, blocksize, bps + (1 if i == side_slot else 0)
                )
                for i in range(2)
            ]
            if ch_code == 8:  # left/side
                left = subs[0]
                subs = [left, [l - s for l, s in zip(left, subs[1])]]
            elif ch_code == 9:  # right/side (side stored first, +1 bit)
                right = subs[1]
                subs = [[s + r for s, r in zip(subs[0], right)], right]
            else:  # mid/side
                mids, sides = subs
                out_l, out_r = [], []
                for m, s in zip(mids, sides):
                    m2 = (m << 1) | (s & 1)
                    out_l.append((m2 + s) >> 1)
                    out_r.append((m2 - s) >> 1)
                subs = [out_l, out_r]
        else:
            raise ValueError("flac: reserved channel assignment")
        if n_ch != si_ch:
            raise ValueError("flac: frame channel count disagrees with STREAMINFO")
        bits.align()
        body_end = bits.byte_pos()
        crc16 = bits.read(16)
        if _crc16_flac(payload[frame_start:body_end]) != crc16:
            raise ValueError("flac: frame CRC-16 mismatch")
        for i in range(si_ch):
            channels_out[i].extend(subs[i])
        decoded += blocksize
        pos = bits.byte_pos()
    if si_total and decoded > si_total:
        channels_out = [c[: int(si_total)] for c in channels_out]
    return np.array(channels_out, dtype=np.int64).T.astype(np.int32)


class _FlacBitW:
    """MSB-first bit writer for the forward FLAC emitters."""

    def __init__(self):
        self.bits: list[int] = []

    def put(self, v: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)

    def put_signed(self, v: int, n: int) -> None:
        self.put(v & ((1 << n) - 1), n)

    def put_unary(self, q: int) -> None:
        self.bits.extend([0] * q)
        self.bits.append(1)

    def put_rice(self, v: int, param: int) -> None:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        self.put_unary(u >> param)
        if param:
            self.put(u & ((1 << param) - 1), param)

    def align(self) -> None:
        while len(self.bits) % 8:
            self.bits.append(0)

    def bytes(self) -> bytes:
        self.align()
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _encode_flac_pcm16(data: bytes) -> bytes:
    """Minimal spec-conformant FLAC emitter: mono 16-bit, one frame,
    FIXED order-2 subframe with a single Rice partition — the forward
    dual that lets the corpus-scale `multimodal_flac` query gate the
    decoder's Rice/predictor/CRC machinery on real driver data (the
    `_encode_vp8l_gray` pattern). Each input byte becomes one int16
    sample."""
    samples = list(data)
    n = len(samples)
    if n < 3:
        samples = samples + [0] * (3 - n)
        n = len(samples)
    # STREAMINFO
    si = _FlacBitW()
    si.put(n, 16); si.put(n, 16)          # min/max blocksize
    si.put(0, 24); si.put(0, 24)          # min/max framesize (unknown)
    si.put(8000, 20)                      # sample rate
    si.put(0, 3)                          # channels - 1
    si.put(15, 5)                         # bps - 1
    si.put(n, 36)                         # total samples
    body = si.bytes() + b"\x00" * 16      # md5 unset
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body
    # frame header: fixed strategy, blocksize from 16-bit field,
    # rate from STREAMINFO, mono, bps 16, frame number 0
    w = _FlacBitW()
    w.put(0x3FFE, 14); w.put(0, 1); w.put(0, 1)
    w.put(7, 4)        # blocksize: 16-bit field follows
    w.put(0, 4)        # rate: STREAMINFO
    w.put(0, 4)        # 1 channel, independent
    w.put(4, 3)        # bps 16
    w.put(0, 1)
    w.put(0, 8)        # UTF-8 frame number 0
    w.put(n - 1, 16)   # blocksize - 1
    hdr = w.bytes()
    hdr += bytes([_crc8_flac(bytes(hdr))])
    # subframe: FIXED order 2, residual rice method 0, partition order 0
    sf = _FlacBitW()
    sf.put(0, 1); sf.put(8 + 2, 6); sf.put(0, 1)
    sf.put_signed(samples[0], 16)
    sf.put_signed(samples[1], 16)
    sf.put(0, 2)       # rice method 0
    sf.put(0, 4)       # partition order 0
    sf.put(6, 4)       # rice parameter
    for i in range(2, n):
        sf.put_rice(samples[i] - 2 * samples[i - 1] + samples[i - 2], 6)
    frame = bytes(hdr) + sf.bytes()
    frame += _crc16_flac(frame).to_bytes(2, "big")
    return bytes(out) + frame


@query(
    "multimodal_flac",
    oracle="""
    SELECT doc_id AS media_id,
           GREATEST(3, LEAST(64, length(text)))::INT AS n_samples,
           1 AS n_channels,
           FLOOR(list_sum(
                   list_transform(generate_series(1, LEAST(64, length(text))),
                                  i -> CAST(ascii(substr(text, i, 1)) AS DOUBLE)))
                 / GREATEST(3, LEAST(64, length(text))) * 10000 + 0.5)
             / 10000 AS mean_sample
    FROM documents
    WHERE length(text) >= 1
    """,
)
def multimodal_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale hash gate for the native FLAC decoder (the
    `multimodal_webp` pattern on the audio side): each document's
    first 64 bytes become one int16 sample each in a real FLAC frame
    via the minimal forward encoder (`_encode_flac_pcm16` — FIXED
    order-2 subframe, Rice residuals, CRC-8/16), the Arrow-batched
    kernel decodes it with `_decode_flac` (frame sync, UTF-8 numbers,
    predictor reconstruction, CRC verification — the full production
    path), and the (n_samples, n_channels, mean) statistics must match
    DuckDB recomputing them from the raw text codepoints (the
    encoder's sub-3-sample zero padding mirrored by the GREATEST(3,·)
    denominator). A drift anywhere in the Rice/predictor/CRC
    conventions fails the hash — driver evidence on top of
    tests/test_flac.py's spec-dual fixtures.

    Map-side only: payloads are built and decoded inside one
    mapInPandas pass, nothing binary shuffles."""
    return _decode_gate(
        spark, sf_dir, lambda b: _decode_flac(_encode_flac_pcm16(b))
    ).toDF("media_id", "n_samples", "n_channels", "mean_sample")


PITCH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("best_lag", T.IntegerType()),
        T.StructField("peak_corr", T.LongType()),
        T.StructField("energy", T.LongType()),
    ]
)


@query(
    "multimodal_pitch",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_transform(generate_series(1, LEAST(128, length(text))),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)) AS s
      FROM documents WHERE length(text) >= 8
    ), lagged AS (
      SELECT doc_id, s, len(s) AS n,
             list_transform(
               generate_series(1, len(s) // 2),
               L -> list_sum(list_transform(
                      generate_series(1, len(s) - L), j -> s[j] * s[j + L]))
             ) AS ac
      FROM t
    )
    SELECT doc_id AS media_id,
           CAST(n AS INT) AS n_samples,
           CAST(list_position(ac, list_max(ac)) AS INT) AS best_lag,
           CAST(list_max(ac) AS BIGINT) AS peak_corr,
           CAST(list_sum(list_transform(s, x -> x * x)) AS BIGINT) AS energy
    FROM lagged
    """,
)
def multimodal_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation pitch detection over decoded audio — the
    classic time-domain fundamental-frequency estimator (argmax of
    the autocorrelation over candidate lags), the audio twin of
    `multimodal_features`. Each document's first 128 bytes become one
    int16 sample each in a real RIFF/WAVE container
    (`_encode_wav_pcm16`), the Arrow-batched kernel decodes it with
    the production `_decode_wav` chunk walk, and numpy computes the
    exact INTEGER autocorrelation r(L) = Σ x_j·x_{j+L} for L in
    [1, n/2] — argmax lag, peak value, and signal energy are all
    int64, so the DuckDB oracle recomputing them from the raw text
    codepoints hash-matches bit-for-bit (no float anywhere; first-max
    tie-break = smallest lag on both engines: np.argmax and
    list_position both take the first occurrence).

    Map-side only: payloads are built, decoded, and reduced to four
    scalars inside one mapInPandas pass — nothing binary shuffles,
    the 100 TB shape for per-asset feature extraction."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 8)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.substring("text", 1, 128), "UTF-8").alias("raw"),
    )

    def pitch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for mid, raw in zip(pdf["media_id"], pdf["raw"]):
                arr = _decode_wav(_encode_wav_pcm16(bytes(raw)))
                x = arr[:, 0].astype("int64")
                n = x.shape[0]
                ac = np.array(
                    [int(np.dot(x[:-lag], x[lag:])) for lag in range(1, n // 2 + 1)],
                    dtype="int64",
                )
                out.append(
                    (
                        mid,
                        n,
                        int(np.argmax(ac)) + 1,
                        int(ac.max()),
                        int(np.dot(x, x)),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "n_samples", "best_lag", "peak_corr", "energy"],
            )

    return media.mapInPandas(pitch, PITCH_SCHEMA)


# ---------------------------------------------------------------------------
# Native GIF (LZW) — round-9 session-2. GIF87a/89a decoder: logical
# screen walk, global/local color tables, extension-block skipping,
# interlace reorder, and the variable-width LZW dictionary coder
# (clear/EOI codes, the cScSc self-referencing case, width growth to
# the 12-bit cap, frozen-dictionary deferral until clear). LZW is a
# DICTIONARY coder — a different compression family than everything
# already native here (Huffman/prefix coding in JPEG/WebP/FLAC, Rice
# in FLAC, filters+DEFLATE in PNG), so a crawl pipeline that meets
# legacy web images exercises a genuinely new code path.
# Encoder dual (`_encode_gif_gray`) is a REAL greedy LZW compressor
# (longest-match, width growth in decoder lockstep, clear-on-full) —
# not the uncompressed CLEAR-spam shortcut — so the corpus query
# exercises dictionary hits, not just literals. The width-growth
# convention (grow when the decoder's next code hits 2^width;
# encoder one step later at 2^width + 1 because its dictionary runs
# one entry ahead) is the giflib/"late change" convention; the
# uncompressed-variant fixture in tests/test_gif.py checks bit order
# and framing against hand-packed bytes INDEPENDENT of the encoder,
# and a pillow cross-check runs where PIL is installed.
# ---------------------------------------------------------------------------


def _lzw_decode(data: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, variable code width
    mcs+1..12, clear = 2^mcs, EOI = clear+1."""
    clear = 1 << mcs
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    acc = nbits = 0
    prev = None
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)  # truncated stream: emit what we have
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = mcs + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise ValueError("GIF LZW: first code after clear not a literal")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]  # the cScSc case
        else:
            raise ValueError("GIF LZW: code beyond dictionary")
        if len(table) <= 4095:  # frozen at 4096 entries until clear
            table.append(table[prev] + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        out += entry
        prev = code


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """Greedy longest-match GIF LZW, the exact dual of `_lzw_decode`:
    width grows when next_code == 2^width + 1 (one step after the
    decoder, whose dictionary trails by one entry); emits CLEAR when
    the dictionary fills (4096)."""
    clear = 1 << mcs
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> tuple[dict[bytes, int], int, int]:
        return {bytes([i]): i for i in range(clear)}, eoi + 1, mcs + 1

    table, next_code, width = fresh()
    emit(clear, width)
    w = b""
    for b in data:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if next_code == 4096:
            emit(clear, width)
            table, next_code, width = fresh()
        else:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif(payload: bytes):
    """Decode the first image of a GIF87a/89a file to (h, w, 3) uint8.
    Extension blocks (incl. GCE — transparency is ignored, the frame
    decodes to its palette colors) are skipped; interlaced images are
    de-interlaced; local color tables override the global one.

    Truncation contract (r9 ADVICE #1): every scalar/slice read is
    bounds-checked and raises ValueError('truncated GIF …'), matching
    the PNG decoder's hardened short-chunk behavior — a cut-off
    payload must never surface as a bare IndexError."""
    import numpy as np

    def at(i: int) -> int:
        if i >= len(payload):
            raise ValueError("truncated GIF: read past end of payload")
        return payload[i]

    def take(start: int, n: int, what: str) -> bytes:
        if start + n > len(payload):
            raise ValueError(f"truncated GIF: {what} cut off")
        return payload[start : start + n]

    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    pos = 6
    packed = at(pos + 4)
    gct_flag = packed >> 7
    gct_n = 2 << (packed & 7)
    pos += 7  # LSD
    gct = None
    if gct_flag:
        gct = np.frombuffer(
            take(pos, 3 * gct_n, "global color table"), dtype=np.uint8
        ).reshape(gct_n, 3)
        pos += 3 * gct_n
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 1
            while at(pos):
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        iw = int.from_bytes(take(pos + 4, 2, "image descriptor"), "little")
        ih = int.from_bytes(take(pos + 6, 2, "image descriptor"), "little")
        ipacked = at(pos + 8)
        pos += 9
        interlaced = bool(ipacked & 0x40)
        pal = gct
        if ipacked >> 7:  # local color table
            lct_n = 2 << (ipacked & 7)
            pal = np.frombuffer(
                take(pos, 3 * lct_n, "local color table"), dtype=np.uint8
            ).reshape(lct_n, 3)
            pos += 3 * lct_n
        if pal is None:
            raise ValueError("GIF image with no color table")
        mcs = at(pos)
        pos += 1
        chunks = []
        while at(pos):
            ln = payload[pos]
            chunks.append(take(pos + 1, ln, "image data sub-block"))
            pos += 1 + ln
        pos += 1
        idx = np.frombuffer(
            _lzw_decode(b"".join(chunks), mcs)[: iw * ih], dtype=np.uint8
        )
        if idx.size != iw * ih:
            raise ValueError("GIF LZW output shorter than the image")
        rows = idx.reshape(ih, iw)
        if interlaced:
            ordered = np.empty_like(rows)
            src = 0
            for start, step in _GIF_INTERLACE_PASSES:
                n_rows = len(range(start, ih, step))
                ordered[start:ih:step] = rows[src : src + n_rows]
                src += n_rows
            rows = ordered
        return pal[rows]  # (h, w, 3)
    raise ValueError("GIF contained no image block")


def _encode_gif_gray(data: bytes, interlaced: bool = False) -> bytes:
    """Minimal GIF89a encoder for a 1×len(data) grayscale row (or,
    when ``interlaced``, a len-rows column-of-rows test shape built by
    the caller) — the forward dual feeding `multimodal_gif` real
    spec-conformant payloads. Identity 256-entry grayscale global
    palette; pixels are the raw bytes; the image data is REAL greedy
    LZW."""
    w, h = len(data), 1
    out = bytearray(b"GIF89a")
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0xF7, 0, 0])  # GCT present, 8-bit, 256 entries
    for i in range(256):
        out += bytes([i, i, i])
    out += b"\x2c" + b"\x00\x00\x00\x00"
    out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    out += bytes([0x40 if interlaced else 0x00])
    out += bytes([8])  # LZW min code size
    lzw = _lzw_encode(data, 8)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


@query("multimodal_gif", oracle=_IMAGE_GATE_ORACLE)
def multimodal_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale hash gate for the native GIF/LZW decoder (the
    `multimodal_webp` pattern): each document's first 64 bytes become
    a real GIF89a payload via the greedy-LZW forward encoder, the
    Arrow-batched kernel decodes it with `_decode_gif` (sub-block
    reassembly, variable-width dictionary decode, palette expansion —
    the full production path), and the (height, width, mean-R) stats
    must match DuckDB recomputing them from the raw text codepoints.
    Any bit-order, width-growth, or clear-handling drift between the
    dual halves fails the hash. Map-side only — payloads never
    shuffle."""
    return _decode_gate(spark, sf_dir, lambda b: _decode_gif(_encode_gif_gray(b)))


# ---------------------------------------------------------------------------
# Native BMP — round-9 session-2. Uncompressed Windows bitmaps
# (BITMAPINFOHEADER): 24-bit BGR and 1/4/8-bit paletted, 4-byte row
# padding, bottom-up AND top-down row order. No entropy coding — BMP
# earns its decoder through its LAYOUT traps (padding, BGR, inverted
# rows, BGRA palette entries), which are exactly what corrupts naive
# readers on legacy web crawls.
# ---------------------------------------------------------------------------


def _decode_bmp(payload: bytes):
    """Decode a BI_RGB BMP to (h, w, 3) uint8 RGB."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    # identify an OS/2 BITMAPCOREHEADER before the length guard: such a
    # file is legal at < 50 bytes, and "unsupported header" is the
    # accurate rejection for it, not "truncated" (r10 ADVICE)
    if len(payload) >= 18:
        hdr_size = struct.unpack_from("<I", payload, 14)[0]
        if hdr_size < 40:
            raise NotImplementedError("BITMAPCOREHEADER BMP (OS/2 v1)")
    if len(payload) < 50:
        # every fixed header field below lives in bytes [10, 50); a
        # legal BI_RGB BMP is always >= 54 bytes, so this rejects only
        # truncation (and keeps struct.error inside the ValueError
        # contract — the r10 every-prefix fuzz finding)
        raise ValueError("truncated BMP: header cut off")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    n_colors = struct.unpack_from("<I", payload, 46)[0]
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} (only BI_RGB)")
    if bpp not in (1, 4, 8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP")
    top_down = h < 0
    h = abs(h)
    pal = None
    if bpp <= 8:
        n = n_colors or (1 << bpp)
        pal_off = 14 + hdr_size
        raw = np.frombuffer(payload[pal_off : pal_off + 4 * n], dtype=np.uint8)
        if raw.size != 4 * n:
            raise ValueError("truncated BMP: color table cut off")
        pal = raw.reshape(n, 4)[:, [2, 1, 0]]  # BGRA -> RGB
    row_bytes = (w * bpp + 7) // 8
    stride = (row_bytes + 3) & ~3  # rows pad to 4 bytes
    raw_px = np.frombuffer(
        payload[data_off : data_off + stride * h], dtype=np.uint8
    )
    if raw_px.size != stride * h:
        raise ValueError("truncated BMP: pixel array cut off")
    rows = raw_px.reshape(h, stride)[:, :row_bytes]
    if not top_down:
        rows = rows[::-1]
    if bpp == 24:
        px = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
        return px[:, :, ::-1].copy()  # BGR -> RGB
    if bpp == 8:
        idx = rows[:, :w]
    else:  # 1- and 4-bit: unpack big-endian within each byte
        per = 8 // bpp
        shifts = np.arange(per - 1, -1, -1, dtype=np.uint8) * bpp
        expanded = (rows[:, :, None] >> shifts[None, None, :]) & ((1 << bpp) - 1)
        idx = expanded.reshape(h, -1)[:, :w]
    # r9 ADVICE #2: a pixel index past a short declared palette must be
    # a ValueError (the PNG palette-index guard), not numpy IndexError
    top = int(idx.max(initial=0))
    if top >= pal.shape[0]:
        raise ValueError(
            f"BMP pixel index {top} exceeds the {pal.shape[0]}-entry "
            "color table"
        )
    return pal[idx]


def _encode_bmp_gray8(data: bytes, top_down: bool = False) -> bytes:
    """Minimal 8-bit paletted BMP encoder for a 1×len(data) grayscale
    row (identity 256-entry BGRA palette) — the forward dual for the
    corpus hash gate. Multi-row shapes for the padding / row-order
    tests are built by the test's own wrapper."""
    import struct

    w, h = len(data), 1
    stride = (w + 3) & ~3
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    pixels = data + b"\x00" * (stride - w)
    data_off = 14 + 40 + len(pal)
    out = b"BM" + struct.pack(
        "<IHHI", data_off + len(pixels), 0, 0, data_off
    )
    out += struct.pack(
        "<IiiHHIIiiII", 40, w, -h if top_down else h, 1, 8, 0,
        len(pixels), 2835, 2835, 256, 0,
    )
    return out + pal + pixels


@query("multimodal_bmp", oracle=_IMAGE_GATE_ORACLE)
def multimodal_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hash gate for the native BMP decoder (the webp/gif
    pattern): first 64 text bytes → 8-bit paletted BMP via the
    forward dual → `_decode_bmp` (palette BGRA expansion, 4-byte row
    padding, bottom-up default) → (h, w, mean-R) stats vs DuckDB
    codepoint recomputation. Map-side only."""
    return _decode_gate(spark, sf_dir, lambda b: _decode_bmp(_encode_bmp_gray8(b)))


# ---------------------------------------------------------------------------
# Native TIFF (LZW) — round-9 session-2. Baseline TIFF reader: IFD tag
# walk, strip assembly, uncompressed (1) and LZW (5) compression,
# horizontal-differencing predictor (2), grayscale/RGB interleaved.
# TIFF's LZW is the MIRROR of GIF's: MSB-first bit packing and the
# "early change" convention (code width grows one code EARLIER, when
# next_code == 2^width - 1) — the two knobs a both-wrong dual could
# silently agree on in the GIF pair, here pinned by a SECOND
# independent format whose spec fixes them the opposite way.
# ---------------------------------------------------------------------------

_TIFF_TYPES = ("image/tiff",)


def _lzw_decode_tiff(data: bytes) -> bytes:
    """TIFF-variant LZW (spec §13): MSB-first bits, 8-bit symbols,
    clear=256, EOI=257, EARLY code-width change at 2^width - 1."""
    clear, eoi = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    out = bytearray()
    acc = nbits = 0
    prev = None
    pos, n = 0, len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return bytes(out)
            acc = (acc << 8) | data[pos]
            nbits += 8
            pos += 1
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        if code == clear:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                # the first code after a clear must be a literal (the
                # GIF variant's guard, r10 corruption-fuzz finding)
                raise ValueError("TIFF LZW: first code after clear not a literal")
            out += table[code]
            prev = code
            continue
        if code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("TIFF LZW: code beyond dictionary")
        table.append(table[prev] + entry[:1])
        # EARLY change: grow when the NEXT entry would hit 2^width - 1
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        out += entry
        prev = code


def _lzw_encode_tiff(data: bytes) -> bytes:
    """Greedy TIFF LZW dual: MSB-first, early change one step after
    the decoder (encoder dictionary runs one entry ahead), clear when
    the table would exceed 12 bits."""
    clear, eoi = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def fresh():
        return {bytes([i]): i for i in range(256)}, 258, 9

    table, next_code, width = fresh()
    emit(clear, width)
    w = b""
    for b in data:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        if next_code >= 4094:  # table would hit 2^12 - 2: reset early
            emit(clear, width)
            table, next_code, width = fresh()
        else:
            table[wc] = next_code
            next_code += 1
            # decoder's table trails one entry behind: its EARLY change
            # (at 2^w - 1 entries) lands when OUR count hits 2^w
            if next_code == (1 << width) and width < 12:
                width += 1
        w = c
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _decode_tiff(payload: bytes):
    """Decode the first IFD of a baseline TIFF to (h, w, channels)
    uint8 (grayscale decodes to (h, w, 1))."""
    import struct

    import numpy as np

    if payload[:4] == b"II*\x00":
        bo = "<"
    elif payload[:4] == b"MM\x00*":
        bo = ">"
    else:
        raise ValueError("not a TIFF payload")
    # the IFD walk reads at file-supplied offsets (ifd_off, each tag
    # entry, out-of-line value slots); a truncated or lying offset must
    # surface as the documented ValueError, not struct.error (the r10
    # every-prefix fuzz finding)
    try:
        ifd_off = struct.unpack_from(bo + "I", payload, 4)[0]
        n_tags = struct.unpack_from(bo + "H", payload, ifd_off)[0]
        _SZ = {1: 1, 2: 1, 3: 2, 4: 4}
        tags: dict[int, list[int]] = {}
        for i in range(n_tags):
            off = ifd_off + 2 + 12 * i
            tag, typ, cnt = struct.unpack_from(bo + "HHI", payload, off)
            if typ not in _SZ:
                continue
            total = _SZ[typ] * cnt
            voff = off + 8 if total <= 4 else struct.unpack_from(bo + "I", payload, off + 8)[0]
            fmt = {1: "B", 2: "B", 3: "H", 4: "I"}[typ]
            vals = list(struct.unpack_from(bo + str(cnt) + fmt, payload, voff))
            if not vals:
                # count=0 entries carry no data: storing an empty list
                # would IndexError every tags[...][0] consumer (the r10
                # corruption-fuzz finding); dropping the entry routes
                # required tags to the explicit missing-tag ValueError
                continue
            tags[tag] = vals
    except struct.error as exc:
        raise ValueError(f"truncated TIFF: IFD read past end of payload ({exc})") from exc
    # r9 ADVICE #2: a malformed IFD missing a required tag must raise
    # the documented ValueError, not a bare KeyError
    for required in (256, 257, 273, 279):
        if required not in tags:
            raise ValueError(f"TIFF missing required IFD tag {required}")
    w = tags[256][0]
    h = tags[257][0]
    bps = tags.get(258, [8])
    if any(b != 8 for b in bps):
        raise NotImplementedError("only 8-bit TIFF samples")
    comp = tags.get(259, [1])[0]
    spp = tags.get(277, [1])[0]
    predictor = tags.get(317, [1])[0]
    offsets = tags[273]
    counts = tags[279]
    rows_per_strip = tags.get(278, [h])[0]
    if comp not in (1, 5):
        raise NotImplementedError(f"TIFF compression {comp} (none/LZW only)")
    raw = bytearray()
    for o, c in zip(offsets, counts):
        chunk = payload[o : o + c]
        raw += _lzw_decode_tiff(chunk)[: rows_per_strip * w * spp] if comp == 5 else chunk
    arr = np.frombuffer(bytes(raw[: h * w * spp]), dtype=np.uint8).reshape(h, w, spp)
    if predictor == 2:
        # mod-256 running sum per row (int64 so wide rows can't
        # overflow the accumulator before the modulo)
        arr = (np.cumsum(arr.astype(np.int64), axis=1) % 256).astype(np.uint8)
    return arr.copy()


def _encode_tiff_gray8(
    data: bytes, lzw: bool = True, predictor: bool = False
) -> bytes:
    """Minimal little-endian single-strip grayscale TIFF encoder for a
    1×len(data) row — the forward dual for the corpus gate."""
    import struct

    import numpy as np

    w, h = len(data), 1
    px = bytes(data)
    if predictor:
        a = np.frombuffer(px, dtype=np.uint8).astype(np.int16)
        # first column ships raw; the rest as left-neighbor deltas
        px = bytes(
            (np.concatenate((a[:1], np.diff(a))) % 256).astype(np.uint8)
        )
    strip = _lzw_encode_tiff(px) if lzw else px
    tags = [
        (256, 3, 1, w),                  # width
        (257, 3, 1, h),                  # height
        (258, 3, 1, 8),                  # bits per sample
        (259, 3, 1, 5 if lzw else 1),    # compression
        (262, 3, 1, 1),                  # photometric: BlackIsZero
        (273, 4, 1, None),               # strip offset (patched)
        (277, 3, 1, 1),                  # samples per pixel
        (278, 3, 1, h),                  # rows per strip
        (279, 4, 1, len(strip)),         # strip byte count
        (317, 3, 1, 2 if predictor else 1),
    ]
    ifd_off = 8
    strip_off = ifd_off + 2 + 12 * len(tags) + 4
    out = b"II*\x00" + struct.pack("<I", ifd_off)
    out += struct.pack("<H", len(tags))
    for tag, typ, cnt, val in tags:
        if val is None:
            val = strip_off
        out += struct.pack("<HHI", tag, typ, cnt)
        out += struct.pack("<I", val) if typ == 4 else struct.pack("<HH", val, 0)
    out += struct.pack("<I", 0)  # next IFD
    return out + strip


@query("multimodal_tiff", oracle=_IMAGE_GATE_ORACLE)
def multimodal_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus hash gate for the native TIFF reader: first 64 text
    bytes → LZW-compressed horizontal-predictor TIFF via the forward
    dual → `_decode_tiff` (IFD walk, strip LZW with MSB-first bits
    and the EARLY width change — the opposite conventions of the GIF
    pair, so a sign error in either knob fails THIS hash while
    passing that one) → stats vs DuckDB codepoint recomputation."""
    return _decode_gate(
        spark,
        sf_dir,
        lambda b: _decode_tiff(_encode_tiff_gray8(b, lzw=True, predictor=True)),
    )
