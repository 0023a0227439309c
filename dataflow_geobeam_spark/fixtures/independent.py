"""Independent oracle kernels for the fixture generator.

Round-2 VERDICT ("What's wrong" #3): the golden oracle imported the SAME
engine modules it was supposed to check (``codecs.decode``,
``functions.audio.spectral_features_np``, ``operators.similarity._all_planes``)
— the pipelines were independent but a shared-kernel bug would pass both
sides. This module is a SECOND implementation of each kernel, written
against the documented container/normalization SPEC only:

* wav encode goes through the stdlib ``wave`` module (a third-party RIFF
  writer the engine never touches); wav decode is a from-scratch chunk
  walker using ``int.from_bytes`` (the engine uses ``struct``).
* The stand-in flac/ogg/mp3 containers are re-implemented from their spec
  (magic + ``<I`` sr + ``<Q`` n + zlib PCM16; ogg/mp3 drop 4/6 low-order
  bits before compression).
* PCM16 normalization follows the engine's documented contract (F11/F15):
  int16 / 32767 in float32, with -32768 clamped to -32767 first.
* Metrics / spectral features / LSH hyperplanes / IVF centroids replicate
  the published formulas (float64 rms/peak; rfft centroid/bandwidth/
  rolloff; ``default_rng([seed, 31337, table])`` planes;
  ``default_rng([seed, 777])`` normalized centroids) without importing the
  engine's code.

``tests/test_independent_kernels.py`` cross-checks both implementations
against each other — a divergence in EITHER now fails the suite, which is
the point: the generator-side oracle and the engine can no longer share a
bug. Reference precedent for independent verification: CI runs the examples
against fixed public fixtures (``/root/reference/cloudbuild.yaml:63-89``).

Do NOT import anything from dataflow_geobeam_spark outside fixtures/ here.
"""

from __future__ import annotations

import io
import wave
import zlib

import numpy as np

KNOWN_CODECS = ("wav", "flac", "ogg", "mp3")

_MAGIC = {"flac": b"GBSFLAC1", "ogg": b"GBSOGGS1", "mp3": b"GBSMP3S1"}
_DROP_BITS = {"flac": 0, "ogg": 4, "mp3": 6}


def _quantize16(pcm: np.ndarray) -> np.ndarray:
    """float PCM -> int16 per the engine's documented quantization spec:
    clip to [-1, 1] in float64, scale by 32767, round-half-even (np.round)."""
    x = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    return np.round(x * 32767.0).astype(np.int16)


def _dequantize16(samples: np.ndarray) -> np.ndarray:
    """int16 -> float32 in [-1, 1]: clamp the asymmetric -32768 to -32767,
    divide by 32767 — the engine's normalization contract (F11/F15)."""
    f = samples.astype(np.float32)
    f[f < -32767.0] = np.float32(-32767.0)
    return f / np.float32(32767.0)


# ---------------------------------------------------------------------------
# wav — encode via stdlib `wave`, decode via a from-scratch chunk walker
# ---------------------------------------------------------------------------


def encode_wav(pcm: np.ndarray, sr_hz: int) -> bytes:
    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr_hz)
        w.writeframes(_quantize16(pcm).tobytes())
    return bio.getvalue()


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """Strictness spec (shared with the engine's parser): RIFF/WAVE with a
    PCM16 mono fmt chunk and a COMPLETE data chunk; unknown chunks are
    skipped; word-aligned chunk sizes; anything else raises ValueError."""
    b = bytes(buf)
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    sr = None
    data = None
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            tag = int.from_bytes(body[0:2], "little")
            ch = int.from_bytes(body[2:4], "little")
            sr = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if tag != 1 or ch != 1 or bits != 16:
                raise ValueError("unsupported wav format")
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            data = body
        pos += 8 + size + (size % 2)
    if sr is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return _dequantize16(np.frombuffer(data, dtype="<i2")), sr


# ---------------------------------------------------------------------------
# stand-in containers (flac lossless, ogg/mp3 lossy bit-drop), from spec
# ---------------------------------------------------------------------------


def encode_standin(pcm: np.ndarray, sr_hz: int, codec: str) -> bytes:
    q = _quantize16(pcm)
    drop = _DROP_BITS[codec]
    if drop:
        q = ((q.astype(np.int32) >> drop) << drop).astype(np.int16)
    head = int(sr_hz).to_bytes(4, "little") + int(q.shape[0]).to_bytes(8, "little")
    return _MAGIC[codec] + head + zlib.compress(q.tobytes(), level=1)


def decode_standin(buf: bytes, codec: str) -> tuple[np.ndarray, int]:
    b = bytes(buf)
    magic = _MAGIC[codec]
    if len(b) < len(magic) + 12 or b[: len(magic)] != magic:
        raise ValueError(f"not a {codec} stand-in stream")
    sr = int.from_bytes(b[len(magic) : len(magic) + 4], "little")
    n = int.from_bytes(b[len(magic) + 4 : len(magic) + 12], "little")
    try:
        raw = zlib.decompress(b[len(magic) + 12 :])
    except zlib.error as exc:  # one failure type, as the engine's decoders
        raise ValueError(f"corrupt {codec} stand-in stream") from exc
    samples = np.frombuffer(raw, dtype="<i2")
    if samples.shape[0] != n:
        raise ValueError("sample count mismatch")
    return _dequantize16(samples), sr


def encode(pcm: np.ndarray, sr_hz: int, codec: str) -> bytes:
    if codec == "wav":
        return encode_wav(pcm, sr_hz)
    if codec in _MAGIC:
        return encode_standin(pcm, sr_hz, codec)
    raise ValueError(f"unknown codec: {codec!r}")


def decode(buf: bytes, codec: str) -> tuple[np.ndarray, int]:
    if buf is None:
        raise ValueError("null payload")
    if codec == "wav":
        return decode_wav(buf)
    if codec in _MAGIC:
        return decode_standin(buf, codec)
    raise ValueError(f"unknown codec: {codec!r}")


# ---------------------------------------------------------------------------
# metric / spectral kernels (formula-level spec, no engine import)
# ---------------------------------------------------------------------------


def metrics(pcm: np.ndarray) -> tuple[int, float, float]:
    """(n_samples, rms, peak) in float64."""
    n = int(np.asarray(pcm).shape[0])
    if n == 0:
        return 0, 0.0, 0.0
    x = np.asarray(pcm).astype(np.float64)
    return n, float(np.sqrt(np.mean(x * x))), float(np.max(np.abs(x)))


def spectral_features(pcm, sr_hz: int, rolloff_pct: float = 0.85):
    """(centroid_hz, bandwidth_hz, rolloff_hz): magnitude-weighted moments
    of the one-sided rfft spectrum; rolloff = first bin where the cumulative
    magnitude reaches 85% of the total. Silent/empty -> zeros."""
    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        return 0.0, 0.0, 0.0
    mag = np.abs(np.fft.rfft(x))
    total = mag.sum()
    if total <= 0:
        return 0.0, 0.0, 0.0
    freqs = np.fft.rfftfreq(x.size, d=1.0 / sr_hz)
    centroid = float((freqs * mag).sum() / total)
    bandwidth = float(np.sqrt((((freqs - centroid) ** 2) * mag).sum() / total))
    rolloff = float(freqs[np.searchsorted(np.cumsum(mag), rolloff_pct * total)])
    return centroid, bandwidth, rolloff


# ---------------------------------------------------------------------------
# deterministic LSH / IVF geometry (seed-derivation spec)
# ---------------------------------------------------------------------------


def all_planes(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> np.ndarray:
    """Stacked (n_tables * n_planes, dim) hyperplanes; table t's planes are
    ``default_rng([seed, 31337, t]).standard_normal((n_planes, dim))``."""
    return np.concatenate(
        [
            np.random.default_rng([seed, 31337, t]).standard_normal((n_planes, dim))
            for t in range(n_tables)
        ],
        axis=0,
    )


def ivf_centroids(dim: int, n_cells: int, seed: int = 42) -> np.ndarray:
    """L2-normalized ``default_rng([seed, 777])`` gaussian directions."""
    c = np.random.default_rng([seed, 777]).standard_normal((n_cells, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


# ---------------------------------------------------------------------------
# image containers (round-4): PPM/BMP written & read from their public
# specs, independently of functions/imaging.py (regex header parse + per-
# row loops here vs token walker + vectorized numpy there)
# ---------------------------------------------------------------------------


def ppm_bytes(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> P6 with a comment line (exercises the engine's
    comment-skipping header parser)."""
    h, w = img.shape[:2]
    header = f"P6\n# independent fixture encoder\n{w} {h}\n255\n".encode()
    return header + bytes(img.astype(np.uint8).tobytes())


def decode_ppm_image(buf: bytes) -> np.ndarray:
    """P6 decode via a regex over the header region (second implementation
    — the engine walks tokens byte-by-byte)."""
    import re

    m = re.match(
        rb"P6[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*(\d+)[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*"
        rb"(\d+)[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*(\d+)[ \t\r\n]",
        buf,
    )
    if not m:
        raise ValueError("independent ppm: bad header")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError("independent ppm: only maxval 255")
    raster = buf[m.end() : m.end() + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError("independent ppm: truncated raster")
    return np.frombuffer(raster, dtype=np.uint8).reshape(h, w, 3)


def bmp_bytes(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB -> 24bpp BI_RGB BMP: 14-byte file header +
    40-byte BITMAPINFOHEADER, rows bottom-up, BGR, padded to 4 bytes."""
    import struct as _s

    h, w = img.shape[:2]
    stride = (w * 3 + 3) // 4 * 4
    pad = b"\x00" * (stride - w * 3)
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1]  # RGB -> BGR
        body += row.astype(np.uint8).tobytes() + pad
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    header = b"BM" + _s.pack("<IHHI", file_size, 0, 0, data_offset)
    dib = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + dib + bytes(body)


def decode_bmp_image(buf: bytes) -> np.ndarray:
    """24bpp BMP decode with an explicit per-row loop (second
    implementation — the engine reshapes one numpy buffer)."""
    import struct as _s

    if buf[:2] != b"BM":
        raise ValueError("independent bmp: bad magic")
    data_offset = _s.unpack_from("<I", buf, 10)[0]
    w, h = _s.unpack_from("<ii", buf, 18)
    bpp = _s.unpack_from("<H", buf, 28)[0]
    if bpp != 24:
        raise ValueError("independent bmp: only 24bpp")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4
    rows = []
    for y in range(h):
        off = data_offset + y * stride
        row = np.frombuffer(buf[off : off + w * 3], dtype=np.uint8).reshape(w, 3)
        rows.append(row[:, ::-1])  # BGR -> RGB
    img = np.stack(rows)
    return img[::-1] if flip else img


def nn_resize(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize via explicit per-pixel loops, same
    pixel-center convention: src = floor((dst + 0.5) * src/dst)."""
    src_h, src_w = img.shape[:2]
    out = np.zeros((height, width, 3), dtype=np.uint8)
    for y in range(height):
        sy = min(int((y + 0.5) * src_h / height), src_h - 1)
        for x in range(width):
            sx = min(int((x + 0.5) * src_w / width), src_w - 1)
            out[y, x] = img[sy, sx]
    return out


def pgm_bytes(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> P5 grayscale (channel 0; generator feeds it
    images with identical channels so the round-trip is lossless)."""
    h, w = img.shape[:2]
    return f"P5\n{w} {h}\n255\n".encode() + bytes(img[:, :, 0].astype(np.uint8).tobytes())


def decode_pgm_image(buf: bytes) -> np.ndarray:
    """P5 decode via the same regex style as decode_ppm_image; gray
    replicated to 3 channels (the engine's uniform-shape contract)."""
    import re

    m = re.match(
        rb"P5[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*(\d+)[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*"
        rb"(\d+)[ \t\r\n]+(?:#[^\n]*\n[ \t\r\n]*)*(\d+)[ \t\r\n]",
        buf,
    )
    if not m:
        raise ValueError("independent pgm: bad header")
    w, h, maxval = int(m.group(1)), int(m.group(2)), int(m.group(3))
    if maxval != 255:
        raise ValueError("independent pgm: only maxval 255")
    raster = buf[m.end() : m.end() + w * h]
    if len(raster) != w * h:
        raise ValueError("independent pgm: truncated raster")
    gray = np.frombuffer(raster, dtype=np.uint8).reshape(h, w)
    return np.stack([gray, gray, gray], axis=2)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """length + type + data + CRC32(type+data), per the PNG spec."""
    import struct as _s
    import zlib as _z

    return (
        _s.pack(">I", len(data))
        + ctype
        + data
        + _s.pack(">I", _z.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_row(cur: list[int], prev: list[int], ftype: int, bpp: int) -> list[int]:
    """Apply (forward) scanline filter ``ftype`` — pure-Python per-byte
    loops, straight from the spec's filter definitions."""
    n = len(cur)
    out = []
    for x in range(n):
        a = cur[x - bpp] if x >= bpp else 0  # left (recon)
        b = prev[x]  # up (recon)
        c = prev[x - bpp] if x >= bpp else 0  # up-left (recon)
        if ftype == 0:
            out.append(cur[x])
        elif ftype == 1:
            out.append((cur[x] - a) & 0xFF)
        elif ftype == 2:
            out.append((cur[x] - b) & 0xFF)
        elif ftype == 3:
            out.append((cur[x] - ((a + b) >> 1)) & 0xFF)
        else:  # Paeth
            p = a + b - c
            pa_, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa_ <= pb and pa_ <= pc) else (b if pb <= pc else c)
            out.append((cur[x] - pred) & 0xFF)
    return out


def png_bytes(img: np.ndarray, color_type: int = 2) -> bytes:
    """(h, w, 3) uint8 -> 8-bit PNG. color_type 2 = RGB, 6 = RGBA with
    opaque alpha (lossless to drop), 0 = grayscale from channel 0. Rows
    cycle ALL five filter types (y % 5) so the engine's unfilter paths
    are genuinely exercised, not just filter-0."""
    import struct as _s
    import zlib as _z

    h, w = img.shape[:2]
    if color_type == 0:
        px = [[int(img[y, x, 0]) for x in range(w)] for y in range(h)]
        ch = 1
    elif color_type == 2:
        px = [
            [int(img[y, x, c]) for x in range(w) for c in range(3)] for y in range(h)
        ]
        ch = 3
    elif color_type == 6:
        px = [
            [v for x in range(w) for v in (*(int(img[y, x, c]) for c in range(3)), 255)]
            for y in range(h)
        ]
        ch = 4
    else:
        raise ValueError(f"independent png encoder: color type {color_type}")
    # forward-filter each scanline; prev is the RECONSTRUCTED previous row
    stream = bytearray()
    prev = [0] * (w * ch)
    for y in range(h):
        ftype = y % 5
        stream.append(ftype)
        stream.extend(_png_filter_row(px[y], prev, ftype, ch))
        prev = px[y]
    ihdr = _s.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _z.compress(bytes(stream)))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_image(buf: bytes) -> np.ndarray:
    """8-bit PNG decode, second implementation: pure-Python chunk walk +
    per-byte unfilter loops (the engine vectorizes None/Up rows and uses
    one numpy pass per image)."""
    import struct as _s
    import zlib as _z

    if buf[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("independent png: bad signature")
    pos = len(_PNG_SIG)
    ihdr = None
    idat = bytearray()
    saw_end = False
    while pos + 8 <= len(buf):
        (length,) = _s.unpack_from(">I", buf, pos)
        ctype = buf[pos + 4 : pos + 8]
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("independent png: truncated chunk")
        if ctype == b"IHDR":
            ihdr = data
        elif ctype == b"IDAT":
            idat += data
        pos += 12 + length
        if ctype == b"IEND":
            saw_end = True
            break
    if not saw_end or ihdr is None:
        raise ValueError("independent png: truncated stream")
    w, h, depth, color, comp, filt, interlace = _s.unpack(">IIBBBBB", ihdr)
    if depth != 8 or interlace != 0 or comp != 0 or filt != 0:
        raise ValueError("independent png: unsupported IHDR")
    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    stream = _z.decompress(bytes(idat))
    stride = w * ch
    if len(stream) != h * (1 + stride):
        raise ValueError("independent png: bad scanline stream length")
    rows: list[list[int]] = []
    prev = [0] * stride
    for y in range(h):
        off = y * (1 + stride)
        ftype = stream[off]
        line = list(stream[off + 1 : off + 1 + stride])
        cur: list[int] = []
        for x in range(stride):
            a = cur[x - ch] if x >= ch else 0
            b = prev[x]
            c = prev[x - ch] if x >= ch else 0
            if ftype == 0:
                v = line[x]
            elif ftype == 1:
                v = (line[x] + a) & 0xFF
            elif ftype == 2:
                v = (line[x] + b) & 0xFF
            elif ftype == 3:
                v = (line[x] + ((a + b) >> 1)) & 0xFF
            elif ftype == 4:
                p = a + b - c
                pa_, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa_ <= pb and pa_ <= pc) else (b if pb <= pc else c)
                v = (line[x] + pred) & 0xFF
            else:
                raise ValueError(f"independent png: filter {ftype}")
            cur.append(v)
        rows.append(cur)
        prev = cur
    arr = np.asarray(rows, dtype=np.uint8).reshape(h, w, ch)
    if color == 0:
        return np.repeat(arr, 3, axis=2)
    if color == 4:
        return np.repeat(arr[:, :, :1], 3, axis=2)
    if color == 6:
        return np.ascontiguousarray(arr[:, :, :3])
    return arr


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81): encoder for fixture generation + a per-pixel
# loop decoder mirroring functions/imaging.decode_jpeg's documented integer
# contract (2^14 fixed-point IDCT basis, (S + 2^27) >> 28 descale,
# replication upsample, 2^16 fixed-point YCbCr->RGB). Integer sums are
# exact in any order, so this scalar mirror and the engine's batched
# einsum agree bit for bit — the same md5-golden contract the audio
# kernels use. The engine NEVER touches these bytes at generation time.
# ---------------------------------------------------------------------------

_JPEG_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]


def _jpeg_zigzag() -> list[int]:
    """Zigzag scan order derived from the diagonal-walk rule (T.81 Fig. 5):
    diagonals u+v = d for d = 0..14; even d walks up-right (row
    decreasing), odd d walks down-left. The engine hardcodes the table;
    deriving it here is the second implementation."""
    order = []
    for d in range(15):
        rng = range(max(0, d - 7), min(7, d) + 1)  # row index v
        rows = reversed(rng) if d % 2 == 0 else rng
        order.extend(v * 8 + (d - v) for v in rows)
    return order


_JPEG_ZZ = _jpeg_zigzag()

# Annex K typical Huffman tables: (BITS[1..16], HUFFVAL). Embedded in DHT
# and read back by every decoder, so the pipeline only requires them to be
# VALID prefix codes covering all symbols — test_round5 asserts both
# properties (Kraft sum via the Annex C builder + full (run,size) symbol
# coverage).
_JPEG_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_JPEG_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _jpeg_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Annex C canonical code assignment: value -> (code, length). Raises
    if the BITS vector overflows the code space (invalid table)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("independent jpeg: BITS overflows code space")
            out[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    if k != len(vals):
        raise ValueError("independent jpeg: BITS/HUFFVAL length mismatch")
    return out


def _jpeg_quality_scale(base: list[int], quality: int) -> list[int]:
    """IJG quality scaling: scale = 5000/q below 50 else 200 - 2q; each
    entry (base*scale + 50) // 100, clamped to [1, 255]."""
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (b * scale + 50) // 100)) for b in base]


class _JpegWriter:
    """MSB-first bit writer with 0xFF 0x00 stuffing (T.81 F.1.2.3)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nacc = 0

    def put(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.nacc += 1
            if self.nacc == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.nacc = 0

    def align(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
        while self.nacc:
            self.put(1, 1)


def _jpeg_dct_block(block: np.ndarray) -> np.ndarray:
    """Float64 orthonormal 2-D DCT-II of one level-shifted 8x8 block,
    F[v][u] orientation (v = vertical frequency). Encoder-side only — the
    decoder never mirrors this, so float math is fine here."""
    x = np.arange(8).reshape(1, 8).astype(np.float64)
    u = np.arange(8).reshape(8, 1).astype(np.float64)
    a = 0.5 * np.cos((2.0 * x + 1.0) * u * np.pi / 16.0)
    a[0, :] *= 1.0 / np.sqrt(2.0)
    return a @ block @ a.T


def _jpeg_mag_bits(v: int) -> tuple[int, int]:
    """(size, raw bits) per T.81 F.1.2.1.2/F.1.4.1: negative values are
    encoded as v + 2^size - 1 in `size` bits."""
    size = 0
    a = abs(v)
    while a:
        size += 1
        a >>= 1
    raw = v if v >= 0 else v + (1 << size) - 1
    return size, raw


def jpeg_bytes(
    img: np.ndarray,
    quality: int = 75,
    subsampling: str = "444",
    gray: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF JPEG from spec.

    Markers SOI APP0 DQT SOF0 DHT SOS .. EOI, Annex K quant tables scaled
    by the IJG quality rule, Annex K Huffman tables, 4:4:4 or 4:2:0
    subsampling (chroma by 2x2 box mean), optional restart intervals,
    or a single-component grayscale scan (channel 0). The encoder is
    fixtures-only: lossy by design, exercised end to end through BOTH
    decoders, which must agree bit-exactly on its output."""
    import struct as _s

    h, w = img.shape[:2]
    if h == 0 or w == 0:
        raise ValueError("independent jpeg: empty image")
    # Annex K tables above are written in natural (row-major) order; DQT
    # payloads and the in-scan quantize loop both index by zigzag POSITION,
    # so reorder first, then apply the quality scale.
    qy = _jpeg_quality_scale([_JPEG_QT_LUMA[_JPEG_ZZ[k]] for k in range(64)], quality)
    qc = _jpeg_quality_scale([_JPEG_QT_CHROMA[_JPEG_ZZ[k]] for k in range(64)], quality)
    rgb = img.astype(np.float64)
    r, g, b = rgb[:, :, 0], rgb[:, :, 1], rgb[:, :, 2]
    ycc = [
        np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255),
        np.clip(np.round(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b), 0, 255),
        np.clip(np.round(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b), 0, 255),
    ]

    if gray:
        comps = [(1, 1, 1, 0)]
        planes = {1: ycc[0]}
    elif subsampling == "420":
        comps = [(1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        # pad to even, then 2x2 box mean for chroma
        he, we = (h + 1) // 2 * 2, (w + 1) // 2 * 2
        planes = {1: ycc[0]}
        for cid, ch in ((2, ycc[1]), (3, ycc[2])):
            p = np.zeros((he, we))
            p[:h, :w] = ch
            if he > h:
                p[h:, :w] = ch[h - 1 :, :]
            if we > w:
                p[:, w:] = p[:, w - 1 : w]
            planes[cid] = np.round(
                (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2] + p[1::2, 1::2]) / 4.0
            )
    elif subsampling == "444":
        comps = [(1, 1, 1, 0), (2, 1, 1, 1), (3, 1, 1, 1)]
        planes = {1: ycc[0], 2: ycc[1], 3: ycc[2]}
    else:
        raise ValueError(f"independent jpeg: subsampling {subsampling}")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # pad every plane to its own MCU-covered size by edge replication
    padded = {}
    for cid, hs, vs, _tq in comps:
        p = planes[cid]
        ph, pw = mcuy * vs * 8, mcux * hs * 8
        out = np.zeros((ph, pw))
        sh, sw = p.shape
        out[:sh, :sw] = p
        if ph > sh:
            out[sh:, :sw] = p[sh - 1 : sh, :]
        if pw > sw:
            out[:, sw:] = out[:, sw - 1 : sw]
        padded[cid] = out

    qts = {0: qy, 1: qc}
    dc_codes = {
        0: _jpeg_codes(*_JPEG_HUFF_DC_LUMA),
        1: _jpeg_codes(*_JPEG_HUFF_DC_CHROMA),
    }
    ac_codes = {
        0: _jpeg_codes(*_JPEG_HUFF_AC_LUMA),
        1: _jpeg_codes(*_JPEG_HUFF_AC_CHROMA),
    }

    wtr = _JpegWriter()
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    rst = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                wtr.align()
                wtr.out += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                pred = {cid: 0 for cid, *_ in comps}
            for cid, hs, vs, tq in comps:
                q = qts[tq]
                tbl_id = 0 if tq == 0 else 1
                for by in range(vs):
                    for bx in range(hs):
                        blk = padded[cid][
                            (my * vs + by) * 8 : (my * vs + by) * 8 + 8,
                            (mx * hs + bx) * 8 : (mx * hs + bx) * 8 + 8,
                        ]
                        f = _jpeg_dct_block(blk - 128.0)
                        zz = [
                            int(np.round(f.reshape(64)[_JPEG_ZZ[k]] / q[k]))
                            for k in range(64)
                        ]
                        diff = zz[0] - pred[cid]
                        pred[cid] = zz[0]
                        size, raw = _jpeg_mag_bits(diff)
                        code, ln = dc_codes[tbl_id][size]
                        wtr.put(code, ln)
                        if size:
                            wtr.put(raw, size)
                        run = 0
                        last_nz = max(
                            (k for k in range(1, 64) if zz[k]), default=0
                        )
                        for k in range(1, last_nz + 1):
                            if zz[k] == 0:
                                run += 1
                                continue
                            while run > 15:
                                code, ln = ac_codes[tbl_id][0xF0]  # ZRL
                                wtr.put(code, ln)
                                run -= 16
                            size, raw = _jpeg_mag_bits(zz[k])
                            if size > 10:
                                raise ValueError(
                                    "independent jpeg: AC coefficient too large"
                                )
                            code, ln = ac_codes[tbl_id][(run << 4) | size]
                            wtr.put(code, ln)
                            wtr.put(raw, size)
                            run = 0
                        if last_nz < 63:
                            code, ln = ac_codes[tbl_id][0x00]  # EOB
                            wtr.put(code, ln)
            mcu_count += 1
    wtr.align()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes((0xFF, marker)) + _s.pack(">H", len(payload) + 2) + payload

    head = bytearray(b"\xff\xd8")  # SOI
    head += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    head += seg(0xDB, bytes([0x00]) + bytes(qy[_i] for _i in range(64)))
    if not gray:
        head += seg(0xDB, bytes([0x01]) + bytes(qc[_i] for _i in range(64)))
    sof = bytearray(_s.pack(">BHHB", 8, h, w, len(comps)))
    for cid, hs, vs, tq in comps:
        sof += bytes((cid, (hs << 4) | vs, tq))
    head += seg(0xC0, bytes(sof))
    for (tc, th), (bits16, vals) in (
        ((0, 0), _JPEG_HUFF_DC_LUMA),
        ((1, 0), _JPEG_HUFF_AC_LUMA),
        ((0, 1), _JPEG_HUFF_DC_CHROMA),
        ((1, 1), _JPEG_HUFF_AC_CHROMA),
    ):
        if gray and th == 1:
            continue
        head += seg(
            0xC4, bytes([(tc << 4) | th]) + bytes(bits16) + bytes(vals)
        )
    if restart_interval:
        head += seg(0xDD, _s.pack(">H", restart_interval))
    sos = bytearray([len(comps)])
    for cid, _hs, _vs, tq in comps:
        t = 0 if tq == 0 else 1
        sos += bytes((cid, (t << 4) | t))
    sos += bytes((0, 63, 0))  # Ss, Se, AhAl (baseline fixed)
    head += seg(0xDA, bytes(sos))
    return bytes(head) + bytes(wtr.out) + b"\xff\xd9"  # EOI


def decode_jpeg_image(buf: bytes) -> np.ndarray:
    """Baseline JPEG decode, second implementation: scalar bit reader over
    python ints, per-coefficient Huffman walk against a (length, code)
    list, per-block triple-loop integer IDCT, per-pixel integer color
    convert — every constant from the documented contract shared with
    functions/imaging.decode_jpeg (which vectorizes the same integer
    math)."""
    import math
    import struct as _s

    if buf[:3] != b"\xff\xd8\xff":
        raise ValueError("independent jpeg: bad signature")
    qt: dict[int, list[int]] = {}
    huff: dict[tuple[int, int], list[tuple[int, int, int]]] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while True:
        if pos + 4 > len(buf):
            raise ValueError("independent jpeg: truncated before SOS")
        marker = buf[pos + 1]
        if marker == 0xFF:  # fill bytes before a marker (T.81 B.1.1.2)
            pos += 1
            continue
        ln = _s.unpack_from(">H", buf, pos + 2)[0]
        seg = buf[pos + 4 : pos + 2 + ln]
        if len(seg) != ln - 2:
            raise ValueError("independent jpeg: truncated segment")
        if marker == 0xDB:
            p = 0
            while p < len(seg):
                if seg[p] >> 4:
                    raise ValueError("independent jpeg: 16-bit quant table")
                qt[seg[p] & 15] = list(seg[p + 1 : p + 65])
                if len(qt[seg[p] & 15]) != 64:
                    raise ValueError("independent jpeg: truncated DQT")
                p += 65
        elif marker == 0xC4:
            p = 0
            while p + 17 <= len(seg):
                tc_th = seg[p]
                bits16 = list(seg[p + 1 : p + 17])
                nv = sum(bits16)
                vals = seg[p + 17 : p + 17 + nv]
                entries = []
                code = 0
                k = 0
                for length in range(1, 17):
                    for _ in range(bits16[length - 1]):
                        entries.append((length, code, vals[k]))
                        code += 1
                        k += 1
                    code <<= 1
                huff[(tc_th >> 4, tc_th & 15)] = entries
                p += 17 + nv
        elif marker == 0xC0:
            h, w = _s.unpack_from(">HH", seg, 1)
            comps = []
            for c in range(seg[5]):
                comps.append(
                    (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 15, seg[8 + 3 * c])
                )
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError("independent jpeg: not baseline")
        elif marker == 0xDD:
            restart_interval = _s.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            scan = {}
            for c in range(seg[0]):
                scan[seg[1 + 2 * c]] = (seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 15)
            pos += 2 + ln
            break
        pos += 2 + ln
    if frame is None:
        raise ValueError("independent jpeg: no SOF0")
    h, w, comps = frame
    if h * w > (1 << 26):
        raise ValueError("independent jpeg: raster too large")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # IDCT basis, same documented constants, derived with math.cos here
    bi = [[0] * 8 for _ in range(8)]
    for u in range(8):
        for x in range(8):
            v = 0.5 * math.cos((2 * x + 1) * u * math.pi / 16.0)
            if u == 0:
                v /= math.sqrt(2.0)
            bi[u][x] = round(v * 16384.0)

    # scalar bit reader state
    state = {"pos": pos, "acc": 0, "n": 0}

    def read_bit() -> int:
        if state["n"] == 0:
            p = state["pos"]
            if p >= len(buf):
                raise ValueError("independent jpeg: truncated entropy data")
            byte = buf[p]
            if byte == 0xFF:
                if p + 1 < len(buf) and buf[p + 1] == 0x00:
                    state["pos"] = p + 2
                else:
                    raise ValueError("independent jpeg: scan ended mid-block")
            else:
                state["pos"] = p + 1
            state["acc"] = byte
            state["n"] = 8
        state["n"] -= 1
        return (state["acc"] >> state["n"]) & 1

    def decode_sym(entries) -> int:
        length = 0
        code = 0
        i = 0
        while length < 16:
            code = (code << 1) | read_bit()
            length += 1
            while i < len(entries) and entries[i][0] < length:
                i += 1
            j = i
            while j < len(entries) and entries[j][0] == length:
                if entries[j][1] == code:
                    return entries[j][2]
                j += 1
        raise ValueError("independent jpeg: bad Huffman code")

    def receive_extend(size: int) -> int:
        if size == 0:
            return 0
        v = 0
        for _ in range(size):
            v = (v << 1) | read_bit()
        if v < (1 << (size - 1)):
            v -= (1 << size) - 1
        return v

    planes = {
        cid: [[0] * (mcux * hs * 8) for _ in range(mcuy * vs * 8)]
        for cid, hs, vs, _ in comps
    }
    pred = {cid: 0 for cid, *_ in comps}
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # byte-align and consume RSTn
                state["n"] = 0
                p = state["pos"]
                if p + 1 >= len(buf) or buf[p] != 0xFF or not (0xD0 <= buf[p + 1] <= 0xD7):
                    raise ValueError("independent jpeg: missing RSTn")
                state["pos"] = p + 2
                pred = {cid: 0 for cid, *_ in comps}
            for cid, hs, vs, tq in comps:
                dc_t, ac_t = scan[cid]
                q = qt[tq]
                for by in range(vs):
                    for bx in range(hs):
                        coef = [0] * 64
                        s = decode_sym(huff[(0, dc_t)])
                        if s > 11:
                            raise ValueError("independent jpeg: DC category")
                        pred[cid] += receive_extend(s)
                        if not -(1 << 15) <= pred[cid] < (1 << 15):
                            raise ValueError("independent jpeg: DC predictor range")
                        coef[0] = pred[cid] * q[0]
                        k = 0
                        while k < 63:
                            rs = decode_sym(huff[(1, ac_t)])
                            rr, ss = rs >> 4, rs & 15
                            if ss == 0:
                                if rr == 15:
                                    k += 16
                                    continue
                                break
                            if ss > 10:
                                raise ValueError("independent jpeg: AC category")
                            k += rr + 1
                            if k > 63:
                                raise ValueError("independent jpeg: overrun")
                            coef[_JPEG_ZZ[k]] = receive_extend(ss) * q[k]
                        # scalar integer IDCT, same fixed-point contract
                        plane = planes[cid]
                        for y in range(8):
                            for x in range(8):
                                acc = 0
                                for vv in range(8):
                                    for uu in range(8):
                                        acc += (
                                            coef[vv * 8 + uu]
                                            * bi[uu][x]
                                            * bi[vv][y]
                                        )
                                px = ((acc + (1 << 27)) >> 28) + 128
                                px = 0 if px < 0 else (255 if px > 255 else px)
                                plane[(my * vs + by) * 8 + y][
                                    (mx * hs + bx) * 8 + x
                                ] = px
            mcu_count += 1

    out = np.zeros((h, w, 3), dtype=np.uint8)
    if len(comps) == 1:
        plane = planes[comps[0][0]]
        for y in range(h):
            for x in range(w):
                out[y, x] = plane[y][x]
        return out
    (y_id, y_hs, y_vs, _), (cb_id, cb_hs, cb_vs, _), (cr_id, cr_hs, cr_vs, _) = comps
    for yy in range(h):
        for xx in range(w):
            lum = planes[y_id][(yy * y_vs) // vmax][(xx * y_hs) // hmax]
            cb = planes[cb_id][(yy * cb_vs) // vmax][(xx * cb_hs) // hmax] - 128
            cr = planes[cr_id][(yy * cr_vs) // vmax][(xx * cr_hs) // hmax] - 128
            rr = lum + ((91881 * cr + 32768) >> 16)
            gg = lum - ((22554 * cb + 46802 * cr + 32768) >> 16)
            bb = lum + ((116130 * cb + 32768) >> 16)
            out[yy, xx, 0] = 0 if rr < 0 else (255 if rr > 255 else rr)
            out[yy, xx, 1] = 0 if gg < 0 else (255 if gg > 255 else gg)
            out[yy, xx, 2] = 0 if bb < 0 else (255 if bb > 255 else bb)
    return out


# ---------------------------------------------------------------------------
# GIF (GIF87a/89a): indexed-color LZW raster. The encoder builds an exact
# palette (fixture images for this container are drawn from <=256 colors,
# so the round-trip is LOSSLESS) and does real GIF LZW with dictionary
# growth, 4096-entry resets and LSB-first variable-width packing; the
# decoder below is the per-pixel/pure-python mirror of
# functions/imaging.decode_gif.
# ---------------------------------------------------------------------------


def gif_bytes(img: np.ndarray, interlace: bool = False) -> bytes:
    """(h, w, 3) uint8 with <= 256 distinct colors -> single-frame GIF89a
    with a global color table, optionally interlaced."""
    h, w = img.shape[:2]
    flat = img.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    if colors.shape[0] > 256:
        raise ValueError("independent gif: more than 256 distinct colors")
    # palette size = next power of two >= n (min 2); min code size >= 2
    bits = 1
    while (1 << bits) < colors.shape[0]:
        bits += 1
    n_pal = 1 << bits
    mcs = max(2, bits)
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: colors.shape[0]] = colors
    idx = inverse.reshape(h, w)
    if interlace:
        order = []
        for off, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(off, h, step))
        idx = idx[order]
    seq = idx.reshape(-1).tolist()

    clear = 1 << mcs
    end = clear + 1
    out_bits: list[int] = []

    def emit(code: int, width: int) -> None:
        for i in range(width):  # LSB-first
            out_bits.append((code >> i) & 1)

    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = end + 1
    width = mcs + 1
    emit(clear, width)
    wseq: tuple[int, ...] = ()
    for k in seq:
        cand = wseq + (k,)
        if cand in table:
            wseq = cand
            continue
        emit(table[wseq], width)
        table[cand] = next_code
        next_code += 1
        # the decoder's table lags ours by one entry (its add is deferred
        # to the NEXT code), so it reaches length 1 << width exactly when
        # our just-added code equals 1 << width — widen then, not before
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = end + 1
            width = mcs + 1
        wseq = (k,)
    if wseq:
        emit(table[wseq], width)
    emit(end, width)
    data = bytearray()
    for i in range(0, len(out_bits), 8):
        byte = 0
        for j, b in enumerate(out_bits[i : i + 8]):
            byte |= b << j
        data.append(byte)

    out = bytearray(b"GIF89a")
    out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    out.append(0x80 | (bits - 1))  # GCT present, size 2^(n+1)
    out += b"\x00\x00"  # bg index, aspect
    out += pal.tobytes()
    out.append(0x2C)  # image descriptor
    out += b"\x00\x00\x00\x00"
    out += int(w).to_bytes(2, "little") + int(h).to_bytes(2, "little")
    out.append(0x40 if interlace else 0x00)
    out.append(mcs)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)  # block terminator
    out.append(0x3B)  # trailer
    return bytes(out)


def decode_gif_image(buf: bytes) -> np.ndarray:
    """GIF decode, second implementation: scalar bit cursor, dict-of-list
    LZW table, per-row interlace reorder, per-pixel palette lookup.
    Truncated payloads surface as ValueError like every other independent
    decoder (byte accesses past the end re-raise from IndexError)."""
    try:
        return _decode_gif_image(buf)
    except IndexError as exc:
        raise ValueError("independent gif: truncated payload") from exc


def _decode_gif_image(buf: bytes) -> np.ndarray:
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("independent gif: bad signature")
    packed = buf[10]
    pos = 13
    palette = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        palette = [tuple(buf[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    while True:
        if pos >= len(buf):
            raise ValueError("independent gif: no image block")
        b0 = buf[pos]
        pos += 1
        if b0 == 0x21:
            pos += 1
            while buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"independent gif: block 0x{b0:02x}")
        break
    iw = buf[pos + 4] | (buf[pos + 5] << 8)
    ih = buf[pos + 6] | (buf[pos + 7] << 8)
    if iw * ih > (1 << 26):
        raise ValueError("independent gif: raster too large")
    ipacked = buf[pos + 8]
    pos += 9
    if ipacked & 0x80:
        n = 2 << (ipacked & 7)
        palette = [tuple(buf[pos + 3 * i : pos + 3 * i + 3]) for i in range(n)]
        pos += 3 * n
    if palette is None:
        raise ValueError("independent gif: no palette")
    mcs = buf[pos]
    pos += 1
    data = bytearray()
    while True:
        sz = buf[pos]
        pos += 1
        if sz == 0:
            break
        data += buf[pos : pos + sz]
        pos += sz

    clear = 1 << mcs
    end = clear + 1
    table: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    width = mcs + 1
    bitpos = 0
    pixels: list[int] = []
    prev: list[int] | None = None
    while len(pixels) < iw * ih:
        if bitpos + width > 8 * len(data):
            raise ValueError("independent gif: truncated LZW")
        code = 0
        for i in range(width):
            code |= ((data[(bitpos + i) >> 3] >> ((bitpos + i) & 7)) & 1) << i
        bitpos += width
        if code == clear:
            table = [[i] for i in range(clear)] + [[], []]
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("independent gif: bad code")
        pixels.extend(entry)
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(pixels) < iw * ih:
        raise ValueError("independent gif: short raster")
    pixels = pixels[: iw * ih]
    rows = [pixels[r * iw : (r + 1) * iw] for r in range(ih)]
    if ipacked & 0x40:
        order = []
        for off, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
            order.extend(range(off, ih, step))
        deinter: list[list[int]] = [[]] * ih
        for src_row, dst in enumerate(order):
            deinter[dst] = rows[src_row]
        rows = deinter
    out = np.zeros((ih, iw, 3), dtype=np.uint8)
    for y in range(ih):
        for x in range(iw):
            out[y, x] = palette[rows[y][x]]
    return out


# ---------------------------------------------------------------------------
# TIFF (TIFF 6.0 baseline): strip-organized 8-bit gray/RGB, uncompressed or
# PackBits, either byte order. Lossless, so the dual decoders agree
# trivially; the encoder exercises multi-strip layouts and both byte
# orders so the engine's IFD walk decodes every variant for real.
# ---------------------------------------------------------------------------


def _packbits_encode(row: bytes) -> bytes:
    """TIFF 6.0 PackBits encoder: replicate runs of >= 3, literals
    otherwise, 128-byte chunks."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            out.append(257 - run)
            out.append(row[i])
            i += run
            continue
        lit_start = i
        i += 1
        while (
            i < n
            and i - lit_start < 128
            and not (i + 2 < n and row[i] == row[i + 1] == row[i + 2])
        ):
            i += 1
        out.append(i - lit_start - 1)
        out += row[lit_start:i]
    return bytes(out)


def tiff_bytes(
    img: np.ndarray,
    gray: bool = False,
    packbits: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
) -> bytes:
    """(h, w, 3) uint8 -> baseline TIFF: 8-byte header, strip data, IFD at
    the end with offset-area values. gray=True stores channel 0 as
    PhotometricInterpretation=1 (BlackIsZero)."""
    import struct as _s

    bo = ">" if big_endian else "<"
    h, w = img.shape[:2]
    spp = 1 if gray else 3
    plane = img[:, :, 0] if gray else img
    rps = rows_per_strip or max(1, (h + 2) // 3)  # a few strips by default
    row_bytes = w * spp
    raw = plane.astype(np.uint8).tobytes()
    strips = []
    for top in range(0, h, rps):
        chunk = raw[top * row_bytes : min(top + rps, h) * row_bytes]
        strips.append(_packbits_encode(chunk) if packbits else chunk)

    header = _s.pack(bo + "2sHI", b"II" if bo == "<" else b"MM", 0x2A, 0)
    data = bytearray(header)
    strip_offsets = []
    for sdat in strips:
        strip_offsets.append(len(data))
        data += sdat
    if len(data) % 2:
        data += b"\x00"  # IFD must be word-aligned

    entries = []  # (tag, type, count, packed-values bytes)
    extra = bytearray()

    def add(tag: int, typ: int, values: list[int]) -> None:
        fmt = {3: "H", 4: "I"}[typ]
        size = {3: 2, 4: 4}[typ]
        payload = b"".join(_s.pack(bo + fmt, v) for v in values)
        entries.append((tag, typ, len(values), payload, size * len(values)))

    add(256, 4, [w])
    add(257, 4, [h])
    add(258, 3, [8] * spp)
    add(259, 3, [32773 if packbits else 1])
    add(262, 3, [2 if spp == 3 else 1])
    add(273, 4, strip_offsets)
    add(277, 3, [spp])
    add(278, 4, [rps])
    add(279, 4, [len(sd) for sd in strips])
    add(284, 3, [1])
    entries.sort(key=lambda e: e[0])  # spec: ascending tag order

    ifd_off = len(data)
    ifd = bytearray(_s.pack(bo + "H", len(entries)))
    extra_base = ifd_off + 2 + 12 * len(entries) + 4
    for tag, typ, count, payload, total in entries:
        ifd += _s.pack(bo + "HHI", tag, typ, count)
        if total <= 4:
            ifd += payload + b"\x00" * (4 - total)
        else:
            ifd += _s.pack(bo + "I", extra_base + len(extra))
            extra += payload
    ifd += _s.pack(bo + "I", 0)  # next-IFD pointer: none
    data += ifd + extra
    # header's IFD offset was a placeholder: patch it now
    data[4:8] = _s.pack(bo + "I", ifd_off)
    return bytes(data)


def decode_tiff_image(buf: bytes) -> np.ndarray:
    """Baseline TIFF decode, second implementation: scalar IFD walk with
    int.from_bytes (the engine uses struct), per-strip/per-row loops, a
    scalar PackBits state machine. Truncation surfaces as ValueError."""
    try:
        return _decode_tiff_image(buf)
    except IndexError as exc:
        raise ValueError("independent tiff: truncated payload") from exc


def _decode_tiff_image(buf: bytes) -> np.ndarray:
    if buf[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("independent tiff: bad signature")
    little = buf[:2] == b"II"

    def rd(off: int, size: int) -> int:
        b = buf[off : off + size]
        if len(b) != size:
            raise ValueError("independent tiff: truncated read")
        return int.from_bytes(b, "little" if little else "big")

    ifd = rd(4, 4)
    n = rd(ifd, 2)
    tags: dict[int, list[int]] = {}
    for i in range(n):
        off = ifd + 2 + 12 * i
        tag = rd(off, 2)
        typ = rd(off + 2, 2)
        count = rd(off + 4, 4)
        size = {1: 1, 3: 2, 4: 4}.get(typ)
        if size is None:
            continue
        voff = off + 8 if size * count <= 4 else rd(off + 8, 4)
        tags[tag] = [rd(voff + k * size, size) for k in range(count)]

    def one(tag: int, default=None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"independent tiff: missing tag {tag}")
        return default

    w, h = one(256), one(257)
    comp = one(259, 1)
    photo = one(262, 1)
    spp = one(277, 1)
    rps = one(278, h)
    if comp not in (1, 32773) or one(284, 1) != 1:
        raise ValueError("independent tiff: unsupported layout")
    if any(b != 8 for b in tags.get(258, [8] * spp)):
        raise ValueError("independent tiff: only 8-bit")
    rows: list[list[int]] = []
    row_bytes = w * spp
    for s_i, (s_off, s_cnt) in enumerate(zip(tags[273], tags[279])):
        strip = buf[s_off : s_off + s_cnt]
        if len(strip) != s_cnt:
            raise ValueError("independent tiff: truncated strip")
        n_rows = min(rps, h - s_i * rps)
        if comp == 32773:
            # scalar PackBits
            out = bytearray()
            p = 0
            while len(out) < n_rows * row_bytes:
                if p >= len(strip):
                    raise ValueError("independent tiff: short PackBits")
                c = strip[p]
                p += 1
                if c < 128:
                    out += strip[p : p + c + 1]
                    p += c + 1
                elif c > 128:
                    out += bytes([strip[p]]) * (257 - c)
                    p += 1
            strip = bytes(out)
        for r in range(n_rows):
            rows.append(list(strip[r * row_bytes : (r + 1) * row_bytes]))
    if len(rows) < h:
        raise ValueError("independent tiff: short raster")
    out_img = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            if spp == 1:
                v = rows[y][x]
                if photo == 0:
                    v = 255 - v
                out_img[y, x] = v
            else:
                out_img[y, x] = rows[y][3 * x : 3 * x + 3]
    return out_img


# ---------------------------------------------------------------------------
# Real FLAC (RFC 9639): encoder for fixtures + a per-sample mirror decoder
# of dataflow_geobeam_spark/flac.decode_flac. FLAC is lossless integer
# coding, so both decoders must return the exact int16 samples encoded —
# no arithmetic contract needed beyond the spec itself. The engine never
# touches these bytes at generation time.
# ---------------------------------------------------------------------------


def _flac_crc8(data: bytes) -> int:
    """Second implementation: table-driven (the engine loops per bit)."""
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        table.append(c)
    crc = 0
    for b in data:
        crc = table[crc ^ b]
    return crc


def _flac_crc16(data: bytes) -> int:
    table = []
    for i in range(256):
        c = i << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        table.append(c)
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ table[(crc >> 8) ^ b]
    return crc


class _FlacBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a one

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


def _flac_utf8(n: int) -> bytes:
    """UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    parts = []
    while True:
        parts.append(0x80 | (n & 0x3F))
        n >>= 6
        lead_bits = 7 - len(parts) - 1
        if n < (1 << lead_bits):
            lead = (0xFF << (lead_bits + 1)) & 0xFF | n
            return bytes([lead]) + bytes(reversed(parts))


def _flac_rice_param(resid: list[int]) -> int:
    """Pick the Rice parameter from the mean zigzag magnitude."""
    if not resid:
        return 0
    mean = sum((v << 1) if v >= 0 else ((-v << 1) - 1) for v in resid) // max(1, len(resid))
    p = 0
    while (1 << (p + 1)) < mean + 1 and p < 14:
        p += 1
    return p


def _flac_write_subframe(
    w: _FlacBitWriter, samples: list[int], bps: int, partition_order: int
) -> None:
    """CONSTANT when flat, VERBATIM when too short, else FIXED order 2
    with a partitioned 4-bit Rice residual (escape code when a partition
    wants >14 bits)."""
    if len(set(samples)) == 1:
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(samples[0], bps)
        return
    if len(samples) < 3 or (len(samples) >> partition_order) <= 2:
        w.write(0, 1)
        w.write(1, 6)  # VERBATIM
        w.write(0, 1)
        for s in samples:
            w.write(s, bps)
        return
    order = 2
    # RFC 9639: the blocksize MUST be divisible by 2^partition_order and
    # partition 0 must keep >= 0 samples — the final short frame of a
    # stream usually cannot honor the requested order, so clamp per frame
    # like every real encoder does
    while partition_order > 0 and (
        len(samples) % (1 << partition_order)
        or (len(samples) >> partition_order) < order
    ):
        partition_order -= 1
    w.write(0, 1)
    w.write(8 + order, 6)  # FIXED order 2
    w.write(0, 1)  # no wasted bits
    for s in samples[:order]:
        w.write(s, bps)
    resid = [
        samples[i] - (2 * samples[i - 1] - samples[i - 2])
        for i in range(order, len(samples))
    ]
    w.write(0, 2)  # 4-bit Rice parameters
    w.write(partition_order, 4)
    n_parts = 1 << partition_order
    per = len(samples) >> partition_order
    start = 0
    for p in range(n_parts):
        n = per - (order if p == 0 else 0)
        part = resid[start : start + n]
        start += n
        param = _flac_rice_param(part)
        zig = [(v << 1) if v >= 0 else ((-v << 1) - 1) for v in part]
        if param > 14 or (zig and max(zig) >> param > 4096):
            raw = max(v.bit_length() for v in part) + 1 if part else 1
            raw = min(raw, 31)
            w.write(15, 4)  # escape
            w.write(raw, 5)
            for v in part:
                w.write(v, raw)
        else:
            w.write(param, 4)
            for z in zig:
                w.write_unary(z >> param)
                w.write(z, param)


def flac_bytes(
    samples,
    sr_hz: int,
    blocksize: int = 4096,
    stereo_mode: str = "independent",
    partition_order: int = 0,
) -> bytes:
    """int16 samples (n,) or (n, 2) -> real FLAC bytes: fLaC magic,
    STREAMINFO, fixed-blocksize frames (16-bit blocksize-at-end header
    form, sample rate from STREAMINFO), FIXED(2)/CONSTANT/VERBATIM
    subframes with Rice residuals, proper CRC-8/CRC-16. stereo_mode
    "leftside" exercises the decorrelated path (side = left - right,
    bps+1)."""
    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    if n == 0 or ch not in (1, 2):
        raise ValueError("independent flac: need (n,) or (n, 2) samples")
    if x.min() < -(1 << 15) or x.max() >= (1 << 15):
        raise ValueError("independent flac: samples exceed int16")

    out = bytearray(b"fLaC")
    info = bytearray()
    info += blocksize.to_bytes(2, "big") * 2  # min = max blocksize
    info += b"\x00\x00\x00" * 2  # frame sizes unknown
    packed = (sr_hz << 44) | ((ch - 1) << 41) | ((16 - 1) << 36) | n
    info += packed.to_bytes(8, "big")
    info += b"\x00" * 16  # md5 unset (legal: unknown)
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info  # last block

    for f_idx, top in enumerate(range(0, n, blocksize)):
        chunk = x[top : top + blocksize]
        bs = chunk.shape[0]
        w = _FlacBitWriter()
        w.write(0x3FFE, 14)
        w.write(0, 1)  # reserved
        w.write(0, 1)  # fixed blocksize strategy
        w.write(7, 4)  # blocksize: 16-bit value at end
        w.write(0, 4)  # sample rate from STREAMINFO
        if ch == 2 and stereo_mode == "leftside":
            w.write(8, 4)
        else:
            w.write(ch - 1, 4)
        w.write(0b100, 3)  # 16-bit samples
        w.write(0, 1)
        for b in _flac_utf8(f_idx):
            w.write(b, 8)
        w.write(bs - 1, 16)
        w.align()
        w.out.append(_flac_crc8(bytes(w.out)))
        if ch == 2 and stereo_mode == "leftside":
            left = chunk[:, 0].tolist()
            side = (chunk[:, 0] - chunk[:, 1]).tolist()
            _flac_write_subframe(w, left, 16, partition_order)
            _flac_write_subframe(w, side, 17, partition_order)
        else:
            for c in range(ch):
                _flac_write_subframe(w, chunk[:, c].tolist(), 16, partition_order)
        w.align()
        frame = bytes(w.out)
        out += frame + _flac_crc16(frame).to_bytes(2, "big")
    return bytes(out)


def decode_flac_independent(buf: bytes):
    """Real-FLAC decode, second implementation: closure-based scalar bit
    reader, per-sample Python loops, table-driven CRCs. Returns
    (int16 ndarray [n, ch], sr)."""
    if buf[:4] != b"fLaC":
        raise ValueError("independent flac: bad magic")
    pos = 4
    info = None
    while True:
        head = buf[pos]
        ln = int.from_bytes(buf[pos + 1 : pos + 4], "big")
        if head & 0x7F == 0:
            info = buf[pos + 4 : pos + 4 + ln]
        pos += 4 + ln
        if head & 0x80:
            break
    if info is None or len(info) < 34:
        raise ValueError("independent flac: no STREAMINFO")
    packed = int.from_bytes(info[10:18], "big")
    sr = packed >> 44
    ch = ((packed >> 41) & 7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    if bps != 16:
        raise ValueError("independent flac: 16-bit only")

    state = {"pos": pos, "acc": 0, "n": 0}

    def rd(nb: int) -> int:
        while state["n"] < nb:
            if state["pos"] >= len(buf):
                raise ValueError("independent flac: truncated")
            state["acc"] = (state["acc"] << 8) | buf[state["pos"]]
            state["pos"] += 1
            state["n"] += 8
        state["n"] -= nb
        v = (state["acc"] >> state["n"]) & ((1 << nb) - 1)
        state["acc"] &= (1 << state["n"]) - 1
        return v

    def rds(nb: int) -> int:
        v = rd(nb)
        return v - (1 << nb) if v >= (1 << (nb - 1)) else v

    def unary() -> int:
        q = 0
        while rd(1) == 0:
            q += 1
        return q

    def residual(bs: int, order: int) -> list[int]:
        meth = rd(2)
        pb = 4 if meth == 0 else 5
        po = rd(4)
        if bs % (1 << po) or (po > 0 and (bs >> po) < order):
            raise ValueError("independent flac: illegal partition order")
        vals: list[int] = []
        for p in range(1 << po):
            cnt = (bs >> po) - (order if p == 0 else 0)
            prm = rd(pb)
            if prm == (1 << pb) - 1:
                raw = rd(5)
                vals += [rds(raw) if raw else 0 for _ in range(cnt)]
            else:
                for _ in range(cnt):
                    z = (unary() << prm) | rd(prm)
                    vals.append((z >> 1) ^ -(z & 1))
        return vals

    def subframe(bs: int, w_bps: int) -> list[int]:
        rd(1)
        t = rd(6)
        wasted = 0
        if rd(1):
            wasted = 1 + unary()
            w_bps -= wasted
        if t == 0:
            s = [rds(w_bps)] * bs
        elif t == 1:
            s = [rds(w_bps) for _ in range(bs)]
        elif 8 <= t <= 12:
            o = t - 8
            s = [rds(w_bps) for _ in range(o)]
            co = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}[o]
            for r in residual(bs, o):
                s.append(r + sum(c * s[-1 - j] for j, c in enumerate(co)))
        elif t >= 32:
            o = t - 31
            s = [rds(w_bps) for _ in range(o)]
            prec = rd(4) + 1
            shift = rds(5)
            co = [rds(prec) for _ in range(o)]
            for r in residual(bs, o):
                s.append(r + (sum(c * s[-1 - j] for j, c in enumerate(co)) >> shift))
        else:
            raise ValueError("independent flac: reserved subframe")
        return [v << wasted for v in s] if wasted else s

    chans: list[list[int]] = [[] for _ in range(ch)]
    done = 0
    while done < total:
        start = state["pos"]
        if state["n"]:
            raise ValueError("independent flac: misaligned frame")
        if rd(14) != 0x3FFE or rd(1) or rd(1):
            raise ValueError("independent flac: bad frame header")
        bsc, src_, chc, ssc = rd(4), rd(4), rd(4), rd(3)
        rd(1)
        b0 = rd(8)  # coded frame number (our encoder stays within 7 bits
        if b0 >= 0x80:  # until frame 128; handle multi-byte too)
            nf = 0
            m = 0x40
            while b0 & m:
                nf += 1
                m >>= 1
            for _ in range(nf):
                rd(8)
        if bsc == 6:
            bs = rd(8) + 1
        elif bsc == 7:
            bs = rd(16) + 1
        else:
            bs = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                  8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                  13: 8192, 14: 16384, 15: 32768}[bsc]
        if src_ == 12:
            rd(8)
        elif src_ in (13, 14):
            rd(16)
        if _flac_crc8(buf[start : state["pos"]]) != rd(8):
            raise ValueError("independent flac: header CRC")
        if ssc != 0b100:
            raise ValueError("independent flac: not 16-bit frame")
        if chc <= 7:
            subs = [subframe(bs, 16) for _ in range(ch)]
        elif chc == 8:
            left = subframe(bs, 16)
            side = subframe(bs, 17)
            subs = [left, [a - b for a, b in zip(left, side)]]
        elif chc == 9:
            side = subframe(bs, 17)
            right = subframe(bs, 16)
            subs = [[a + b for a, b in zip(right, side)], right]
        elif chc == 10:
            mid = subframe(bs, 16)
            side = subframe(bs, 17)
            l_ = []
            r_ = []
            for m_, s_ in zip(mid, side):
                mm = (m_ << 1) | (s_ & 1)
                l_.append((mm + s_) >> 1)
                r_.append((mm - s_) >> 1)
            subs = [l_, r_]
        else:
            raise ValueError("independent flac: channel assignment")
        state["n"] = 0
        state["acc"] = 0
        if _flac_crc16(buf[start : state["pos"]]) != rd(16):
            raise ValueError("independent flac: frame CRC")
        take = min(bs, total - done)
        for c in range(ch):
            chans[c].extend(subs[c][:take])
        done += take
    arr = np.stack([np.asarray(c, dtype=np.int32) for c in chans], axis=1)
    return arr.astype(np.int16), sr


def decode_any_image(buf: bytes) -> np.ndarray:
    """Magic-dispatched independent decode (PPM/PGM/BMP/PNG/JPEG/GIF/TIFF)."""
    if buf[:2] == b"P6":
        return decode_ppm_image(buf)
    if buf[:2] == b"P5":
        return decode_pgm_image(buf)
    if buf[:2] == b"BM":
        return decode_bmp_image(buf)
    if buf[:4] == _PNG_SIG[:4]:
        return decode_png_image(buf)
    if buf[:3] == b"\xff\xd8\xff":
        return decode_jpeg_image(buf)
    if buf[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif_image(buf)
    if buf[:4] in (b"II*\x00", b"MM\x00*"):
        return decode_tiff_image(buf)
    raise ValueError(f"independent: unsupported container {buf[:4]!r}")


def pixel_embedding_independent(buf: bytes, width: int, height: int) -> np.ndarray:
    """Mirror of functions/imaging.pixel_embedding per its documented
    contract: decode -> NN-resize (per-pixel loop here) -> flatten float64
    -> subtract mean -> cast float32."""
    small = nn_resize(decode_any_image(buf), width, height)
    v = small.reshape(-1).astype(np.float64)
    return (v - v.mean()).astype(np.float32)


def pq_train_codebooks(
    sample: np.ndarray, m_sub: int, k_codes: int, seed: int = 42, iters: int = 10
) -> np.ndarray:
    """Per-subspace k-means PQ codebooks per the engine's documented
    training spec: float64 sample, init = ``default_rng([seed, 4242, s])``
    rows without replacement, exactly ``iters`` Lloyd iterations, empty
    clusters keep their previous centroid."""
    n, dim = sample.shape
    dsub = dim // m_sub
    xs = sample.reshape(n, m_sub, dsub)
    books = np.empty((m_sub, k_codes, dsub))
    for s in range(m_sub):
        x = xs[:, s, :]
        rng = np.random.default_rng([seed, 4242, s])
        c = x[rng.choice(n, k_codes, replace=False)].copy()
        for _ in range(iters):
            assign = ((x[:, None, :] - c[None]) ** 2).sum(axis=2).argmin(axis=1)
            for j in range(k_codes):
                members = assign == j
                if members.any():
                    c[j] = x[members].mean(axis=0)
        books[s] = c
    return books


# ---------------------------------------------------------------------------
# audio fingerprint (round 5) — independent per-frame implementation
# ---------------------------------------------------------------------------


def audio_fingerprint(pcm, sr_hz: int):
    """Independent mirror of functions/audio.fingerprint_np: 64 ms frames
    at 50% hop, 17 log-spaced band edges over 300-2000 Hz, band energy =
    prefix-sum differences of the float64 power spectrum (the shared
    accumulation spec — prefix sums are sequential left-to-right in both
    implementations, so tokens are bit-identical), bit b of token t =
    ((E[t,b]-E[t,b+1]) - (E[t-1,b]-E[t-1,b+1])) > 0.

    Code shape differs from the engine kernel on purpose: per-frame
    Python loop over 1-D FFTs and per-band edge lookups vs the engine's
    single 2-D vectorized pass.
    """
    x = np.asarray(pcm, dtype=np.float64)
    n_bands = 17
    frame = int(round(sr_hz * 0.064))
    hop = frame // 2
    if frame <= 0 or hop <= 0 or x.size < frame + hop:
        return []
    edges = np.geomspace(300.0, 2000.0, n_bands + 1)
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr_hz)
    lo_hi = [
        (int(np.searchsorted(freqs, edges[b])), int(np.searchsorted(freqs, edges[b + 1])))
        for b in range(n_bands)
    ]
    tokens = []
    prev_diffs = None
    start = 0
    while start + frame <= x.size:
        spec = np.abs(np.fft.rfft(x[start : start + frame])) ** 2
        prefix = np.concatenate([[0.0], np.cumsum(spec)])
        energies = [float(prefix[hi] - prefix[lo]) for lo, hi in lo_hi]
        diffs = [energies[b] - energies[b + 1] for b in range(n_bands - 1)]
        if prev_diffs is not None:
            tok = 0
            for b in range(n_bands - 1):
                if diffs[b] - prev_diffs[b] > 0:
                    tok |= 1 << b
            tokens.append(tok)  # 16 bits in a positive int32, like the engine
        prev_diffs = diffs
        start += hop
    return tokens


def resample_linear(pcm, sr_in: int, sr_out: int):
    """Independent mirror of functions/audio.resample_linear_np — the
    same explicit formula (y = x[idx] + frac*(x[idx+1]-x[idx]), tail
    clamp to x[-1]) in a per-sample Python loop."""
    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0 or sr_in <= 0 or sr_out <= 0:
        return np.zeros(0)
    n_out = round(x.size * sr_out / sr_in)
    if n_out <= 0:
        return np.zeros(0)
    step = float(sr_in) / float(sr_out)
    out = np.empty(n_out)
    n = x.size
    for j in range(n_out):
        pos = j * step
        idx = int(pos)
        if idx >= n - 1:
            out[j] = x[n - 1]
        else:
            frac = pos - idx
            out[j] = x[idx] + frac * (x[idx + 1] - x[idx])
    return out


def logmel_frames(pcm, sr_hz: int):
    """Independent mirror of functions/audio.logmel_frames_np (the shared
    per-frame stage under mel_mean/mfcc_mean/specaugment): resample to
    16 kHz (resample_linear above), 400/160 rectangular frames, float64
    power spectrum, HTK-mel triangular weights recomputed from the same
    formula with the same numpy elementwise ops, LEFT-TO-RIGHT folds for
    the band energies. Per-frame/per-mel loop structure vs the engine's
    batched passes; bit-identical (T, 16) output, None if no full frame."""
    sr, frame, hop, n_mels = 16000, 400, 160, 16
    f_lo, f_hi, floor_e = 20.0, 7600.0, 1e-10
    y = resample_linear(pcm, sr_hz, sr)
    if y.size < frame:
        return None
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    pts = 700.0 * (10.0 ** (np.linspace(mel(f_lo), mel(f_hi), n_mels + 2) / 2595.0) - 1.0)
    weights = []
    for m in range(n_mels):
        lo, ctr, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (freqs - lo) / (ctr - lo)
        down = (hi - freqs) / (hi - ctr)
        tri = np.minimum(up, down)
        weights.append(np.where(tri > 0.0, tri, 0.0))
    n_frames = 1 + (y.size - frame) // hop
    out = np.empty((n_frames, n_mels))
    for t in range(n_frames):
        seg = y[t * hop : t * hop + frame]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        for m in range(n_mels):
            w = weights[m]
            acc = 0.0
            for b in np.flatnonzero(w):
                acc = acc + w[b] * spec[b]
            out[t, m] = np.log10(acc + floor_e)
    return out


def mel_mean(pcm, sr_hz: int):
    """Independent mirror of functions/audio.mel_mean_np:
    ``logmel_frames`` above + a LEFT-TO-RIGHT fold over frames."""
    frames = logmel_frames(pcm, sr_hz)
    if frames is None:
        return None
    n_frames, n_mels = frames.shape
    mean = np.zeros(n_mels)
    for t in range(n_frames):
        for m in range(n_mels):
            mean[m] = mean[m] + frames[t, m]
    return mean / float(n_frames)


def mfcc_mean(pcm, sr_hz: int):
    """Independent mirror of functions/audio.mfcc_mean_np: the mel_mean
    chain up to the per-frame log-mel vector, then an unnormalized
    DCT-II per frame — c[k] = sum over m of logE[m]*B[k,m], scalar
    left-to-right — and the frame mean. The DCT basis B is the ONE
    shared elementwise numpy expression (the mel_filters precedent:
    same libm, same ULPs); the folds are per-frame/per-coefficient
    scalar loops vs the engine's batched column passes."""
    sr, frame, hop, n_mels, n_mfcc = 16000, 400, 160, 16, 13
    f_lo, f_hi, floor_e = 20.0, 7600.0, 1e-10
    y = resample_linear(pcm, sr_hz, sr)
    if y.size < frame:
        return None
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
    mel = lambda f: 2595.0 * np.log10(1.0 + f / 700.0)  # noqa: E731
    pts = 700.0 * (10.0 ** (np.linspace(mel(f_lo), mel(f_hi), n_mels + 2) / 2595.0) - 1.0)
    weights = []
    for m in range(n_mels):
        lo, ctr, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (freqs - lo) / (ctr - lo)
        down = (hi - freqs) / (hi - ctr)
        tri = np.minimum(up, down)
        weights.append(np.where(tri > 0.0, tri, 0.0))
    marr = np.arange(n_mels, dtype=np.float64)
    karr = np.arange(n_mfcc, dtype=np.float64)[:, None]
    basis = np.cos(np.pi * (marr + 0.5) * karr / float(n_mels))
    n_frames = 1 + (y.size - frame) // hop
    mean = np.zeros(n_mfcc)
    for t in range(n_frames):
        seg = y[t * hop : t * hop + frame]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        log_e = np.empty(n_mels)
        for m in range(n_mels):
            w = weights[m]
            acc = 0.0
            for b in np.flatnonzero(w):
                acc = acc + w[b] * spec[b]
            log_e[m] = np.log10(acc + floor_e)
        for k in range(n_mfcc):
            acc = 0.0
            for m in range(n_mels):
                acc = acc + log_e[m] * basis[k, m]
            mean[k] = mean[k] + acc
    return mean / float(n_frames)


def pitch_stats(pcm, sr_hz: int):
    """Independent mirror of functions/audio.pitch_stats_np: resample to
    16 kHz, 640-sample segments every 480, normalized autocorrelation
    over lags 40..320. r(tau) comes from the SHARED FFT core
    (np.fft.rfft/irfft at NFFT=1024 — same pocketfft ULPs transformed
    frame-at-a-time here vs row-batched in the engine, verified
    bitwise); the energies e0/e(tau) come from a float64 prefix sum of
    squares built with an EXPLICIT scalar loop here (sequential like
    np.cumsum, bit-identical) and differenced per the shared spec.
    Frame iteration, peak picking (scalar walk vs vectorized mask), and
    the voiced fold are structured independently; every non-shared op
    (*, /, sqrt, comparisons, differences) is IEEE-exact, so the
    outputs are bit-identical."""
    sr, w, hop, lag_lo, lag_hi = 16000, 320, 480, 40, 320
    nfft = 1024
    corr_min, energy_min = 0.5, 1e-6
    y = resample_linear(pcm, sr_hz, sr)
    seg = w + lag_hi
    if y.size < seg:
        return None
    n_frames = 1 + (y.size - seg) // hop
    acc, n_voiced = 0.0, 0
    for t in range(n_frames):
        x = np.asarray(y[t * hop : t * hop + seg], dtype=np.float64)
        z = np.fft.irfft(np.conj(np.fft.rfft(x[:w], nfft)) * np.fft.rfft(x, nfft), nfft)
        r = z[lag_lo : lag_hi + 1]
        s = np.empty(seg)  # prefix sum of squares, explicit sequential loop
        run = 0.0
        for n in range(seg):
            run = run + x[n] * x[n]
            s[n] = run
        e_tau = np.array([s[tau + w - 1] - s[tau - 1] for tau in range(lag_lo, lag_hi + 1)])
        e0 = s[w - 1]
        denom = np.sqrt(e0 * e_tau)
        norm = np.where(denom > 0.0, r / np.where(denom > 0.0, denom, 1.0), 0.0)
        best_corr = float(np.max(norm))
        if e0 > energy_min and best_corr > corr_min:
            # first local peak (>= left, > right) above 0.95 * max,
            # scalar walk vs the engine's vectorized peak mask
            thresh = 0.95 * best_corr
            chosen = int(np.argmax(norm))
            for i in range(1, norm.size - 1):
                if norm[i] >= norm[i - 1] and norm[i] > norm[i + 1] and norm[i] >= thresh:
                    chosen = i
                    break
            acc = acc + sr / float(lag_lo + chosen)
            n_voiced += 1
    f0_mean = acc / float(n_voiced) if n_voiced else 0.0
    return np.array([f0_mean, n_voiced / float(n_frames)])


def augment_noise(pcm, sr_hz: int, key: int, snr_db: float = 15.0):
    """Independent mirror of functions/audio.augment_noise_np: same shared
    random SOURCE (``default_rng([20260818, key]).standard_normal`` — the
    all_planes precedent: the generator is part of the spec), but the
    arithmetic re-implemented scalar-wise — explicit left-to-right power
    accumulation (matches the engine's cumsum fold bit for bit) and a
    per-sample mix/clip loop."""
    import math

    x = np.asarray(pcm, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        return x
    noise = np.random.default_rng([20260818, int(key)]).standard_normal(n)
    acc = 0.0
    for i in range(n):
        acc = acc + x[i] * x[i]
    p = float(acc) / n
    a = math.sqrt(p / (10.0 ** (snr_db / 10.0)))
    out = np.empty(n, dtype=np.float64)
    for i in range(n):
        v = x[i] + a * noise[i]
        if v > 1.0:
            v = 1.0
        elif v < -1.0:
            v = -1.0
        out[i] = v
    return out


def specaugment_means(pcm, sr_hz: int, key: int, f_max: int = 4, t_max: int = 20):
    """Independent mirror of functions/audio.specaugment_means_np: same
    shared random SOURCE (``default_rng([20260819, key])``, four integer
    draws in the same order — the generator is part of the spec), masks
    applied in a per-cell scalar loop, then a LEFT-TO-RIGHT per-frame
    fold for the post-mask means. Returns (f0, f_w, t0, t_w, n_frames,
    means[16]) or None if the clip yields no full frame."""
    frames = logmel_frames(pcm, sr_hz)
    if frames is None:
        return None
    n_frames, n_mels = frames.shape
    rng = np.random.default_rng([20260819, int(key)])
    f_w = int(rng.integers(0, f_max + 1))
    f0 = int(rng.integers(0, n_mels - f_w + 1))
    t_w = int(rng.integers(0, min(t_max, n_frames) + 1))
    t0 = int(rng.integers(0, n_frames - t_w + 1))
    floor = np.log10(1e-10)
    out = frames.copy()
    for t in range(n_frames):
        for m in range(n_mels):
            if f0 <= m < f0 + f_w or t0 <= t < t0 + t_w:
                out[t, m] = floor
    mean = np.zeros(n_mels)
    for t in range(n_frames):
        for m in range(n_mels):
            mean[m] = mean[m] + out[t, m]
    return f0, f_w, t0, t_w, n_frames, mean / float(n_frames)


def normalize_loudness(pcm, target_rms: float = 0.1, peak_cap: float = 0.999):
    """Independent mirror of functions/audio.normalize_loudness_np: scalar
    left-to-right power fold (matches the engine's cumsum bit for bit), a
    scalar peak walk, the same min() gain rule, per-sample multiply."""
    import math

    x = np.asarray(pcm, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        return x
    acc = 0.0
    for i in range(n):
        acc = acc + x[i] * x[i]
    p = acc / n
    if p <= 0.0:
        return x
    peak = 0.0
    for i in range(n):
        a = abs(x[i])
        if a > peak:
            peak = a
    gain = min(target_rms / math.sqrt(p), peak_cap / peak)
    out = np.empty(n)
    for i in range(n):
        out[i] = x[i] * gain
    return out


def synth_rir(sr_hz: int, key: int, dur_s: float = 0.2, rt60_s: float = 0.15):
    """Independent mirror of functions/audio.synth_rir_np: same shared
    random SOURCE (the spec'd generator) and the same numpy elementwise
    ``exp`` for the decay envelope (the mel_filters/dct2_basis precedent
    — transcendentals are part of the shared formula; ``math.exp``
    differs from numpy's vectorized exp by 1 ULP), with the noise*env
    product applied in a per-tap scalar loop."""
    m = round(sr_hz * dur_s)
    noise = np.random.default_rng([20260820, int(key)]).standard_normal(m)
    env = np.exp(-6.9078 * (np.arange(m, dtype=np.float64) / float(sr_hz)) / rt60_s)
    ir = np.empty(m)
    for i in range(m):
        ir[i] = noise[i] * env[i]
    ir[0] = 1.0
    return ir


def augment_reverb(pcm, sr_hz: int, key: int):
    """Independent mirror of functions/audio.augment_reverb_np. The ONE
    rfft/irfft product at the spec-pinned NFFT is the shared numerical
    core (the pitch-kernel precedent — same pocketfft, same ULPs); the
    surrounding structure is independent: scalar peak walks, a scalar
    NFFT computation, per-sample gain application."""
    x = np.asarray(pcm, dtype=np.float64)
    n = x.shape[0]
    if n == 0:
        return x
    peak_in = 0.0
    for i in range(n):
        a = abs(x[i])
        if a > peak_in:
            peak_in = a
    if peak_in <= 0.0:
        return x
    ir = synth_rir(sr_hz, key)
    m = ir.shape[0]
    nfft = 1
    while nfft < n + m - 1:
        nfft = nfft * 2
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(ir, nfft), nfft)[:n]
    peak_out = 0.0
    for i in range(n):
        a = abs(y[i])
        if a > peak_out:
            peak_out = a
    g = min(1.0, peak_in / peak_out) if peak_out > 0.0 else 1.0
    out = np.empty(n)
    for i in range(n):
        out[i] = y[i] * g
    return out


# ---------------------------------------------------------------------------
# AIFF + Sun AU (round 5): independent from-spec writers + per-sample
# mirror decoders. AIFF's COMM chunk carries the sample rate as an 80-bit
# IEEE 754 extended float — encoded here from the definition (exponent /
# explicit-leading-one mantissa), decoded independently in the engine.
# ---------------------------------------------------------------------------


def _f80_from_int(v: int) -> bytes:
    """Positive int -> 80-bit IEEE 754 extended float (big-endian)."""
    if v <= 0:
        raise ValueError("independent f80: positive values only")
    nbits = v.bit_length()
    exponent = 16383 + nbits - 1
    mantissa = v << (64 - nbits)  # explicit leading one at bit 63
    return exponent.to_bytes(2, "big") + mantissa.to_bytes(8, "big")


def aiff_bytes(samples, sr_hz: int) -> bytes:
    """int16 (n,) or (n, 2) -> AIFF: FORM/AIFF, COMM (with the 80-bit
    extended-float rate), SSND with big-endian PCM16."""
    x = np.asarray(samples, dtype=np.int16)
    if x.ndim == 1:
        x = x[:, None]
    n, ch = x.shape
    comm = (
        ch.to_bytes(2, "big")
        + n.to_bytes(4, "big")
        + (16).to_bytes(2, "big")
        + _f80_from_int(sr_hz)
    )
    data = x.astype(">i2").tobytes()
    ssnd = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + data
    out = bytearray()
    for cid, body in ((b"COMM", comm), (b"SSND", ssnd)):
        out += cid + len(body).to_bytes(4, "big") + body
        if len(body) & 1:
            out += b"\x00"
    return b"FORM" + (4 + len(out)).to_bytes(4, "big") + b"AIFF" + bytes(out)


def decode_aiff_independent(buf: bytes):
    """Mirror of codecs.decode_aiff: scalar chunk walk, explicit 80-bit
    float arithmetic, per-frame downmix loop. Returns (int16 mono, sr)."""
    if buf[:4] != b"FORM" or buf[8:12] != b"AIFF":
        raise ValueError("independent aiff: bad header")
    pos = 12
    comm = ssnd = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "big")
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("independent aiff: truncated chunk")
        if cid == b"COMM":
            comm = body
        if cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size & 1)
    if comm is None or ssnd is None:
        raise ValueError("independent aiff: missing chunks")
    ch = int.from_bytes(comm[0:2], "big")
    n = int.from_bytes(comm[2:6], "big")
    if int.from_bytes(comm[6:8], "big") != 16:
        raise ValueError("independent aiff: not 16-bit")
    exp = int.from_bytes(comm[8:10], "big")
    mant = int.from_bytes(comm[10:18], "big")
    if exp & 0x8000 or exp == 0x7FFF:
        raise ValueError("independent aiff: bad rate")
    shift = (exp & 0x7FFF) - 16383 - 63
    sr = mant << shift if shift >= 0 else (mant + (1 << (-shift - 1))) >> -shift
    off = int.from_bytes(ssnd[0:4], "big")
    raw = ssnd[8 + off : 8 + off + n * ch * 2]
    if len(raw) != n * ch * 2:
        raise ValueError("independent aiff: truncated data")
    mono = []
    for f in range(n):
        acc = 0
        for c in range(ch):
            o = (f * ch + c) * 2
            v = (raw[o] << 8) | raw[o + 1]
            acc += v - 0x10000 if v >= 0x8000 else v
        mono.append(acc // ch)
    return np.asarray(mono, dtype=np.int16), int(sr)


def au_bytes(samples, sr_hz: int) -> bytes:
    """int16 (n,) or (n, 2) -> Sun AU (encoding 3, big-endian PCM16)."""
    x = np.asarray(samples, dtype=np.int16)
    if x.ndim == 1:
        x = x[:, None]
    data = x.astype(">i2").tobytes()
    header = (
        b".snd"
        + (24).to_bytes(4, "big")
        + len(data).to_bytes(4, "big")
        + (3).to_bytes(4, "big")
        + int(sr_hz).to_bytes(4, "big")
        + int(x.shape[1]).to_bytes(4, "big")
    )
    return header + data


def decode_au_independent(buf: bytes):
    """Mirror of codecs.decode_au: scalar header reads + per-frame
    downmix loop. Returns (int16 mono, sr)."""
    if buf[:4] != b".snd" or len(buf) < 24:
        raise ValueError("independent au: bad header")
    off = int.from_bytes(buf[4:8], "big")
    size = int.from_bytes(buf[8:12], "big")
    if int.from_bytes(buf[12:16], "big") != 3:
        raise ValueError("independent au: not PCM16")
    sr = int.from_bytes(buf[16:20], "big")
    ch = int.from_bytes(buf[20:24], "big")
    raw = buf[off:] if size == 0xFFFFFFFF else buf[off : off + size]
    if size != 0xFFFFFFFF and len(raw) != size:
        raise ValueError("independent au: truncated data")
    if len(raw) % (2 * ch):
        raise ValueError("independent au: unaligned data")
    n = len(raw) // (2 * ch)
    mono = []
    for f in range(n):
        acc = 0
        for c in range(ch):
            o = (f * ch + c) * 2
            v = (raw[o] << 8) | raw[o + 1]
            acc += v - 0x10000 if v >= 0x8000 else v
        mono.append(acc // ch)
    return np.asarray(mono, dtype=np.int16), int(sr)


# ---------------------------------------------------------------------------
# WebM / EBML (round 5): independent writer + recursive-descent mirror of
# functions/ebml.parse_webm_blocks. Only container metadata — the block
# payloads are deterministic fake frame bytes (no pixel codec exists in
# this sandbox, and the engine's parser never looks inside them).
# ---------------------------------------------------------------------------


def _ebml_size(v: int) -> bytes:
    """EBML data-size varint (marker bit in the first byte)."""
    for n in range(1, 9):
        if v < (1 << (7 * n)) - 1:  # all-ones is the unknown-size marker
            out = v | (1 << (7 * n))
            return out.to_bytes(n, "big")
    raise ValueError("independent ebml: size too large")


def _ebml_el(eid: int, body: bytes) -> bytes:
    id_len = (eid.bit_length() + 7) // 8
    return eid.to_bytes(id_len, "big") + _ebml_size(len(body)) + body


def _ebml_uint(v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return v.to_bytes(n, "big")


def webm_bytes(
    tracks: list[tuple[int, str]],
    clusters: list[tuple[int, list[tuple[int, int, bool, bytes]]]],
    timestamp_scale: int = 1_000_000,
    unknown_segment_size: bool = False,
) -> bytes:
    """Minimal-but-valid WebM: EBML header (DocType webm), Segment with
    Info(TimestampScale), Tracks(TrackEntry: number/type/CodecID) and
    Clusters(Timestamp + no-lacing SimpleBlocks).

    ``tracks`` = [(number, codec_id)]; ``clusters`` =
    [(cluster_ts, [(track, rel_ts, keyframe, payload)])]."""
    header = _ebml_el(
        0x1A45DFA3,
        _ebml_el(0x4286, _ebml_uint(1))          # EBMLVersion
        + _ebml_el(0x42F7, _ebml_uint(1))        # EBMLReadVersion
        + _ebml_el(0x42F2, _ebml_uint(4))        # EBMLMaxIDLength
        + _ebml_el(0x42F3, _ebml_uint(8))        # EBMLMaxSizeLength
        + _ebml_el(0x4282, b"webm")              # DocType
        + _ebml_el(0x4287, _ebml_uint(2))        # DocTypeVersion
        + _ebml_el(0x4285, _ebml_uint(2)),       # DocTypeReadVersion
    )
    info = _ebml_el(0x1549A966, _ebml_el(0x2AD7B1, _ebml_uint(timestamp_scale)))
    entries = b""
    for num, codec in tracks:
        entries += _ebml_el(
            0xAE,
            _ebml_el(0xD7, _ebml_uint(num))
            + _ebml_el(0x83, _ebml_uint(1))      # TrackType: video
            + _ebml_el(0x86, codec.encode("ascii")),
        )
    tracks_el = _ebml_el(0x1654AE6B, entries)
    clusters_el = b""
    for cts, blocks in clusters:
        body = _ebml_el(0xE7, _ebml_uint(cts))
        for track, rel, key, payload in blocks:
            sb = (
                _ebml_size(track)
                + int(rel).to_bytes(2, "big", signed=True)
                + bytes([0x80 if key else 0x00])
                + payload
            )
            body += _ebml_el(0xA3, sb)
        clusters_el += _ebml_el(0x1F43B675, body)
    seg_body = info + tracks_el + clusters_el
    if unknown_segment_size:
        seg = (0x18538067).to_bytes(4, "big") + b"\xff" + seg_body
    else:
        seg = _ebml_el(0x18538067, seg_body)
    return header + seg


def parse_webm_blocks_independent(buf: bytes):
    """Mirror of functions/ebml.parse_webm_blocks: recursive descent with
    a cursor closure (the engine uses generator-based child iteration).
    Returns (tracks dict, blocks list) in the engine's exact shape.
    Truncation surfaces as ValueError like every other mirror."""
    try:
        return _parse_webm_blocks_independent(buf)
    except IndexError as exc:
        raise ValueError("independent ebml: truncated payload") from exc


def _parse_webm_blocks_independent(buf: bytes):
    pos = 0

    def read_vint(keep_marker: bool, plain: bool = False):
        nonlocal pos
        b0 = buf[pos]
        if b0 == 0:
            raise ValueError("independent ebml: bad varint")
        n = 1
        m = 0x80
        while not b0 & m:
            n += 1
            m >>= 1
        raw = int.from_bytes(buf[pos : pos + n], "big")
        if pos + n > len(buf):
            raise ValueError("independent ebml: truncated varint")
        pos += n
        if keep_marker:
            return raw, n
        val = raw - (1 << (7 * n))
        # plain=True: a VALUE vint (block track number) — all-value-bits
        # is a normal value (127 == 0xFF), never "unknown" (round-6
        # ADVICE fix, mirrors functions/ebml._read_vint)
        if not plain and val == (1 << (7 * n)) - 1:
            return -1, n
        return val, n

    if buf[:4] != b"\x1a\x45\xdf\xa3":
        raise ValueError("independent ebml: bad magic")
    pos = 4
    hsz, _ = read_vint(False)
    if hsz < 0 or pos + hsz > len(buf):
        raise ValueError("independent ebml: bad header")
    pos += hsz
    sid, _ = read_vint(True)
    if sid != 0x18538067:
        raise ValueError("independent ebml: no Segment")
    ssz, _ = read_vint(False)
    seg_end = len(buf) if ssz < 0 else pos + ssz
    if seg_end > len(buf):
        raise ValueError("independent ebml: Segment overrun")

    scale = 1_000_000
    tracks = {}
    blocks = []

    def walk(end: int, handler) -> None:
        nonlocal pos
        while pos < end:
            eid, _ = read_vint(True)
            esz, _ = read_vint(False)
            if esz < 0 or pos + esz > end:
                raise ValueError("independent ebml: bad child")
            handler(eid, pos, pos + esz)
            pos = pos + esz

    def on_segment(eid, s, e):
        nonlocal scale, pos
        if eid == 0x1549A966:  # Info
            save = pos
            pos = s

            def on_info(i_id, i_s, i_e):
                nonlocal scale
                if i_id == 0x2AD7B1:
                    scale = int.from_bytes(buf[i_s:i_e], "big")
                    if scale == 0:
                        raise ValueError("independent ebml: zero scale")

            walk(e, on_info)
            pos = save
        elif eid == 0x1654AE6B:  # Tracks
            save = pos
            pos = s

            def on_entry(t_id, t_s, t_e):
                nonlocal pos
                if t_id != 0xAE:
                    return
                save2 = pos
                pos = t_s
                num = [None]
                codec = [""]

                def on_field(f_id, f_s, f_e):
                    if f_id == 0xD7:
                        num[0] = int.from_bytes(buf[f_s:f_e], "big")
                    elif f_id == 0x86:
                        codec[0] = buf[f_s:f_e].decode("ascii", "replace")

                walk(t_e, on_field)
                pos = save2
                if num[0] is None:
                    raise ValueError("independent ebml: track without number")
                tracks[num[0]] = codec[0]

            walk(e, on_entry)
            pos = save
        elif eid == 0x1F43B675:  # Cluster
            save = pos
            pos = s
            cts = [0]

            def on_block(c_id, c_s, c_e):
                nonlocal pos
                if c_id == 0xE7:
                    cts[0] = int.from_bytes(buf[c_s:c_e], "big")
                elif c_id == 0xA3:
                    save2 = pos
                    pos = c_s
                    tnum, _ = read_vint(False, plain=True)
                    p = pos
                    pos = save2
                    if p + 3 > c_e:
                        raise ValueError("independent ebml: bad block")
                    rel = int.from_bytes(buf[p : p + 2], "big", signed=True)
                    flags = buf[p + 2]
                    if flags & 0x06:
                        raise ValueError("independent ebml: lacing")
                    if tnum not in tracks:
                        raise ValueError("independent ebml: undeclared track")
                    blocks.append(
                        {
                            "track": tnum,
                            "ts_ms": (cts[0] + rel) * scale // 1_000_000,
                            "keyframe": bool(flags & 0x80),
                            "size": c_e - (p + 3),
                        }
                    )

            walk(e, on_block)
            pos = save

    walk(seg_end, on_segment)
    if not tracks:
        raise ValueError("independent ebml: no tracks")
    return tracks, blocks
