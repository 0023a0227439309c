"""Audio codec encode/decode, deterministic and dependency-free.

Graft analog of the reference's CRS normalization layer: geobeam validates
and reprojects every element's CRS to EPSG:4326 at read time
(``geobeam/io.py:597-638`` ``validate_crs``; per-element reprojection at
``geobeam/io.py:124-127``). Here the normalization is codec -> float32 PCM
in [-1, 1], and the registry of accepted codecs plays the role of the CRS
whitelist (unknown codec => invalid element, like a missing CRS).

Codecs:

* ``wav``  — REAL RIFF/WAVE PCM16 encode+decode implemented here with
  numpy + struct (bit-exact, no external library).
* ``flac`` — STAND-IN container (this sandbox has no libsndfile/ffmpeg):
  magic + header + zlib-compressed PCM16. Lossless, like real FLAC.
* ``ogg`` / ``mp3`` — STAND-IN lossy containers: PCM16 re-quantized to
  12/10 bits then zlib-compressed. SNR vs the source PCM is ~72 dB / ~60 dB,
  comfortably above the 30 dB per-row invariant, mimicking a lossy codec's
  behavior deterministically.

If ``soundfile`` (libsndfile) is importable the real encoder/decoder is used
for flac/ogg instead — gated behind an import-try so the engine runs
identically in this container and on a cluster with audio libs installed.
All decode paths return ``(pcm: np.ndarray[float32], sr_hz: int)``.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

try:  # pragma: no cover - not present in this sandbox
    import soundfile as _soundfile
except Exception:  # pragma: no cover
    _soundfile = None

KNOWN_CODECS = ("wav", "flac", "ogg", "mp3")

_FAKE_MAGIC = {
    "flac": b"GBSFLAC1",
    "ogg": b"GBSOGGS1",
    "mp3": b"GBSMP3S1",
}
_FAKE_BITS = {"flac": 16, "ogg": 12, "mp3": 10}

# ---------------------------------------------------------------------------
# WAV (real RIFF PCM16 implementation)
# ---------------------------------------------------------------------------


def _pcm_to_int16(pcm: np.ndarray) -> np.ndarray:
    clipped = np.clip(np.asarray(pcm, dtype=np.float64), -1.0, 1.0)
    return np.round(clipped * 32767.0).astype(np.int16)


def _int16_to_pcm(samples: np.ndarray) -> np.ndarray:
    # clamp -32768 -> -32767 before scaling: the lossy stand-ins' bit
    # truncation (and any external PCM16 stream) can carry the asymmetric
    # minimum, which would decode to -1.0000305 and break the [-1, 1]
    # output contract (found by hypothesis: pcm=[-1.0], codec='ogg')
    clamped = np.maximum(samples.astype(np.float32), np.float32(-32767.0))
    return clamped / np.float32(32767.0)


def encode_wav(pcm: np.ndarray, sr_hz: int) -> bytes:
    """Encode mono float32 PCM to a standard RIFF/WAVE PCM16 byte string."""
    data = _pcm_to_int16(pcm).tobytes()
    n_channels, bits = 1, 16
    byte_rate = sr_hz * n_channels * bits // 8
    block_align = n_channels * bits // 8
    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, n_channels, sr_hz, byte_rate, block_align, bits
    )
    data_hdr = struct.pack("<4sI", b"data", len(data))
    riff = struct.pack("<4sI4s", b"RIFF", 4 + len(fmt) + len(data_hdr) + len(data), b"WAVE")
    return riff + fmt + data_hdr + data


def decode_wav(buf: bytes) -> tuple[np.ndarray, int]:
    """Decode RIFF/WAVE PCM16 bytes -> (float32 PCM, sample rate).

    Walks RIFF chunks (tolerates extra chunks); raises ValueError on
    malformed/truncated input — the caller maps that to a null row, the
    analog of ``make_valid`` returning None on unparseable geometry
    (``/root/reference/geobeam/fn.py:23-53``).
    """
    if len(buf) < 44 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, sr_hz, data = 12, None, None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt_tag, n_ch, sr_hz, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt_tag != 1 or n_ch != 1 or bits != 16:
                raise ValueError(f"unsupported wav format tag={fmt_tag} ch={n_ch} bits={bits}")
            if sr_hz == 0:
                raise ValueError("wav: zero sample rate")
        elif cid == b"data":
            if len(body) < size:
                raise ValueError("truncated data chunk")
            data = body
        pos += 8 + size + (size & 1)
    if sr_hz is None or data is None:
        raise ValueError("missing fmt/data chunk")
    samples = np.frombuffer(data, dtype="<i2")
    return _int16_to_pcm(samples), int(sr_hz)


# ---------------------------------------------------------------------------
# Stand-in lossy/lossless containers (deterministic, clearly marked)
# ---------------------------------------------------------------------------


def _encode_fake(pcm: np.ndarray, sr_hz: int, codec: str) -> bytes:
    bits = _FAKE_BITS[codec]
    q = _pcm_to_int16(pcm)
    if bits < 16:  # lossy re-quantization: drop low-order bits deterministically
        shift = 16 - bits
        q = ((q.astype(np.int32) >> shift) << shift).astype(np.int16)
    payload = zlib.compress(q.tobytes(), level=1)
    header = struct.pack("<IQ", sr_hz, q.shape[0])
    return _FAKE_MAGIC[codec] + header + payload


def _decode_fake(buf: bytes, codec: str) -> tuple[np.ndarray, int]:
    magic = _FAKE_MAGIC[codec]
    if len(buf) < len(magic) + 12 or buf[: len(magic)] != magic:
        raise ValueError(f"not a {codec} stand-in stream")
    try:
        sr_hz, n = struct.unpack_from("<IQ", buf, len(magic))
        raw = zlib.decompress(buf[len(magic) + 12 :])
    except (struct.error, zlib.error) as exc:
        raise ValueError(f"corrupt {codec} stand-in stream") from exc
    if sr_hz == 0:
        raise ValueError(f"{codec} stand-in: zero sample rate")
    samples = np.frombuffer(raw, dtype="<i2")
    if samples.shape[0] != n:
        raise ValueError("sample count mismatch in stand-in container")
    return _int16_to_pcm(samples), int(sr_hz)


# ---------------------------------------------------------------------------
# Public registry API (the codec registry == CRS whitelist analog)
# ---------------------------------------------------------------------------


def encode(pcm: np.ndarray, sr_hz: int, codec: str) -> bytes:
    """Encode float32 PCM under the named codec. Raises on unknown codec."""
    if codec == "wav":
        return encode_wav(pcm, sr_hz)
    if codec in _FAKE_MAGIC:
        if _soundfile is not None and codec in ("flac", "ogg"):  # pragma: no cover
            import io

            bio = io.BytesIO()
            _soundfile.write(bio, pcm, sr_hz, format=codec.upper())
            return bio.getvalue()
        return _encode_fake(pcm, sr_hz, codec)
    raise ValueError(f"unknown codec: {codec!r}")


def decode(buf: bytes, codec: str) -> tuple[np.ndarray, int]:
    """Decode encoded bytes -> (float32 PCM in [-1,1], sr_hz).

    Raises ValueError on unknown codec or malformed payload; vectorized
    callers convert that to a null/invalid row rather than failing the task.
    """
    if buf is None:
        raise ValueError("null payload")
    if codec == "wav":
        return decode_wav(bytes(buf))
    if codec in _FAKE_MAGIC:
        b = bytes(buf)
        if codec == "flac" and b[:4] == b"fLaC":
            # REAL FLAC (round 5): the container format needs no native
            # library — from-spec decoder in dataflow_geobeam_spark.flac
            # (frames, Rice residuals, CRCs). The deterministic stand-in
            # (magic GBSFLAC1) remains for fixture-golden continuity;
            # magic dispatch lets both coexist.
            from dataflow_geobeam_spark.flac import decode_flac

            samples, sr, _bps = decode_flac(b)
            if samples.shape[1] == 1:
                mono = samples[:, 0]
            else:  # deterministic downmix: floor-mean across channels
                mono = np.sum(samples, axis=1) // samples.shape[1]
            return _int16_to_pcm(mono.astype(np.int16)), int(sr)
        if _soundfile is not None and not b.startswith(_FAKE_MAGIC[codec]):  # pragma: no cover
            import io

            pcm, sr = _soundfile.read(io.BytesIO(b), dtype="float32")
            return np.asarray(pcm, dtype=np.float32), int(sr)
        return _decode_fake(b, codec)
    raise ValueError(f"unknown codec: {codec!r}")


# ---------------------------------------------------------------------------
# AIFF + Sun AU (round 5): two more REAL audio containers, parsed from
# their published specs like RIFF/WAVE above. AIFF stores the sample rate
# as an 80-bit IEEE 754 extended float inside the COMM chunk (the format's
# one exotic corner — decoded from the spec here); AU is a plain
# big-endian header. Together with wav + real FLAC these feed
# decode_sniffed(), the label-free ingest entry a crawl pipeline needs
# (crawled bytes carry no codec column).
# ---------------------------------------------------------------------------


def _f80_to_int(buf: bytes) -> int:
    """80-bit IEEE 754 extended float -> nearest int (AIFF sample rates
    are small positive integers; reject the rest)."""
    if len(buf) != 10:
        raise ValueError("aiff: bad extended float")
    sign = buf[0] >> 7
    exponent = ((buf[0] & 0x7F) << 8) | buf[1]
    mantissa = int.from_bytes(buf[2:10], "big")
    if sign or exponent == 0x7FFF:
        raise ValueError("aiff: non-finite or negative sample rate")
    if exponent == 0 and mantissa == 0:
        raise ValueError("aiff: zero sample rate")
    # value = mantissa * 2^(exponent - 16383 - 63); integer-exact for rates
    shift = exponent - 16383 - 63
    if shift >= 0:
        val = mantissa << shift
    else:
        val = (mantissa + (1 << (-shift - 1))) >> -shift  # round half up
    if not 1 <= val <= 10_000_000:
        raise ValueError("aiff: implausible sample rate")
    return int(val)


def decode_aiff(buf: bytes) -> tuple[np.ndarray, int]:
    """AIFF (FORM/AIFF, COMM + SSND chunks, big-endian PCM16) ->
    (float32 mono PCM, sr). Multi-channel is floor-mean downmixed like
    the FLAC path."""
    if buf[:4] != b"FORM" or buf[8:12] != b"AIFF":
        raise ValueError("aiff: bad FORM/AIFF header")
    pos = 12
    comm = None
    ssnd = None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        size = int.from_bytes(buf[pos + 4 : pos + 8], "big")
        body = buf[pos + 8 : pos + 8 + size]
        if len(body) != size:
            raise ValueError("aiff: truncated chunk")
        if cid == b"COMM":
            comm = body
        elif cid == b"SSND":
            ssnd = body
        pos += 8 + size + (size & 1)  # chunks pad to even
    if comm is None or len(comm) < 18 or ssnd is None:
        raise ValueError("aiff: missing COMM/SSND")
    n_channels = int.from_bytes(comm[0:2], "big")
    n_frames = int.from_bytes(comm[2:6], "big")
    bits = int.from_bytes(comm[6:8], "big")
    sr = _f80_to_int(comm[8:18])
    if bits != 16 or n_channels not in (1, 2):
        raise ValueError("aiff: only 16-bit mono/stereo supported")
    offset = int.from_bytes(ssnd[0:4], "big")
    data = ssnd[8 + offset : 8 + offset + n_frames * n_channels * 2]
    if len(data) != n_frames * n_channels * 2:
        raise ValueError("aiff: truncated sample data")
    samples = np.frombuffer(data, dtype=">i2").astype(np.int64)
    if n_channels == 2:
        samples = np.sum(samples.reshape(-1, 2), axis=1) // 2
    return _int16_to_pcm(samples.astype(np.int16)), sr


def decode_au(buf: bytes) -> tuple[np.ndarray, int]:
    """Sun AU (.snd magic, big-endian header, encoding 3 = 16-bit linear
    PCM) -> (float32 mono PCM, sr)."""
    if buf[:4] != b".snd":
        raise ValueError("au: bad magic")
    if len(buf) < 24:
        raise ValueError("au: truncated header")
    offset = int.from_bytes(buf[4:8], "big")
    size = int.from_bytes(buf[8:12], "big")
    encoding = int.from_bytes(buf[12:16], "big")
    sr = int.from_bytes(buf[16:20], "big")
    n_channels = int.from_bytes(buf[20:24], "big")
    if encoding != 3:
        raise ValueError(f"au: only encoding 3 (16-bit PCM) supported, got {encoding}")
    if n_channels not in (1, 2) or sr == 0 or offset < 24:
        raise ValueError("au: bad header fields")
    if size == 0xFFFFFFFF:  # spec: unknown length marker
        data = buf[offset:]
    else:
        data = buf[offset : offset + size]
        if len(data) != size:
            raise ValueError("au: truncated sample data")
    if len(data) % (2 * n_channels):
        raise ValueError("au: sample data not frame-aligned")
    samples = np.frombuffer(data, dtype=">i2").astype(np.int64)
    if n_channels == 2:
        samples = np.sum(samples.reshape(-1, 2), axis=1) // 2
    return _int16_to_pcm(samples.astype(np.int16)), sr


def sniff(buf: bytes) -> str:
    """Container name from the payload's magic bytes: ``wav``, ``flac``,
    ``aiff``, ``au`` or a stand-in codec. Unknown magic or a null payload
    raises ValueError."""
    if buf is None:
        raise ValueError("null payload")
    b = bytes(buf[:12])
    if b[:4] == b"RIFF":
        return "wav"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:4] == b"FORM" and b[8:12] == b"AIFF":
        return "aiff"
    if b[:4] == b".snd":
        return "au"
    for codec, magic in _FAKE_MAGIC.items():
        if b[: len(magic)] == magic:
            return codec
    raise ValueError(f"unknown audio container (magic {b[:4]!r})")


def decode_sniffed(buf: bytes) -> tuple[np.ndarray, int, str]:
    """Label-free decode: sniff the container from magic bytes and decode
    -> (float32 mono PCM, sr, container). Crawled audio carries no codec
    column; this is the ingest entry for that case. Covers every REAL
    container the engine decodes (RIFF/WAVE, FLAC, AIFF, AU) plus the
    deterministic stand-ins; unknown magic raises ValueError (F1
    semantics upstream)."""
    container = sniff(buf)
    b = bytes(buf)
    if container == "aiff":
        pcm, sr = decode_aiff(b)
    elif container == "au":
        pcm, sr = decode_au(b)
    else:
        pcm, sr = decode(b, container)
    return pcm, sr, container
