"""Audio feature operators: Catalyst column expressions and clip kernels.

The clip -> per-frame explode is the graft analog of the reference's
``DoBlockToPixelExterior`` flat-map (one raster block -> width*height pixel
rows, ``/root/reference/geobeam/fn.py:224-247``) and follows the same
two-level granularity design: coarse I/O unit (clip) -> exploded logical
rows (frames), SURVEY.md §3.2.

The frame/RMS/ZCR/silence operators are higher-order array expressions
(transform/slice/aggregate) — JVM-side, no Python, no extra shuffle: the
explode multiplies rows but stays within the same stage until the next
aggregate. Everything Catalyst cannot express (FFT, resampling, log-mel,
pitch, augmentation, re-encode) is a numpy ``*_np`` kernel run by
``functions.decode.clip_map``, which decodes each clip once and applies the
one failure rule: a clip that fails to decode becomes a null row or no row
(as each ``with_*`` documents); a kernel error fails the task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.functions.decode import clip_map


def frame_starts(pcm: Column, frame: Column, hop: Column) -> Column:
    """1-based start offsets of fixed-size frames with hop (drops tail)."""
    n_frames = F.floor((F.size(pcm) - frame) / hop) + 1
    return F.when(
        F.size(pcm) >= frame,
        F.transform(F.sequence(F.lit(0), n_frames.cast("int") - 1), lambda i: i * hop + 1),
    ).otherwise(F.array().cast("array<int>"))


def frame_rms_expr(pcm: Column, start: Column, frame: Column) -> Column:
    """RMS of pcm[start : start+frame) in double — aggregate over the slice."""
    sl = F.slice(pcm, start, frame)
    ss = F.aggregate(sl, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v)
    return F.sqrt(ss / frame.cast("double"))


def explode_frames(
    df: DataFrame,
    pcm_col: str = "pcm",
    frame_ms: int = 100,
    hop_ms: int = 50,
    sr_col: str = "sr_hz",
) -> DataFrame:
    """Clip rows -> frame rows: (…, frame_idx, frame_start, frame_rms).

    Frame/hop are in milliseconds; sample counts derive from each row's own
    sample rate. Tail samples that don't fill a frame are dropped
    (standard STFT framing).
    """
    pcm = F.col(pcm_col)
    # clamp to >=1 sample: sr_hz * ms < 1000 would truncate to 0 and divide
    # the frame count by zero (silently dropping every frame for that clip)
    frame = F.greatest(F.lit(1), (F.col(sr_col) * frame_ms / 1000).cast("int"))
    hop = F.greatest(F.lit(1), (F.col(sr_col) * hop_ms / 1000).cast("int"))
    starts = frame_starts(pcm, frame, hop)
    out = df.withColumn("_starts", starts).select(
        *[c for c in df.columns if c != pcm_col],
        F.col(pcm_col),
        F.posexplode("_starts").alias("frame_idx", "frame_start"),
    )
    return out.withColumn(
        "frame_rms", F.round(frame_rms_expr(F.col(pcm_col), F.col("frame_start"), frame), 6)
    ).drop(pcm_col)


def dc_offset(pcm: Column) -> Column:
    """Mean sample value (should be ~0 for healthy audio)."""
    return F.aggregate(pcm, F.lit(0.0), lambda a, v: a + v.cast("double")) / F.size(pcm)


def zero_crossing_rate(pcm: Column) -> Column:
    """Fraction of adjacent sample pairs with a sign change — cheap
    voiced/unvoiced discriminator, all in zip_with."""
    a = F.slice(pcm, 1, F.size(pcm) - 1)
    b = F.slice(pcm, 2, F.size(pcm) - 1)
    crossings = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x * y < 0, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return crossings.cast("double") / (F.size(pcm) - 1)


def trim_silence(pcm: Column, threshold: float = 0.01) -> Column:
    """Strip leading/trailing samples below the amplitude threshold.

    Graft analog of the reference's ``trim_polygons`` morphological cleanup
    (``/root/reference/geobeam/fn.py:91-121``): remove degenerate fringe,
    keep the signal body. All-silent input yields an empty array. Pure
    higher-order expressions (filter over index positions).
    """
    idx = F.sequence(F.lit(1), F.size(pcm))
    loud = F.filter(idx, lambda i: F.abs(F.element_at(pcm, i)) >= threshold)
    first, last = F.array_min(loud), F.array_max(loud)
    return F.when(
        F.size(loud) > 0, F.slice(pcm, first, (last - first + F.lit(1)).cast("int"))
    ).otherwise(F.array().cast("array<float>"))


def silence_ratio(pcm: Column, threshold: float = 0.01) -> Column:
    """Fraction of samples under the amplitude threshold."""
    quiet = F.aggregate(
        pcm, F.lit(0), lambda acc, v: acc + F.when(F.abs(v) < threshold, 1).otherwise(0)
    )
    return quiet.cast("double") / F.size(pcm)


# ---------------------------------------------------------------------------
# Round-2: spectral features (FFT-based — numpy kernel, not Catalyst)
# ---------------------------------------------------------------------------


def spectral_features_np(pcm, sr_hz: int, rolloff_pct: float = 0.85):
    """(centroid_hz, bandwidth_hz, rolloff_hz) of one clip via rfft.

    Shared by the Spark kernel AND the golden-fixture generator, so the
    oracle is the same arithmetic on the same decoded samples. Silent or
    empty clips return (0, 0, 0).
    """
    import numpy as np

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
    cum = np.cumsum(mag)
    rolloff = float(freqs[np.searchsorted(cum, rolloff_pct * total)])
    return centroid, bandwidth, rolloff


def with_spectral_metrics(
    df, bytes_col: str = "bytes", codec_col: str = "codec", sr_col: str = "sr_hz"
):
    """Decode + FFT in ONE mapInArrow pass: appends spectral_centroid_hz /
    spectral_bandwidth_hz / spectral_rolloff_hz (nulls on decode failure),
    drops the payload column in the same pass (shuffle-weight hygiene,
    same contract as decode.with_decoded_metrics).

    FFT is not expressible in Catalyst — this is exactly the "vectorized
    kernel the built-ins can't express" tier of the build rules; the batch
    kernel is numpy rfft, Arrow in/out, zero per-row Python objects beyond
    the decode registry call.
    """
    return clip_map(
        df,
        lambda pcm, sr, row: [spectral_features_np(pcm, sr)],
        [
            StructField("spectral_centroid_hz", DoubleType()),
            StructField("spectral_bandwidth_hz", DoubleType()),
            StructField("spectral_rolloff_hz", DoubleType()),
        ],
        on_error=(None, None, None),
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


# ---------------------------------------------------------------------------
# Round-5: gain-invariant spectral fingerprints (audio near-dup dedup)
# ---------------------------------------------------------------------------

FP_BANDS = 17  # 17 log-spaced band edges-1 => 16 bits per frame token
FP_FRAME_SEC = 0.064  # 64 ms frames: sr-independent ~15.6 Hz bin resolution
FP_F_LO, FP_F_HI = 300.0, 2000.0  # the robust-hash band (speech/music core)


def fingerprint_np(pcm, sr_hz: int):
    """Per-clip robust-hash token sequence (Haitsma-Kalker style).

    Frame the clip (64 ms frames, 50% hop), take the float64 power
    spectrum per frame, sum it into ``FP_BANDS`` log-spaced bands over
    300-2000 Hz (band energy spec: PREFIX-SUM DIFFERENCES of the power
    spectrum — both this kernel and the independent golden implement that
    exact accumulation so tokens are bit-identical), then bit ``b`` of
    token ``t`` is the sign of the time-frequency second difference
    ``(E[t,b]-E[t,b+1]) - (E[t-1,b]-E[t-1,b+1])``.

    Signs of positively-scaled quantities are GAIN-INVARIANT (a volume
    change multiplies every energy by g^2>0), and the double difference
    is robust to the broadband perturbation a lossy re-encode adds — the
    properties that make this the audio analog of the image near-dup
    pixel embedding. Returns int32 tokens, length max(0, n_frames-1)
    (each token needs its predecessor frame).

    Reference parity: the reference has no audio ops at all; this is the
    training-data dedup family (SURVEY.md section 8) applied to the audio
    payload axis.
    """
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    frame = int(round(sr_hz * FP_FRAME_SEC))
    hop = frame // 2
    if frame <= 0 or hop <= 0 or x.size < frame + hop:  # need >= 2 frames
        return np.zeros(0, dtype=np.int32)
    n_frames = 1 + (x.size - frame) // hop
    idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
    mag2 = np.abs(np.fft.rfft(x[idx], axis=1)) ** 2
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr_hz)
    edges = np.geomspace(FP_F_LO, FP_F_HI, FP_BANDS + 1)
    band_idx = np.searchsorted(freqs, edges)
    cs = np.concatenate(
        [np.zeros((n_frames, 1)), np.cumsum(mag2, axis=1)], axis=1
    )
    energy = cs[:, band_idx[1:]] - cs[:, band_idx[:-1]]  # (n_frames, FP_BANDS)
    d = energy[:, :-1] - energy[:, 1:]  # adjacent-band differences
    dd = d[1:] - d[:-1]  # time second difference: (n_frames-1, 16)
    bits = (dd > 0).astype(np.int64)
    weights = 1 << np.arange(bits.shape[1], dtype=np.int64)
    return (bits * weights).sum(axis=1).astype(np.int32)


def with_fingerprints(
    df, bytes_col: str = "bytes", codec_col: str = "codec", sr_col: str = "sr_hz"
):
    """Decode + fingerprint in ONE mapInArrow pass: appends ``fp``
    (array<int> of 16-bit frame tokens) and ``n_tokens``; drops the
    payload column in the same pass (shuffle-weight hygiene, same
    contract as with_spectral_metrics). Decode failure or a clip too
    short to frame => NULL fp (F1/make_valid semantics)."""

    def kernel(pcm, sr, row):
        toks = fingerprint_np(pcm, sr)
        return [(toks.tolist(), toks.size) if toks.size else (None, None)]

    return clip_map(
        df,
        kernel,
        [StructField("fp", ArrayType(IntegerType())), StructField("n_tokens", IntegerType())],
        on_error=(None, None),
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


# ---------------------------------------------------------------------------
# Round-5: linear-interpolation resampling (sr normalization for training)
# ---------------------------------------------------------------------------


def resample_linear_np(pcm, sr_in: int, sr_out: int):
    """Resample float PCM from ``sr_in`` to ``sr_out`` by linear
    interpolation on the uniform grid.

    Exact arithmetic spec (shared with the independent golden mirror —
    fixtures/independent.resample_linear implements the SAME formula in a
    per-sample loop, so outputs are bit-identical; np.interp is NOT used
    because its ``x[i] + frac*(x[i+1]-x[i])`` association is fixed here
    explicitly):

        n_out   = round(n_in * sr_out / sr_in)      (Python round)
        pos     = j * (sr_in / sr_out)              (float64)
        idx     = floor(pos), frac = pos - idx
        y[j]    = x[idx] + frac * (x[idx+1] - x[idx])   for idx < n_in-1
        y[j]    = x[n_in-1]                              for idx >= n_in-1

    Returns float64. Identity when sr_in == sr_out (same length, cast
    only). Empty input or non-positive rates return an empty array.
    """
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0 or sr_in <= 0 or sr_out <= 0:
        return np.zeros(0)
    n_out = round(x.size * sr_out / sr_in)
    if n_out <= 0:
        return np.zeros(0)
    pos = np.arange(n_out, dtype=np.float64) * (float(sr_in) / float(sr_out))
    idx = np.floor(pos).astype(np.int64)
    tail = idx >= x.size - 1
    idx_c = np.minimum(idx, x.size - 2) if x.size > 1 else np.zeros_like(idx)
    frac = pos - idx
    y = x[idx_c] + frac * (x[idx_c + 1] - x[idx_c]) if x.size > 1 else x[idx_c].copy()
    y[tail] = x[-1]
    return y


def with_resampled_pcm16(
    df,
    target_sr: int,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    digest: bool = False,
):
    """Decode + resample to ``target_sr`` + int16-quantize in ONE
    mapInArrow pass: appends ``pcm16`` (binary little-endian int16 per
    the engine's F11/F15 quantization contract: clip to [-1,1], *32767,
    round-half-even) and ``n_samples``; drops the payload column in the
    same pass. Decode failure => NULL pcm16 (F1/make_valid semantics).
    ``digest=True`` appends ``pcm16_md5`` instead of the bytes — see
    with_augmented_noise.

    This is the sr-normalization stage an ASR training pipeline runs
    before feature extraction — heterogeneous crawl audio in, uniform
    sample rate out."""

    def kernel(pcm, sr, row):
        raw = _pcm16_bytes(resample_linear_np(pcm, sr, target_sr))
        return [(raw, len(raw) // 2)]

    return clip_map(
        df,
        kernel,
        [StructField("pcm16", BinaryType()), StructField("n_samples", IntegerType())],
        on_error=(None, None),
        digest="pcm16_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


def _pcm16_bytes(pcm) -> bytes:
    """Little-endian int16 bytes of float PCM: clip to [-1, 1], *32767,
    round half to even."""
    import numpy as np

    return np.round(np.clip(pcm, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()


# ---------------------------------------------------------------------------
# Round-5: log-mel filterbank features (ASR training features)
# ---------------------------------------------------------------------------

MEL_SR = 16000          # features are computed on sr-normalized PCM
MEL_FRAME = 400         # 25 ms at 16 kHz
MEL_HOP = 160           # 10 ms
MEL_N = 16
MEL_F_LO, MEL_F_HI = 20.0, 7600.0
MEL_FLOOR = 1e-10


def _hz_to_mel(f):
    import numpy as np

    return 2595.0 * np.log10(1.0 + f / 700.0)


def _mel_to_hz(m):
    import numpy as np

    return 700.0 * (10.0 ** (m / 2595.0) - 1.0)


_MEL_FILTER_CACHE: dict = {}


def mel_filters(sr: int = MEL_SR, frame: int = MEL_FRAME, n_mels: int = MEL_N):
    """Triangular mel filterbank weights (HTK mel scale, float64):
    returns (weights (n_mels, n_bins), support [(lo, hi)] per mel).
    Deterministic pure formula — the independent mirror recomputes it
    with the same numpy elementwise ops (same libm, same ULPs).

    Round-6: memoized per (sr, frame, n_mels) — the filterbank is a pure
    constant, and recomputing it per clip was ~15% of the whole MFCC
    kernel (guide §4.5: heavyweight init once per task, not per row)."""
    key = (sr, frame, n_mels)
    hit = _MEL_FILTER_CACHE.get(key)
    if hit is not None:
        return hit
    import numpy as np

    n_bins = frame // 2 + 1
    freqs = np.fft.rfftfreq(frame, d=1.0 / sr)
    pts = _mel_to_hz(np.linspace(_hz_to_mel(MEL_F_LO), _hz_to_mel(MEL_F_HI), n_mels + 2))
    w = np.zeros((n_mels, n_bins))
    support = []
    for m in range(n_mels):
        lo, ctr, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (freqs - lo) / (ctr - lo)
        down = (hi - freqs) / (hi - ctr)
        tri = np.minimum(up, down)
        w[m] = np.where(tri > 0.0, tri, 0.0)
        nz = np.flatnonzero(w[m])
        support.append((int(nz[0]), int(nz[-1]) + 1) if nz.size else (0, 0))
    _MEL_FILTER_CACHE[key] = (w, support)
    return w, support


def logmel_frames_np(pcm, sr_hz: int):
    """Per-frame log-mel matrix (n_frames, MEL_N) in float64, or None
    if the clip yields no full frame.

    Chain spec (shared with fixtures.independent.mel_mean — identical
    arithmetic, loop-structured there): resample to MEL_SR via
    ``resample_linear_np``'s explicit formula, frame MEL_FRAME/MEL_HOP
    (rectangular window), float64 power spectrum per frame, mel energy =
    LEFT-TO-RIGHT sum of w[m,bin]*spec[bin] over the filter's support
    bins, log10(E + MEL_FLOOR). Every fold is sequential so engine and
    mirror are bit-identical.
    """
    import numpy as np

    y = resample_linear_np(pcm, sr_hz, MEL_SR)
    if y.size < MEL_FRAME:
        return None
    n_frames = 1 + (y.size - MEL_FRAME) // MEL_HOP
    idx = np.arange(MEL_FRAME)[None, :] + MEL_HOP * np.arange(n_frames)[:, None]
    spec = np.abs(np.fft.rfft(y[idx], axis=1)) ** 2
    w, support = mel_filters()
    logE = np.empty((n_frames, MEL_N))
    for m in range(MEL_N):
        lo, hi = support[m]
        if hi <= lo:
            logE[:, m] = np.log10(np.zeros(n_frames) + MEL_FLOOR)
            continue
        # left-to-right fold per the shared spec, vectorized as a prefix
        # sum: cumsum is sequential by construction (frame_rms_np
        # precedent), so the last column IS the foldLeft result — bit-
        # identical to the per-bin loop it replaces (round-6, measured 2x)
        prod = spec[:, lo:hi] * w[m, lo:hi]
        logE[:, m] = np.log10(np.cumsum(prod, axis=1)[:, -1] + MEL_FLOOR)
    return logE


def mel_mean_np(pcm, sr_hz: int):
    """Per-clip MEAN log-mel vector (length MEL_N, float64): the
    ``logmel_frames_np`` chain followed by mean = left-to-right sum over
    frames / n_frames (sequential fold, bit-identical to the mirror).
    Returns None if the clip yields no full frame.
    """
    import numpy as np

    logE = logmel_frames_np(pcm, sr_hz)
    if logE is None:
        return None
    n_frames = logE.shape[0]
    # left-to-right fold over frames via cumsum (sequential by
    # construction — bit-identical to the per-frame loop it replaces)
    mean = np.cumsum(logE, axis=0)[-1]
    return mean / float(n_frames)


MFCC_N = 13

_DCT_BASIS_CACHE: dict = {}


def dct2_basis(n_mfcc: int = MFCC_N, n_mels: int = MEL_N):
    """DCT-II basis B (n_mfcc, n_mels): B[k, m] = cos(pi*(m+0.5)*k/M).
    Unnormalized (HTK convention sans lifter). Computed with ONE numpy
    elementwise expression shared verbatim by the independent mirror —
    same libm, same ULPs (the mel_filters precedent); the FOLDS that
    consume it are what the two implementations structure differently.
    Memoized like mel_filters (round-6): a pure constant per shape."""
    key = (n_mfcc, n_mels)
    hit = _DCT_BASIS_CACHE.get(key)
    if hit is not None:
        return hit
    import numpy as np

    m = np.arange(n_mels, dtype=np.float64)
    k = np.arange(n_mfcc, dtype=np.float64)[:, None]
    basis = np.cos(np.pi * (m + 0.5) * k / float(n_mels))
    _DCT_BASIS_CACHE[key] = basis
    return basis


def mfcc_mean_np(pcm, sr_hz: int):
    """Per-clip MEAN MFCC vector (length MFCC_N, float64): DCT-II over
    each ``logmel_frames_np`` row — c[t,k] = LEFT-TO-RIGHT sum over m of
    logE[t,m] * B[k,m] — then mean = left-to-right sum over frames /
    n_frames. The cepstral stage of the classic ASR feature chain
    (decode -> resample -> log-mel -> MFCC); returns None if the clip
    yields no full frame."""
    import numpy as np

    logE = logmel_frames_np(pcm, sr_hz)
    if logE is None:
        return None
    n_frames = logE.shape[0]
    basis = dct2_basis()
    # c[t, k] = left-to-right fold over m of logE[t, m] * basis[k, m],
    # vectorized over (t, k) at once: cumsum along the m axis is the
    # sequential foldLeft (frame_rms_np precedent), so the last slice is
    # bit-identical to the per-(k, m) loop it replaces (round-6)
    prod = logE[:, None, :] * basis[None, :, :]  # (n_frames, MFCC_N, MEL_N)
    c = np.cumsum(prod, axis=2)[:, :, -1]
    # mean over frames: the same sequential-fold-via-cumsum trick
    mean = np.cumsum(c, axis=0)[-1]
    return mean / float(n_frames)


def frame_rms_np(pcm, sr_hz: int, frame_ms: int = 100, hop_ms: int = 50):
    """Per-clip frame-RMS vector (float64, unrounded) — the numpy twin of
    ``explode_frames``' Catalyst fold, arithmetic-identical to the golden
    spec in ``fixtures/generate._frame_rms``: truncating int
    frame/hop, float64 squares, SEQUENTIAL left-to-right accumulation per
    frame (``np.cumsum`` along the frame axis is sequential by
    construction, matching ``F.aggregate``'s foldLeft double-for-double),
    tail dropped. Sub-frame clip => None (zero frames, like the empty
    ``frame_starts`` array).

    This is the VAD fast path: the Catalyst ``F.aggregate`` fold is
    interpreted per sample per frame (~frame_len expression evals per
    row), and feeding it means shipping the FULL pcm array<float> through
    Arrow + the explode. Computing the (clips x ~dur/hop) RMS matrix in
    the SAME mapInArrow pass as decode keeps everything vectorized and
    sends only ~dur_ms/hop_ms doubles per clip downstream. The Catalyst
    fold stays hash-gated by `audio_frame_rms` (cross-implementation:
    Catalyst vs the generation-time numpy mirror); this kernel equals it
    by the shared arithmetic spec, pinned by tests."""
    import numpy as np

    frame = max(1, int(sr_hz * frame_ms / 1000))
    hop = max(1, int(sr_hz * hop_ms / 1000))
    n = pcm.shape[0]
    if n < frame:
        return None
    n_frames = (n - frame) // hop + 1
    sq = pcm.astype(np.float64) ** 2
    idx = np.arange(n_frames)[:, None] * hop + np.arange(frame)[None, :]
    ss = np.cumsum(sq[idx], axis=1)[:, -1]
    return np.sqrt(ss / float(frame))


def with_frame_rms(
    df,
    frame_ms: int = 100,
    hop_ms: int = 50,
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
):
    """Decode + frame + RMS in ONE mapInArrow pass: appends
    ``frame_rms_arr`` (array<double>, round-6 per element — identical
    doubles to ``explode_frames``'s round-6 ``frame_rms``) and drops the
    payload column. Decode failure or a sub-frame clip => NULL. Explode
    downstream with ``posexplode(frame_rms_arr)`` for (frame_idx,
    frame_rms) rows."""
    return _with_clip_vector(
        df,
        lambda pcm, sr: frame_rms_np(pcm, sr, frame_ms, hop_ms),
        "frame_rms_arr",
        bytes_col,
        codec_col,
        sr_col,
    )


def segment_spans_np(rms_rounded, frame_ms: int = 100, hop_ms: int = 50):
    """Contiguous speech runs [(a_frame, b_frame), ...] from a ROUND-6
    frame-RMS vector — the same decision chain as the audio_vad /
    audio_vad_segments gate: speech iff rms > max(0.1 * max(rms), 1e-4),
    runs are maximal consecutive speech-frame intervals. Scalar scan
    (frame counts are tiny: ~dur/hop)."""
    thr = max(0.1 * float(max(rms_rounded)), 1e-4)
    spans, cur = [], None
    for i, v in enumerate(rms_rounded):
        if v > thr:
            cur = [i, i] if cur is None else [cur[0], i]
        elif cur is not None:
            spans.append(tuple(cur))
            cur = None
    if cur is not None:
        spans.append(tuple(cur))
    return spans


def with_speech_segments(
    df,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    frame_ms: int = 100,
    hop_ms: int = 50,
    digest: bool = False,
):
    """Decode -> VAD -> slice -> re-encode in ONE mapInArrow pass: the
    chunking SINK of the ASR prep chain. One input clip yields N output
    rows (clip_id, seg_idx, start_ms, end_ms, seg_bytes) — seg_bytes is
    the speech run's native-rate PCM span re-encoded as RIFF/WAVE PCM16,
    the bounded utterance chunk a recognizer consumes. Row explosion
    happens INSIDE the Arrow batch (mapInArrow output cardinality is
    free), so full-clip PCM never crosses Arrow and silence bytes are
    dropped at the source — at 100 TB this is also the compaction step
    (gap bytes never reach the shuffle or the sink).

    Segmentation decisions run on round-6 frame RMS — double-identical
    to the audio_vad/audio_vad_segments gate chain (frame_rms_np) — and
    spans cover samples [a*hop, b*hop + frame). Decode failure or a
    sub-frame clip yields no rows (filter_invalid semantics,
    SURVEY.md F2). ``digest=True`` emits ``n_bytes`` + ``seg_md5``
    (Catalyst-identical length/md5 of the wav chunk) instead of the
    chunk itself — see with_augmented_noise."""

    def kernel(pcm, sr, row):
        import numpy as np

        rms = frame_rms_np(pcm, sr, frame_ms, hop_ms)
        if rms is None:
            return []
        rms = np.floor(rms * 1e6 + 0.5) / 1e6  # gate-identical doubles
        frame = max(1, int(sr * frame_ms / 1000))
        hop = max(1, int(sr * hop_ms / 1000))
        out = []
        for k, (a, b) in enumerate(segment_spans_np(rms, frame_ms, hop_ms)):
            wav = codecs.encode_wav(pcm[a * hop : b * hop + frame], sr)
            head = (k + 1, a * hop_ms, b * hop_ms + frame_ms)
            out.append(head + ((len(wav), wav) if digest else (wav,)))
        return out

    return clip_map(
        df,
        kernel,
        [
            StructField("seg_idx", LongType(), False),
            StructField("start_ms", LongType(), False),
            StructField("end_ms", LongType(), False),
        ]
        + ([StructField("n_bytes", LongType(), False)] if digest else [])
        + [StructField("seg_bytes", BinaryType(), False)],
        passthrough=[StructField(id_col, StringType(), False)],
        digest="seg_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


def _with_clip_vector(df, vec, out_col: str, bytes_col: str, codec_col: str, sr_col: str):
    """Shared decode -> per-clip float-vector pass: appends ``out_col``
    (array<double>, each element rounded to 6 like Spark's round) and
    drops the payload column. Decode failure or a sub-frame clip => NULL.
    ``vec(pcm, sr) -> 1-D float64 array | None``."""

    def kernel(pcm, sr, row):
        import numpy as np

        v = vec(pcm, sr)
        return [(None if v is None else (np.floor(v * 1e6 + 0.5) / 1e6).tolist(),)]

    return clip_map(
        df,
        kernel,
        [StructField(out_col, ArrayType(DoubleType()))],
        on_error=(None,),
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


def with_mel_means(
    df, bytes_col: str = "bytes", codec_col: str = "codec", sr_col: str = "sr_hz"
):
    """Decode + resample + log-mel in ONE mapInArrow pass: appends
    ``mel_mean`` (array<double>, length MEL_N, each element rounded to 6
    like Spark's round) and drops the payload column. Decode failure or
    a sub-frame clip => NULL."""
    return _with_clip_vector(df, mel_mean_np, "mel_mean", bytes_col, codec_col, sr_col)


def with_mfcc_means(
    df, bytes_col: str = "bytes", codec_col: str = "codec", sr_col: str = "sr_hz"
):
    """Decode + resample + log-mel + DCT-II cepstrum in ONE mapInArrow
    pass: appends ``mfcc_mean`` (array<double>, length MFCC_N, round-6)
    and drops the payload column. Decode failure or a sub-frame clip =>
    NULL."""
    return _with_clip_vector(df, mfcc_mean_np, "mfcc_mean", bytes_col, codec_col, sr_col)


# ---------------------------------------------------------------------------
# Round-5: F0 / pitch estimation (normalized autocorrelation)
# ---------------------------------------------------------------------------

PITCH_SR = 16000
PITCH_W = 320          # 20 ms correlation window at 16 kHz
PITCH_HOP = 480        # 30 ms pitch-track hop
PITCH_LAG_LO = 40      # 400 Hz ceiling
PITCH_LAG_HI = 320     # 50 Hz floor
PITCH_CORR_MIN = 0.5   # voicing decision on normalized autocorrelation
PITCH_ENERGY_MIN = 1e-6
PITCH_OCTAVE_BIAS = 0.95  # accept the SMALLEST lag within 5% of the peak


PITCH_NFFT = 1024  # >= SEG + PITCH_W so the circular correlation is exact


def pitch_stats_np(pcm, sr_hz: int):
    """Per-clip pitch statistics [f0_mean_hz, voiced_ratio] (float64),
    or None if the clip yields no full analysis segment.

    Chain spec (shared with fixtures.independent.pitch_stats): resample
    to PITCH_SR, segment PITCH_W + PITCH_LAG_HI samples every PITCH_HOP;
    per segment the normalized autocorrelation
    norm(tau) = r(tau) / sqrt(e0 * e(tau)) over tau in
    [PITCH_LAG_LO, PITCH_LAG_HI], where

    * r(tau) = sum_{n<PITCH_W} x[n]*x[n+tau], computed as ONE FFT
      cross-correlation: irfft(conj(rfft(x[:W], NFFT)) * rfft(x, NFFT),
      NFFT)[tau]. NFFT=1024 >= len(x)+W keeps every in-range lag
      wrap-free. The rfft/irfft calls are the SHARED NUMERICAL CORE with
      the independent mirror — same pocketfft, same ULPs whether
      transformed row-batched (engine) or frame-at-a-time (mirror,
      verified bitwise) — the mel_filters/dct2_basis precedent: share
      the one transcendental kernel verbatim, structure everything
      around it independently. (Round-5d re-spec from the O(W*n_lags)
      time-domain fold: 7.5x measured, identical outputs on the whole
      synth corpus — the discrete decisions are threshold-robust and f0
      values are exact integer divisions.)
    * e(tau) = S[tau+W-1] - S[tau-1] and e0 = S[W-1], where S is the
      float64 PREFIX SUM of x*x — sequential by construction
      (np.cumsum here; an explicit scalar loop in the mirror,
      bit-identical), so both sides difference identical doubles.
    * zero denominator -> norm 0.

    A frame is VOICED iff e0 > PITCH_ENERGY_MIN and the max over tau
    exceeds PITCH_CORR_MIN; its f0 = PITCH_SR / chosen_tau where
    chosen_tau is the FIRST LOCAL PEAK (corr >= left neighbor, > right
    neighbor) reaching PITCH_OCTAVE_BIAS * max, falling back to the
    global first-max if no interior peak qualifies. A periodic signal
    peaks equally at every period multiple — numerical noise must not
    halve the pitch, and the peak test (not a bare threshold crossing)
    keeps the chosen lag on the true period rather than 5% early on the
    peak's shoulder. All selection ops are exact comparisons.
    Output: mean f0 over voiced frames (left-to-right fold; 0.0 if no
    voiced frame) and voiced_ratio = n_voiced / n_frames.
    """
    import numpy as np

    y = resample_linear_np(pcm, sr_hz, PITCH_SR)
    seg = PITCH_W + PITCH_LAG_HI
    if y.size < seg:
        return None
    n_frames = 1 + (y.size - seg) // PITCH_HOP
    idx = np.arange(seg)[None, :] + PITCH_HOP * np.arange(n_frames)[:, None]
    x = np.ascontiguousarray(y[idx], dtype=np.float64)  # (n_frames, seg)
    a = np.fft.rfft(x[:, :PITCH_W], PITCH_NFFT, axis=1)
    b = np.fft.rfft(x, PITCH_NFFT, axis=1)
    z = np.fft.irfft(np.conj(a) * b, PITCH_NFFT, axis=1)
    r = z[:, PITCH_LAG_LO : PITCH_LAG_HI + 1]
    s = np.cumsum(x * x, axis=1)
    taus = np.arange(PITCH_LAG_LO, PITCH_LAG_HI + 1)
    e_tau = s[:, taus + PITCH_W - 1] - s[:, taus - 1]
    e0 = s[:, PITCH_W - 1]
    denom = np.sqrt(e0[:, None] * e_tau)
    norm = np.where(denom > 0.0, r / np.where(denom > 0.0, denom, 1.0), 0.0)
    best_corr = np.max(norm, axis=1)
    voiced = (e0 > PITCH_ENERGY_MIN) & (best_corr > PITCH_CORR_MIN)
    # FIRST LOCAL PEAK (>= left, > right — plateaus resolve to their last
    # point) reaching PITCH_OCTAVE_BIAS * max; fall back to the global
    # first-max if no interior peak qualifies
    thresh = (PITCH_OCTAVE_BIAS * best_corr)[:, None]
    interior = norm[:, 1:-1]
    is_peak = (
        (interior >= norm[:, :-2]) & (interior > norm[:, 2:]) & (interior >= thresh)
    )
    has_peak = is_peak.any(axis=1)
    chosen = np.where(
        has_peak, np.argmax(is_peak, axis=1) + 1, np.argmax(norm, axis=1)
    )
    f0 = PITCH_SR / (PITCH_LAG_LO + chosen).astype(np.float64)
    acc, n_voiced = 0.0, 0
    for t in range(n_frames):  # left-to-right over frames
        if voiced[t]:
            acc = acc + f0[t]
            n_voiced += 1
    f0_mean = acc / float(n_voiced) if n_voiced else 0.0
    return np.array([f0_mean, n_voiced / float(n_frames)])


def with_pitch_stats(
    df, bytes_col: str = "bytes", codec_col: str = "codec", sr_col: str = "sr_hz"
):
    """Decode + resample + autocorrelation pitch track in ONE mapInArrow
    pass: appends ``pitch_stats`` (array<double> [f0_mean_hz,
    voiced_ratio], round-6) and drops the payload column. Decode failure
    or a sub-segment clip => NULL."""
    return _with_clip_vector(
        df, pitch_stats_np, "pitch_stats", bytes_col, codec_col, sr_col
    )


# ---------------------------------------------------------------------------
# Round-5e: deterministic noise-mix augmentation (ASR training-data aug)
# ---------------------------------------------------------------------------

AUG_SEED = 20260818  # shared random-source seed (engine + independent mirror)


def augment_noise_np(pcm, key: int, snr_db: float = 15.0):
    """Mix white Gaussian noise into a clip at a target SNR —
    deterministically, so the augmented corpus is reproducible run to run
    and node to node (the property a distributed training-data pipeline
    needs: re-running a failed partition must regenerate identical bytes).

    Exact arithmetic spec (shared with fixtures/independent.augment_noise;
    same contract as resample_linear_np):

    * noise ~ ``np.random.default_rng([AUG_SEED, key]).standard_normal(n)``
      — the shared random SOURCE (the all_planes / ivf_centroids
      precedent); ``key`` is derived from the clip_id so each clip gets
      its own reproducible noise;
    * signal power ``p = cumsum(x*x)[-1] / n`` in float64 — prefix-sum
      accumulation, sequentially identical to the mirror's scalar
      left-to-right walk (the frame_rms_np trick);
    * scale ``a = math.sqrt(p / 10**(snr_db/10))`` (silent clip => a=0,
      output unchanged);
    * ``out[i] = clip(x[i] + a*noise[i], -1, 1)`` — elementwise IEEE ops,
      order-free.
    """
    import math

    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        return x
    rng = np.random.default_rng([AUG_SEED, int(key)])
    noise = rng.standard_normal(x.size)
    p = float(np.cumsum(x * x)[-1]) / x.size
    a = math.sqrt(p / (10.0 ** (snr_db / 10.0)))
    return np.clip(x + a * noise, -1.0, 1.0)


def with_augmented_noise(
    df,
    snr_db: float = 15.0,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    passthrough: tuple = (),
    digest: bool = False,
):
    """Decode -> deterministic noise mix -> RIFF/WAVE re-encode in ONE
    mapInArrow pass: the augmentation stage of an ASR training pipeline
    (each clip gains a reproducible noisy copy keyed by its own id).
    Output: (clip_id, *passthrough, n_samples, aug) — ``aug`` the
    augmented PCM16 wav bytes; decode failure yields no row
    (filter_invalid semantics).

    Round-6 options (guide §2.3 "shuffle keys and metadata instead of
    payloads" / §4.1 "control how many columns cross the boundary"):

    * ``passthrough`` — input columns copied onto surviving output rows,
      so a caller that already joined per-clip metadata (e.g. the
      capstone's ``n_copies``) doesn't need a second join after the
      kernel.
    * ``digest=True`` — emit ``aug_md5`` (lowercase-hex md5 of the wav
      bytes, exactly what Catalyst's ``md5()`` would produce) INSTEAD of
      the payload: callers that only hash the output stop shipping
      ~100 KB/row back across Arrow and through the plan.
    """

    def kernel(pcm, sr, row):
        mixed = augment_noise_np(pcm, _clip_key(row[id_col]), snr_db)
        return [(mixed.shape[0], codecs.encode_wav(mixed, sr))]

    return clip_map(
        df,
        kernel,
        [StructField("n_samples", LongType(), False), StructField("aug", BinaryType(), False)],
        passthrough=[StructField(id_col, StringType(), False), *passthrough],
        digest="aug_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


def _clip_key(clip_id: str) -> int:
    """Per-clip RNG key of the keyed augmentations: crc32 of the UTF-8 id."""
    import zlib

    return zlib.crc32(clip_id.encode("utf-8"))


# ---------------------------------------------------------------------------
# Round-5e: speed perturbation (Kaldi-style 0.9x/1.1x ASR augmentation)
# ---------------------------------------------------------------------------


def speed_perturb_np(pcm, sr_hz: int, speed: float):
    """Speed-perturb a clip by ``speed`` via the engine's bit-exact linear
    resampler: the input is REINTERPRETED as sampled at
    ``round(sr_hz*speed)`` and resampled back to ``sr_hz`` — the classic
    sox/Kaldi `speed` trick. Output length = round(n / speed); pitch and
    tempo both scale by ``speed``. Deterministic (no RNG), so safe under
    task retries. The exact arithmetic is resample_linear_np's published
    spec — the independent mirror composes fixtures/independent.
    resample_linear with the same arguments."""
    return resample_linear_np(pcm, round(sr_hz * speed), sr_hz)


def with_speed_perturb(
    df,
    speeds=(0.9, 1.1),
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    digest: bool = False,
):
    """Decode -> speed-perturb at each factor -> RIFF/WAVE PCM16
    re-encode in ONE mapInArrow pass: 1 clip in, len(speeds) augmented
    rows out (the 3x-corpus trick from Kaldi's recipe, minus the 1.0x
    copy the source table already holds). Output: (clip_id, speed,
    n_samples, sp) with ``sp`` the perturbed wav bytes; decode failure
    yields no rows (filter_invalid semantics). ``digest=True`` emits
    ``sp_md5`` (Catalyst-identical lowercase-hex md5) instead of the
    bytes — see with_augmented_noise."""
    speeds = tuple(float(s) for s in speeds)

    def kernel(pcm, sr, row):
        out = []
        for s in speeds:
            y = speed_perturb_np(pcm, sr, s)
            out.append((s, y.shape[0], codecs.encode_wav(y, sr)))
        return out

    return clip_map(
        df,
        kernel,
        [
            StructField("speed", DoubleType(), False),
            StructField("n_samples", LongType(), False),
            StructField("sp", BinaryType(), False),
        ],
        passthrough=[StructField(id_col, StringType(), False)],
        digest="sp_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


# ---------------------------------------------------------------------------
# Round-5e: SpecAugment (deterministic time/frequency masking on log-mel)
# ---------------------------------------------------------------------------

SA_SEED = 20260819  # shared random-source seed (engine + independent mirror)


def specaugment_means_np(pcm, sr_hz: int, key: int, f_max: int = 4, t_max: int = 20):
    """SpecAugment (Park et al. 2019) on the clip's log-mel frames —
    deterministically keyed, so the augmented feature corpus is
    reproducible under task retries (the augment_noise_np property).

    Exact spec (shared with fixtures/independent.specaugment_means):

    * four integer draws from ``default_rng([SA_SEED, key])`` IN ORDER:
      frequency-mask width ``f_w`` in [0, f_max], start ``f0`` in
      [0, MEL_N - f_w]; time-mask width ``t_w`` in [0, min(t_max, T)],
      start ``t0`` in [0, T - t_w];
    * masked cells (band in the f-mask OR frame in the t-mask) are set to
      the log floor ``log10(MEL_FLOOR)`` = -10.0 exactly;
    * post-mask per-band means via the LEFT-TO-RIGHT frame fold
      (mel_mean_np's contract).

    Returns (f0, f_w, t0, t_w, n_frames, means[MEL_N]) or None if the
    clip yields no full frame.
    """
    import numpy as np

    logE = logmel_frames_np(pcm, sr_hz)
    if logE is None:
        return None
    n_frames, n_mels = logE.shape
    rng = np.random.default_rng([SA_SEED, int(key)])
    f_w = int(rng.integers(0, f_max + 1))
    f0 = int(rng.integers(0, n_mels - f_w + 1))
    t_w = int(rng.integers(0, min(t_max, n_frames) + 1))
    t0 = int(rng.integers(0, n_frames - t_w + 1))
    floor = np.log10(MEL_FLOOR)
    out = logE.copy()
    out[:, f0 : f0 + f_w] = floor
    out[t0 : t0 + t_w, :] = floor
    # left-to-right fold over frames via cumsum (sequential by
    # construction — bit-identical to the per-frame loop it replaces)
    mean = np.cumsum(out, axis=0)[-1]
    return f0, f_w, t0, t_w, n_frames, mean / float(n_frames)


def with_specaugment(
    df,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
):
    """Decode + resample + log-mel + deterministic SpecAugment masking +
    post-mask means in ONE mapInArrow pass. Output: (clip_id, f0, f_w,
    t0, t_w, n_frames, sa_mel array<double> round-6); undecodable or
    sub-frame clips yield no row (filter_invalid semantics)."""

    def kernel(pcm, sr, row):
        import numpy as np

        res = specaugment_means_np(pcm, sr, _clip_key(row[id_col]))
        if res is None:
            return []
        *masks, mean = res
        return [(*masks, [float(v) for v in np.round(mean, 6)])]

    return clip_map(
        df,
        kernel,
        [
            StructField("f0", IntegerType(), False),
            StructField("f_w", IntegerType(), False),
            StructField("t0", IntegerType(), False),
            StructField("t_w", IntegerType(), False),
            StructField("n_frames", IntegerType(), False),
            StructField("sa_mel", ArrayType(DoubleType()), False),
        ],
        passthrough=[StructField(id_col, StringType(), False)],
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


# ---------------------------------------------------------------------------
# Round-5e: loudness (RMS) normalization — gain-prep before augmentation
# ---------------------------------------------------------------------------


def normalize_loudness_np(pcm, target_rms: float = 0.1, peak_cap: float = 0.999):
    """Scale a clip to a target RMS, peak-safe: gain = target_rms / rms,
    capped so the scaled peak never exceeds ``peak_cap`` (no clipping is
    introduced — the cap, not a clip, enforces the ceiling). Silent clips
    pass through unchanged (gain 1). Deterministic, RNG-free.

    Exact arithmetic spec (shared with fixtures/independent.
    normalize_loudness): rms via the cumsum power fold (augment_noise_np's
    contract), peak = max(|x|) (order-free), gain = min(target/rms,
    peak_cap/peak), out = x * gain elementwise.
    """
    import math

    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    if x.size == 0:
        return x
    p = float(np.cumsum(x * x)[-1]) / x.size
    if p <= 0.0:
        return x
    rms = math.sqrt(p)
    peak = float(np.max(np.abs(x)))
    gain = min(target_rms / rms, peak_cap / peak)
    return x * gain


def with_normalized_loudness(
    df,
    target_rms: float = 0.1,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    digest: bool = False,
):
    """Decode -> peak-safe RMS normalize -> RIFF/WAVE PCM16 re-encode in
    ONE mapInArrow pass (the gain-prep stage run before feature
    extraction / augmentation so heterogeneous crawl loudness doesn't
    leak into features). Output: (clip_id, n_samples, norm) — ``norm``
    the normalized wav bytes; decode failure yields no row.
    ``digest=True`` emits ``norm_md5`` instead of the bytes — see
    with_augmented_noise."""

    def kernel(pcm, sr, row):
        y = normalize_loudness_np(pcm, target_rms)
        return [(y.shape[0], codecs.encode_wav(y, sr))]

    return clip_map(
        df,
        kernel,
        [StructField("n_samples", LongType(), False), StructField("norm", BinaryType(), False)],
        passthrough=[StructField(id_col, StringType(), False)],
        digest="norm_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


# ---------------------------------------------------------------------------
# Round-5e: reverberation augmentation (synthetic RIR convolution)
# ---------------------------------------------------------------------------

RIR_SEED = 20260820  # shared random-source seed (engine + independent mirror)


def synth_rir_np(sr_hz: int, key: int, dur_s: float = 0.2, rt60_s: float = 0.15):
    """Deterministic synthetic room impulse response: exponentially
    decaying white noise (the standard statistical RIR model), keyed so
    each clip gets its own reproducible room. Exact spec (shared with
    fixtures/independent.synth_rir): ``m = round(sr*dur_s)`` taps,
    ``noise = default_rng([RIR_SEED, key]).standard_normal(m)``,
    ``env = exp(-6.9078 * t / rt60_s)`` (ln(1000) decay to -60 dB at
    rt60), ``ir = noise * env`` with ``ir[0] = 1.0`` (unit direct path).
    All elementwise — order-free."""
    import numpy as np

    m = round(sr_hz * dur_s)
    noise = np.random.default_rng([RIR_SEED, int(key)]).standard_normal(m)
    t = np.arange(m, dtype=np.float64) / float(sr_hz)
    ir = noise * np.exp(-6.9078 * t / rt60_s)
    ir[0] = 1.0
    return ir


def augment_reverb_np(pcm, sr_hz: int, key: int):
    """Convolve a clip with its keyed synthetic RIR and renormalize —
    the third member of the Kaldi augmentation triple (noise / speed /
    reverb). Exact spec (shared with the mirror; the pitch-kernel
    precedent: ONE rfft/irfft at a spec-pinned NFFT is the shared
    numerical core, so engine and mirror produce identical ULPs):

    * ``NFFT`` = next power of two >= n + m - 1;
    * ``y = irfft(rfft(x, NFFT) * rfft(ir, NFFT), NFFT)[:n]`` — the
      direct-path ir[0]=1 keeps the dry signal present;
    * peak renormalize: ``g = min(1, peak_in / peak_out)`` (order-free
      maxima), ``out = y * g`` — reverb never raises the peak.
    Silent/empty clips pass through unchanged.
    """
    import numpy as np

    x = np.asarray(pcm, dtype=np.float64)
    n = x.size
    if n == 0:
        return x
    peak_in = float(np.max(np.abs(x)))
    if peak_in <= 0.0:
        return x
    ir = synth_rir_np(sr_hz, key)
    m = ir.size
    nfft = 1
    while nfft < n + m - 1:
        nfft *= 2
    y = np.fft.irfft(np.fft.rfft(x, nfft) * np.fft.rfft(ir, nfft), nfft)[:n]
    peak_out = float(np.max(np.abs(y)))
    g = min(1.0, peak_in / peak_out) if peak_out > 0.0 else 1.0
    return y * g


def with_reverb(
    df,
    id_col: str = "clip_id",
    bytes_col: str = "bytes",
    codec_col: str = "codec",
    sr_col: str = "sr_hz",
    digest: bool = False,
):
    """Decode -> keyed synthetic-RIR convolution -> RIFF/WAVE PCM16
    re-encode in ONE mapInArrow pass. Output: (clip_id, n_samples, rev);
    decode failure yields no row. Deterministic under task retries.
    ``digest=True`` emits ``rev_md5`` instead of the bytes — see
    with_augmented_noise."""

    def kernel(pcm, sr, row):
        y = augment_reverb_np(pcm, sr, _clip_key(row[id_col]))
        return [(y.shape[0], codecs.encode_wav(y, sr))]

    return clip_map(
        df,
        kernel,
        [StructField("n_samples", LongType(), False), StructField("rev", BinaryType(), False)],
        passthrough=[StructField(id_col, StringType(), False)],
        digest="rev_md5" if digest else None,
        bytes_col=bytes_col,
        codec_col=codec_col,
        sr_col=sr_col,
    )


def with_flac_pcm16(df, bytes_col: str = "bytes", digest: bool = False):
    """REAL FLAC decode in ONE mapInArrow pass (round 5): appends
    ``flac_sr int`` (the rate carried in STREAMINFO), ``n_samples`` and
    ``pcm16 binary`` (little-endian int16 mono, stereo downmixed by the
    documented floor-mean, -32768 clamped to -32767 per the F11/F15
    normalization contract) and drops the payload column in the same
    pass. Malformed / truncated payloads => NULL columns (F1 semantics).
    The bitstream walk lives in dataflow_geobeam_spark/flac — from-spec
    Rice/LPC/CRC decode, no libsndfile. ``digest=True`` appends
    ``pcm16_md5`` instead of the bytes — see with_augmented_noise."""
    return clip_map(
        df,
        lambda pcm, sr, row: [(sr, len(pcm), _pcm16_bytes(pcm))],
        [
            StructField("flac_sr", IntegerType()),
            StructField("n_samples", IntegerType()),
            StructField("pcm16", BinaryType()),
        ],
        on_error=(None, None, None),
        digest="pcm16_md5" if digest else None,
        bytes_col=bytes_col,
        decode=lambda buf, row: codecs.decode(buf, "flac"),
    )


def with_sniffed_pcm16(df, bytes_col: str = "bytes", digest: bool = False):
    """LABEL-FREE audio ingest (round 5): crawled audio carries no codec
    column, so this kernel sniffs the container from magic bytes and
    decodes in one mapInArrow pass — appends ``container string``,
    ``sniff_sr int``, ``n_samples int`` and ``pcm16 binary`` (requantized
    int16 LE mono). Real RIFF/WAVE, real FLAC, AIFF, Sun AU and the
    deterministic stand-in containers all decode (codecs.decode_sniffed);
    unknown magic / truncated payloads => NULL columns (F1 semantics).
    ``digest=True`` appends ``pcm16_md5`` instead of the bytes — see
    with_augmented_noise."""
    return clip_map(
        df,
        lambda pcm, sr, row: [(codecs.sniff(row[bytes_col]), sr, len(pcm), _pcm16_bytes(pcm))],
        [
            StructField("container", StringType()),
            StructField("sniff_sr", IntegerType()),
            StructField("n_samples", IntegerType()),
            StructField("pcm16", BinaryType()),
        ],
        on_error=(None, None, None, None),
        digest="pcm16_md5" if digest else None,
        bytes_col=bytes_col,
        decode=lambda buf, row: codecs.decode_sniffed(buf)[:2],
    )
