"""Seeded generator for the fixture tables and their golden oracle outputs.

Implements FIXTURES.md. Written with numpy/pyarrow only (no Spark), so the
goldens are an independent oracle: the engine decodes ``bytes`` with its
kernels at query time, while the goldens were computed here at generation
time from the same encoded payloads. Every compute kernel on the oracle
side (container encode/decode, metrics, spectral features, LSH planes, ...)
comes from ``fixtures.independent``, a second implementation written
against the container/normalization spec that imports nothing from the
engine; ``tests/test_independent_kernels.py`` pins the two equal and pins
that this module imports no engine compute module.

Layout per scale factor (the basename of a testdata dir such as
``sf0.01`` picks ``<root>/sf0.01/``): ``ensure_fixtures`` writes
clips.parquet, transcripts_late.parquet, golden_clips.parquet,
golden_frames.parquet, golden_spectral.parquet and MANIFEST.json, gated on
the manifest's version and row count; every other ``ensure_*`` writes one
more input table (images_v5, audio_dupes, flac_clips, ...) or golden.

Every file is a pure function of its scale factor, written through a few
helpers:

* ``_cached(sf_dir, root, name, build, **write_kw)`` is the one existence
  gate: ``build()`` runs only when the file is missing, and its table is
  written crash-safe by ``_write_table_atomic`` (zstd).
* ``_per_clip_golden(sf_dir, root, name, kernel, schema)`` is the one
  decode -> kernel -> table loop over clips.parquet. A golden is a pure
  ``kernel(row, pcm, sr) -> list[tuple]`` (``sr`` is the row's ``sr_hz``,
  else the decoded rate): 0 tuples drop the clip, N tuples explode it.
  The failure rule is the engine's ``clip_map`` contract: a decode
  ``ValueError`` means no row; any other error fails generation, so an
  oracle bug can never silently drop golden rows.
* Shared numerics, one copy each: ``_frame_rms``, ``_fold_cos`` (Spark's
  sequential fold accumulation), ``_embeddings``, ``_topk_rows`` and
  ``_pairs_at_least``.

Schema of ``clips`` is the input_hint shape plus event time: (clip_id
string, bytes binary, sr_hz int, dur_ms int, codec string, transcript
string, ts timestamp).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import zlib
from datetime import datetime, timedelta
from typing import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_geobeam_spark.audio_synth import SEED, synth_pcm
from dataflow_geobeam_spark.fixtures import independent

FIXTURE_VERSION = 5  # v5: silence-gapped clips (i%5==2) => multi-segment VAD
T0 = datetime(2026, 1, 1, 0, 0, 0)
ROWS_PER_SF = 300_000  # sf0.001 -> 300 rows, sf0.01 -> 3k, sf0.1 -> 30k
DEFAULT_FIXTURES_ROOT = os.environ.get("SPARK_GRAFT_FIXTURES", "/root/repo/fixtures")

_SR_CYCLE = (8000, 16000, 22050, 44100)
_CODEC_CYCLE = ("wav", "flac", "ogg", "mp3")
_VOCAB = (
    "signal noise window frame sample stream batch shuffle spark clip audio "
    "transcript watermark state join bucket salt codec decode commit snapshot "
    "epoch offset lineage metric partition skew hash vector token"
).split()

CLIPS_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

_Kernel = Callable[[dict, np.ndarray, int], list]


def _write_table_atomic(
    tbl: pa.Table | Iterable[pa.Table], path: str, row_group_size: int | None = None, **kwargs
) -> None:
    """Crash-safe parquet write. Every fixture file is existence-gated
    (``_cached``), so a kill mid-write (driver timeout, SIGKILL between
    gate phases) must not leave a truncated file at the final path: it
    would be trusted as a valid cache forever and fail every later hash
    gate. Write to a pid-unique temp name in the same directory, then
    ``os.replace`` (atomic on POSIX). The pid suffix also makes concurrent
    generators (pytest and the driver gate can race on the same fixtures
    root) last-writer-wins on identical content instead of interleaving
    bytes into one file. ``tbl`` may also be an iterable of same-schema
    blocks, streamed one at a time so a bench-scale corpus never sits in
    memory whole."""
    tmp = f"{path}.tmp.{os.getpid()}"
    writer = None
    try:
        for block in [tbl] if isinstance(tbl, pa.Table) else tbl:
            if writer is None:
                writer = pq.ParquetWriter(tmp, block.schema, **kwargs)
            writer.write_table(block, row_group_size=row_group_size)
        writer.close()
        os.replace(tmp, path)
    finally:
        if writer is not None:
            writer.close()
        if os.path.exists(tmp):
            os.unlink(tmp)


def _cached(
    sf_dir: str,
    root: str,
    name: str,
    build: Callable[[], pa.Table | Iterable[pa.Table]],
    **write_kw,
) -> str:
    """``<fixtures dir>/<name>``: built and written only when missing."""
    out_dir = fixtures_dir_for(sf_dir, root)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, name)
    if os.path.exists(path):
        return path
    _write_table_atomic(build(), path, compression="zstd", **write_kw)
    return path


def _table(schema: pa.Schema, rows: list[tuple]) -> pa.Table:
    """Row tuples (in ``schema`` field order) -> a table of exactly ``schema``."""
    cols = list(zip(*rows)) if rows else [() for _ in schema]
    return pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
    )


def _decoded_clips(path: str) -> Iterator[tuple[dict, np.ndarray, int]]:
    """(row, pcm, sr) for every row of a clip table (clip_id, bytes, codec,
    sr_hz, ...) that the oracle decodes; ``sr`` is the row's ``sr_hz``,
    else the decoded rate. A decode ``ValueError`` skips the row, as the
    engine nulls or drops it; any other error propagates."""
    with pq.ParquetFile(path) as f:
        for batch in f.iter_batches(batch_size=256):
            for row in batch.to_pylist():
                try:
                    pcm, sr = independent.decode(row["bytes"], row["codec"])
                except ValueError:
                    continue
                yield row, pcm, row["sr_hz"] or sr


def _per_clip_golden(
    sf_dir: str, root: str, name: str, kernel: _Kernel, schema: pa.Schema, **write_kw
) -> str:
    """A golden with one kernel call per decodable clips.parquet row (see
    the module docstring for the kernel contract). clips.parquet must
    already exist: the public goldens pass ``ensure_fixtures(sf_dir,
    root)`` as ``sf_dir`` (a fixtures dir maps to itself), and the two
    goldens ensure_fixtures writes itself cannot call back into it."""
    clips = os.path.join(fixtures_dir_for(sf_dir, root), "clips.parquet")

    def build() -> pa.Table:
        return _table(
            schema, [out for row, pcm, sr in _decoded_clips(clips) for out in kernel(row, pcm, sr)]
        )

    return _cached(sf_dir, root, name, build, **write_kw)


def _requantize16(pcm: np.ndarray) -> np.ndarray:
    """float PCM -> little-endian int16, the engine's PCM16 quantization."""
    return np.round(np.clip(pcm, -1.0, 1.0) * 32767.0).astype("<i2")


def _md5(b: bytes) -> str:
    return hashlib.md5(b).hexdigest()


def _clip_seed(row: dict) -> int:
    """The per-clip RNG key the engine's augment kernels share."""
    return zlib.crc32(row["clip_id"].encode("utf-8"))


def _spark_round6(x: float) -> float:
    """Spark's round(x, 6) (HALF_UP) for positive doubles."""
    return math.floor(x * 1e6 + 0.5) / 1e6


def _fold(x: np.ndarray) -> np.float64:
    """Sequential left-to-right sum (np.cumsum is sequential by
    construction, unlike np.sum's pairwise reduction): Spark's
    aggregate-fold accumulation order."""
    return np.cumsum(x)[-1]


def _fold_cos(a: np.ndarray, b: np.ndarray) -> float:
    """Fold-order cosine of two float64 vectors, rounded like round(x, 6)."""
    return _spark_round6(_fold(a * b) / (np.sqrt(_fold(a * a)) * np.sqrt(_fold(b * b))))


def sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return 0.001


def fixtures_dir_for(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Map a testdata sf dir (or bare 'sf0.01') to this repo's fixture dir."""
    base = os.path.basename(os.path.normpath(sf_dir))
    if not base.startswith("sf"):
        base = "sf0.001"
    return os.path.join(root, base)


def rows_for_sf(sf: float) -> int:
    return max(300, int(ROWS_PER_SF * sf))


# ---------------------------------------------------------------------------
# clips + transcripts_late + golden_clips (ensure_fixtures)
# ---------------------------------------------------------------------------


def _transcript_for(i: int, rng: np.random.Generator) -> str:
    if i % 53 == 11:  # ~2% empty transcripts
        return ""
    n_words = 3 + int(rng.integers(0, 8))
    words = [_VOCAB[int(rng.integers(0, len(_VOCAB)))] for _ in range(n_words)]
    return f"utterance {i} " + " ".join(words)


def _row(i: int) -> dict:
    rng = np.random.default_rng([SEED, 7_000_000 + i])
    prefix = f"{i % 256:02x}"
    clip_id = f"{prefix}{i:012d}"
    sr_hz = _SR_CYCLE[i % 4]
    dur_ms = 250 + (i * 37) % 2250  # 0.25-2.5s keeps sf0.1 fixtures ~1.5 GB
    codec = _CODEC_CYCLE[(i // 4) % 4]

    synth_dur = dur_ms
    if i % 223 == 7:  # sample-count disagrees with dur_ms by >10% => invalid
        synth_dur = int(dur_ms * 1.3)
    pcm = synth_pcm(i, sr_hz, synth_dur)
    buf = independent.encode(pcm, sr_hz, codec)
    if i % 97 == 13:  # ~1% unknown codec label (decode registry must reject)
        codec = "unknown"
    if i % 211 == 5:  # ~0.5% truncated payloads
        buf = buf[: max(4, len(buf) // 3)]

    ts = T0 + timedelta(milliseconds=100 * i)
    if i % 20 == 7:  # ~5% late/out-of-order rows, up to 90 s early event time
        ts -= timedelta(seconds=float(rng.uniform(1.0, 90.0)))

    return {
        "i": i,
        "clip_id": clip_id,
        "bucket": prefix,
        "bytes": buf,
        "sr_hz": sr_hz,
        "dur_ms": dur_ms,
        "codec": codec,
        "transcript": _transcript_for(i, rng),
        "ts": ts,
    }


_GOLDEN_CLIPS_SCHEMA = pa.schema(
    {
        "clip_id": pa.string(),
        "bucket": pa.string(),
        "ts": pa.timestamp("us"),
        "sr_hz": pa.int32(),
        "dur_ms": pa.int32(),
        "codec": pa.string(),
        "transcript": pa.string(),
        "decode_ok": pa.bool_(),
        "n_samples": pa.int64(),
        "rms": pa.float64(),
        "peak": pa.float64(),
        "valid": pa.bool_(),
    }
)


def _golden_decode(row: dict) -> tuple:
    """Oracle decode of the encoded payload — same rules as the engine UDF:
    a decode ``ValueError`` is an invalid row."""
    decode_ok, n_samples, rms, peak, sr_decoded = False, 0, 0.0, 0.0, 0
    try:
        pcm, sr_decoded = independent.decode(row["bytes"], row["codec"])
        n_samples, rms, peak = independent.metrics(pcm)
        decode_ok = True
    except ValueError:
        decode_ok = False
    expected = row["sr_hz"] * row["dur_ms"] / 1000.0
    valid = (
        decode_ok
        and row["sr_hz"] > 0
        and row["dur_ms"] > 0
        and sr_decoded == row["sr_hz"]
        and expected > 0
        and abs(n_samples - expected) <= 0.1 * expected
    )
    return (
        *(row[c] for c in ("clip_id", "bucket", "ts", "sr_hz", "dur_ms", "codec", "transcript")),
        decode_ok,
        n_samples,
        rms,
        peak,
        bool(valid),
    )


def _transcript_rows(rows: list[dict]) -> list[tuple]:
    out = []
    for row in rows:
        i = row["i"]
        rng = np.random.default_rng([SEED, 9_000_000 + i])
        if i % 5 == 4:  # ~20% of clips never get a late transcript
            continue
        if i % 20 == 3:  # 5%: delay beyond the 5-min join window => unmatched
            delay = float(rng.uniform(360.0, 600.0))
        else:
            delay = float(rng.uniform(0.0, 240.0))
        t_ts = row["ts"] + timedelta(seconds=delay)
        out.append((row["clip_id"], row["transcript"], t_ts))
        if i % 101 == 3:  # ~1% duplicates (dedup / exactly-once check)
            out.append(out[-1])
        if i % 37 == 2:  # ~3% orphans: transcript with no matching clip
            out.append((f"zz{i:012d}", f"orphan {i}", t_ts))
    return out


def _gen_chunk(span: tuple[int, int]) -> tuple[list[dict], list[tuple]]:
    rows = [_row(i) for i in range(span[0], span[1])]
    return rows, [_golden_decode(r) for r in rows]


def generate_fixtures(out_dir: str, n_rows: int) -> dict:
    """Generate clips + transcripts_late + golden_clips parquet into out_dir.

    Rows are a pure function of their index, so generation parallelizes
    across processes without affecting determinism.
    """
    os.makedirs(out_dir, exist_ok=True)
    spans = [(lo, min(lo + 1000, n_rows)) for lo in range(0, n_rows, 1000)]
    if len(spans) > 1:
        from concurrent.futures import ProcessPoolExecutor

        with ProcessPoolExecutor(max_workers=min(16, os.cpu_count() or 4)) as ex:
            chunks = list(ex.map(_gen_chunk, spans))
    else:
        chunks = [_gen_chunk(s) for s in spans]
    rows = [r for c in chunks for r in c[0]]
    golden = [g for c in chunks for g in c[1]]

    clips = _table(CLIPS_SCHEMA, [tuple(r[n] for n in CLIPS_SCHEMA.names) for r in rows])
    # Bounded row groups: the row group is the scan-split unit (the engine's
    # analog of the reference's native raster block windows, geobeam/io.py:79-81);
    # ~256 rows x ~50 KB payloads keeps each unit ~13 MB and splittable.
    _write_table_atomic(
        clips, os.path.join(out_dir, "clips.parquet"), compression="zstd", row_group_size=256
    )
    trows = _transcript_rows(rows)
    transcripts = pa.schema(
        {"t_clip_id": pa.string(), "t_transcript": pa.string(), "t_ts": pa.timestamp("us")}
    )
    _write_table_atomic(
        _table(transcripts, trows),
        os.path.join(out_dir, "transcripts_late.parquet"),
        compression="zstd",
    )
    _write_table_atomic(
        _table(_GOLDEN_CLIPS_SCHEMA, golden),
        os.path.join(out_dir, "golden_clips.parquet"),
        compression="zstd",
    )

    manifest = {
        "version": FIXTURE_VERSION,
        "seed": SEED,
        "n_rows": n_rows,
        "n_transcripts": len(trows),
        "n_valid": sum(1 for g in golden if g[-1]),
    }
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    tmp = f"{manifest_path}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, manifest_path)
    return manifest


# frame params of the audio_frame_rms driver query — the golden_frames
# oracle mirrors them exactly
FRAME_MS, HOP_MS = 100, 50
GOLDEN_FRAMES_MAX_ROWS = 3_000  # test-scale artifact (driver gate = sf0.01)


def _frame_rms(pcm: np.ndarray, sr: int) -> tuple[int, int, list[float]]:
    """(frame, hop, per-frame RMS rounded like round(x, 6)): the numpy
    oracle of functions.audio.explode_frames. Matches the Catalyst
    expression exactly: sequential left-to-right double accumulation over
    the float32 slice, truncating int frame/hop, tail dropped."""
    frame = max(1, int(sr * FRAME_MS / 1000))
    hop = max(1, int(sr * HOP_MS / 1000))
    n = pcm.shape[0]
    if n < frame:
        return frame, hop, []
    n_frames = (n - frame) // hop + 1
    sq = pcm.astype(np.float64) ** 2
    idx = np.arange(n_frames)[:, None] * hop + np.arange(frame)[None, :]
    rms = np.sqrt(np.cumsum(sq[idx], axis=1)[:, -1] / float(frame))
    return frame, hop, [_spark_round6(float(r)) for r in rms]


def _passes_precheck(row: dict) -> bool:
    """The engine's precheck_predicate: it excludes these rows before decode."""
    return bool(
        row["sr_hz"] > 0
        and row["dur_ms"] > 0
        and row["codec"] in independent.KNOWN_CODECS
        and row["bytes"]
    )


def _frames_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    if not _passes_precheck(row):
        return []
    return [(row["clip_id"], i, r) for i, r in enumerate(_frame_rms(pcm, sr)[2])]


def _spectral_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    if not _passes_precheck(row):
        return []
    c, b, r = independent.spectral_features(pcm, sr)
    return [(row["clip_id"], _spark_round6(c), _spark_round6(b), _spark_round6(r))]


def ensure_golden_frames(out_dir: str, n_rows: int) -> str | None:
    """Idempotently write golden_frames.parquet (clip_id, frame_idx,
    frame_rms) — the independent per-frame oracle for audio_frame_rms.
    Test-scale only (skipped above GOLDEN_FRAMES_MAX_ROWS): the driver's
    correctness gate runs at sf0.01; bench scales don't read it."""
    if n_rows > GOLDEN_FRAMES_MAX_ROWS:
        return None
    schema = pa.schema({"clip_id": pa.string(), "frame_idx": pa.int32(), "frame_rms": pa.float64()})
    return _per_clip_golden(
        out_dir, os.path.dirname(out_dir), "golden_frames.parquet", _frames_kernel, schema
    )


def ensure_golden_spectral(out_dir: str, n_rows: int) -> str | None:
    """Idempotent golden_spectral.parquet: per-clip FFT features
    (independent.spectral_features, pinned bit-identical to the engine's
    kernel) on an independent decode. Test-scale only."""
    if n_rows > GOLDEN_FRAMES_MAX_ROWS:
        return None
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "spectral_centroid_hz": pa.float64(),
            "spectral_bandwidth_hz": pa.float64(),
            "spectral_rolloff_hz": pa.float64(),
        }
    )
    return _per_clip_golden(
        out_dir, os.path.dirname(out_dir), "golden_spectral.parquet", _spectral_kernel, schema
    )


def ensure_fixtures(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Idempotently materialize fixtures for the given sf dir; returns path."""
    out_dir = fixtures_dir_for(sf_dir, root)
    manifest_path = os.path.join(out_dir, "MANIFEST.json")
    n_rows = rows_for_sf(sf_from_dir(sf_dir))
    current = False
    if os.path.exists(manifest_path):
        try:
            with open(manifest_path) as f:
                m = json.load(f)
            current = m.get("version") == FIXTURE_VERSION and m.get("n_rows") == n_rows
        except (json.JSONDecodeError, OSError):
            pass
    if not current:
        if os.path.isdir(out_dir):
            # version/row-count mismatch: wipe the WHOLE sf dir. Every other
            # artifact in it (golden_*, audio_dupes, images, d256
            # embeddings) is existence-gated and derived — leaving them
            # would silently pair v(N-1) goldens with v(N) clips. All of
            # them regenerate lazily and deterministically.
            import shutil

            shutil.rmtree(out_dir)
        generate_fixtures(out_dir, n_rows)
    ensure_golden_frames(out_dir, n_rows)
    ensure_golden_spectral(out_dir, n_rows)
    return out_dir


# ---------------------------------------------------------------------------
# Embedding goldens: LSH / IVF / IVF-PQ top-k and near-dup pairs. The
# parameters are literals that mirror plans/training_data.py.
# ---------------------------------------------------------------------------

_TOPK_SCHEMA = pa.schema(
    {"query_id": pa.int64(), "neighbor_id": pa.int64(), "cosine": pa.float64(), "rank": pa.int32()}
)
_ANN_SEED = 42
_MAX_QUERY_ID = 20  # queries: vec_id < 20


def _embeddings(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(vec_id int64[n], embedding float32[n, dim])."""
    t = pq.read_table(path, columns=["vec_id", "embedding"])
    ids = np.asarray(t.column("vec_id").to_pylist(), dtype=np.int64)
    return ids, np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)


def _embedding_golden(
    sf_dir: str,
    root: str,
    name: str,
    build: Callable[[np.ndarray, np.ndarray], pa.Table],
    emb_path: str | None = None,
) -> str | None:
    """``build(ids, vecs)`` over ``emb_path`` (default: the sf dir's
    embeddings.parquet); None when that input table is missing."""
    emb_path = emb_path or os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(emb_path):
        return None
    return _cached(sf_dir, root, name, lambda: build(*_embeddings(emb_path)))


def _ranked(scored: list[tuple]) -> list[tuple]:
    """(neighbor id, cosine, ...) tuples in the Spark queries' order:
    rounded cosine descending, then neighbor id."""
    return sorted(scored, key=lambda x: (-x[1], x[0]))


def _topk_rows(qid: int, scored: list[tuple[int, float]], k: int = 5) -> list[tuple]:
    """(query_id, neighbor_id, cosine, rank) rows of the k best neighbors."""
    return [(int(qid), nid, cos, rank) for rank, (nid, cos) in enumerate(_ranked(scored)[:k], 1)]


def _pairs_at_least(ids: list, v: np.ndarray, threshold: float) -> list[tuple]:
    """(id_a, id_b, cosine) with id_a < id_b for every pair of float64 rows
    whose fold-order cosine is >= ``threshold``. One matmul screens all
    pairs (order difference ~1e-15, far inside the 1e-3 screen margin);
    only the pairs near or above the threshold are re-scored with the
    exact sequential fold, so the compared values are bit-for-bit Spark's
    at O(N^2) cost only in the cheap matmul."""
    norms = np.linalg.norm(v, axis=1)
    norms[norms == 0] = 1.0
    approx = (v @ v.T) / np.outer(norms, norms)
    rows = []
    for a, b in zip(*np.where(np.triu(approx >= threshold - 1e-3, k=1))):
        cos = _fold_cos(v[a], v[b])
        if cos >= threshold:
            rows.append((*sorted((ids[a], ids[b])), cos))
    return rows


def _ivf_cells(vecs: np.ndarray, n_probe: int = 8) -> tuple[np.ndarray, np.ndarray]:
    """(corpus cell, probed cells) per row: argmax / top-``n_probe``
    cosine against the 64 seeded independent.ivf_centroids."""
    cents = independent.ivf_centroids(vecs.shape[1], 64, _ANN_SEED)
    v = vecs.astype(np.float64)
    norms = np.linalg.norm(v, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    sims = (v / norms) @ cents.T
    return sims.argmax(axis=1), np.argsort(-sims, axis=1)[:, :n_probe]


def _probed(qi: int, cells: np.ndarray, probe: np.ndarray) -> np.ndarray:
    """Candidate rows of query row ``qi``: every other row in a probed cell."""
    cand = np.isin(cells, probe[qi])
    cand[qi] = False
    return np.where(cand)[0]


def _lsh_topk(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    n_planes, n_tables = 6, 24
    planes = independent.all_planes(vecs.shape[1], n_planes, n_tables, _ANN_SEED)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    bits = (vecs.astype(np.float64) @ planes.T) > 0
    buckets = bits.reshape(len(ids), n_tables, n_planes).astype(np.int64) @ weights
    rows = []
    for qi in np.where(ids < _MAX_QUERY_ID)[0]:
        cand = (buckets == buckets[qi]).any(axis=1)  # shares a bucket in any table
        cand[qi] = False
        qv = vecs[qi].astype(np.float64)
        scored = [
            (int(ids[ci]), _fold_cos(qv, vecs[ci].astype(np.float64)))
            for ci in np.where(cand)[0]
        ]
        rows += _topk_rows(ids[qi], scored)
    return _table(_TOPK_SCHEMA, rows)


def ensure_golden_lsh_topk(
    sf_dir: str,
    root: str = DEFAULT_FIXTURES_ROOT,
    emb_path: str | None = None,
    out_name: str = "golden_lsh_topk.parquet",
) -> str | None:
    """Numpy-computed expected output of similarity.lsh_topk (k=5, 6
    planes x 24 tables, seed 42, queries vec_id < 20) over the driver's
    embeddings table — an independent implementation of the SAME
    deterministic algorithm (seeded hyperplanes make LSH reproducible), so
    the driver gate can hash-verify the ANN path instead of rows-only.
    Cosines use the fold order; ranking uses the ROUNDED cosine with
    neighbor-id tie-breaks, exactly like the Spark query.

    ``emb_path``/``out_name`` parameterize the input table (the dim-256
    fixture embeddings reuse this golden with their own file).
    """
    return _embedding_golden(sf_dir, root, out_name, _lsh_topk, emb_path)


def _ivf_topk(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    cells, probe = _ivf_cells(vecs)
    rows = []
    for qi in np.where(ids < _MAX_QUERY_ID)[0]:
        qv = vecs[qi].astype(np.float64)
        scored = [
            (int(ids[ci]), _fold_cos(qv, vecs[ci].astype(np.float64)))
            for ci in _probed(qi, cells, probe)
        ]
        rows += _topk_rows(ids[qi], scored)
    return _table(_TOPK_SCHEMA, rows)


def ensure_golden_ivf_topk(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str | None:
    """Numpy golden for similarity.ivf_topk (k=5, 64 cells, 8 probes, seed
    42, queries vec_id < 20) over the driver's embeddings table.
    Deterministic seeded centroids make IVF as reproducible as the LSH
    golden: corpus cell = argmax cosine vs independent.ivf_centroids,
    query probes = argsort top n_probe, candidates re-ranked with the same
    fold-order cosine and (rounded cosine, neighbor id) order the Spark
    query uses.
    """
    return _embedding_golden(sf_dir, root, "golden_ivf_topk.parquet", _ivf_topk)


def _ivfpq_topk(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    m_sub, k_codes, refine = 8, 32, 50
    dsub = vecs.shape[1] // m_sub
    # training sample per the engine spec: the 256 lowest-vec_id vectors
    sample = vecs[np.argsort(ids, kind="stable")[:256]].astype(np.float64)
    books = independent.pq_train_codebooks(sample, m_sub, k_codes, _ANN_SEED)
    cells, probe = _ivf_cells(vecs)
    vs = vecs.astype(np.float64).reshape(len(ids), m_sub, dsub)
    codes = np.empty((len(ids), m_sub), dtype=np.int64)
    for s in range(m_sub):
        d2 = ((vs[:, s, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
        codes[:, s] = d2.argmin(axis=1)
    subs = np.arange(m_sub)
    # codeword norm² LUT: fold-ordered per the ADC spec
    lut_nrm = np.array([[_fold(w * w) for w in books[s]] for s in range(m_sub)])

    rows = []
    for qi in np.where(ids < _MAX_QUERY_ID)[0]:
        qv = vecs[qi].astype(np.float64)
        qs = qv.reshape(m_sub, dsub)
        q_norm = np.sqrt(_fold(qv * qv))
        lut_dot = np.array([[_fold(qs[s] * w) for w in books[s]] for s in range(m_sub)])
        scored = [
            (
                int(ids[ci]),
                _spark_round6(
                    _fold(lut_dot[subs, codes[ci]])
                    / (q_norm * np.sqrt(_fold(lut_nrm[subs, codes[ci]])))
                ),
                ci,
            )
            for ci in _probed(qi, cells, probe)
        ]
        exact = [
            (nid, _fold_cos(qv, vecs[ci].astype(np.float64)))
            for nid, _, ci in _ranked(scored)[:refine]
        ]
        rows += _topk_rows(ids[qi], exact)
    return _table(_TOPK_SCHEMA, rows)


def ensure_golden_ivfpq_topk(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str | None:
    """Numpy golden for similarity.ivfpq_topk (k=5, 64 cells, 8 probes, 8
    subspaces x 32 codes, refine 50, seed 42, queries vec_id < 20): IVF
    cell probing + ADC lookup-table candidate scoring + exact refine, all
    deterministic (seeded centroids + codebooks), mirrored independently
    step for step.

    Candidate scoring is the documented ADC identity — per-query LUT
    entries are fold-ordered dot products of query subvectors vs
    codewords, the candidate score is the fold-ordered sum of its 8 LUT
    entries over ``q_norm * sqrt(fold-sum of codeword norm² entries)``,
    rounded HALF-UP to 6 places — matching operators/similarity's ADC
    kernel bit-for-bit without ever reconstructing a dim-float vector.
    Shortlist = top 50 by (approx desc, neighbor id); exact fold-order
    cosines rank the final top-k."""
    return _embedding_golden(sf_dir, root, "golden_ivfpq_topk_v2.parquet", _ivfpq_topk)


def ensure_golden_near_dups(
    sf_dir: str,
    root: str = DEFAULT_FIXTURES_ROOT,
    threshold: float = 0.45,
    emb_path: str | None = None,
    out_name: str = "golden_near_dups.parquet",
) -> str | None:
    """Numpy golden for the embedding near-dup queries: ALL-pairs exact
    cosine >= threshold with the SAME sequential (fold) accumulation
    Spark's aggregate uses (the DuckDB ``list_cosine_similarity`` oracle
    accumulates in a different order, so a cosine sitting within ~1e-15
    of a 1e-6 rounding boundary could round differently in the two
    engines and flip the hash gate)."""
    schema = pa.schema({"id_a": pa.int64(), "id_b": pa.int64(), "cosine": pa.float64()})

    def build(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
        return _table(schema, _pairs_at_least(ids.tolist(), vecs.astype(np.float64), threshold))

    return _embedding_golden(sf_dir, root, out_name, build, emb_path)


EMB_HD_DIM = 256
EMB_HD_ROWS_PER_SF = 20_000  # sf0.01 -> 500, sf0.1 -> 2000 (mirrors testdata)


def ensure_embeddings_hd(
    sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT, dim: int = EMB_HD_DIM
) -> str:
    """Idempotent fixtures/<sf>/embeddings_d{dim}.parquet: (vec_id long,
    embedding array<float{dim}>).

    The driver's testdata embeddings are dim=64; this table exercises the
    ANN gate at dim>=256, so sketch/probe costs run at realistic width.
    Deterministic seeded gaussians; ~4% of rows are planted
    near-duplicates of their predecessor (v + 0.05*noise, cosine ~0.9988)
    so the near-dup query has planted positives; everything else is
    near-orthogonal at this dim (|cos| ~ 1/sqrt(dim) ~ 0.06).
    """

    def build() -> pa.Table:
        n = max(500, int(EMB_HD_ROWS_PER_SF * sf_from_dir(sf_dir)))
        rng = np.random.default_rng([SEED, 5_000_000, dim])
        vecs = rng.standard_normal((n, dim)).astype(np.float32)
        for i in range(1, n):
            if i % 25 == 7:  # planted near-dup of the previous row
                vecs[i] = vecs[i - 1] + 0.05 * rng.standard_normal(dim).astype(np.float32)
        schema = pa.schema({"vec_id": pa.int64(), "embedding": pa.list_(pa.float32())})
        return _table(schema, list(zip(range(n), vecs.tolist())))

    return _cached(sf_dir, root, f"embeddings_d{dim}.parquet", build)


# ---------------------------------------------------------------------------
# Image fixture + thumbnail / near-dup goldens (every container decoded from
# its spec, no imaging library)
# ---------------------------------------------------------------------------

IMG_ROWS_PER_SF = 6400  # sf0.01 -> 64, sf0.1 -> 640
THUMB_W, THUMB_H = 16, 12


_IMG_FMTS = ("ppm", "bmp", "pgm", "png", "jpeg", "gif", "tiff")
_PNG_CTS = (2, 6, 0)  # RGB, RGBA(opaque), grayscale — all lossless round-trips
# GIF is indexed color: its fixture images draw pixels from this fixed
# 64-color palette so the (lossless) encode always fits one color table.
_GIF_PAL = np.random.default_rng([42, 555_000]).integers(0, 256, (64, 3), dtype=np.uint8)
# (subsampling, gray, restart_interval): exercises 4:4:4, 4:2:0,
# single-component grayscale, and DRI/RSTn restart handling in BOTH
# decoders. JPEG is lossy — goldens always come from the independent
# decode of the actual bytes, so lossiness never enters the compare.
_JPG_VARIANTS = (("444", False, 0), ("420", False, 0), ("444", True, 0), ("420", False, 3))
# (packbits, big_endian): exercises both TIFF compressions and byte orders
_TIFF_VARIANTS = ((False, False), (True, False), (False, True), (True, True))


def _is_gray_fmt(fmt: str, png_ct: int, jpg_var: tuple[str, bool, int]) -> bool:
    """Containers that store one channel: feed them identical-channel
    images so the uniform (h, w, 3) decode contract holds exactly."""
    return (
        fmt == "pgm"
        or (fmt == "png" and png_ct == 0)
        or (fmt == "jpeg" and jpg_var[1])
    )


def _encode_image(
    img: np.ndarray,
    fmt: str,
    png_ct: int = 2,
    jpg_var: tuple[str, bool, int] = _JPG_VARIANTS[0],
    gif_interlace: bool = False,
    tiff_var: tuple[bool, bool] = _TIFF_VARIANTS[0],
) -> bytes:
    if fmt == "ppm":
        return independent.ppm_bytes(img)
    if fmt == "bmp":
        return independent.bmp_bytes(img)
    if fmt == "png":
        return independent.png_bytes(img, png_ct)
    if fmt == "jpeg":
        sub, gray, rst = jpg_var
        return independent.jpeg_bytes(
            img, subsampling=sub, gray=gray, restart_interval=rst
        )
    if fmt == "gif":
        return independent.gif_bytes(img, interlace=gif_interlace)
    if fmt == "tiff":
        pb, be = tiff_var
        return independent.tiff_bytes(img, packbits=pb, big_endian=be)
    return independent.pgm_bytes(img)


def _image_rows(n: int) -> list[tuple]:
    rows = []
    prev_img, prev_fmt, prev_ct = None, None, 2
    prev_jpgv = _JPG_VARIANTS[0]
    prev_gif_inter = False
    prev_tiffv = _TIFF_VARIANTS[0]
    for i in range(n):
        rng = np.random.default_rng([SEED, 9_000_000 + i])
        png_ct = _PNG_CTS[(i // 4) % 3]
        jpg_var = _JPG_VARIANTS[(i // 5) % 4]
        gif_inter = ((i // 6) % 2) == 1
        tiff_var = _TIFF_VARIANTS[(i // 7) % 4]
        if i % 9 == 4 and prev_img is not None:
            fmt, png_ct, jpg_var, gif_inter = prev_fmt, prev_ct, prev_jpgv, prev_gif_inter
            tiff_var = prev_tiffv
            if fmt == "gif":
                # planted near-dup, palette-preserving: flip ~3% of pixels
                img = prev_img.copy()
                mask = rng.random(prev_img.shape[:2]) < 0.03
                img[mask] = _GIF_PAL[rng.integers(0, 64, int(mask.sum()))]
            else:
                # planted near-dup: same dims/container as i-1, pixels +-2
                noise = rng.integers(-2, 3, prev_img.shape)
                img = np.clip(prev_img.astype(np.int16) + noise, 0, 255).astype(np.uint8)
                if _is_gray_fmt(fmt, png_ct, jpg_var):
                    # keep channels identical for the grayscale containers
                    img = np.repeat(img[:, :, :1], 3, axis=2)
        else:
            w = 16 + int(rng.integers(0, 49))
            h = 12 + int(rng.integers(0, 37))
            if i % 9 == 3:
                # pre-plant slot (i+1 will be its near-dup): walk formats
                # explicitly — a plain i%k cycle degenerates against the
                # i%9 plant rule and would plant only a subset of formats
                fmt = _IMG_FMTS[(i // 9) % 7]
            else:
                fmt = _IMG_FMTS[i % 7]
            if fmt == "gif":
                img = _GIF_PAL[rng.integers(0, 64, (h, w))]
            elif _is_gray_fmt(fmt, png_ct, jpg_var):
                gray = rng.integers(0, 256, (h, w), dtype=np.uint8)
                img = np.repeat(gray[:, :, None], 3, axis=2)
            else:
                img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        buf = _encode_image(img, fmt, png_ct, jpg_var, gif_inter, tiff_var)
        prev_img, prev_fmt, prev_ct = img, fmt, png_ct
        prev_jpgv, prev_gif_inter, prev_tiffv = jpg_var, gif_inter, tiff_var
        if i % 13 == 5:  # truncate mid-raster; magic bytes survive
            buf = buf[: max(8, int(len(buf) * 0.6))]
        rows.append((f"img{i:06d}", buf, fmt, int(img.shape[1]), int(img.shape[0])))
    return rows


def ensure_images(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Idempotent fixtures/<sf>/images_v5.parquet: (img_id string, bytes
    binary, fmt string, width int32, height int32).

    Deterministic noise RGB images cycling PPM (P6, with a header
    comment), 24bpp BMP, P5 PGM, 8-bit PNG, baseline JPEG, GIF and TIFF
    containers. PNGs cycle color types RGB / opaque-RGBA / grayscale and
    ALL five scanline filters, so every unfilter path decodes for real;
    JPEGs cycle 4:4:4 / 4:2:0 / grayscale / restart-interval variants so
    every entropy + upsample path decodes for real; GIFs draw pixels from
    a fixed 64-color palette (indexed color is the container's model) and
    alternate interlaced / sequential so both row orders decode for real;
    TIFFs (the REFERENCE's raster container, from spec instead of
    rasterio) cycle PackBits on/off x little/big-endian.
    Grayscale rows keep identical channels; JPEG rows are lossy by design
    — goldens always derive from the independent decode of the stored
    bytes, never from the pre-encode pixels. All encoded by the
    INDEPENDENT from-spec writers in fixtures.independent (the engine's
    decoders in functions/imaging.py never touch these bytes at
    generation time). Planted content: every i%9==4 image is a
    near-duplicate of image i-1 (same dims, same container+variant;
    pixels +-2 pre-encode, except GIF dups flip ~3% of pixels to other
    palette colors — a +-2 perturbation would leave the 64-color table)
    for the image near-dup query. ~8% of payloads are truncated
    mid-raster: decode-failure rows the engine must surface as NULL
    thumbnails / drop from embeddings (F1/make_valid semantics).
    """
    schema = pa.schema(
        {
            "img_id": pa.string(),
            "bytes": pa.binary(),
            "fmt": pa.string(),
            "width": pa.int32(),
            "height": pa.int32(),
        }
    )
    n = max(64, int(IMG_ROWS_PER_SF * sf_from_dir(sf_dir)))
    return _cached(sf_dir, root, "images_v5.parquet", lambda: _table(schema, _image_rows(n)))


def _thumbnail(img_id: str, buf: bytes, fmt: str) -> tuple:
    try:
        small = independent.nn_resize(independent.decode_any_image(buf), THUMB_W, THUMB_H)
    except ValueError:
        return img_id, fmt, None, None  # truncated payload: NULL thumbnail
    thumb = f"P6\n{THUMB_W} {THUMB_H}\n255\n".encode() + small.tobytes()
    return img_id, fmt, _md5(thumb), len(thumb)


def ensure_golden_thumbnails(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the image_thumbnails driver query (THUMB_W x THUMB_H):
    per image, the container type, md5 + length of the expected thumbnail
    bytes (NULL for truncated payloads). Decode/resize via the independent
    kernels (per-pixel NN resize); the output PPM header is written from
    the documented contract ("P6\\n{w} {h}\\n255\\n" + raw RGB) — the
    engine's encode_ppm never runs here.
    """
    schema = pa.schema(
        {
            "img_id": pa.string(),
            "container": pa.string(),
            "thumb_md5": pa.string(),
            "thumb_len": pa.int64(),
        }
    )

    def build() -> pa.Table:
        t = pq.read_table(ensure_images(sf_dir, root), columns=["img_id", "bytes", "fmt"])
        return _table(schema, [_thumbnail(*r.values()) for r in t.to_pylist()])

    return _cached(sf_dir, root, "golden_thumbnails_v5.parquet", build)


EMB_IMG_W, EMB_IMG_H = 8, 6  # pixel-embedding dims: 8*6*3 = 144 floats


def ensure_golden_image_near_dups(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the image_near_dups driver query: ALL-pairs exact cosine
    >= 0.9 over the independent pixel embeddings of every DECODABLE
    fixture image (truncated payloads excluded on both sides, per the
    operator's drop-invalid contract).

    Embeddings come from fixtures.independent.pixel_embedding_independent
    (per-pixel-loop decode+resize, mean-centered float32); cosines use
    Spark's sequential fold accumulation on the float32 values
    (``_pairs_at_least``, as in ensure_golden_near_dups).
    """
    schema = pa.schema({"id_a": pa.string(), "id_b": pa.string(), "cosine": pa.float64()})

    def build() -> pa.Table:
        t = pq.read_table(ensure_images(sf_dir, root), columns=["img_id", "bytes"])
        ids, vecs = [], []
        for img_id, buf in zip(t.column("img_id").to_pylist(), t.column("bytes").to_pylist()):
            try:
                vecs.append(independent.pixel_embedding_independent(buf, EMB_IMG_W, EMB_IMG_H))
            except ValueError:
                continue  # truncated payload: dropped, both sides
            ids.append(img_id)
        return _table(schema, _pairs_at_least(ids, np.stack(vecs).astype(np.float64), 0.9))

    return _cached(sf_dir, root, "golden_image_near_dups_v5.parquet", build)


# ---------------------------------------------------------------------------
# audio near-dup fixtures: planted duplicate clips + BER golden
# ---------------------------------------------------------------------------

AUDIO_DUP_ROWS_PER_SF = 4800  # sf0.01 -> 48, sf0.1 -> 480
AUDIO_DUP_MAX_BER = 0.10


def ensure_audio_dupes(
    sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT, n_override: int | None = None
) -> str:
    """Idempotent fixtures/<sf>/audio_dupes.parquet: (clip_id string,
    bytes binary, sr_hz int32, dur_ms int32, codec string) — a clip
    corpus with PLANTED near-duplicates for the audio_near_dups query:

    * ``i%7==3``: gain-0.6 copy of clip i-1 (volume shift; fingerprint
      bits are sign-invariant, BER ~0).
    * ``i%7==5``: bit-identical PCM of clip i-2 re-encoded in a
      DIFFERENT (lossy stand-in) codec — the crawl-ingest re-encode case.
    * ``i%11==7``: 35 dB-SNR additive-noise copy of i-1 (measured BER
      0.04-0.08, inside the 0.10 gate with margin).
    * ``i%13==9``: 20 dB-SNR copy of i-1 — a deliberate NEAR-MISS
      (measured BER 0.25-0.32): it may surface as a candidate via a
      lucky shared token but must be rejected by the exact BER verify.
    * ``i%17==11``: truncated payload (decode failure => dropped row).

    Payloads are encoded by fixtures.independent (the engine's codecs
    module never touches these bytes at generation time). Bench-scale
    corpora (``n > 2000``) stream parallel 1000-row blocks into the one
    crash-safe write (the variant chain resets at block starts — fine for
    scale corpora; gate-scale corpora keep the single serial chain so
    goldens are stable).
    """
    n = n_override or max(48, int(AUDIO_DUP_ROWS_PER_SF * sf_from_dir(sf_dir)))

    def build() -> pa.Table | Iterator[pa.Table]:
        if n <= 2000:
            return _audio_dupe_block((0, n))
        return _audio_dupe_blocks([(lo, min(lo + 1000, n)) for lo in range(0, n, 1000)])

    # 256-row groups like every binary-payload fixture: one giant row
    # group makes the whole file ONE Spark split and serializes the scan
    # (measured: the 30k-clip bench ran local[2] == local[8] == 81 s)
    return _cached(sf_dir, root, "audio_dupes.parquet", build, row_group_size=256)


def _audio_dupe_blocks(spans: list[tuple[int, int]]) -> Iterator[pa.Table]:
    from concurrent.futures import ProcessPoolExecutor

    with ProcessPoolExecutor(max_workers=8) as pool:
        yield from pool.map(_audio_dupe_block, spans)


def _audio_dupe_block(span: tuple[int, int]) -> pa.Table:
    lo_i, hi_i = span
    prev: list[tuple[np.ndarray, int, int, str]] = []  # (pcm, sr, dur, codec)
    rows = []
    for i in range(lo_i, hi_i):
        rng = np.random.default_rng([SEED, 11_000_000 + i])
        if i % 7 == 3 and len(prev) >= 1:
            pcm0, sr, dur, codec = prev[-1]
            pcm = np.clip(0.6 * pcm0, -1.0, 1.0).astype(np.float32)
        elif i % 7 == 5 and len(prev) >= 2:
            pcm0, sr, dur, codec0 = prev[-2]
            pcm = pcm0
            codec = "mp3" if codec0 != "mp3" else "wav"
        elif (i % 11 == 7 or i % 13 == 9) and len(prev) >= 1:
            pcm0, sr, dur, codec = prev[-1]
            snr_db = 35.0 if i % 11 == 7 else 20.0
            rms = float(np.sqrt(np.mean(pcm0.astype(np.float64) ** 2)))
            nstd = rms * 10.0 ** (-snr_db / 20.0)
            pcm = np.clip(
                pcm0 + nstd * rng.standard_normal(pcm0.shape), -1.0, 1.0
            ).astype(np.float32)
        else:
            sr = _SR_CYCLE[i % 4]
            dur = 800 + (i * 331) % 1500
            codec = _CODEC_CYCLE[(i // 2) % 4]
            pcm = synth_pcm(5_000_000 + i, sr, dur)
        buf = independent.encode(pcm, sr, codec)
        if i % 17 == 11:
            buf = buf[: max(8, len(buf) // 3)]
        prev = (prev + [(pcm, sr, dur, codec)])[-2:]
        rows.append((f"ad{i:06d}", buf, sr, dur, codec))
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "bytes": pa.binary(),
            "sr_hz": pa.int32(),
            "dur_ms": pa.int32(),
            "codec": pa.string(),
        }
    )
    return _table(schema, rows)


def ensure_golden_audio_near_dups(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_near_dups driver query: ALL-pairs exact
    bit-error rate over the independent fingerprints of every DECODABLE
    fixture clip (equal token counts only — the duration-preserving
    transform contract), pairs with BER <= AUDIO_DUP_MAX_BER.

    Fingerprints come from fixtures.independent.audio_fingerprint (the
    per-frame-loop mirror of the engine kernel); BER uses the same
    mismatches/(16.0*n) float64 division the Catalyst expression
    performs, rounded like Spark's round(…, 6).

    Generation-time reachability assert: every golden pair must share at
    least one exact token at the same position, so the engine's
    Hamming-LSH candidate stage (exact sub-key sampling) can surface it
    — a planted pair failing this is a fixture bug and raises here
    rather than surfacing as a driver-gate mismatch.
    """
    schema = pa.schema({"id_a": pa.string(), "id_b": pa.string(), "ber": pa.float64()})

    def build() -> pa.Table:
        fps = [
            (row["clip_id"], toks)
            for row, pcm, sr in _decoded_clips(ensure_audio_dupes(sf_dir, root))
            if (toks := independent.audio_fingerprint(pcm, sr))
        ]
        rows = []
        for a, (id_a, fa) in enumerate(fps):
            for id_b, fb in fps[a + 1 :]:
                if len(fa) != len(fb):
                    continue
                ber = sum(bin(x ^ y).count("1") for x, y in zip(fa, fb)) / (16.0 * len(fa))
                if ber <= AUDIO_DUP_MAX_BER:
                    if not any(x == y for x, y in zip(fa, fb)):
                        raise AssertionError(
                            f"golden pair ({id_a}, {id_b}) shares no exact token: "
                            "unreachable by the candidate stage"
                        )
                    rows.append((*sorted((id_a, id_b)), _spark_round6(ber)))
        return _table(schema, sorted(rows))

    return _cached(sf_dir, root, "golden_audio_near_dups.parquet", build)


# ---------------------------------------------------------------------------
# Per-clip audio goldens over clips.parquet (one _per_clip_golden kernel each)
# ---------------------------------------------------------------------------

RESAMPLE_TARGET_SR = 16000


def _resample_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    q = _requantize16(independent.resample_linear(pcm, sr, RESAMPLE_TARGET_SR))
    return [(row["clip_id"], int(q.size), _md5(q.tobytes()))]


def ensure_golden_resample(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_resample_16k driver query: per DECODABLE clip,
    the md5 + length of the linear-resampled, int16-requantized PCM at
    RESAMPLE_TARGET_SR. Decode and resample both come from
    fixtures.independent (per-sample-loop mirror of the engine's
    vectorized kernel; identical explicit interpolation formula, so md5s
    are bit-exact)."""
    schema = pa.schema({"clip_id": pa.string(), "n_samples": pa.int32(), "pcm16_md5": pa.string()})
    return _per_clip_golden(
        ensure_fixtures(sf_dir, root), root, "golden_resample.parquet", _resample_kernel, schema
    )


def _vector_golden(
    sf_dir: str, root: str, name: str, column: str, fn: Callable[[np.ndarray, int], object]
) -> str:
    """A clip -> float-vector golden: ``fn(pcm, sr)`` with each element
    rounded by the engine's shared floor(x*1e6+0.5)/1e6 expression; a None
    vector (no full analysis frame after 16 kHz resampling) drops the clip."""

    def kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
        v = fn(pcm, sr)
        return [] if v is None else [(row["clip_id"], (np.floor(v * 1e6 + 0.5) / 1e6).tolist())]

    schema = pa.schema({"clip_id": pa.string(), column: pa.list_(pa.float64())})
    return _per_clip_golden(ensure_fixtures(sf_dir, root), root, name, kernel, schema)


def ensure_golden_mel(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_mel_features driver query: per decodable clip,
    the 16-element mean log-mel vector (independent.mel_mean — per-frame
    loop mirror)."""
    return _vector_golden(sf_dir, root, "golden_mel.parquet", "mel_mean", independent.mel_mean)


def ensure_golden_mfcc(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_mfcc driver query: per decodable clip, the
    13-element mean MFCC vector (independent.mfcc_mean — per-frame
    scalar-loop DCT-II mirror)."""
    return _vector_golden(sf_dir, root, "golden_mfcc.parquet", "mfcc_mean", independent.mfcc_mean)


def ensure_golden_pitch(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_pitch driver query: per decodable clip with at
    least one full 640-sample analysis segment after 16 kHz resampling,
    [f0_mean_hz, voiced_ratio] via independent.pitch_stats (per-frame
    scalar-walk peak picking vs the engine's vectorized mask)."""
    return _vector_golden(
        sf_dir, root, "golden_pitch.parquet", "pitch_stats", independent.pitch_stats
    )


def _segments_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    frame, hop, rms = _frame_rms(pcm, sr)
    if not rms:
        return []
    thr = max(0.1 * max(rms), 1e-4)
    out, i = [], 0
    while i < len(rms):
        if rms[i] > thr:
            a = i
            while i + 1 < len(rms) and rms[i + 1] > thr:
                i += 1
            payload = independent.encode(pcm[a * hop : i * hop + frame], sr, "wav")
            out.append(
                (
                    row["clip_id"],
                    len(out) + 1,
                    a * HOP_MS,
                    i * HOP_MS + FRAME_MS,
                    len(payload),
                    _md5(payload),
                )
            )
        i += 1
    return out


def ensure_golden_segments(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_extract_segments driver query: per decodable
    clip with >=1 frame, every contiguous speech run (round-6 frame RMS >
    max(0.1*max, 1e-4) — the audio_vad decision chain) with nominal
    frame-grid timestamps, byte length, and md5 of the RIFF/WAVE PCM16
    re-encode of the native-rate span [a*hop, b*hop+frame).

    Independent end to end: independent.decode, the cumsum frame-RMS
    formula (the golden_frames spec), a scalar island scan, and
    independent.encode — the engine's codecs module never touches these
    bytes."""
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "seg_idx": pa.int64(),
            "start_ms": pa.int64(),
            "end_ms": pa.int64(),
            "n_bytes": pa.int64(),
            "seg_md5": pa.string(),
        }
    )
    return _per_clip_golden(
        ensure_fixtures(sf_dir, root), root, "golden_segments.parquet", _segments_kernel, schema
    )


def _fp_query_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    i = int(row["clip_id"][2:])
    if i % 7 != 1:
        return []
    frame = int(round(sr * 0.064))
    hop = frame // 2
    snip_len = int(round(sr * 1.2))
    start = 2 * ((i // 7) % 4) * hop  # even-hop boundary => aligned frames
    if hop <= 0 or start + snip_len > pcm.shape[0]:
        return []
    gain = np.float32(1.0) if (i // 7) % 2 == 0 else np.float32(0.5)
    snippet = pcm[start : start + snip_len] * gain
    return [
        (
            f"q{i:012d}",
            independent.encode(snippet, sr, "wav"),
            sr,
            "wav",
            row["ts"] + timedelta(milliseconds=50),
        )
    ]


def ensure_fp_queries(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Query-snippet fixture for the fingerprint QBE retrieval query
    (operators/retrieval.py): every 7th clip (i % 7 == 1) that decodes and
    is long enough donates a ~1.2 s slice starting on an even frame-hop
    boundary, alternately at unit gain (bit-exact token subsequence after
    the PCM16 re-encode round-trip) and at gain 0.5 (gain-invariance plus
    a deterministic half-LSB requantization dither — the realistic case),
    re-encoded as a RIFF/WAVE upload.

    Schema: (query_id string, bytes binary, sr_hz int32, codec string,
    ts timestamp) — the snippet table a retrieval service would ingest.
    All slicing uses the INDEPENDENT decoder so the fixture never touches
    engine kernels. 256-row groups keep the scan splittable: a
    single-row-group file gives Spark one effective scan split however
    many byte ranges the planner cuts, which serialized the snippet
    fingerprint pass on one task.
    """
    schema = pa.schema(
        {
            "query_id": pa.string(),
            "bytes": pa.binary(),
            "sr_hz": pa.int32(),
            "codec": pa.string(),
            "ts": pa.timestamp("us"),
        }
    )
    return _per_clip_golden(
        ensure_fixtures(sf_dir, root),
        root,
        "fp_queries.parquet",
        _fp_query_kernel,
        schema,
        row_group_size=256,
    )


def ensure_golden_fp_match(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_fp_match driver query: exhaustive mirror of the
    bigram-key offset vote (operators/retrieval.py) in plain Python dicts —
    independent.decode + independent.audio_fingerprint on BOTH sides, a full
    corpus inverted index (no capping, no sampling), top-1 per query with
    the (votes desc, clip_id asc, offset asc) tiebreak, min 4 votes."""
    schema = pa.schema(
        {
            "query_id": pa.string(),
            "clip_id": pa.string(),
            "offset_frames": pa.int64(),
            "votes": pa.int64(),
        }
    )

    def build() -> pa.Table:
        index: dict[int, list[tuple[str, int]]] = {}
        clips = os.path.join(ensure_fixtures(sf_dir, root), "clips.parquet")
        for row, pcm, sr in _decoded_clips(clips):
            toks = independent.audio_fingerprint(pcm, sr)
            for t in range(len(toks) - 1):
                index.setdefault((toks[t] << 16) | toks[t + 1], []).append((row["clip_id"], t))
        rows = []
        for q in pq.read_table(ensure_fp_queries(sf_dir, root)).to_pylist():
            pcm, _sr = independent.decode(q["bytes"], "wav")
            toks = independent.audio_fingerprint(pcm, q["sr_hz"] or _sr)
            votes: dict[tuple[str, int], int] = {}
            for qt in range(len(toks) - 1):
                for cid, t in index.get((toks[qt] << 16) | toks[qt + 1], ()):
                    votes[(cid, t - qt)] = votes.get((cid, t - qt), 0) + 1
            if not votes:
                continue
            (cid, off), n = min(votes.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
            if n >= 4:
                rows.append((q["query_id"], cid, off, n))
        return _table(schema, rows)

    return _cached(sf_dir, root, "golden_fp_match.parquet", build)


def _wav_golden(
    sf_dir: str,
    root: str,
    name: str,
    column: str,
    transform: Callable[[dict, np.ndarray, int], np.ndarray],
) -> str:
    """A clip -> re-encoded audio golden: (clip_id, n_samples, md5 of the
    RIFF/WAVE PCM16 re-encode of ``transform(row, pcm, sr)`` by the
    independent encoder — the engine's codecs module never touches these
    bytes)."""

    def kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
        y = transform(row, pcm, sr)
        return [(row["clip_id"], y.shape[0], _md5(independent.encode(y, sr, "wav")))]

    schema = pa.schema({"clip_id": pa.string(), "n_samples": pa.int64(), column: pa.string()})
    return _per_clip_golden(ensure_fixtures(sf_dir, root), root, name, kernel, schema)


def ensure_golden_augment(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_augment_noise driver query: per decodable clip,
    the deterministically noise-mixed signal (independent.augment_noise;
    the noise generator seed spec is shared, the arithmetic is
    independently re-implemented scalar-wise)."""
    return _wav_golden(
        sf_dir,
        root,
        "golden_augment.parquet",
        "aug_md5",
        lambda row, pcm, sr: independent.augment_noise(pcm, sr, _clip_seed(row)),
    )


def ensure_golden_loudnorm(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_normalize_loudness driver query: per decodable
    clip, independent.normalize_loudness (scalar power/peak folds)."""
    return _wav_golden(
        sf_dir,
        root,
        "golden_loudnorm.parquet",
        "norm_md5",
        lambda row, pcm, sr: independent.normalize_loudness(pcm),
    )


def ensure_golden_reverb(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_augment_reverb driver query: per decodable
    clip, independent.augment_reverb (independent RIR envelope loop +
    scalar peak walks around the shared FFT core)."""
    return _wav_golden(
        sf_dir,
        root,
        "golden_reverb.parquet",
        "rev_md5",
        lambda row, pcm, sr: independent.augment_reverb(pcm, sr, _clip_seed(row)),
    )


def _speed_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    out = []
    for s in (0.9, 1.1):
        y = independent.resample_linear(pcm, round(sr * s), sr)
        out.append((row["clip_id"], s, y.shape[0], _md5(independent.encode(y, sr, "wav"))))
    return out


def ensure_golden_speed(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_speed_perturb driver query: per decodable clip
    and speed factor (0.9, 1.1), the md5 of the RIFF/WAVE PCM16 re-encode
    of independent.resample_linear(pcm, round(sr*speed), sr) — the
    independent per-sample-loop resampler composed with the independent
    encoder; the engine's codecs/audio modules never touch these bytes."""
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "speed": pa.float64(),
            "n_samples": pa.int64(),
            "aug_md5": pa.string(),
        }
    )
    return _per_clip_golden(
        ensure_fixtures(sf_dir, root), root, "golden_speed.parquet", _speed_kernel, schema
    )


def _specaugment_kernel(row: dict, pcm: np.ndarray, sr: int) -> list[tuple]:
    res = independent.specaugment_means(pcm, sr, _clip_seed(row))
    if res is None:
        return []
    *mask, mean = res
    return [(row["clip_id"], *mask, *(round(float(m), 6) for m in mean))]


def ensure_golden_specaugment(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_specaugment driver query: per decodable clip,
    the deterministic mask rectangle and the round-6 post-mask per-band
    means via independent.specaugment_means (independent decode, the
    scalar-loop log-mel mirror, per-cell mask loop, left-to-right frame
    fold — the engine's audio module never touches these values; the
    RNG draw order is the shared spec)."""
    schema = pa.schema(
        [(c, pa.int32()) for c in ("f0", "f_w", "t0", "t_w", "n_frames")]
        + [(f"m{m:02d}", pa.float64()) for m in range(16)]
    ).insert(0, pa.field("clip_id", pa.string()))
    return _per_clip_golden(
        ensure_fixtures(sf_dir, root),
        root,
        "golden_specaugment.parquet",
        _specaugment_kernel,
        schema,
    )


# ---------------------------------------------------------------------------
# Real-FLAC fixture table: clips encoded by the INDEPENDENT from-spec FLAC
# writer (fixtures/independent.flac_bytes — frames, Rice residuals,
# CRC-8/16); the engine's dataflow_geobeam_spark/flac decoder never touches
# these bytes at generation time. Coexists with the GBSFLAC1 stand-in cycle
# in clips.parquet (magic dispatch in codecs.decode keeps golden continuity
# there).
# ---------------------------------------------------------------------------

FLAC_ROWS_PER_SF = 4800  # sf0.01 -> 48, sf0.1 -> 480


def _flac_clip_pcm16(i: int, sr_hz: int, n: int) -> np.ndarray:
    """Deterministic int16 content spanning the coder's regimes: tonal
    (Rice-friendly fixed-2 residuals), noisy (high Rice parameters /
    escapes), constant (CONSTANT subframes), with synth_pcm's seeded
    tones as the base."""
    rng = np.random.default_rng([SEED, 12_000_000 + i])
    if i % 11 == 6:
        return np.full(n, int(rng.integers(-300, 300)), dtype=np.int16)
    x = synth_pcm(i, sr_hz, int(n * 1000 / sr_hz) + 1)[:n]
    if x.shape[0] < n:
        x = np.pad(x, (0, n - x.shape[0]))
    if i % 5 == 3:  # noise-heavy: stress the residual coder
        x = 0.3 * x + 0.7 * rng.standard_normal(n) * 0.5
    return np.round(np.clip(x, -1.0, 1.0) * 32767.0).astype(np.int16)


def _flac_clip(i: int) -> tuple:
    sr = (16000, 22050, 8000)[i % 3]
    n = int(sr * (0.25 + ((i * 37) % 20) / 10.0))  # 0.25 - 2.25 s
    pcm = _flac_clip_pcm16(i, sr, n)
    blocksize = (192, 1000, 4096)[(i // 3) % 3]
    p_order = (0, 2)[(i // 9) % 2]
    if i % 7 == 2:  # stereo left-side pair; engine downmixes
        right = np.round(pcm.astype(np.float64) * 0.7).astype(np.int16)
        buf = independent.flac_bytes(
            np.stack([pcm, right], axis=1), sr, blocksize=blocksize,
            stereo_mode="leftside", partition_order=p_order,
        )
    else:
        buf = independent.flac_bytes(pcm, sr, blocksize=blocksize, partition_order=p_order)
    if i % 13 == 4:  # truncate mid-frame; magic + STREAMINFO survive
        buf = buf[: max(50, int(len(buf) * 0.6))]
    return f"fl{i:06d}", buf, sr


def ensure_flac_clips(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """fixtures/<sf>/flac_clips.parquet: (clip_id string, bytes binary,
    sr_hz int32). Cycles blocksize 192 / 1000 / 4096, Rice partition
    order 0 / 2, every 7th clip stereo (left-side decorrelation, engine
    downmixes), ~7% truncated mid-frame (decode-failure rows the engine
    must drop — F1 semantics)."""
    schema = pa.schema({"clip_id": pa.string(), "bytes": pa.binary(), "sr_hz": pa.int32()})
    n_rows = max(48, int(FLAC_ROWS_PER_SF * sf_from_dir(sf_dir)))
    # bounded row groups: the row group is the scan-split unit, and this
    # decode is the most expensive per-row kernel in the engine — one
    # whole-table group would serialize it onto a single core (caught at
    # sf0.1: 31.6 s on one task vs ~2 s split)
    return _cached(
        sf_dir,
        root,
        "flac_clips.parquet",
        lambda: _table(schema, [_flac_clip(i) for i in range(n_rows)]),
        row_group_size=16,
    )


def _int16_mono(samples: np.ndarray) -> np.ndarray:
    """int16 (n, channels) -> little-endian int16 mono: the engine's
    documented floor-mean downmix, -32768 clamped to -32767
    (codecs._int16_to_pcm's normalization contract)."""
    s64 = samples.astype(np.int64)
    mono = s64[:, 0] if s64.shape[1] == 1 else np.sum(s64, axis=1) // s64.shape[1]
    return np.maximum(mono, -32767).astype("<i2")


def ensure_golden_flac_decode(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the audio_flac_decode driver query: per DECODABLE real
    FLAC clip, (sr, n_samples, md5 of the little-endian int16 mono
    stream), decoded by the independent mirror."""
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "sr_hz": pa.int32(),
            "n_samples": pa.int64(),
            "pcm16_md5": pa.string(),
        }
    )

    def build() -> pa.Table:
        rows = []
        for r in pq.read_table(ensure_flac_clips(sf_dir, root)).to_pylist():
            try:
                samples, sr = independent.decode_flac_independent(bytes(r["bytes"]))
            except ValueError:
                continue  # truncated payload: dropped on both sides
            mono = _int16_mono(samples)
            rows.append((r["clip_id"], int(sr), int(mono.shape[0]), _md5(mono.tobytes())))
        return _table(schema, rows)

    return _cached(sf_dir, root, "golden_flac_decode.parquet", build)


# ---------------------------------------------------------------------------
# Label-free mixed-container audio fixture: crawled audio has no codec
# column, so the sniff-ingest query decodes by magic alone. Rows cycle
# EVERY container the engine decodes — real RIFF/WAVE, real FLAC, AIFF
# (80-bit extended-float rate), Sun AU, and the three deterministic
# stand-ins — all written by the independent encoders.
# ---------------------------------------------------------------------------

SNIFF_ROWS_PER_SF = 5600  # sf0.01 -> 56, sf0.1 -> 560
_SNIFF_CONTAINERS = ("wav", "flac", "aiff", "au", "gbs_flac", "ogg", "mp3")


def _sniff_clip(i: int) -> tuple:
    rng = np.random.default_rng([SEED, 13_000_000 + i])
    sr = (16000, 22050, 8000, 11025)[i % 4]
    ns = int(sr * (0.25 + ((i * 29) % 15) / 10.0))
    pcm16 = _flac_clip_pcm16(i, sr, ns)  # same content regimes
    container = _SNIFF_CONTAINERS[i % 7]
    pcm_f = np.clip(pcm16.astype(np.float64) / 32767.0, -1.0, 1.0)
    if container == "wav":
        buf = independent.encode_wav(pcm_f, sr)
    elif container == "flac":
        buf = independent.flac_bytes(pcm16, sr, blocksize=(1000, 4096)[i % 2])
    elif container == "aiff":
        if i % 5 == 1:  # stereo rows exercise the downmix path
            right = np.round(pcm16.astype(np.float64) * 0.6).astype(np.int16)
            buf = independent.aiff_bytes(np.stack([pcm16, right], axis=1), sr)
        else:
            buf = independent.aiff_bytes(pcm16, sr)
    elif container == "au":
        buf = independent.au_bytes(pcm16, sr)
    else:  # deterministic stand-ins via the independent writer
        buf = independent.encode_standin(pcm_f, sr, {"gbs_flac": "flac"}.get(container, container))
    if i % 13 == 6:  # truncated: magic survives, payload does not
        buf = buf[: max(12, int(len(buf) * 0.55))]
    elif i % 23 == 10:  # garbage: unknown magic entirely
        buf = bytes(rng.integers(0, 256, 64, dtype=np.uint8).tobytes())
    return f"mx{i:06d}", buf


def ensure_sniff_clips(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """fixtures/<sf>/mixed_audio.parquet: (clip_id string, bytes binary) —
    deliberately NO codec column. ~7% rows truncated mid-payload and ~4%
    pure garbage (no known magic): both must surface as dropped rows."""
    schema = pa.schema({"clip_id": pa.string(), "bytes": pa.binary()})
    n_rows = max(56, int(SNIFF_ROWS_PER_SF * sf_from_dir(sf_dir)))
    # bounded row groups, same scan-split reasoning as ensure_flac_clips
    return _cached(
        sf_dir,
        root,
        "mixed_audio.parquet",
        lambda: _table(schema, [_sniff_clip(i) for i in range(n_rows)]),
        row_group_size=16,
    )


_STANDIN_MAGIC = {b"GBSFLAC1": "flac", b"GBSOGGS1": "ogg", b"GBSMP3S1": "mp3"}


def _sniff_decode(b: bytes) -> tuple[str, int, np.ndarray] | None:
    """(container, sr, int16 LE mono) by magic via the independent
    decoders; None for an unknown magic. Raises ValueError on a corrupt
    payload."""
    if b[:4] == b"RIFF":
        pcm, sr = independent.decode(b, "wav")
        return "wav", sr, _requantize16(pcm)
    if b[:4] == b"fLaC":
        # floor-mean downmix across channels — the engine's sniffed FLAC contract
        s16, sr = independent.decode_flac_independent(b)
        return "flac", sr, _int16_mono(s16)
    if b[:4] == b"FORM":
        s16, sr = independent.decode_aiff_independent(b)
        return "aiff", sr, np.maximum(s16.astype(np.int64), -32767).astype("<i2")
    if b[:4] == b".snd":
        s16, sr = independent.decode_au_independent(b)
        return "au", sr, np.maximum(s16.astype(np.int64), -32767).astype("<i2")
    if b[:8] in _STANDIN_MAGIC:
        cont = _STANDIN_MAGIC[b[:8]]
        pcm, sr = independent.decode_standin(b, cont)
        return cont, sr, _requantize16(pcm)
    return None


def ensure_golden_sniff_decode(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for audio_sniff_decode: per decodable row, (container,
    sr_hz, n_samples, md5 of the requantized int16 LE mono PCM) — every
    decode via the INDEPENDENT mirrors (from-scratch wav, scalar FLAC /
    AIFF / AU, stand-in spec decode); truncated (decode ValueError) and
    garbage (unknown magic) rows excluded like the engine's F1 drop."""
    schema = pa.schema(
        {
            "clip_id": pa.string(),
            "container": pa.string(),
            "sr_hz": pa.int32(),
            "n_samples": pa.int64(),
            "pcm16_md5": pa.string(),
        }
    )

    def build() -> pa.Table:
        rows = []
        for r in pq.read_table(ensure_sniff_clips(sf_dir, root)).to_pylist():
            try:
                decoded = _sniff_decode(bytes(r["bytes"]))
            except ValueError:
                continue
            if decoded is not None:
                cont, sr, q = decoded
                rows.append((r["clip_id"], cont, int(sr), int(q.shape[0]), _md5(q.tobytes())))
        return _table(schema, rows)

    return _cached(sf_dir, root, "golden_sniff_decode.parquet", build)


# ---------------------------------------------------------------------------
# WebM video fixture: minimal-but-valid EBML/WebM files written by the
# independent encoder; block payloads are deterministic fake frame bytes
# (no pixel codec in this sandbox — the parsers never look inside).
# ---------------------------------------------------------------------------

VIDEO_ROWS_PER_SF = 4000  # sf0.01 -> 40, sf0.1 -> 400


def _video_clip(i: int) -> tuple:
    rng = np.random.default_rng([SEED, 14_000_000 + i])
    n_tracks = 1 + (i % 2)
    tracks = [(t + 1, ("V_VP8", "V_VP9")[(i + t) % 2]) for t in range(n_tracks)]
    scale = (1_000_000, 500_000)[(i // 2) % 2]
    clusters = []
    for c in range(2 + int(rng.integers(0, 5))):
        blocks = []
        for b in range(3 + int(rng.integers(0, 7))):
            payload = rng.integers(0, 256, int(rng.integers(40, 900)), dtype=np.uint8).tobytes()
            blocks.append(
                (1 + (b % n_tracks), b * 33 + int(rng.integers(-4, 5)), b % 4 == 0, bytes(payload))
            )
        clusters.append((c * 1000, blocks))
    buf = independent.webm_bytes(
        tracks, clusters, timestamp_scale=scale, unknown_segment_size=(i % 5 == 3)
    )
    if i % 12 == 7:  # truncate mid-cluster; EBML magic survives
        buf = buf[: max(30, int(len(buf) * 0.5))]
    return f"vid{i:06d}", buf


def ensure_video_clips(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """fixtures/<sf>/videos.parquet: (video_id string, bytes binary) —
    WebM files cycling 1-2 tracks (VP8/VP9), timestamp scale 1 ms / 0.5
    ms, known- and unknown-size Segments, 2-6 clusters x 3-9 blocks with
    a keyframe-every-4 cadence; ~8% truncated mid-cluster."""
    schema = pa.schema({"video_id": pa.string(), "bytes": pa.binary()})
    n_rows = max(40, int(VIDEO_ROWS_PER_SF * sf_from_dir(sf_dir)))
    return _cached(
        sf_dir,
        root,
        "videos.parquet",
        lambda: _table(schema, [_video_clip(i) for i in range(n_rows)]),
        row_group_size=16,
    )


def ensure_golden_video_blocks(sf_dir: str, root: str = DEFAULT_FIXTURES_ROOT) -> str:
    """Golden for the video_block_index driver query: per parseable video,
    every block's (track, codec, ts_ms, keyframe, size) via the
    INDEPENDENT recursive-descent parser; truncated rows excluded (F1)."""
    schema = pa.schema(
        {
            "video_id": pa.string(),
            "track_number": pa.int32(),
            "codec_id": pa.string(),
            "ts_ms": pa.int64(),
            "keyframe": pa.bool_(),
            "block_bytes": pa.int64(),
        }
    )

    def build() -> pa.Table:
        rows = []
        for r in pq.read_table(ensure_video_clips(sf_dir, root)).to_pylist():
            try:
                tracks, blocks = independent.parse_webm_blocks_independent(bytes(r["bytes"]))
            except ValueError:
                continue
            for b in blocks:
                track = b["track"]
                rows.append(
                    (r["video_id"], track, tracks[track], b["ts_ms"], b["keyframe"], b["size"])
                )
        return _table(schema, rows)

    return _cached(sf_dir, root, "golden_video_blocks.parquet", build)


if __name__ == "__main__":
    import sys

    for sf in sys.argv[1:] or ["sf0.001", "sf0.01", "sf0.1"]:
        print(sf, "->", ensure_fixtures(sf))
