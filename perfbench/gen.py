"""Seeded inputs and oracles for the benchmark workloads.

Everything here is a pure function of ``--seed``. The program under test
only ever receives the parquet files written from these tables; the oracle
side decodes with ``fixtures.independent`` (a second implementation of the
codecs and metrics) so an engine bug cannot pass on both sides.

The dirty-row mix follows the repository's clip fixture: ~1% unknown codec
label, ~0.5% truncated payloads, ~0.5% sample-count mismatches, ~5% rows
arriving up to 90 s early in event time, ~2% empty transcripts. Transcripts
follow the fixture's late-transcript rules: ~20% of clips never get one, 5%
arrive beyond the 5-minute join window, ~1% are duplicated and ~3% are
orphans with no clip.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dataflow_geobeam_spark.audio_synth import synth_pcm
from dataflow_geobeam_spark.fixtures import independent

SR_CYCLE = (8000, 16000, 22050, 44100)
CODEC_CYCLE = ("wav", "flac", "ogg", "mp3")
POOL_SIZE = 128  # distinct payloads per seed; rows draw from this pool
T0_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z
VOCAB = (
    "signal noise window frame sample stream batch shuffle spark clip audio "
    "transcript watermark state join bucket salt codec decode commit snapshot"
).split()
JOIN_WINDOW_US = 300 * 1_000_000

CLIPS_ARROW = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
TRANSCRIPTS_ARROW = pa.schema(
    [
        ("t_clip_id", pa.string()),
        ("t_transcript", pa.string()),
        ("t_ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _oracle_decode(buf: bytes, codec: str) -> tuple[bool, int, int, float, float]:
    """(decode_ok, sr_decoded, n_samples, rms, peak) by the independent codecs."""
    try:
        pcm, sr = independent.decode(buf, codec)
    except Exception:  # noqa: BLE001 - any decode failure is an invalid row
        return False, 0, 0, 0.0, 0.0
    n, rms, peak = independent.metrics(pcm)
    return True, int(sr), n, rms, peak


@dataclass
class Pool:
    """Distinct payloads of one seed, with their decode oracle.

    Row ``j`` of every array describes pool entry ``j``; ``trunc`` holds the
    truncated variant of each payload and ``*_t`` its oracle.
    """

    sr: np.ndarray
    dur: np.ndarray
    codec: list
    payload: list
    trunc: list
    ok: np.ndarray
    sr_dec: np.ndarray
    n: np.ndarray
    rms: np.ndarray
    ok_t: np.ndarray


def _build_pool(seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 11])
    # Entry j is cell j % 16 of the (rate, codec) grid. Durations are
    # stratified over 250..2500 ms within each cell and the seed only orders
    # them, so every seed's pool costs the same to decode.
    per_cell = POOL_SIZE // 16
    stratum = rng.permuted(np.tile(np.arange(per_cell), (16, 1)), axis=1)
    rows = {k: [] for k in ("sr", "dur", "codec", "payload", "trunc", "ok", "sr_dec", "n", "rms", "ok_t")}
    for j in range(POOL_SIZE):
        sr = SR_CYCLE[j % 4]
        codec = CODEC_CYCLE[(j // 4) % 4]
        dur = 250 + int(2250 * (stratum[j % 16, j // 16] + 0.5) / per_cell)
        synth_dur = int(dur * 1.3) if j % 223 == 7 else dur  # sample-count mismatch
        pcm = synth_pcm(seed * 100_000 + j, sr, synth_dur)
        payload = independent.encode(pcm, sr, codec)
        trunc = payload[: max(4, len(payload) // 3)]
        ok, sr_dec, n, rms, _ = _oracle_decode(payload, codec)
        rows["sr"].append(sr)
        rows["dur"].append(dur)
        rows["codec"].append(codec)
        rows["payload"].append(payload)
        rows["trunc"].append(trunc)
        rows["ok"].append(ok)
        rows["sr_dec"].append(sr_dec)
        rows["n"].append(n)
        rows["rms"].append(rms)
        rows["ok_t"].append(_oracle_decode(trunc, codec)[0])
    return pa.table(
        {
            "sr": pa.array(rows["sr"], pa.int32()),
            "dur": pa.array(rows["dur"], pa.int32()),
            "codec": rows["codec"],
            "payload": pa.array(rows["payload"], pa.binary()),
            "trunc": pa.array(rows["trunc"], pa.binary()),
            "ok": rows["ok"],
            "sr_dec": pa.array(rows["sr_dec"], pa.int32()),
            "n": pa.array(rows["n"], pa.int64()),
            "rms": pa.array(rows["rms"], pa.float64()),
            "ok_t": rows["ok_t"],
        }
    )


def load_pool(seed: int, cache_dir: str) -> Pool:
    """Build the payload pool of ``seed`` once and cache it on disk."""
    path = os.path.join(cache_dir, f"pool-{seed}.parquet")
    if os.path.exists(path):
        t = pq.read_table(path)
    else:
        os.makedirs(cache_dir, exist_ok=True)
        t = _build_pool(seed)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(t, tmp, compression="none")
        os.replace(tmp, path)
    col = lambda name: t.column(name).to_pylist()  # noqa: E731
    return Pool(
        sr=t.column("sr").to_numpy(),
        dur=t.column("dur").to_numpy(),
        codec=col("codec"),
        payload=col("payload"),
        trunc=col("trunc"),
        ok=np.array(col("ok"), dtype=bool),
        sr_dec=t.column("sr_dec").to_numpy(),
        n=t.column("n").to_numpy(),
        rms=t.column("rms").to_numpy(),
        ok_t=np.array(col("ok_t"), dtype=bool),
    )


@dataclass
class Clips:
    """A clip stream: row ``r`` is the r-th clip to arrive."""

    clip_id: list
    entry: np.ndarray  # pool entry of each row
    truncated: np.ndarray
    codec: list
    transcript: list
    ts_us: np.ndarray

    def __len__(self) -> int:
        return len(self.clip_id)


def make_clips(seed: int, tag: int, n: int, spacing_us: int, pool: Pool) -> Clips:
    """``n`` clips whose event time advances ``spacing_us`` per arrival.
    Every run of ``POOL_SIZE`` consecutive clips uses each pool entry once."""
    rng = np.random.default_rng([seed, 21, tag])
    r = np.arange(n)
    entry = np.concatenate([rng.permutation(POOL_SIZE) for _ in range(-(-n // POOL_SIZE))])[:n]
    late = (r % 20 == 7) * rng.uniform(1.0, 90.0, n)
    ts_us = T0_US + r * spacing_us - (late * 1e6).astype(np.int64)
    n_words = rng.integers(3, 11, n)
    words = rng.integers(0, len(VOCAB), (n, 10))
    transcript = [
        "" if i % 53 == 11 else f"utterance {i} " + " ".join(VOCAB[w] for w in words[i, : n_words[i]])
        for i in range(n)
    ]
    codec = ["unknown" if i % 97 == 13 else pool.codec[e] for i, e in enumerate(entry)]
    clip_id = [f"{i % 256:02x}{tag}{seed % 10_000:04d}{i:08d}" for i in range(n)]
    return Clips(clip_id, entry, r % 211 == 5, codec, transcript, ts_us)


def clips_table(clips: Clips, pool: Pool, rows: slice | np.ndarray) -> pa.Table:
    idx = np.arange(len(clips))[rows]
    e = clips.entry[idx]
    return pa.table(
        {
            "clip_id": [clips.clip_id[i] for i in idx],
            "bytes": [pool.trunc[k] if clips.truncated[i] else pool.payload[k] for i, k in zip(idx, e)],
            "sr_hz": pool.sr[e],
            "dur_ms": pool.dur[e],
            "codec": [clips.codec[i] for i in idx],
            "transcript": [clips.transcript[i] for i in idx],
            "ts": pa.array(clips.ts_us[idx], pa.timestamp("us", tz="UTC")),
        },
        schema=CLIPS_ARROW,
    )


def write_parquet(t: pa.Table, path: str, mtime: float | None = None) -> None:
    """Write ``t`` so a streaming file source sees the file complete or not at all."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(t, tmp, compression="zstd", row_group_size=256)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def decode_oracle(clips: Clips, pool: Pool) -> dict:
    """Per-row (ok, sr_dec, n, rms) of the engine's decode, from the pool oracle."""
    e = clips.entry
    known = np.array([c in CODEC_CYCLE for c in clips.codec])
    ok = np.where(clips.truncated, pool.ok_t[e], pool.ok[e]) & known
    return {
        "ok": ok,
        "sr_dec": np.where(ok, pool.sr_dec[e], 0),
        "n": np.where(ok, pool.n[e], 0),
        "rms": np.where(ok, pool.rms[e], 0.0),
    }


def window_oracle(clips: Clips, pool: Pool, window_us: int = 10_000_000) -> dict:
    """Expected final (window_start_us, bucket) -> (n_clips, sum_dur_ms,
    mean_rms, sum_samples) of the flagship windowed aggregate."""
    d = decode_oracle(clips, pool)
    sr = pool.sr[clips.entry].astype(np.float64)
    dur = pool.dur[clips.entry].astype(np.float64)
    expected = sr * dur / 1000.0
    valid = d["ok"] & (d["sr_dec"] == pool.sr[clips.entry]) & (np.abs(d["n"] - expected) <= 0.1 * expected)
    acc: dict = {}
    for i in np.flatnonzero(valid):
        key = (int(clips.ts_us[i] // window_us * window_us), clips.clip_id[i][:2])
        a = acc.setdefault(key, [0, 0, [], 0])
        a[0] += 1
        a[1] += int(pool.dur[clips.entry[i]])
        a[2].append(float(d["rms"][i]))
        a[3] += int(d["n"][i])
    return {k: (a[0], a[1], float(np.mean(a[2])), a[3]) for k, a in acc.items()}


@dataclass
class Transcripts:
    t_clip_id: list
    t_transcript: list
    t_ts_us: np.ndarray


def make_transcripts(seed: int, clips: Clips) -> Transcripts:
    """Late transcripts for ``clips`` under the fixture's rules."""
    rng = np.random.default_rng([seed, 31])
    n = len(clips)
    delay = rng.uniform(0.0, 240.0, n)
    beyond = rng.uniform(360.0, 600.0, n)
    ids, texts, ts = [], [], []
    for i in range(n):
        if i % 5 == 4:
            continue
        d = beyond[i] if i % 20 == 3 else delay[i]
        t = int(clips.ts_us[i] + d * 1e6)
        copies = 2 if i % 101 == 3 else 1
        for _ in range(copies):
            ids.append(clips.clip_id[i])
            texts.append(clips.transcript[i])
            ts.append(t)
        if i % 37 == 2:
            ids.append(f"zz{clips.clip_id[i][2:]}")
            texts.append(f"orphan {i}")
            ts.append(t)
    return Transcripts(ids, texts, np.array(ts, dtype=np.int64))


def transcripts_table(t: Transcripts, rows: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "t_clip_id": [t.t_clip_id[i] for i in rows],
            "t_transcript": [t.t_transcript[i] for i in rows],
            "t_ts": pa.array(t.t_ts_us[rows], pa.timestamp("us", tz="UTC")),
        },
        schema=TRANSCRIPTS_ARROW,
    )


def join_oracle(clips: Clips, clip_rows: np.ndarray, t: Transcripts, t_rows: np.ndarray) -> dict:
    """clip_id -> (ts_us, transcript, t_transcript or None, matched) for the
    one-row-per-clip stateful join, given which rows landed."""
    cands: dict = {}
    for k in t_rows:
        cands.setdefault(t.t_clip_id[k], []).append((int(t.t_ts_us[k]), t.t_transcript[k]))
    out = {}
    for i in clip_rows:
        cid, ts = clips.clip_id[i], int(clips.ts_us[i])
        inw = [c for c in cands.get(cid, []) if ts <= c[0] <= ts + JOIN_WINDOW_US]
        m = min(inw) if inw else None
        out[cid] = (ts, clips.transcript[i], m[1] if m else None, m is not None)
    return out
