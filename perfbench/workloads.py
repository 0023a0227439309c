"""The benchmark workloads.

* ``ingest_drain`` (closed loop): a backlog of payload files drained by the
  flagship streaming job (decode -> validity -> watermarked 10 s windows ->
  exactly-once sink) in 1,000-clip epochs.
* ``live_join`` (open loop): a generator thread lands small clip files and
  late-transcript files on a fixed schedule; the stateful clip<->transcript
  join commits to the exactly-once sink on the default trigger.

Every workload reports the same end-to-end metrics (set-up time and the
engine's CPU time per clip), records its wall-clock rate and latency as
per-layer figures (see perfbench/README.md for why), and checks its
committed output against an oracle built from
``fixtures.independent`` (see perfbench/gen.py).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen, layers
from perfbench.harness import Result, RssSampler, Tracer, cpu_steal, tree_cpu_s

INGEST_EPOCH_CLIPS = 1000
INGEST_NOMINAL_CLIPS_PER_S = 500
WARM_CLIPS = 64
LAYER_PASS_FILES = 2  # backlog files the traced run's standalone layer passes read
WARM_FILES = 4  # at least one warm task per core, so every Python worker is warm
CLOSED_SPACING_US = 10_000  # event time between arrivals: ~1-2 windows per epoch

JOIN_RATE = 40  # clips landed per second, well below the join's capacity
JOIN_TICK_S = 0.25  # one clip file and one transcript file per tick
JOIN_SPEED = 120  # event-time seconds per wall second
JOIN_DRAIN_TIMEOUT_S = 60.0
QUERY_TIMEOUT_S = 120.0


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _write_backlog(h, tag: str, clips: gen.Clips, pool: gen.Pool, per_file: int) -> tuple[str, list[str]]:
    """Write ``clips`` in arrival order as files of ``per_file`` rows, with
    ascending mtimes so the file source admits them in order."""
    d = h.fresh_dir(tag)
    files = []
    base = time.time() - 3600
    for k, lo in enumerate(range(0, len(clips), per_file)):
        path = os.path.join(d, f"part-{k:05d}.parquet")
        gen.write_parquet(gen.clips_table(clips, pool, slice(lo, lo + per_file)), path, base + k)
        files.append(path)
    return d, files


@contextmanager
def _sink_commits(tracer: Tracer):
    """Wrap ``ExactlyOnceParquetSink.write_batch`` in the benchmark process:
    record when each epoch's commit returned, keyed by (table dir, epoch),
    and in traced runs a span around the call."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    orig = ExactlyOnceParquetSink.write_batch
    commits: dict[tuple[str, int], float] = {}

    def write_batch(self, df, epoch_id):
        with tracer.span("sink.write_batch", epoch=epoch_id):
            orig(self, df, epoch_id)
        commits[(self.table_dir, epoch_id)] = time.perf_counter()

    ExactlyOnceParquetSink.write_batch = write_batch
    try:
        yield commits
    finally:
        ExactlyOnceParquetSink.write_batch = orig


@contextmanager
def _listening(h):
    """Collect per-epoch progress with the engine's listener (traced runs)."""
    from dataflow_geobeam_spark.streaming.metrics import EpochMetricsListener

    listener = EpochMetricsListener()
    h.spark.streams.addListener(listener)
    try:
        yield listener
    finally:
        time.sleep(0.5)  # progress events arrive asynchronously
        h.spark.streams.removeListener(listener)


def _tail_quantile(n: int) -> float:
    """The highest quantile (at most p99) with at least 10 samples beyond it."""
    return min(0.99, 1.0 - 10.0 / n) if n > 20 else 0.5


def _latency_metrics(lat_ms: list[float], wall_s: float) -> dict:
    """Median and tail latency; a phase that committed nothing (already
    counted as failed) reports its whole wall time."""
    lat = np.asarray(lat_ms or [wall_s * 1e3], dtype=np.float64)
    q = _tail_quantile(len(lat))
    return {
        "latency_p50_ms": (float(np.percentile(lat, 50)), "ms"),
        "latency_p99_ms": (float(np.percentile(lat, 100 * q)), "ms"),
    }


def _measure(h, phase, traced: bool) -> dict:
    """Run ``phase()`` with host steal and the engine's CPU time sampled.
    Traced phases also sample memory and record every epoch with the listener;
    untraced phases run nothing beside the phase, because the /proc sampler
    competes with the sink's commit callbacks for the benchmark process."""
    s0, c0 = cpu_steal(), tree_cpu_s(h.jvm_pid())
    if traced:
        with RssSampler(h.jvm_pid()) as rss, _listening(h) as listener:
            out = phase()
        out["progress"] = [p for p in listener.progress
                           if p["query_id"] in {str(q) for q in out["query_ids"]}]
        out["peak_rss_mb"] = rss.peak_kb / 1024.0
    else:
        out = phase()
        out["peak_rss_mb"] = None
    s1, c1 = cpu_steal(), tree_cpu_s(h.jvm_pid())
    out["steal_frac"] = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
    out["cpu_s"] = c1 - c0
    return out


def _run(h, traced: bool, prepare, warm, phase, check, extra_layers) -> Result:
    """Shared skeleton: prepare inputs (untimed), set up (timed), measure,
    check. A traced run records spans and epochs while it measures, then
    runs the per-layer passes."""
    res = Result()
    h.tracer = Tracer(traced)
    t0 = time.perf_counter()
    ctx = prepare()
    prepare_s = time.perf_counter() - t0
    with _sink_commits(h.tracer) as commits:
        ctx["commits"] = commits
        setup = h.setup(lambda spark: warm(spark, ctx))
        with h.tracer.span("phase") as phase_span:
            m = _measure(h, lambda: phase(ctx), traced)
        m["phase_span"] = phase_span
        t0 = time.perf_counter()
        res.attempted, res.failed = check(ctx, m)
        check_s = time.perf_counter() - t0
        res.e2e = {"setup_s": (setup["setup_s"], "s"),
                   "cpu_ms_per_clip": (m["cpu_s"] * 1e3 / max(m["clips"], 1), "ms")}
        res.side = {"prepare_s": prepare_s, "check_s": check_s,
                    "setup": setup, "host_steal_frac": m["steal_frac"], "phase_cpu_s": m["cpu_s"],
                    "peak_rss_mb": m["peak_rss_mb"],
                    "e2e": {k: v[0] for k, v in res.e2e.items()},
                    "wall": {k: v[0] for k, v in m["wall"].items()}, "phase": m["side"]}
        if not traced:
            return res
        overhead, base = _trace_overhead(h, ctx["primary"], m["wall"])
        res.side.update({
            "trace_overhead_frac": overhead,
            "trace_overhead_base": base,
            "epochs": [{"batch": p["batch_id"], "rows": p["num_input_rows"],
                        "duration_ms": p["duration_ms"]} for p in m["progress"]],
        })
        res.layer = {
            "session.start_s": (setup["start_s"], "s"),
            "session.warm_s": (setup["warm_s"], "s"),
            **_common_layers(h, ctx, m),
            **extra_layers(ctx, m),
            **{f"wall.{k}": v for k, v in m["wall"].items()},
            "gen.lag_ms_max": (m["side"]["gen_lag_ms_max"], "ms"),
            "host.steal_frac": (m["steal_frac"], "ratio"),
            "host.peak_rss_mb": (m["peak_rss_mb"], "MB"),
            "trace.overhead_frac": (overhead, "ratio"),
        }
        res.spans = h.tracer.spans
    return res


def _trace_overhead(h, primary: tuple[str, str], traced_wall: dict) -> tuple[float, dict]:
    """How much worse the traced run's primary wall-clock figure is than the
    median of the untraced runs of this workload recorded in this checkout
    (0 when none is recorded yet)."""
    name, better = primary
    values = []
    for f in sorted(os.listdir(h.out_dir)) if os.path.isdir(h.out_dir) else []:
        if f.startswith(f"{h.workload}-seed") and f.endswith("-trace0.json"):
            with open(os.path.join(h.out_dir, f)) as fh:
                side = json.load(fh)
            if side.get("seconds") == h.seconds and name in side.get("wall", {}):
                values.append(side["wall"][name])
    if not values:
        return 0.0, {"metric": name, "untraced_runs": 0}
    u, t = statistics.median(values), traced_wall[name][0]
    overhead = (t / u - 1.0) if better == "lower" else (u / t - 1.0)
    return overhead, {"metric": name, "untraced_runs": len(values), "untraced_median": u, "traced": t}


def _common_layers(h, ctx, tr) -> dict:
    """Layers every workload reports: standalone passes over its input files,
    and the epoch and sink records of the traced phase."""
    manifests, size = [], 0
    for sink in tr["sinks"]:
        for man in sink.committed_manifests():
            manifests.append(man)
            size += sum(os.path.getsize(os.path.join(sink.table_dir, man["dir"], f)) for f in man["files"])
    files = tr.get("files") or ctx["files"]
    out = {}
    out.update(layers.source_passes(h.spark, files, h.tracer))
    out.update(layers.codec_passes(ctx["pool"], h.tracer))
    out.update(layers.function_passes(h.spark, files, h.tracer))
    out.update(layers.epoch_layers(tr["progress"]))
    writes = h.tracer.durations("sink.write_batch", within=tr["phase_span"])
    out.update(layers.sink_layers(writes, manifests, size))
    return out


# ---------------------------------------------------------------------------
# closed-loop drain: ingest_drain
# ---------------------------------------------------------------------------


def _closed_loop(h, ctx, start_query) -> dict:
    """Drain the whole backlog with one availableNow query. The backlog is
    due when the phase starts: each clip's latency runs from then to the
    commit of the epoch that admitted it."""
    t0 = time.perf_counter()
    q, sink = start_query(h.spark, ctx["backlog"])
    failed = _await(q)
    wall = time.perf_counter() - t0
    lat, admitted = [], 0
    for p in q.recentProgress:
        done = ctx["commits"].get((sink.table_dir, p["batchId"]))
        if p["numInputRows"] and done is not None:
            lat.extend([(done - t0) * 1e3] * p["numInputRows"])
        admitted += p["numInputRows"]
    return {
        "query_ids": [q.id], "sinks": [sink], "failed": failed, "clips": admitted,
        "wall": {"clips_per_s": (admitted / wall, "clips/s"), **_latency_metrics(lat, wall)},
        "side": {"admitted": admitted, "wall_s": wall, "latency_samples": len(lat),
                 "epoch_ms": [p["durationMs"].get("triggerExecution") for p in q.recentProgress],
                 "tail_quantile": _tail_quantile(len(lat)),
                 "gen_lag_ms_max": 0.0},  # no generator: the backlog is all there at t0
    }


def _await(q) -> int:
    """Wait for an availableNow query to drain; 1 if it failed or hung."""
    try:
        if q.awaitTermination(QUERY_TIMEOUT_S):
            return 0
        q.stop()
    except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
        pass
    return 1


def _warm_epoch(q):
    """Let a started query complete its first epoch. Returns ``q.stop``:
    stopping the warm query waits for whatever epoch is running then, which
    is not set-up, so the caller stops it after reading the set-up clock."""
    deadline = time.perf_counter() + QUERY_TIMEOUT_S
    try:
        while q.lastProgress is None and q.isActive and time.perf_counter() < deadline:
            time.sleep(0.02)
    except BaseException:
        q.stop()
        raise
    return q.stop


def _backlog_files(h, nominal_clips_per_s: float, per_file: int) -> int:
    """Backlog files that take about the run's seconds at the nominal rate."""
    return max(2, round(h.seconds * nominal_clips_per_s / per_file))


def ingest_drain(h, traced: bool) -> Result:
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.streaming.pipeline import run_streaming_window_agg

    def prepare():
        pool = gen.load_pool(h.seed, h.cache)
        clips = gen.make_clips(h.seed, 1, INGEST_EPOCH_CLIPS * _backlog_files(
            h, INGEST_NOMINAL_CLIPS_PER_S, INGEST_EPOCH_CLIPS), CLOSED_SPACING_US, pool)
        backlog, files = _write_backlog(h, "ingest", clips, pool, INGEST_EPOCH_CLIPS)
        warm_clips = gen.make_clips(h.seed, 9, WARM_CLIPS, CLOSED_SPACING_US, pool)
        warm_dir, _ = _write_backlog(h, "ingest-warm", warm_clips, pool, WARM_CLIPS // WARM_FILES)
        return {"pool": pool, "backlog": backlog, "files": files[:LAYER_PASS_FILES], "warm_dir": warm_dir,
                "oracle": gen.window_oracle(clips, pool), "primary": ("clips_per_s", "higher")}

    def start_query(spark, stream_dir, files_per_epoch=1):
        out, ck = h.fresh_dir("ingest-out"), h.fresh_dir("ingest-ck")
        return run_streaming_window_agg(spark, "", out, ck, stream_dir=stream_dir, available_now=True,
                                        max_files_per_trigger=files_per_epoch)

    def warm(spark, ctx):
        return _warm_epoch(start_query(spark, ctx["warm_dir"], WARM_FILES)[0])

    def check(ctx, m):
        oracle = ctx["oracle"]
        rows = m["sinks"][0].read_latest(h.spark, ["window_start", "bucket"]).select(
            F.unix_micros("window_start").alias("w"), "bucket", "n_clips",
            "sum_dur_ms", "mean_rms", "sum_samples",
        ).collect()
        got = {(r["w"], r["bucket"]): (r["n_clips"], r["sum_dur_ms"], r["mean_rms"], r["sum_samples"])
               for r in rows}
        keys = oracle.keys() | got.keys()
        mismatched = sum(not _agg_equal(oracle.get(k), got.get(k)) for k in keys)
        return 1 + len(keys), m["failed"] + mismatched

    def extra_layers(ctx, tr):
        return {**layers.state_layers("operators.windows", tr["progress"]),
                **layers.state_layers("streaming.join", []),
                "streaming.join.matched_per_transcript": (0.0, "ratio")}

    return _run(h, traced, prepare, warm, lambda ctx: _closed_loop(h, ctx, start_query), check,
                extra_layers)


def _agg_equal(want, got) -> bool:
    if want is None or got is None:
        return False
    return (want[0], want[1], want[3]) == (got[0], got[1], got[3]) and math.isclose(
        want[2], got[2], rel_tol=1e-9, abs_tol=1e-12
    )


# ---------------------------------------------------------------------------
# live_join
# ---------------------------------------------------------------------------


class _Lander(threading.Thread):
    """Open-loop generator: at each tick's due time, land that tick's clip
    file and transcript file, whether or not the job keeps up."""

    def __init__(self, ticks: list, clip_dir: str, t_dir: str, start_at: float):
        super().__init__(daemon=True)
        self.ticks, self.clip_dir, self.t_dir, self.start_at = ticks, clip_dir, t_dir, start_at
        self.lag_s: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for k, (clip_tbl, t_tbl) in enumerate(self.ticks):
                due = self.start_at + k * JOIN_TICK_S
                time.sleep(max(0.0, due - time.perf_counter()))
                gen.write_parquet(clip_tbl, os.path.join(self.clip_dir, f"c-{k:05d}.parquet"))
                if t_tbl is not None:
                    gen.write_parquet(t_tbl, os.path.join(self.t_dir, f"t-{k:05d}.parquet"))
                self.lag_s.append(time.perf_counter() - due)
        except Exception as exc:  # noqa: BLE001 - re-raised by the caller after join
            self.error = exc


def live_join(h, traced: bool) -> Result:
    from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA, TRANSCRIPTS_SCHEMA
    from dataflow_geobeam_spark.streaming.join import stateful_join_apply
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    n_ticks = max(1, int(round(h.seconds / JOIN_TICK_S)))
    per_tick = int(JOIN_RATE * JOIN_TICK_S)
    spacing_us = int(JOIN_SPEED / JOIN_RATE * 1e6)

    def prepare():
        pool = gen.load_pool(h.seed, h.cache)
        clips = gen.make_clips(h.seed, 2, n_ticks * per_tick, spacing_us, pool)
        tr = gen.make_transcripts(h.seed, clips)
        # a transcript lands when the event clock reaches its t_ts
        wall = (tr.t_ts_us - gen.T0_US) / 1e6 / JOIN_SPEED
        t_tick = np.maximum(np.ceil(wall / JOIN_TICK_S), 0).astype(np.int64)
        landed_t = np.flatnonzero(t_tick < n_ticks)
        ticks = []
        for k in range(n_ticks):
            rows = np.flatnonzero(t_tick == k)
            ticks.append((gen.clips_table(clips, pool, slice(k * per_tick, (k + 1) * per_tick)),
                          gen.transcripts_table(tr, rows) if len(rows) else None))
        warm_clips = gen.make_clips(h.seed, 9, WARM_CLIPS, spacing_us, pool)
        warm_tr = gen.make_transcripts(h.seed, warm_clips)
        return {
            "pool": pool, "clips": clips, "tr": tr, "ticks": ticks, "per_tick": per_tick,
            "t_tick": t_tick, "landed_t": landed_t,
            "oracle": gen.join_oracle(clips, np.arange(len(clips)), tr, landed_t),
            "warm": (gen.clips_table(warm_clips, pool, slice(None)),
                     gen.transcripts_table(warm_tr, np.arange(len(warm_tr.t_clip_id)))),
            "primary": ("latency_p50_ms", "lower"),
        }

    def start(spark, clip_dir, t_dir):
        out, ck = h.fresh_dir("join-out"), h.fresh_dir("join-ck")
        sink = ExactlyOnceParquetSink(out)
        clips = spark.readStream.schema(CLIPS_SCHEMA).parquet(clip_dir)
        trs = spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(t_dir)
        q = (stateful_join_apply(clips, trs).writeStream.outputMode("append")
             .option("checkpointLocation", ck).foreachBatch(sink.foreach_batch()).start())
        return q, sink

    def warm(spark, ctx):
        clip_dir, t_dir = h.fresh_dir("join-warm-c"), h.fresh_dir("join-warm-t")
        n = ctx["warm"][0].num_rows
        for k in range(WARM_FILES):
            part = ctx["warm"][0].slice(k * n // WARM_FILES, n // WARM_FILES)
            gen.write_parquet(part, os.path.join(clip_dir, f"c-{k}.parquet"))
        gen.write_parquet(ctx["warm"][1], os.path.join(t_dir, "t.parquet"))
        return _warm_epoch(start(spark, clip_dir, t_dir)[0])

    def phase(ctx):
        clip_dir, t_dir = h.fresh_dir("join-c"), h.fresh_dir("join-t")
        q, sink = start(h.spark, clip_dir, t_dir)
        lander = _Lander(ctx["ticks"], clip_dir, t_dir, time.perf_counter() + 0.5)
        lander.start()
        lander.join()
        failed, wall = 0, None
        try:
            if lander.error is not None:
                raise lander.error
            q.processAllAvailable()
            # input is absorbed when the last epoch that admitted rows commits
            wall = max(ctx["commits"].get((sink.table_dir, p["batchId"]), 0.0)
                       for p in q.recentProgress if p["numInputRows"]) - lander.start_at
            # only now, with every clip admitted, land a far-future orphan
            # transcript: the watermark passes every clip and each emits its row
            gen.write_parquet(gen.transcripts_table(gen.Transcripts(
                ["zzflush"], ["flush"], np.array([gen.T0_US + 10 * 86_400 * 10**6])), np.array([0])),
                os.path.join(t_dir, "t-flush.parquet"))
            deadline = time.perf_counter() + JOIN_DRAIN_TIMEOUT_S
            while sum(m["n_rows"] for m in sink.committed_manifests()) < len(ctx["clips"]):
                if time.perf_counter() > deadline or q.exception() is not None:
                    failed = 1
                    break
                time.sleep(0.2)
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            failed = 1
        finally:
            q.stop()
        wall = wall or time.perf_counter() - lander.start_at
        rows, dupes, lat = _join_rows(ctx, sink, lander.start_at)
        n_matched = sum(1 for r in rows.values() if r[3])
        return {
            "query_ids": [q.id], "sinks": [sink], "failed": failed + dupes, "rows": rows,
            "files": sorted(os.path.join(clip_dir, f) for f in os.listdir(clip_dir)),
            "matched_per_transcript": n_matched / max(len(ctx["landed_t"]), 1),
            "clips": len(ctx["clips"]),
            "wall": {"clips_per_s": (len(ctx["clips"]) / wall, "clips/s"), **_latency_metrics(lat, wall)},
            "side": {"latency_samples": len(lat), "tail_quantile": _tail_quantile(len(lat)),
                     "clips_landed": len(ctx["clips"]), "transcripts_landed": len(ctx["landed_t"]),
                     "gen_lag_ms_max": max(lander.lag_s) * 1e3,
                     "epoch_ms": [p["durationMs"].get("triggerExecution") for p in q.recentProgress]},
        }

    def check(ctx, m):
        oracle, got = ctx["oracle"], m["rows"]
        keys = oracle.keys() | got.keys()
        return 1 + len(keys), m["failed"] + sum(oracle.get(k) != got.get(k) for k in keys)

    def extra_layers(ctx, tr):
        return {**layers.state_layers("operators.windows", []),
                **layers.state_layers("streaming.join", tr["progress"]),
                "streaming.join.matched_per_transcript": (tr["matched_per_transcript"], "ratio")}

    return _run(h, traced, prepare, warm, phase, check, extra_layers)


def _join_rows(ctx, sink, start_at: float) -> tuple[dict, int, list[float]]:
    """Committed rows keyed by clip id, the number of clips emitted more than
    once, and per matched row the latency from the due time of the later of
    its two inputs to its epoch's commit."""
    clips, tr, commits = ctx["clips"], ctx["tr"], ctx["commits"]
    row_of = {c: i for i, c in enumerate(clips.clip_id)}
    t_due: dict[str, float] = {}
    for k in ctx["landed_t"]:
        i = row_of.get(tr.t_clip_id[k])
        if i is not None and clips.ts_us[i] <= tr.t_ts_us[k] <= clips.ts_us[i] + gen.JOIN_WINDOW_US:
            due = start_at + ctx["t_tick"][k] * JOIN_TICK_S
            t_due[clips.clip_id[i]] = min(due, t_due.get(clips.clip_id[i], due))
    files = sink.committed_files()
    if not files:
        return {}, 0, []
    t = pq.read_table(files, columns=["clip_id", "ts", "transcript", "t_transcript", "matched", "_epoch_id"])
    ts = t.column("ts")
    ts_us = ts.cast("int64").to_numpy() // (1000 if ts.type.unit == "ns" else 1)
    rows, lat = {}, []
    cols = (t.column(c).to_pylist() for c in ("clip_id", "transcript", "t_transcript", "matched", "_epoch_id"))
    for j, (cid, text, t_text, matched, epoch) in enumerate(zip(*cols)):
        rows[cid] = (int(ts_us[j]), text, t_text, matched)
        done = commits.get((sink.table_dir, epoch))
        if matched and cid in t_due and done is not None:
            c_due = start_at + (row_of[cid] // ctx["per_tick"]) * JOIN_TICK_S
            lat.append((done - max(c_due, t_due[cid])) * 1e3)
    return rows, t.num_rows - len(rows), lat


WORKLOADS = {
    "ingest_drain": ingest_drain,
    "live_join": live_join,
}
