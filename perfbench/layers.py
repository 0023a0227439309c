"""Per-layer measurements for the traced run.

Each function calls one layer's public API from outside the engine and
returns ``name -> (value, unit)``. The standalone passes run over the same
parquet files the workload fed to the engine.
"""

from __future__ import annotations

import statistics
import time

PASS_REPEATS = 3
CODEC_MIN_S = 0.25  # each codec is timed for at least this long


def _timed(fn, repeats: int = PASS_REPEATS) -> tuple[float, object]:
    times, out = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _identity(batches):
    yield from batches


def source_passes(spark, files: list[str], tracer) -> dict:
    """``sources``: a noop scan of the input, and the same scan through an
    identity ``mapInArrow`` (JVM -> Python -> JVM) minus the scan."""
    from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA

    def scan():
        spark.read.schema(CLIPS_SCHEMA).parquet(*files).write.format("noop").mode("overwrite").save()

    def roundtrip():
        df = spark.read.schema(CLIPS_SCHEMA).parquet(*files)
        df.mapInArrow(_identity, df.schema).write.format("noop").mode("overwrite").save()

    with tracer.span("sources.scan"):
        scan_s, _ = _timed(scan)
    with tracer.span("sources.arrow_roundtrip"):
        rt_s, _ = _timed(roundtrip)
    return {
        "sources.scan_s": (scan_s, "s"),
        "sources.arrow_roundtrip_s": (max(rt_s - scan_s, 0.0), "s"),
    }


def codec_passes(pool, tracer) -> dict:
    """``codecs``: single-core in-process ``codecs.decode`` per clip, by codec,
    over the seed's distinct payloads."""
    from dataflow_geobeam_spark import codecs

    out = {}
    for codec in ("wav", "flac", "ogg", "mp3"):
        bufs = [p for p, c in zip(pool.payload, pool.codec) if c == codec]
        per_clip = []
        with tracer.span("codecs.decode", codec=codec):
            t_end = time.perf_counter() + CODEC_MIN_S
            while time.perf_counter() < t_end or len(per_clip) < 3:
                t0 = time.perf_counter()
                for b in bufs:
                    codecs.decode(b, codec)
                per_clip.append((time.perf_counter() - t0) / len(bufs))
        out[f"codecs.decode_us_per_clip.{codec}"] = (statistics.median(per_clip) * 1e6, "us")
    return out


def function_passes(spark, files: list[str], tracer) -> dict:
    """``functions.decode`` (metric-only decode pass) and ``functions.audio``
    (noise augmentation with payload output) as batch jobs over the input."""
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.functions.audio import with_augmented_noise
    from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
    from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA

    def clips():
        return spark.read.schema(CLIPS_SCHEMA).parquet(*files)

    def decode_pass():
        row = with_decoded_metrics(clips()).agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("decode_ok").cast("long")).alias("ok")
        ).collect()[0]
        return row["ok"] / max(row["n"], 1)

    def augment_pass():
        return with_augmented_noise(clips(), digest=False).agg(
            F.sum(F.length("aug")).alias("b")
        ).collect()[0]["b"]

    with tracer.span("functions.decode.metrics_pass"):
        dec_s, ok_frac = _timed(decode_pass)
    with tracer.span("functions.audio.augment_pass"):
        aug_s, bytes_out = _timed(augment_pass, repeats=1)
    return {
        "functions.decode.metrics_pass_s": (dec_s, "s"),
        "functions.decode.decode_ok_frac": (float(ok_frac), "ratio"),
        "functions.audio.augment_pass_s": (aug_s, "s"),
        "functions.audio.bytes_out": (float(bytes_out or 0), "bytes"),
    }


def epoch_layers(progress: list[dict]) -> dict:
    """``streaming.pipeline``: per-epoch addBatch and fixed (trigger minus
    addBatch) medians over epochs that admitted rows, from listener records."""
    data = [p for p in progress if p["num_input_rows"] > 0]
    add = [p["duration_ms"].get("addBatch", 0) for p in data]
    fixed = [p["duration_ms"].get("triggerExecution", 0) - p["duration_ms"].get("addBatch", 0)
             for p in data]
    rows = [p["num_input_rows"] for p in data]
    return {
        "streaming.pipeline.addBatch_ms": (statistics.median(add) if add else 0.0, "ms"),
        "streaming.pipeline.fixed_ms": (statistics.median(fixed) if fixed else 0.0, "ms"),
        "streaming.pipeline.epochs": (float(len(progress)), "count"),
        "streaming.pipeline.rows_per_epoch": (statistics.median(rows) if rows else 0.0, "count"),
    }


def state_layers(prefix: str, progress: list[dict]) -> dict:
    """Peak state size over the epochs (all stateful operators summed) and
    the rows the watermark dropped, from listener records."""
    per_epoch = [p.get("state_operators", []) for p in progress]
    return {
        f"{prefix}.state_rows": (float(max((sum(so["state_rows"] for so in ops) for ops in per_epoch),
                                           default=0)), "count"),
        f"{prefix}.state_bytes": (float(max((sum(so["state_bytes"] for so in ops) for ops in per_epoch),
                                            default=0)), "bytes"),
        f"{prefix}.rows_dropped_by_watermark": (float(sum(so["rows_dropped_by_watermark"]
                                                          for ops in per_epoch for so in ops)), "count"),
    }


def sink_layers(write_s: list[float], manifests: list[dict], bytes_written: int) -> dict:
    """``streaming.sink``: time inside ``write_batch`` per epoch, bytes of
    committed files, and committed files per epoch."""
    files = [len(m["files"]) for m in manifests]
    return {
        "sink.write_batch_ms": (statistics.median(write_s) * 1e3 if write_s else 0.0, "ms"),
        "sink.bytes_written": (float(bytes_written), "bytes"),
        "sink.files_per_epoch": (float(statistics.median(files)) if files else 0.0, "count"),
    }
