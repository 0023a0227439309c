"""Streaming integration: flagship job, exactly-once sink, kill/restart resume.

Covers SURVEY.md §7 M3 (streaming core) and M6 (exactly-once + resume):
* update-mode stream result == batch oracle (full row-set equality)
* append-mode emits exactly the watermark-finalized windows (no dupes)
* an epoch replayed after a mid-stream crash commits exactly once
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from dataflow_geobeam_spark.streaming import pipeline
from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink


@pytest.fixture()
def tmpdirs(tmp_path):
    return str(tmp_path / "out"), str(tmp_path / "ckpt")


def _batch_oracle(spark, fixture_dir):
    """Same plan fragment, batch execution — the semantic oracle."""
    from dataflow_geobeam_spark.sources.clips import read_clips

    clips = read_clips(spark, fixture_dir)
    from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
    from dataflow_geobeam_spark.functions.validity import precheck_predicate, valid_clip_predicate

    df = with_decoded_metrics(clips.where(precheck_predicate())).where(valid_clip_predicate())
    return pipeline.windowed_agg_stream(df)


def _as_key_set(rows):
    return {
        (r.window_start, r.bucket, r.n_clips, r.sum_dur_ms, round(r.mean_rms, 9), r.sum_samples)
        for r in rows
    }


def test_streaming_update_mode_equals_batch(spark, fixture_dir, tmpdirs):
    out_dir, ckpt = tmpdirs
    query, sink = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, n_files=6, output_mode="update"
    )
    query.awaitTermination(300)
    got = sink.read_latest(spark, ["window_start", "bucket"]).collect()
    want = _batch_oracle(spark, fixture_dir).collect()
    assert _as_key_set(got) == _as_key_set(want)
    # lineage columns present on every committed row
    assert {"_epoch_id", "_source_partition"} <= set(sink.read(spark).columns)
    # multiple epochs actually ran (paced micro-batches, not one big batch)
    assert len(sink.committed_manifests()) >= 3


def test_streaming_append_mode_emits_only_finalized_windows(spark, fixture_dir, tmpdirs):
    out_dir, ckpt = tmpdirs
    query, sink = pipeline.run_streaming_window_agg(
        spark, fixture_dir, out_dir, ckpt, n_files=6, output_mode="append"
    )
    query.awaitTermination(300)
    got = sink.read(spark)
    want_keys = _as_key_set(_batch_oracle(spark, fixture_dir).collect())
    got_rows = got.collect()
    # appended rows are final: a strict subset (trailing windows unflushed)...
    assert _as_key_set(got_rows) <= want_keys
    # ...and never duplicated
    n_distinct = got.select("window_start", "bucket").distinct().count()
    assert n_distinct == len(got_rows)


def test_kill_restart_replays_to_identical_committed_set(spark, fixture_dir, tmpdirs):
    """North rule: 'resumable from checkpoint ... replays to the identical
    committed row set'. Crash the job mid-stream (after 2 epochs), restart
    from the same checkpoint, compare to an uninterrupted control run."""
    out_dir, ckpt = tmpdirs

    stream_dir = pipeline.prepare_stream_dir(spark, fixture_dir, 6)
    clips = pipeline.stream_clips_dir(spark, stream_dir, 1)
    agg = pipeline.windowed_agg_stream(pipeline.decoded_valid_stream(clips))
    sink = ExactlyOnceParquetSink(out_dir)

    crashed = {"flag": False}

    def crashing_writer(df, epoch_id):
        if epoch_id >= 2 and not crashed["flag"]:
            crashed["flag"] = True
            raise RuntimeError("injected crash before epoch commit")
        sink.write_batch(df, epoch_id)

    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(crashing_writer)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="injected crash|Query .* terminated"):
        q.awaitTermination(300)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
    committed_before = {m["epoch_id"] for m in sink.committed_manifests()}
    assert committed_before == {0, 1}  # epoch 2 failed before its commit

    # restart from the same checkpoint: Spark replays epoch 2, sink commits it
    q2, _ = _restart(agg, ckpt, sink)
    q2.awaitTermination(300)

    final = sink.read_latest(spark, ["window_start", "bucket"]).collect()

    # control: uninterrupted run with its own sink+checkpoint
    ctl_sink = ExactlyOnceParquetSink(out_dir + "_ctl")
    q3 = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt + "_ctl")
        .foreachBatch(ctl_sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    q3.awaitTermination(300)
    control = ctl_sink.read_latest(spark, ["window_start", "bucket"]).collect()
    assert _as_key_set(final) == _as_key_set(control)
    # every epoch committed exactly once
    epochs = [m["epoch_id"] for m in sink.committed_manifests()]
    assert len(epochs) == len(set(epochs))


def _restart(agg, ckpt, sink):
    q = (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(sink.foreach_batch())
        .trigger(availableNow=True)
        .start()
    )
    return q, sink


def test_sink_epoch_idempotence(spark, tmp_path):
    """Directly replay the same epoch twice: second write must be a no-op."""
    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    sink.write_batch(df, 0)
    files_before = sink.committed_files()
    sink.write_batch(df, 0)  # replay
    assert sink.committed_files() == files_before
    assert sink.read(spark).count() == 10


def test_unreadable_epoch_file_fails_the_epoch(spark, tmp_path, monkeypatch):
    """The manifest's n_rows is what drain loops count against, so a data
    file the sink cannot read back must fail the epoch (Spark replays it),
    never commit a manifest that lists it with n_rows 0."""
    import pyarrow.parquet as pq

    sink = ExactlyOnceParquetSink(str(tmp_path / "t"))
    df = spark.range(10).withColumn("v", F.col("id") * 2)

    def unreadable(*args, **kwargs):
        raise OSError("unreadable epoch file")

    monkeypatch.setattr(pq, "ParquetFile", unreadable)
    with pytest.raises(OSError, match="unreadable epoch file"):
        sink.write_batch(df, 0)
    assert not sink.is_committed(0)
    monkeypatch.undo()
    sink.write_batch(df, 0)  # the replay commits
    assert sink.is_committed(0)
    assert sum(m["n_rows"] for m in sink.committed_manifests()) == 10
