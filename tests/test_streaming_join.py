"""Stream-stream clip<->transcript join: built-in interval join and the
applyInPandasWithState state machine, both vs the batch oracle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA, TRANSCRIPTS_SCHEMA
from dataflow_geobeam_spark.streaming import join as sjoin


def _stream_inputs(spark, fixture_dir, tmp_path, n_files=4):
    """Split both tables into n files and open them as paced streams."""
    cdir, tdir = str(tmp_path / "c"), str(tmp_path / "t")
    clips = spark.read.parquet(os.path.join(fixture_dir, "clips.parquet")).select(
        "clip_id", "ts", "transcript"
    )
    clips.repartition(n_files, "clip_id").write.mode("overwrite").parquet(cdir)
    tr = spark.read.parquet(os.path.join(fixture_dir, "transcripts_late.parquet"))
    tr.repartition(n_files, "t_clip_id").write.mode("overwrite").parquet(tdir)

    cs = (
        spark.readStream.schema("clip_id string, ts timestamp, transcript string")
        .option("maxFilesPerTrigger", "2")
        .parquet(cdir)
    )
    ts = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .parquet(tdir)
    )
    return cs, ts


def _batch_matched_pairs(spark, fixture_dir):
    """Oracle: matched (clip, earliest in-window transcript) pairs."""
    clips = spark.read.parquet(os.path.join(fixture_dir, "clips.parquet")).select(
        "clip_id", "ts", "transcript"
    )
    tr = spark.read.parquet(os.path.join(fixture_dir, "transcripts_late.parquet"))
    j = clips.join(
        tr,
        (F.col("clip_id") == F.col("t_clip_id"))
        & (F.col("t_ts") >= F.col("ts"))
        & (F.col("t_ts") <= F.col("ts") + F.expr("interval 5 minutes")),
        "inner",
    )
    return j


def test_interval_join_matches_batch(spark, fixture_dir, tmp_path):
    cs, ts = _stream_inputs(spark, fixture_dir, tmp_path)
    out_dir = str(tmp_path / "out")
    joined = sjoin.interval_join_streams(cs, ts)
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.clip_id, r.t_transcript)
        for r in spark.read.parquet(out_dir).select("clip_id", "t_transcript").collect()
    }
    want = {
        (r.clip_id, r.t_transcript)
        for r in _batch_matched_pairs(spark, fixture_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stateful_join_apply_matched_and_unmatched(spark, fixture_dir, tmp_path):
    cs, ts = _stream_inputs(spark, fixture_dir, tmp_path)
    out_dir = str(tmp_path / "out2")
    joined = sjoin.stateful_join_apply(cs, ts)
    q = (
        joined.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    got = spark.read.parquet(out_dir)
    got_matched = {
        (r.clip_id, r.t_transcript) for r in got.where("matched").collect()
    }
    want_matched_ids = {
        r.clip_id for r in _batch_matched_pairs(spark, fixture_dir).collect()
    }
    # matched set: same clip ids; transcript equality per-row (t == clip's own)
    assert {c for c, _ in got_matched} == want_matched_ids
    for r in got.where("matched").collect():
        assert r.t_transcript == r.transcript

    # at most one output row per clip (no duplicate emission)
    total = got.count()
    assert got.select("clip_id").distinct().count() == total

    # unmatched rows exist only for clips the oracle also leaves unmatched;
    # clips still inside the final watermark may simply not be emitted yet,
    # so assert no FALSE unmatched instead of full-set equality
    got_unmatched = {r.clip_id for r in got.where("NOT matched").collect()}
    assert got_unmatched.isdisjoint(want_matched_ids)
    assert len(got_matched) > 0


def test_stateful_join_resumes_from_checkpoint(spark, fixture_dir, tmp_path):
    """Kill the stateful join mid-stream and restart from the same
    checkpoint: buffered per-key state (clips awaiting transcripts and
    vice versa) must survive the restart — the resumed run's matched set
    equals an uninterrupted run's."""
    import os
    import time

    from dataflow_geobeam_spark.sources.clips import TRANSCRIPTS_SCHEMA

    cdir, tdir = str(tmp_path / "c"), str(tmp_path / "t")
    # deterministic subset (limit() picks arbitrary rows per run): the
    # first 64 of 256 clip_id-prefix buckets, ~75 clips at sf0.001
    clips = spark.read.parquet(os.path.join(fixture_dir, "clips.parquet")).select(
        "clip_id", "ts", "transcript"
    ).where(F.substring("clip_id", 1, 2) < "40")
    clips.repartition(4, "clip_id").write.mode("overwrite").parquet(cdir)
    tr = spark.read.parquet(os.path.join(fixture_dir, "transcripts_late.parquet")).join(
        spark.read.parquet(cdir).select(F.col("clip_id").alias("t_clip_id")),
        "t_clip_id",
        "left_semi",
    )
    tr.repartition(4, "t_clip_id").write.mode("overwrite").parquet(tdir)

    def streams():
        cs = (
            spark.readStream.schema("clip_id string, ts timestamp, transcript string")
            .option("maxFilesPerTrigger", "1").parquet(cdir)
        )
        ts = (
            spark.readStream.schema(TRANSCRIPTS_SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(tdir)
        )
        return cs, ts

    def run(out_dir, ck, stop_after_batches=None):
        cs, ts = streams()
        # Watermark far wider than the fixture's whole ts span: THIS test
        # pins that buffered state survives kill/restart, so the matched
        # set must not depend on micro-batch composition. With the usual
        # tight watermark, a loaded machine can schedule several clips-only
        # batches first (each file source lists/admits independently),
        # advancing the union watermark past the early transcripts — they
        # late-drop and the matched set collapses, which is correct
        # LATE-DATA semantics (pinned by the watermark tests) but noise
        # here. A span-wide delay makes every interleaving yield the same
        # full join.
        out = sjoin.stateful_join_apply(cs, ts, watermark="365 days")
        q = (
            out.writeStream.format("parquet").outputMode("append")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        if stop_after_batches is not None:
            deadline = time.time() + 120
            while time.time() < deadline:
                p = q.lastProgress
                if p and p["batchId"] >= stop_after_batches:
                    break
                time.sleep(0.3)
            q.stop()          # kill mid-stream
            q.awaitTermination(60)
        else:
            assert q.awaitTermination(600), "query did not drain in time"
            assert q.exception() is None, q.exception()
        # explicit schema: readable even when the kill landed before any
        # file committed (the sink's _spark_metadata dir exists from start)
        rows = spark.read.schema(sjoin.JOIN_OUT_SCHEMA).parquet(out_dir).collect()
        return {(r.clip_id, r.t_transcript) for r in rows if r.matched}

    # uninterrupted baseline
    baseline = run(str(tmp_path / "out_base"), str(tmp_path / "ck_base"))
    assert baseline

    # interrupted + resumed: SAME output dir + checkpoint across both runs
    ck = str(tmp_path / "ck_resume")
    out_dir = str(tmp_path / "out_resume")
    run(out_dir, ck, stop_after_batches=1)
    resumed = run(out_dir, ck)
    assert resumed == baseline


def test_stateful_join_drops_rows_with_null_key_or_time(spark, tmp_path):
    """Dirty rows on either side never match and are never emitted: a clip
    with a null ``ts`` (NaT would come out as 1677-09-21) or a null
    ``clip_id`` (would come out keyed null, matched to a null-keyed
    transcript), and transcripts with a null ``t_clip_id`` or ``t_ts``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    sec = dt.timedelta(seconds=1)

    def write(dirname, names, batches):
        os.makedirs(tmp_path / dirname)
        for i, rows in enumerate(batches):  # one file per micro-batch, in order
            path = str(tmp_path / dirname / f"part-{i}.parquet")
            cols = list(zip(*rows))
            pq.write_table(
                pa.table(
                    [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.timestamp("us", "UTC")),
                     pa.array(cols[2], pa.string())],
                    names=names,
                ),
                path,
            )
            os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))

    write(
        "c",
        ["clip_id", "ts", "transcript"],
        [
            [("a", t0, "xa"), ("b", None, "xb"), (None, t0, "xn"), ("c", t0, "xc")],
            [("z", t0 + 3600 * sec, "xz")],  # moves the watermark past a/b/c's window
            [("z2", t0 + 7200 * sec, "xz2")],
        ],
    )
    write(
        "t",
        ["t_clip_id", "t_ts", "t_transcript"],
        [[("a", t0 + 10 * sec, "ta"), (None, t0 + 20 * sec, "tn"), ("c", None, "tc"), ("b", t0, "tb")]],
    )
    cs = spark.readStream.schema("clip_id string, ts timestamp, transcript string").option(
        "maxFilesPerTrigger", "1"
    ).parquet(str(tmp_path / "c"))
    ts = spark.readStream.schema(TRANSCRIPTS_SCHEMA).option("maxFilesPerTrigger", "1").parquet(
        str(tmp_path / "t")
    )
    out_dir = str(tmp_path / "out")
    q = (
        sjoin.stateful_join_apply(cs, ts).writeStream.format("parquet").outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "query did not drain in time"
    assert q.exception() is None, q.exception()
    rows = spark.read.schema(sjoin.JOIN_OUT_SCHEMA).parquet(out_dir).collect()
    got = sorted(
        ((r.clip_id, r.ts, r.transcript, r.t_transcript, r.matched) for r in rows if r.clip_id not in ("z", "z2")),
        key=str,
    )
    ts0 = t0.replace(tzinfo=None)
    assert got == [("a", ts0, "xa", "ta", True), ("c", ts0, "xc", None, False)]
