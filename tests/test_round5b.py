"""Round-5 breadth additions: MFCC cepstral features (bit-exact vs the
independent scalar-loop mirror), energy-threshold VAD segmentation, and
the two new CEP match semantics (absence / negation and Kleene-plus
iteration) — semantics pinned on hand-built sequences, plan shapes
pinned window-only, and cross-checked against DuckDB formulations that
differ from the engine's compilation (NOT EXISTS vs RANGE frame). Their
streaming forms are pinned in test_cep_stream.py.

Reference parity: the reference (Beam ingestion glue) has no feature
extraction or CEP surface; this is north-rule scope
(``BASELINE.json: north_star``, "structured-streaming/CEP engine").
"""

from __future__ import annotations

import datetime as dt

import numpy as np


# ---------------------------------------------------------------------------
# MFCC: engine kernel == independent mirror, bit for bit
# ---------------------------------------------------------------------------


def test_mfcc_bit_identical_and_edges(spark):
    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.fixtures import independent as ind
    from dataflow_geobeam_spark.functions.audio import (
        MFCC_N,
        mfcc_mean_np,
        with_mfcc_means,
    )

    for i, sr, dur in [(2, 8000, 900), (4, 44100, 2500), (6, 22050, 333)]:
        p = synth_pcm(i, sr, dur)
        got, want = mfcc_mean_np(p, sr), ind.mfcc_mean(p, sr)
        assert got is not None and want is not None
        assert np.array_equal(got, want)  # bit-exact, no tolerance
        assert got.shape == (MFCC_N,)
    # sub-frame clip (< 25 ms at 16 kHz) -> None / NULL row
    assert mfcc_mean_np(synth_pcm(9, 16000, 20), 16000) is None
    pcm = synth_pcm(3, 8000, 500)
    rows = [
        ("a", ind.encode(pcm, 8000, "wav"), "wav", 8000),
        ("b", ind.encode(synth_pcm(9, 16000, 20), 16000, "wav"), "wav", 16000),
        ("c", b"junk", "wav", 8000),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string, sr_hz int")
    got = {r.clip_id: r.mfcc_mean for r in with_mfcc_means(df).collect()}
    assert got["a"] is not None and len(got["a"]) == MFCC_N
    assert got["b"] is None and got["c"] is None


def test_mfcc_c0_is_scaled_logmel_sum():
    """DCT-II at k=0 has an all-ones basis row, so c0 must equal the sum
    of the mean log-mel vector (cross-kernel consistency, catches basis
    indexing slips)."""
    from dataflow_geobeam_spark.audio_synth import synth_pcm
    from dataflow_geobeam_spark.functions.audio import mel_mean_np, mfcc_mean_np

    p = synth_pcm(7, 16000, 700)
    mel, mfcc = mel_mean_np(p, 16000), mfcc_mean_np(p, 16000)
    assert abs(mfcc[0] - mel.sum()) < 1e-9 * max(1.0, abs(mel.sum()))


# ---------------------------------------------------------------------------
# CEP absence (negation) semantics
# ---------------------------------------------------------------------------


def _ev_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )


def test_match_absence_semantics(spark):
    """Pins the (ts, ts+T] half-open window: a same-microsecond B does
    NOT clear the absence; a B exactly at ts+T DOES; a B after ts+T does
    not."""
    from dataflow_geobeam_spark.operators.cep import match_absence

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, 10, t0, "A"),                      # B at +30 inside window -> cleared
        (1, 11, t0 + 30 * s, "B"),
        (2, 20, t0, "A"),                      # B exactly at +60 (== T) -> cleared
        (2, 21, t0 + 60 * s, "B"),
        (3, 30, t0, "A"),                      # B at +61 (> T) -> ABSENT
        (3, 31, t0 + 61 * s, "B"),
        (4, 40, t0, "A"),                      # same-ts B only -> ABSENT (strictly after)
        (4, 41, t0, "B"),
        (5, 50, t0, "A"),                      # no B at all -> ABSENT
        (6, 60, t0, "B"),                      # B alone is not an anchor
    ]
    got = {
        (r.user_id, r.anchor_id)
        for r in match_absence(_ev_df(spark, rows), "A", "B", within_s=60).collect()
    }
    assert got == {(3, 30), (4, 40), (5, 50)}


def test_match_kleene_semantics(spark):
    """Pins A B+ C over consecutive events: >=1 B required, run must be
    unbroken, n_b counted, window bound on the whole span."""
    from dataflow_geobeam_spark.operators.cep import match_kleene

    t0 = dt.datetime(2024, 1, 1)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, 10, t0, "A"), (1, 11, t0 + s, "B"), (1, 12, t0 + 2 * s, "C"),
        # user 2: three Bs
        (2, 20, t0, "A"), (2, 21, t0 + s, "B"), (2, 22, t0 + 2 * s, "B"),
        (2, 23, t0 + 3 * s, "B"), (2, 24, t0 + 4 * s, "C"),
        # user 3: zero Bs -> no match
        (3, 30, t0, "A"), (3, 31, t0 + s, "C"),
        # user 4: run broken by x -> no match
        (4, 40, t0, "A"), (4, 41, t0 + s, "B"),
        (4, 42, t0 + 2 * s, "x"), (4, 43, t0 + 3 * s, "C"),
        # user 5: valid shape but C lands outside the window
        (5, 50, t0, "A"), (5, 51, t0 + s, "B"), (5, 52, t0 + 120 * s, "C"),
        # user 6: B+ C with no A anchor before the run
        (6, 60, t0, "x"), (6, 61, t0 + s, "B"), (6, 62, t0 + 2 * s, "C"),
    ]
    out = match_kleene(_ev_df(spark, rows), ("A", "B", "C"), within_s=60).collect()
    got = {(r.user_id, r.anchor_id, r.n_b, r.span_s) for r in out}
    assert got == {(1, 10, 1, 2), (2, 20, 3, 4)}


def test_absence_kleene_plan_shapes(spark):
    """Both new CEP operators must stay window-only: exactly one shuffle
    exchange on the key, zero joins."""
    from dataflow_geobeam_spark.operators.cep import match_absence, match_kleene

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    for n_windows, df in (
        (1, match_absence(ev, "view", "purchase", 3600)),
        (2, match_kleene(ev, ("view", "click", "purchase"), 7 * 86400)),
    ):
        df.collect()
        # the executed string includes AQE's "Initial Plan" echo — count in
        # the final section only
        plan = df._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Join" not in plan and "CartesianProduct" not in plan
        assert plan.count("Exchange hashpartitioning") == 1
        # kleene: row_number window + ONE fused last() window over the same
        # exchange (+1 for the four last()s collapsing; a regression to one
        # Window node per last() would show 6)
        assert plan.count("Window [") <= n_windows


def test_absence_kleene_vs_duckdb(spark):
    """Cross-engine check at sf0.001 with INDEPENDENT formulations:
    DuckDB runs NOT EXISTS (absence) and the layered-CTE islands SQL
    (kleene) while the engine runs RANGE-frame / last-ignorenulls
    compilations."""
    import duckdb

    from dataflow_geobeam_spark.operators.cep import match_absence, match_kleene

    pq = "/root/testdata/sf0.001/events.parquet"
    ev = spark.read.parquet(pq)
    con = duckdb.connect()

    got_a = {
        (r.user_id, r.anchor_id, r.t0_s)
        for r in match_absence(ev, "view", "purchase", 3600).collect()
    }
    want_a = set(
        con.execute(
            f"""
            SELECT e1.user_id, e1.event_id,
                   CAST(floor(epoch(e1.ts)) AS BIGINT)
            FROM read_parquet('{pq}') e1
            WHERE e1.event_type = 'view' AND NOT EXISTS (
              SELECT 1 FROM read_parquet('{pq}') e2
              WHERE e2.user_id = e1.user_id AND e2.event_type = 'purchase'
                AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 3600 SECOND)
            """
        ).fetchall()
    )
    assert got_a == want_a and got_a

    got_k = {
        (r.user_id, r.anchor_id, r.n_b, r.t0_s, r.t_end_s, r.span_s)
        for r in match_kleene(ev, ("view", "click", "purchase"), 7 * 86400).collect()
    }
    want_k = set(
        con.execute(
            f"""
            WITH r AS (
              SELECT user_id, event_id, ts, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS rn
              FROM read_parquet('{pq}')
            ), o AS (
              SELECT user_id, event_id, ts, event_type, rn,
                     max(CASE WHEN event_type <> 'click' THEN rn END)
                       OVER wp AS nc_rn,
                     last_value(CASE WHEN event_type <> 'click'
                                     THEN event_type END IGNORE NULLS)
                       OVER wp AS nc_ty,
                     last_value(CASE WHEN event_type <> 'click'
                                     THEN ts END IGNORE NULLS) OVER wp AS nc_ts,
                     last_value(CASE WHEN event_type <> 'click'
                                     THEN event_id END IGNORE NULLS) OVER wp AS nc_id
              FROM r
              WINDOW wp AS (PARTITION BY user_id ORDER BY rn
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            )
            SELECT user_id, nc_id, CAST(rn - 1 - nc_rn AS BIGINT),
                   CAST(floor(epoch(nc_ts)) AS BIGINT),
                   CAST(floor(epoch(ts)) AS BIGINT),
                   CAST(floor(epoch(ts)) AS BIGINT)
                     - CAST(floor(epoch(nc_ts)) AS BIGINT)
            FROM o
            WHERE event_type = 'purchase' AND nc_ty = 'view'
              AND rn - 1 - nc_rn >= 1
              AND ts <= nc_ts + INTERVAL 604800 SECOND
            """
        ).fetchall()
    )
    assert got_k == want_k


# ---------------------------------------------------------------------------
# VAD segmentation
# ---------------------------------------------------------------------------


def test_vad_matches_python_recompute(spark, sf_dir):
    """audio_vad's windowed flags/edges recomputed row-by-row in plain
    Python from the (independently golden-gated) frame table must agree
    exactly."""
    from dataflow_geobeam_spark.plans.audio import audio_frame_rms, audio_vad

    frames = audio_frame_rms(spark, sf_dir).collect()
    by_clip: dict[str, list] = {}
    for r in frames:
        by_clip.setdefault(r.clip_id, []).append((r.frame_idx, r.frame_rms))
    want = {}
    for cid, fr in by_clip.items():
        fr.sort()
        thresh = max(0.1 * max(v for _, v in fr), 1e-4)
        flags = [v > thresh for _, v in fr]
        n_seg = sum(
            1 for i, f in enumerate(flags) if f and (i == 0 or not flags[i - 1])
        )
        n_speech = sum(flags)
        want[cid] = (
            len(flags),
            n_speech,
            float(np.floor(n_speech / len(flags) * 1e6 + 0.5) / 1e6),
            n_seg,
        )
    got = {
        r.clip_id: (r.n_frames, r.n_speech, r.speech_ratio, r.n_segments)
        for r in audio_vad(spark, sf_dir).collect()
    }
    assert got == want and got


def test_vad_plan_single_exchange(spark, sf_dir):
    """The max-window, lag-window, and final groupBy must all ride ONE
    exchange on clip_id (the window's hash partitioning satisfies the
    aggregate) — no second shuffle, no join."""
    from dataflow_geobeam_spark.plans.audio import audio_vad

    df = audio_vad(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_vad_segments_multi_segment_extraction(spark):
    """audio_vad_segments' islands logic on clips the fixture corpus
    can't produce (every fixture clip is one continuous segment): a
    hand-built wav with TWO bursts separated by silence must yield two
    rows with the right frame spans, and an all-silence-but-one-burst
    edge must clip to one row. Uses the operator's own building blocks
    over an in-memory table (no fixtures), then a scalar recompute."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark import codecs
    from dataflow_geobeam_spark.functions.audio import with_frame_rms

    sr = 16000
    frame, hop = 1600, 800  # 100/50 ms at 16 kHz

    def clip(spans_s, dur_s):
        y = np.zeros(int(sr * dur_s), dtype=np.float64)
        t = np.arange(y.size) / sr
        for a, b in spans_s:
            m = (t >= a) & (t < b)
            y[m] = 0.5 * np.sin(2 * np.pi * 220 * t[m])
        return codecs.encode(y, sr, "wav")

    rows = [
        # burst 0-1s, silence 1-2s, burst 2-3s
        ("two", clip([(0.0, 1.0), (2.0, 3.0)], 3.0), "wav", sr),
        # single burst in the middle
        ("one", clip([(1.0, 1.5)], 3.0), "wav", sr),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    frames = with_frame_rms(df).select(
        "clip_id", F.posexplode("frame_rms_arr").alias("frame_idx", "frame_rms")
    )
    w_clip = Window.partitionBy("clip_id")
    w_ord = Window.partitionBy("clip_id").orderBy("frame_idx")
    flagged = frames.withColumn(
        "_speech",
        F.col("frame_rms")
        > F.greatest(F.max("frame_rms").over(w_clip) * 0.1, F.lit(1e-4)),
    ).withColumn(
        "_rising",
        F.col("_speech") & ~F.coalesce(F.lag("_speech").over(w_ord), F.lit(False)),
    )
    segs = (
        flagged.withColumn("_seg", F.sum(F.col("_rising").cast("long")).over(w_ord))
        .where("_speech")
        .groupBy("clip_id", "_seg")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            (F.min("frame_idx").cast("long") * 50).alias("start_ms"),
            (F.max("frame_idx").cast("long") * 50 + 100).alias("end_ms"),
        )
    )
    got = {
        (r.clip_id, r._seg): (r.n_frames, r.start_ms, r.end_ms)
        for r in segs.collect()
    }
    # scalar recompute from the clip's own frame RMS values
    import math

    def expect(cid, payload):
        pcm, _ = codecs.decode(payload, "wav")
        n = (pcm.shape[0] - frame) // hop + 1
        rms = []
        for i in range(n):
            sl = pcm[i * hop : i * hop + frame].astype(np.float64)
            v = math.sqrt(float(np.cumsum(sl * sl)[-1]) / frame)
            rms.append(math.floor(v * 1e6 + 0.5) / 1e6)
        thr = max(0.1 * max(rms), 1e-4)
        segsx, cur = [], None
        for i, v in enumerate(rms):
            if v > thr:
                if cur is None:
                    cur = [i, i]
                else:
                    cur[1] = i
            elif cur is not None:
                segsx.append(cur)
                cur = None
        if cur is not None:
            segsx.append(cur)
        return {
            (cid, k + 1): (b - a + 1, a * 50, b * 50 + 100)
            for k, (a, b) in enumerate(segsx)
        }

    want = {}
    for cid, payload, _, _ in rows:
        want.update(expect(cid, payload))
    assert got == want
    assert len([k for k in got if k[0] == "two"]) == 2
    assert len([k for k in got if k[0] == "one"]) == 1


def test_extract_segments_roundtrip_and_failure_modes(spark):
    """with_speech_segments (round 5d): each emitted chunk must decode
    back to EXACTLY the PCM16 quantization of the source span; gap bytes
    never appear; junk payloads and sub-frame clips yield no rows."""
    import numpy as np
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark import codecs
    from dataflow_geobeam_spark.functions.audio import (
        frame_rms_np,
        segment_spans_np,
        with_speech_segments,
    )

    sr, frame, hop = 16000, 1600, 800
    y = np.zeros(sr * 3, dtype=np.float64)
    t = np.arange(y.size) / sr
    for a, b in [(0.0, 1.0), (2.0, 3.0)]:
        m = (t >= a) & (t < b)
        y[m] = 0.5 * np.sin(2 * np.pi * 220 * t[m])
    payload = codecs.encode(y, sr, "wav")
    rows = [
        ("two", payload, "wav", sr),
        ("junk", b"nope", "wav", sr),
        ("tiny", codecs.encode(np.zeros(100), sr, "wav"), "wav", sr),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    got = {
        (r.clip_id, r.seg_idx): r
        for r in with_speech_segments(df).collect()
    }
    assert {k[0] for k in got} == {"two"}
    assert sorted(k[1] for k in got) == [1, 2]
    # oracle spans from the kernel's own building blocks (scalar path)
    pcm, _ = codecs.decode(payload, "wav")
    rms = frame_rms_np(pcm, sr)
    rms = np.floor(rms * 1e6 + 0.5) / 1e6
    spans = segment_spans_np(rms)
    assert len(spans) == 2
    for k, (a, b) in enumerate(spans):
        r = got[("two", k + 1)]
        assert (r.start_ms, r.end_ms) == (a * 50, b * 50 + 100)
        seg_pcm, seg_sr = codecs.decode(bytes(r.seg_bytes), "wav")
        assert seg_sr == sr
        # bit-exact: re-quantizing the source span gives the same bytes
        assert bytes(r.seg_bytes) == codecs.encode_wav(pcm[a * hop : b * hop + frame], sr)
    # the emitted chunks carry no silence gap: total chunk samples ~2s of 3s
    total = sum(
        len(codecs.decode(bytes(r.seg_bytes), "wav")[0]) for r in got.values()
    )
    assert total < 2.6 * sr


def test_extract_segments_streaming_equals_batch(spark, tmp_path):
    """with_speech_segments is stateless per clip, so it runs UNCHANGED
    on a streaming scan: an availableNow pass over the micro-batched
    clips stream must emit exactly the batch operator's chunk set
    (clip_id, seg_idx, start_ms, end_ms, md5) — ingest-time utterance
    chunking, no state store, no watermark needed."""
    from pyspark.sql import functions as F

    from dataflow_geobeam_spark.fixtures import ensure_fixtures
    from dataflow_geobeam_spark.functions.audio import with_speech_segments
    from dataflow_geobeam_spark.sources.clips import CLIPS_SCHEMA, read_clips
    from dataflow_geobeam_spark.streaming.pipeline import prepare_stream_dir

    fx = ensure_fixtures("/root/testdata/sf0.001")
    stream_dir = prepare_stream_dir(spark, fx, n_files=4)

    def project(segs):
        return segs.select(
            "clip_id", "seg_idx", "start_ms", "end_ms", F.md5("seg_bytes").alias("m")
        )

    cols = ("clip_id", "bytes", "codec", "sr_hz")
    batch = {
        tuple(r)
        for r in project(
            with_speech_segments(read_clips(spark, fx, columns=cols))
        ).collect()
    }
    stream = (
        spark.readStream.schema(CLIPS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )
    out = project(with_speech_segments(stream.select(*cols)))
    q = (
        out.writeStream.format("memory")
        .queryName("seg_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {tuple(r) for r in spark.sql("select * from seg_stream_test").collect()}
    assert got == batch and len(batch) > 0
