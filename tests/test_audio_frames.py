"""Audio frame explode + features + multimodal plumbing."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.audio_synth import synth_pcm
from dataflow_geobeam_spark.functions import audio, multimodal
from dataflow_geobeam_spark.functions.decode import with_decoded_pcm
from dataflow_geobeam_spark.sources.clips import read_clips


def test_explode_frames_counts_and_rms(spark, fixture_dir):
    df = read_clips(spark, fixture_dir).where("codec = 'wav'").limit(8)
    pcm_df = with_decoded_pcm(df).where("pcm IS NOT NULL")
    frames = audio.explode_frames(pcm_df, frame_ms=100, hop_ms=50)
    rows = frames.select("clip_id", "sr_hz", "dur_ms", "frame_idx", "frame_rms").collect()
    assert rows
    by_clip: dict = {}
    for r in rows:
        by_clip.setdefault(r.clip_id, []).append(r)
    for clip_id, rs in by_clip.items():
        sr, dur = rs[0].sr_hz, rs[0].dur_ms
        n = int(round(sr * dur / 1000))
        frame, hop = sr // 10, sr // 20
        expected = (n - frame) // hop + 1 if n >= frame else 0
        assert len(rs) == expected, clip_id
        # oracle RMS of frame 0 computed in numpy from the same decode
        i = int(clip_id[2:])
        pcm = synth_pcm(i, sr, dur)
        dec, _ = codecs.decode(codecs.encode(pcm, sr, "wav"), "wav")
        want = float(np.sqrt(np.mean(dec[:frame].astype(np.float64) ** 2)))
        got = [r.frame_rms for r in rs if r.frame_idx == 0][0]
        assert abs(got - want) < 1e-6, clip_id


def test_with_frame_rms_equals_catalyst_explode(spark, fixture_dir):
    """The VAD fast path (frame RMS computed inside the decode mapInArrow
    pass) must produce byte-identical round-6 doubles to the Catalyst
    explode_frames fold it replaces — across mixed sample rates and both
    failure modes (decode error, sub-frame clip)."""
    df = read_clips(spark, fixture_dir).where(
        "codec = 'wav' AND sr_hz > 0 AND bytes IS NOT NULL"
    ).limit(16)
    pcm_df = with_decoded_pcm(df.select("clip_id", "bytes", "codec", "sr_hz")).where(
        "pcm IS NOT NULL"
    )
    want = {
        (r.clip_id, r.frame_idx): r.frame_rms
        for r in audio.explode_frames(pcm_df, frame_ms=100, hop_ms=50)
        .select("clip_id", "frame_idx", "frame_rms")
        .collect()
    }
    arr = audio.with_frame_rms(df.select("clip_id", "bytes", "codec", "sr_hz")).where(
        "frame_rms_arr IS NOT NULL"
    )
    got = {
        (r.clip_id, r.frame_idx): r.frame_rms
        for r in arr.select(
            "clip_id", F.posexplode("frame_rms_arr").alias("frame_idx", "frame_rms")
        ).collect()
    }
    assert want and got == want  # identical keys AND identical doubles
    # failure modes: junk payload and a sub-frame clip both yield NULL
    bad = spark.createDataFrame(
        [
            ("junk", b"nope", "wav", 16000),
            ("tiny", codecs.encode(synth_pcm(5, 16000, 20), 16000, "wav"), "wav", 16000),
        ],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    out = {r.clip_id: r.frame_rms_arr for r in audio.with_frame_rms(bad).collect()}
    assert out == {"junk": None, "tiny": None}


def test_zcr_and_silence(spark):
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    schema = StructType([StructField("pcm", ArrayType(FloatType()))])
    alternating = [float((-1) ** i) for i in range(100)]
    silent = [0.0] * 100
    df = spark.createDataFrame([(alternating,), (silent,)], schema)
    out = df.select(
        F.round(audio.zero_crossing_rate(F.col("pcm")), 6).alias("zcr"),
        F.round(audio.silence_ratio(F.col("pcm")), 6).alias("sil"),
    ).collect()
    assert out[0].zcr == 1.0 and out[0].sil == 0.0
    assert out[1].zcr == 0.0 and out[1].sil == 1.0


def test_container_sniffing(spark):
    wav = codecs.encode(synth_pcm(1, 8000, 250), 8000, "wav")
    rows = [(wav,), (b"\x89PNG\r\n\x1a\n....",), (b"\xff\xd8\xff\xe0....",), (b"garbage",)]
    df = spark.createDataFrame(rows, "bytes binary")
    got = [r.t for r in df.select(multimodal.sniff_container("bytes").alias("t")).collect()]
    assert got == ["riff", "png", "jpeg", "unknown"]


def test_trim_silence(spark):
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    schema = StructType([StructField("pcm", ArrayType(FloatType()))])
    padded = [0.0] * 5 + [0.5, -0.3, 0.2] + [0.001] * 4
    rows = [(padded,), ([0.0] * 10,), ([0.9],)]
    df = spark.createDataFrame(rows, schema)
    got = [r.t for r in df.select(audio.trim_silence(F.col("pcm")).alias("t")).collect()]
    assert [round(x, 3) for x in got[0]] == [0.5, -0.3, 0.2]
    assert got[1] == []  # all silent
    assert [round(x, 3) for x in got[2]] == [0.9]


def test_spectral_features_pure_tone(spark):
    """A pure 440 Hz tone's spectral centroid must sit at ~440 Hz and its
    bandwidth near 0 — physics sanity of the FFT kernel, end-to-end
    through encode -> Spark mapInArrow decode -> rfft."""
    import numpy as np

    from dataflow_geobeam_spark.functions.audio import spectral_features_np, with_spectral_metrics

    sr = 16000
    t = np.arange(sr) / sr  # 1 second
    tone = (0.5 * np.sin(2 * np.pi * 440.0 * t)).astype(np.float32)
    buf = codecs.encode(tone, sr, "wav")
    df = spark.createDataFrame([("tone", buf, "wav", sr)], "clip_id string, bytes binary, codec string, sr_hz int")
    row = with_spectral_metrics(df).collect()[0]
    assert abs(row.spectral_centroid_hz - 440.0) < 2.0
    # PCM16 quantization noise floor spreads some magnitude across the
    # spectrum; magnitude-weighted bandwidth lands ~60 Hz, not ~0
    assert row.spectral_bandwidth_hz < 100.0
    # kernel parity: Spark path == direct numpy on the decoded samples
    dec, _ = codecs.decode(buf, "wav")
    c, b, r = spectral_features_np(dec, sr)
    assert abs(row.spectral_centroid_hz - c) < 1e-9
    assert abs(row.spectral_rolloff_hz - r) < 1e-9


def test_spectral_features_edge_cases():
    from dataflow_geobeam_spark.functions.audio import spectral_features_np

    assert spectral_features_np([], 8000) == (0.0, 0.0, 0.0)
    assert spectral_features_np([0.0] * 100, 8000) == (0.0, 0.0, 0.0)
