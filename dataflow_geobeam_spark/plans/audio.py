"""Audio-domain queries (the graft's flagship pipeline, batch form).

Each mirrors the reference's canonical pipeline shape
read -> normalize -> filter -> format -> sink
(``/root/reference/geobeam/examples/shapefile_nfhl.py:36-49``) with the
north rule's windowed-aggregate stage added. Batch and streaming share these
plan fragments; the streaming module wraps them with watermark + sink.

Column-naming contract: every computed column is aliased identically to the
DuckDB oracle SQL in ``__spark_entry__.oracle_sql`` (driver hashes by sorted
column name). Window starts are emitted as epoch SECONDS (long) rather than
timestamps so the hash is timezone-free on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataflow_geobeam_spark.fixtures import ensure_fixtures
from dataflow_geobeam_spark.functions.decode import with_decoded_metrics
from dataflow_geobeam_spark.functions.validity import (
    filter_invalid,
    precheck_predicate,
    valid_clip_predicate,
)
from dataflow_geobeam_spark.operators import windows
from dataflow_geobeam_spark.sources.clips import read_clips, read_transcripts
from dataflow_geobeam_spark.util import epoch_seconds


def decoded_valid_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared prefix: scan -> cheap precheck -> vectorized decode -> validity.

    The precheck runs BEFORE the decode UDF so rows with unknown codecs or
    null payloads never cross the JVM->Python boundary (nodata-mask analog,
    ``geobeam/io.py:224,235``)."""
    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx).where(precheck_predicate())
    return filter_invalid(with_decoded_metrics(df))


def audio_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: per clip_id-prefix bucket, per 10 s tumbling event-time
    window: clip count, total duration, mean RMS, total samples."""
    agg = windows.tumbling(decoded_valid_clips(spark, sf_dir), "10 seconds", keys=("bucket",))
    return agg.select(
        epoch_seconds("window_start").alias("window_start_s"),
        "bucket",
        "n_clips",
        "sum_dur_ms",
        F.round("mean_rms", 6).alias("mean_rms"),
        "sum_samples",
    )


def audio_stream_tumbling_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP, STREAMING FORM, in the hash gate (round-5 VERDICT #5):
    runs the full structured-streaming pipeline to completion inside the
    driver query — paced availableNow micro-batches (8 files, 1 per
    trigger) -> watermarked decode -> update-mode tumbling aggregate ->
    the exactly-once manifest sink with a fresh checkpoint — then returns
    the COMMITTED sink output resolved by merge-on-read (latest epoch per
    (window, bucket)).

    Update mode + ``read_latest`` has full row-set equality with the
    batch aggregate (pinned by tests/test_streaming.py::
    test_streaming_update_mode_equals_batch), so the DuckDB oracle is the
    same SQL as ``audio_window_tumbling`` — streaming semantics
    (watermark, state, epoch commit protocol, lineage columns) pass
    through the exact same rows+schema+hash gate as every batch operator.
    The salted/append variants stay test-verified (their emitted set
    depends on per-batch watermark progression, which ANSI SQL cannot
    express)."""
    import os
    import tempfile

    from dataflow_geobeam_spark.streaming import pipeline

    fixture_dir = ensure_fixtures(sf_dir)
    base = tempfile.mkdtemp(prefix="spark_graft_stream_gate_")
    stream_dir = pipeline.prepare_stream_dir_arrival_order(fixture_dir, n_files=8)
    query, sink = pipeline.run_streaming_window_agg(
        spark,
        fixture_dir,
        os.path.join(base, "table"),
        os.path.join(base, "ckpt"),
        n_files=8,
        max_files_per_trigger=1,
        output_mode="update",
        stream_dir=stream_dir,
    )
    if not query.awaitTermination(600):
        query.stop()
        raise TimeoutError("streaming gate query did not drain in 600s")
    latest = sink.read_latest(spark, ["window_start", "bucket"])
    return latest.select(
        epoch_seconds("window_start").alias("window_start_s"),
        "bucket",
        "n_clips",
        "sum_dur_ms",
        F.round("mean_rms", 6).alias("mean_rms"),
        "sum_samples",
    )


def audio_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 10s/5s windows — each row contributes to exactly two windows."""
    agg = windows.sliding(
        decoded_valid_clips(spark, sf_dir), "10 seconds", "5 seconds", keys=("bucket",)
    )
    return agg.select(
        epoch_seconds("window_start").alias("window_start_s"),
        "bucket",
        "n_clips",
        "sum_dur_ms",
        F.round("mean_rms", 6).alias("mean_rms"),
    )


def audio_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30 s gap, keyed by bucket."""
    agg = windows.session(decoded_valid_clips(spark, sf_dir), "30 seconds", keys=("bucket",))
    return agg.select(
        epoch_seconds("window_start").alias("session_start_s"),
        "bucket",
        "n_clips",
        "sum_dur_ms",
    )


def audio_decode_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-codec decode/validity census — exercises the full decode registry
    including unknown codecs + corrupt payloads (make_valid/filter_invalid
    analytics, ``geobeam/fn.py:23-88``). No precheck: every row is decoded."""
    fx = ensure_fixtures(sf_dir)
    df = with_decoded_metrics(read_clips(spark, fx))
    return df.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("decode_ok").cast("long")).alias("n_decode_ok"),
        F.sum(valid_clip_predicate().cast("long")).alias("n_valid"),
    )


def audio_clip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level decode parity: per valid clip, its decoded metrics.

    This is the per-row invariant surface (decoded metrics equality against
    the generation-time oracle) expressed as a hashable result set."""
    df = decoded_valid_clips(spark, sf_dir)
    return df.select(
        "clip_id",
        "codec",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
    )


def pipeline_clean_asr_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ASR training-corpus cleaning (round 5) — the audio
    analog of pipeline_clean_corpus, composed from verified pieces:
    decode census -> audio quality rules -> label-quality screening ->
    exact transcript dedup.

    Keep rules (each a real crawl-corpus failure mode): decode_ok
    (undecodable payload), 300 ms <= dur_ms <= 30 s (fragments /
    runaways), round-6 rms > 1e-4 (silent clip), round-6 peak <= 0.999
    (clipped recording), non-empty trimmed transcript (unlabeled), and
    speaking rate 0.5..60 chars/s (mislabeled pairs — a 2 s clip with a
    500-char transcript is a misalignment, the CER-proxy screen).
    Thresholds compare ROUND-6 metrics on both engines so boundary rows
    cannot flip on final-ULP differences.

    Plan shape at scale: one clips scan + one mapInArrow decode pass,
    row-local rule evaluation, then ONE shuffle keyed by the trimmed
    transcript for the dedup aggregate (keep the lowest clip_id per
    group). Output: one row per surviving clip with its duplicate-group
    size and speaking rate.

    Round-6 (VERDICT #3): ``kept`` — the post-decode, post-rule metric
    rows (~40 bytes each, no payload) — feeds BOTH the survivors
    aggregate and the join-back, so without materialization the executed
    plan decoded the corpus TWICE. ``localCheckpoint(eager=True)`` on the
    projected ``kept`` pins exactly ONE decode pass (the audio_cmvn /
    audio_near_dups precedent); at 100 TB this is the explicit
    metrics-table materialization, guide §8 step 1 (decide on small rows,
    never re-read the heavy ones).

    Oracle: the identical rule SQL in DuckDB over golden_clips.parquet —
    the generation-time INDEPENDENT decode — so the gate crosses decode,
    rules, and dedup at once.
    """
    fx = ensure_fixtures(sf_dir)
    df = with_decoded_metrics(read_clips(spark, fx))
    scored = df.select(
        "clip_id",
        "dur_ms",
        F.trim("transcript").alias("t_norm"),
        "decode_ok",
        F.round("rms", 6).alias("rms6"),
        F.round("peak", 6).alias("peak6"),
    ).withColumn(
        "chars_per_s",
        F.round(F.length("t_norm") / (F.col("dur_ms") / 1000.0), 6),
    )
    kept = scored.where(
        F.col("decode_ok")
        & F.col("dur_ms").between(300, 30000)
        & (F.col("rms6") > 1e-4)
        & (F.col("peak6") <= 0.999)
        & (F.length("t_norm") > 0)
        & F.col("chars_per_s").between(0.5, 60.0)
    ).select("clip_id", "dur_ms", "t_norm", "chars_per_s").localCheckpoint(eager=True)
    survivors = kept.groupBy("t_norm").agg(
        F.min("clip_id").alias("clip_id"), F.count(F.lit(1)).alias("n_copies")
    )
    return survivors.join(
        kept.select("clip_id", "dur_ms", "chars_per_s"), "clip_id"
    ).select("clip_id", "n_copies", "dur_ms", "chars_per_s")


def audio_transcript_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the clip<->late-transcript interval join: a transcript
    matches iff it arrives within [ts, ts + 5 min] of its clip's event time.
    The streaming form adds watermarks on both sides (streaming/join.py)."""
    fx = ensure_fixtures(sf_dir)
    clips = read_clips(spark, fx, columns=("clip_id", "transcript", "ts"))
    # dedup on ALL oracle-DISTINCT columns: dropping on (clip_id, ts) alone
    # would keep an arbitrary transcript if two texts shared a timestamp,
    # diverging nondeterministically from the oracle's DISTINCT
    tr = read_transcripts(spark, fx).dropDuplicates(["t_clip_id", "t_transcript", "t_ts"])
    joined = clips.join(
        tr,
        (F.col("clip_id") == F.col("t_clip_id"))
        & (F.col("t_ts") >= F.col("ts"))
        & (F.col("t_ts") <= F.col("ts") + F.expr("interval 5 minutes")),
        "left",
    )
    return joined.select(
        "clip_id",
        epoch_seconds("ts").alias("ts_s"),
        "transcript",
        "t_transcript",
        F.col("t_clip_id").isNotNull().alias("matched"),
    )


def audio_bucket_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket aggregate THROUGH the skew-salting operator: the salted
    two-phase plan must produce byte-identical aggregates to a plain
    groupBy — the oracle checks that algebraic-decomposition correctness."""
    from dataflow_geobeam_spark.operators.skew import salted_two_phase_agg

    df = decoded_valid_clips(spark, sf_dir)
    agg = salted_two_phase_agg(df, ["bucket"])
    return agg.select(
        "bucket",
        "n_clips",
        "sum_dur_ms",
        F.round("mean_rms", 6).alias("mean_rms"),
        "sum_samples",
    )


def audio_frame_rms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clip -> per-frame explode (100 ms frames, 50 ms hop) with frame RMS.

    The DoBlockToPixelExterior analog (1 -> N rows, ``geobeam/fn.py:224-247``).
    Oracle: generation-time golden_frames.parquet (numpy decode + sequential
    double accumulation mirroring the Catalyst aggregate exactly —
    fixtures/generate.py:_frame_rms); tests/test_audio_frames.py
    additionally checks frame counts + RMS inline.
    """
    from dataflow_geobeam_spark.functions.audio import explode_frames
    from dataflow_geobeam_spark.functions.decode import with_decoded_pcm

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx).where(precheck_predicate())
    pcm = with_decoded_pcm(df.select("clip_id", "bytes", "codec", "sr_hz")).where(
        "pcm IS NOT NULL"
    )
    return explode_frames(pcm, frame_ms=100, hop_ms=50).select(
        "clip_id", "frame_idx", "frame_rms"
    )


def _vad_flagged_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared VAD frame stage: decode + frame-RMS in ONE mapInArrow pass
    (functions/audio.with_frame_rms), posexplode to frame rows, then the
    speech flag (frame_rms > max(0.1 * clip_max_rms, 1e-4)) and its
    rising edge — both pure Catalyst windows over ONE exchange on
    clip_id."""
    from pyspark.sql import Window

    from dataflow_geobeam_spark.functions.audio import with_frame_rms

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx).where(precheck_predicate())
    arr = with_frame_rms(df.select("clip_id", "bytes", "codec", "sr_hz")).where(
        "frame_rms_arr IS NOT NULL"
    )
    frames = arr.select(
        "clip_id", F.posexplode("frame_rms_arr").alias("frame_idx", "frame_rms")
    )
    w_clip = Window.partitionBy("clip_id")
    w_ord = Window.partitionBy("clip_id").orderBy("frame_idx")
    return frames.withColumn(
        "_speech",
        F.col("frame_rms")
        > F.greatest(F.max("frame_rms").over(w_clip) * 0.1, F.lit(1e-4)),
    ).withColumn(
        "_rising",
        F.col("_speech") & ~F.coalesce(F.lag("_speech").over(w_ord), F.lit(False)),
    )


def audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-threshold voice-activity detection (round 5): per clip,
    which 100 ms frames carry speech energy and how many contiguous
    speech SEGMENTS the clip splits into — the segmentation stage an ASR
    pipeline runs before transcribing (drop silence, chunk on pauses).

    A frame is speech iff frame_rms > max(0.1 * clip_max_rms, 1e-4) —
    gain-relative with an absolute noise floor. Segments are rising
    edges in frame_idx order (lag window). Frame RMS comes out of the
    SAME mapInArrow pass as the decode (functions/audio.with_frame_rms,
    arithmetic-identical to the Catalyst explode_frames fold — that path
    stays hash-gated by audio_frame_rms), so only ~dur/hop doubles per
    clip cross Arrow instead of the full PCM array; the segmentation is
    pure Catalyst with one exchange on clip_id shared by the max-window,
    the lag-window, and the final groupBy (the window's hash
    partitioning satisfies the aggregate's distribution).

    Oracle: the same windowed SQL in DuckDB over golden_frames.parquet —
    the generation-time INDEPENDENT decode's frame table — so the gate
    crosses both the decode and the segmentation logic. frame_rms is
    round-6 on both sides, so threshold comparisons are on identical
    doubles.
    """
    flagged = _vad_flagged_frames(spark, sf_dir)
    return flagged.groupBy("clip_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.col("_speech").cast("long")).alias("n_speech"),
        F.round(
            F.sum(F.col("_speech").cast("long")) / F.count(F.lit(1)), 6
        ).alias("speech_ratio"),
        F.sum(F.col("_rising").cast("long")).alias("n_segments"),
    )


def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-segment EXTRACTION (round 5d) — the chunking step after
    VAD: one row per contiguous run of speech frames, with nominal
    frame-grid timestamps (frame i spans [i*50 ms, i*50+100 ms)). This
    is what an ASR pipeline actually feeds the recognizer: bounded
    utterance chunks, not whole clips.

    Islands via a running sum of rising edges over the frame_idx order
    (gaps-and-islands — the same compilation strategy as the CEP Kleene
    matcher), then a filter to speech frames and a (clip_id, seg) group.
    ALL of it rides the single clip_id exchange the flag stage already
    made: HashPartitioning(clip_id) satisfies the (clip_id, _seg)
    ClusteredDistribution, so no second shuffle.

    Oracle: the same windowed SQL over golden_frames.parquet (the
    generation-time INDEPENDENT decode's frame table) — crosses decode,
    thresholding, islands, and the grouped extraction.
    """
    from pyspark.sql import Window

    w_ord = Window.partitionBy("clip_id").orderBy("frame_idx")
    segs = _vad_flagged_frames(spark, sf_dir).withColumn(
        "_seg", F.sum(F.col("_rising").cast("long")).over(w_ord)
    )
    return (
        segs.where("_speech")
        .groupBy("clip_id", "_seg")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            (F.min("frame_idx").cast("long") * 50).alias("start_ms"),
            (F.max("frame_idx").cast("long") * 50 + 100).alias("end_ms"),
        )
        .select(
            "clip_id",
            F.col("_seg").alias("seg_idx"),
            "n_frames",
            "start_ms",
            "end_ms",
        )
    )


def audio_extract_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Utterance-chunk EXTRACTION (round 5d) — the byte-producing sink of
    the ASR prep chain: decode -> VAD (round-6 frame RMS, the
    audio_vad decision chain) -> slice the native-rate PCM span of each
    contiguous speech run -> re-encode RIFF/WAVE PCM16, ALL in one
    mapInArrow pass (functions/audio.with_speech_segments). One clip in,
    N bounded utterance chunks out; silence bytes are dropped inside the
    Arrow batch, before any shuffle or sink. The md5 is Catalyst's
    md5() over the kernel's binary output, so the gate pins every
    emitted byte.

    Oracle: generation-time golden_segments.parquet — independent
    decode, the cumsum frame-RMS spec, a scalar island scan, and the
    independent RIFF encoder (fixtures/generate.ensure_golden_segments).
    """
    from dataflow_geobeam_spark.functions.audio import with_speech_segments

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: digest=True — the kernel emits (n_bytes, seg_md5) directly,
    # Catalyst-identical to length()/md5() on the chunk (guide §2.3)
    segs = with_speech_segments(df, digest=True)
    return segs.select(
        "clip_id", "seg_idx", "start_ms", "end_ms", "n_bytes", "seg_md5"
    )


def audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip FFT features (centroid / bandwidth / rolloff Hz) — decode +
    rfft in one mapInArrow pass (functions/audio.with_spectral_metrics).

    Oracle: generation-time golden_spectral.parquet, produced by the SAME
    numpy kernel on an independent decode of the same payloads
    (fixtures/generate.py:_spectral_kernel).
    """
    from dataflow_geobeam_spark.functions.audio import with_spectral_metrics

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz", "dur_ms")).where(
        precheck_predicate()
    )
    sp = with_spectral_metrics(df).where(F.col("spectral_centroid_hz").isNotNull())
    return sp.select(
        "clip_id",
        F.round("spectral_centroid_hz", 6).alias("spectral_centroid_hz"),
        F.round("spectral_bandwidth_hz", 6).alias("spectral_bandwidth_hz"),
        F.round("spectral_rolloff_hz", 6).alias("spectral_rolloff_hz"),
    )


def audio_codec_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarser rollup: per codec per 1-min window, distinct buckets + stats."""
    df = decoded_valid_clips(spark, sf_dir)
    return (
        df.groupBy(F.window("ts", "1 minute"), "codec")
        .agg(
            F.count(F.lit(1)).alias("n_clips"),
            F.countDistinct("bucket").alias("n_buckets"),
            F.round(F.sum("rms"), 6).alias("sum_rms"),
        )
        .select(
            epoch_seconds(F.col("window.start")).alias("window_start_s"),
            "codec",
            "n_clips",
            "n_buckets",
            "sum_rms",
        )
    )


def audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate dedup (round 5) — the audio member of the
    dedup family: spectral fingerprints (decode + FFT + robust hash in
    ONE mapInArrow pass), Hamming-LSH candidate join on (position,
    token) sub-keys, exact bit-error-rate verify in pure Catalyst.
    Catches volume-shifted, lossily re-encoded, and low-noise copies of
    clips that exact payload hashing misses — crawl-dedup for audio
    training corpora.

    Oracle: generation-time golden_audio_near_dups.parquet — ALL-pairs
    BER over INDEPENDENT fingerprints of independently decoded payloads
    (fixtures/generate.ensure_golden_audio_near_dups), so candidate
    recall of the banded join is exercised against an exhaustive mirror.

    100 TB shape: fingerprints are ~100 ints per clip (payload dropped in
    the decode pass); the join shuffles (position, token) keys with a
    count-window hot-key cap; verify touches candidate pairs only.
    """
    from dataflow_geobeam_spark.fixtures.generate import ensure_audio_dupes
    from dataflow_geobeam_spark.functions.audio import with_fingerprints
    from dataflow_geobeam_spark.operators.dedup import audio_near_dup_pairs

    df = spark.read.parquet(ensure_audio_dupes(sf_dir)).select(
        "clip_id", "bytes", "codec", "sr_hz"
    )
    # the fingerprint pass is a COMPUTED input referenced three times
    # (candidates + both verify sides): localCheckpoint like
    # image_near_dups, so decode+FFT runs once, not three times
    fp = with_fingerprints(df).localCheckpoint(eager=True)
    return audio_near_dup_pairs(fp, "clip_id", "fp", max_ber=0.10)


def audio_resample_16k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-rate normalization (round 5): decode + linear resample to
    16 kHz + int16 requantize in ONE mapInArrow pass
    (functions/audio.with_resampled_pcm16) — the preprocessing stage an
    ASR training pipeline runs on heterogeneous crawl audio before
    feature extraction. The md5 is computed by Catalyst's md5() on the
    kernel's binary output, so the gate pins every resampled byte.

    Oracle: generation-time golden (independent per-sample-loop decode +
    resample, same explicit interpolation formula — bit-exact md5s)."""
    from dataflow_geobeam_spark.functions.audio import with_resampled_pcm16

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: digest=True — the kernel hashes the resampled bytes itself,
    # so ~100 KB/row never crosses Arrow back into the plan (guide §2.3)
    rs = with_resampled_pcm16(df, target_sr=16000, digest=True).where(
        F.col("pcm16_md5").isNotNull()
    )
    return rs.select("clip_id", "n_samples", "pcm16_md5")


def audio_mel_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASR training features (round 5): decode + 16 kHz resample + 25 ms
    framing + HTK log-mel filterbank + per-clip mean, all in ONE
    mapInArrow pass (functions/audio.with_mel_means) — the feature-
    extraction stage after sr normalization, completing the
    decode -> resample -> features preprocessing chain.

    Oracle: generation-time golden via the independent per-frame-loop
    mirror (fixtures/independent.mel_mean) — every fold in the chain is
    specified left-to-right so the 16 doubles are bit-exact."""
    from dataflow_geobeam_spark.functions.audio import MEL_N, with_mel_means

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    return (
        with_mel_means(df)
        .where(F.col("mel_mean").isNotNull())
        .select(
            "clip_id",
            *[F.col("mel_mean")[i].alias(f"m{i:02d}") for i in range(MEL_N)],
        )
    )


def audio_mfcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASR cepstral features (round 5): decode + 16 kHz resample +
    log-mel + per-frame DCT-II + per-clip mean, all in ONE mapInArrow
    pass (functions/audio.with_mfcc_means) — the final stage of the
    classic MFCC feature chain, completing
    decode -> resample -> log-mel -> cepstrum.

    Oracle: generation-time golden via the independent per-frame
    scalar-loop mirror (fixtures/independent.mfcc_mean) — the DCT basis
    is the one shared elementwise expression, every fold is specified
    left-to-right, so the 13 doubles are bit-exact."""
    from dataflow_geobeam_spark.functions.audio import MFCC_N, with_mfcc_means

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    return (
        with_mfcc_means(df)
        .where(F.col("mfcc_mean").isNotNull())
        .select(
            "clip_id",
            *[F.col("mfcc_mean")[i].alias(f"c{i:02d}") for i in range(MFCC_N)],
        )
    )


def audio_pitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F0 / pitch estimation (round 5c): decode + 16 kHz resample +
    per-segment normalized autocorrelation + octave-safe peak picking +
    voicing decision, all in ONE mapInArrow pass
    (functions/audio.with_pitch_stats) — the prosody feature an ASR /
    TTS corpus pipeline extracts alongside MFCCs.

    Oracle: generation-time golden via the independent per-frame
    scalar-walk mirror (fixtures/independent.pitch_stats) — the folds
    are specified left-to-right and every non-fold op is IEEE-exact
    (*, /, sqrt, comparisons), so both doubles are bit-exact."""
    from dataflow_geobeam_spark.functions.audio import with_pitch_stats

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    return (
        with_pitch_stats(df)
        .where(F.col("pitch_stats").isNotNull())
        .select(
            "clip_id",
            F.col("pitch_stats")[0].alias("f0_mean_hz"),
            F.col("pitch_stats")[1].alias("voiced_ratio"),
        )
    )


def audio_fp_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example retrieval (round 5): which corpus clip (and frame
    offset) was each query snippet cut from? Corpus clips get Haitsma-
    Kalker frame tokens in ONE decode+fingerprint mapInArrow pass
    (functions/audio.with_fingerprints), token BIGRAMS become 32-bit
    inverted-index keys in pure Catalyst, the small snippet side is
    broadcast, and matches vote on offset = t_corpus - t_query
    (operators/retrieval.fp_match_top1 — the Shazam-style landmark vote).
    Snippets are volume-shifted (gain 0.5) on half the fixture, exercising
    the tokens' gain invariance end to end.

    Oracle: generation-time golden_fp_match.parquet — an exhaustive
    un-capped inverted-index vote over INDEPENDENT fingerprints of
    independently decoded payloads (fixtures/generate.ensure_golden_fp_match).

    100 TB shape: the corpus pass is map-only (payload dropped in-pass;
    in production the (key, clip_id, t) index is written once, bucketed by
    key); the broadcast match adds zero corpus shuffle; only matched rows
    (~hundreds per query) reach the vote exchange.
    """
    from dataflow_geobeam_spark.fixtures.generate import ensure_fp_queries
    from dataflow_geobeam_spark.functions.audio import with_fingerprints
    from dataflow_geobeam_spark.operators.retrieval import fp_match_top1

    fx = ensure_fixtures(sf_dir)
    corpus = read_clips(
        spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"), with_bucket=False
    )
    # Round-6 (guide §2.5 input skew): the snippet table is one file with
    # ONE parquet row group, so however many byte-range splits the scan
    # planner makes, only the split holding the row-group midpoint gets
    # rows — the query-side decode+fingerprint pass serialized on a
    # single task (~3 s), and because that side feeds the BROADCAST
    # build, the whole match waited on it before the corpus probe could
    # start. Round-robin the (small by contract) query side first:
    # measured 6.5 s -> ~3.5 s for the full match.
    queries = (
        spark.read.parquet(ensure_fp_queries(sf_dir))
        .select("query_id", "bytes", "codec", "sr_hz")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return fp_match_top1(
        with_fingerprints(corpus, bytes_col="bytes"),
        with_fingerprints(queries, bytes_col="bytes"),
    ).select("query_id", "clip_id", "offset_frames", "votes")


def audio_fp_match_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING form of audio_fp_match, in the hash gate: the snippet
    table arrives as paced availableNow micro-batches (4 files, 1 per
    trigger), each batch is fingerprinted and resolved against a
    MATERIALIZED static corpus index with the exact batch operator inside
    foreachBatch (exact per-batch semantics — a snippet is wholly
    contained in its row, so votes never span batches), and every epoch
    commits through the exactly-once manifest sink. Returns the COMMITTED
    match set — identical rows to the batch query, so the DuckDB oracle
    is the same exhaustive independent golden.
    """
    import os
    import tempfile

    import pyarrow.parquet as papq

    from dataflow_geobeam_spark.fixtures.generate import ensure_fp_queries
    from dataflow_geobeam_spark.functions.audio import with_fingerprints
    from dataflow_geobeam_spark.streaming.extras import fp_match_stream_vs_corpus
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    fx = ensure_fixtures(sf_dir)
    corpus = read_clips(
        spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"), with_bucket=False
    )
    # decode+fingerprint ONCE; foreachBatch re-plans static sides per epoch
    corpus_fp = (
        with_fingerprints(corpus)
        .where(F.col("fp").isNotNull())
        .select("clip_id", "fp")
        .localCheckpoint(eager=True)
    )
    base = tempfile.mkdtemp(prefix="spark_graft_fpmatch_stream_")
    stream_dir = os.path.join(base, "queries")
    os.makedirs(stream_dir)
    tbl = papq.read_table(ensure_fp_queries(sf_dir))
    n_files = 4
    step = max(1, (tbl.num_rows + n_files - 1) // n_files)
    for k in range(n_files):
        part = tbl.slice(k * step, step)
        if part.num_rows:
            papq.write_table(part, os.path.join(stream_dir, f"part-{k:02d}.parquet"))
    stream = spark.readStream.schema(
        "query_id string, bytes binary, sr_hz int, codec string, ts timestamp"
    ).option("maxFilesPerTrigger", 1).parquet(stream_dir)
    sink = ExactlyOnceParquetSink(os.path.join(base, "table"))
    query = fp_match_stream_vs_corpus(
        stream, corpus_fp, sink, os.path.join(base, "ckpt")
    )
    if not query.awaitTermination(600):
        query.stop()
        raise TimeoutError("fp-match streaming gate query did not drain in 600s")
    return sink.read_latest(spark, ["query_id"]).select(
        "query_id", "clip_id", "offset_frames", "votes"
    )


def audio_align_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-to-audio pseudo-alignment (round 5): every transcript token
    gets a provisional absolute start time inside its clip's VAD speech
    timeline — silence excluded — by proportional division (token i of n
    owns speech-time [i*T/n, (i+1)*T/n)). Segments come from the already
    hash-gated VAD chain (audio_vad_segments); tokens from the clips
    table's transcript column; the mapping is operators/alignment.py —
    pure Catalyst (windows + posexplode + equi-join with containment
    filter).

    Oracle: the IDENTICAL arithmetic in DuckDB over the independent
    golden_segments + golden_clips tables — a true SQL mirror, no golden
    dump, so the two engines' window/join/division semantics are compared
    end to end.
    """
    from dataflow_geobeam_spark.operators.alignment import align_tokens_to_segments

    fx = ensure_fixtures(sf_dir)
    segs = audio_vad_segments(spark, sf_dir).select(
        "clip_id", "seg_idx", "start_ms", "end_ms"
    )
    transcripts = read_clips(
        spark, fx, columns=("clip_id", "transcript"), with_bucket=False
    )
    return align_tokens_to_segments(segs, transcripts)


def audio_augment_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic noise-mix AUGMENTATION (round 5e) — the data-growth
    stage of an ASR training pipeline: every decodable clip gains a
    reproducible white-noise copy at 15 dB SNR, decode -> mix -> RIFF
    PCM16 re-encode in ONE mapInArrow pass
    (functions/audio.with_augmented_noise). The noise is keyed by
    crc32(clip_id) under a shared seed, so a re-run of any failed
    partition regenerates byte-identical output — the property that makes
    augmentation safe under Spark task retries at 100 TB. The md5 is
    Catalyst's md5() over the kernel's binary output, pinning every
    emitted byte.

    Oracle: generation-time golden_augment.parquet — independent decode,
    a scalar left-to-right power accumulation + per-sample mix/clip loop,
    and the independent RIFF encoder (fixtures/generate.ensure_golden_augment).
    """
    from dataflow_geobeam_spark.functions.audio import with_augmented_noise

    # the golden is materialized by oracle_sql() for the oracle dir only
    # (sf0.01); generating it here for an arbitrary sf_dir would run the
    # scalar independent mirrors over the whole corpus for nothing (the
    # round-5e bench lesson)
    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: the kernel hashes its own output (digest=True) — identical
    # hex to Catalyst md5(), but ~100 KB/row of wav bytes never cross
    # Arrow back into the plan (guide §2.3: move metadata, not payloads)
    aug = with_augmented_noise(df, digest=True)
    return aug.select(
        "clip_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        "aug_md5",
    )


def audio_speed_perturb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speed-perturbation AUGMENTATION (round 5e) — the Kaldi 3x-corpus
    recipe: each decodable clip yields a 0.9x and a 1.1x copy (the 1.0x
    copy is the source table itself), decode -> reinterpret-rate linear
    resample -> RIFF PCM16 re-encode in ONE mapInArrow pass
    (functions/audio.with_speed_perturb). Deterministic (no RNG), so task
    retries regenerate identical bytes. The md5 is Catalyst's md5() over
    the kernel's binary output.

    Oracle: generation-time golden_speed.parquet — independent decode,
    the independent per-sample-loop resampler, the independent RIFF
    encoder (fixtures/generate.ensure_golden_speed).
    """
    from dataflow_geobeam_spark.functions.audio import with_speed_perturb

    # golden materialized by oracle_sql() for the oracle dir only (see
    # audio_augment_noise)
    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: digest=True (see audio_augment_noise)
    aug = with_speed_perturb(df, digest=True)
    return aug.select(
        "clip_id",
        "speed",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("sp_md5").alias("aug_md5"),
    )


def audio_cmvn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level CMVN over the MFCC features (round 5e) — the feature-
    normalization stage between extraction and training. Two declarative
    passes: one partial+final hash aggregate for per-coefficient corpus
    mean/stddev_pop, then a BROADCAST of the 1-row stats frame back onto
    the corpus for the elementwise normalize (operators/normalize.cmvn).
    Rounded to 5 decimals on both sides: the aggregate's fold order is
    nondeterministic across partitions, so bit-exactness is the wrong
    contract here — 1e-5 is ~7 orders looser than the fold noise.

    Oracle: the IDENTICAL two-pass arithmetic in DuckDB over
    golden_mfcc.parquet (the independently computed MFCC table) — a true
    SQL mirror of the agg + broadcast-normalize plan.
    """
    from dataflow_geobeam_spark.functions.audio import MFCC_N, with_mfcc_means
    from dataflow_geobeam_spark.operators.normalize import cmvn

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    feats = with_mfcc_means(df).where(F.col("mfcc_mean").isNotNull())
    # cmvn references its input twice (stats agg + normalize). The input
    # is a COMPUTED decode+MFCC Arrow pass, so localCheckpoint it once
    # (the image_near_dups precedent: checkpoint blocks are GC'd with the
    # DataFrame, unlike persist()) instead of decoding the corpus twice.
    # The 100 TB form materializes the feature table explicitly.
    feats = feats.localCheckpoint(eager=True)
    return cmvn(feats, "mfcc_mean", MFCC_N, round_to=5)


def audio_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test corpus split (round 5e) — hash the
    stable clip_id against cumulative-fraction thresholds
    (operators/split.py): reproducible across runs, cluster sizes,
    repartitions, and task retries (rand() re-rolls per attempt; md5
    doesn't). One projection + one partial+final aggregate; at 100 TB the
    split column becomes a write-partition key so downstream readers
    prune at scan time.

    Oracle: the IDENTICAL md5-prefix CASE expression in DuckDB over the
    independent golden_clips table (split_sql emits it) — hex-string
    compare semantics checked engine to engine.
    """
    from dataflow_geobeam_spark.operators.split import assign_split

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "dur_ms"), with_bucket=False)
    return (
        assign_split(df, "clip_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.sum("dur_ms").cast("long").alias("sum_dur_ms"),
        )
    )


def audio_specaugment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SpecAugment feature augmentation (round 5e) — deterministic
    time/frequency masking on each clip's log-mel frames (Park et al.
    2019, the standard ASR feature-space augmentation), keyed by
    crc32(clip_id) under a shared seed so task retries regenerate
    identical features. Decode -> resample -> log-mel -> mask ->
    post-mask per-band means, ALL in one mapInArrow pass
    (functions/audio.with_specaugment). The gate pins the mask rectangle
    AND all 16 round-6 post-mask means per clip.

    Oracle: generation-time golden_specaugment.parquet — independent
    decode, the scalar-loop log-mel mirror, a per-cell mask loop, and a
    left-to-right frame fold (fixtures/generate.ensure_golden_specaugment).
    """
    from dataflow_geobeam_spark.functions.audio import MEL_N, with_specaugment

    # golden materialized by oracle_sql() for the oracle dir only (see
    # audio_augment_noise)
    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    sa = with_specaugment(df)
    return sa.select(
        "clip_id",
        "f0",
        "f_w",
        "t0",
        "t_w",
        "n_frames",
        *[F.col("sa_mel")[m].alias(f"m{m:02d}") for m in range(MEL_N)],
    )


def pipeline_build_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAPSTONE composite (round 5e) — the full training-corpus build,
    chaining three independently-gated stages end to end:

      clean (decode census -> quality/label rules -> exact transcript
      dedup, = pipeline_clean_asr_corpus) -> deterministic split
      (operators/split, keep 'train') -> noise augmentation (decode ->
      mix -> RIFF re-encode, = with_augmented_noise), emitting each
      surviving train clip's duplicate-group size and its augmented
      copy's byte hash.

    Plan shape at scale: one decode-metrics pass + one dedup shuffle
    (the clean stage), a pure-Catalyst split predicate, a semi-join of
    surviving ids back onto the clips scan (at 100 TB: broadcast or
    bucket-co-located), then ONE augment mapInArrow pass over only the
    kept rows — silence/dup/val/test bytes never reach the augmenter.

    Round-6 (VERDICT #4): the executed round-5 plan decoded the corpus
    FOUR times — clean's 2x (fixed in pipeline_clean_asr_corpus) times
    2x here, because ``survivors`` fed both the kept-join and a second
    join-back after the augment kernel. Now ``survivors`` is
    localCheckpointed (a tiny id/n_copies table — the guide §8 "plan"
    frame) and ``n_copies`` rides THROUGH the augment kernel's
    passthrough columns, so the second join is gone and the whole
    capstone is ONE metrics decode + ONE augment pass. The kernel also
    emits the md5 digest directly (``digest=True``) instead of shipping
    ~100 KB of wav bytes per row back across Arrow just to be hashed.

    Oracle: the clean stage's rule SQL over golden_clips + the identical
    split CASE + a join to golden_augment's independent md5s — all three
    stages crossed in one DuckDB query with no engine code involved.
    """
    from dataflow_geobeam_spark.functions.audio import with_augmented_noise
    from dataflow_geobeam_spark.operators.split import split_expr

    fx = ensure_fixtures(sf_dir)
    survivors = (
        pipeline_clean_asr_corpus(spark, sf_dir)
        .where(split_expr(F.col("clip_id")) == "train")
        .select("clip_id", "n_copies")
        .localCheckpoint(eager=True)
    )
    clips = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # EXPLICIT broadcast: the checkpointed survivors frame is a LogicalRDD
    # leaf whose size statistic is unknown, so the planner would otherwise
    # pick a sort-merge join and shuffle the PAYLOAD side by clip_id —
    # exactly the "join sneaks the second shuffle back in" trap of guide
    # §8.4. Survivors is the small decision table (ids + n_copies); at
    # 100 TB scale, swap for the bucket-co-located attach if it outgrows
    # the broadcast cap.
    kept = clips.join(F.broadcast(survivors), "clip_id")
    aug = with_augmented_noise(kept, passthrough=("n_copies",), digest=True)
    return aug.select(
        "clip_id",
        "n_copies",
        F.col("n_samples").cast("long").alias("n_samples"),
        "aug_md5",
    )


def audio_normalize_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudness (RMS) normalization (round 5e) — the gain-prep stage
    before feature extraction / augmentation: decode -> peak-safe scale
    to target RMS 0.1 -> RIFF PCM16 re-encode in ONE mapInArrow pass
    (functions/audio.with_normalized_loudness). RNG-free, so task retries
    regenerate identical bytes; the cap (not a clip) enforces the peak
    ceiling so no distortion is introduced. md5 pins every emitted byte.

    Oracle: generation-time golden_loudnorm.parquet — independent decode,
    scalar power/peak folds, independent RIFF encoder
    (fixtures/generate.ensure_golden_loudnorm; materialized by
    oracle_sql() for the oracle dir only).
    """
    from dataflow_geobeam_spark.functions.audio import with_normalized_loudness

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: digest=True (see audio_augment_noise)
    out = with_normalized_loudness(df, digest=True)
    return out.select(
        "clip_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        "norm_md5",
    )


def audio_augment_reverb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverberation AUGMENTATION (round 5e) — the third member of the
    Kaldi triple (noise / speed / reverb): each decodable clip is
    convolved with its own keyed synthetic room impulse response
    (exponentially decaying noise, unit direct path) and peak-
    renormalized, decode -> FFT convolution -> RIFF PCM16 re-encode in
    ONE mapInArrow pass (functions/audio.with_reverb). Deterministic
    under task retries (keyed RNG, no state). md5 pins every byte.

    Oracle: generation-time golden_reverb.parquet — independent decode,
    the independent RIR envelope loop + scalar peak walks around the
    shared FFT core (the pitch-kernel precedent), independent encoder
    (fixtures/generate.ensure_golden_reverb; materialized by
    oracle_sql() for the oracle dir only).
    """
    from dataflow_geobeam_spark.functions.audio import with_reverb

    fx = ensure_fixtures(sf_dir)
    df = read_clips(spark, fx, columns=("clip_id", "bytes", "codec", "sr_hz"))
    # round-6: digest=True (see audio_augment_noise)
    out = with_reverb(df, digest=True)
    return out.select(
        "clip_id",
        F.col("n_samples").cast("long").alias("n_samples"),
        "rev_md5",
    )


def audio_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC ingest (round 5 — closes the round-4 'real lossy/lossless
    codec decode' gap for FLAC): scan the real-FLAC fixture table ->
    from-spec bitstream decode (frames, partitioned Rice, fixed/LPC
    prediction, left/right/mid-side decorrelation, CRC-8/16 verified;
    dataflow_geobeam_spark/flac) -> int16 requantize, one mapInArrow
    pass; truncated payloads drop (F1). The md5 is Catalyst's md5() on
    the kernel's binary output, so the gate pins every decoded byte.

    Oracle: generation-time golden via the INDEPENDENT per-sample mirror
    decoder (fixtures/independent.decode_flac_independent) over bytes
    written by the independent encoder — the engine never touches the
    fixture at generation time. FLAC is lossless, so both md5s must be
    bit-exact. Reference precedent: real container decode via native
    libs, geobeam/io.py:124-127."""
    from dataflow_geobeam_spark.fixtures.generate import ensure_flac_clips
    from dataflow_geobeam_spark.functions.audio import with_flac_pcm16

    clips = spark.read.parquet(ensure_flac_clips(sf_dir))
    # FLAC decode is the most CPU-expensive per-row kernel in the engine
    # (~65 ms/clip); when the corpus is a handful of small files the scan
    # yields fewer splits than cores and one task serializes the whole
    # decode (caught at sf0.1: 31.6 s single-task vs ~2 s spread). One
    # cheap round-robin exchange of the raw bytes fixes that; at
    # production shard sizes the scan splits natively and this branch
    # never fires.
    par = spark.sparkContext.defaultParallelism
    if clips.rdd.getNumPartitions() < par:
        clips = clips.repartition(par)
    # round-6: digest=True (see audio_resample_16k)
    dec = with_flac_pcm16(clips, digest=True).where(F.col("pcm16_md5").isNotNull())
    return dec.select(
        "clip_id",
        F.col("flac_sr").alias("sr_hz"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "pcm16_md5",
    )


def audio_sniff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-free crawl-audio ingest (round 5): a mixed-container corpus
    with NO codec column — real RIFF/WAVE, real FLAC, AIFF (80-bit
    extended-float rates), Sun AU and the stand-in containers — sniffed
    by magic and decoded in one mapInArrow pass
    (functions/audio.with_sniffed_pcm16). Truncated and unknown-magic
    rows drop (F1). This is the validate_crs analog taken to its crawl
    conclusion: the registry IS the sniffer (reference:
    geobeam/io.py:597-638).

    Oracle: generation-time golden via the independent mirror decoders
    (stdlib-wave wav, scalar FLAC/AIFF/AU, stand-in spec) over bytes the
    independent encoders wrote."""
    from dataflow_geobeam_spark.fixtures.generate import ensure_sniff_clips
    from dataflow_geobeam_spark.functions.audio import with_sniffed_pcm16

    clips = spark.read.parquet(ensure_sniff_clips(sf_dir))
    par = spark.sparkContext.defaultParallelism
    if clips.rdd.getNumPartitions() < par:  # same reasoning as audio_flac_decode
        clips = clips.repartition(par)
    # round-6: digest=True (see audio_resample_16k)
    dec = with_sniffed_pcm16(clips, digest=True).where(
        F.col("pcm16_md5").isNotNull()
    )
    return dec.select(
        "clip_id",
        "container",
        F.col("sniff_sr").alias("sr_hz"),
        F.col("n_samples").cast("long").alias("n_samples"),
        "pcm16_md5",
    )
