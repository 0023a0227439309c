"""The binary-payload runner (``functions.decode.clip_map``) and its failure rule.

Every audio, image, video and tar wrapper runs through ``clip_map``. A
payload the decoder rejects becomes a null/fill row or no row, as the
wrapper documents, and the job carries on; an exception raised by a kernel
fails the job. The call-site guards at the end also pin the other
one-runner modules (similarity jobs, streaming CEP).
"""

from __future__ import annotations

import io
import pathlib
import struct
import tarfile

import numpy as np
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.audio_synth import synth_pcm
from dataflow_geobeam_spark.fixtures import independent as ind
from dataflow_geobeam_spark.functions import audio as A
from dataflow_geobeam_spark.functions import decode, imaging
from dataflow_geobeam_spark.functions import multimodal as mm
from dataflow_geobeam_spark.functions.decode import clip_map, with_decoded_metrics, with_decoded_pcm
from dataflow_geobeam_spark.sources import binaryfiles

CLIPS = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("bytes", BinaryType()),
        StructField("codec", StringType()),
        StructField("sr_hz", IntegerType()),
    ]
)


def _zero_rate_wav(pcm) -> bytes:
    wav = bytearray(codecs.encode_wav(pcm, 16000))
    struct.pack_into("<I", wav, 24, 0)  # fmt chunk sample rate
    return bytes(wav)


def _clips(spark):
    pcm = synth_pcm(3, 16000, 600)
    wav = codecs.encode_wav(pcm, 16000)
    flac = codecs.encode(pcm, 16000, "flac")
    ogg = codecs.encode(pcm, 16000, "ogg")
    rows = [
        ("ok_wav", wav, "wav", 16000),
        ("ok_flac", flac, "flac", 16000),
        ("trunc_wav", wav[: len(wav) // 3], "wav", 16000),
        ("trunc_standin", ogg[: len(ogg) // 3], "ogg", 16000),
        ("empty", b"", "wav", 16000),
        ("null", None, "wav", 16000),
        ("unknown_codec", wav, "unknown", 16000),
        ("wrong_codec", wav, "flac", 16000),
        ("zero_rate", _zero_rate_wav(pcm), "wav", None),
    ]
    return spark.createDataFrame(rows, CLIPS)


LABELLED_OK = {"ok_wav", "ok_flac"}
# label-free decoders ignore the codec column: a valid wav decodes under
# any label, and only the flac decoder accepts the flac payload alone
SNIFFED_OK = LABELLED_OK | {"unknown_codec", "wrong_codec"}
FLAC_OK = {"ok_flac"}

# (name, call, decodable clip ids, rule): "null" appends null columns,
# "fill" appends the metrics fill row, "drop" emits no row for the clip
WRAPPERS = [
    ("with_decoded_metrics", with_decoded_metrics, LABELLED_OK, "fill"),
    ("with_decoded_pcm", with_decoded_pcm, LABELLED_OK, "null"),
    ("with_spectral_metrics", A.with_spectral_metrics, LABELLED_OK, "null"),
    ("with_fingerprints", A.with_fingerprints, LABELLED_OK, "null"),
    ("with_resampled_pcm16", lambda df: A.with_resampled_pcm16(df, 8000), LABELLED_OK, "null"),
    ("with_frame_rms", A.with_frame_rms, LABELLED_OK, "null"),
    ("with_mel_means", A.with_mel_means, LABELLED_OK, "null"),
    ("with_mfcc_means", A.with_mfcc_means, LABELLED_OK, "null"),
    ("with_pitch_stats", A.with_pitch_stats, LABELLED_OK, "null"),
    ("with_speech_segments", A.with_speech_segments, LABELLED_OK, "drop"),
    ("with_augmented_noise", A.with_augmented_noise, LABELLED_OK, "drop"),
    ("with_speed_perturb", A.with_speed_perturb, LABELLED_OK, "drop"),
    ("with_specaugment", A.with_specaugment, LABELLED_OK, "drop"),
    ("with_normalized_loudness", A.with_normalized_loudness, LABELLED_OK, "drop"),
    ("with_reverb", A.with_reverb, LABELLED_OK, "drop"),
    ("with_flac_pcm16", A.with_flac_pcm16, FLAC_OK, "null"),
    ("with_sniffed_pcm16", A.with_sniffed_pcm16, SNIFFED_OK, "null"),
]


@pytest.mark.parametrize("name,call,ok_ids,rule", WRAPPERS, ids=[w[0] for w in WRAPPERS])
def test_dirty_clips_fail_only_their_own_row(spark, name, call, ok_ids, rule):
    df = _clips(spark)
    out = call(df)
    rows = out.collect()  # the job itself must never fail
    if rule == "drop":
        assert {r.clip_id for r in rows} == ok_ids, name
        return
    assert sorted(r.clip_id for r in rows) == sorted(r.clip_id for r in df.collect()), name
    added = [c for c in out.columns if c not in df.columns]
    for r in rows:
        vals = tuple(r[c] for c in added)
        if r.clip_id in ok_ids:
            assert vals[0] is not None and vals[0] is not False, (name, r.clip_id)
        elif rule == "fill":
            assert vals == (False, 0, 0, 0.0, 0.0), (name, r.clip_id)
        else:
            assert vals == (None,) * len(added), (name, r.clip_id)


def test_kernel_error_fails_the_job(spark):
    def kernel(pcm, sr, row):
        return [(1 / 0,)]

    out = clip_map(_clips(spark), kernel, [StructField("x", DoubleType())], on_error=(None,))
    with pytest.raises(PythonException, match="ZeroDivisionError"):
        out.collect()


def test_explode_passthrough_and_digest(spark):
    """0..N tuples per clip; passthrough columns repeat per output row and
    ``digest`` swaps the binary field for its md5 hex."""
    import hashlib

    N_OUT = {"ok_wav": 0, "ok_flac": 2}

    def kernel(pcm, sr, row):
        return [(k, bytes([k])) for k in range(N_OUT[row["clip_id"]])]

    df = _clips(spark)
    fields = [StructField("k", IntegerType(), False), StructField("b", BinaryType(), False)]
    raw = clip_map(df, kernel, fields, passthrough=["clip_id", "sr_hz"], sr_col="sr_hz")
    dig = clip_map(df, kernel, fields, passthrough=["clip_id", "sr_hz"], digest="b_md5")
    assert raw.columns == ["clip_id", "sr_hz", "k", "b"]
    assert dig.columns == ["clip_id", "sr_hz", "k", "b_md5"]
    want = sorted((cid, k) for cid, n in N_OUT.items() for k in range(n))
    got = raw.collect()
    assert sorted((r.clip_id, r.k) for r in got) == want
    assert all(r.b == bytes([r.k]) and r.sr_hz == 16000 for r in got)
    assert sorted((r.clip_id, r.k, r.b_md5) for r in dig.collect()) == sorted(
        (cid, k, hashlib.md5(bytes([k])).hexdigest()) for cid, k in want
    )


def _tar(members) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in members:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


def _payloads(spark):
    img = np.random.default_rng(3).integers(0, 256, (10, 12, 3), dtype=np.uint8)
    png, jpeg, gif = ind.png_bytes(img), ind.jpeg_bytes(img), ind.gif_bytes(img)
    webm = ind.webm_bytes([(1, "V_VP8")], [(0, [(1, 0, True, b"k" * 30), (1, 40, False, b"d" * 9)])])
    tar = _tar([("a.wav", b"A" * 3000), ("b.wav", b"B" * 3000)])
    rows = [
        ("ok_png", png),
        ("ok_jpeg", jpeg),
        ("ok_gif", gif),
        ("ok_webm", webm),
        ("ok_tar", tar),
        ("null", None),
        ("empty", b""),
        ("trunc_png", png[: len(png) // 2]),
        ("trunc_jpeg", jpeg[: len(jpeg) // 2]),
        ("trunc_gif", gif[: len(gif) // 2]),
        ("garbage_webm", webm[:4] + b"\xff" * 40),
        ("corrupt_tar", tar[:2048]),  # first member header intact, its data cut
    ]
    return spark.createDataFrame(rows, "id string, bytes binary")


# (name, call, output id column, {surviving id: output rows}): every other
# payload is dropped
DROPPING = [
    (
        "with_image_embeddings",
        lambda df: mm.with_image_embeddings(df, "id"),
        "_id",
        {"ok_png": 1, "ok_jpeg": 1, "ok_gif": 1},
    ),
    (
        "with_video_block_index",
        lambda df: mm.with_video_block_index(df, id_col="id"),
        "id",
        {"ok_webm": 2},
    ),
    (
        "explode_tar_members",
        lambda df: binaryfiles.explode_tar_members(
            df.select(F.col("id").alias("path"), F.col("bytes").alias("content"))
        ),
        "archive",
        {"ok_tar": 2},
    ),
]


@pytest.mark.parametrize("name,call,id_col,want", DROPPING, ids=[w[0] for w in DROPPING])
def test_dirty_payloads_drop_only_their_own_row(spark, name, call, id_col, want):
    rows = call(_payloads(spark)).collect()
    got: dict = {}
    for r in rows:
        got[r[id_col]] = got.get(r[id_col], 0) + 1
    assert got == want, name


def test_dirty_images_get_null_thumbnails(spark):
    """Decodable images get a real 4x4 PPM, images that fail to decode a
    null, and non-image containers the deterministic fake thumbnail."""
    df = _payloads(spark)
    rows = {r.id: r for r in mm.with_thumbnails(df, width=4, height=4).collect()}
    assert sorted(rows) == sorted(r.id for r in df.collect())
    for i, r in rows.items():
        if i in ("ok_png", "ok_jpeg", "ok_gif"):
            assert r.thumbnail.startswith(b"P6\n4 4\n255\n"), i
        elif i == "null" or i.startswith("trunc_"):
            assert r.thumbnail is None, i
        else:
            assert r.thumbnail == mm.fake_thumbnail(bytes(r.bytes), 4, 4), i


def test_image_kernel_error_fails_the_job(spark, monkeypatch):
    def boom(img, width, height):
        return 1 / 0

    monkeypatch.setattr(imaging, "resize_nearest", boom)
    out = mm.with_thumbnails(_payloads(spark).where("id = 'ok_png'"))
    with pytest.raises(PythonException, match="ZeroDivisionError"):
        out.collect()


def test_one_arrow_runner_and_no_blanket_except():
    """Every binary-payload pass goes through clip_map: the only
    ``.mapInArrow(`` in functions/ and sources/ is its own, and no kernel
    module hides errors behind ``except Exception``."""
    pkg = pathlib.Path(decode.__file__).parents[1]
    calls = {
        str(p.relative_to(pkg)): n
        for sub in ("functions", "sources")
        for p in sorted((pkg / sub).rglob("*.py"))
        if (n := p.read_text().count(".mapInArrow("))
    }
    assert calls == {"functions/decode.py": 1}
    blanket = [p.name for p in (pkg / "functions").rglob("*.py") if "except Exception" in p.read_text()]
    assert blanket == []


def test_one_kernel_per_similarity_job_and_no_blanket_except_in_operators():
    """operators/similarity.py keeps one ``.mapInArrow(`` per batched job
    (sketch_buckets, the near-dup prefilter, ivf_assign, the IVF-PQ scan),
    and no operator hides errors behind ``except Exception``."""
    ops = pathlib.Path(decode.__file__).parents[1] / "operators"
    assert (ops / "similarity.py").read_text().count(".mapInArrow(") == 4
    blanket = [p.name for p in ops.rglob("*.py") if "except Exception" in p.read_text()]
    assert blanket == []


def test_one_keyed_state_runner_in_streaming_cep():
    """Every streaming CEP matcher runs through one keyed-state runner:
    ``streaming/cep.py`` holds exactly one ``applyInPandasWithState(``,
    reads its input frames column-wise (no ``itertuples``) and hides no
    error behind ``except Exception``."""
    src = (pathlib.Path(decode.__file__).parents[1] / "streaming" / "cep.py").read_text()
    assert src.count("applyInPandasWithState(") == 1
    assert "itertuples" not in src
    assert "except Exception" not in src
