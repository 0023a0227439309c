"""Sources (fixed-width, JSON features, binary/tar) + schema inference."""

from __future__ import annotations

import io
import json
import tarfile

from dataflow_geobeam_spark import schema as schema_mod
from dataflow_geobeam_spark.sources import binaryfiles, fixedwidth, jsonfeatures


def test_fixed_width_source(spark, tmp_path):
    p = tmp_path / "fw.txt"
    p.write_text("alice    0312026-01-01\nbob      1281999-12-31\n")
    fields = [("name", 9, "string"), ("age", 3, "int"), ("born", 10, "date")]
    rows = {r.name: (r.age, str(r.born)) for r in
            fixedwidth.read_fixed_width(spark, str(p), fields).collect()}
    assert rows == {"alice": (31, "2026-01-01"), "bob": (128, "1999-12-31")}


def test_json_feature_collection(spark, tmp_path):
    doc = {
        "collection": "batch-7",
        "clips": [
            {"clip_id": "aa01", "sr_hz": 8000},
            {"clip_id": "bb02", "sr_hz": 16000},
        ],
    }
    p = tmp_path / "manifest.json"
    p.write_text(json.dumps(doc))
    out = jsonfeatures.read_feature_collection(spark, str(p)).collect()
    assert {(r.collection, r.clip_id, r.sr_hz) for r in out} == {
        ("batch-7", "aa01", 8000),
        ("batch-7", "bb02", 16000),
    }


def test_binaryfile_tar_explode(spark, tmp_path):
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name, data in [("a.wav", b"AAA1"), ("b.wav", b"BB22"), ("empty.wav", b"")]:
            info = tarfile.TarInfo(name)
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    p = tmp_path / "clips.tar"
    p.write_bytes(buf.getvalue())
    files = binaryfiles.read_binary_files(spark, str(tmp_path), "*.tar")
    members = binaryfiles.explode_tar_members(files).collect()
    got = {(r.member, bytes(r.bytes)) for r in members}
    assert got == {("a.wav", b"AAA1"), ("b.wav", b"BB22")}  # empty member skipped


def test_corrupt_tar_drops_only_its_own_archive(spark, tmp_path):
    """An empty, garbage or truncated archive yields no member rows (not a
    partial list) and the good archive next to it still explodes."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        for name in ("a.wav", "b.wav"):
            info = tarfile.TarInfo(name)
            info.size = 2500
            tf.addfile(info, io.BytesIO(b"x" * 2500))
    good = buf.getvalue()
    assert len(good) > 5000
    for name, data in [
        ("good.tar", good),
        ("empty.tar", b""),
        ("garbage.tar", b"garbage"),
        ("truncated.tar", good[:2048]),
    ]:
        (tmp_path / name).write_bytes(data)
    files = binaryfiles.read_binary_files(spark, str(tmp_path), "*.tar")
    members = binaryfiles.explode_tar_members(files).collect()
    assert sorted((r.archive.rsplit("/", 1)[-1], r.member) for r in members) == [
        ("good.tar", "a.wav"),
        ("good.tar", "b.wav"),
    ]


def test_schema_inference_and_ddl(spark, fixture_dir):
    inferred = schema_mod.infer_schema(spark, f"{fixture_dir}/clips.parquet")
    names = [f.name for f in inferred.fields]
    assert names == ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript", "ts"]
    ddl = schema_mod.create_table_ddl(inferred, "clips")
    assert "clip_id STRING" in ddl and "bytes BINARY" in ddl
    assert "CLUSTERED BY (clip_id) INTO 256 BUCKETS" in ddl
    # FIXTURES.md §4: golden DDL parity for the input_hint shape
    golden = schema_mod.clips_table_ddl()
    for col in ["clip_id STRING", "bytes BINARY", "sr_hz INT", "dur_ms INT",
                "codec STRING", "transcript STRING", "ts TIMESTAMP"]:
        assert col in golden
