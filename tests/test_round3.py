"""Round-3 regression tests: the minhash hot-bucket cap on by default
(the embedding near-dup cap tests live in test_similarity.py), sink
concurrency/emptiness hardening, large_binary offset handling, and the
BENCH/BASELINE.md section-surgical splice."""

from __future__ import annotations

import json
import os
import threading

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# hot-bucket guards: finite defaults keep degenerate corpora O(N)
# ---------------------------------------------------------------------------


def test_minhash_default_cap_bounds_degenerate_corpus(spark):
    """1100 identical docs: every (band, bucket) is hot in EVERY band, so
    with the default cap the candidate set (and output) is empty instead of
    ~600k quadratic pairs. Identical docs belong to exact-dedup."""
    from dataflow_geobeam_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, "the same exact boilerplate document text repeated verbatim") for i in range(1100)],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs, "doc_id", "text").count() == 0


# ---------------------------------------------------------------------------
# sink hardening
# ---------------------------------------------------------------------------


def test_compact_empty_table_raises_descriptive(spark, tmp_path):
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "tbl"))
    with pytest.raises(FileNotFoundError, match="no per-epoch manifests"):
        sink.compact(spark)


def test_sink_concurrent_write_compact_read_isolation(spark, tmp_path):
    """Interleave write_batch / compact / read from threads: every reader
    sees a consistent manifest-listed snapshot (n rows == 100 * epochs
    visible, no partial files, no duplicates), and the final table equals
    the union of all epochs exactly once."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    table = str(tmp_path / "tbl")
    sink = ExactlyOnceParquetSink(table)

    def batch(e):
        return spark.range(e * 100, (e + 1) * 100).withColumnRenamed("id", "v")

    sink.write_batch(batch(0), 0)
    sink.write_batch(batch(1), 1)

    errors: list[Exception] = []
    snapshots: list[tuple[int, int]] = []

    def reader():
        try:
            for _ in range(6):
                df = sink.read(spark)
                rows = df.select("v").collect()
                vals = [r.v for r in rows]
                # consistent snapshot: distinct values, count divisible by 100
                assert len(set(vals)) == len(vals)
                assert len(vals) % 100 == 0
                snapshots.append((len(vals) // 100, len(vals)))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    def compactor():
        try:
            sink.compact(spark, up_to_epoch=1)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    t_read = threading.Thread(target=reader)
    t_comp = threading.Thread(target=compactor)
    t_read.start()
    t_comp.start()
    for e in range(2, 5):
        sink.write_batch(batch(e), e)
    t_read.join()
    t_comp.join()
    assert not errors, errors
    final = sink.read(spark)
    assert final.count() == 500
    assert final.select("v").distinct().count() == 500
    # replay of an already-committed epoch stays a no-op mid-concurrency
    sink.write_batch(batch(3), 3)
    assert sink.read(spark).count() == 500


def test_binary_views_large_binary_offsets():
    """large_binary (64-bit offsets) slices correctly; unsupported types
    raise instead of mis-slicing (round-2 VERDICT hygiene #4)."""
    from dataflow_geobeam_spark.functions.decode import _binary_views

    payloads = [b"abc", None, b"", b"defgh"]
    small = pa.array(payloads, type=pa.binary())
    large = pa.array(payloads, type=pa.large_binary())
    for arr in (small, large):
        views = _binary_views(arr)
        assert bytes(views[0]) == b"abc"
        assert views[1] is None
        assert bytes(views[2]) == b""
        assert bytes(views[3]) == b"defgh"
    # sliced array: offsets window must respect col.offset
    views = _binary_views(large.slice(2))
    assert bytes(views[0]) == b"" and bytes(views[1]) == b"defgh"
    with pytest.raises(TypeError):
        _binary_views(pa.array([1, 2, 3]))


# ---------------------------------------------------------------------------
# BENCH/BASELINE.md streaming splice keeps later sections
# ---------------------------------------------------------------------------


def test_streaming_md_splice_preserves_later_sections(tmp_path, monkeypatch):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import bench_streaming as bs

    monkeypatch.chdir(tmp_path)
    os.makedirs("BENCH")
    before = (
        "# title\n\npreamble\n\n"
        f"{bs.MD_HEADER}\n\nOLD STREAMING BODY\n\n"
        "## Later section added by another tool\n\nmust survive\n"
    )
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(before)
    out = {
        "N": {"epochs": 3, "input_clips": 100, "wall_sec": 1.0,
              "clips_per_sec_wall": 100, "clips_per_sec_exec": 100,
              "clips_per_sec_steady": 100, "clips_per_sec_steady_median": 100},
        "4N": {"epochs": 3, "input_clips": 100, "wall_sec": 1.0,
               "clips_per_sec_wall": 400, "clips_per_sec_exec": 400,
               "clips_per_sec_steady": 400, "clips_per_sec_steady_median": 400},
        "rounds": 3,
        "streaming_scaling_efficiency": 1.0,
        "efficiency_median": 1.0,
        "efficiency_all_epochs": 1.0,
        "raw_decode_control": {
            "hardware_scaling_ceiling": 0.9,
            "clips_per_sec_1proc": 1000,
            "clips_per_sec_4proc": 3600,
        },
        "efficiency_vs_hardware_ceiling": 1.0,
    }
    bs.rewrite_baseline_md(out)
    after = open("BENCH/BASELINE.md").read()
    assert "preamble" in after
    assert "OLD STREAMING BODY" not in after
    assert "## Later section added by another tool" in after
    assert "must survive" in after
    assert after.count(bs.MD_HEADER) == 1
