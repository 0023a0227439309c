"""The fixture generator (dataflow_geobeam_spark/fixtures/generate.py):
crash-safe writes, the per-clip golden failure rule, and the guards that
keep goldens out of the query plans."""

from __future__ import annotations

import ast
import os
import pathlib

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from dataflow_geobeam_spark.fixtures import generate as gen
from dataflow_geobeam_spark.fixtures import independent as ind

PKG = pathlib.Path(__file__).resolve().parents[1] / "dataflow_geobeam_spark"
SF = "sf0.001"


def _block_failing_on_second_span(span):
    """Stands in for generate._audio_dupe_block in the pool's workers (a
    module-level function, so it pickles by reference)."""
    if span[0] > 0:
        raise RuntimeError("killed mid-write")
    return pa.table({"clip_id": ["ad000000"]})


def test_fixture_write_atomic_no_partial_on_failure(tmp_path, monkeypatch):
    """_write_table_atomic must never leave bytes at the final path when
    the write dies (the ensure_* goldens are existence-gated, so a
    truncated parquet would be trusted forever) and must leave no temp
    litter on success."""
    from dataflow_geobeam_spark.fixtures.generate import _write_table_atomic

    tbl = pa.table({"a": list(range(100))})
    dest = str(tmp_path / "g.parquet")
    _write_table_atomic(tbl, dest, compression="zstd")
    assert pq.read_table(dest).num_rows == 100
    assert [f for f in tmp_path.iterdir()] == [tmp_path / "g.parquet"]
    # failure inside the parquet writer (bad option) leaves NO final file
    dest2 = str(tmp_path / "h.parquet")
    with pytest.raises(Exception):
        _write_table_atomic(tbl, dest2, compression="no-such-codec")
    assert not (tmp_path / "h.parquet").exists()
    assert [f.name for f in tmp_path.iterdir()] == ["g.parquet"]
    # the streamed bench-scale audio_dupes write: a block that dies after
    # the first one was written leaves no file at the final path either
    monkeypatch.setattr(gen, "_audio_dupe_block", _block_failing_on_second_span)
    root = tmp_path / "root"
    with pytest.raises(RuntimeError, match="killed mid-write"):
        gen.ensure_audio_dupes("sf0.1", root=str(root), n_override=2500)
    assert os.listdir(root / "sf0.1") == []


def test_oracle_error_fails_generation_decode_error_drops_row(tmp_path, monkeypatch):
    """The per-clip golden failure rule (the engine's clip_map contract):
    a decode ValueError drops only that clip's row; any other error from
    the oracle fails generation instead of silently dropping the row."""
    root = str(tmp_path)
    fx = gen.ensure_fixtures(SF, root)
    clips = pq.read_table(os.path.join(fx, "clips.parquet"), columns=["clip_id", "bytes"])
    victim_id, victim = clips.column("clip_id")[0].as_py(), clips.column("bytes")[0].as_py()
    real_decode = ind.decode

    def decode_failing(exc):
        def decode(buf, codec):
            if buf == victim:
                raise exc
            return real_decode(buf, codec)

        return decode

    monkeypatch.setattr(ind, "decode", decode_failing(TypeError("oracle bug")))
    with pytest.raises(TypeError, match="oracle bug"):
        gen.ensure_golden_mel(SF, root)
    assert not os.path.exists(os.path.join(fx, "golden_mel.parquet"))

    monkeypatch.undo()
    clean_path = gen.ensure_golden_segments(SF, root)
    clean = pq.read_table(clean_path).column("clip_id").to_pylist()
    assert victim_id in clean
    os.remove(clean_path)
    monkeypatch.setattr(ind, "decode", decode_failing(ValueError("corrupt payload")))
    got = pq.read_table(gen.ensure_golden_segments(SF, root)).column("clip_id").to_pylist()
    assert got == [c for c in clean if c != victim_id]


def test_generator_has_one_failure_rule_and_plans_build_no_goldens():
    """No blanket except in the generator; the query plans import only
    input-table builders from it (every golden is built by the oracle
    side, __spark_entry__.oracle_sql, or the test that reads it)."""
    src = (PKG / "fixtures" / "generate.py").read_text()
    assert "except Exception" not in src
    for path in sorted((PKG / "plans").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.ImportFrom):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                names = [node.func.id]
            assert not any(n.startswith("ensure_golden_") for n in names), (path.name, names)
