"""Streaming CEP (``streaming/cep.py``): every matcher shape against the
oracle-gated batch operators in ``operators/cep.py``, the declarative
streaming dispatcher, and the dirty-row rule of the shared keyed-state
runner.

The parity tests stream the events table as 4 time-ordered parquet files
(one per trigger) with a 1-hour watermark delay and compare the emitted
rows with the batch operator restricted to what the final watermark has
made final.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as apq
import pytest
from pyspark.sql import functions as F

from dataflow_geobeam_spark.operators.cep import (
    match_absence,
    match_contiguous,
    match_kleene,
    match_pattern,
)
from dataflow_geobeam_spark.streaming.cep import (
    match_absence_stream,
    match_contiguous_stream,
    match_kleene_stream,
    match_pattern_stream,
)

EVENTS_DDL = "user_id long, event_id long, ts timestamp, event_type string"


def _events_stream(spark, sf_dir, stream_dir, ddl=EVENTS_DDL):
    """The events table's ``ddl`` columns sorted by (ts, event_id), written
    as 4 parquet files and read back one file per trigger with a 1-hour
    watermark. Returns the sorted table and the stream."""
    t = apq.read_table(
        f"{sf_dir}/events.parquet", columns=[c.split()[0] for c in ddl.split(",")]
    )
    idx = pa.compute.sort_indices(
        t, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]
    )
    t = t.take(idx)
    stream_dir.mkdir()
    per = (t.num_rows + 3) // 4
    for f in range(4):
        apq.write_table(t.slice(f * per, per), str(stream_dir / f"part-{f:04d}.parquet"))
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
        .withWatermark("ts", "1 hour")
    )
    return t, stream


def _run(spark, out, name):
    """Run ``out`` availableNow into a memory sink; return its rows."""
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return [tuple(r) for r in spark.sql(f"select * from {name}").collect()]


def _tiny_stream(spark, stream_dir, rows):
    stream_dir.mkdir()
    apq.write_table(
        pa.table(rows, schema=pa.schema(
            [("user_id", pa.int64()), ("event_id", pa.int64()),
             ("ts", pa.timestamp("us")), ("event_type", pa.string())]
        )),
        str(stream_dir / "part-0000.parquet"),
    )
    return spark.readStream.schema(EVENTS_DDL).parquet(str(stream_dir)).withWatermark(
        "ts", "1 hour"
    )


def test_match_contiguous_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming CEP vs the (oracle-gated) batch operator: the events
    table streamed as 4 time-ordered files with a 1-hour watermark delay
    must emit exactly the batch matches whose anchors FINALIZE under the
    final watermark (wm > anchor_ts + within)."""
    pattern, within_s = ["view", "click"], 3 * 86400
    t, stream = _events_stream(spark, sf_dir, tmp_path / "ev_stream")
    out = match_contiguous_stream(stream, pattern, within_s)
    got = set(_run(spark, out, "cep_stream_test"))

    # final watermark: max event ts minus the 1h delay (to the second)
    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_s = int((max_ts - dt.timedelta(hours=1)).timestamp())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        tuple(r)
        for r in match_contiguous(ev, pattern, within_s).collect()
        if r.t0_s + within_s < wm_s
    }
    assert got == batch and len(batch) > 0


def test_match_absence_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming negation CEP vs the (oracle-gated) batch operator: the
    events table streamed as 4 time-ordered files with a 1-hour
    watermark delay must emit exactly the batch absences whose anchors
    FINALIZE under the final watermark (wm > anchor_ts + within) —
    including anchors flushed purely by the event-time timeout (absence
    means no further rows arrive for the key)."""
    first, absent, within_s = "view", "purchase", 6 * 3600
    t, stream = _events_stream(spark, sf_dir, tmp_path / "ev_stream_abs")
    out = match_absence_stream(stream, first, absent, within_s)
    got = set(_run(spark, out, "cep_absence_stream_test"))

    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_s = int((max_ts - dt.timedelta(hours=1)).timestamp())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        tuple(r)
        for r in match_absence(ev, first, absent, within_s).collect()
        if r.t0_s + within_s < wm_s
    }
    assert got == batch and len(batch) > 0


def test_match_kleene_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming Kleene CEP vs the (oracle-gated) batch operator: the
    events table streamed as 4 time-ordered files with a 1-hour
    watermark delay must emit exactly the batch matches whose TERMINATOR
    finalizes under the final watermark (wm > ts_c) — terminator-based
    finalization, unlike the anchor-based contiguous/absence forms —
    including matches flushed purely by the event-time timeout."""
    pattern, within_s = ("view", "click", "purchase"), 7 * 86400
    t, stream = _events_stream(spark, sf_dir, tmp_path / "ev_stream_kleene")
    out = match_kleene_stream(stream, pattern, within_s)
    got = set(_run(spark, out, "cep_kleene_stream_test"))

    # Spark's watermark = ms-truncated max event time - delay; a match is
    # finalized iff its terminator ts < wm. Restricting the batch INPUT to
    # ts < wm keeps every island intact (islands only look backward).
    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_dt = dt.datetime.fromtimestamp(
        (int(max_ts.timestamp() * 1000) - 3600_000) / 1000.0
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts") < F.lit(wm_dt)
    )
    batch = {tuple(r) for r in match_kleene(ev, pattern, within_s).collect()}
    assert got == batch and len(batch) > 0


def test_match_pattern_stream_dispatch(spark, tmp_path):
    """The streaming declarative entry point: grammar errors raise before
    any query starts, and a dispatched contiguous pattern run availableNow
    over a tiny file stream emits exactly the hand-computed finalized
    match."""
    t0 = dt.datetime(2024, 1, 1)
    rows = {
        "user_id": [1, 1, 1, 2, 9],
        "event_id": [10, 11, 12, 20, 90],
        "ts": [
            t0,
            t0 + dt.timedelta(seconds=5),
            t0 + dt.timedelta(seconds=9),
            t0 + dt.timedelta(seconds=3),
            t0 + dt.timedelta(days=30),  # watermark driver row
        ],
        "event_type": ["a", "b", "c", "a", "z"],
    }
    stream = _tiny_stream(spark, tmp_path / "tiny_stream", rows)
    with pytest.raises(ValueError, match="negation"):
        match_pattern_stream(stream, "a b !c", 60)
    with pytest.raises(ValueError, match="quantifiers"):
        match_pattern_stream(stream, "a+ b c", 60)

    out = match_pattern_stream(stream, "a b c", within_s=60)
    got = _run(spark, out, "cep_dispatch_stream_test")
    t0_s = int(t0.timestamp())
    assert got == [(1, 10, t0_s, t0_s + 5, t0_s + 9, 9)]


def test_match_pattern_stream_defines_equals_batch(spark, sf_dir, tmp_path):
    """Streaming dispatcher with a DEFINE clause (round 5: batch/streaming
    parity): the driver query's exact shape — PATTERN 'view click+
    big_purchase' with big_purchase := purchase AND value >= 30 — run
    availableNow over the events table as a 4-file stream must emit
    exactly the batch match_pattern matches whose terminator finalizes
    under the final watermark. The DEFINEs here are pairwise disjoint per
    row (type-equality against distinct types), the case the upstream
    label projection is exact for."""
    pattern, within_s = "view click+ big_purchase", 7 * 86400

    def defines():
        return {
            "big_purchase": (F.col("event_type") == "purchase")
            & (F.col("value") >= 30.0)
        }

    t, stream = _events_stream(
        spark, sf_dir, tmp_path / "ev_stream_defines", EVENTS_DDL + ", value double"
    )
    out = match_pattern_stream(stream, pattern, within_s, defines=defines())
    got = set(_run(spark, out, "cep_defines_stream_test"))

    # terminator-finalized subset: restrict the batch INPUT to ts < wm
    # (islands only look backward — see the Kleene equality test)
    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_dt = dt.datetime.fromtimestamp(
        (int(max_ts.timestamp() * 1000) - 3600_000) / 1000.0
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").where(
        F.col("ts") < F.lit(wm_dt)
    )
    batch = {
        tuple(r)
        for r in match_pattern(ev, pattern, within_s, defines=defines()).collect()
    }
    assert got == batch and len(batch) > 0
    # a defined step name absent from the pattern is a spec error
    with pytest.raises(ValueError, match="not in pattern"):
        match_pattern_stream(stream, "view click+ purchase", within_s, defines=defines())


def test_match_bounded_stream_equals_batch(spark, sf_dir, tmp_path):
    """Streaming bounded-repetition CEP (with alternation, through the
    declarative dispatcher) vs the hash-gated batch operator: events
    streamed as 4 time-ordered files with a 1-hour watermark delay emit
    exactly the batch matches whose anchors FINALIZE under the final
    watermark (wm > anchor_ts + within)."""
    pat, within_s = "view (click|error){1,2} purchase", 3 * 86400
    t, stream = _events_stream(spark, sf_dir, tmp_path / "ev_stream_bounded")
    out = match_pattern_stream(stream, pat, within_s)
    got = set(_run(spark, out, "cep_bounded_stream_test"))

    max_ts = pa.compute.max(t.column("ts")).as_py()
    wm_s = int((max_ts - dt.timedelta(hours=1)).timestamp())
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        tuple(r)
        for r in match_pattern(ev, pat, within_s).collect()
        if r.t0_s + within_s < wm_s
    }
    assert got == batch and len(batch) > 0


# ---------------------------------------------------------------------------
# dirty rows: a null key, timestamp or event id drops only its own row
# ---------------------------------------------------------------------------

_T0 = dt.datetime(2024, 1, 1)
_CLEAN_ROWS = [
    (1, 10, _T0, "a"),
    (1, 11, _T0 + dt.timedelta(seconds=5), "b"),
    (1, 12, _T0 + dt.timedelta(seconds=9), "c"),
    (2, 20, _T0 + dt.timedelta(seconds=3), "a"),
    (9, 90, _T0 + dt.timedelta(days=30), "z"),  # advances the watermark
]
_clean_out: dict[str, list] = {}


def _pattern_rows(spark, stream_dir, rows, pattern):
    stream = _tiny_stream(
        spark, stream_dir, {k: list(v) for k, v in zip(
            ["user_id", "event_id", "ts", "event_type"], zip(*rows)
        )}
    )
    name = f"cep_dirty_{stream_dir.parent.name}_{stream_dir.name}"
    return sorted(_run(spark, match_pattern_stream(stream, pattern, within_s=60), name))


@pytest.mark.parametrize("null_col", ["user_id", "ts", "event_id"])
@pytest.mark.parametrize("pattern", ["a b c", "a !q", "a b+ c", "a b{1,2} c"])
def test_null_key_ts_or_id_drops_only_its_row(spark, tmp_path, pattern, null_col):
    """A row with a null user_id, ts or event_id is dropped before the
    stateful stage: the query finishes and emits exactly what the same
    stream without that row emits. The dirty row is an ``a`` inside user
    1's match, so keeping it would change the output."""
    dirty = {"user_id": 1, "event_id": 99, "ts": _T0 + dt.timedelta(seconds=1), "event_type": "a"}
    dirty[null_col] = None
    if pattern not in _clean_out:
        _clean_out[pattern] = _pattern_rows(spark, tmp_path / "clean", _CLEAN_ROWS, pattern)
    got = _pattern_rows(spark, tmp_path / "dirty", [*_CLEAN_ROWS, tuple(dirty.values())], pattern)
    assert got == _clean_out[pattern] and len(got) > 0
