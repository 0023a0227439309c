"""Stateful clip <-> late-transcript stream-stream join.

Two implementations per SURVEY.md §7 M4 (north_star names both):

1. ``interval_join_streams`` — Spark's built-in watermarked stream-stream
   interval join: a transcript matches iff it arrives within
   ``[ts, ts + join_window]`` of its clip's event time. State eviction is
   driven by the two watermarks; Catalyst handles it, zero custom code.

2. ``stateful_join_apply`` — the flatMapGroupsWithState-style path via
   ``applyInPandasWithState``: both streams are unioned into one keyed
   stream; per-clip state buffers the clip row and pending transcripts;
   an event-time timeout (watermark-driven) evicts state and emits the
   clip UNMATCHED if no transcript arrived inside the join window. This is
   the only custom stateful code in the engine, and exists because the
   built-in join cannot emit timeout-driven unmatched-left rows with custom
   eviction policy.

Precedent: the reference's streaming stage keeps per-DoFn state only as an
init-time cached CRS (``streaming_pubsub.py:24-26``); true keyed state is new
surface the north rule adds.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

JOIN_WINDOW_SECONDS = 300  # transcript valid within [ts, ts + 5 min]

JOIN_OUT_SCHEMA = StructType(
    [
        StructField("clip_id", StringType()),
        StructField("ts", TimestampType()),
        StructField("transcript", StringType()),
        StructField("t_transcript", StringType()),
        StructField("matched", BooleanType()),
    ]
)

# state: the clip row (if seen) + buffered transcript candidates. The buffer
# exists because transcripts can arrive BEFORE their clip: with a single
# slot, an out-of-window early transcript (t_ts < clip ts) would permanently
# occupy it and block a later in-window match (round-2 ADVICE fix). Once the
# clip is known, candidates resolve immediately and the buffer empties.
STATE_SCHEMA = StructType(
    [
        StructField("clip_ts_us", LongType()),
        StructField("transcript", StringType()),
        StructField("cand_ts_us", ArrayType(LongType())),
        StructField("cand_texts", ArrayType(StringType())),
        StructField("emitted", BooleanType()),
    ]
)

# bound on buffered pre-clip transcripts per key (keeps state O(1); the
# fixture and any sane stream has ~1-3 transcripts per clip)
MAX_BUFFERED_TRANSCRIPTS = 64


def interval_join_streams(
    clips: DataFrame,
    transcripts: DataFrame,
    clip_watermark: str = "2 minutes",
    transcript_watermark: str = "2 minutes",
    join_window: str = "5 minutes",
) -> DataFrame:
    """Built-in watermarked interval join (inner: matched pairs only).

    State bound: clips kept until watermark passes ``ts + join_window``;
    transcripts until their watermark passes ``t_ts`` — Spark derives both
    from the join condition, so state is self-evicting at any scale.
    """
    c = clips.withWatermark("ts", clip_watermark)
    t = transcripts.withWatermark("t_ts", transcript_watermark)
    return c.join(
        t,
        F.expr(
            f"""
            clip_id = t_clip_id
            AND t_ts >= ts
            AND t_ts <= ts + interval {join_window}
            """
        ),
        "inner",
    ).select(
        "clip_id",
        "ts",
        "transcript",
        "t_transcript",
        F.lit(True).alias("matched"),
    )


def _stateful_join_fn(
    key: tuple[str],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-clip_id state machine.

    Input rows are the union stream: side='c' carries (ts, transcript);
    side='t' carries (t_ts, t_transcript). Emits EXACTLY ONE output row per
    clip (deliberately different from the interval join, which emits every
    matching transcript — pinned by tests/test_streaming_join.py): matched
    with the EARLIEST IN-WINDOW transcript (ties broken by transcript text)
    as soon as both sides are present, else unmatched at event-time timeout
    (watermark passed ts + join window). Transcripts seen before their clip
    are buffered (bounded) and re-validated against the window once the
    clip arrives; out-of-window candidates are discarded.
    """
    import pandas as pd  # noqa: PLC0415 - worker-side import

    us = 1_000_000
    if state.exists:
        clip_ts_us, transcript, cand_ts_us, cand_texts, emitted = state.get
        cands = list(zip(cand_ts_us or [], cand_texts or []))
    else:
        clip_ts_us, transcript, emitted = None, None, False
        cands = []

    if state.hasTimedOut:
        out = None
        if clip_ts_us is not None and not emitted:
            out = pd.DataFrame(
                {
                    "clip_id": [key[0]],
                    "ts": [pd.Timestamp(clip_ts_us, unit="us")],
                    "transcript": [transcript],
                    "t_transcript": [None],
                    "matched": [False],
                }
            )
        state.remove()
        if out is not None:
            yield out
        return

    for pdf in pdfs:
        for row in pdf.itertuples(index=False):
            if row.side == "c" and clip_ts_us is None:
                clip_ts_us = int(pd.Timestamp(row.ts).value // 1000)
                transcript = row.transcript
            elif row.side == "t":
                cands.append((int(pd.Timestamp(row.ts).value // 1000), row.transcript))

    if clip_ts_us is not None:
        # clip known: resolve the buffer — keep only in-window candidates
        lo, hi = clip_ts_us, clip_ts_us + JOIN_WINDOW_SECONDS * us
        in_window = [c for c in cands if lo <= c[0] <= hi]
        cands = []
        if not emitted and in_window:
            t_ts_us, t_transcript = min(in_window)
            emitted = True
            yield pd.DataFrame(
                {
                    "clip_id": [key[0]],
                    "ts": [pd.Timestamp(clip_ts_us, unit="us")],
                    "transcript": [transcript],
                    "t_transcript": [t_transcript],
                    "matched": [True],
                }
            )
    elif len(cands) > MAX_BUFFERED_TRANSCRIPTS:
        # clip not seen yet: bound the buffer, keeping the earliest
        # candidates (the ones a future clip is most likely to match)
        cands = sorted(cands)[:MAX_BUFFERED_TRANSCRIPTS]

    state.update(
        (
            clip_ts_us,
            transcript,
            [c[0] for c in cands],
            [c[1] for c in cands],
            emitted,
        )
    )
    anchor_us = clip_ts_us if clip_ts_us is not None else min(c[0] for c in cands) if cands else None
    if anchor_us is not None:
        # evict when the watermark passes the end of the join window; for
        # already-late rows clamp forward — Spark rejects timeouts behind
        # the current watermark
        desired_ms = anchor_us // 1000 + JOIN_WINDOW_SECONDS * 1000 + 1000
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(desired_ms, wm_ms + 1000))


def stateful_join_apply(
    clips: DataFrame,
    transcripts: DataFrame,
    watermark: str = "2 minutes",
) -> DataFrame:
    """applyInPandasWithState clip<->transcript join with timeout eviction.

    Union-tag pattern: both sides are normalized to
    (clip_id, side, ts, transcript) and grouped by clip_id; the state
    machine emits matched rows eagerly and unmatched clips at timeout.
    A row with a null ``clip_id`` or ``ts`` on either side is dropped before
    the stateful stage, as ``interval_join_streams``' inner join drops it:
    it never matches and is never emitted.
    """
    c = clips.select(
        F.col("clip_id"),
        F.lit("c").alias("side"),
        F.col("ts"),
        F.col("transcript"),
    )
    t = transcripts.select(
        F.col("t_clip_id").alias("clip_id"),
        F.lit("t").alias("side"),
        F.col("t_ts").alias("ts"),
        F.col("t_transcript").alias("transcript"),
    )
    unioned = c.unionByName(t).dropna(subset=["clip_id", "ts"]).withWatermark("ts", watermark)
    return unioned.groupBy("clip_id").applyInPandasWithState(
        _stateful_join_fn,
        outputStructType=JOIN_OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
