"""Streaming CEP: watermark-correct pattern matching.

Four matchers, each the streaming form of a batch operator in
``operators/cep.py`` (PATTERN over CONSECUTIVE events per key, bounded by
a time window):

* ``match_contiguous_stream`` — PATTERN (A B C …);
* ``match_absence_stream`` — A NOT B within T (timeout alerting: the
  pattern that NEEDS event-time timers, because the interesting case is
  exactly the one where no further input arrives for the key);
* ``match_kleene_stream`` — PATTERN (A B+ C), variable-length iteration;
* ``match_bounded_stream`` — PATTERN (A B{m,n} C), greedy.

``match_pattern_stream`` parses the batch grammar and dispatches to them.

One runner, ``_run_matcher``, holds the module's only
``applyInPandasWithState`` call. Per key it owns a typed, sorted event
buffer (``ts_us``, ``ids``, ``types``) plus a high-water mark
``done_us``; on every call (new rows or an event-time timeout) it
appends the incoming frames column-wise, sorts, hands the matcher's pure
``step`` the positions that became FINAL in this call, evicts what no
future result can reach, and sets the next timeout. A matcher is a
``step(ts_us, ids, types, lo, hi)`` over the sorted numpy buffer that
returns one array per output column for the positions ``[lo, hi)``, its
output column names, and its finalization offset ``fwd``:

* ``fwd = within`` for the ANCHOR-final shapes (contiguous, absence,
  bounded). An anchor's outcome depends only on events with
  ``ts <= anchor_ts + within``, and the watermark admits no event older
  than itself, so the anchor is final once ``anchor_ts + within < wm``.
* ``fwd = 0`` for the TERMINATOR-final Kleene shape. A terminator's
  outcome depends only on its predecessors, so it is final once
  ``ts < wm``: no admissible event can insert before it anymore.

Position ``i`` is emitted exactly once, in the call where
``done_us <= ts[i] + fwd < wm`` (then ``done_us`` advances to ``wm``).
The same rule, framed as watermark delay against result error, is
PECJ's (SIGMOD 2024); holding keyed state until the watermark makes a
result final, then evicting it, is Flink's ("State Management in Apache
Flink", VLDB 2017). Eviction drops events with ``ts + within < wm``:
every unfinalized result looks at most ``within`` back (Kleene islands)
or forward (anchors) from its own timestamp. The timeout wakes the key
when its next position can finalize (else when its oldest event becomes
evictable), clamped to ``wm + 1 s`` because Spark rejects timeouts
behind the watermark; when the buffer empties the state is removed.
Within those rules the emitted set equals the batch operator over the
delivered (non-late) events, pinned by ``tests/test_cep_stream.py``
against the oracle-gated batch forms.

Dirty rows: a row with a null ``user_id``, ``ts`` or ``event_id`` is
dropped (one Catalyst filter before the stateful stage) and never fails
the query; a null ``event_type`` keeps a non-step label and still
occupies its position.

State layout: every shape stores ``(ts_us, ids, types, done_us)``. A
checkpoint written before the shapes shared this layout (when only the
Kleene shape stored ``done_us``) does not resume; restart such a query
from a fresh checkpoint.

Input contract: an events stream with ``withWatermark`` already applied
on the timestamp column; at-least-once duplicate delivery is NOT
deduplicated here (put a ``dropDuplicatesWithinWatermark`` upstream if
the source can replay).

Scale: state per key = events inside one ``within`` horizon (the same
bound a session-window state store carries); each micro-batch touches
only keys with new rows or expiring timeouts.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

# step(ts_us, ids, types, lo, hi) -> one int64 array per output column
Step = Callable[[np.ndarray, np.ndarray, np.ndarray, int, int], list[np.ndarray]]

_STATE = StructType(
    [
        StructField("ts_us", ArrayType(LongType()), True),
        StructField("ids", ArrayType(LongType()), True),
        StructField("types", ArrayType(StringType()), True),
        StructField("done_us", LongType(), True),
    ]
)


def _run_matcher(
    events: DataFrame, cols: list[str], step: Step, *, within_s: int, fwd_s: int
) -> DataFrame:
    """Run ``step`` per ``user_id`` under the buffer → finalize → evict →
    timeout loop described in the module docstring; output columns are
    ``user_id`` followed by ``cols``, all BIGINT."""
    within_us, fwd_us = int(within_s * 1_000_000), int(fwd_s * 1_000_000)

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_l, id_l, ty_l, done_us = state.get
        else:
            ts_l, id_l, ty_l, done_us = [], [], [], -(1 << 62)
        parts = [(np.asarray(ts_l, np.int64), np.asarray(id_l, np.int64), np.asarray(ty_l, str))]
        for pdf in pdfs:
            ts_new = pdf["ts"].to_numpy("datetime64[ns]").view(np.int64) // 1000
            parts.append((ts_new, pdf["event_id"].to_numpy(np.int64), pdf["event_type"].to_numpy(str)))
        ts, ids, types = (np.concatenate(c) for c in zip(*parts))
        order = np.lexsort((types, ids, ts))
        ts, ids, types = ts[order], ids[order], types[order]

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        lo, hi = np.searchsorted(ts + fwd_us, [done_us, wm_us])
        out = step(ts, ids, types, int(lo), int(hi)) if hi > lo else None
        done_us = max(done_us, wm_us)
        keep = np.searchsorted(ts + within_us, wm_us)
        ts, ids, types = ts[keep:], ids[keep:], types[keep:]
        if len(ts):
            state.update((ts.tolist(), ids.tolist(), types.tolist(), int(done_us)))
            # wake when the next position can finalize, else when the
            # oldest event becomes evictable; Spark rejects timeouts
            # behind the watermark
            pending = ts[ts + fwd_us >= done_us]
            wake_us = pending[0] + fwd_us if len(pending) else ts[0] + within_us
            state.setTimeoutTimestamp(max(int(wake_us) // 1000 + 1000, wm_ms + 1000))
        else:
            state.remove()
        if out is not None and len(out[0]):
            yield pd.DataFrame({"user_id": key[0], **dict(zip(cols, out))}, columns=["user_id", *cols])

    schema = StructType([StructField(c, LongType(), False) for c in ["user_id", *cols]])
    return (
        events.select("user_id", "event_id", "ts", "event_type")
        .dropna(subset=["user_id", "ts", "event_id"])
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=schema,
            stateStructType=_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _secs(ts_us: np.ndarray) -> np.ndarray:
    return ts_us // 1_000_000


def match_contiguous_stream(
    events: DataFrame,
    pattern: list[str],
    within_s: int,
) -> DataFrame:
    """Streaming contiguous-pattern matcher. ``events`` must be a
    watermarked stream with columns (user_id, event_id, ts, event_type).
    Output rows match the batch operator's schema:
    (user_id, anchor_id, t0_s .. t{k-1}_s, span_s), emitted once each
    anchor finalizes under the watermark."""
    if len(pattern) < 2:
        raise ValueError("pattern needs at least 2 steps")
    pattern, k = list(pattern), len(pattern)
    within_us = within_s * 1_000_000

    def step(ts, ids, types, lo, hi):
        i = np.arange(lo, min(hi, len(ts) - k + 1))
        ok = ts[i + k - 1] <= ts[i] + within_us
        for j, name in enumerate(pattern):
            ok &= types[i + j] == name
        i = i[ok]
        t = [_secs(ts[i + j]) for j in range(k)]
        return [ids[i], *t, t[-1] - t[0]]

    cols = ["anchor_id", *(f"t{i}_s" for i in range(k)), "span_s"]
    return _run_matcher(events, cols, step, within_s=within_s, fwd_s=within_s)


def match_absence_stream(
    events: DataFrame,
    first: str,
    absent: str,
    within_s: int,
) -> DataFrame:
    """Streaming negation matcher — the timeout-alert pattern (a request
    with no response within T, a view never followed by a purchase):
    emits (user_id, anchor_id, t0_s) for every ``first``-type event with
    NO ``absent``-type event in the value window (ts, ts+T], exactly
    once, when the watermark finalizes the anchor
    (``watermark > ts + within_s`` — by then no admissible event can
    clear it).

    Eviction keeps every clearer: an absent-type event that could still
    clear an unfinalized anchor is necessarily unfinalized itself, and
    the event-time timeout flushes the key when the watermark advances
    without new rows — silence is the very thing the pattern detects.
    Output equals the batch ``operators/cep.match_absence`` over the
    delivered (non-late) events; pinned by tests/test_cep_stream.py."""
    within_us = within_s * 1_000_000

    def step(ts, ids, types, lo, hi):
        i = np.arange(lo, hi)
        i = i[types[i] == first]
        # absent-type events with ts in (t, t + within]: prefix counts
        n_absent = np.concatenate([[0], np.cumsum(types == absent)])
        lo_w = np.searchsorted(ts, ts[i], "right")
        hi_w = np.searchsorted(ts, ts[i] + within_us, "right")
        i = i[n_absent[hi_w] == n_absent[lo_w]]
        return [ids[i], _secs(ts[i])]

    return _run_matcher(events, ["anchor_id", "t0_s"], step, within_s=within_s, fwd_s=within_s)


_RUN_COLS = ["anchor_id", "n_b", "t0_s", "t_end_s", "span_s"]


def match_kleene_stream(
    events: DataFrame,
    pattern: tuple[str, str, str],
    within_s: int,
) -> DataFrame:
    """Streaming iteration matcher — PATTERN (A B+ C) over consecutive
    events per key, the streaming form of ``operators/cep.match_kleene``.

    Finalization: a terminator (``c``) row's outcome depends ONLY on its
    predecessors (nearest non-``b``, the run between, the time bound), so
    it is final exactly when the watermark passes its own timestamp — no
    admissible event can insert before it anymore. Each terminator with
    ``done_us <= ts < watermark`` is therefore emitted exactly once.

    Eviction keeps a longer tail than emission: an unfinalized terminator
    (``ts >= watermark``) can reach back ``within`` seconds for its
    island, so only events with ``ts + within < watermark`` are dropped —
    and since matched islands are time-bounded (``ts_c <= anchor +
    within``), a walk-back that runs off the buffer start proves the true
    anchor fails the bound anyway. Event-time timeouts flush buffered
    terminators when the watermark advances without new rows for the key.

    Output equals the batch operator over the delivered (non-late)
    events restricted to finalized terminators; pinned by
    tests/test_cep_stream.py.
    """
    a_ty, b_ty, c_ty = pattern
    within_us = within_s * 1_000_000

    def step(ts, ids, types, lo, hi):
        # position of the nearest non-b at or before each position
        pos = np.arange(len(ts))
        last_non_b = np.maximum.accumulate(np.where(types != b_ty, pos, -1))
        i = np.arange(max(lo, 1), hi)
        i = i[types[i] == c_ty]
        j = last_non_b[i - 1]
        ok = (j >= 0) & (j < i - 1)
        i, j = i[ok], j[ok]
        ok = (types[j] == a_ty) & (ts[i] <= ts[j] + within_us)
        i, j = i[ok], j[ok]
        t0, t_end = _secs(ts[j]), _secs(ts[i])
        return [ids[j], i - j - 1, t0, t_end, t_end - t0]

    return _run_matcher(events, _RUN_COLS, step, within_s=within_s, fwd_s=0)


def _match_set(name: str) -> list[str]:
    """Labels/types that satisfy a pattern step: the step's own name (the
    dispatcher's label projection emits full names, alternations
    included) plus each alternation branch (raw event types when no
    projection ran)."""
    return [name, *name.split("|")]


def match_bounded_stream(
    events: DataFrame,
    pattern: tuple[str, str, str],
    bounds: tuple[int, int],
    within_s: int,
) -> DataFrame:
    """Streaming bounded-repetition matcher — PATTERN (A B{m,n} C) with
    GREEDY semantics over consecutive events per key, the streaming form
    of ``operators/cep.match_bounded`` (round 5e).

    Finalization is ANCHOR-based, like the contiguous matcher: an
    anchor's verdict depends only on events within ``within_s`` after it
    (every candidate width requires its C row inside the window, and
    rows beyond the window cannot flip any narrower width), so the
    anchor is final once the watermark passes ``anchor_ts + within``.
    Alternation step names (``'x|y'``) match either raw branch types or
    the dispatcher's projected labels. Output equals the batch operator
    over the delivered events restricted to finalized anchors; pinned by
    tests/test_cep_stream.py::test_match_bounded_stream_equals_batch.
    """
    a_ty, b_ty, c_ty = pattern
    m, n = bounds
    if m < 0 or n < m or n == 0:
        raise ValueError(f"bad bounds {{{m},{n}}}")
    within_us = within_s * 1_000_000

    def step(ts, ids, types, lo, hi):
        size = len(ts)
        is_b = np.isin(types, _match_set(b_ty))
        is_c = np.isin(types, _match_set(c_ty))
        # b_run[p] = length of the run of b rows starting at p (b_run[size] = 0)
        pos = np.arange(size + 1)
        next_non_b = np.minimum.accumulate(np.where(np.append(is_b, False), size, pos)[::-1])[::-1]
        b_run = next_non_b - pos
        i = np.arange(lo, hi)
        i = i[np.isin(types[i], _match_set(a_ty))]
        width = np.full(len(i), -1)
        for k in range(n, m - 1, -1):  # GREEDY: largest width first
            j = np.minimum(i + k + 1, size - 1)
            ok = (width < 0) & (i + k + 1 < size) & (b_run[i + 1] >= k)
            width[ok & is_c[j] & (ts[j] <= ts[i] + within_us)] = k
        i, width = i[width >= 0], width[width >= 0]
        t0, t_end = _secs(ts[i]), _secs(ts[i + width + 1])
        return [ids[i], width, t0, t_end, t_end - t0]

    return _run_matcher(events, _RUN_COLS, step, within_s=within_s, fwd_s=within_s)


def match_pattern_stream(
    events: DataFrame,
    pattern: str,
    within_s: int,
    defines: dict | None = None,
) -> DataFrame:
    """Declarative entry point for the STREAMING matchers — the
    streaming counterpart of ``operators/cep.match_pattern``. Parses the
    same PATTERN grammar (``"a b c"``, ``"a b+ c"``, ``"a b{1,2} c"``,
    ``"a !b"``) and dispatches to :func:`match_contiguous_stream`,
    :func:`match_kleene_stream`, :func:`match_bounded_stream` or
    :func:`match_absence_stream`.

    ``defines`` (MATCH_RECOGNIZE DEFINE, round 5: batch/streaming parity
    for the dispatcher) maps a step name to an arbitrary per-row Column
    predicate over the INCOMING stream's columns, replacing the default
    ``event_type == name`` test exactly as in the batch entry point. The
    streaming matchers buffer one LABEL per event in typed state, so the
    predicates are compiled upstream into a pure-Catalyst label
    projection BEFORE the stateful stage: each row is labeled with the
    first pattern step (in pattern order) whose predicate it satisfies;
    a row satisfying no step keeps a non-step label (``"¬" + type``) so
    it still occupies its position — breaking contiguity, terminating
    Kleene runs, and never clearing an absence — just as a
    no-step-matching row does in the batch plans. Single-labeling is
    exact when the step predicates are pairwise DISJOINT per row (the
    MATCH_RECOGNIZE norm and the only case with one well-defined
    answer); a row satisfying two DEFINEs takes the earlier step, where
    the batch Kleene form would let it satisfy both (reluctant-B+
    termination). Equality with the batch operator under disjoint
    DEFINEs is pinned by
    tests/test_cep_stream.py::test_match_pattern_stream_defines_equals_batch.
    ``events`` must already carry ``withWatermark`` on ``ts``.
    """
    from dataflow_geobeam_spark.operators.cep import _step_pred, parse_pattern

    steps = parse_pattern(pattern)
    if defines:
        unknown = set(defines) - {s.name for s in steps}
        if unknown:
            raise ValueError(f"DEFINE for step(s) not in pattern: {sorted(unknown)}")
    if defines or any("|" in s.name for s in steps):
        # label projection: alternation steps (round 5e) resolve through
        # the same _step_pred as the batch compiler, so an alternation
        # row is labeled with the full step name ('click|error')
        lbl = F.concat(F.lit("¬"), F.col("event_type"))
        for s in reversed(steps):
            pred = _step_pred(s.name, defines, "event_type")
            lbl = F.when(pred, F.lit(s.name)).otherwise(lbl)
        events = events.select(
            "user_id", "event_id", "ts", lbl.alias("event_type")
        )
    if any(s.negated for s in steps):
        if len(steps) == 2 and not steps[0].negated and steps[0].quant == "1":
            return match_absence_stream(
                events, first=steps[0].name, absent=steps[1].name, within_s=within_s
            )
        raise ValueError(
            "negation is supported as the second step of a 2-step pattern "
            "('A !B'); compose longer shapes from match_*_stream directly"
        )
    quant_at = [i for i, s in enumerate(steps) if s.quant != "1"]
    if not quant_at:
        return match_contiguous_stream(events, [s.name for s in steps], within_s)
    if quant_at == [1] and len(steps) == 3:
        names = (steps[0].name, steps[1].name, steps[2].name)
        if steps[1].quant == "+":
            return match_kleene_stream(events, names, within_s)
        return match_bounded_stream(events, names, steps[1].bounds(), within_s)
    raise ValueError(
        "quantifiers (+, ?, {m,n}) are supported on the middle step of a "
        "3-step pattern; compose longer shapes from match_*_stream directly"
    )
