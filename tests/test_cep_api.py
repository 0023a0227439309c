"""The declarative MATCH_RECOGNIZE-lite API (operators/cep.match_pattern):
parser grammar, dispatch equivalence to the four hand-built matchers, and
DEFINE-clause predicates cross-checked against an independently-formulated
DuckDB query (correlated/self-join SQL, not the engine's window compilation).
The streaming dispatcher and matchers are pinned in test_cep_stream.py.

Reference parity: the reference (Beam ingestion glue) has no CEP surface;
this is north-rule scope (``BASELINE.json: north_star``, "CEP engine").
"""

from __future__ import annotations

import duckdb
import pytest

from dataflow_geobeam_spark.operators.cep import (
    Step,
    match_absence,
    match_contiguous,
    match_funnel,
    match_kleene,
    match_pattern,
    parse_pattern,
)


def test_parse_pattern_grammar():
    assert parse_pattern("view click purchase") == [
        Step("view"),
        Step("click"),
        Step("purchase"),
    ]
    assert parse_pattern("view click+ purchase") == [
        Step("view"),
        Step("click", "+"),
        Step("purchase"),
    ]
    assert parse_pattern("view !purchase") == [
        Step("view"),
        Step("purchase", "1", True),
    ]
    for bad in ["", "view !click+", "a !b{1,2}", "a 2x", "a !", "a (b", "a (b|c)*", "a b{1,0}"]:
        with pytest.raises(ValueError):
            parse_pattern(bad)


def test_match_pattern_dispatch_rejects_unsupported(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="skip"):
        match_pattern(ev, "view click+ purchase", 60, mode="skip")
    with pytest.raises(ValueError, match="negation"):
        match_pattern(ev, "view click !purchase", 60)
    with pytest.raises(ValueError, match="quantifiers"):
        match_pattern(ev, "view+ click purchase", 60)
    with pytest.raises(ValueError, match="quantifiers"):
        match_pattern(ev, "view click{1,2} extra purchase", 60)
    with pytest.raises(ValueError, match="bad bounds"):
        match_pattern(ev, "view click{3,2} purchase", 60)
    with pytest.raises(ValueError, match="bad pattern token"):
        match_pattern(ev, "view (click|) purchase", 60)
    with pytest.raises(ValueError, match="mode"):
        match_pattern(ev, "view click", 60, mode="nope")


def test_match_pattern_compiles_to_handbuilt(spark, sf_dir):
    """Each supported pattern shape must produce the identical row set to
    the hand-built matcher it compiles to (same within_s, same input)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cases = [
        (
            match_pattern(ev, "view click purchase", 7 * 86400),
            match_contiguous(ev, ["view", "click", "purchase"], 7 * 86400),
        ),
        (
            match_pattern(ev, "view click+ purchase", 7 * 86400),
            match_kleene(ev, ("view", "click", "purchase"), 7 * 86400),
        ),
        (
            match_pattern(ev, "view !purchase", 3600),
            match_absence(ev, first="view", absent="purchase", within_s=3600),
        ),
        (
            match_pattern(ev, "signup view purchase", 86400, mode="skip"),
            match_funnel(ev, ["signup", "view", "purchase"], 86400),
        ),
    ]
    for got_df, want_df in cases:
        got = sorted(map(tuple, got_df.collect()))
        want = sorted(map(tuple, want_df.collect()))
        assert got == want and len(got) > 0


def test_match_pattern_defines_vs_duckdb(spark, sf_dir):
    """DEFINE predicates (value >= threshold on the purchase step) change
    the match set; verify the Kleene compilation against an independent
    DuckDB gaps-and-islands-free formulation (correlated scalar subqueries
    over a rownumbered view)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    thr = 30.0
    got_df = match_pattern(
        ev,
        "view click+ big_purchase",
        7 * 86400,
        defines={
            "big_purchase": (F.col("event_type") == "purchase")
            & (F.col("value") >= thr)
        },
    )
    got = sorted(map(tuple, got_df.collect()))

    con = duckdb.connect()
    con.execute(
        f"create view events as select * from "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(
        map(
            tuple,
            con.execute(
                f"""
        WITH r AS (
          SELECT user_id, event_id, ts, event_type, value,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS rn
          FROM events
        )
        SELECT c.user_id, a.event_id AS anchor_id,
               CAST(c.rn - a.rn - 1 AS BIGINT) AS n_b,
               CAST(floor(epoch(a.ts)) AS BIGINT) AS t0_s,
               CAST(floor(epoch(c.ts)) AS BIGINT) AS t_end_s,
               CAST(floor(epoch(c.ts)) AS BIGINT)
                 - CAST(floor(epoch(a.ts)) AS BIGINT) AS span_s
        FROM r c JOIN r a
          ON a.user_id = c.user_id AND a.rn < c.rn - 1
        WHERE c.event_type = 'purchase' AND c.value >= {thr}
          AND a.event_type <> 'click'
          AND NOT EXISTS (SELECT 1 FROM r m
                          WHERE m.user_id = c.user_id
                            AND m.rn > a.rn AND m.rn < c.rn
                            AND m.event_type <> 'click')
          AND a.event_type = 'view'
          AND c.ts <= a.ts + INTERVAL 604800 SECOND
        """
            ).fetchall(),
        )
    )
    assert got == want and len(got) > 0
    # the DEFINE must actually bite: stricter than the plain pattern
    plain = match_pattern(ev, "view click+ purchase", 7 * 86400).count()
    assert 0 < len(got) < plain


def test_defines_null_predicate_is_nonmatch(spark):
    """A DEFINE predicate that evaluates to NULL (value IS NULL) must read
    as 'step does not match' — absence anchors with NULL-valued candidates
    still count as absent=no-match, and contiguous steps reject the row."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: A then B-with-null-value -> B's value>=1 DEFINE is NULL
        (1, t0, "a", 1, 1.0),
        (1, t0 + dt.timedelta(seconds=10), "b", 2, None),
        # user 2: A then B-with-value -> matches
        (2, t0, "a", 3, 1.0),
        (2, t0 + dt.timedelta(seconds=10), "b", 4, 2.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long, value double"
    )
    big_b = (F.col("event_type") == "b") & (F.col("value") >= 1.0)
    got = match_pattern(df, "a big_b", 60, defines={"big_b": big_b}).collect()
    assert [r.user_id for r in got] == [2]
    # absence: user 1's b must NOT count as present (NULL pred -> absent)
    got_abs = match_pattern(df, "a !big_b", 60, defines={"big_b": big_b}).collect()
    assert sorted(r.user_id for r in got_abs) == [1]


def test_parse_pattern_alternation_and_bounds():
    assert parse_pattern("view (click|cart){1,2} purchase") == [
        Step("view"),
        Step("click|cart", "{1,2}"),
        Step("purchase"),
    ]
    assert parse_pattern("view click? purchase") == [
        Step("view"),
        Step("click", "?"),
        Step("purchase"),
    ]
    assert Step("x", "{2,4}").bounds() == (2, 4)
    assert Step("x", "?").bounds() == (0, 1)
    assert Step("x", "+").bounds() == (1, -1)


def test_match_bounded_greedy_handbuilt(spark):
    """Hand-built sequence: v c c p matches {1,2} greedily as n_b=2 (the
    n_b=1 sub-match at the same anchor is suppressed); v c p matches as
    n_b=1; v p only matches when the bound allows 0."""
    import datetime as dt

    rows = []
    t0 = dt.datetime(2024, 1, 1)
    seqs = {
        1: ["view", "click", "click", "purchase"],
        2: ["view", "click", "purchase"],
        3: ["view", "purchase"],
    }
    eid = 0
    for uid, types in seqs.items():
        for i, ty in enumerate(types):
            rows.append((eid, t0 + dt.timedelta(seconds=10 * i), uid, ty))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got12 = {
        (r["user_id"], r["n_b"])
        for r in match_pattern(ev, "view click{1,2} purchase", 3600).collect()
    }
    assert got12 == {(1, 2), (2, 1)}
    got02 = {
        (r["user_id"], r["n_b"])
        for r in match_pattern(ev, "view click{0,2} purchase", 3600).collect()
    }
    assert got02 == {(1, 2), (2, 1), (3, 0)}
    gotq = {
        (r["user_id"], r["n_b"])
        for r in match_pattern(ev, "view click? purchase", 3600).collect()
    }
    assert gotq == {(2, 1), (3, 0)}  # u1's c c run is neither 0 nor 1 long


def test_alternation_equals_union_of_plain_patterns(spark, sf_dir):
    """(click|error) in a plain 3-step contiguous pattern = the union of
    the two single-type patterns (disjoint types, so no double count)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    alt = match_pattern(ev, "view (click|error) purchase", 7 * 86400)
    a = match_contiguous(ev, ["view", "click", "purchase"], 7 * 86400)
    b = match_contiguous(ev, ["view", "error", "purchase"], 7 * 86400)
    got = sorted(map(tuple, alt.collect()))
    want = sorted(map(tuple, a.unionAll(b).collect()))
    assert got == want and len(got) > 0


def test_match_bounded_single_pass_plan(spark, sf_dir):
    """The bounded quantifier compiles to ONE exchange + ONE Window node
    in the executed plan — the quantifier width adds lead columns, never
    extra shuffles, window passes, joins, or unions."""
    from dataflow_geobeam_spark.operators.cep import match_bounded

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = match_bounded(ev, ("view", "click|error", "purchase"), (1, 2), 7 * 86400)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both versions
    assert final.count("Exchange hashpartitioning") == 1
    assert final.count("Window [") == 1
    assert "Join" not in final and "Union" not in final
