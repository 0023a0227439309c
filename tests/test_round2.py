"""Round-2 regression tests: VERDICT/ADVICE fixes + new round-2 surface.

Covers: LSH-bucketed embedding near-dups (plan + correctness),
TakeOrderedAndProject top-k, null-safe exact-dedup keys, simhash long
assembly, stateful-join in-window buffering, Hadoop-FS sink IO (file://
scheme), sink time travel/compaction/schema evolution, multimodal thumbnail
plumbing, text metrics (stopword/BPE-ish/rolling hash), explode_frames hop
guard. The sketch, LSH and IVF tests live in test_similarity.py.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from dataflow_geobeam_spark.operators import dedup, similarity


# ---------------------------------------------------------------------------
# embedding near-dups: LSH-bucketed, never all-pairs
# ---------------------------------------------------------------------------


def test_embedding_near_dups_matches_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_near_dups(emb, threshold=0.45, dim=64).collect()
    }
    # exact baseline via brute force (test scale only)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("v_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("v_b"))
    exact = {
        (r.id_a, r.id_b, r.cosine)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(similarity.cosine_expr(F.col("v_a"), F.col("v_b")), 6))
        .where(F.col("cosine") >= 0.45)
        .select("id_a", "id_b", "cosine")
        .collect()
    }
    assert got == exact  # recall 1.0 at 4 planes x 32 tables AND exact precision


def test_embedding_near_dups_plan_has_no_cartesian(spark, sf_dir):
    """No quadratic pairwise join anywhere. The round-4 auto cap attaches
    a ONE-ROW broadcast corpus count (Catalyst folds the constant equi-key
    and plans it as a 1-row-build BroadcastNestedLoopJoin with the cap
    predicate as condition — O(N) stream-side work, the standard scalar-
    broadcast plan); any OTHER nested-loop join is a defect."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = dedup.embedding_near_dups(emb, dim=64)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    bnlj = [ln for ln in plan.splitlines() if "BroadcastNestedLoopJoin" in ln]
    assert all("_corpus_n" in ln for ln in bnlj), bnlj


# ---------------------------------------------------------------------------
# top-k plan shape
# ---------------------------------------------------------------------------


def test_top_customers_uses_take_ordered(spark, sf_dir):
    from dataflow_geobeam_spark.plans.relational import top_customers_by_revenue

    df = top_customers_by_revenue(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = df.collect()
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)


# ---------------------------------------------------------------------------
# null-safe exact dedup keys
# ---------------------------------------------------------------------------


def test_exact_duplicates_null_vs_shifted_columns(spark):
    df = spark.createDataFrame(
        [
            ("r1", "a", None, "b"),
            ("r2", "a", "b", None),   # same concat_ws rendering as r1 — must NOT group
            ("r3", "a", None, "b"),   # true duplicate of r1
            ("r4", "a", "", "b"),     # empty string != NULL
        ],
        "id string, c1 string, c2 string, c3 string",
    )
    groups = dedup.exact_duplicates(df, ["c1", "c2", "c3"], "id").collect()
    assert len(groups) == 1
    assert sorted(groups[0].ids) == ["r1", "r3"]


# ---------------------------------------------------------------------------
# simhash60 long assembly (exported API, ADVICE fix)
# ---------------------------------------------------------------------------


def test_simhash60_high_bits_exact(spark):
    from dataflow_geobeam_spark.functions import text as T

    df = spark.createDataFrame([("the quick brown fox jumps over lazy dogs",)], "text string")
    (sim,) = df.select(T.simhash60("text").alias("s")).collect()[0]
    # independent python recomputation with exact integer arithmetic
    toks = "the quick brown fox jumps over lazy dogs".split()
    h = [r.h for r in spark.createDataFrame([(t,) for t in toks], "t string")
         .select((F.xxhash64("t").bitwiseAND(F.lit((1 << 60) - 1))).alias("h")).collect()]
    want = 0
    for b in range(60):
        vote = sum(1 if (x >> b) & 1 else -1 for x in h)
        if vote > 0:
            want |= 1 << b
    assert sim == want  # double-pow assembly dropped low bits when bit>=53 set


def test_simhash_pairs_portable_matches_default_shape(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    got = dedup.simhash_pairs(docs, max_hamming=0, portable=True).collect()
    assert len(got) == 1 and got[0].hamming == 0


# ---------------------------------------------------------------------------
# stateful join: in-window buffering semantics (ADVICE fix)
# ---------------------------------------------------------------------------


def _write_parquet_file(path: str, rows: list[dict], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(tbl, path)


def test_stateful_join_picks_earliest_in_window(spark, tmp_path):
    """A pre-clip (out-of-window) transcript must not block the match, and
    with 2 in-window transcripts the EARLIEST wins — one row per clip
    (deliberately different from the interval join; pinned here)."""
    import pyarrow as pa
    from datetime import datetime

    from dataflow_geobeam_spark.streaming import join as sjoin

    T0 = datetime(2026, 1, 1, 12, 0, 0)

    c_schema = pa.schema(
        [("clip_id", pa.string()), ("ts", pa.timestamp("us")), ("transcript", pa.string())]
    )
    t_schema = pa.schema(
        [("t_clip_id", pa.string()), ("t_ts", pa.timestamp("us")), ("t_transcript", pa.string())]
    )
    from datetime import timedelta

    cdir, tdir = str(tmp_path / "c"), str(tmp_path / "t")
    os.makedirs(cdir), os.makedirs(tdir)
    _write_parquet_file(
        os.path.join(tdir, "t1.parquet"),
        [
            {"t_clip_id": "c1", "t_ts": T0 - timedelta(seconds=10), "t_transcript": "early-oow"},
            {"t_clip_id": "c1", "t_ts": T0 + timedelta(seconds=60), "t_transcript": "later-in-window"},
            {"t_clip_id": "c1", "t_ts": T0 + timedelta(seconds=30), "t_transcript": "earliest-in-window"},
        ],
        t_schema,
    )
    _write_parquet_file(
        os.path.join(cdir, "c1.parquet"),
        [{"clip_id": "c1", "ts": T0, "transcript": "clip text"}],
        c_schema,
    )
    cs = (
        spark.readStream.schema("clip_id string, ts timestamp, transcript string")
        .option("maxFilesPerTrigger", "1")
        .parquet(cdir)
    )
    ts = (
        spark.readStream.schema("t_clip_id string, t_ts timestamp, t_transcript string")
        .option("maxFilesPerTrigger", "1")
        .parquet(tdir)
    )
    out = sjoin.stateful_join_apply(cs, ts.selectExpr("t_clip_id", "t_ts", "t_transcript"))
    name = f"sj_{int(time.time() * 1000)}"
    q = (
        out.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.matched and r.clip_id == "c1"
    assert r.t_transcript == "earliest-in-window"


# ---------------------------------------------------------------------------
# sink: Hadoop FileSystem IO via file:// scheme
# ---------------------------------------------------------------------------


def test_sink_hadoop_io_roundtrip(spark, tmp_path):
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink, _HadoopManifestIO

    table_dir = f"file://{tmp_path}/hsink"
    sink = ExactlyOnceParquetSink(table_dir, spark)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    sink.write_batch(df, 0)
    assert isinstance(sink._ensure_io(), _HadoopManifestIO)
    assert sink.is_committed(0) and not sink.is_committed(1)
    sink.write_batch(df, 0)  # replay: must be a no-op
    assert len(sink.committed_manifests()) == 1
    got = sink.read(spark)
    assert got.count() == 2
    assert {"_epoch_id", "_source_partition"} <= set(got.columns)


# ---------------------------------------------------------------------------
# explode_frames hop guard
# ---------------------------------------------------------------------------


def test_explode_frames_tiny_sample_rate_no_divide_by_zero(spark):
    from dataflow_geobeam_spark.functions.audio import explode_frames

    df = spark.createDataFrame(
        [("t1", 5, [0.5] * 50)], "clip_id string, sr_hz int, pcm array<float>"
    )
    # sr_hz=5 -> frame = hop = max(1, 0) = 1 sample: 50 frames, no nulls
    rows = explode_frames(df, frame_ms=100, hop_ms=50).collect()
    assert len(rows) == 50
    assert all(abs(r.frame_rms - 0.5) < 1e-6 for r in rows)


# ---------------------------------------------------------------------------
# multimodal: thumbnail plumbing (r2)
# ---------------------------------------------------------------------------


def test_thumbnail_plumbing(spark):
    from dataflow_geobeam_spark.functions import multimodal as mm

    rows = [("a", b"payload-a" * 100), ("b", b"payload-b" * 100), ("c", None)]
    df = spark.createDataFrame(rows, "id string, bytes binary")
    got = {r.id: r.thumbnail for r in mm.with_thumbnails(df, width=4, height=4).collect()}
    assert got["c"] is None                      # null propagates
    assert len(got["a"]) == 16 and len(got["b"]) == 16
    assert got["a"] != got["b"]                  # content-dependent
    # deterministic: same input -> same thumbnail
    again = {r.id: r.thumbnail for r in mm.with_thumbnails(df, width=4, height=4).collect()}
    assert got == again


# ---------------------------------------------------------------------------
# text: stopword ratio, BPE-ish count, rolling fingerprint (r2)
# ---------------------------------------------------------------------------


def test_text_metrics_functions(spark):
    from dataflow_geobeam_spark.functions import text as T

    df = spark.createDataFrame(
        [("the cat and the dog",), ("",), ("hello, world's 42!",)], "text string"
    )
    rows = df.select(
        F.round(T.stopword_ratio("text"), 6).alias("sw"),
        T.bpe_ish_token_count("text").alias("bpe"),
        T.rolling_fingerprint("text").alias("fp"),
    ).collect()
    assert rows[0].sw == 0.6            # the, and, the of 5 tokens
    assert rows[1].sw == 0.0 and rows[1].bpe == 0 and rows[1].fp == 0
    # "hello" "," " world" "'s" " 42" "!" -> 6 subword tokens
    assert rows[2].bpe == 6
    # rolling fp is order-sensitive: reversed tokens hash differently
    a, b = spark.createDataFrame([("alpha beta",), ("beta alpha",)], "text string").select(
        T.rolling_fingerprint("text").alias("fp")
    ).collect()
    assert a.fp != b.fp
    # but fingerprint (content hash of normalized text) also differs; the
    # rolling property: same prefix evolves incrementally
    assert 0 <= a.fp < (1 << 31)


# ---------------------------------------------------------------------------
# sink: time travel + compaction (r2)
# ---------------------------------------------------------------------------


def test_sink_time_travel_and_compaction(spark, tmp_path):
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "tt"))
    for epoch in range(3):
        df = spark.createDataFrame([(epoch, f"v{epoch}_{i}") for i in range(4)], "k int, v string")
        sink.write_batch(df, epoch)

    full = sink.read(spark)
    assert full.count() == 12
    # time travel: state after epoch 1
    asof1 = sink.read(spark, as_of_epoch=1)
    assert asof1.count() == 8
    assert set(r._epoch_id for r in asof1.collect()) == {0, 1}

    # compact epochs <= 1 into one fileset
    m = sink.compact(spark, up_to_epoch=1)
    assert m["covers"] == [0, 1]
    # full read switches to the compacted files + epoch 2, same rows
    after = sink.read(spark)
    assert after.count() == 12
    assert {r.v for r in after.collect()} == {r.v for r in full.collect()}
    # fewer files on the compacted path than raw per-epoch
    assert len(sink.committed_files()) < len(sink.committed_files(use_compacted=False))
    # time travel INSIDE the compacted range still works (per-epoch
    # manifests are preserved)
    assert sink.read(spark, as_of_epoch=0).count() == 4


def test_sink_additive_schema_evolution(spark, tmp_path):
    """A new column appearing in a later epoch reads back cleanly: older
    epochs surface NULL (Iceberg add-column semantics via mergeSchema)."""
    from dataflow_geobeam_spark.streaming.sink import ExactlyOnceParquetSink

    sink = ExactlyOnceParquetSink(str(tmp_path / "evo"))
    sink.write_batch(spark.createDataFrame([(1, "a")], "k int, v string"), 0)
    sink.write_batch(
        spark.createDataFrame([(2, "b", 9.5)], "k int, v string, score double"), 1
    )
    df = sink.read(spark)
    assert "score" in df.columns
    rows = {r.k: r.score for r in df.collect()}
    assert rows[1] is None and rows[2] == 9.5
