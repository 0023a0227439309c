"""SparkSession construction with engine-tuned defaults.

The reference configures its runner per-pipeline via ``PipelineOptions``
(``geobeam/examples/shapefile_nfhl.py:32-34``); here the engine owns one
session factory with scale-aware defaults:

* AQE on (runtime re-plan, skew-join splitting) — the Spark answer to Beam's
  dynamic work rebalancing (``geobeam/io.py:466-469``).
* Arrow batches are BYTE-bounded (round 6, guide §4.2): Spark 4's
  ``arrow.maxBytesPerBatch`` caps a batch at ~32 MB, so ~100 KB binary
  audio payloads still arrive ~330 rows at a time (same worker-heap
  profile as the old fixed 256-row cap), while narrow rows (sketch keys,
  candidate id pairs, embeddings) batch up to 10,000 — measured 40x fewer
  Python round-trips on pair-screening mapInArrow stages. Both knobs stay
  env-tunable for other hardware.
* ``-XX:UseAVX=2`` on an x86 driver JVM: round-5's driver bench died with a
  SIGSEGV in ``StubRoutines::jlong_disjoint_arraycopy_avx3`` (round-5
  VERDICT #2) — masking the AVX-512 stub family costs nothing measurable
  here and removes the crash mode. Other JVMs (aarch64) abort on the flag,
  so they get none. Env-tunable.
* UTC session timezone so event-time windows hash identically across engines.
* Shuffle partitions sized for the local harness; on a real cluster AQE
  coalesces, so a higher static number is safe.
"""

from __future__ import annotations

import os
import platform

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
ARROW_MAX_RECORDS_PER_BATCH = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "10000"))
ARROW_MAX_BYTES_PER_BATCH = int(
    os.environ.get("SPARK_GRAFT_ARROW_BATCH_BYTES", str(32 * 1024 * 1024))
)


def _default_driver_java_options() -> str:
    return "-XX:UseAVX=2" if platform.machine() in ("x86_64", "AMD64") else ""


DRIVER_JAVA_OPTIONS = os.environ.get(
    "SPARK_GRAFT_DRIVER_JAVA_OPTS", _default_driver_java_options()
)


def get_spark(
    app_name: str = "dataflow-geobeam-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``);
    on a real cluster pass ``None`` with spark-submit supplying the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS_PER_BATCH))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES_PER_BATCH))
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        # InferFiltersFromGenerate copies an explode's CHILD EXPRESSION into
        # an inferred `size(e) > 0` filter, which predicate pushdown then
        # sinks through projections and exchanges into the scan stage. For
        # this engine's interpreted array expressions (shingles, tokens)
        # that re-evaluates the most expensive row-local expression in the
        # scan stage — serialized on one task for single-split inputs
        # (measured 3.2 s -> 0.6 s on the minhash shingle explode at
        # sf0.1). The inferred filter is semantically redundant — Generate
        # with outer=false already emits nothing for empty/null arrays —
        # so excluding the rule never changes results, only plans.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "true")
        .config("spark.ui.enabled", "false")
        # preload pandas/pyarrow/numpy in the worker daemon: forks inherit
        # the imports, killing the 20-60s import storm that otherwise hits
        # every fresh query's first tasks (measured 14x streaming speedup);
        # it also stops every task re-reading pyspark.zip's directory
        # (tests/test_session.py pins that this conf is set)
        .config("spark.python.daemon.module", "dataflow_geobeam_spark.daemon_preload")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
