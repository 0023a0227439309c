"""Paginated REST Data Source (S6) + spark-submit job entry."""

from __future__ import annotations

import json


def test_jobs_cli_batch(spark, fixture_dir, tmp_path, capsys):
    from dataflow_geobeam_spark import jobs

    rc = jobs.main(
        [
            "--master",
            "local[4]",
            "batch-window-agg",
            "--fixtures",
            "/root/testdata/sf0.001",
            "--out",
            str(tmp_path / "out"),
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows"] > 0


def test_python_datasource_paginated_rest(spark):
    """PySpark-4 Data Source path: pages fetched lazily in executor tasks,
    partitioned by page range, no driver-side accumulation."""
    from dataflow_geobeam_spark.sources.rest import register_rest_datasource

    assert register_rest_datasource(spark)
    df = (
        spark.read.format("paginated_rest")
        .schema("feature_id long, name string, page long")
        .option("fetcher", "dataflow_geobeam_spark.sources.rest:demo_fetch_page")
        .option("pages_per_partition", "8")
        .option("max_pages", "64")
        .load()
    )
    assert df.rdd.getNumPartitions() == 8  # 64/8 page-range partitions
    assert df.count() == 37 * 25
    got = df.agg({"feature_id": "max", "page": "max"}).collect()[0]
    assert got[0] == 37 * 25 - 1 or got["max(feature_id)"] == 37 * 25 - 1


def test_jobs_query_registry_covers_driver_queries():
    """Every driver-contract query is launchable via the spark-submit CLI."""
    import __spark_entry__ as entrymod
    from dataflow_geobeam_spark.jobs import query_registry

    reg = query_registry()
    short_names = {k.split(".", 1)[1] for k in reg}
    missing = [
        q for q, fn in entrymod.queries().items()
        if fn.__name__ not in short_names
    ]
    assert not missing, missing
