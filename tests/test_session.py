"""Session defaults that depend on the host, and the worker daemon they
install."""

import glob
import os
import platform
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd
import pytest

from dataflow_geobeam_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_ZIPS = sorted(glob.glob(os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib", "*.zip")))


def test_avx_flag_only_on_x86(monkeypatch):
    monkeypatch.setattr(platform, "machine", lambda: "aarch64")
    assert "UseAVX" not in session._default_driver_java_options()
    monkeypatch.setattr(platform, "machine", lambda: "x86_64")
    assert session._default_driver_java_options() == "-XX:UseAVX=2"


def _zip_module(path, name, value):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


@pytest.mark.skipif(not SPARK_ZIPS, reason="no $SPARK_HOME/python/lib/*.zip")
@pytest.mark.skipif(sys.version_info >= (3, 12), reason="zipimport re-reads lazily on 3.12+")
def test_daemon_reads_each_zip_directory_only_when_it_changes(tmp_path):
    """What every worker task pays in ``importlib.invalidate_caches()``:
    no zip directory read while the archives are unchanged, one read of an
    archive rewritten in place, whose new module then imports."""
    script = textwrap.dedent(
        f"""
        import importlib, os, sys, zipfile, zipimport
        import dataflow_geobeam_spark.daemon_preload
        import pyspark.worker

        sys.path.insert(0, {str(tmp_path / "lib.zip")!r})
        import mod_a

        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda archive: reads.append(archive) or real(archive)

        importlib.invalidate_caches()  # the daemon's pre-fork prime
        primed = len(reads)
        del reads[:]
        for _ in range(3):
            importlib.invalidate_caches()
        print("unchanged", len(reads), primed)

        path = {str(tmp_path / "lib.zip")!r}
        mtime_ns = os.stat(path).st_mtime_ns
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("mod_a.py", "VALUE = 1\\n")
            z.writestr("mod_b.py", "VALUE = 2\\n")
        os.utime(path, ns=(mtime_ns + 10**9, mtime_ns + 10**9))
        importlib.invalidate_caches()
        import mod_b
        print("rewritten", reads.count(path), len(reads), mod_b.VALUE)
        """
    )
    _zip_module(tmp_path / "lib.zip", "mod_a", 1)
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([*SPARK_ZIPS, REPO]))
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    unchanged, rewritten = out.stdout.split("\n")[:2]
    # the prime reads each archive at most once, however many importers
    # (pyspark.zip root, its sub-packages, py4j, lib.zip) it has
    primed = int(unchanged.split()[2])
    assert 1 <= primed <= len(SPARK_ZIPS) + 1
    assert unchanged.split()[1] == "0"
    assert rewritten.split()[1:] == ["1", "1", "2"]


def test_session_installs_worker_daemon_and_py_files_still_import(spark, tmp_path):
    """``get_spark`` installs the daemon; its gated zip cache still lets a
    zip shipped with ``addPyFile`` import in a task, twice in a row."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "dataflow_geobeam_spark.daemon_preload"

    def probe(it):
        import importlib
        import zipimport

        for pdf in it:
            mods = [importlib.import_module(m) for m in pdf["module"]]
            yield pd.DataFrame(
                {
                    "value": [sum(m.VALUE for m in mods)],
                    "gate": [zipimport.zipimporter.invalidate_caches.__name__],
                }
            )

    for i, name in enumerate(("daemon_py_file_a", "daemon_py_file_b")):
        path = str(tmp_path / f"{name}.zip")
        _zip_module(path, name, 10 ** i)
        sc.addPyFile(path)
        names = ["daemon_py_file_a", "daemon_py_file_b"][: i + 1]
        got = (
            spark.createDataFrame(pd.DataFrame({"module": names}))
            .coalesce(1)
            .mapInPandas(probe, "value long, gate string")
            .collect()
        )
        want_gate = "invalidate_caches" if sys.version_info >= (3, 12) else "_invalidate_if_changed"
        assert [(r.value, r.gate) for r in got] == [(sum(10 ** j for j in range(i + 1)), want_gate)]
