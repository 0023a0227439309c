"""Session defaults that depend on the host."""

import platform

from dataflow_geobeam_spark import session


def test_avx_flag_only_on_x86(monkeypatch):
    monkeypatch.setattr(platform, "machine", lambda: "aarch64")
    assert "UseAVX" not in session._default_driver_java_options()
    monkeypatch.setattr(platform, "machine", lambda: "x86_64")
    assert session._default_driver_java_options() == "-XX:UseAVX=2"
