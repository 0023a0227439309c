"""Cross-checks of fixtures.independent (oracle kernels) vs the engine.

The point of the round-3 split: the fixture generator no longer imports any
engine compute module, so the oracle and the engine are two implementations
of the same container/normalization spec. These tests are the ONLY place
the two meet — a divergence in either now fails here instead of silently
passing both sides of the correctness gate.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.audio_synth import pcm_metrics, synth_pcm
from dataflow_geobeam_spark.fixtures import independent as ind

CASES = [(i, sr) for i in (0, 1, 5, 7, 13, 101, 222) for sr in (8000, 16000, 22050, 44100)]


def test_generator_imports_no_engine_compute_module():
    """The round-2 VERDICT done-criterion, pinned: fixtures/generate.py must
    not import codecs / functions.* / operators.* (audio_synth is the
    waveform DEFINITION, engine-independent since round 3)."""
    import ast

    src = open("dataflow_geobeam_spark/fixtures/generate.py").read()
    banned = (
        "dataflow_geobeam_spark.codecs",
        "dataflow_geobeam_spark.functions",
        "dataflow_geobeam_spark.operators",
        "dataflow_geobeam_spark.streaming",
        "dataflow_geobeam_spark.plans",
    )
    def imports_of(source: str) -> list[str]:
        out = []
        for node in ast.walk(ast.parse(source)):
            if isinstance(node, ast.Import):
                out += [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                out.append(node.module)
        return out

    for m in imports_of(src):
        assert not any(m.startswith(b) for b in banned), f"engine import: {m}"
    # and the engine no longer imports the generator-side audio_synth
    for engine_file in (
        "dataflow_geobeam_spark/functions/decode.py",
        "dataflow_geobeam_spark/functions/audio.py",
        "dataflow_geobeam_spark/codecs.py",
    ):
        for m in imports_of(open(engine_file).read()):
            assert "audio_synth" not in m, f"{engine_file} imports {m}"


@pytest.mark.parametrize("codec", ["wav", "flac", "ogg", "mp3"])
def test_encoders_byte_identical(codec):
    for i, sr in CASES[:8]:
        pcm = synth_pcm(i, sr, 600)
        assert ind.encode(pcm, sr, codec) == codecs.encode(pcm, sr, codec)


@pytest.mark.parametrize("codec", ["wav", "flac", "ogg", "mp3"])
def test_decoders_bit_identical_and_same_failure_modes(codec):
    for i, sr in CASES[:8]:
        pcm = synth_pcm(i, sr, 600)
        buf = codecs.encode(pcm, sr, codec)
        d1, s1 = codecs.decode(buf, codec)
        d2, s2 = ind.decode(buf, codec)
        assert s1 == s2
        assert np.array_equal(d1, d2)
        assert d2.dtype == np.float32
        # truncation fails in both with ValueError for every codec (the one
        # error type clip_map and the golden builder turn into a dropped row)
        trunc = buf[: max(4, len(buf) // 3)]
        with pytest.raises(ValueError):
            codecs.decode(trunc, codec)
        with pytest.raises(ValueError):
            ind.decode(trunc, codec)
    with pytest.raises(ValueError):
        ind.decode(b"whatever", "unknown")
    with pytest.raises(ValueError):
        ind.decode(None, codec)


def test_metrics_match_reference_formula():
    for i, sr in CASES[:6]:
        pcm = synth_pcm(i, sr, 400)
        assert ind.metrics(pcm) == pcm_metrics(pcm)
    assert ind.metrics(np.array([], dtype=np.float32)) == (0, 0.0, 0.0)


def test_spectral_kernels_bit_identical():
    from dataflow_geobeam_spark.functions.audio import spectral_features_np

    for i in (0, 3, 9, 17):
        pcm = synth_pcm(i, 16000, 500)
        assert ind.spectral_features(pcm, 16000) == spectral_features_np(pcm, 16000)
    assert ind.spectral_features([], 8000) == (0.0, 0.0, 0.0)
    assert ind.spectral_features([0.0] * 64, 8000) == (0.0, 0.0, 0.0)


def test_lsh_planes_and_ivf_centroids_match_seed_spec():
    from dataflow_geobeam_spark.operators.similarity import _all_planes, _centroids

    assert np.array_equal(ind.all_planes(64, 6, 24, 42), _all_planes(64, 6, 24, 42))
    assert np.array_equal(ind.all_planes(256, 4, 8, 7), _all_planes(256, 4, 8, 7))
    assert np.array_equal(ind.ivf_centroids(64, 64, 42), _centroids(64, 64, 42))


def test_minus_32768_clamp_contract():
    """The asymmetric int16 minimum decodes to exactly -1.0 on both sides
    (the hypothesis-found edge case pinned at the spec level)."""
    raw = np.array([-32768, -32767, 0, 32767], dtype=np.int16)
    wav_engine = codecs.encode_wav(np.array([0.0], dtype=np.float32), 8000)
    # splice raw samples into a minimal wav via the independent encoder path
    import io
    import wave

    bio = io.BytesIO()
    with wave.open(bio, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(raw.tobytes())
    buf = bio.getvalue()
    d1, _ = codecs.decode(buf, "wav")
    d2, _ = ind.decode(buf, "wav")
    assert np.array_equal(d1, d2)
    assert d2[0] == np.float32(-1.0) and d2[1] == np.float32(-1.0)
    assert d2[3] == np.float32(1.0)
    assert wav_engine  # silence the unused warning
