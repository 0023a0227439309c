"""Unit tests: codec encode/decode roundtrips, SNR invariant, failure modes.

Upgrades the reference's unasserted pipeline-as-test scripts
(``/root/reference/test/rasterblocksource_test.py``) to asserted units per
SURVEY.md §5.
"""

import numpy as np
import pytest

from dataflow_geobeam_spark import codecs
from dataflow_geobeam_spark.audio_synth import pcm_metrics, snr_db, synth_pcm


@pytest.mark.parametrize("codec", codecs.KNOWN_CODECS)
@pytest.mark.parametrize("sr_hz", [8000, 44100])
def test_roundtrip_snr(codec, sr_hz):
    pcm = synth_pcm(11, sr_hz, 400)
    buf = codecs.encode(pcm, sr_hz, codec)
    dec, sr = codecs.decode(buf, codec)
    assert sr == sr_hz
    assert dec.shape == pcm.shape
    assert dec.dtype == np.float32
    # per-row invariant from BASELINE.json input_hint: SNR >= 30 dB
    assert snr_db(pcm, dec) >= 30.0


def test_wav_lossless_roundtrip_is_quantization_only():
    pcm = synth_pcm(3, 16000, 300)
    dec, _ = codecs.decode(codecs.encode(pcm, 16000, "wav"), "wav")
    # wav is PCM16: error bounded by one quantization step
    assert np.max(np.abs(dec - pcm)) <= 1.0 / 32767 + 1e-7


def test_decode_rejects_unknown_codec():
    buf = codecs.encode(synth_pcm(1, 8000, 250), 8000, "wav")
    with pytest.raises(ValueError):
        codecs.decode(buf, "unknown")


def test_decode_rejects_truncated_wav():
    buf = codecs.encode(synth_pcm(2, 8000, 250), 8000, "wav")
    with pytest.raises(ValueError):
        codecs.decode(buf[: len(buf) // 3], "wav")


def test_decode_rejects_none_and_garbage():
    with pytest.raises(ValueError):
        codecs.decode(None, "wav")
    with pytest.raises(ValueError):
        codecs.decode(b"\x00" * 100, "flac")


@pytest.mark.parametrize("codec", codecs.KNOWN_CODECS)
def test_every_malformed_payload_raises_value_error(codec):
    """ValueError is the one decode error type (clip_map catches nothing
    else), for the labelled and the sniffed path alike."""
    buf = codecs.encode(synth_pcm(4, 8000, 250), 8000, codec)
    for bad in (buf[: len(buf) // 3], buf[:-7], b"", None):
        with pytest.raises(ValueError):
            codecs.decode(bad, codec)
        with pytest.raises(ValueError):
            codecs.decode_sniffed(bad)


@pytest.mark.parametrize("codec", codecs.KNOWN_CODECS)
def test_zero_header_rate_is_rejected(codec):
    buf = codecs.encode(synth_pcm(5, 8000, 250), 8000, codec)
    at = 24 if codec == "wav" else 8  # fmt-chunk rate / after the stand-in magic
    bad = buf[:at] + bytes(4) + buf[at + 4 :]
    with pytest.raises(ValueError, match="zero sample rate"):
        codecs.decode(bad, codec)
    with pytest.raises(ValueError, match="zero sample rate"):
        codecs.decode_sniffed(bad)


def test_lossy_codecs_are_actually_lossy_but_bounded():
    pcm = synth_pcm(9, 22050, 500)
    wav_dec, _ = codecs.decode(codecs.encode(pcm, 22050, "wav"), "wav")
    mp3_dec, _ = codecs.decode(codecs.encode(pcm, 22050, "mp3"), "mp3")
    assert snr_db(pcm, mp3_dec) < snr_db(pcm, wav_dec)  # lossy < lossless
    assert 30.0 <= snr_db(pcm, mp3_dec) <= 80.0


def test_pcm_metrics_deterministic():
    pcm = synth_pcm(7, 16000, 1000)
    n, rms, peak = pcm_metrics(pcm)
    assert n == 16000
    assert 0.0 < rms < peak <= 0.8 + 1e-6
    assert pcm_metrics(synth_pcm(7, 16000, 1000)) == (n, rms, peak)


# ---------------------------------------------------------------------------
# Real-codec path (libsndfile): these run the day soundfile appears in the
# environment — the gate in codecs.encode/decode is otherwise untested
# (round-2 VERDICT "Next round" #6).
# ---------------------------------------------------------------------------

try:
    import soundfile
except Exception:
    soundfile = None


@pytest.mark.skipif(soundfile is None, reason="libsndfile not in this sandbox")
@pytest.mark.parametrize("codec", ["flac", "ogg"])
def test_real_codec_roundtrip_snr(codec):
    """encode() must emit a REAL container (not the stand-in) and decode()
    must recover PCM at SNR >= 30 dB vs the source (BASELINE.json
    input_hint per-row invariant) when libsndfile is present."""
    pcm = synth_pcm(17, 16000, 440)
    buf = codecs.encode(pcm, 16000, codec)
    assert not buf.startswith(codecs._FAKE_MAGIC[codec])  # real container
    dec, sr = codecs.decode(buf, codec)
    assert sr == 16000
    assert snr_db(pcm[: dec.shape[0]], dec[: pcm.shape[0]]) >= 30.0


@pytest.mark.skipif(soundfile is None, reason="libsndfile not in this sandbox")
def test_real_decoder_accepts_standin_fallback():
    """Stand-in containers remain decodable even when soundfile is present
    (magic sniff routes them to the stand-in decoder) — old fixture data
    stays readable after the library appears."""
    pcm = synth_pcm(18, 8000, 320)
    fake = codecs._encode_fake(pcm, 8000, "flac")
    dec, sr = codecs.decode(fake, "flac")
    assert sr == 8000
    assert snr_db(pcm, dec) >= 30.0


def test_wav_decode_matches_stdlib_wave():
    """Independent oracle for the REAL codec: Python's stdlib ``wave``
    module decodes our RIFF bytes to the same int16 samples — the wav path
    is not self-referential even without libsndfile."""
    import io
    import wave as stdwave

    pcm = synth_pcm(19, 22050, 500)
    buf = codecs.encode(pcm, 22050, "wav")
    with stdwave.open(io.BytesIO(buf)) as w:
        assert w.getframerate() == 22050
        assert w.getnchannels() == 1
        assert w.getsampwidth() == 2
        raw = w.readframes(w.getnframes())
    theirs = np.frombuffer(raw, dtype="<i2")
    ours, sr = codecs.decode(buf, "wav")
    assert sr == 22050
    np.testing.assert_array_equal(codecs._pcm_to_int16(ours), theirs)
