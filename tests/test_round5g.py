"""Round-5g: from-spec baseline JPEG codec (the crash-safe fixture-write
test moved to tests/test_fixtures.py).

JPEG closes the last code-closable still-image gap (round-4 VERDICT
"What's missing" #3; PPM/BMP landed round 4, PNG earlier in round 5).
The engine decoder (functions/imaging.decode_jpeg, batched int64-einsum
IDCT) and the independent mirror (fixtures/independent.decode_jpeg_image,
per-pixel triple loops) share one documented INTEGER contract, so their
outputs must be bit-identical on every payload — the same md5-golden
scheme the audio kernels use.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataflow_geobeam_spark.fixtures import independent as ind
from dataflow_geobeam_spark.functions import imaging as eng


def _test_image(h: int, w: int, seed: int, gray: bool = False) -> np.ndarray:
    """Gradient + bounded noise: enough structure for JPEG to keep, enough
    noise to exercise every AC run/size path."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [(yy * 3 + xx * 2) % 256, (xx * 5) % 256, (yy * 4 + 30) % 256], axis=2
    ).astype(np.int16)
    img = np.clip(img + rng.integers(-10, 11, img.shape), 0, 255).astype(np.uint8)
    if gray:
        img = np.repeat(img[:, :, :1], 3, axis=2)
    return img


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"quality": 90},
        {"quality": 30},
        {"subsampling": "420"},
        {"gray": True},
        {"restart_interval": 2},
        {"subsampling": "420", "restart_interval": 3, "quality": 40},
    ],
    ids=["q75_444", "q90", "q30", "420", "gray", "rst2", "420_rst3_q40"],
)
def test_jpeg_engine_and_independent_decoders_bit_identical(kw):
    for h, w, seed in [(1, 1, 3), (8, 8, 4), (37, 51, 5), (16, 12, 6)]:
        img = _test_image(h, w, seed, gray=kw.get("gray", False))
        buf = ind.jpeg_bytes(img, **kw)
        d_eng = eng.decode_jpeg(buf)
        d_ind = ind.decode_jpeg_image(buf)
        assert d_eng.shape == img.shape
        assert np.array_equal(d_eng, d_ind), (h, w, kw)
        # dispatchers route by the ffd8ff magic on both sides
        assert np.array_equal(eng.decode_image(buf), d_eng)
        assert np.array_equal(ind.decode_any_image(buf), d_eng)


def test_jpeg_lossy_but_close():
    """Decode must track the source within normal baseline-JPEG loss —
    a wrong zigzag/dequant/IDCT pairing passes bit-exactness (both sides
    would share it via the bytes) but craters PSNR, so pin it."""
    img = _test_image(48, 64, 11)
    for q, floor_db in [(90, 30.0), (75, 28.0), (30, 20.0)]:
        buf = ind.jpeg_bytes(img, quality=q)
        dec = eng.decode_jpeg(buf)
        mse = np.mean((dec.astype(np.float64) - img.astype(np.float64)) ** 2)
        psnr = 10.0 * np.log10(255.0**2 / mse)
        assert psnr > floor_db, (q, psnr)


def test_jpeg_rejects_truncated_and_malformed():
    img = _test_image(24, 30, 7)
    buf = ind.jpeg_bytes(img)
    # truncation anywhere in the entropy segment surfaces as a decode error
    for frac in (0.3, 0.6, 0.9):
        cut = buf[: max(4, int(len(buf) * frac))]
        with pytest.raises(eng.ImageDecodeError):
            eng.decode_jpeg(cut)
        with pytest.raises(ValueError):
            ind.decode_jpeg_image(cut)
    with pytest.raises(eng.ImageDecodeError):
        eng.decode_jpeg(b"\xff\xd8\xff" + bytes(range(40)))
    # progressive (SOF2) is rejected explicitly, not mis-decoded
    sof0_at = buf.index(b"\xff\xc0")
    prog = buf[:sof0_at] + b"\xff\xc2" + buf[sof0_at + 2 :]
    with pytest.raises(eng.ImageDecodeError, match="baseline"):
        eng.decode_jpeg(prog)


def test_jpeg_huffman_tables_are_valid_and_complete():
    """The embedded Annex K tables must be VALID prefix codes (the Annex C
    builder raises on code-space overflow) and cover every symbol the
    encoder can emit: DC sizes 0-11, AC (run,size) for run 0-15 x size
    1-10, plus EOB and ZRL."""
    for bits, vals in (ind._JPEG_HUFF_DC_LUMA, ind._JPEG_HUFF_DC_CHROMA):
        codes = ind._jpeg_codes(bits, vals)
        assert set(codes) == set(range(12))
    ac_expected = {0x00, 0xF0} | {
        (r << 4) | s for r in range(16) for s in range(1, 11)
    }
    for bits, vals in (ind._JPEG_HUFF_AC_LUMA, ind._JPEG_HUFF_AC_CHROMA):
        codes = ind._jpeg_codes(bits, vals)
        assert set(codes) == ac_expected
        assert sum(bits) == len(vals) == 162


def test_jpeg_zigzag_derivation_matches_engine_table():
    """generate-time diagonal-walk derivation vs the engine's hardcoded
    T.81 Figure 5 table — two routes to one constant."""
    assert list(eng.JPEG_ZIGZAG) == ind._JPEG_ZZ
    # a permutation of 0..63 (each coefficient placed exactly once)
    assert sorted(ind._JPEG_ZZ) == list(range(64))


def test_jpeg_rows_flow_through_thumbnail_pipeline(spark, sf_dir):
    """fixture jpeg rows produce REAL (non-fake) thumbnails: decode the
    engine's P6 output and check it against the independent decode+resize
    of the same payload, and fake-path output (width*height bytes, no P6
    header) is absent for jpegs."""
    from dataflow_geobeam_spark.fixtures.generate import THUMB_H, THUMB_W, ensure_images
    from dataflow_geobeam_spark.functions import multimodal as mm

    imgs = spark.read.parquet(ensure_images(sf_dir))
    out = (
        mm.with_thumbnails(imgs, width=THUMB_W, height=THUMB_H)
        .where(mm.sniff_container("bytes") == "jpeg")
        .select("img_id", "bytes", "thumbnail")
        .collect()
    )
    assert out, "fixture set contains no jpeg rows"
    n_valid = 0
    for row in out:
        if row.thumbnail is None:  # truncated fixture payload
            continue
        n_valid += 1
        assert bytes(row.thumbnail[:3]) == b"P6\n"
        expect = ind.nn_resize(ind.decode_jpeg_image(bytes(row.bytes)), THUMB_W, THUMB_H)
        got = eng.decode_ppm(bytes(row.thumbnail))
        assert np.array_equal(got, expect)
    assert n_valid >= 3


def test_gif_roundtrip_engine_vs_independent():
    """GIF is lossless indexed color: both decoders must return the exact
    source pixels across sizes, interlace on/off, and the 4096-entry LZW
    dictionary-reset path."""
    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    for h, w in [(1, 1), (12, 16), (37, 51), (9, 300)]:
        img = pal[rng.integers(0, 64, (h, w))]
        for interlace in (False, True):
            buf = ind.gif_bytes(img, interlace=interlace)
            assert np.array_equal(eng.decode_gif(buf), img), (h, w, interlace)
            assert np.array_equal(ind.decode_gif_image(buf), img), (h, w, interlace)
            assert np.array_equal(eng.decode_image(buf), img)
            assert np.array_equal(ind.decode_any_image(buf), img)
    # force LZW dictionary growth past 4096 (encoder emits CLEAR + reset)
    pal256 = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    big = pal256[rng.integers(0, 256, (200, 200))]
    buf = ind.gif_bytes(big)
    assert np.array_equal(eng.decode_gif(buf), big)
    assert np.array_equal(ind.decode_gif_image(buf), big)


def test_gif_rejects_truncation_everywhere_and_guards_palette():
    rng = np.random.default_rng(6)
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    buf = ind.gif_bytes(pal[rng.integers(0, 64, (30, 40))], interlace=True)
    for cut in range(8, len(buf) - 1, 13):
        with pytest.raises(eng.ImageDecodeError):
            eng.decode_gif(buf[:cut])
        with pytest.raises(ValueError):
            ind.decode_gif_image(buf[:cut])
    # encoder refuses images its single color table cannot represent
    with pytest.raises(ValueError, match="256"):
        ind.gif_bytes(rng.integers(0, 256, (40, 40, 3), dtype=np.uint8))


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker;
    both decoders must skip them (our encoder never emits them, so inject
    fill before SOF0 and before SOS and require identical output)."""
    img = _test_image(20, 28, 9)
    buf = ind.jpeg_bytes(img)
    base = eng.decode_jpeg(buf)
    for marker in (b"\xff\xc0", b"\xff\xda"):
        at = buf.index(marker)
        filled = buf[:at] + b"\xff\xff\xff" + buf[at:]
        assert np.array_equal(eng.decode_jpeg(filled), base)
        assert np.array_equal(ind.decode_jpeg_image(filled), base)


def test_jpeg_gif_mutation_fuzz_never_escapes_imagedecodeerror():
    """Crawl-scale contract: ANY malformed payload must either decode or
    raise ImageDecodeError — a stray IndexError/KeyError/struct.error
    would crash the whole mapInArrow task instead of producing the F1
    NULL row. Deterministic byte-mutation fuzz over both containers."""
    rng = np.random.default_rng(1234)
    pal = rng.integers(0, 256, (64, 3), dtype=np.uint8)
    payloads = {
        "jpeg": ind.jpeg_bytes(_test_image(20, 28, 10)),
        "gif": ind.gif_bytes(pal[rng.integers(0, 64, (20, 28))]),
    }
    decoders = {"jpeg": eng.decode_jpeg, "gif": eng.decode_gif}
    for fmt, buf in payloads.items():
        arr = bytearray(buf)
        for trial in range(300):
            mutated = bytearray(arr)
            for _ in range(int(rng.integers(1, 4))):
                mutated[int(rng.integers(0, len(arr)))] = int(rng.integers(0, 256))
            for cut in (len(arr), int(rng.integers(4, len(arr)))):
                try:
                    out = decoders[fmt](bytes(mutated[:cut]))
                    assert out.dtype == np.uint8 and out.ndim == 3
                except eng.ImageDecodeError:
                    pass  # the only permitted failure mode


def test_tiff_roundtrip_engine_vs_independent_all_variants():
    """TIFF 6.0 baseline (the reference's own raster container, parsed
    from spec here instead of via rasterio): lossless across gray/RGB,
    PackBits on/off, both byte orders, and strip layouts from one-row
    strips to a single strip."""
    rng = np.random.default_rng(8)
    for h, w in [(1, 1), (12, 16), (37, 51)]:
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        gimg = np.repeat(img[:, :, :1], 3, axis=2)
        for gray in (False, True):
            src = gimg if gray else img
            for pb in (False, True):
                for be in (False, True):
                    for rps in (None, 1, 1000):
                        buf = ind.tiff_bytes(
                            src, gray=gray, packbits=pb, big_endian=be, rows_per_strip=rps
                        )
                        assert np.array_equal(eng.decode_tiff(buf), src)
                        assert np.array_equal(ind.decode_tiff_image(buf), src)
                        assert np.array_equal(eng.decode_image(buf), src)
                        assert np.array_equal(ind.decode_any_image(buf), src)


def test_tiff_rejects_malformed_and_fuzz_clean():
    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, (20, 30, 3), dtype=np.uint8)
    buf = ind.tiff_bytes(img, packbits=True)
    for cut in range(4, len(buf) - 1, 17):
        with pytest.raises(eng.ImageDecodeError):
            eng.decode_tiff(buf[:cut])
        with pytest.raises(ValueError):
            ind.decode_tiff_image(buf[:cut])
    arr = bytearray(buf)
    for t in range(400):  # mutation fuzz: only ImageDecodeError may escape
        m = bytearray(arr)
        for _ in range(int(rng.integers(1, 4))):
            m[int(rng.integers(0, len(arr)))] = int(rng.integers(0, 256))
        try:
            out = eng.decode_tiff(bytes(m))
            assert out.dtype == np.uint8 and out.ndim == 3
        except eng.ImageDecodeError:
            pass


def test_every_image_container_contributes_caught_near_dup_pairs(tmp_path):
    """At the sf0.1 fixture size (640 images) the plant schedule must put
    surviving (non-truncated) near-dup pairs into EVERY container — the
    per-format decode paths are only really proven by the dedup pipeline
    if each format's pairs exist to catch. (At sf0.01's 64 images a few
    formats' single plant collides with the truncation rule; this pins
    coverage at the size the bench runs.)"""
    import pyarrow.parquet as pq

    from dataflow_geobeam_spark.fixtures.generate import (
        _IMG_FMTS,
        ensure_golden_image_near_dups,
        ensure_images,
    )

    root = str(tmp_path)
    imgs = pq.read_table(ensure_images("/root/testdata/sf0.1", root=root))
    gold = pq.read_table(ensure_golden_image_near_dups("/root/testdata/sf0.1", root=root))
    fmt_by_id = dict(
        zip(imgs.column("img_id").to_pylist(), imgs.column("fmt").to_pylist())
    )
    by_fmt = {f: 0 for f in _IMG_FMTS}
    for a in gold.column("id_a").to_pylist():
        by_fmt[fmt_by_id[a]] += 1
    assert all(n >= 1 for n in by_fmt.values()), by_fmt
    assert gold.num_rows >= 7 * len(_IMG_FMTS)
