"""Multimodal binary-column plumbing: typed metadata, sniffing, image and
video kernels.

Treats image/audio/video payloads as opaque ``binary`` columns with typed
metadata — the reference's precedent of carrying the exotic payload in a
standard column type (GeoJSON-in-a-STRING, ``geobeam/fn.py:213-221``;
SURVEY.md §1.2).

* container sniffing from magic bytes (pure Catalyst on the binary prefix)
* EVERY still-image container in the sniffer registry decodes from spec:
  PPM / PGM / 24-bit BMP / 8-bit PNG (zlib inflate + all five scanline
  filters) / baseline JPEG (Huffman scan + batched integer IDCT) / GIF
  (LZW + interlace) / TIFF (IFD walk, strips, PackBits) — pure-Python
  codecs in ``functions/imaging.py``, no imaging library; golden-gated in
  the driver contract
* WebM/EBML container parsing (``functions/ebml.py``): tracks, codec
  ids, per-block timestamps / keyframe flags / sizes — the metadata a
  frame-sampling planner keys on, no pixel decode needed

Every ``with_*`` pass runs through ``functions.decode.clip_map``: the
container parse is its ``decode`` hook, so a payload the parser rejects
(a ``ValueError``) gives the wrapper's null or dropped row, and an error
raised by the kernel after it fails the task.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
)

from dataflow_geobeam_spark.functions.decode import clip_map, payload_bytes

# magic-byte registry: (prefix hex, sniffed type). Pure-Catalyst sniffing —
# the codec whitelist analog of validate_crs (geobeam/io.py:597-638).
MAGIC_PREFIXES: tuple[tuple[str, str], ...] = (
    ("5036", "ppm"),  # "P6" — decoded from spec in functions/imaging.py
    ("5035", "pgm"),  # "P5" — decoded from spec in functions/imaging.py
    ("424d", "bmp"),  # "BM" — decoded from spec in functions/imaging.py
    ("89504e47", "png"),
    ("ffd8ff", "jpeg"),
    ("47494638", "gif"),
    ("49492a00", "tiff"),  # little-endian — the reference's raster container
    ("4d4d002a", "tiff"),  # big-endian

    ("52494646", "riff"),  # wav/avi container
    ("664c6143", "flac"),
    ("4f676753", "ogg"),
    ("494433", "mp3"),
    ("1a45dfa3", "webm"),
)


def sniff_container(bytes_col: Column | str) -> Column:
    """Container type from magic bytes — hex-prefix CASE chain, JVM-side."""
    c = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    head = F.lower(F.hex(F.substring(c, 1, 8)))
    expr = F.lit("unknown")
    for prefix, name in reversed(MAGIC_PREFIXES):
        expr = F.when(head.startswith(prefix), F.lit(name)).otherwise(expr)
    return expr


def fake_thumbnail(buf: bytes, width: int, height: int) -> bytes:
    """Deterministic stand-in resize: content-hash-seeded width*height
    'pixel' bytes. Same contract shape as the real path (binary in,
    smaller binary out, pure function of input)."""
    import hashlib

    seed = int.from_bytes(hashlib.md5(buf).digest()[:8], "big")
    rng = np.random.default_rng([seed, width, height])
    return rng.integers(0, 256, size=width * height, dtype=np.uint8).tobytes()


# the still-image containers functions/imaging.decode_image reads
_IMAGE_MAGIC = (
    b"P6", b"P5", b"BM", b"\x89PNG", b"\xff\xd8\xff", b"GIF87a", b"GIF89a", b"II*\x00", b"MM\x00*"
)


def with_thumbnails(
    df: DataFrame, bytes_col: str = "bytes", width: int = 8, height: int = 8
) -> DataFrame:
    """Append ``thumbnail binary``, keeping every input column.

    * still images (PPM / PGM / BMP / PNG / baseline JPEG / GIF / TIFF):
      from-spec decode -> nearest-neighbor resize -> P6 PPM re-encode
      (functions/imaging.py). A malformed payload yields a NULL
      thumbnail — decode-failure => invalid row, the same F1/make_valid
      semantics the audio decode path uses.
    * other containers (webm/...): the deterministic content-hash
      ``fake_thumbnail``.
    * a null payload yields a NULL thumbnail.
    """
    from dataflow_geobeam_spark.functions.imaging import decode_image, encode_ppm, resize_nearest

    def decode(buf, row):
        b = payload_bytes(buf)
        return (decode_image(b) if b.startswith(_IMAGE_MAGIC) else None), b

    def kernel(img, b, row):
        if img is None:
            return [(fake_thumbnail(b, width, height),)]
        return [(encode_ppm(resize_nearest(img, width, height)),)]

    return clip_map(
        df,
        kernel,
        [StructField("thumbnail", BinaryType())],
        passthrough=df.schema.fields,
        on_error=(None,),
        bytes_col=bytes_col,
        decode=decode,
    )


def with_image_embeddings(
    df: DataFrame,
    id_col: str = "img_id",
    bytes_col: str = "bytes",
    width: int = 8,
    height: int = 6,
) -> DataFrame:
    """(_id, embedding array<float>) per DECODABLE image: from-spec decode
    -> NN-resize -> mean-centered flat pixel vector (width*height*3
    floats), one pass (functions/imaging.embed_pixels).
    Undecodable payloads are DROPPED — the near-dup self-join downstream
    requires non-null fixed-dim vectors, and a corrupt image has no
    meaningful pixel identity. The real-model analog swaps the kernel for
    an encoder forward pass; the plumbing is identical."""
    from dataflow_geobeam_spark.functions.imaging import decode_image, embed_pixels

    in_df = df.select(F.col(id_col).alias("_id"), F.col(bytes_col).alias("_bytes"))
    return clip_map(
        in_df,
        lambda img, _, row: [(embed_pixels(img, width, height),)],
        [StructField("embedding", ArrayType(FloatType()), False)],
        passthrough=[StructField("_id", df.schema[id_col].dataType)],
        bytes_col="_bytes",
        decode=lambda buf, row: (decode_image(payload_bytes(buf)), None),
    )


def with_video_block_index(
    df: DataFrame, bytes_col: str = "bytes", id_col: str = "video_id"
) -> DataFrame:
    """1 video row -> N (id, track_number, codec_id, ts_ms, keyframe,
    block_bytes) rows: REAL from-spec EBML/WebM container parse
    (functions/ebml.py) in one pass — the metadata layer a
    frame-sampling planner keys on (pick keyframes nearest the sample
    grid, budget by block size) without decoding a single pixel.
    Malformed or null payloads drop (F1 semantics)."""
    from dataflow_geobeam_spark.functions.ebml import parse_webm_blocks

    def kernel(tracks, blocks, row):
        return [
            (blk["track"], tracks[blk["track"]], blk["ts_ms"], blk["keyframe"], blk["size"])
            for blk in blocks
        ]

    return clip_map(
        df.select(id_col, bytes_col),
        kernel,
        [
            StructField("track_number", IntegerType()),
            StructField("codec_id", StringType()),
            StructField("ts_ms", LongType()),
            StructField("keyframe", BooleanType()),
            StructField("block_bytes", LongType()),
        ],
        passthrough=[StructField(id_col, df.schema[id_col].dataType)],
        bytes_col=bytes_col,
        decode=lambda buf, row: parse_webm_blocks(payload_bytes(buf)),
    )
