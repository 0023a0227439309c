"""Whole-file binary source (reference S1/S3 pattern analog).

The reference's heavyweight-format sources read entire files into memory and
mark themselves unsplittable (``geobeam/io.py:282-286``, ``io.py:150, 246,
327, 433`` — parallelism is per-file). Spark's ``binaryFile`` format is the
same contract: one row per file (path, modificationTime, length, content),
parallel across files. Use for container formats that cannot be
row-split (a zipped shapefile then; a .tar of audio clips now).

The per-archive -> per-record explode runs through ``clip_map`` (Arrow
batches), the ``read_records`` generator analog.
"""

from __future__ import annotations

import io
import lzma
import tarfile
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from dataflow_geobeam_spark.functions.decode import clip_map, payload_bytes

MEMBER_SCHEMA = StructType(
    [
        StructField("archive", StringType()),
        StructField("member", StringType()),
        StructField("size", LongType()),
        StructField("bytes", BinaryType()),
    ]
)


def read_binary_files(
    spark: SparkSession, path_glob: str, path_filter: str | None = None
) -> DataFrame:
    """One row per file; filter pushes to the file listing."""
    reader = spark.read.format("binaryFile")
    if path_filter:
        reader = reader.option("pathGlobFilter", path_filter)
    return reader.load(path_glob)


def _read_members(buf, row) -> tuple[list, None]:
    """Every non-empty file member of one archive as (name, size, bytes),
    read in full before any is emitted: a corrupt, truncated or empty
    archive raises ``ValueError`` and yields no member at all."""
    try:
        with tarfile.open(fileobj=io.BytesIO(payload_bytes(buf))) as tf:
            members = [
                (m.name, m.size, tf.extractfile(m).read())
                for m in tf.getmembers()
                if m.isfile() and m.size
            ]
    # tarfile's own errors, and what its gzip/bz2/xz readers raise on a cut or corrupt stream
    except (tarfile.TarError, EOFError, OSError, zlib.error, lzma.LZMAError) as e:
        raise ValueError(f"tar: {e}") from None
    return members, None


def explode_tar_members(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Archive rows -> one row per tar member (1->N generator, the
    ``read_records`` analog; ``GeodatabaseSource``'s skip-empty behavior at
    ``geobeam/io.py:410-416`` maps to dropping zero-byte members). A null
    or unreadable archive drops only its own row."""
    return clip_map(
        df.select(F.col("path").alias("archive"), content_col),
        lambda members, _, row: members,
        MEMBER_SCHEMA.fields[1:],
        passthrough=[MEMBER_SCHEMA["archive"]],
        bytes_col=content_col,
        decode=_read_members,
    )
