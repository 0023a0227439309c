"""Vectorized column functions: decode, validity, audio features, text."""

from dataflow_geobeam_spark.functions.decode import (  # noqa: F401
    clip_map,
    with_decoded_metrics,
    with_decoded_pcm,
)
from dataflow_geobeam_spark.functions.validity import (  # noqa: F401
    filter_invalid,
    valid_clip_predicate,
)
