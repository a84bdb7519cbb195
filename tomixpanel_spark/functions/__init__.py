"""Column-level function library (all JVM-side, whole-stage-codegen friendly).

Everything here returns ``pyspark.sql.Column`` built from built-in
functions — no Python UDFs — so expressions stay inside Tungsten codegen
and survive a 100x scale-up without serde overhead.
"""

from tomixpanel_spark.functions.canonical import (
    canonical_insert_id,
    normalize_time_ms,
    normalize_time_ts,
)
from tomixpanel_spark.functions.text import (
    quality_features,
    tokens,
)
from tomixpanel_spark.functions.vectors import cosine_similarity, dot, l2_norm

__all__ = [
    "canonical_insert_id",
    "normalize_time_ms",
    "normalize_time_ts",
    "tokens",
    "quality_features",
    "dot",
    "l2_norm",
    "cosine_similarity",
]
