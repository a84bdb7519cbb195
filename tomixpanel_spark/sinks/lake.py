"""Data-lake writers: the engine's replacement for the reference's staged
JSON dirs (SURVEY.md §2.2 K9 local copies + the 100 TB layout story).

Layout (ARCHITECTURE.md deployment notes): events partition by event
DATE — the reference's ampReplicator date-hour slices become physical
partition pruning for every downstream date-ranged query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_events_partitioned(events: DataFrame, path: str) -> None:
    """Canonical events -> parquet partitioned by event date, overwriting.

    At 100 TB this is the lake layout every date-ranged query prunes on;
    locally it doubles as the ``save_local_copy`` staging artifact
    (reference transform writes JSON stage dirs at
    transform/amplitudeToMixpanel.js:229-290)."""
    out = events.withColumn("event_date", F.to_date(F.timestamp_millis(F.col("time_ms"))))
    out.write.mode("overwrite").partitionBy("event_date").parquet(path)
