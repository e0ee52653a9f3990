"""Watermarked stream-stream join — event attribution (§2.9).

The Structured Streaming primitive next to windowed counts: joining
two live streams (e.g. crawl-fetch
events against robots-fetch events, impressions against conversions)
requires BOUNDED state on both sides — Spark buffers each side until the
other side's watermark plus the join's time bound passes, then drops the
state.  Without the time-range condition the state is unbounded and the
query is rejected for inner joins' append mode semantics at scale.

``attribution_join`` implements the canonical shape: left events match
right events with the SAME key whose timestamp falls within
``[left_ts, left_ts + horizon]`` — e.g. a purchase attributed to the
click(s) at most ``horizon`` before it.  The IDENTICAL expression runs on
batch DataFrames (watermarks are no-ops there), pinned by the
streaming == batch equivalence test.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribution_join(left: DataFrame, right: DataFrame, key: str = "user_id",
                     left_ts: str = "ts", right_ts: str = "ts",
                     horizon: str = "30 minutes",
                     watermark: str = "1 hour") -> DataFrame:
    """Inner join: left rows (prefixed ``l_``) with right rows (``r_``)
    sharing ``key`` where ``l_ts <= r_ts <= l_ts + horizon``.  On
    streaming inputs both sides carry watermarks so buffered state
    expires; on batch inputs the same plan computes the full answer."""
    lt = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rt = right.withWatermark(right_ts, watermark) if right.isStreaming \
        else right
    l = lt.select(F.col(key).alias("k"),
                  *[F.col(c).alias(f"l_{c}") for c in left.columns
                    if c != key])
    r = rt.select(F.col(key).alias("k"),
                  *[F.col(c).alias(f"r_{c}") for c in right.columns
                    if c != key])
    cond = ((F.col(f"r_{right_ts}") >= F.col(f"l_{left_ts}")) &
            (F.col(f"r_{right_ts}") <=
             F.col(f"l_{left_ts}") + F.expr(f"INTERVAL {horizon}")))
    return (l.alias("l").join(r.alias("r"),
                              (F.col("l.k") == F.col("r.k")) & cond)
            .select(F.col("l.k").alias(key),
                    *[F.col(f"l_{c}") for c in left.columns if c != key],
                    *[F.col(f"r_{c}") for c in right.columns if c != key]))
