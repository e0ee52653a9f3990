"""Exact distributed quantiles — census + two-phase cumulative counts.

Approximate sketches (t-digest, KLL) trade exactness for state; for
pipeline GATES (e.g. "drop documents below the p10 quality score",
"alert if p99 latency moved") an EXACT, engine-reproducible quantile is
worth one extra shuffle.  Shape:

  1. value census: groupBy(value) count — the only full-data shuffle,
     map-side combinable, output is distinct-value-sized;
  2. order-preserving coarse buckets over the census + broadcast bucket
     offsets + per-bucket local cumsum — the SNM two-phase global-rank
     trick (operators/blocking.py): NO global-sort window ever sees the
     census;
  3. type-1 selection: quantile q = smallest value whose cumulative
     count reaches ceil(q * n), with the target computed in INTEGER
     micro arithmetic (q_micro * n + 999999) DIV 10^6 — engine-exact,
     no float rank boundary.

The bucket window in phase 2 orders #buckets rows (hundreds), and the
offsets table is broadcast — the census itself is never globally sorted.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame

MICRO = 10 ** 6


def exact_quantiles(df: DataFrame, value_col: str,
                    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
                    bucket_expr: Column | None = None) -> DataFrame:
    """(q_micro, value, target_rank, n) — the exact type-1 quantile
    (smallest value whose 1-based rank in ascending order reaches
    ``ceil(q * n)``) for each requested fraction.  NULL values are
    excluded from ranks (SQL aggregate convention).

    ``bucket_expr`` must be an ORDER-PRESERVING coarse key over the
    value column (default ``value >> 16`` on the long cast — monotone
    for non-negative integral values; supply your own for signed or
    fractional data)."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(not (0 < q <= 1) for q in qs):
        raise ValueError("each q must be in (0, 1]")
    v = (df.select(F.col(value_col).alias("v"))
         .filter(F.col("v").isNotNull()))
    census = v.groupBy("v").agg(F.count("*").alias("cnt"))
    if bucket_expr is None:
        bucket_expr = F.shiftright(F.col("v").cast("long"), 16)
    c = census.withColumn("_bkt", bucket_expr)
    totals = c.groupBy("_bkt").agg(F.sum("cnt").alias("_n"))
    prev = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_n").over(prev), F.lit(0)).alias("_off"))
    local = (Window.partitionBy("_bkt").orderBy("v")
             .rowsBetween(Window.unboundedPreceding, 0))
    cum = (c.join(F.broadcast(offsets), "_bkt")
           .select("v", "cnt",
                   (F.col("_off") + F.sum("cnt").over(local)).alias("cum")))
    n_total = census.agg(F.sum("cnt").alias("n"))
    targets = (local_frame(df.sparkSession,
                           [(int(round(q * MICRO)),) for q in sorted(qs)],
                           "q_micro long")
               .crossJoin(F.broadcast(n_total))
               .select("q_micro", "n",
                       F.expr(f"(q_micro * n + {MICRO - 1}) div {MICRO}")
                       .alias("target_rank")))
    return (cum.crossJoin(F.broadcast(targets))
            .filter((F.col("cum") >= F.col("target_rank"))
                    & (F.col("cum") - F.col("cnt") < F.col("target_rank")))
            .select("q_micro", F.col("v").alias("value"),
                    "target_rank", "n"))
