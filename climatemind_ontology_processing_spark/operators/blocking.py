"""Sorted-neighborhood blocking for entity resolution (Hernandez &
Stolfo, SIGMOD 1995).

The repo's other candidate generators block by equality-ish keys (LSH
buckets, shared facts, Levenshtein prefix blocks); sorted-neighborhood
is the complementary classic: sort all records by a fuzzy key and pair
every record with its ``window - 1`` successors in that order — catches
near-misses that share no exact block (typo'd prefixes, adjacent codes).

100 TB shape — the textbook formulation is a GLOBAL sort + sliding
window, which in naive Spark is `row_number() OVER (ORDER BY key)`: a
single-partition window that collapses the corpus into one task.  The
distributed version here is the packing-style two-phase rank
(operators/packing.py):

  1. records bucket by a caller-supplied ORDER-PRESERVING coarse key
     (``bucket_expr``, e.g. a key prefix — any monotone function of the
     sort key; this is a documented CONTRACT, not checked, because
     verifying monotonicity costs a sort);
  2. per-bucket counts cumulate into global bucket offsets (tiny
     single-partition window over one row per bucket);
  3. within-bucket ranks run PARTITIONED BY bucket — parallel;
     global rank = bucket offset + local rank;
  4. candidate pairs join on rank-block equality (block width =
     window - 1, probe block and block + 1) — an EQUI-join Catalyst
     hash-joins, never a theta-join.

Ties sort (key, id) so ranks — and therefore the pair set — are a
deterministic function of the input set (retry-stable invariant).
Bucket skew is the caller's lever: a hot prefix bucket degrades to the
per-bucket window cost, same knob as every blocked operator here.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .traversal import _checkpoint


def snm_ranks(records: DataFrame, key_col: str, id_col: str,
              bucket_expr) -> DataFrame:
    """(id, key, rank): 0-based dense global rank in (key, id) order,
    computed without a global-sort window (see module docstring)."""
    d = records.select(F.col(id_col).alias("id"),
                       F.col(key_col).alias("key"),
                       bucket_expr.alias("_bkt"))
    totals = d.groupBy("_bkt").agg(F.count("*").alias("_n"))
    prev = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_n").over(prev), F.lit(0)).alias("_off"))
    local = Window.partitionBy("_bkt").orderBy("key", "id")
    return (d.join(F.broadcast(offsets), "_bkt")
            .select("id", "key",
                    (F.col("_off") + F.row_number().over(local) - 1)
                    .alias("rank")))


def snm_pairs(records: DataFrame, key_col: str, id_col: str,
              bucket_expr=None, window: int = 5) -> DataFrame:
    """Candidate pairs (a_id, b_id, rank_gap) for every pair of records
    within ``window - 1`` positions of each other in global (key, id)
    order, a before b.  ``bucket_expr`` defaults to the first character
    of the key (monotone; supply a finer prefix for skewed keys)."""
    if window < 2:
        raise ValueError("window must be >= 2")
    if bucket_expr is None:
        bucket_expr = F.substring(F.col(key_col).cast("string"), 1, 1)
    ranks = _checkpoint(snm_ranks(records, key_col, id_col, bucket_expr))
    wd = window - 1
    a = ranks.select(F.col("id").alias("a_id"), F.col("rank").alias("ra"),
                     (F.col("rank") / wd).cast("long").alias("blk"))
    b0 = ranks.select(F.col("id").alias("b_id"), F.col("rank").alias("rb"),
                      (F.col("rank") / wd).cast("long").alias("blk"))
    b = b0.unionByName(b0.withColumn("blk", F.col("blk") - 1))
    # no distinct needed: a qualifying pair matches exactly one of the
    # two b-branches (same-block xor next-block)
    return (a.join(b, "blk")
            .filter((F.col("rb") > F.col("ra"))
                    & (F.col("rb") - F.col("ra") <= wd))
            .select("a_id", "b_id",
                    (F.col("rb") - F.col("ra")).cast("int")
                    .alias("rank_gap")))
