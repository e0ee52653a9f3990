"""SimRank structural similarity (Jeh & Widom, KDD 2002).

Not in the reference (its similarity notion is hand-curated); for KG
construction SimRank is the classic "two entities are similar if their
in-neighborhoods are similar" signal — entity-resolution evidence that
needs no text features, only graph structure.

    s(a, a) = 1
    s(a, b) = C / (|I(a)||I(b)|) * sum_{i in I(a), j in I(b)} s(i, j)

Evaluated as fixed-round power iteration with the repo's micro-BIGINT
convention: scores are integers in [0, 10^6], C is the rational
``c_num/c_den`` (default 4/5 = 0.8), and each pair's update truncates
ONCE per round — deterministic, order-independent (the inner sum is
integer), and replayable by an unrolled SQL oracle.  Truncation drift vs
float SimRank is < rounds microunits.

Scale contract (loud): exact SimRank is inherently node-PAIR state —
O(V^2) worst case, sum work Σ|I(a)||I(b)| = |E|^2 per round.  The
``max_edges`` guard RAISES beyond the exact-computation envelope; at
web scale you run it on an induced candidate neighborhood (the output
of blocking/LSH), not the full graph — same operator, smaller input.
The zero-score pairs are never materialized (absent row == 0), so real
sparsity is preserved between rounds.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traversal import _checkpoint

MICRO = 10 ** 6


def simrank(edges: DataFrame, rounds: int = 3, c_num: int = 4,
            c_den: int = 5, src: str = "src", dst: str = "dst",
            max_edges: int = 100_000) -> DataFrame:
    """Returns (a, b, s_micro) for every UNORDERED-distinct ordered pair
    with nonzero score after ``rounds`` iterations, diagonal excluded
    (s(a, a) == 10^6 by definition; both (a, b) and (b, a) rows appear —
    SimRank is symmetric and the dual rows make joins against either
    side one-hop).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    if not (0 < c_num < c_den):
        raise ValueError("need 0 < c_num < c_den (C in (0, 1))")
    e = _checkpoint(edges.select(F.col(src).alias("i"), F.col(dst).alias("v"))
                    .filter(F.col("i") != F.col("v")).distinct())
    n_edges = e.count()
    if n_edges > max_edges:
        raise ValueError(
            f"{n_edges} edges > max_edges={max_edges}: exact SimRank is "
            "|E|^2 per round — run on an induced candidate neighborhood")
    nodes = _checkpoint(e.select(F.col("i").alias("id"))
                        .unionByName(e.select(F.col("v").alias("id")))
                        .distinct())
    indeg = _checkpoint(e.groupBy(F.col("v").alias("id"))
                        .agg(F.count("*").alias("d")))
    diag = nodes.select(F.col("id").alias("a"), F.col("id").alias("b"),
                        F.lit(MICRO).cast("long").alias("s"))
    s = diag
    ex = e.select(F.col("i").alias("a"), F.col("v").alias("na"))
    ey = e.select(F.col("i").alias("b"), F.col("v").alias("nb"))
    for _ in range(rounds):
        summed = (s.join(ex, "a").join(ey, "b")
                  .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
                  .agg(F.sum("s").alias("_sum")))
        scaled = (summed
                  .join(indeg.select(F.col("id").alias("a"),
                                     F.col("d").alias("da")), "a")
                  .join(indeg.select(F.col("id").alias("b"),
                                     F.col("d").alias("db")), "b")
                  .filter(F.col("a") != F.col("b"))
                  .select("a", "b",
                          F.expr(f"({c_num} * _sum) DIV "
                                 f"({c_den} * da * db)").alias("s"))
                  .filter(F.col("s") > 0))
        s = _checkpoint(diag.unionByName(scaled))
    return s.filter(F.col("a") != F.col("b")) \
            .select("a", "b", F.col("s").alias("s_micro"))
