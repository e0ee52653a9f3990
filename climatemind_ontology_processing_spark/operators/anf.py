"""Approximate neighborhood function (ANF / HyperBall) over the KG graph.

Not in the reference (its curated graphs are tiny enough for exact BFS —
``operators/traversal.py`` covers that); at web scale per-node ball sizes
and the effective diameter are classic connectivity diagnostics (Palmer
et al. KDD 2002 ANF; Boldi, Rosa & Vigna WWW 2011 HyperBall), and exact
per-node BFS from every node is O(V·E) — hopeless at 10^12 edges.

HyperBall = one HLL sketch per node, where the sketch of node v at round
t summarizes the set of nodes within distance <= t of v.  The update is
pure register algebra:

    B_t(v) = B_{t-1}(v)  MERGE  max over out-edges v->w of B_{t-1}(w)

and HLL merge is register-wise max — so one round is ONE join of the
edge list against the register table plus ONE (id, register) max
aggregation.  Registers live as EXPLODED rows (id, register, rho), the
same ``sketch.hll_reg_rho`` layout the batch/streaming HLL sketches
share: keys-only shuffles, map-side combinable max, at most 2^p rows per
node.  Total state is O(V · 2^p) rows — at p=6, sixty-four small ints
per node, the published HyperBall operating point.

Engine-exactness: the per-(node, step) summary exposes the sketch as two
BIGINTs — ``n_registers`` (non-empty registers) and ``harm_total`` (the
integer-scaled harmonic sum Σ 2^(S - rho) + zeros·2^S, S = 60 - p + 1,
exactly as ``sketch.hll_count_distinct`` computes it) — so a DuckDB
oracle replays the whole fixpoint bit-for-bit with no float anywhere.
The float ``est`` column (Flajolet estimator + linear counting) is a
convenience derived from those integers; pin it with pytest, never with
a cross-engine hash (ln/div ulps differ across engines).
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch import _HASH_BITS, _alpha, hll_reg_rho
from .traversal import _checkpoint


def _ball_summary(state: DataFrame, p: int, step: int) -> DataFrame:
    m = 2 ** p
    s_exp = _HASH_BITS - p + 1
    term = F.pow(F.lit(2.0), F.lit(s_exp) - F.col("rho")).cast("long")
    agg = (state.groupBy("id")
           .agg(F.count("*").cast("long").alias("n_registers"),
                F.sum(term).cast("long").alias("_t")))
    total = (F.col("_t")
             + (F.lit(m) - F.col("n_registers")) * F.lit(2 ** s_exp))
    est_raw = F.lit(_alpha(m) * m * m) \
        / (total.cast("double") / F.lit(float(2 ** s_exp)))
    zeros = F.lit(m) - F.col("n_registers")
    est = F.when((est_raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m))
                 * F.log(F.lit(float(m)) / zeros.cast("double"))) \
        .otherwise(est_raw)
    return agg.select("id", F.lit(int(step)).alias("step"), "n_registers",
                      total.cast("long").alias("harm_total"),
                      est.alias("est"))


def _hyperball_local(spark, edge_rows, rounds: int, p: int, ty: str):
    """Small-graph path: identical register algebra (md5_60 60-bit hash,
    top-p register, rho = leading zeros + 1, register-wise max merge,
    integer harmonic totals, the same float estimator expression) over
    the collected edge list — zero per-round Spark jobs."""
    import hashlib

    m = 2 ** p
    rem_bits = _HASH_BITS - p
    s_exp = rem_bits + 1
    mask = 2 ** rem_bits - 1
    out_adj: dict = {}
    nodes = set()
    for c, n in edge_rows:
        out_adj.setdefault(c, []).append(n)
        nodes.add(c)
        nodes.add(n)
    state: dict = {}
    for v in nodes:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        rem = h & mask
        rho = rem_bits + 1 - rem.bit_length() if rem > 0 else rem_bits + 1
        state[v] = {h >> rem_bits: rho}

    rows = []

    def summarize(step):
        for v in nodes:
            regs = state[v]
            n_reg = len(regs)
            total = (sum(2 ** (s_exp - rho) for rho in regs.values())
                     + (m - n_reg) * 2 ** s_exp)
            est_raw = (_alpha(m) * m * m) / (total / float(2 ** s_exp))
            zeros = m - n_reg
            if est_raw <= 2.5 * m and zeros > 0:
                est = float(m) * math.log(float(m) / zeros)
            else:
                est = est_raw
            rows.append((v, step, n_reg, total, est))

    summarize(0)
    for t in range(1, rounds + 1):
        new = {}
        for v in nodes:
            merged = dict(state[v])
            for n in out_adj.get(v, ()):
                for r, rho in state[n].items():
                    if merged.get(r, 0) < rho:
                        merged[r] = rho
            new[v] = merged
        state = new
        summarize(t)
    return spark.createDataFrame(
        rows, f"id {ty}, step int, n_registers long, harm_total long, "
              f"est double")


def hyperball(edges: DataFrame, rounds: int = 3, p: int = 6,
              src: str = "src", dst: str = "dst",
              hash_family: str = "md5_60",
              checkpoint_every: int = 1) -> DataFrame:
    """Per-node neighborhood-function table: one row per (id, step) for
    step 0..rounds with the exact integer sketch summary and the float
    size estimate.  Balls follow OUT-edges (B_t(v) = nodes reachable from
    v in <= t hops, self included); symmetrize the edge list first for
    undirected balls.

    The fixpoint is NOT detected (that needs a count per round); rounds
    is a budget — at round >= eccentricity the rows repeat verbatim,
    which callers can observe from unchanged (n_registers, harm_total).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    pre = (edges.select(F.col(src).alias("c"), F.col(dst).alias("n"))
           .filter(F.col("c").isNotNull() & F.col("n").isNotNull())
           .filter(F.col("c") != F.col("n")))
    sel = pre.distinct()

    # validates p and hash_family on both arms before any Spark work
    reg, rho = hll_reg_rho(F.col("id"), p, hash_family)

    from .traversal import small_rows

    # probe BELOW the distinct (small_rows dedups driver-side)
    probe = small_rows(pre)
    if probe is not None:
        return _hyperball_local(edges.sparkSession, probe, rounds, p,
                                pre.schema["c"].dataType.simpleString())

    e = _checkpoint(sel)
    nodes = (e.select(F.col("c").alias("id"))
             .unionByName(e.select(F.col("n").alias("id"))).distinct())
    state = _checkpoint(nodes.select("id", reg.alias("register"),
                                     rho.alias("rho")))
    out = _ball_summary(state, p, 0)
    for t in range(1, rounds + 1):
        prop = (e.join(state.withColumnRenamed("id", "n"), "n")
                .select(F.col("c").alias("id"), "register", "rho"))
        state = (state.unionByName(prop)
                 .groupBy("id", "register")
                 .agg(F.max("rho").alias("rho")))
        if t % checkpoint_every == 0 or t == rounds:
            state = _checkpoint(state)
        out = out.unionByName(_ball_summary(state, p, t))
    return out


def effective_diameter(anf: DataFrame, q: float = 0.9) -> DataFrame:
    """Smallest step t whose TOTAL estimated ball mass reaches a fraction
    ``q`` of the final round's mass (the standard ANF effective-diameter
    readout, computed on the per-step sums of ``est``).  One row:
    (eff_diameter, q_mass, final_mass).  Driver-safe: aggregates the
    (rounds+1)-row per-step totals only."""
    if not 0 < q <= 1:
        raise ValueError(f"q must be in (0, 1], got {q}")
    per_step = (anf.groupBy("step").agg(F.sum("est").alias("mass"))
                .orderBy("step"))
    rows = per_step.collect()
    if not rows:
        raise ValueError("empty ANF table")
    final = rows[-1]["mass"]
    target = q * final
    eff = next(r["step"] for r in rows if r["mass"] >= target)
    spark = anf.sparkSession
    return spark.createDataFrame(
        [(int(eff), float(target), float(final))],
        "eff_diameter int, q_mass double, final_mass double")


def exact_neighborhood_function(edges: DataFrame, rounds: int,
                                src: str = "src", dst: str = "dst",
                                ) -> DataFrame:
    """Exact |B_t(v)| via iterative frontier joins — the small-graph
    twin used to validate hyperball estimates (O(V·E) worst case; do NOT
    run at web scale, that is the entire point of the sketch).  Returns
    (id, step, n_ball)."""
    e = _checkpoint(edges.select(F.col(src).alias("c"), F.col(dst).alias("n"))
                    .filter(F.col("c").isNotNull() & F.col("n").isNotNull())
                    .filter(F.col("c") != F.col("n"))
                    .distinct())
    nodes = (e.select(F.col("c").alias("id"))
             .unionByName(e.select(F.col("n").alias("id"))).distinct())
    ball = nodes.select("id", F.col("id").alias("member"))
    out = ball.groupBy("id").agg(F.count("*").cast("long").alias("n_ball")) \
        .select("id", F.lit(0).alias("step"), "n_ball")
    for t in range(1, rounds + 1):
        grown = (e.join(ball.withColumnRenamed("id", "n"), "n")
                 .select(F.col("c").alias("id"), "member"))
        ball = _checkpoint(ball.unionByName(grown).distinct())
        out = out.unionByName(
            ball.groupBy("id").agg(F.count("*").cast("long")
                                   .alias("n_ball"))
            .select("id", F.lit(t).alias("step"), "n_ball"))
    return out
