"""Weighted shortest paths over the KG edge table.

Distance-bounded relevance for entity linking and neighborhood ranking:
BFS (`traversal.bfs_reachable`) gives hop counts; this gives WEIGHTED
distances (edge weights = confidence/cost), the quantity path-relevance
scoring actually wants.

Algorithm: distributed Bellman-Ford (min-plus label relaxation) — the
textbook Pregel SSSP expressed as DataFrame joins:

    dist'(v) = min(dist(v), min over edges (u,v) of dist(u) + w(u,v))

Each round is ONE shuffle (groupBy dst with map-side-combinable min) plus
a keys-only change check; rounds are bounded by the shortest-path hop
diameter.  Shuffle payload is (node, dist) pairs only.  Non-negative
INTEGRAL weights are REQUIRED (both checked, loudly): min-plus runs over
BIGINTs so every distance is engine-exact with zero float wiggle —
fractional confidences must be pre-scaled (e.g. ``round(conf * 1e6)``).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .traversal import _checkpoint, _fixpoint, _relax_min


def shortest_paths(edges: DataFrame, seeds: DataFrame | list,
                   src: str = "src", dst: str = "dst",
                   weight: str | None = None,
                   max_rounds: int = 100) -> DataFrame:
    """(id, dist) for every node reachable from any seed; dist = weighted
    shortest-path distance (seeds at 0).  ``weight=None`` means unit
    weights (hop count).  Unreachable nodes produce no row."""
    w = (F.col(weight).cast("long") if weight is not None
         else F.lit(1).cast("long"))
    e = _checkpoint(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v"),
                                 w.alias("w"),
                                 *([F.col(weight).cast("double").alias("_wraw")]
                                   if weight is not None else []))
                    .filter(F.col("u").isNotNull() & F.col("v").isNotNull()))
    if weight is not None:
        # min-plus runs over BIGINTs for engine-exact determinism; a silent
        # cast('long') would truncate 0.9 -> 0 and corrupt every distance
        # (round-3 ADVICE, medium) — reject non-integral weights loudly.
        bad = e.filter(F.col("w").isNull() & F.col("_wraw").isNotNull()
                       | (F.col("_wraw") != F.col("w").cast("double")))
        if not bad.isEmpty():
            raise ValueError(
                f"shortest_paths requires integral, castable weights in "
                f"'{weight}' (min-plus over BIGINTs is engine-exact; "
                "fractional weights would be silently truncated) — "
                "pre-scale, e.g. round(confidence * 1e6) as a long column")
        e = e.drop("_wraw")
    if not e.filter(F.col("w") < 0).isEmpty():
        raise ValueError("negative edge weights not supported")
    spark = edges.sparkSession
    if isinstance(seeds, list):
        t = e.schema["u"].dataType.simpleString()
        seeds = local_frame(spark, [(s,) for s in sorted(set(seeds))],
                            f"id {t}")

    def relax(dist):
        return (e.join(dist.withColumnRenamed("id", "u"), "u")
                .select(F.col("v").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist")))

    return _relax_min(seeds.select("id", F.lit(0).cast("long").alias("dist")),
                      ["id"], "dist", relax, max_rounds, "shortest_paths")


# ---------------------------------------------------------------------------
# landmark distance index (Potamias et al., CIKM 2009)
# ---------------------------------------------------------------------------
def pick_landmarks(edges: DataFrame, num_landmarks: int,
                   src: str = "src", dst: str = "dst") -> DataFrame:
    """The ``num_landmarks`` highest-degree nodes (undirected distinct
    neighbors; ties broken by id ascending — deterministic).  Degree is the
    published landmark-selection heuristic that beats random picks for
    estimation error; the whole selection is one keys-only distinct + count
    + TakeOrdered."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                 & (F.col("a") != F.col("b"))))
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    return (deg.orderBy(F.desc("deg"), F.asc("a"))
            .limit(int(num_landmarks)).select(F.col("a").alias("id")))


def landmark_distances(edges: DataFrame, num_landmarks: int = 16,
                       src: str = "src", dst: str = "dst",
                       weight: str | None = None, undirected: bool = True,
                       landmarks: DataFrame | None = None,
                       max_rounds: int = 100) -> DataFrame:
    """(landmark, id, dist) — exact shortest-path distance from every node
    to each of k landmarks: the 2-hop DISTANCE INDEX that answers arbitrary
    point-to-point distance queries at 100 TB scale, where per-query BFS is
    unaffordable.  Store k·N rows once; estimate any d(u, v) with one join
    (``landmark_estimate``: min over L of d(u,L) + d(L,v), an upper bound
    that is exact whenever a shortest path passes a landmark).

    All k relaxations run CONCURRENTLY in one plan — the loop state is one
    table keyed by (landmark, id), so each round is still ONE shuffle
    (map-side-combinable min on the composite key), not k sequential BFS
    jobs.  Payload per round is (landmark, id, dist) triples only.  Weights
    follow ``shortest_paths`` semantics (None = hop count; integral
    non-negative otherwise — reuse it for validation if needed).  Loud
    non-convergence, same as every iterative operator here."""
    from .traversal import small_rows

    w = (F.col(weight).cast("long") if weight is not None
         else F.lit(1).cast("long"))
    e0 = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                       w.alias("w"))
          .filter(F.col("u").isNotNull() & F.col("v").isNotNull()))
    if undirected:
        e0 = e0.unionByName(e0.select(F.col("v").alias("u"),
                                      F.col("u").alias("v"), "w"))
    probe = small_rows(e0)
    if probe is not None:
        probe = sorted(probe)
        # driver-side: the SAME concurrent min-plus rounds (one pass
        # over the edge list per round, loud cap preserved) on the
        # collected edges — zero per-round jobs (size-adaptive
        # convention; distributed equivalence pinned in pytest)
        if any(r[2] < 0 for r in probe):
            raise ValueError("negative edge weights not supported")
        if landmarks is None:
            # pick_landmarks semantics: degree over the SYMMETRIZED
            # distinct neighbor pairs, self-loops excluded, ties id-asc
            sym_pairs = {(u, v) for u, v, _w in probe if u != v}
            sym_pairs |= {(v, u) for u, v in sym_pairs}
            nbrs: dict = {}
            for u, v in sym_pairs:
                nbrs.setdefault(u, set()).add(v)
            lms = sorted(nbrs, key=lambda n: (-len(nbrs[n]), n))
            lm_ids = lms[:int(num_landmarks)]
        else:
            lm_ids = sorted({r[0] for r in landmarks.collect()})

        def step(dist):
            new = dict(dist)
            for u, v, ew in probe:
                for lm in lm_ids:
                    du = dist.get((lm, u))
                    if du is not None:
                        d = du + ew
                        cur = new.get((lm, v))
                        if cur is None or d < cur:
                            new[(lm, v)] = d
            return new, new == dist

        dist = _fixpoint({(lm, lm): 0 for lm in lm_ids}, step, max_rounds,
                         "landmark_distances")
        ty = e0.schema["u"].dataType.simpleString()
        return local_frame(
            edges.sparkSession,
            [(lm, n, d) for (lm, n), d in sorted(dist.items())],
            f"landmark {ty}, id {ty}, dist long")
    e = _checkpoint(e0.distinct())
    if not e.filter(F.col("w") < 0).isEmpty():
        raise ValueError("negative edge weights not supported")
    if landmarks is None:
        landmarks = pick_landmarks(edges, num_landmarks, src, dst)

    def relax(dist):
        return (e.join(dist.withColumnRenamed("id", "u"), "u")
                .select("landmark", F.col("v").alias("id"),
                        (F.col("dist") + F.col("w")).alias("dist")))

    return _relax_min(landmarks.select(F.col("id").alias("landmark"),
                                       F.col("id"),
                                       F.lit(0).cast("long").alias("dist")),
                      ["landmark", "id"], "dist", relax, max_rounds,
                      "landmark_distances")


def landmark_estimate(dists: DataFrame, pairs: DataFrame,
                      a_col: str = "a", b_col: str = "b") -> DataFrame:
    """(a, b, est) distance estimates for query ``pairs`` via the landmark
    index: est = min over landmarks of d(a,L) + d(L,b).  Triangle
    inequality makes est an UPPER bound on the true distance, exact when a
    shortest path touches a landmark (and always when a or b IS one).
    Pairs with no landmark reachable from both sides get est NULL —
    visibly unknown, never a fake infinity.  Two equi-joins against the
    index; the pair side is typically the small one (broadcast-able)."""
    da = dists.select("landmark", F.col("id").alias(a_col),
                      F.col("dist").alias("_da"))
    db = dists.select("landmark", F.col("id").alias(b_col),
                      F.col("dist").alias("_db"))
    est = (pairs.join(da, a_col).join(db, ["landmark", b_col])
           .groupBy(a_col, b_col)
           .agg(F.min(F.col("_da") + F.col("_db")).alias("est")))
    return pairs.join(est, [a_col, b_col], "left")


def earliest_arrival(edges: DataFrame, seeds: DataFrame | list,
                     src: str = "src", dst: str = "dst", ts: str = "ts",
                     start: int = 0, max_rounds: int = 100) -> DataFrame:
    """Time-respecting (temporal) reachability: (id, arrival) for every
    node reachable from the seeds along paths whose edge timestamps are
    NON-DECREASING — the temporal-graph analogue of BFS (an edge that
    fires before you arrive at its source cannot carry you).

    ``arrival(v)`` = minimum final-edge timestamp over all temporal paths
    from any seed; seeds themselves report ``start`` (and may only leave
    on edges with ``t >= start``).  Timestamps are epoch/index longs;
    NULL timestamps RAISE (an unknown firing time cannot be ordered).

    Same relaxation shape as :func:`shortest_paths` — per round one join
    of the arrival table to edges with the ``t >= arrival`` predicate,
    one map-side-combinable min, one keys-only change check; converges
    within the temporal hop diameter, loud RuntimeError on cap.  Note
    min-arrival relaxation is CORRECT for earliest arrival because a
    smaller arrival never closes doors (t >= arr is monotone) — the same
    argument that makes Bellman-Ford work for min-plus."""
    checked_t = F.when(
        F.col(ts).isNull(),
        F.raise_error(F.concat(
            F.lit("earliest_arrival: NULL timestamp on edge "),
            F.col(src).cast("string"), F.lit("->"),
            F.col(dst).cast("string")))).otherwise(F.col(ts).cast("long"))
    e = _checkpoint(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v"),
                                 checked_t.alias("t"))
                    .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
                    .distinct())
    spark = edges.sparkSession
    if isinstance(seeds, list):
        t = e.schema["u"].dataType.simpleString()
        seeds = local_frame(spark, [(s,) for s in sorted(set(seeds))],
                            f"id {t}")

    def relax(arr):
        return (e.join(arr.withColumnRenamed("id", "u"), "u")
                .filter(F.col("t") >= F.col("arrival"))
                .select(F.col("v").alias("id"), F.col("t").alias("arrival")))

    return _relax_min(seeds.select("id",
                                   F.lit(start).cast("long").alias("arrival")),
                      ["id"], "arrival", relax, max_rounds, "earliest_arrival")


def dag_path_counts(edges: DataFrame, sources: DataFrame | list,
                    src: str = "src", dst: str = "dst",
                    max_rounds: int = 100,
                    max_count: int = 2 ** 62) -> DataFrame:
    """(id, n_paths) — the EXACT number of distinct directed paths from
    any source to each reachable node, for a DAG: the layered dynamic
    program walks_t = Aᵀ·walks_{t-1} summed over t (in a DAG every walk
    is a path and walks vanish past the longest path length).  Sources
    count their empty path (n_paths includes 1 for the source itself).

    All BIGINT: path counts explode combinatorially, so every round
    checks ``max_count`` and RAISES on breach (a silently wrapped count
    is worse than no count); a frontier still alive at ``max_rounds``
    also raises — on a DAG that means the cap is below the longest
    path, on anything else it means a CYCLE (walk counts never drain).
    Per round: one join + one map-side-combinable sum — the
    shortest_paths relaxation shape with + instead of min."""
    e = _checkpoint(edges.select(F.col(src).alias("u"),
                                 F.col(dst).alias("v"))
                    .filter(F.col("u").isNotNull()
                            & F.col("v").isNotNull()).distinct())
    spark = edges.sparkSession
    if isinstance(sources, list):
        t = e.schema["u"].dataType.simpleString()
        sources = local_frame(
            spark, [(s,) for s in sorted(set(sources))], f"id {t}")

    def step(state):
        cur, total = state
        nxt = _checkpoint(
            e.join(cur.withColumnRenamed("id", "u"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("w").alias("w")))
        if nxt.isEmpty():
            return state, True
        if not nxt.filter(F.col("w") > max_count).isEmpty():
            raise RuntimeError(
                "dag_path_counts: a path count exceeded max_count="
                f"{max_count} — combinatorial explosion; count on a "
                "restricted subgraph")
        return (nxt, _checkpoint(total.unionByName(nxt))), False

    cur = _checkpoint(sources.select(
        "id", F.lit(1).cast("long").alias("w")))
    total = _fixpoint(
        (cur, cur), step, max_rounds, "dag_path_counts",
        ": walks are still alive, so the longest path exceeds the cap or "
        "the graph has a CYCLE (walk counts never drain on cycles)")[1]
    return total.groupBy("id").agg(F.sum("w").alias("n_paths"))


def double_sweep_diameter(edges: DataFrame, src: str = "src",
                          dst: str = "dst",
                          start=None, max_rounds: int = 100) -> DataFrame:
    """Diameter LOWER BOUND via the double-sweep heuristic
    (Magnien, Latapy & Habib 2009): BFS from a start node, move to the
    farthest node found (ties: smaller id), BFS again — the second
    sweep's eccentricity lower-bounds the diameter, is EXACT on trees
    and empirically tight on real graphs, for the cost of two BFS
    instead of |V|.  Undirected (edges symmetrized); unreachable
    components are simply not seen — run once per component for a
    global bound.  Returns ONE row (start, far_node, diameter_lb).

    The only driver-side value is the single argmax row between sweeps
    (algorithmically tiny); both sweeps are :func:`shortest_paths`
    frontier relaxations."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .filter(F.col("u").isNotNull() & F.col("v").isNotNull()
                 & (F.col("u") != F.col("v"))))
    sym = _checkpoint(e.unionByName(e.select(F.col("v").alias("u"),
                                             F.col("u").alias("v")))
                      .distinct())
    if start is None:
        start = sym.agg(F.min("u")).collect()[0][0]
    d1 = shortest_paths(sym, [start], src="u", dst="v",
                        max_rounds=max_rounds)
    far = d1.orderBy(F.desc("dist"), F.asc("id")).first()
    d2 = shortest_paths(sym, [far.id], src="u", dst="v",
                        max_rounds=max_rounds)
    spark = edges.sparkSession
    lb = d2.agg(F.max("dist").alias("diameter_lb"))
    t = sym.schema["u"].dataType.simpleString()
    meta = local_frame(spark, [(start, far.id)],
                       f"start {t}, far_node {t}")
    return meta.crossJoin(lb)
