"""Sampled betweenness centrality — Brandes (2001) with source sampling
(Brandes & Pich, 2007).

Betweenness ranks the broker nodes a KG's traffic actually flows through —
the complement of degree/pagerank importance.  Exact Brandes is O(V*E)
(every node a source); the published scalable variant samples k sources and
sums their dependencies, which is what a 10^9-node graph allows.  Source
choice here is DETERMINISTIC (md5-ordered node ids, replayable in ANSI
SQL), not random — same spirit as every seeded sample in this repo.

Algorithm, expressed as level-synchronous DataFrame passes (all k sources
concurrent in one (source, node)-keyed state table, like
paths.landmark_distances):

  forward   BFS levels with path counts: frontier joins the edge table,
            anti-joins already-assigned (source, node) keys, and SUMS sigma
            over predecessors — one shuffle per level, exact BIGINTs.
  backward  dependency accumulation, deepest level first:
            delta(v) = sum over successors w of sigma_v/sigma_w*(1+delta_w).
            In BFS every successor is exactly one level deeper, so level
            l-1 deltas depend only on FINAL level-l deltas — each level is
            one join + one map-side-combinable sum.

Engine-exactness: deltas are rationals; we carry them as micro-BIGINTs
with the per-term truncation  (sigma_v * (1e6 + delta_w)) DIV sigma_w —
floor-per-edge-term then integer sum, order-independent and identical in
Spark and DuckDB (both DIV/// truncate non-negative integers).  The oracle
(query ``sampled_betweenness``) replays the exact same level algebra
unrolled.  A loud sigma-magnitude guard rejects graphs whose path counts
could overflow the 64-bit micro product — a silent wraparound would
corrupt every score downstream.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traversal import _checkpoint, _fixpoint

# sigma <= 2^20 keeps sigma * (1e6 + delta) far below 2^63 even with
# delta ~ n * 1e6 for millions of reachable pairs
SIGMA_EXACT_MAX = 1 << 20


def _betweenness_local(spark, sym_rows, sources, num_sources, max_rounds, ty):
    """Small-graph path: the identical level algebra — exact BIGINT sigmas,
    per-term truncating micro dependency accumulation, loud caps/guards —
    over the collected symmetric edge list (zero per-level Spark jobs)."""
    import hashlib

    adj: dict = {}
    nodes = set()
    for a, b in sym_rows:
        adj.setdefault(a, []).append(b)
        nodes.add(a)
        nodes.add(b)
    if sources is None:
        srcs = sorted(nodes, key=lambda n: (
            hashlib.md5(str(n).encode()).hexdigest(), n))[:int(num_sources)]
    else:
        srcs = sorted({r[0] for r in sources.collect()})

    # forward: level-synchronous BFS with path counts
    dist = {(s, s): 0 for s in srcs}
    sigma = {(s, s): 1 for s in srcs}

    def step(state):
        frontier, level = state
        acc: dict = {}
        for s, v in frontier:
            sv = sigma[(s, v)]
            for b in adj.get(v, ()):
                if (s, b) not in dist:
                    acc[(s, b)] = acc.get((s, b), 0) + sv
        if not acc:
            return state, True
        for k, sg in acc.items():
            dist[k] = level + 1
            sigma[k] = sg
        return (list(acc), level + 1), False

    _, level = _fixpoint((list(dist), 0), step, max_rounds,
                         "sampled_betweenness")
    max_sigma = max(sigma.values(), default=0)
    if max_sigma > SIGMA_EXACT_MAX:
        raise ValueError(
            f"max path count sigma={max_sigma} exceeds the micro-exact "
            f"bound {SIGMA_EXACT_MAX} — the 64-bit micro product could "
            "overflow silently; this graph needs the float formulation")

    # backward: dependency accumulation, deepest level first
    delta = {k: 0 for k, d in dist.items() if d == level}
    all_rows = dict(delta)
    for l in range(level, 0, -1):
        nxt_delta: dict = {}
        for (s, v), d in dist.items():
            if d != l - 1:
                continue
            sv = sigma[(s, v)]
            t = 0
            for b in adj.get(v, ()):
                if (s, b) in delta:
                    t += (sv * (1_000_000 + delta[(s, b)])) // sigma[(s, b)]
            nxt_delta[(s, v)] = t
        delta = nxt_delta
        all_rows.update(delta)
    out: dict = {}
    for (s, v), d in all_rows.items():
        if v != s:
            out[v] = out.get(v, 0) + d
    return spark.createDataFrame(
        [(v, d) for v, d in sorted(out.items())],
        f"id {ty}, bc_micro long")


def sampled_betweenness(edges: DataFrame, num_sources: int = 8,
                        src: str = "src", dst: str = "dst",
                        sources: DataFrame | None = None,
                        max_rounds: int = 100) -> DataFrame:
    """(id, bc_micro) — micro-scaled sampled betweenness over the
    UNDIRECTED graph: bc(v) = sum over sampled sources s != v of the
    Brandes dependency delta_s(v).  Raw sampled sum (no n/k extrapolation
    factor — callers comparing runs with different k scale themselves).
    Nodes unreachable from every sampled source produce no row."""
    e0 = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
          .filter(F.col("a").isNotNull() & F.col("b").isNotNull()
                  & (F.col("a") != F.col("b"))))
    from .traversal import SMALL_GRAPH_THRESHOLD, small_rows

    # probe the DIRECTED edge set and symmetrize driver-side: the old
    # probe collected union(e0, flip(e0)).distinct(), whose outer distinct
    # added an exchange stage on top of the substrate (13 -> 12 jobs)
    rows = small_rows(e0)
    if rows is not None:
        seen: set = set()
        sym_rows = []
        for a, b in rows:
            for p in ((a, b), (b, a)):
                if p not in seen:
                    seen.add(p)
                    sym_rows.append(p)
        if len(sym_rows) <= SMALL_GRAPH_THRESHOLD:
            return _betweenness_local(edges.sparkSession, sym_rows, sources,
                                      num_sources, max_rounds,
                                      e0.schema["a"].dataType.simpleString())

    sym = e0.unionByName(
        e0.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()

    e = _checkpoint(sym)
    if sources is None:
        nodes = e.select(F.col("a").alias("id")).distinct()
        sources = (nodes
                   .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
                   .limit(int(num_sources)))

    # ---- forward: BFS levels + path counts -------------------------------
    assigned = _checkpoint(sources.select(
        F.col("id").alias("s"), F.col("id").alias("v"),
        F.lit(0).alias("dist"), F.lit(1).cast("long").alias("sigma")))

    def step(state):
        assigned, frontier, level = state
        nxt = _checkpoint(
            frontier.join(e, frontier["v"] == e["a"])
            .select("s", F.col("b").alias("v"), "sigma")
            .join(assigned.select("s", "v"), ["s", "v"], "left_anti")
            .groupBy("s", "v").agg(F.sum("sigma").alias("sigma"))
            .withColumn("dist", F.lit(level + 1))
            .select("s", "v", "dist", "sigma"))
        if nxt.isEmpty():
            return state, True
        return (_checkpoint(assigned.unionByName(nxt)), nxt, level + 1), False

    assigned, _, level = _fixpoint((assigned, assigned, 0), step, max_rounds,
                                   "sampled_betweenness")
    max_sigma = assigned.agg(F.max("sigma")).collect()[0][0] or 0
    if max_sigma > SIGMA_EXACT_MAX:
        raise ValueError(
            f"max path count sigma={max_sigma} exceeds the micro-exact "
            f"bound {SIGMA_EXACT_MAX} — the 64-bit micro product could "
            "overflow silently; this graph needs the float formulation")

    # ---- backward: dependency accumulation, deepest level first ----------
    cur = _checkpoint(assigned.filter(F.col("dist") == level)
                      .select("s", "v", "sigma",
                              F.lit(0).cast("long").alias("delta")))
    layers = [cur]
    for l in range(level, 0, -1):
        upper = assigned.filter(F.col("dist") == l - 1)
        contrib = (upper.alias("f")
                   .join(e, F.col("f.v") == F.col("a"))
                   .join(cur.alias("w"),
                         (F.col("w.v") == F.col("b"))
                         & (F.col("w.s") == F.col("f.s")))
                   .select(F.col("f.s").alias("s"), F.col("f.v").alias("v"),
                           F.col("f.sigma").alias("sv"),
                           F.col("w.sigma").alias("sw"),
                           F.col("w.delta").alias("dw"))
                   .selectExpr("s", "v",
                               "(sv * (1000000 + dw)) DIV sw AS term")
                   .groupBy("s", "v").agg(F.sum("term").alias("delta")))
        cur = _checkpoint(
            upper.join(contrib, ["s", "v"], "left")
            .select("s", "v", "sigma",
                    F.coalesce("delta", F.lit(0)).cast("long").alias("delta")))
        layers.append(cur)
    alld = layers[0]
    for d in layers[1:]:
        alld = alld.unionByName(d)
    return (alld.filter(F.col("v") != F.col("s"))
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("delta").alias("bc_micro")))
