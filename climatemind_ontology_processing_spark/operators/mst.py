"""Distributed minimum spanning forest — Borůvka's algorithm.

KG canonicalization and entity clustering often need the lightest
backbone of a similarity graph (single-linkage clustering IS the MSF:
cutting its heaviest edges yields the clusters).  Borůvka is the
canonical distributed MST algorithm — every round each component hooks
its minimum outgoing edge and components merge, so the component count
at least halves per round: <= log2(V) rounds regardless of cluster
size, each round plain joins + one map-side-combinable min aggregate.

Determinism/ties: edges are totally ordered by (weight, lo, hi) — the
lexicographic-perturbation trick — so the MSF is UNIQUE even with
duplicate weights and the result is engine-exact (the registered
oracle applies the cycle property under the same total order: an edge
is in the MSF iff its endpoints are NOT connected by strictly-lighter
edges).

Scale shape: the per-round projection joins edges to the (node, label)
table — shuffle on node id; the min-outgoing aggregate is keys-only
(component, packed edge).  The hook graph each round has at most one
edge per component and shrinks geometrically; its merge reuses
``canonicalize.connected_components`` (salted option available there
for mega-hubs).  Edges already inside one component are dropped from
the working set each round, so the scanned edge set shrinks too.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import connected_components
from .traversal import _checkpoint, _fixpoint, small_rows


def boruvka_msf(edges: DataFrame, src: str = "src", dst: str = "dst",
                weight: str = "weight", max_rounds: int = 40) -> DataFrame:
    """Minimum spanning forest of the undirected graph: one row
    (lo, hi, weight) per MSF edge.

    Parallel (multi-edge) input collapses to the minimum-weight edge per
    canonical (lo, hi) pair first; self-loops are dropped.  NULL weights
    RAISE — a silent NULL would sort unpredictably between engines.
    Raises RuntimeError if ``max_rounds`` is exhausted before the hook
    step quiesces (a truncated forest is invisible otherwise; the
    default 40 covers any graph below 2^40 nodes).

    Size-adaptive: under traversal.SMALL_GRAPH_THRESHOLD edges the same
    Borůvka rounds run driver-side — identical hook choices under the
    (w, lo, hi) total order, identical round-cap behavior, zero per-round
    Spark jobs.  (The MSF is UNIQUE given the total order — the
    registered oracle proves it algorithm-independently via the cycle
    property.)  Pinned against the distributed path in pytest.
    """
    probe = small_rows(edges.select(src, dst, weight))
    if probe is not None:
        best: dict = {}
        for s, d, w in probe:
            if s is None or d is None or s == d:
                continue          # least/greatest turn these into
                # self-loops, which the filter drops
            if w is None:
                raise RuntimeError(
                    f"boruvka_msf: NULL weight on edge {s}-{d}")
            k = (s, d) if s <= d else (d, s)
            if k not in best or w < best[k]:
                best[k] = w
        parent: dict = {}
        for lo, hi in best:
            parent.setdefault(lo, lo)
            parent.setdefault(hi, hi)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def step(out):
            inter = [(lo, hi, w) for (lo, hi), w in best.items()
                     if find(lo) != find(hi)]
            chosen: dict = {}
            for lo, hi, w in inter:
                key = (w, lo, hi)
                for c in (find(lo), find(hi)):
                    if c not in chosen or key < chosen[c]:
                        chosen[c] = key
            for w, lo, hi in sorted(set(chosen.values())):
                ra, rb = find(lo), find(hi)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                out.append((lo, hi, w))
            return out, not inter

        ts = edges.schema[src].dataType.simpleString()
        tw = edges.schema[weight].dataType.simpleString()
        return edges.sparkSession.createDataFrame(
            _fixpoint([], step, max_rounds, "boruvka_msf"),
            f"lo {ts}, hi {ts}, {weight} {tw}")

    checked_w = F.when(
        F.col(weight).isNull(),
        F.raise_error(F.concat(
            F.lit("boruvka_msf: NULL weight on edge "),
            F.col(src).cast("string"), F.lit("-"),
            F.col(dst).cast("string")))).otherwise(F.col(weight))
    e = _checkpoint(edges.select(F.least(src, dst).alias("lo"),
                                 F.greatest(src, dst).alias("hi"),
                                 checked_w.alias("w"))
                    .filter(F.col("lo") != F.col("hi"))
                    .groupBy("lo", "hi").agg(F.min("w").alias("w")))

    def step(state):
        e, labels, forest = state
        lab_lo = labels.select(F.col("id").alias("lo"),
                               F.col("label").alias("_cl"))
        lab_hi = labels.select(F.col("id").alias("hi"),
                               F.col("label").alias("_ch"))
        proj = (e.join(lab_lo, "lo").join(lab_hi, "hi")
                .filter(F.col("_cl") != F.col("_ch")))
        # intra-component edges never rejoin the working set
        e = _checkpoint(proj.select("lo", "hi", "w"))
        if e.isEmpty():
            return state, True
        # min outgoing edge per component under the (w, lo, hi) total
        # order — one keys-only min_by aggregate over both directions
        pick = F.struct(F.col("w"), F.col("lo"), F.col("hi"))
        cand = (proj.select(F.col("_cl").alias("_c"), pick.alias("_p"))
                .unionByName(
                    proj.select(F.col("_ch").alias("_c"), pick.alias("_p"))))
        chosen = _checkpoint(
            cand.groupBy("_c").agg(F.min("_p").alias("_p"))
            .select(F.col("_p.w").alias("w"), F.col("_p.lo").alias("lo"),
                    F.col("_p.hi").alias("hi"))
            .distinct())               # both endpoints may pick one edge
        forest = _checkpoint(
            forest.unionByName(chosen.select("lo", "hi", "w")))
        # merge: component-level hook graph, then CC (min-label); the
        # hook graph has <= one edge per component — geometric shrink
        hooks = (chosen
                 .join(lab_lo, "lo").join(lab_hi, "hi")
                 .select(F.col("_cl").alias("src"),
                         F.col("_ch").alias("dst")))
        merged = connected_components(hooks)  # (id=old label, component)
        labels = _checkpoint(
            labels.join(merged.withColumnRenamed("id", "label"),
                        "label", "left")
            .select("id", F.coalesce("component", "label").alias("label")))
        return (e, labels, forest), False

    nodes = (e.select(F.col("lo").alias("id"))
             .unionByName(e.select(F.col("hi").alias("id")))
             .distinct())
    labels = _checkpoint(nodes.select("id", F.col("id").alias("label")))
    forest = edges.sparkSession.createDataFrame([], e.schema)
    forest = _fixpoint((e, labels, forest), step, max_rounds,
                       "boruvka_msf")[2]
    return forest.select("lo", "hi", F.col("w").alias(weight))


def greedy_matching(edges: DataFrame, src: str = "src", dst: str = "dst",
                    weight: str = "weight",
                    max_rounds: int = 60) -> DataFrame:
    """Greedy maximal matching by ascending (weight, lo, hi): one row
    (lo, hi, weight) per matched edge, no two sharing a node — the 1:1
    assignment primitive entity resolution needs on top of pairwise
    similarity scores (each record marries at most one counterpart;
    ascending = weight-as-cost; negate scores for weight-as-similarity).

    Parallel LOCALLY-DOMINANT rounds (Preis 1999 / Manne–Bisseling): an
    edge matches when it is the minimum incident edge of BOTH its
    endpoints under the total order; matched nodes' edges retire, repeat.
    Locally-dominant selection produces EXACTLY the sequential greedy
    matching (at every greedy step the globally-next edge is locally
    dominant, and locally-dominant picks never conflict with it) — pinned
    against a sequential replica in pytest and by the unrolled-round
    oracle.  Expected O(log E) rounds under hashed weights; loud
    RuntimeError on cap — a truncated matching would silently violate
    maximality.

    Each round: one keys-only per-node min aggregate + two broadcast-or-
    shuffle joins + anti-join retirement.  Parallel multi-edges collapse
    to their min weight first; self-loops drop."""
    checked_w = F.when(
        F.col(weight).isNull(),
        F.raise_error(F.concat(
            F.lit("greedy_matching: NULL weight on edge "),
            F.col(src).cast("string"), F.lit("-"),
            F.col(dst).cast("string")))).otherwise(F.col(weight))
    alive = _checkpoint(edges.select(F.least(src, dst).alias("lo"),
                                     F.greatest(src, dst).alias("hi"),
                                     checked_w.alias("w"))
                        .filter(F.col("lo") != F.col("hi"))
                        .groupBy("lo", "hi").agg(F.min("w").alias("w")))
    key = F.struct(F.col("w"), F.col("lo"), F.col("hi"))

    def step(state):
        alive, matched = state
        inc = (alive.select(F.col("lo").alias("_n"), key.alias("_k"))
               .unionByName(
                   alive.select(F.col("hi").alias("_n"), key.alias("_k"))))
        nodemin = inc.groupBy("_n").agg(F.min("_k").alias("_mk"))
        dom = _checkpoint(
            alive.join(nodemin.select(F.col("_n").alias("lo"),
                                      F.col("_mk").alias("_ml")), "lo")
            .join(nodemin.select(F.col("_n").alias("hi"),
                                 F.col("_mk").alias("_mh")), "hi")
            .filter((key == F.col("_ml")) & (key == F.col("_mh")))
            .select("lo", "hi", "w"))
        matched = _checkpoint(matched.unionByName(dom))
        used = (dom.select(F.col("lo").alias("_n"))
                .unionByName(dom.select(F.col("hi").alias("_n"))))
        alive = _checkpoint(
            alive.join(used.withColumnRenamed("_n", "lo"), "lo", "left_anti")
            .join(used.withColumnRenamed("_n", "hi"), "hi", "left_anti"))
        return (alive, matched), alive.isEmpty()

    matched = edges.sparkSession.createDataFrame([], alive.schema)
    matched = _fixpoint((alive, matched), step, max_rounds,
                        "greedy_matching")[1]
    return matched.select("lo", "hi", F.col("w").alias(weight))


def msf_increment(forest: DataFrame, new_edges: DataFrame,
                  src: str = "src", dst: str = "dst",
                  weight: str = "weight",
                  max_rounds: int = 40) -> DataFrame:
    """Incremental minimum-spanning-forest maintenance:

        MSF(G ∪ Δ)  =  MSF( MSF(G) ∪ Δ )

    — the classic sparsification identity (non-forest edges of G can
    never re-enter any MSF when edges are only ADDED, by the cycle
    property).  So absorbing a batch of Δ new edges costs Borůvka on
    |V| + |Δ| edges instead of re-scanning all of |E| — the nightly-KG
    shape where the similarity graph grows by one day's candidates.

    ``forest`` must be a previous :func:`boruvka_msf` (or this
    function's) output — (lo, hi, weight) rows; the identity silently
    breaks under edge DELETION, so this operator only ever unions.
    Equivalence with the full recompute is pinned by the registered
    oracle (which recomputes from ALL edges via the cycle property) and
    by pytest."""
    f = forest.select(F.col("lo").alias(src), F.col("hi").alias(dst),
                      F.col(weight))
    d = new_edges.select(src, dst, weight)
    return boruvka_msf(f.unionByName(d), src=src, dst=dst, weight=weight,
                       max_rounds=max_rounds)


def coarsen_mapping(edges: DataFrame, src: str = "src", dst: str = "dst",
                    weight: str = "weight",
                    max_rounds: int = 60) -> DataFrame:
    """(id, rep) node mapping for ONE multilevel coarsening level (the
    METIS/Graclus shape): nodes paired by :func:`greedy_matching`
    contract into the pair's smaller id; unmatched nodes map to
    themselves.  Every node incident to an edge appears exactly once."""
    m = _checkpoint(greedy_matching(edges, src, dst, weight, max_rounds))
    nodes = (edges.select(F.col(src).alias("id"))
             .unionByName(edges.select(F.col(dst).alias("id")))
             .filter(F.col("id").isNotNull()).distinct())
    pair_map = (m.select(F.col("lo").alias("id"), F.col("lo").alias("rep"))
                .unionByName(
                    m.select(F.col("hi").alias("id"),
                             F.col("lo").alias("rep"))))
    return (nodes.join(pair_map, "id", "left")
            .select("id", F.coalesce("rep", F.col("id")).alias("rep")))


def coarsen_graph(edges: DataFrame, mapping: DataFrame, src: str = "src",
                  dst: str = "dst", weight: str = "weight") -> DataFrame:
    """Contract ``edges`` through a coarsening ``mapping`` (id, rep):
    canonical coarse edge (lo, hi) with SUMMED weight, intra-pair
    self-loops dropped (their weight is interior to the super-node —
    exactly what multilevel partitioners discard).  Unmapped endpoints
    raise lazily (quotient_graph discipline)."""
    mp = mapping.select(F.col("id"), F.col("rep"))

    def side(col):
        return F.when(
            F.col("_r").isNull(),
            F.raise_error(F.concat(
                F.lit("coarsen_graph: unmapped node "),
                F.col(col).cast("string")))).otherwise(F.col("_r"))

    e = (edges
         .join(mp.withColumnRenamed("id", src)
                 .withColumnRenamed("rep", "_r"), src, "left")
         .withColumn("_rs", side(src)).drop("_r")
         .join(mp.withColumnRenamed("id", dst)
                 .withColumnRenamed("rep", "_r"), dst, "left")
         .withColumn("_rd", side(dst)).drop("_r"))
    return (e.select(F.least("_rs", "_rd").alias("lo"),
                     F.greatest("_rs", "_rd").alias("hi"),
                     F.col(weight).cast("long").alias("w"))
            .filter(F.col("lo") != F.col("hi"))
            .groupBy("lo", "hi").agg(F.sum("w").alias(weight)))


def partition_stats(edges: DataFrame, mapping: DataFrame,
                    src: str = "src", dst: str = "dst") -> DataFrame:
    """Partition-quality report for a node→part ``mapping`` (id, rep):
    ONE summary row (n_parts, n_nodes, edge_cut, cut_micro,
    max_part_size, balance_micro) —

      * ``edge_cut``      — distinct undirected edges crossing parts,
      * ``cut_micro``     — edge_cut * 10^6 DIV total undirected edges,
      * ``balance_micro`` — max part size * n_parts * 10^6 DIV n_nodes
                            (10^6 = perfectly balanced; 2*10^6 = the
                            largest part is twice its fair share).

    The multilevel story's evaluation leg (coarsen → partition →
    EVALUATE); also the acceptance gate for any label-propagation or
    hash partitioning before a production bucketing decision.  Unmapped
    endpoints raise lazily (quotient_graph discipline)."""
    e = (edges.select(F.least(src, dst).alias("lo"),
                      F.greatest(src, dst).alias("hi"))
         .filter(F.col("lo") != F.col("hi")).distinct())
    mp = mapping.select("id", "rep")

    def side(col):
        return F.when(
            F.col("_r").isNull(),
            F.raise_error(F.concat(
                F.lit("partition_stats: unmapped node "),
                F.col(col).cast("string")))).otherwise(F.col("_r"))

    tagged = (e.join(mp.withColumnRenamed("id", "lo")
                     .withColumnRenamed("rep", "_r"), "lo", "left")
              .withColumn("_pl", side("lo")).drop("_r")
              .join(mp.withColumnRenamed("id", "hi")
                    .withColumnRenamed("rep", "_r"), "hi", "left")
              .withColumn("_ph", side("hi")).drop("_r"))
    edge_stats = tagged.agg(
        F.count("*").alias("n_edges"),
        F.sum((F.col("_pl") != F.col("_ph")).cast("long"))
        .alias("edge_cut"))
    sizes = mp.groupBy("rep").agg(F.count("*").alias("sz"))
    part_stats = sizes.agg(F.count("*").alias("n_parts"),
                           F.sum("sz").alias("n_nodes"),
                           F.max("sz").alias("max_part_size"))
    return (edge_stats.crossJoin(part_stats)
            .select("n_parts", "n_nodes", "edge_cut",
                    F.expr("(edge_cut * 1000000) div n_edges")
                    .alias("cut_micro"),
                    "max_part_size",
                    F.expr("(max_part_size * n_parts * 1000000)"
                           " div n_nodes").alias("balance_micro")))


def single_linkage_clusters(edges: DataFrame, n_clusters: int,
                            src: str = "src", dst: str = "dst",
                            weight: str = "weight",
                            max_rounds: int = 40) -> DataFrame:
    """Exact single-linkage clustering into ``n_clusters`` groups:
    compute the MSF (:func:`boruvka_msf`), CUT its ``n_clusters - 1``
    heaviest edges under the (w, lo, hi) total order (descending), and
    return the connected components of the rest as (id, cluster) with
    min-id representatives — the classic MST↔single-linkage duality
    (agglomerative clustering's dendrogram IS the MSF).

    If the graph has fewer nodes than ``n_clusters``, or the MSF has
    fewer than ``n_clusters - 1`` edges (already disconnected into more
    pieces), the result simply has more clusters than asked — cutting
    can only split, never merge; documented rather than guessed.  Cost
    = Borůvka + one forest-sized sort-limit + one CC over a forest."""
    if n_clusters < 1:
        raise ValueError("n_clusters must be >= 1")
    msf = _checkpoint(boruvka_msf(edges, src, dst, weight, max_rounds))
    cut = (msf.orderBy(F.desc(weight), F.desc("lo"), F.desc("hi"))
           .limit(n_clusters - 1))
    kept = msf.join(cut, ["lo", "hi"], "left_anti")
    nodes = (edges.select(F.least(src, dst).alias("id"))
             .unionByName(edges.select(F.greatest(src, dst).alias("id")))
             .filter(F.col("id").isNotNull()).distinct())
    cc = connected_components(kept, src="lo", dst="hi")
    return (nodes.join(cc, "id", "left")
            .select("id", F.coalesce("component", F.col("id"))
                    .alias("cluster")))
