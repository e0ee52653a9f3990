"""Strongly connected components — directed-cycle structure of the KG.

Complements the acyclicity toolkit (ref `make_graph.py`'s rule-based cycle
cut, our `acyclic.residual_cycle_pairs` DAG validator): SCCs *locate* the
cycle groups — e.g. mutually-causal concept clusters that survive edge
typing — where `residual_cycle_pairs` only witnesses their existence.
Component id = MIN member id, matching `connected_components`' convention.

Size-adaptive like `traversal`: below ``SMALL_GRAPH_THRESHOLD`` edges the
graph collects to the driver and runs iterative Tarjan (one pass) to find
each SCC's root, then collects its members as step 3 below does; above
it, the distributed FW-BW **coloring** algorithm (Orzan'04 / Fleischer et
al.'s divide-and-conquer family, the standard Pregel/MapReduce SCC shape):

  repeat until no nodes remain:
    1. TRIM: nodes with no in- or no out-edges in the remaining graph are
       singleton SCCs (peels chains/DAG fringes — keys-only joins);
    2. COLOR: propagate min-ancestor labels forward to fixpoint
       (``color(v) = min id over ancestors(v) + v``) with pointer jumping —
       valid because the ancestor relation is transitive, so
       ``color(color(v))`` is still an ancestor of ``v``;
    3. COLLECT: for each root (``color(v) == v``), backward-BFS within its
       color class (``traversal._reach`` over the reversed intra-color
       edges, tagged by root); the collected set IS ``SCC(root)`` (any
       intermediate node w on a path v -> root with root ->* v satisfies
       w ->* root and root ->* w, hence shares the color — the classic
       FW-BW argument), and root is its min member;
    4. remove collected SCCs and iterate on the remainder.

Every shuffle in the distributed path carries (node, label) pairs only —
never adjacency lists or payloads; min-aggregations combine map-side.
Equivalence of the two paths is pinned in tests (same fixture style as
test_traversal_distributed).
"""
from __future__ import annotations

from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traversal import (_adjacency, _changed, _checkpoint, _fixpoint, _reach,
                        _reach_local, small_rows)


def _tarjan_components(edge_rows, nodes) -> list[tuple]:
    """Iterative Tarjan; returns (id, component=min member) sorted."""
    adj: dict = {n: [] for n in nodes}
    for a, b in edge_rows:
        adj[a].append(b)
    index: dict = {}
    low: dict = {}
    on_stack: set = set()
    stack: list = []
    comp: dict = {}
    counter = 0
    for start in nodes:
        if start in index:
            continue
        work = [(start, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                members = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    members.append(w)
                    if w == v:
                        break
                rep = min(members)
                for w in members:
                    comp[w] = rep
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return sorted(comp.items())


def _coloring_round(cur: DataFrame, color: DataFrame):
    """One min-ancestor coloring round over the edges ``cur``: forward
    propagation plus a pointer jump; converged once no color moved."""
    inc = (cur.join(color.select(F.col("id").alias("a"),
                                 F.col("comp").alias("cu")), "a")
           .groupBy("b").agg(F.min("cu").alias("nbr")))
    new = (color.join(inc.withColumnRenamed("b", "id"), "id", "left")
           .select("id", F.least(F.col("comp"),
                                 F.coalesce("nbr", "comp")).alias("comp")))
    jump = _checkpoint(
        new.alias("x")
        .join(new.alias("y"), F.col("x.comp") == F.col("y.id"), "left")
        .select(F.col("x.id").alias("id"),
                F.least(F.col("x.comp"),
                        F.coalesce(F.col("y.comp"),
                                   F.col("x.comp"))).alias("comp")))
    return jump, _changed(jump, color, ["id"]).isEmpty()


def strongly_connected_components(edges: DataFrame, src: str = "src",
                                  dst: str = "dst", max_outer: int = 50,
                                  max_inner: int = 50) -> DataFrame:
    """Returns (id, component) over every node incident to a NON-self-loop
    edge, component = min id of the node's SCC.  Self-loops are dropped
    before node extraction (they never change SCC membership), so a node
    whose only edge is a self-loop produces no output row — callers
    joining back to a node table should left-join and default to the node
    itself.  The distributed path raises if the graph has not fully
    decomposed within ``max_outer`` rounds (a truncated result would be
    indistinguishable from a converged one).  Both paths raise when an
    SCC's backward collect needs more than ``max_inner`` expansions."""
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    t = e.schema["a"].dataType.simpleString()
    spark = edges.sparkSession

    rows = small_rows(e)
    if rows is not None:
        nodes = sorted({x for ab in rows for x in ab})
        comp = dict(_tarjan_components(rows, nodes))
        # step 3's collect on the driver: reverse reach from every root over
        # the intra-component edges, so its round cap fires as it would
        # on the distributed path
        hops = _adjacency(((a, b) for a, b in rows if comp[a] == comp[b]),
                          "reverse")
        members = _reach_local(hops, [(c, c) for c in set(comp.values())],
                               max_inner, "SCC backward collect")
        return spark.createDataFrame(sorted((v, c) for c, v in members),
                                     f"id {t}, component {t}")

    def outer_step(state):
        cur, nodes, found = state
        # --- 1. trim singleton SCCs (no in- or no out-edges remaining).
        # The cap only bounds an optimization, so it does not raise: a
        # singleton left untrimmed is still found by steps 2-3.
        for _ in range(max_inner):
            core = (cur.select(F.col("a").alias("id")).distinct()
                    .join(cur.select(F.col("b").alias("id")).distinct(), "id"))
            trimmed = nodes.join(core, "id", "left_anti")
            if trimmed.isEmpty():
                break
            found.append(trimmed.select("id", F.col("id").alias("component")))
            cur = _checkpoint(
                cur.join(core.withColumnRenamed("id", "a"), "a", "left_semi")
                   .join(core.withColumnRenamed("id", "b"), "b", "left_semi"))
            nodes = _checkpoint(core)
        if nodes.isEmpty():
            return (cur, nodes, found), True
        # --- 2. min-ancestor coloring (forward propagation + pointer jump)
        color = _fixpoint(
            _checkpoint(nodes.select("id", F.col("id").alias("comp"))),
            partial(_coloring_round, cur), max_inner, "SCC coloring")
        # --- 3. collect SCC(root) by backward BFS within each color class
        roots = (color.filter(F.col("id") == F.col("comp"))
                 .select(F.col("id").alias("tag"), "id"))
        intra = (cur
                 .join(color.select(F.col("id").alias("a"),
                                    F.col("comp").alias("ca")), "a")
                 .join(color.select(F.col("id").alias("b"),
                                    F.col("comp").alias("cb")), "b")
                 .filter(F.col("ca") == F.col("cb")))
        members = _reach(roots, intra.select(F.col("b").alias("from"),
                                             F.col("a").alias("to")),
                         max_inner, "SCC backward collect")
        found.append(members.select("id", F.col("tag").alias("component")))
        # --- 4. peel the found SCCs and iterate
        peeled = members.select("id")    # one tag per id: hops are intra-color
        cur = _checkpoint(
            cur.join(peeled.withColumnRenamed("id", "a"), "a", "left_anti")
               .join(peeled.withColumnRenamed("id", "b"), "b", "left_anti"))
        nodes = _checkpoint(nodes.join(peeled, "id", "left_anti"))
        return (cur, nodes, found), nodes.isEmpty()

    cur = _checkpoint(e)
    nodes = _checkpoint(cur.select(F.col("a").alias("id"))
                        .union(cur.select(F.col("b").alias("id"))).distinct())
    found = _fixpoint((cur, nodes, []), outer_step, max_outer,
                      "SCC decomposition")[2]
    if not found:                        # no non-self-loop edges at all
        return spark.createDataFrame([], f"id {t}, component {t}")
    return reduce(DataFrame.unionByName, found)
