"""Iterative graph-traversal operators (SURVEY §2.7 G2-G5, J5, J6).

The reference's traversals are Python recursion/stacks over an in-RAM NetworkX
graph (``ontology_processing_utils.py:7-41``, ``make_graph_class.py:440-455,
516-531``).  Catalyst has no fixpoint operator, so each traversal is a
driver-side loop of DataFrame joins with ``localCheckpoint`` per iteration to
cut lineage (SURVEY §4).  Iteration count is bounded by graph diameter (small
for causal web graphs); each iteration is one shuffle join on the frontier —
the frontier is usually tiny relative to the edge table, so Spark broadcasts
it under AQE.

Edges schema throughout: (src string, dst string, type string, ...).
"""
from __future__ import annotations

import os
from collections import defaultdict, deque

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Adaptive execution: below this edge count the traversal runs driver-side on
# the collected edge list (identical semantics, zero per-iteration job
# overhead); above it, the iterative-join path runs.  Mirrors Spark's own
# size-based strategy choices (broadcast threshold); the 10^12-scale path is
# the join loop, the curated-ontology path (hundreds of edges) is local.
SMALL_GRAPH_THRESHOLD = int(os.environ.get("CMKG_SMALL_GRAPH_EDGES", "200000"))

_DIRECTIONS = ("forward", "reverse", "any")


def small_rows(df: DataFrame) -> list[tuple] | None:
    """The size probe of every dual-path operator: ONE ``limit(N+1)``
    collect of ``df`` (N = ``SMALL_GRAPH_THRESHOLD``) that doubles as the
    driver twin's input.  Returns the distinct rows in first-seen order, or
    None when ``df`` has more than N raw rows or N <= 0 (the distributed
    arm runs).  The gate counts raw, pre-dedup rows — no distinct exchange
    on top of the caller's plan; the dedup happens on the collected rows.
    Project ``df`` to hashable columns (no maps) before calling."""
    n = SMALL_GRAPH_THRESHOLD
    if n <= 0:
        return None
    rows = df.limit(n + 1).collect()
    if len(rows) > n:
        return None
    return list(dict.fromkeys(tuple(r) for r in rows))


def _checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint with one retry.

    Spark 4.1's localCheckpoint intermittently fails with
    ``NoSuchElementException: key not found: <attr>`` when checkpointing a
    Union of previously-checkpointed plans (observed in the closure loop).
    Re-aliasing every column mints fresh attribute ids, which sidesteps the
    stale-attribute lookup.  If the retry fails too, its error propagates:
    an uncheckpointed plan would grow the lineage of every later iteration.
    """
    try:
        return df.localCheckpoint(eager=True)
    except Exception:
        aliased = df.select([F.col(c).alias(c) for c in df.columns])
        return aliased.localCheckpoint(eager=True)


def _adjacency(pairs, direction: str = "forward") -> dict:
    """Adjacency lists over (src, dst) pairs, each pair used once."""
    adj: dict = defaultdict(list)
    for s, d in dict.fromkeys(pairs):
        if direction in ("forward", "any"):
            adj[s].append(d)
        if direction in ("reverse", "any"):
            adj[d].append(s)
    return adj


def typed_adjacency(rows: list, direction: str = "forward",
                    edge_type: str | None = None) -> dict:
    """:func:`_adjacency` over (src, dst, type) rows, keeping only
    ``edge_type`` edges unless it is None — the driver twins' hop table."""
    return _adjacency(((s, d) for s, d, t in rows
                       if edge_type is None or t == edge_type), direction)


def _hop_pairs(edges: DataFrame, edge_type: str | None) -> DataFrame:
    """(src, dst) of the ``edge_type`` edges (all edges when None)."""
    e = edges if edge_type is None else edges.filter(F.col("type") == edge_type)
    return e.select("src", "dst")


def _hop_table(edges: DataFrame, direction: str,
               edge_type: str | None) -> DataFrame:
    """Checkpointed distinct (from, to) hops for the iterative BFS."""
    e = _hop_pairs(edges, edge_type)
    hops = []
    if direction in ("forward", "any"):
        hops.append(e.select(F.col("src").alias("from"), F.col("dst").alias("to")))
    if direction in ("reverse", "any"):
        hops.append(e.select(F.col("dst").alias("from"), F.col("src").alias("to")))
    hop = hops[0] if len(hops) == 1 else hops[0].unionByName(hops[1])
    return _checkpoint(hop.distinct())


def _check_direction(direction: str) -> None:
    if direction not in _DIRECTIONS:
        raise ValueError(f"bad direction {direction!r}")


def _seed_df(spark, seeds: DataFrame | list, id_type: str) -> DataFrame:
    if isinstance(seeds, list):
        return spark.createDataFrame([(s,) for s in sorted(set(seeds))],
                                     f"id {id_type}")
    return seeds


def _group_seeds(seeds: DataFrame) -> list[tuple[str, list]]:
    grouped: dict = defaultdict(list)
    for r in seeds.distinct().collect():
        grouped[r[0]].append(r[1])
    return sorted(grouped.items())


def _bfs_local(adj: dict, seeds: list) -> set:
    visited = set(seeds)
    q = deque(seeds)
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in visited:
                visited.add(v)
                q.append(v)
    return visited


def bfs_reachable(edges: DataFrame, seeds: DataFrame | list,
                  direction: str = "forward",
                  edge_type: str | None = None, max_iters: int = 200) -> DataFrame:
    """G2 — typed directional BFS (``custom_bfs``,
    ``ontology_processing_utils.py:7-41``): node set reachable from ``seeds``
    along edges of ``edge_type`` (None = "any") in ``direction`` (forward /
    reverse / any).  ``seeds`` is a DataFrame[id] or a driver-side list of
    ids; a list takes the type of ``edges.src`` on both arms.  Returns
    DataFrame[id] including the seeds.

    The reference returns an *induced subgraph*; compose with
    :func:`induced_edges` for the edge set.
    """
    _check_direction(direction)
    spark = edges.sparkSession
    src_type = edges.schema["src"].dataType.simpleString()
    rows = small_rows(_hop_pairs(edges, edge_type))
    if rows is not None:
        if isinstance(seeds, list):
            seed_vals, seed_type = set(seeds), src_type
        else:
            seed_vals = {r[0] for r in seeds.collect()}
            seed_type = seeds.schema.fields[0].dataType.simpleString()
        reached = sorted(_bfs_local(_adjacency(rows, direction),
                                    sorted(seed_vals)))
        return spark.createDataFrame([(v,) for v in reached], f"id {seed_type}")
    seeds = _seed_df(spark, seeds, src_type)
    hop = _hop_table(edges, direction, edge_type)
    visited = _checkpoint(seeds.select(F.col(seeds.columns[0]).alias("id")).distinct())
    frontier = visited
    for _ in range(max_iters):
        nxt = (frontier.join(hop, frontier.id == hop["from"])
               .select(F.col("to").alias("id")).distinct()
               .join(visited, "id", "left_anti"))
        nxt = _checkpoint(nxt)
        if nxt.isEmpty():
            break
        visited = _checkpoint(visited.unionByName(nxt))
        frontier = nxt
    return visited


def bfs_reachable_tagged(edges: DataFrame, seeds: DataFrame,
                         direction: str = "forward", edge_type: str | None = None,
                         max_iters: int = 200) -> DataFrame:
    """G10 — multi-source tagged BFS: ``seeds`` is DataFrame[tag, id]; expands
    all tags in ONE iterative join (one Spark loop for ~20 seeds, not 20
    loops).  Returns DataFrame[tag, id]."""
    _check_direction(direction)
    spark = edges.sparkSession
    rows = small_rows(_hop_pairs(edges, edge_type))
    if rows is not None:
        adj = _adjacency(rows, direction)
        id_field = seeds.schema.fields[1]
        out = []
        for tag, seed_vals in _group_seeds(seeds):
            for v in sorted(_bfs_local(adj, seed_vals)):
                out.append((tag, v))
        return spark.createDataFrame(
            out, f"tag string, id {id_field.dataType.simpleString()}")
    hop = _hop_table(edges, direction, edge_type)
    visited = _checkpoint(seeds.select("tag", F.col(seeds.columns[1]).alias("id")).distinct())
    frontier = visited
    for _ in range(max_iters):
        nxt = (frontier.join(hop, frontier.id == hop["from"])
               .select("tag", F.col("to").alias("id")).distinct()
               .join(visited, ["tag", "id"], "left_anti"))
        nxt = _checkpoint(nxt)
        if nxt.isEmpty():
            break
        visited = _checkpoint(visited.unionByName(nxt))
        frontier = nxt
    return visited


def induced_edges(edges: DataFrame, nodeset: DataFrame) -> DataFrame:
    """J5 — ``graph.subgraph(nodes)`` edge selection
    (``ontology_processing_utils.py:41,59``): keep edges with BOTH endpoints in
    the node set, via two left-semi joins (broadcast when the set is small)."""
    ns = nodeset.select(F.col(nodeset.columns[0]).alias("id")).distinct()
    return (edges.join(ns.withColumnRenamed("id", "src"), "src", "left_semi")
                 .join(ns.withColumnRenamed("id", "dst"), "dst", "left_semi"))


def union_subgraph(nodesets: list[DataFrame], edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """U4 — ``union_subgraph`` (``ontology_processing_utils.py:44-59``): union
    the node sets, then re-induce edges from the BASE graph so cross-subgraph
    edges are kept (unlike ``nx.union``).  Returns (nodes, induced_edges)."""
    out = nodesets[0].select(F.col(nodesets[0].columns[0]).alias("id"))
    for ns in nodesets[1:]:
        out = out.unionByName(ns.select(F.col(ns.columns[0]).alias("id")))
    out = out.distinct()
    return out, induced_edges(edges, out)


def transitive_closure(edges: DataFrame, edge_type: str | None = None,
                       max_iters: int = 200) -> DataFrame:
    """Reflexive-transitive closure pairs (src, dst): src reaches dst.

    Supports the G5 rewrite (SURVEY §2.7): node n lies on a simple path
    root -> e in a DAG iff reach(root, n) ∧ reach(n, e) — replacing the
    reference's exponential ``nx.all_simple_paths`` enumeration
    (``make_graph_class.py:522-528``) with a polynomial reachability product.

    Semi-naive iteration: delta ⨝ edges, accumulate, stop at fixpoint; bounded
    by diameter.  Reflexive pairs (n, n) for every endpoint are included
    (``all_simple_paths(r, r)`` yields [[r]] in the reference's NetworkX).
    """
    spark = edges.sparkSession
    e = _hop_pairs(edges, edge_type)
    rows = small_rows(e)
    if rows is not None:
        fwd = _adjacency(rows)
        nodes = {x for pair in rows for x in pair}
        pairs = []
        src_field = edges.schema["src"].dataType.simpleString()
        for n in sorted(nodes):
            for m in sorted(_bfs_local(fwd, [n])):
                pairs.append((n, m))
        return spark.createDataFrame(pairs, f"src {src_field}, dst {src_field}")
    base = _checkpoint(e.distinct())
    nodes = base.select(F.col("src").alias("n")).unionByName(
        base.select(F.col("dst").alias("n"))).distinct()
    closure = _checkpoint(
        nodes.select(F.col("n").alias("src"), F.col("n").alias("dst"))
        .unionByName(base).distinct())
    delta = closure
    for _ in range(max_iters):
        step = (delta.alias("c").join(base.alias("e"),
                                      F.col("c.dst") == F.col("e.src"))
                .select(F.col("c.src").alias("src"), F.col("e.dst").alias("dst"))
                .distinct()
                .join(closure, ["src", "dst"], "left_anti"))
        step = _checkpoint(step)
        if step.isEmpty():
            break
        closure = _checkpoint(closure.unionByName(step))
        delta = step
    return closure


def rpq_reachable(triples: DataFrame, seeds: DataFrame,
                  transitions: list[tuple[int, str, int]],
                  accept_states: tuple[int, ...],
                  start_state: int = 0, s: str = "subj", p: str = "pred",
                  o: str = "obj", max_rounds: int = 100) -> DataFrame:
    """Regular path query (label-constrained reachability): every
    (seed, node, state) with ``state`` accepting and some path from the
    seed whose predicate SEQUENCE drives the NFA ``transitions`` (list of
    (state, pred, next_state)) from ``start_state`` into ``state`` —
    e.g. ``buys_from* . in_nation . in_region`` as
    ``[(0,'buys_from',0), (0,'in_nation',1), (1,'in_region',2)]`` with
    accept ``(2,)``.

    The classic automaton-product construction: BFS over (node, NFA
    state) pairs — each round joins the frontier to the edge table on
    the node AND to the (broadcast, literally-tiny) transition table on
    (state, pred), anti-joins the visited set, and stops when the
    frontier drains (loud RuntimeError on the round cap: product-graph
    diameter exceeded).  State explosion is bounded by |V| x |NFA
    states| — NFAs for real path patterns have a handful of states.

    Returns (seed, node, state) for ACCEPTING visited pairs, including
    the seed itself when ``start_state`` accepts."""
    if not transitions:
        raise ValueError("transitions must be non-empty")
    if not accept_states:
        raise ValueError("accept_states must be non-empty")
    spark = triples.sparkSession
    trans = spark.createDataFrame(
        [(int(a), str(pr), int(b)) for a, pr, b in transitions],
        "state int, pred string, nstate int")
    e = (triples.select(F.col(s).alias("u"), F.col(p).alias("pred"),
                        F.col(o).alias("v"))
         .distinct().localCheckpoint(eager=True))
    visited = (seeds.select(F.col("id").alias("seed"),
                            F.col("id").alias("node"),
                            F.lit(start_state).alias("state"))
               .distinct().localCheckpoint(eager=True))
    frontier = visited
    for _ in range(max_rounds):
        step = (frontier
                .join(e, frontier.node == e.u)
                .join(F.broadcast(trans),
                      (frontier.state == trans.state)
                      & (e.pred == trans.pred))
                .select("seed", F.col("v").alias("node"),
                        F.col("nstate").alias("state"))
                .distinct())
        fresh = (step.join(visited, ["seed", "node", "state"], "left_anti")
                 .localCheckpoint(eager=True))
        if fresh.isEmpty():
            return (visited
                    .filter(F.col("state").isin(list(accept_states)))
                    .select("seed", "node", "state"))
        visited = visited.unionByName(fresh).localCheckpoint(eager=True)
        frontier = fresh
    raise RuntimeError(
        f"rpq_reachable: frontier still growing after max_rounds="
        f"{max_rounds} — product-graph diameter exceeds the cap")
