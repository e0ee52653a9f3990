"""Iterative graph-traversal operators (SURVEY §2.7 G2-G5, J5, J6).

The reference's traversals are Python recursion/stacks over an in-RAM NetworkX
graph (``ontology_processing_utils.py:7-41``, ``make_graph_class.py:440-455,
516-531``).  Catalyst has no fixpoint operator, so every traversal here (and
rdfs' closure and scc's backward collect) runs ONE semi-naive reachability
kernel, :func:`_reach`: a driver-side loop of DataFrame joins over a tagged
frontier, checkpointed per round to cut lineage (SURVEY §4).  One loop serves
many seeds at once (the tag column), and each round is one shuffle join on
the frontier — usually tiny relative to the edge table, so Spark broadcasts
it under AQE.  The small-graph arm runs the kernel's driver twin,
:func:`_reach_local`.  Both arms share one round cap: they raise iff the
frontier is still non-empty after ``max_rounds`` expansions.

Every capped loop in the package runs on :func:`_fixpoint` (the round
count and the shared cap error) and every checkpoint goes through
:func:`_checkpoint`; :func:`_changed` and :func:`_relax_min` serve the
loops that detect convergence by comparing rounds.

Edges schema throughout: (src string, dst string, type string, ...).
"""
from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

# Adaptive execution: below this edge count the traversal runs driver-side on
# the collected edge list (identical semantics, zero per-iteration job
# overhead); above it, the iterative-join path runs.  Mirrors Spark's own
# size-based strategy choices (broadcast threshold); the 10^12-scale path is
# the join loop, the curated-ontology path (hundreds of edges) is local.
SMALL_GRAPH_THRESHOLD = int(os.environ.get("CMKG_SMALL_GRAPH_EDGES", "200000"))

_DIRECTIONS = ("forward", "reverse", "any")

# default round cap of the traversals and of their driver twins
_MAX_ROUNDS = 200


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
    A plan that fails on purpose (``F.raise_error``) is not retried: it
    would only fail the same way again.
    """
    try:
        return df.localCheckpoint(eager=True)
    except Exception as e:
        if getattr(e, "getCondition", lambda: None)() == "USER_RAISED_EXCEPTION":
            raise
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
    """Distinct (from, to) hops for the iterative BFS."""
    e = _hop_pairs(edges, edge_type)
    hops = []
    if direction in ("forward", "any"):
        hops.append(e.select(F.col("src").alias("from"), F.col("dst").alias("to")))
    if direction in ("reverse", "any"):
        hops.append(e.select(F.col("dst").alias("from"), F.col("src").alias("to")))
    hop = hops[0] if len(hops) == 1 else hops[0].unionByName(hops[1])
    return hop.distinct()


def _check_direction(direction: str) -> None:
    if direction not in _DIRECTIONS:
        raise ValueError(f"bad direction {direction!r}")


def _cap_error(what: str, max_rounds: int, hint: str = "") -> RuntimeError:
    return RuntimeError(
        f"{what} did not converge within max_rounds={max_rounds}{hint} — "
        "raise the operator's round cap")


def _fixpoint(state, step, max_rounds: int, what: str, hint: str = ""):
    """The one capped loop: runs ``state, done = step(state)`` at most
    ``max_rounds`` times and returns ``state`` as soon as ``done``.  Raises
    :func:`_cap_error` iff the loop has not converged after ``max_rounds``
    rounds — a truncated fixpoint would be indistinguishable from a
    converged one.  ``step`` owns its probe and its checkpoints."""
    for _ in range(max_rounds):
        state, done = step(state)
        if done:
            return state
    raise _cap_error(what, max_rounds, hint)


def _changed(new: DataFrame, old: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``new`` whose one value column (every column not in
    ``keys``) moved since ``old``, keys missing from ``old`` included."""
    (val,) = [c for c in new.columns if c not in keys]
    return (new.join(old.select(*keys, F.col(val).alias("_old")), keys, "left")
            .filter(F.col("_old").isNull() | (F.col(val) != F.col("_old"))))


def _relax_min(state: DataFrame, keys: list[str], val: str, relax,
               max_rounds: int, what: str) -> DataFrame:
    """Min-label relaxation to fixpoint: each round folds ``relax(state)``
    (rows of ``keys`` + ``val``) into ``state`` with one map-side-combinable
    min per key, checkpoints, and stops once no value moved."""
    def step(cur):
        new = _checkpoint(cur.unionByName(relax(cur)).groupBy(*keys)
                          .agg(F.min(val).alias(val)))
        return new, _changed(new, cur, keys).isEmpty()
    return _fixpoint(_checkpoint(state), step, max_rounds, what)


def _reach(seeds: DataFrame, hops: DataFrame, max_rounds: int,
           what: str) -> DataFrame:
    """The semi-naive reachability kernel: ``seeds`` is DataFrame[tag, id],
    ``hops`` DataFrame[from, to] over the same (join-comparable, possibly
    struct) id type.  Each round joins the frontier to ``hops`` and
    anti-joins the visited set on (tag, id), so converged tags stop
    contributing work and one loop serves every tag.  Returns the visited
    (tag, id) pairs, seeds included; converged once a round finds nothing
    new."""
    hops = _checkpoint(hops)

    def step(state):
        visited, frontier = state
        frontier = _checkpoint(
            frontier.join(hops, frontier.id == hops["from"])
            .select("tag", F.col("to").alias("id")).distinct()
            .join(visited, ["tag", "id"], "left_anti"))
        if frontier.isEmpty():
            return state, True
        return (_checkpoint(visited.unionByName(frontier)), frontier), False

    visited = _checkpoint(seeds.select("tag", "id").distinct())
    return _fixpoint((visited, visited), step, max_rounds, what)[0]


def _reach_local(adj: dict, seeds, max_rounds: int, what: str) -> set:
    """Driver twin of :func:`_reach`: level-synchronous BFS of the (tag, id)
    ``seeds`` over the adjacency dict ``adj``, one level per round, so it
    raises at exactly the kernel's boundary.  Returns the visited (tag, id)
    set, seeds included."""
    visited = set(seeds)

    def step(frontier):
        frontier = {(t, v) for t, u in frontier
                    for v in adj.get(u, ())} - visited
        visited.update(frontier)
        return frontier, not frontier

    _fixpoint(visited, step, max_rounds, what)
    return visited


def bfs_reachable(edges: DataFrame, seeds: DataFrame | list,
                  direction: str = "forward", edge_type: str | None = None,
                  max_rounds: int = _MAX_ROUNDS) -> DataFrame:
    """G2 — typed directional BFS (``custom_bfs``,
    ``ontology_processing_utils.py:7-41``): node set reachable from ``seeds``
    along edges of ``edge_type`` (None = "any") in ``direction`` (forward /
    reverse / any).  ``seeds`` is a DataFrame[id] or a driver-side list of
    ids; a list takes the type of ``edges.src`` on both arms.  Returns
    DataFrame[id] including the seeds: :func:`bfs_reachable_tagged` with
    one constant tag.

    The reference returns an *induced subgraph*; compose with
    :func:`induced_edges` for the edge set.
    """
    if isinstance(seeds, list):
        src_type = edges.schema["src"].dataType.simpleString()
        seeds = local_frame(
            edges.sparkSession,
            [(s,) for s in sorted(set(seeds))], f"id {src_type}")
    tagged = seeds.select(F.lit(0).alias("tag"), seeds.columns[0])
    return bfs_reachable_tagged(edges, tagged, direction, edge_type,
                                max_rounds).select("id")


def bfs_reachable_tagged(edges: DataFrame, seeds: DataFrame,
                         direction: str = "forward", edge_type: str | None = None,
                         max_rounds: int = _MAX_ROUNDS) -> DataFrame:
    """G10 — multi-source tagged BFS: ``seeds`` is DataFrame[tag, id]; expands
    all tags in ONE iterative join (one Spark loop for ~20 seeds, not 20
    loops).  Returns DataFrame[tag, id]."""
    _check_direction(direction)
    seeds = seeds.select(F.col(seeds.columns[0]).alias("tag"),
                         F.col(seeds.columns[1]).alias("id"))
    rows = small_rows(_hop_pairs(edges, edge_type))
    if rows is None:
        return _reach(seeds, _hop_table(edges, direction, edge_type),
                      max_rounds, "bfs_reachable")
    reached = _reach_local(_adjacency(rows, direction),
                           [tuple(r) for r in seeds.collect()],
                           max_rounds, "bfs_reachable")
    tag_t, id_t = (f.dataType.simpleString() for f in seeds.schema.fields)
    return local_frame(edges.sparkSession, sorted(reached),
                       f"tag {tag_t}, id {id_t}")


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
                       max_rounds: int = _MAX_ROUNDS) -> DataFrame:
    """Reflexive-transitive closure pairs (src, dst): src reaches dst.

    Supports the G5 rewrite (SURVEY §2.7): node n lies on a simple path
    root -> e in a DAG iff reach(root, n) ∧ reach(n, e) — replacing the
    reference's exponential ``nx.all_simple_paths`` enumeration
    (``make_graph_class.py:522-528``) with a polynomial reachability product.

    One :func:`_reach` seeded with the identity pairs (n, n) of every
    endpoint, tagged by source; bounded by diameter.  Reflexive pairs are
    included (``all_simple_paths(r, r)`` yields [[r]] in the reference's
    NetworkX).
    """
    e = _hop_pairs(edges, edge_type)
    rows = small_rows(e)
    if rows is not None:
        nodes = {x for pair in rows for x in pair}
        reached = _reach_local(_adjacency(rows), [(n, n) for n in nodes],
                               max_rounds, "transitive_closure")
        t = edges.schema["src"].dataType.simpleString()
        return local_frame(edges.sparkSession, sorted(reached),
                           f"src {t}, dst {t}")
    hops = _hop_table(edges, "forward", edge_type)
    nodes = hops.select(F.col("from").alias("tag")).unionByName(
        hops.select(F.col("to").alias("tag")))
    closure = _reach(nodes.withColumn("id", F.col("tag")), hops, max_rounds,
                     "transitive_closure")
    return closure.select(F.col("tag").alias("src"), F.col("id").alias("dst"))


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

    The classic automaton-product construction: the triples join the
    (broadcast, literally-tiny) transition table on the predicate ONCE,
    giving product hops (u, state) -> (v, nstate) over struct ids, and
    :func:`_reach` runs the BFS over them tagged by seed (loud RuntimeError
    on the round cap: product-graph diameter exceeded).  State explosion is
    bounded by |V| x |NFA states| — NFAs for real path patterns have a
    handful of states.

    Returns (seed, node, state) for ACCEPTING visited pairs, including
    the seed itself when ``start_state`` accepts."""
    if not transitions:
        raise ValueError("transitions must be non-empty")
    if not accept_states:
        raise ValueError("accept_states must be non-empty")
    trans = local_frame(
        triples.sparkSession,
        [(int(a), str(pr), int(b)) for a, pr, b in transitions],
        "state int, pred string, nstate int")
    node_type = triples.schema[s].dataType

    def at(node: str, state):
        return F.struct(F.col(node).cast(node_type).alias("node"),
                        state.alias("state"))

    hops = (triples.select(F.col(s).alias("u"), F.col(p).alias("pred"),
                           F.col(o).alias("v"))
            .join(F.broadcast(trans), "pred")
            .select(at("u", F.col("state")).alias("from"),
                    at("v", F.col("nstate")).alias("to"))
            .distinct())
    tagged = seeds.select(F.col("id").alias("tag"),
                          at("id", F.lit(int(start_state))).alias("id"))
    return (_reach(tagged, hops, max_rounds, "rpq_reachable")
            .filter(F.col("id.state").isin(list(accept_states)))
            .select(F.col("tag").alias("seed"), F.col("id.node").alias("node"),
                    F.col("id.state").alias("state")))
