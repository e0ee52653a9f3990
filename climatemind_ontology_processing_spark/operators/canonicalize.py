"""G11 — alias canonicalization via connected components.

Not present in the reference (its node identities are curated ontology
labels); required by the graft's north_star: surface forms extracted from web
text must resolve to one canonical id before graph materialization.

Algorithm: MIN-LABEL PROPAGATION with POINTER JUMPING (the classic
"hash-to-min"-style MapReduce CC — Rastogi et al., ICDE'13 — plus the
path-halving step from PRAM union-find), expressed as DataFrame joins:

  propagate:    comp[u] <- min(comp[u], min over neighbors v of comp[v])
  pointer-jump: comp[u] <- comp[comp[u]]   (halves label-chain depth)

Pointer jumping gives O(log d)-ish convergence in the component diameter d;
output equivalence vs union-find and a recursive-CTE oracle is pinned in
tests.  Skew note: a degree-k hub contributes k rows to one reduce key in
the propagate groupBy — a star graph converges in ONE round (pinned by
tests/test_operators hub-skew stress test), so the hot key is touched O(1)
times; for 10^8-degree hubs pass ``salted=True`` to route the propagate
groupBy through ``skew.salted_agg`` (min is decomposable): partial minima
on (node, salt), then a ``buckets``-row final merge per node — no single
reduce partition ever sees a whole hub's neighbor list.  Output is
IDENTICAL either way (min is associative/commutative; pinned by the
star-graph salted-equivalence test).

(Kiveris et al.'s large-star/small-star is the alternative with per-round
balanced emission; it shares the same shuffle shape per round.  Round 1
shipped this implementation with that paper cited as if implemented — the
docstring, not the code, was wrong; the code is unchanged and verified.)

The seed edge set for alias resolution: (alias_surface, canonical_label)
pairs from the dictionary plus exact-duplicate surface matches.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_rounds: int = 50, salted: bool = False,
                         salt_buckets: int | None = None) -> DataFrame:
    """Returns (id string, component string) — component = min label (by
    (hash, label) order) of each connected component.

    Works on string node ids; comparisons use the label ordering itself
    (lexicographic), which is deterministic and stable across runs.

    ``salted=True`` runs the per-round neighbor-min aggregation as a
    two-phase salted aggregate (see module docstring) — use for graphs with
    mega-hubs whose degree exceeds what one shuffle partition should hold.
    """
    from ..config import DEFAULT_SALT_BUCKETS
    from .skew import salted_agg
    from .traversal import _changed, _checkpoint, _fixpoint, small_rows

    buckets = DEFAULT_SALT_BUCKETS if salt_buckets is None else salt_buckets

    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    rows = small_rows(e)
    if rows is not None:
        # small-graph fast path: union-find on the collected edge list
        # (identical output; see traversal.SMALL_GRAPH_THRESHOLD)
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in rows:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = min(ra, rb), max(ra, rb)
                parent[hi] = lo
        rows = sorted((n, find(n)) for n in parent)
        t = e.schema["a"].dataType.simpleString()
        return local_frame(
            edges.sparkSession, rows, f"id {t}, component {t}")
    # undirected
    sym = _checkpoint(e.unionByName(e.select(F.col("b").alias("a"),
                                             F.col("a").alias("b")))
                      .distinct())

    # parent[u] = min(u, min neighbor)  (initial approximation)
    parent = (sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("p"))
              .select(F.col("a").alias("id"), F.col("p").alias("comp")))
    nodes = sym.select(F.col("a").alias("id")).distinct()
    parent = _checkpoint(nodes.join(parent, "id", "left")
                         .select("id", F.coalesce("comp", "id").alias("comp")))

    def step(parent):
        # propagate: comp[u] <- min(comp[u], min over neighbors of comp[v])
        joined = sym.join(parent.withColumnRenamed("id", "b"), "b")
        if salted:
            nbr_min = salted_agg(joined, "a", {"nbr_comp": ("comp", "min")},
                                 buckets).withColumnRenamed("a", "id")
        else:
            nbr_min = (joined.groupBy("a")
                       .agg(F.min("comp").alias("nbr_comp"))
                       .withColumnRenamed("a", "id"))
        new_parent = (parent.join(nbr_min, "id", "left")
                      .select("id",
                              F.least(F.col("comp"),
                                      F.coalesce("nbr_comp", "comp")).alias("comp")))
        # pointer-jump: comp[u] <- comp[comp[u]]
        jump = (new_parent.alias("x")
                .join(new_parent.alias("y"),
                      F.col("x.comp") == F.col("y.id"), "left")
                .select(F.col("x.id").alias("id"),
                        F.least(F.col("x.comp"),
                                F.coalesce(F.col("y.comp"),
                                           F.col("x.comp"))).alias("comp")))
        jump = _checkpoint(jump)
        return jump, _changed(jump, parent, ["id"]).isEmpty()

    parent = _fixpoint(parent, step, max_rounds, "connected_components")
    return parent.select(F.col("id"), F.col("comp").alias("component"))


def canonicalize_triples(triples: DataFrame, alias_edges: DataFrame) -> DataFrame:
    """Rewrite subj/obj through the component map (alias graph -> canonical =
    component representative).  Surfaces not in any component pass through."""
    comp = connected_components(alias_edges)
    t = (triples
         .join(comp.withColumnRenamed("id", "subj")
                   .withColumnRenamed("component", "_cs"), "subj", "left")
         .join(comp.withColumnRenamed("id", "obj")
                   .withColumnRenamed("component", "_co"), "obj", "left"))
    return (t.withColumn("subj", F.coalesce("_cs", "subj"))
            .withColumn("obj", F.coalesce("_co", "obj"))
            .drop("_cs", "_co"))


def merge_components(labels: DataFrame, new_edges: DataFrame,
                     src: str = "src", dst: str = "dst",
                     max_rounds: int = 50) -> DataFrame:
    """INCREMENTAL connected components: fold a batch of NEW edges into an
    existing (id, component) labeling without re-walking history — the
    KG-maintenance shape for a continuously-growing alias graph (the
    north-rule incremental-ingestion requirement applied to G11).

    Key idea: history is already collapsed, so only the LABEL GRAPH needs
    solving — project each new edge to (component[u], component[v]) (a new
    node's label is itself), run ``connected_components`` over those
    projected edges (a graph whose size is bounded by the BATCH, not the
    corpus), then apply the label->label mapping back with one broadcast
    join.  Equivalence ``merge_components(cc(E1), E2) == cc(E1 ∪ E2)``
    holds because component representatives are MIN labels: collapsing a
    subset of edges first never changes the min of a merged class.

    Shuffle shape: one join of the batch against the label table, the CC
    rounds on the (tiny) label graph, one broadcast-map join back —
    history rows shuffle ZERO times beyond the final map join.
    Returns the updated (id, component) including the batch's new nodes.
    """
    e = (new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a").isNotNull() & F.col("b").isNotNull()))
    lab = labels.select("id", "component")
    # project edge endpoints to current labels (absent -> own id)
    proj = (e.join(lab.withColumnRenamed("id", "a")
                      .withColumnRenamed("component", "_ca"), "a", "left")
            .join(lab.withColumnRenamed("id", "b")
                     .withColumnRenamed("component", "_cb"), "b", "left")
            .select(F.coalesce("_ca", "a").alias("src"),
                    F.coalesce("_cb", "b").alias("dst")))
    lmap = connected_components(proj, max_rounds=max_rounds) \
        .withColumnRenamed("component", "_new") \
        .withColumnRenamed("id", "component")
    # new nodes from the batch enter the universe with their own label
    batch_nodes = (e.select(F.col("a").alias("id"))
                   .unionByName(e.select(F.col("b").alias("id")))
                   .distinct()
                   .join(lab, "id", "left_anti")
                   .select("id", F.col("id").alias("component")))
    merged = lab.unionByName(batch_nodes)
    return (merged.join(F.broadcast(lmap), "component", "left")
            .select("id",
                    F.coalesce("_new", "component").alias("component")))


def fingerprint_key(col, lowercase: bool = True):
    """OpenRefine-style key-collision fingerprint as a Column: trim,
    lowercase, strip punctuation to spaces, tokenize on whitespace,
    DEDUP + SORT tokens, rejoin — the standard first-pass string
    canonicalizer ('Smith, John' == 'john SMITH').  Pure JVM expression,
    usable inside any projection."""
    c = F.trim(col.cast("string"))
    if lowercase:
        c = F.lower(c)
    c = F.regexp_replace(c, r"[^\p{L}\p{N}]+", " ")
    toks = F.array_sort(F.array_distinct(
        F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")))
    return F.array_join(toks, " ")


def fingerprint_clusters(records: DataFrame, text_col: str,
                         id_col: str = "id",
                         min_cluster: int = 2) -> DataFrame:
    """Key-collision clustering over ``fingerprint_key``: (fingerprint,
    id, n_ids, rep) for every record whose fingerprint is shared by at
    least ``min_cluster`` records; ``rep`` = the cluster's minimum id —
    the merge candidate list an entity-canonicalization pass reviews.
    One map-side projection + one keys-only aggregate + a semi-join —
    never pairwise."""
    if min_cluster < 2:
        raise ValueError("min_cluster must be >= 2")
    keyed = records.select(F.col(id_col).alias("id"),
                           fingerprint_key(F.col(text_col)).alias("fp"))
    stats = (keyed.groupBy("fp")
             .agg(F.count("*").alias("n_ids"), F.min("id").alias("rep"))
             .filter(F.col("n_ids") >= min_cluster))
    return (keyed.join(stats, "fp")
            .select("fp", "id", "n_ids", "rep"))
