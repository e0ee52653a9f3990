"""Graph statistics over the KG edge table: triangle counts and degrees.

Not in the reference (tiny curated graphs); at web scale triangle counts
feed clustering-coefficient quality signals for extracted concept
neighborhoods (dense triangles ⇒ coherent topic cluster; zero triangles at
high degree ⇒ hub/spam suspect).

Triangle counting uses the canonical-orientation join (each undirected edge
stored once as (lo, hi)): triangles are (a<b<c) with all three edges
present, found by joining edge (a,b) x (b,c) and probing (a,c) — every
triangle is produced exactly once, so no division by 3/6 is needed.  The
orientation also bounds skew: a degree-d hub contributes at most d(d-1)/2
probe pairs but ordered orientation splits work across its neighbors (the
standard MapReduce triangle trick).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .traversal import _changed, _checkpoint, _fixpoint


def undirected_canonical(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """One row per undirected edge as (lo, hi), self-loops dropped."""
    return (edges.select(F.least(src, dst).alias("lo"),
                         F.greatest(src, dst).alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct())


def triangles(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """All triangles (a < b < c), each exactly once."""
    e = undirected_canonical(edges, src, dst)
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    return (ab.join(bc, "b")
            .join(ac, ["a", "c"], "left_semi")
            .select("a", "b", "c"))


def triangle_counts(edges: DataFrame, src: str = "src",
                    dst: str = "dst") -> DataFrame:
    """(id, n_triangles) for every node incident to >= 1 canonical edge;
    nodes in no triangle report 0."""
    e = undirected_canonical(edges, src, dst)
    nodes = (e.select(F.col("lo").alias("id"))
             .unionByName(e.select(F.col("hi").alias("id"))).distinct())
    tri = triangles(edges, src, dst)
    member = (tri.select(F.col("a").alias("id"))
              .unionByName(tri.select(F.col("b").alias("id")))
              .unionByName(tri.select(F.col("c").alias("id"))))
    counts = member.groupBy("id").agg(F.count("*").alias("n_triangles"))
    return (nodes.join(counts, "id", "left")
            .select("id", F.coalesce("n_triangles", F.lit(0))
                    .cast("long").alias("n_triangles")))


def adamic_adar(edges: DataFrame, src: str = "src", dst: str = "dst",
                max_degree: int | None = None, top_k: int | None = None) -> DataFrame:
    """Link prediction: Adamic-Adar scores for NON-adjacent node pairs
    sharing >= 1 common neighbor.  Returns (u, v, n_common, aa_micro) with
    u < v; ``aa_micro`` = sum over common neighbors w of
    round6(1/ln(deg(w))) as a micro-scaled BIGINT (order-independent
    integer addition -> engine-exact, same convention as pq_topk).

    Plan shape: degrees are one keys-only aggregation; candidate pairs are
    emitted per common neighbor by the wedge self-join (w's neighbor list
    against itself, u < v), then one (u, v) aggregation and an anti-join
    against the edge set.  A degree-d node emits d(d-1)/2 wedges — the
    classic blowup — so at web scale pass ``max_degree`` to drop mega-hub
    wedge centers (standard for AA: a 10^6-degree hub contributes weight
    1/ln(10^6) ~ 0.07 to every pair of its neighbors, all noise, at
    10^12-wedge cost).  Dropped centers still count toward deg() of their
    neighbors; nodes with deg 1 (ln 0 undefined... deg>=2 required to be a
    wedge center) never emit.  ``top_k`` keeps the k best pairs per u
    (window, applied after scoring).
    """
    # materialize the canonical edge set ONCE — it feeds both symmetric
    # halves and the final anti-join; without this the upstream edge
    # derivation (often a multi-join pipeline) replays three times and the
    # self-join degenerates to SortMergeJoin on unknown-size inputs
    e = _checkpoint(undirected_canonical(edges, src, dst))
    sym = (e.select(F.col("lo").alias("w"), F.col("hi").alias("n"))
           .unionByName(
               e.select(F.col("hi").alias("w"), F.col("lo").alias("n"))))
    deg = sym.groupBy("w").agg(F.count("*").alias("deg"))
    centers = deg.filter(F.col("deg") >= 2)
    if max_degree is not None:
        centers = centers.filter(F.col("deg") <= max_degree)
    contrib = F.round(F.round(1.0 / F.log(F.col("deg").cast("double")), 6)
                      * 1e6).cast("long")
    adj = sym.join(centers.select("w", contrib.alias("c")), "w")
    wedges = (adj.alias("l").join(adj.alias("r"),
                                  (F.col("l.w") == F.col("r.w")) &
                                  (F.col("l.n") < F.col("r.n")))
              .select(F.col("l.n").alias("u"), F.col("r.n").alias("v"),
                      F.col("l.c").alias("c")))
    scored = (wedges.groupBy("u", "v")
              .agg(F.count("*").alias("n_common"),
                   F.sum("c").alias("aa_micro")))
    existing = e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    out = scored.join(existing, ["u", "v"], "left_anti")
    if top_k is not None:
        from pyspark.sql import Window
        w_rank = Window.partitionBy("u").orderBy(
            F.col("aa_micro").desc(), F.col("v").asc())
        out = (out.withColumn("_rk", F.row_number().over(w_rank))
               .filter(F.col("_rk") <= top_k).drop("_rk"))
    return out


def k_core(edges: DataFrame, k: int, src: str = "src",
           dst: str = "dst", max_rounds: int = 100) -> DataFrame:
    """Nodes of the undirected k-core: the maximal subgraph where every
    node has degree >= k (iterative peeling).  Corpus-graph quality tool:
    the dense core of the concept co-occurrence graph separates
    well-attested concepts from extraction noise (spam/hub fringes peel
    away).  Returns (id) — the surviving node set.

    Each peel round is two keys-only steps over the CURRENT edge set:
    degree aggregation (map-side combinable) + a semi-join of edges onto
    surviving endpoints; the peeled edge table shrinks monotonically, so
    per-round cost tracks the remaining graph, not the input.  Rounds are
    bounded by the peel depth (<= max degree, typically tiny)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    def step(state):
        e, n_edges = state
        deg = (e.select(F.col("a").alias("id"))
               .unionByName(e.select(F.col("b").alias("id")))
               .groupBy("id").agg(F.count("*").alias("deg")))
        keep = deg.filter(F.col("deg") >= k).select("id")
        pruned = _checkpoint(
            e.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("id", "b"), "b", "left_semi"))
        n_pruned = pruned.count()       # one count/round: n_edges is known
        return (pruned, n_pruned), n_pruned == n_edges

    e = _checkpoint(undirected_canonical(edges, src, dst)
                    .select(F.col("lo").alias("a"), F.col("hi").alias("b")))
    e, _ = _fixpoint((e, e.count()), step, max_rounds, "k_core")
    return (e.select(F.col("a").alias("id"))
            .unionByName(e.select(F.col("b").alias("id")))
            .distinct())


def clustering_coefficients(edges: DataFrame, src: str = "src",
                            dst: str = "dst") -> DataFrame:
    """(id, degree, n_triangles, lcc_micro): local clustering coefficient
    ``2*T(v) / (deg(v)*(deg(v)-1))`` in round-6 micro units (engine-exact
    BIGINT, same convention as the other scored operators).  Nodes of
    degree < 2 score 0.  Composes ``triangle_counts`` with the undirected
    degree aggregation — one extra keys-only join."""
    e = _checkpoint(undirected_canonical(edges, src, dst))
    deg = (e.select(F.col("lo").alias("id"))
           .unionByName(e.select(F.col("hi").alias("id")))
           .groupBy("id").agg(F.count("*").alias("degree")))
    tri = triangle_counts(e, src="lo", dst="hi")
    lcc = F.when(
        F.col("degree") >= 2,
        F.round(F.round(
            2.0 * F.col("n_triangles")
            / (F.col("degree").cast("double") * (F.col("degree") - 1.0)),
            6) * 1e6)).otherwise(F.lit(0.0)).cast("long")
    return (deg.join(tri, "id")
            .select("id", "degree", "n_triangles", lcc.alias("lcc_micro")))


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """One row (n_edges, assortativity): Newman's degree assortativity —
    the Pearson correlation of endpoint degrees over the symmetrized
    undirected edge list.  Positive = hubs attach to hubs (social-like),
    negative = hub-and-spoke (web/biology-like); a KG-structure health
    signal next to triangles/clustering.

    All moment sums (S1, S11, S20, ...) aggregate EXACT BIGINTs (degrees
    are integers), so the correlation is a pure function of six integers
    and the final double expression replays engine-exactly; only one
    keys-only degree join and one 1-row aggregate.

    Overflow guard: ``n * S20`` must fit a signed 64-bit long — bounded by
    ``2|E| * max_deg^2 * 2|E|``; the operator checks the bound from the
    (already-computed) degree table and raises with guidance rather than
    overflowing (ANSI mode would throw mid-query; non-ANSI would silently
    wrap).  For hub-degree graphs beyond the bound, cap or sample degrees
    upstream — a 10^6-degree hub dominates the correlation anyway."""
    e = _checkpoint(undirected_canonical(edges, src, dst))
    sym = (e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
           .unionByName(e.select(F.col("hi").alias("u"),
                                 F.col("lo").alias("v"))))
    deg = (sym.groupBy("u").agg(F.count("*").alias("d"))
           .withColumnRenamed("u", "n"))
    bound = deg.agg(F.max("d").alias("maxd"),
                    F.sum("d").alias("nsym")).first()
    if bound["maxd"] is not None and \
            bound["nsym"] * bound["maxd"] ** 2 * bound["nsym"] >= 2 ** 62:
        raise ValueError(
            "degree moments would overflow 64-bit integer sums "
            f"(2|E|={bound['nsym']}, max_deg={bound['maxd']}); cap hub "
            "degrees upstream before computing assortativity")
    both = (sym.join(deg.select(F.col("n").alias("u"),
                                F.col("d").alias("du")), "u")
            .join(deg.select(F.col("n").alias("v"),
                             F.col("d").alias("dv")), "v"))
    agg = both.agg(
        F.count("*").alias("n"),
        F.sum("du").alias("s1"), F.sum("dv").alias("s2"),
        F.sum(F.col("du") * F.col("dv")).alias("s11"),
        F.sum(F.col("du") * F.col("du")).alias("s20"),
        F.sum(F.col("dv") * F.col("dv")).alias("s02"))
    num = (F.col("n") * F.col("s11") - F.col("s1") * F.col("s2")) \
        .cast("double")
    den = F.sqrt((F.col("n") * F.col("s20") - F.col("s1") * F.col("s1"))
                 .cast("double")
                 * (F.col("n") * F.col("s02") - F.col("s2") * F.col("s2"))
                 .cast("double"))
    return agg.select(
        (F.col("n") / 2).cast("long").alias("n_edges"),
        F.when(den > 0.0, F.round(num / den, 6)).otherwise(F.lit(0.0))
         .alias("assortativity"))


def label_propagation(edges: DataFrame, src: str = "src", dst: str = "dst",
                      rounds: int = 5) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan et
    al. 2007), run for EXACTLY ``rounds`` iterations — the fixed-step
    semantics of GraphX's LabelPropagation: synchronous LPA has no
    convergence guarantee (bipartite structures oscillate), so a fixpoint
    loop would violate the loud-cap invariant; a fixed round count is the
    standard scalable form and makes the result a pure function of
    (graph, rounds), which an external oracle can replay via unrolled
    per-round CTEs.

    Labels start as node ids over the UNDIRECTED edge set (self-loops
    dropped; isolated nodes never appear — same universe convention as
    ``scc``).  Each round every node adopts the most frequent label among
    its neighbors, ties toward the SMALLEST label (fully deterministic).

    Shuffle shape per round: one (node, label) join + one
    map-side-combinable count + one min_by argmax — keys only, O(E)
    rows; labels localCheckpoint per round to keep lineage flat.
    Returns (id, community).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")))

    from .traversal import SMALL_GRAPH_THRESHOLD, small_rows

    # probe the DIRECTED set and symmetrize driver-side (betweenness
    # pattern): the old shape eagerly checkpointed union+flip+distinct
    # BEFORE the probe, paying two exchanges and a store even on tiny
    # graphs; the distributed branch below still materializes it
    rows = small_rows(e)
    if rows is not None:
        seen: set = set()
        sym_rows = []
        for a, b in rows:
            for p in ((a, b), (b, a)):
                if p not in seen:
                    seen.add(p)
                    sym_rows.append(p)
        if len(sym_rows) <= SMALL_GRAPH_THRESHOLD:
            # small-graph path: the identical synchronous rounds (most
            # frequent neighbor label, ties to the smallest) driver-side
            adj: dict = {}
            for a, b in sym_rows:
                adj.setdefault(a, []).append(b)
            lab = {n: n for n in adj}
            for _ in range(rounds):
                new = {}
                for n, nbrs in adj.items():
                    cnt: dict = {}
                    for b in nbrs:
                        l = lab[b]
                        cnt[l] = cnt.get(l, 0) + 1
                    new[n] = min(cnt, key=lambda l: (-cnt[l], l))
                lab = new
            ty = e.schema["a"].dataType.simpleString()
            return local_frame(
                edges.sparkSession,
                sorted(lab.items()), f"id {ty}, community {ty}")

    und = _checkpoint(e.unionByName(e.select(F.col("b").alias("a"),
                                             F.col("a").alias("b")))
                      .distinct())
    labels = und.select(F.col("a").alias("id")).distinct() \
        .withColumn("lab", F.col("id"))
    for _ in range(rounds):
        votes = (und.join(labels.select(F.col("id").alias("b"), "lab"), "b")
                 .groupBy(F.col("a").alias("id"), "lab")
                 .agg(F.count("*").alias("c")))
        labels = _checkpoint(
            votes.groupBy("id")
            .agg(F.min_by("lab", F.struct((-F.col("c")).alias("nc"),
                                          F.col("lab").alias("l")))
                 .alias("lab")))
    return labels.select("id", F.col("lab").alias("community"))


def hits(edges: DataFrame, rounds: int = 3, src: str = "src",
         dst: str = "dst", checkpoint_every: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) for EXACTLY ``rounds``
    synchronous iterations — the link-analysis complement to ``pagerank``
    for entity-link scoring (a concept cited by many good hubs is a good
    authority even at low global rank).

    Per round: ``auth'(v) = sum_{u->v} hub(u)`` then ``hub'(u) =
    sum_{u->v} auth'(v)``, each L2-normalized via an IN-PLAN 1-row
    aggregate (broadcast crossJoin — no per-round driver action, same
    policy as ``pagerank``).  Fixed rounds so an unrolled-CTE oracle can
    replay it; float-summation order inside groupBy is partition-dependent
    (~1e-15/round), so hash-comparing callers round to 6 decimals.

    Shuffle shape per round: two keys-only groupBy aggregations over the
    edge list (map-side combinable) — O(E) rows, no vector state.
    Returns (id, authority, hub).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _checkpoint(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
                    .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
                    .distinct())
    nodes = _checkpoint(e.select(F.col("u").alias("id"))
                        .unionByName(e.select(F.col("v").alias("id")))
                        .distinct())
    state = nodes.select("id", F.lit(1.0).alias("auth"),
                         F.lit(1.0).alias("hub"))

    def _l2_normalized(df, col):
        nrm = df.agg(F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n"))
        return (df.crossJoin(F.broadcast(nrm))
                .select("id", *(c for c in df.columns
                                if c not in (col, "id")),
                        F.when(F.col("_n") > 0.0,
                               F.col(col) / F.col("_n"))
                         .otherwise(F.lit(0.0)).alias(col)))

    for i in range(rounds):
        ain = (e.join(state.select(F.col("id").alias("u"), "hub"), "u")
               .groupBy(F.col("v").alias("id"))
               .agg(F.sum("hub").alias("auth")))
        auth = _l2_normalized(
            nodes.join(ain, "id", "left")
            .select("id", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth")
        hin = (e.join(auth.select(F.col("id").alias("v"), "auth"), "v")
               .groupBy(F.col("u").alias("id"))
               .agg(F.sum("auth").alias("hub")))
        state = _l2_normalized(
            auth.join(hin, "id", "left")
            .select("id", "auth", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub")
        if (i + 1) % checkpoint_every == 0 or i == rounds - 1:
            state = _checkpoint(state)
    return state.select("id", F.col("auth").alias("authority"), "hub")


def neighborhood_mean(edges: DataFrame, rounds: int = 2,
                      src: str = "src", dst: str = "dst",
                      feature_col=None) -> DataFrame:
    """GNN-style mean aggregation over the UNDIRECTED neighbor set for a
    fixed number of rounds — the message-passing primitive of graph
    feature pipelines (feeding node embeddings / label smoothing), kept
    ENGINE-EXACT end to end: features live as micro-scaled BIGINTs and
    each round's mean is the integer floor-division ``sum DIV degree``,
    so no float summation order can leak into the result (the micro-BIGINT
    convention, CLAUDE.md).

    ``feature_col``: optional Column giving the round-0 feature in MICRO
    units for a node id column named ``id`` (default ``(id % 97) * 1e6``
    for integer ids — deterministic, oracle-replayable).  Isolated nodes
    never appear (same universe as ``label_propagation``).  Per round: one
    keys-only join + one map-side-combinable sum — O(E) shuffle rows.
    Returns (id, f_micro).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
         .filter(F.col("a") != F.col("b")))
    und = _checkpoint(e.unionByName(e.select(F.col("b").alias("a"),
                                             F.col("a").alias("b")))
                      .distinct())
    init = (feature_col if feature_col is not None
            else (F.col("id") % 97).cast("long") * F.lit(1_000_000))
    feats = und.select(F.col("a").alias("id")).distinct() \
        .select("id", init.alias("f"))
    for _ in range(rounds):
        feats = _checkpoint(
            und.join(feats.select(F.col("id").alias("b"), "f"), "b")
            .groupBy(F.col("a").alias("id"))
            .agg(F.expr("sum(f) DIV count(*)").alias("f")))
    return feats.select("id", F.col("f").alias("f_micro"))


def random_walks(edges: DataFrame, length: int = 4, src: str = "src",
                 dst: str = "dst", hash_family: str = "md5_60",
                 seed: str = "rw") -> DataFrame:
    """Deterministic pseudo-random walks — the corpus generator for
    DeepWalk/node2vec-style graph-embedding training, with every "random"
    choice derived from a PER-EDGE-PER-STEP hash so task retries and
    reruns reproduce the walk exactly (the repo's seeded-randomness
    invariant; ``F.rand()`` is banned).

    One walk starts at EVERY node with out-edges; at step t on node c the
    next hop is ``argmin over out-neighbors n of H(seed|t|c|n)`` where H
    is the md5_60 long hash (``conv(substring(md5(x),1,15),16,10)`` —
    DuckDB-replayable, CLAUDE.md idiom) or xxhash64 for the production
    family.  A walk that reaches a sink node simply ends (no restart).

    Per step: one join of the frontier against the out-edge table + one
    ``min_by`` argmax — keys-only, O(W + E_touched) shuffle rows; steps
    localCheckpoint to keep lineage flat.  Returns (start, step, node)
    with step 0 = the start node itself.
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    if hash_family not in ("md5_60", "xxhash64"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    e = _checkpoint(edges.select(F.col(src).alias("c"), F.col(dst).alias("n"))
                    .filter(F.col("c").isNotNull() & F.col("n").isNotNull())
                    .distinct())

    def h(step: int):
        # evaluated on the (frontier x out-edge) join, where the current
        # node column is named "node" and the candidate hop is "n"
        key = F.concat_ws("|", F.lit(seed), F.lit(str(step)),
                          F.col("node").cast("string"),
                          F.col("n").cast("string"))
        if hash_family == "xxhash64":
            return F.xxhash64(key)
        return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")

    cur = e.select(F.col("c").alias("start")).distinct() \
        .select("start", F.col("start").alias("node"))
    out = cur.select("start", F.lit(0).alias("step"), "node")
    for t in range(1, length + 1):
        nxt = _checkpoint(
            cur.join(e.withColumnRenamed("c", "node"), "node")
            .groupBy("start")
            .agg(F.min_by("n", F.struct(h(t).alias("h"),
                                        F.col("n").alias("n")))
                 .alias("node")))
        out = out.unionByName(
            nxt.select("start", F.lit(t).alias("step"), "node"))
        cur = nxt
    return out


def k_truss(edges: DataFrame, k: int, src: str = "src", dst: str = "dst",
            max_rounds: int = 30) -> DataFrame:
    """Edges of the k-truss (Cohen 2008): the maximal subgraph where every
    edge closes at least ``k - 2`` triangles — the EDGE-level cohesion
    filter (k_core's node-level sibling), the standard community-core
    primitive for KG neighborhoods.

    Iteratively drops under-supported edges until fixpoint; per round the
    cost is one canonical-orientation triangle enumeration over the
    SHRINKING edge set (the same oriented join as ``triangles`` — each
    triangle counted once, support split to its three edges by a
    keys-only union + groupBy).  RAISES if ``max_rounds`` is exhausted
    (loud-cap invariant: a truncated fixpoint is invisible); real graphs
    converge in a handful of rounds because each round removes the
    current weakest shell.  Returns (lo, hi) canonical edges.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    need = k - 2

    def step(state):
        e, n_prev = state
        tri = (e.alias("x")
               .join(e.alias("y"), F.col("x.hi") == F.col("y.lo"))
               .join(e.alias("z"),
                     (F.col("z.lo") == F.col("x.lo"))
                     & (F.col("z.hi") == F.col("y.hi")), "left_semi")
               .select(F.col("x.lo").alias("a"), F.col("x.hi").alias("b"),
                       F.col("y.hi").alias("c")))
        sup = (tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
               .unionAll(tri.select(F.col("a").alias("lo"),
                                    F.col("c").alias("hi")))
               .unionAll(tri.select(F.col("b").alias("lo"),
                                    F.col("c").alias("hi")))
               .groupBy("lo", "hi").agg(F.count("*").alias("_sup")))
        kept = _checkpoint(e.join(sup, ["lo", "hi"], "left")
                           .filter(F.coalesce("_sup", F.lit(0)) >= need)
                           .select("lo", "hi"))
        n = kept.count()
        # an empty edge set is final: the next round could drop nothing
        return (kept, n), n in (n_prev, 0)

    e = _checkpoint(undirected_canonical(edges, src, dst))
    return _fixpoint((e, e.count()), step, max_rounds, "k_truss")[0]


def wl_colors(edges: DataFrame, rounds: int = 3, src: str = "src",
              dst: str = "dst", checkpoint_every: int = 2) -> DataFrame:
    """Weisfeiler-Lehman color refinement (Weisfeiler & Lehman 1968; the
    WL-kernel form of Shervashidze et al. 2011) over the undirected
    graph: per round every node's color becomes a hash of (own color,
    sorted multiset of neighbor colors).  After k rounds, equal colors
    == equal k-hop unfolding trees — the structural-role signature used
    for KG entity deduplication blocking (same-role concepts collide)
    and as a graph-isomorphism invariant.

    Colors are md5-60 BIGINTs (``conv(substring(md5(sig),1,15),16,10)``)
    so an unrolled-round DuckDB oracle replays them bit-for-bit; the
    signature string is ``prev|c1,c2,...`` with neighbor colors sorted
    NUMERICALLY (sort_array on the bigint array; oracle uses
    ``string_agg(... ORDER BY color)``).  Initial color = degree.

    Shuffle shape per round: one symmetric-edge join against the (id,
    color) state + one groupBy(id) collect_list — O(E) rows, state is
    O(V).  collect_list per node is degree-bounded; for mega-hub graphs
    the signature string is O(max_degree) — same memory envelope as the
    neighbor-collect in ``label_propagation``.  Returns (id, color).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    e = _checkpoint(undirected_canonical(edges, src, dst))
    sym = (e.select(F.col("lo").alias("id"), F.col("hi").alias("nbr"))
           .unionByName(
               e.select(F.col("hi").alias("id"), F.col("lo").alias("nbr"))))
    state = _checkpoint(sym.groupBy("id")
                        .agg(F.count("*").cast("long").alias("color")))
    for i in range(rounds):
        sig = (sym.join(state.select(F.col("id").alias("nbr"),
                                     F.col("color").alias("nc")), "nbr")
               .groupBy("id")
               .agg(F.array_join(
                   F.transform(F.sort_array(F.collect_list("nc")),
                               lambda x: x.cast("string")), ",")
                    .alias("nbrs")))
        state = (state.join(sig, "id")
                 .select("id",
                         F.conv(F.substring(
                             F.md5(F.concat_ws("|", F.col("color").cast("string"),
                                               F.col("nbrs"))), 1, 15),
                             16, 10).cast("long").alias("color")))
        if (i + 1) % checkpoint_every == 0 or i == rounds - 1:
            state = _checkpoint(state)
    return state


def community_stats(edges: DataFrame, labels: DataFrame, src: str = "src",
                    dst: str = "dst", id_col: str = "id",
                    label_col: str = "label") -> DataFrame:
    """Per-community structure over the canonical undirected graph:
    (label, n_nodes, intra_edges, degree_sum).

    ``labels`` must cover every node incident to an edge — an unlabeled
    endpoint raises AT EXECUTION TIME (lazy ``raise_error``, same
    convention as operators/packing.py): a silently-dropped endpoint
    would deflate intra_edges/degree_sum and corrupt modularity.
    n_nodes counts labeled nodes that appear in the graph (isolated
    labeled nodes contribute no degree and no edges, so they are not
    counted — modularity is defined on the graph's node set).
    """
    e = undirected_canonical(edges, src, dst)
    lab = labels.select(F.col(id_col).alias("_nid"),
                        F.col(label_col).alias("_lab"))

    def _labeled(side: str) -> DataFrame:
        j = (e.join(lab.withColumnRenamed("_nid", side), side, "left"))
        checked = F.when(
            F.col("_lab").isNull(),
            F.raise_error(F.concat(
                F.lit("community_stats: unlabeled node "),
                F.col(side).cast("string")))).otherwise(F.col("_lab"))
        return j.select("lo", "hi", checked.alias(f"lab_{side}"))

    lo_lab = _labeled("lo")
    hi_lab = _labeled("hi").select("lo", "hi", "lab_hi")
    tagged = lo_lab.join(hi_lab, ["lo", "hi"])

    nodes = (e.select(F.col("lo").alias("_nid"))
             .unionByName(e.select(F.col("hi").alias("_nid"))).distinct()
             .join(lab, "_nid"))
    n_nodes = (nodes.groupBy(F.col("_lab").alias("label"))
               .agg(F.count("*").cast("long").alias("n_nodes")))

    deg = (tagged.select(F.col("lab_lo").alias("label"))
           .unionByName(tagged.select(F.col("lab_hi").alias("label")))
           .groupBy("label")
           .agg(F.count("*").cast("long").alias("degree_sum")))
    intra = (tagged.filter(F.col("lab_lo") == F.col("lab_hi"))
             .groupBy(F.col("lab_lo").alias("label"))
             .agg(F.count("*").cast("long").alias("intra_edges")))
    return (n_nodes.join(deg, "label", "left").join(intra, "label", "left")
            .select("label", "n_nodes",
                    F.coalesce("intra_edges", F.lit(0)).cast("long")
                    .alias("intra_edges"),
                    F.coalesce("degree_sum", F.lit(0)).cast("long")
                    .alias("degree_sum")))


def modularity(edges: DataFrame, labels: DataFrame, src: str = "src",
               dst: str = "dst", id_col: str = "id",
               label_col: str = "label") -> DataFrame:
    """Newman modularity of a node partition, exact rational arithmetic.

    Q = sum_c [ e_c/m - (d_c/2m)^2 ] = (4*m*sum(e_c) - sum(d_c^2)) / (4*m^2)

    Returned as one row (m, n_communities, q_num, q_den) with Q =
    q_num/q_den — exact integers (q_num/q_den are DECIMAL(38,0): at
    web-scale m ~ 10^12 edges, 4*m^2 overflows BIGINT).  Three aggregates
    over keys-only projections; the edge list shuffles once on each
    endpoint's label — no per-node state, no iteration.
    """
    cs = community_stats(edges, labels, src, dst, id_col, label_col)
    agg = cs.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum("intra_edges").cast("long").alias("_intra"),
        F.sum(F.col("degree_sum").cast("decimal(38,0)")
              * F.col("degree_sum")).alias("_d2"),
        F.expr("sum(degree_sum) div 2").cast("long").alias("m"))
    md = F.col("m").cast("decimal(38,0)")
    return agg.select(
        "m", "n_communities",
        (F.lit(4) * md * F.col("_intra") - F.col("_d2"))
        .cast("decimal(38,0)").alias("q_num"),
        (F.lit(4) * md * md).cast("decimal(38,0)").alias("q_den"))


def node2vec_walks(edges: DataFrame, length: int = 4,
                   p_micro: int = 1_000_000, q_micro: int = 1_000_000,
                   src: str = "src", dst: str = "dst",
                   seed: str = "n2v") -> DataFrame:
    """Deterministic node2vec-style SECOND-ORDER biased walks (Grover &
    Leskovec 2016).  Where ``random_walks`` picks hops uniformly, here a
    candidate hop x from node c with previous node t is penalized by an
    integer multiplier chosen by d(t, x):

      x == t            -> p_micro   (return penalty, node2vec's p)
      t–x edge exists   -> 1_000_000 (distance-1, weight 1)
      otherwise         -> q_micro   (exploration penalty, node2vec's q)

    and the walk takes ``argmin over x of H40(seed|t|prev|c|x) * mult``
    — a 40-bit md5 hash (DuckDB-replayable) times the penalty, so larger
    penalties are proportionally less likely to win, ties broken
    x-ascending.  Every choice derives from (seed, step, prev, cur, x):
    task retries reproduce the walk exactly (seeded-randomness
    invariant).  Step 1 has no previous node and is unbiased.

    The d(t,x) test uses the SYMMETRIZED edge set (node2vec is defined on
    the undirected neighborhood structure) while hops follow directed
    out-edges.  Per step: frontier ⋈ out-edges + left-semi-style probe of
    the (prev, cand) pair against the symmetric edge set + one min_by —
    keys-only shuffles, O(W·deg) candidate rows, localCheckpoint keeps
    lineage flat.  Returns (start, step, node), step 0 = start.
    """
    if length < 1:
        raise ValueError("length must be >= 1")
    for nm, v in (("p_micro", p_micro), ("q_micro", q_micro)):
        if not 1 <= v <= 8_000_000:
            # H40 < 2^40; mult <= 8e6 keeps H40 * mult < 2^63
            raise ValueError(f"{nm} must be in [1, 8000000], got {v}")
    pre = (edges.select(F.col(src).alias("c"), F.col(dst).alias("n"))
           .filter(F.col("c").isNotNull() & F.col("n").isNotNull())
           .filter(F.col("c") != F.col("n")))
    sel = pre.distinct()

    from .traversal import small_rows

    # probe BELOW the distinct (small_rows dedups driver-side)
    probe = small_rows(pre)
    if probe is not None:
        # small-graph path: the identical hash-biased argmin walk over
        # the collected adjacency — every choice still derives from
        # (seed, step, prev, cur, cand), so it is bit-identical to the
        # distributed rounds (oracle-verified)
        import hashlib

        out_adj: dict = {}
        und_set = set()
        for c, n in probe:
            out_adj.setdefault(c, []).append(n)
            und_set.add((c, n))
            und_set.add((n, c))
        starts = sorted(out_adj)
        cur = {s: (s, None) for s in starts}
        rows = [(s, 0, s) for s in starts]
        for t in range(1, length + 1):
            nxt = {}
            for s, (node, prev) in cur.items():
                best = None
                for n in out_adj.get(node, ()):
                    if prev is not None and n == prev:
                        mult = int(p_micro)
                    elif (prev, n) in und_set:
                        mult = 1_000_000
                    else:
                        mult = int(q_micro)
                    key = (f"{seed}|{t}|"
                           f"{'-' if prev is None else prev}|{node}|{n}")
                    h = int(hashlib.md5(key.encode())
                            .hexdigest()[:10], 16)
                    cand = (h * mult, n)
                    if best is None or cand < best:
                        best = cand
                if best is not None:
                    nxt[s] = (best[1], node)
                    rows.append((s, t, best[1]))
            cur = nxt
        ty = sel.schema["c"].dataType.simpleString()
        return local_frame(
            edges.sparkSession, rows, f"start {ty}, step int, node {ty}")

    e = _checkpoint(sel)
    und = (e.unionByName(e.select(F.col("n").alias("c"),
                                  F.col("c").alias("n")))
           .distinct()
           .select(F.col("c").alias("prev"), F.col("n").alias("n"),
                   F.lit(1).alias("_adj")))

    def h40(step: int):
        key = F.concat_ws("|", F.lit(seed), F.lit(str(step)),
                          F.coalesce(F.col("prev").cast("string"),
                                     F.lit("-")),
                          F.col("node").cast("string"),
                          F.col("n").cast("string"))
        return F.conv(F.substring(F.md5(key), 1, 10), 16, 10).cast("long")

    def step_df(cur: DataFrame, t: int) -> DataFrame:
        cand = cur.join(e.withColumnRenamed("c", "node"), "node")
        cand = cand.join(und, ["prev", "n"], "left")
        mult = (F.when(F.col("n") == F.col("prev"), F.lit(int(p_micro)))
                .when(F.col("_adj").isNotNull(), F.lit(1_000_000))
                .otherwise(F.lit(int(q_micro)))).cast("long")
        score = h40(t) * mult
        return _checkpoint(
            cand.groupBy("start")
            .agg(F.min_by(F.struct(F.col("n"), F.col("node")),
                          F.struct(score.alias("s"),
                                   F.col("n").alias("n"))).alias("_nx"))
            .select("start", F.col("_nx.n").alias("node"),
                    F.col("_nx.node").alias("prev")))

    starts = e.select(F.col("c").alias("start")).distinct()
    cur = starts.select("start", F.col("start").alias("node"),
                        F.lit(None).cast(starts.schema["start"].dataType)
                        .alias("prev"))
    out = cur.select("start", F.lit(0).alias("step"), "node")
    for t in range(1, length + 1):
        cur = step_df(cur, t)
        out = out.unionByName(
            cur.select("start", F.lit(t).alias("step"), "node"))
    return out


def luby_mis(edges: DataFrame, src: str = "src", dst: str = "dst",
             seed: str = "mis", max_rounds: int = 40) -> DataFrame:
    """Maximal independent set via Luby's algorithm (Luby 1986) with
    deterministic per-round hash priorities — the standard symmetry-
    breaking primitive (conflict-free scheduling, coordinated crawl
    politeness, greedy graph coloring seeds).

    Round r: every live node draws priority H(seed|r|id) (md5_60 —
    DuckDB-replayable); a node enters the MIS iff its (priority, id)
    tuple beats every live neighbor's (ties are id-broken, so the round
    is a total order and retries reproduce it).  Winners and their
    neighbors leave the live set.  Luby's analysis gives O(log V)
    expected rounds; per round this is one join of the live adjacency
    against priorities + one min aggregation — keys-only.  The round cap
    RAISES on exhaustion (repo invariant: truncated fixpoints never
    return silently).  Returns (id, mis_round).
    """
    e = undirected_canonical(edges, src, dst)
    sym = _checkpoint(
        e.select(F.col("lo").alias("id"), F.col("hi").alias("nbr"))
        .unionByName(e.select(F.col("hi").alias("id"),
                              F.col("lo").alias("nbr"))))

    def step(state):
        r, live, out = state
        r += 1
        pri_col = F.conv(F.substring(F.md5(F.concat_ws(
            "|", F.lit(seed), F.lit(str(r)),
            F.col("id").cast("string"))), 1, 15), 16, 10).cast("long")
        pri = live.select("id", pri_col.alias("h"))
        live_sym = (sym.join(live, "id", "left_semi")
                    .join(live.withColumnRenamed("id", "nbr"), "nbr",
                          "left_semi"))
        nbr_best = (live_sym
                    .join(pri.select(F.col("id").alias("nbr"),
                                     F.col("h").alias("nh")), "nbr")
                    .groupBy("id")
                    .agg(F.min(F.struct(F.col("nh"), F.col("nbr")))
                         .alias("_b")))
        winners = _checkpoint(
            pri.join(nbr_best, "id", "left")
            .filter(F.col("_b").isNull()
                    | (F.struct(F.col("h"), F.col("id")) < F.col("_b")))
            .select("id"))
        out = out.unionByName(
            winners.select("id", F.lit(r).alias("mis_round")))
        removed = (winners.unionByName(
            live_sym.join(winners, "id", "left_semi").select(
                F.col("nbr").alias("id")))
            .distinct())
        live = _checkpoint(live.join(removed, "id", "left_anti"))
        return (r, live, out), live.isEmpty()

    live = _checkpoint(sym.select("id").distinct())
    empty = live.select("id", F.lit(0).alias("mis_round")).limit(0)
    return _fixpoint((0, live, empty), step, max_rounds, "luby_mis")[2]


def skipgram_pairs(walks: DataFrame, window: int = 2,
                   walk_col: str = "start", step_col: str = "step",
                   node_col: str = "node") -> DataFrame:
    """Skip-gram (center, context) training pairs from walk sequences —
    the DeepWalk/node2vec corpus-generation stage (Perozzi et al. 2014):
    every ordered pair of distinct positions within ``window`` of each
    other in the same walk, pooled to (center, context, n_pairs).

    Input is the (walk id, step, node) shape ``random_walks`` /
    ``node2vec_walks`` emit.  The within-walk self-join produces at most
    2*window rows per position — O(W * L * window) total, and the count
    aggregate is map-side combinable, so corpus size only widens the map
    stage; output is bounded by the co-occurring node-pair vocabulary.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    a = walks.select(F.col(walk_col).alias("_w"),
                     F.col(step_col).alias("_sc"),
                     F.col(node_col).alias("center"))
    b = walks.select(F.col(walk_col).alias("_w"),
                     F.col(step_col).alias("_sx"),
                     F.col(node_col).alias("context"))
    return (a.join(b, "_w")
            .filter((F.col("_sc") != F.col("_sx"))
                    & (F.abs(F.col("_sc") - F.col("_sx")) <= window))
            .groupBy("center", "context")
            .agg(F.count("*").cast("long").alias("n_pairs")))


def butterfly_counts(edges: DataFrame, u: str = "u", v: str = "v",
                     max_hub_degree: int | None = None) -> DataFrame:
    """Per-node butterfly (2x2-biclique / bipartite 4-cycle) counts on the
    ``v`` side of a bipartite graph — the bipartite analogue of triangle
    counting (Wang et al. 2019 "Vertex Priority Based Butterfly Counting").

    A butterfly is two ``v``-nodes sharing two distinct ``u``-neighbors;
    it is the smallest unit of bipartite clustering (co-purchase /
    co-click cohesion).  Counted via WEDGES: the edge list self-joined on
    ``u`` yields (v1 < v2) wedges, a count ``c`` per pair gives
    ``C(c, 2)`` butterflies, summed per member node.  Every ``v`` node
    incident to >= 1 edge appears (0 when in no butterfly).

    Scale: wedge generation is sum_u deg(u)^2 — the standard shape, and
    the one skew hazard.  ``max_hub_degree`` (optional) EXCLUDES hub
    ``u``-nodes above the cap from wedge generation (keys-only degree
    census + semi-join, same discipline as ``_pair_intersections``'s
    ``max_shingle_df``): counts become lower bounds and the drop is
    auditable by re-running with the cap off on the excluded slice.  The
    per-pair aggregate is map-side combinable; no node's full
    neighborhood is ever materialized on one task.
    """
    e = (edges.select(F.col(u).alias("u"), F.col(v).alias("v"))
         .filter(F.col(u).isNotNull() & F.col(v).isNotNull())
         .distinct())
    nodes = e.select(F.col("v").alias("id")).distinct()
    if max_hub_degree is not None:
        ok = (e.groupBy("u").agg(F.count("*").alias("_d"))
              .filter(F.col("_d") <= max_hub_degree).select("u"))
        e = e.join(ok, "u", "left_semi")
    l, r = e.alias("l"), e.alias("r")
    wedges = (l.join(r, (F.col("l.u") == F.col("r.u"))
                     & (F.col("l.v") < F.col("r.v")))
              .select(F.col("l.v").alias("v1"), F.col("r.v").alias("v2")))
    pairs = (wedges.groupBy("v1", "v2").agg(F.count("*").alias("c"))
             .filter(F.col("c") >= 2)
             .withColumn("bf", (F.col("c") * (F.col("c") - 1) / 2)
                         .cast("long")))
    member = (pairs.select(F.col("v1").alias("id"), "bf")
              .unionByName(pairs.select(F.col("v2").alias("id"), "bf")))
    counts = member.groupBy("id").agg(F.sum("bf").alias("n_butterflies"))
    return (nodes.join(counts, "id", "left")
            .select("id", F.coalesce("n_butterflies", F.lit(0))
                    .cast("long").alias("n_butterflies")))


def quotient_graph(edges: DataFrame, labels: DataFrame, src: str = "src",
                   dst: str = "dst", id_col: str = "id",
                   label_col: str = "label") -> DataFrame:
    """Graph summarization by node attribute (the quotient / SNAP-style
    rollup): collapse every node into its label's super-node and return
    one row per directed super-edge with

      * ``n_edges``  — edge multiplicity (every input row counts), and
      * ``n_pairs``  — distinct underlying (src, dst) node pairs,

    self-loop super-edges included (intra-group edges are the group's
    internal density — dropping them would hide it).  The host-graph
    rollup of a page-level web graph and the nation→region rollup of a
    trade graph are both this operator.

    A node missing from ``labels`` RAISES (lazy ``raise_error`` guard,
    the repo's loud-failure idiom) — a silent drop would undercount
    super-edges invisibly.  Scale: two broadcast-or-shuffle label joins
    plus one map-side-combinable aggregate; output is |labels|² at worst,
    typically tiny."""
    l = labels.select(F.col(id_col).alias("_n"), F.col(label_col))

    def side(col, out):
        joined = F.when(
            F.col("_l").isNull(),
            F.raise_error(F.concat(
                F.lit(f"quotient_graph: unlabeled node in {col}: "),
                F.col(col).cast("string")))).otherwise(F.col("_l"))
        return joined.alias(out)

    e = (edges
         .join(l.withColumnRenamed("_n", src)
                .withColumnRenamed(label_col, "_l"), src, "left")
         .withColumn("g_src", side(src, "g_src")).drop("_l")
         .join(l.withColumnRenamed("_n", dst)
                .withColumnRenamed(label_col, "_l"), dst, "left")
         .withColumn("g_dst", side(dst, "g_dst")).drop("_l"))
    return (e.groupBy("g_src", "g_dst")
            .agg(F.count("*").alias("n_edges"),
                 F.countDistinct(src, dst).alias("n_pairs")))


def lt_cascade(edges: DataFrame, seeds: DataFrame, src: str = "src",
               dst: str = "dst", weight: str = "w",
               theta_micro: int = 500_000,
               max_rounds: int = 100) -> DataFrame:
    """Deterministic linear-threshold cascade (the LT influence model of
    Kempe-Kleinberg-Tardos with a FIXED per-node threshold): a node
    activates when its active in-neighbors carry at least
    ``theta_micro``/10^6 of its total in-weight —

        activate(v) iff sum_active_w(v) * 10^6 >= theta_micro * total_w(v)

    — all BIGINT, engine-exact.  Returns (id, round): seeds at round 0,
    then the synchronous round each node first crosses its threshold.
    Monotone, so it converges in <= V rounds; RAISES loudly if
    ``max_rounds`` is exhausted while still activating (a truncated
    cascade undercounts influence invisibly).

    Per round: one join of edges to the (still small) newly-active set,
    one map-side-combinable sum per target, one threshold filter, one
    anti-join against already-active — the Pregel aggregate-neighbors
    shape.  Nodes with zero in-weight never activate (no division
    anywhere)."""
    if not (0 < theta_micro <= 10 ** 6):
        raise ValueError("theta_micro must be in (0, 10^6]")
    e = _checkpoint(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"),
                                 F.col(weight).cast("long").alias("w"))
                    .filter(F.col("u") != F.col("v")))
    if not e.filter(F.col("w").isNull() | (F.col("w") <= 0)).isEmpty():
        raise ValueError("lt_cascade requires positive integral weights")
    tot = e.groupBy("v").agg(F.sum("w").alias("tw"))

    def step(state):
        rnd, active = state
        aw = (e.join(active.select(F.col("id").alias("u")), "u")
              .groupBy("v").agg(F.sum("w").alias("aw")))
        fresh = (aw.join(tot, "v")
                 .filter(F.col("aw") * 10 ** 6
                         >= F.lit(theta_micro) * F.col("tw"))
                 .select(F.col("v").alias("id"))
                 .join(active.select("id"), "id", "left_anti")
                 .select("id", F.lit(rnd + 1).alias("round")))
        if fresh.isEmpty():
            return state, True
        return (rnd + 1, _checkpoint(active.unionByName(fresh))), False

    active = _checkpoint(seeds.select(F.col("id"), F.lit(0).alias("round"))
                         .distinct())
    return _fixpoint((0, active), step, max_rounds, "lt_cascade")[1]


def coreness(edges: DataFrame, src: str = "src", dst: str = "dst",
             max_rounds: int = 100) -> DataFrame:
    """FULL core decomposition — (id, coreness) for every node — via the
    H-operator iteration (Lü, Zhou, Zhang & Stanley 2016, "The H-index
    of a network node"): start from degrees and repeatedly replace each
    node's value with the H-INDEX of its neighbors' values (the largest
    h such that >= h neighbors hold value >= h); the fixed point IS the
    core number.  Monotone non-increasing, so convergence is detectable
    (no change) and extra rounds are no-ops; loud RuntimeError on cap.

    Per round: one join of values to the symmetrized edges + one
    per-node window (H = max over the value-desc ranking of
    min(value, rank) — the classic H-index identity).  The window
    partitions by node, so cost is bounded by the max degree: salt or
    pre-cap mega-hubs upstream if one node's adjacency cannot sit in a
    task.  Unlike iterative peeling (|V| sequential rounds worst case),
    H-iteration converges in O(diameter)-ish rounds in practice."""
    e = _checkpoint(undirected_canonical(edges, src, dst))
    sym = (e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
           .unionByName(e.select(F.col("hi").alias("a"),
                                 F.col("lo").alias("b"))))
    w = Window.partitionBy("a").orderBy(F.desc("c"), F.asc("b"))

    def step(vals):
        nbr = sym.join(vals.select(F.col("id").alias("b"), "c"), "b")
        new = _checkpoint(nbr.withColumn("_rn", F.row_number().over(w))
                          .groupBy(F.col("a").alias("id"))
                          .agg(F.max(F.least(F.col("c"), F.col("_rn")))
                               .cast("long").alias("c")))
        return new, _changed(new, vals, ["id"]).isEmpty()

    vals = _checkpoint(sym.groupBy(F.col("a").alias("id"))
                       .agg(F.count("*").cast("long").alias("c")))
    return (_fixpoint(vals, step, max_rounds, "coreness")
            .select("id", F.col("c").alias("coreness")))


def nominal_assortativity(edges: DataFrame, labels: DataFrame,
                          src: str = "src", dst: str = "dst",
                          id_col: str = "id",
                          label_col: str = "label") -> DataFrame:
    """Nominal (categorical) assortativity coefficient (Newman 2003,
    "Mixing patterns in networks") over a node labeling, EXACT rational:

        r = (m * sum_i E_ii - sum_i row_i * col_i)
            / (m^2        - sum_i row_i * col_i)

    where E_ij counts directed edges from label i to label j, row/col
    are its marginals and m the total edge count — returned as one row
    (m, r_num, r_den) in DECIMAL(38,0) (m^2 overflows BIGINT at
    web-scale m; the ``modularity`` convention).  r = 1 iff all edges
    stay within their label; 0 at random mixing.  Built on
    :func:`quotient_graph`, so it inherits the loud unlabeled-node
    guard; everything after the rollup is label-count-sized."""
    qg = quotient_graph(edges, labels, src, dst, id_col, label_col) \
        .select("g_src", "g_dst", "n_edges")
    row = qg.groupBy(F.col("g_src").alias("g")) \
        .agg(F.sum("n_edges").alias("_r"))
    col = qg.groupBy(F.col("g_dst").alias("g")) \
        .agg(F.sum("n_edges").alias("_c"))
    ab = (row.join(col, "g")
          .agg(F.sum(F.col("_r").cast("decimal(38,0)") * F.col("_c"))
               .cast("decimal(38,0)").alias("_ab")))
    tot = qg.agg(
        F.sum("n_edges").cast("long").alias("m"),
        F.sum(F.when(F.col("g_src") == F.col("g_dst"),
                     F.col("n_edges")).otherwise(F.lit(0)))
        .cast("long").alias("_diag"))
    md = F.col("m").cast("decimal(38,0)")
    return (tot.crossJoin(ab)
            .select("m",
                    (md * F.col("_diag") - F.col("_ab"))
                    .cast("decimal(38,0)").alias("r_num"),
                    (md * md - F.col("_ab"))
                    .cast("decimal(38,0)").alias("r_den")))
