"""RDFS entailment closure over a distributed triple table.

The reference's only reasoning step is owlready2's ``sync_reasoner`` run
over the curated ontology, whose sole observable effect on the pipeline
output is the class-ancestor closure (SURVEY §2 X1;
/root/reference/ontology_processing/process_new_ontology_file.py — the
repo computes that closure from scratch in sources/owl_reader.py:160).
This module generalizes that step to web-scale KG construction: the
standard RDFS entailment rules (Hayes & Patel-Schneider, "RDF 1.1
Semantics" §9.2.1) evaluated as DataFrame joins over (subj, pred, obj)
rows, so a 10^12-triple extracted KG gets the same schema-aware closure
the reference gets from a single in-memory ontology.

Rules implemented (their W3C names):

- rdfs11  subClassOf transitivity
- rdfs9   (x type c), (c subClassOf d)      => (x type d)
- rdfs5   subPropertyOf transitivity
- rdfs7   (x p y), (p subPropertyOf q)      => (x q y)
- rdfs2   (p domain c), (x p y)             => (x type c)
- rdfs3   (p range c),  (x p y)             => (y type c)

Evaluation is STRATIFIED, which is the complete fixpoint for this rule
subset: schema closures (rdfs5/11) depend only on schema; rdfs7 reads
instance assertions + the subPropertyOf closure; rdfs2/3 read the
EXTENDED assertion set (so a domain declared on a superproperty fires
for subproperty assertions); rdfs9 reads the resulting type set + the
subClassOf closure.  No rule feeds back into an earlier stratum — RDF
metamodeling (subPropertyOf of subClassOf itself, container membership,
rdfs4 literal generalization) is deliberately out of scope and
documented here.

Scale shape: the schema side (classes + properties) is vocabulary-sized
— its closures are tiny and BROADCAST into every instance-side join, so
the only full-size operations are one map-side-joined projection per
rule plus the final distinct.  The transitive closures themselves run
on the shared reachability kernel (``traversal._reach`` and its driver
twin ``_reach_local``: semi-naive, loud round cap — a truncated fixpoint
is invisible).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .traversal import (_adjacency, _checkpoint, _reach, _reach_local,
                        small_rows)

S, P, O = "subj", "pred", "obj"

# Schemas at or below this row count run the literal small path in
# rdfs_closure: the schema stratum (transitive closures, sp-closed
# domain/range maps) computed driver-side and the instance-side rule joins
# replaced by literal-map lookups — zero broadcast exchanges, zero tiny
# shuffle stages, one final aggregation.  Capped well below the PQ-literal
# precedent (CLAUDE.md: literal expression trees cost analysis time) —
# bigger schemas keep the broadcast-join path unchanged.  Set to 0 to
# disable (used by the equivalence pin in tests).
SCHEMA_LITERAL_MAX = 256


def transitive_closure(pairs: DataFrame, a: str = "a", b: str = "b",
                       max_rounds: int = 25) -> DataFrame:
    """Transitive closure of a binary relation as (a, b) pairs.

    Size-adaptive (the traversal.SMALL_GRAPH_THRESHOLD convention): a
    relation that fits on the driver — the usual case for schema
    hierarchies, which are vocabulary-sized — closes in one collected
    BFS pass with zero per-round Spark jobs; bigger relations run the
    distributed kernel.  Identical output either way (pinned in
    tests/test_rdfs.py).

    Both arms reach from the relation's own pairs, tagged by their left
    side, so a node reaches itself only through a cycle.  Each round
    extends only the NEW pairs of the previous one by one hop; RAISES iff
    the frontier is still non-empty after ``max_rounds`` expansions
    (loud-cap invariant).
    """
    sel = pairs.select(F.col(a).alias("tag"), F.col(b).alias("id")).distinct()
    probe = small_rows(sel)
    if probe is not None:
        ta, tb = (f.dataType.simpleString() for f in sel.schema.fields)
        out = _reach_local(_adjacency(probe), probe, max_rounds,
                           "transitive_closure")
        return pairs.sparkSession.createDataFrame(sorted(out),
                                                  f"{a} {ta}, {b} {tb}")
    closure = _reach(sel, sel.select(F.col("tag").alias("from"),
                                     F.col("id").alias("to")),
                     max_rounds, "transitive_closure")
    return closure.select(F.col("tag").alias(a), F.col("id").alias(b))


def rdfs_closure(instance: DataFrame, schema: DataFrame,
                 type_pred: str = "type", sub_class: str = "subClassOf",
                 sub_prop: str = "subPropertyOf", domain: str = "domain",
                 range_: str = "range", max_rounds: int = 25,
                 assume_distinct: bool = False) -> DataFrame:
    """Full RDFS entailment of ``instance`` triples under ``schema``.

    Both inputs are (subj, pred, obj) tables; ``schema`` holds the
    subClassOf / subPropertyOf / domain / range rows (vocabulary-sized,
    broadcast), ``instance`` holds assertions including declared
    ``type`` rows (corpus-sized, never collected).

    Returns the deductive closure — asserted rows (instance AND schema)
    plus every entailed triple — as (subj, pred, obj, derived) with
    ``derived`` = 0 for asserted rows, 1 for rows that exist only by
    entailment.  Output is distinct; an entailed triple that is also
    asserted reports derived = 0.
    """
    # both sides are consumed by 3+ rule branches below; materialize once
    # so an expensive upstream instance plan (e.g. a multi-join KG build)
    # is not re-executed per branch.  The schema side is vocabulary-sized.
    # ``assume_distinct=True`` skips the instance-side dedup exchange —
    # pass it only when the input provably has no duplicate rows (the
    # final output aggregation dedups anyway, but duplicated asserted
    # rows would inflate the intermediate joins)
    inst = instance.select(S, P, O)
    if not assume_distinct:
        inst = inst.distinct()
    inst = _checkpoint(inst)

    # literal small path: a vocabulary-sized schema closes driver-side and
    # the rule joins become literal-map lookups — the instance side then
    # runs as pure projections into ONE final aggregation (no broadcast
    # exchanges, no tiny schema-side shuffle stages).  Equivalence to the
    # join path is pinned in tests/test_rdfs.py::test_literal_path_equals_join_path.
    if SCHEMA_LITERAL_MAX > 0 and all(
            f.dataType.simpleString() == "string"
            for f in schema.select(S, P, O).schema.fields):
        probe = schema.select(S, P, O).limit(SCHEMA_LITERAL_MAX + 1).collect()
        if (len(probe) <= SCHEMA_LITERAL_MAX
                and not any(r[0] is None or r[1] is None or r[2] is None
                            for r in probe)):
            rows = sorted({(r[0], r[1], r[2]) for r in probe})
            return _rdfs_closure_literal(
                inst, rows, type_pred, sub_class, sub_prop, domain, range_,
                max_rounds)
    sch = _checkpoint(schema.select(S, P, O).distinct())

    # --- schema stratum: rdfs11 / rdfs5 closures (vocabulary-sized) ------
    sc = transitive_closure(
        sch.filter(F.col(P) == sub_class).select(S, O), a=S, b=O,
        max_rounds=max_rounds).withColumnRenamed(S, "c") \
        .withColumnRenamed(O, "d")
    sp = transitive_closure(
        sch.filter(F.col(P) == sub_prop).select(S, O), a=S, b=O,
        max_rounds=max_rounds).withColumnRenamed(S, "p") \
        .withColumnRenamed(O, "q")
    dom = sch.filter(F.col(P) == domain) \
             .select(F.col(S).alias("p"), F.col(O).alias("c"))
    rng = sch.filter(F.col(P) == range_) \
             .select(F.col(S).alias("p"), F.col(O).alias("c"))
    # domain/range of a SUPERproperty apply to subproperty assertions:
    # close the property key through sp once, schema-side (still tiny).
    dom_eff = dom.unionByName(
        sp.join(dom.withColumnRenamed("p", "q"), "q").select("p", "c")) \
        .distinct()
    rng_eff = rng.unionByName(
        sp.join(rng.withColumnRenamed("p", "q"), "q").select("p", "c")) \
        .distinct()

    # --- instance stratum ------------------------------------------------
    asserted_a = inst.filter(F.col(P) != type_pred)
    # rdfs7: propagate assertions up the property hierarchy
    # no intermediate distincts below: every branch drains into the final
    # (s,p,o) aggregation, which deduplicates once for all of them
    ext_a = asserted_a.unionByName(
        asserted_a.join(F.broadcast(sp), asserted_a[P] == sp["p"])
        .select(S, F.col("q").alias(P), O))

    declared_t = inst.filter(F.col(P) == type_pred) \
                     .select(S, F.col(O).alias("c"))
    # rdfs2/3 over the RAW assertions with sp-closed domain/range maps
    # (equivalent to running them over ext_a with the raw maps, one
    # corpus-side join cheaper).
    dom_t = asserted_a.join(F.broadcast(dom_eff),
                            asserted_a[P] == dom_eff["p"]).select(S, "c")
    rng_t = asserted_a.join(F.broadcast(rng_eff),
                            asserted_a[P] == rng_eff["p"]) \
                      .select(F.col(O).alias(S), "c")
    types = declared_t.unionByName(dom_t).unionByName(rng_t)
    # rdfs9: propagate types up the class hierarchy
    all_types = types.unionByName(
        types.join(F.broadcast(sc), "c")
        .select(S, F.col("d").alias("c")))

    # entailed ⊇ asserted (every asserted row re-derives through ext_a /
    # declared types / the schema arm), so one (s,p,o)-keyed MIN over the
    # tagged union replaces the old entailed.distinct() + asserted
    # .distinct() + left join — three full-size exchanges become one
    # map-side-combinable aggregation (guide §2.3 "aggregate before you
    # shuffle"); the intermediate distincts above it only deduplicate
    # what this aggregate deduplicates anyway.
    entailed = (ext_a
                .unionByName(all_types.select(
                    S, F.lit(type_pred).alias(P), F.col("c").alias(O)))
                .unionByName(sc.select(F.col("c").alias(S),
                                       F.lit(sub_class).alias(P),
                                       F.col("d").alias(O)))
                .unionByName(sp.select(F.col("p").alias(S),
                                       F.lit(sub_prop).alias(P),
                                       F.col("q").alias(O)))
                .unionByName(sch)
                .withColumn("derived", F.lit(1)))
    asserted = inst.unionByName(sch).withColumn("derived", F.lit(0))
    return (entailed.unionByName(asserted)
            .groupBy(S, P, O)
            .agg(F.min("derived").alias("derived")))


def _rdfs_closure_literal(inst: DataFrame, sch_rows: list, type_pred: str,
                          sub_class: str, sub_prop: str, domain: str,
                          range_: str, max_rounds: int) -> DataFrame:
    """rdfs_closure's literal small path: ``sch_rows`` is the collected,
    deduped, null-free (subj, pred, obj) schema; ``inst`` is the already
    checkpointed instance table.  Same algebra as the join path — rdfs5/11
    closed by _reach_local (same loud round cap), rdfs7/2/3/9 as
    literal-map explodes (map miss => null => row dropped, exactly the
    inner-join semantics), identical final MIN-over-tagged-union."""
    spark = inst.sparkSession
    trip_schema = f"{S} string, {P} string, {O} string"

    def _closure(pred_name):
        pairs = [(s, o) for s, p, o in sch_rows if p == pred_name]
        return sorted(_reach_local(_adjacency(pairs), pairs, max_rounds,
                                   "transitive_closure"))

    sc_pairs = _closure(sub_class)   # rdfs11
    sp_pairs = _closure(sub_prop)    # rdfs5
    dom_by_p: dict = {}
    rng_by_p: dict = {}
    for s, p, o in sch_rows:
        if p == domain:
            dom_by_p.setdefault(s, set()).add(o)
        elif p == range_:
            rng_by_p.setdefault(s, set()).add(o)
    # domain/range of a SUPERproperty apply to subproperty assertions
    dom_eff = {p: set(cs) for p, cs in dom_by_p.items()}
    rng_eff = {p: set(cs) for p, cs in rng_by_p.items()}
    for p, q in sp_pairs:
        for tgt, src in ((dom_eff, dom_by_p), (rng_eff, rng_by_p)):
            if q in src:
                tgt.setdefault(p, set()).update(src[q])
    sp_by_p: dict = {}
    for p, q in sp_pairs:
        sp_by_p.setdefault(p, set()).add(q)
    sc_by_c: dict = {}
    for c, d in sc_pairs:
        sc_by_c.setdefault(c, set()).add(d)

    def _map_arr(m):
        args = []
        for k in sorted(m):
            args.append(F.lit(k))
            args.append(F.array(*[F.lit(v) for v in sorted(m[k])]))
        return F.create_map(*args)

    asserted_a = inst.filter(F.col(P) != type_pred)
    # rdfs7: propagate assertions up the property hierarchy
    ext_a = asserted_a
    if sp_by_p:
        ext_a = ext_a.unionByName(asserted_a.select(
            F.col(S), F.explode(_map_arr(sp_by_p)[F.col(P)]).alias(P),
            F.col(O)))
    declared_t = inst.filter(F.col(P) == type_pred) \
                     .select(S, F.col(O).alias("c"))
    # rdfs2/3 over the RAW assertions with sp-closed domain/range maps
    types = declared_t
    if dom_eff:
        types = types.unionByName(asserted_a.select(
            F.col(S), F.explode(_map_arr(dom_eff)[F.col(P)]).alias("c")))
    if rng_eff:
        types = types.unionByName(asserted_a.select(
            F.col(O).alias(S),
            F.explode(_map_arr(rng_eff)[F.col(P)]).alias("c")))
    # rdfs9: propagate types up the class hierarchy
    all_types = types
    if sc_by_c:
        all_types = types.unionByName(types.select(
            F.col(S), F.explode(_map_arr(sc_by_c)[F.col("c")]).alias("c")))

    sch_df = spark.createDataFrame(sch_rows, trip_schema)
    entailed = (ext_a
                .unionByName(all_types.select(
                    S, F.lit(type_pred).alias(P), F.col("c").alias(O)))
                .unionByName(sch_df))
    if sc_pairs:
        entailed = entailed.unionByName(spark.createDataFrame(
            [(c, sub_class, d) for c, d in sc_pairs], trip_schema))
    if sp_pairs:
        entailed = entailed.unionByName(spark.createDataFrame(
            [(p, sub_prop, q) for p, q in sp_pairs], trip_schema))
    entailed = entailed.withColumn("derived", F.lit(1))
    asserted = inst.unionByName(sch_df).withColumn("derived", F.lit(0))
    return (entailed.unionByName(asserted)
            .groupBy(S, P, O)
            .agg(F.min("derived").alias("derived")))


def rdfs_increment(closure: DataFrame, delta: DataFrame, schema: DataFrame,
                   **kw) -> DataFrame:
    """Incremental RDFS maintenance: the closure of (old KG ∪ delta)
    computed WITHOUT re-touching the old KG.

    Correctness rests on a structural fact of this rule subset: with the
    schema fixed, every instance-level rule (rdfs7, rdfs2, rdfs3, rdfs9)
    uses exactly ONE instance atom — the rules are *linear* in the
    instance relation — so entailment distributes over union:

        closure(KG ∪ Δ) = closure(KG) ∪ closure(Δ)

    (schema-only entailments appear identically on both sides).  The
    increment therefore costs O(|Δ|), never O(|KG|): run the full rules
    on Δ alone and merge.  ``closure`` must be a prior ``rdfs_closure``
    / ``rdfs_increment`` output (subj, pred, obj, derived); the merged
    ``derived`` flag is the AND of the sides (asserted anywhere wins —
    a row previously only-derived that Δ now asserts flips to 0).
    Schema changes are NOT incremental (a new subClassOf edge can
    entail from every old triple) — recompute from scratch on schema
    change; this mirrors plans/curate's forward-only increment trades.

    Equivalence to the from-scratch closure is pinned in
    tests/test_rdfs.py::test_increment_equals_full_run.
    """
    new = rdfs_closure(delta, schema, **kw)
    old = closure.select(S, P, O, "derived")
    return (old.unionByName(new.select(S, P, O, "derived"))
            .groupBy(S, P, O)
            .agg(F.min("derived").alias("derived")))
