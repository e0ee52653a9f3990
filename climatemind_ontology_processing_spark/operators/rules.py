"""Horn-rule mining over the triple store (AMIE-style, Galárraga et al.,
WWW 2013 — chain rules only).

KG CONSTRUCTION needs more than extraction: once triples exist, the
highest-precision new edges come from rules the graph itself supports
("customer in_nation N and N in_region R ⇒ customer located_in R").  This
operator mines every 2-chain rule

    p(x, z) ∧ q(z, y)  ⇒  r(x, y)

and scores it with the standard counts:

    n_body   = #distinct (x, y) pairs connected by the body chain
    support  = #those pairs where r(x, y) is already in the KG
    conf     = support / n_body          (CWA confidence)

Spark shape: ONE self-join of the triple table on the chain variable z
(shuffle keyed by entity id), a distinct to collapse multiple z-witnesses
per (x, y), one join against the head triples, and two
map-side-combinable counts.  Confidence is integer micro-arithmetic
(support * 1e6 DIV n_body) — engine-exact, no floats anywhere, replayable
by the DuckDB oracle (query ``rule_mining``).

Skew note (the classic AMIE cost): a hub entity z with in-degree d_in and
out-degree d_out contributes d_in * d_out body pairs.  ``max_fanout``
guards production runs by dropping z values whose in*out product exceeds
the cap — LOUDLY, via the returned audit frame, mirroring the LSH
megabucket guardrail.  The registered oracle query runs with the guard
OFF (exact all-pairs semantics); the guard's effect is pinned by pytest
instead — same split as minhash_lsh_pairs.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def chain_body_pairs(triples: DataFrame,
                     max_fanout: int | None = None) -> tuple[DataFrame, DataFrame]:
    """((p, q, x, y) distinct body-chain pairs, oversized-z audit frame).

    The audit frame (z, n_in, n_out) lists chain variables dropped by
    ``max_fanout`` — empty when the guard is off or nothing tripped."""
    t = triples.select("subj", "pred", "obj")
    if max_fanout is not None:
        fan = (t.groupBy(F.col("obj").alias("z"))
               .agg(F.count("*").alias("n_in"))
               .join(t.groupBy(F.col("subj").alias("z"))
                      .agg(F.count("*").alias("n_out")), "z")
               .filter(F.col("n_in") * F.col("n_out") > int(max_fanout)))
        t1 = t.join(fan.select(F.col("z").alias("obj")), "obj", "left_anti")
        t2 = t.join(fan.select(F.col("z").alias("subj")), "subj", "left_anti")
    else:
        fan = local_frame(triples.sparkSession, [],
                          "z string, n_in long, n_out long")
        t1 = t2 = t
    body = (t1.alias("b1")
            .join(t2.alias("b2"), F.col("b1.obj") == F.col("b2.subj"))
            .select(F.col("b1.pred").alias("p"), F.col("b2.pred").alias("q"),
                    F.col("b1.subj").alias("x"), F.col("b2.obj").alias("y"))
            .distinct())
    return body, fan


def mine_chain_rules(triples: DataFrame, min_support: int = 5,
                     max_fanout: int | None = 1_000_000,
                     assume_distinct: bool = False) -> DataFrame:
    """(p, q, head, support, n_body, conf_micro) for every 2-chain rule
    with ``support >= min_support``; conf_micro = support*1e6 DIV n_body
    (truncating integer division — identical in Spark and ANSI SQL).

    Head triples with x == y chains are counted like any other (AMIE does
    not special-case reflexive witnesses; neither do we).

    ``assume_distinct=True`` skips the head-side dedup exchange — pass it
    ONLY when the input provably has no duplicate (subj, pred, obj) rows
    (e.g. a union of per-predicate arms with disjoint predicates); a
    duplicated head row would otherwise inflate ``support``."""
    # NOTE on materialization: the triple plan feeds three arms (both body
    # sides + heads) and body feeds two aggregates, but eagerly
    # localCheckpointing them measured NEUTRAL-to-worse at sf0.1 — the
    # recompute is broadcast-join + scan (cheap) while the checkpoint
    # synchronously stores ~0.6M rows twice.  Callers whose triple input
    # is itself an expensive shuffle plan should checkpoint before calling.
    body, _ = chain_body_pairs(triples, max_fanout)
    n_body = body.groupBy("p", "q").agg(F.count("*").alias("n_body"))
    heads = triples.select(F.col("subj").alias("x"),
                           F.col("pred").alias("head"),
                           F.col("obj").alias("y"))
    if not assume_distinct:
        heads = heads.distinct()
    support = (body.join(heads, ["x", "y"])
               .groupBy("p", "q", "head")
               .agg(F.count("*").alias("support"))
               .filter(F.col("support") >= int(min_support)))
    return (support.join(n_body, ["p", "q"])
            .withColumn("conf_micro",
                        F.expr("support * 1000000 DIV n_body"))
            .select("p", "q", "head", "support", "n_body", "conf_micro"))


def apply_chain_rules(triples: DataFrame, rules: DataFrame,
                      min_conf_micro: int = 900_000) -> DataFrame:
    """Materialize the NEW edges high-confidence rules predict:
    (subj, pred, obj, rule_p, rule_q, conf_micro) for body-chain pairs
    whose head triple is NOT yet in the KG — the rule-inference edge feed
    a curation step can review/append.  One anti-join against the
    existing head triples keeps only genuinely new predictions."""
    strong = rules.filter(F.col("conf_micro") >= int(min_conf_micro))
    body, _ = chain_body_pairs(triples, max_fanout=None)
    cand = (body.join(F.broadcast(strong), ["p", "q"])
            .select(F.col("x").alias("subj"), F.col("head").alias("pred"),
                    F.col("y").alias("obj"),
                    F.col("p").alias("rule_p"), F.col("q").alias("rule_q"),
                    "conf_micro"))
    existing = triples.select("subj", "pred", "obj").distinct()
    return cand.join(existing, ["subj", "pred", "obj"], "left_anti")


def pred_signatures(triples: DataFrame, s: str = "subj", p: str = "pred",
                    o: str = "obj", type_sep: str = ":") -> DataFrame:
    """Schema induction over the raw triple table: one signature row per
    predicate — the statistics AMIE-style systems precompute to direct
    rule search and that entity-typing uses as an induced domain/range
    (the reference encodes its schema by hand in OWL; a web-extracted KG
    must recover it from the data).

    Per predicate: ``n_triples``, ``n_subj``/``n_obj`` (distinct),
    ``fun_micro``  = n_subj * 1e6 DIV n_triples (Galarraga functionality;
    1e6 == perfectly functional) and ``inv_fun_micro`` likewise for
    objects — truncating integer division, engine-exact; plus
    ``subj_type``/``obj_type``: the modal entity-type prefix (text before
    ``type_sep``, the 'c:'/'n:'/... convention of the KG builders), ties
    broken type-asc so the mode is deterministic.

    Plan shape: the counts are ONE groupBy(pred) with distinct-count
    expansion; each modal type is a (pred, type) count + a
    predicate-keyed max_by — all keys-only aggregations over the scan,
    predicate cardinality is schema-sized so the final join is a
    broadcast.
    """
    t = triples.select(F.col(s).alias("s"), F.col(p).alias("p"),
                       F.col(o).alias("o"))
    counts = (t.groupBy("p").agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("s").alias("n_subj"),
        F.countDistinct("o").alias("n_obj")))

    def modal(col, out):
        ty = F.coalesce(F.substring_index(F.col(col), type_sep, 1),
                        F.lit(""))
        per = (t.groupBy("p", ty.alias("ty"))
               .agg(F.count("*").alias("n")))
        # max_by with a deterministic composite: biggest n, then ty asc.
        # Encode as struct ordering: (n, negated-lex ty) is awkward —
        # use two-stage min_by over (-n, ty) struct instead.
        return (per.groupBy("p")
                .agg(F.min_by("ty", F.struct((-F.col("n")).alias("a"),
                                             F.col("ty").alias("b")))
                     .alias(out)))

    return (counts
            .join(F.broadcast(modal("s", "subj_type")), "p")
            .join(F.broadcast(modal("o", "obj_type")), "p")
            .select(F.col("p").alias("pred"), "n_triples", "n_subj", "n_obj",
                    # integer DIV end-to-end: a truncated double quotient
                    # can flip at exact boundaries (CLAUDE.md cast lesson)
                    F.expr("n_subj * 1000000L DIV n_triples")
                    .alias("fun_micro"),
                    F.expr("n_obj * 1000000L DIV n_triples")
                    .alias("inv_fun_micro"),
                    "subj_type", "obj_type"))
