"""Unigram language-model scoring — corpus-quality cross-entropy.

The CCNet / Gopher-style quality signal: train a smoothed unigram model on
the corpus (or a held-out ``train`` corpus), score every document by its
mean negative log-probability.  Low cross-entropy ~ fluent in-distribution
text; high ~ gibberish, boilerplate, wrong language.  Complements the
rule-based ``textstats.quality_features`` (ref climatemind applies no
statistical quality model; this is part of the training-data-pipeline
surface the task brief adds on top of reference parity).

100 TB shape:
* token counts: ONE explode + groupBy(token) with map-side partial
  aggregation — the shuffle carries (token, count) pairs only;
* vocabulary: top-V by count is a TakeOrdered (per-partition top-V merged
  on the driver), never a global sort;
* scoring: the V-row vocabulary and the 1-row constants broadcast; the
  only wide op is the per-doc aggregation whose shuffle payload is
  (doc_id, micro-logp partial sum, count) — document text never enters an
  exchange.

Determinism / oracle exactness: per-token log-probs are rounded to 6
decimals and summed as micro-scaled BIGINTs (order-independent integer
addition), so the DuckDB oracle replays the score hash-exactly; the only
cross-engine wiggle is the last ulp of ``ln`` itself, absorbed by the
round except on ~1e-8-probability boundaries.  Vocabulary cutoff ties
break (count desc, token asc) on both sides.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.operators.textstats import _tokens

from .traversal import _checkpoint


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (docs.select(F.col(id_col),
                        F.explode(_tokens(F.col(text_col))).alias("tok"))
            .filter(F.col("tok") != ""))


def unigram_counts(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(tok, cnt) over the lowercased letter/digit tokenization shared with
    ``textstats`` (so LM scores and token stats agree on what a token is)."""
    return _doc_tokens(docs, id_col, text_col).groupBy("tok") \
        .agg(F.count("*").alias("cnt"))


def lm_cross_entropy(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", top_v: int = 10000,
                     alpha: float = 1.0,
                     train: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_tokens, ce_nats): mean negative ln-probability per token
    under an add-``alpha`` unigram model with a top-``top_v`` vocabulary
    and a single pooled UNK type.

    Model: ``p(tok) = (cnt + a) / (total + a*(V+1))`` for in-vocabulary
    tokens; every out-of-vocabulary token is the one UNK type with
    ``cnt = total - sum(vocab counts)``.  ``train`` defaults to ``docs``
    (self-scoring); pass a clean held-out corpus to score against it.
    Documents with zero tokens produce no row (they have no defined mean).
    """
    counts = unigram_counts(train if train is not None else docs,
                            id_col, text_col)
    vocab = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_v)
    consts = (counts.agg(F.sum("cnt").cast("double").alias("_total"))
              .crossJoin(vocab.agg(
                  F.sum("cnt").cast("double").alias("_invocab"),
                  F.count("*").cast("double").alias("_v"))))
    toks = _doc_tokens(docs, id_col, text_col)
    p = ((F.coalesce(F.col("cnt").cast("double"),
                     F.col("_total") - F.col("_invocab")) + F.lit(alpha))
         / (F.col("_total") + F.lit(alpha) * (F.col("_v") + 1.0)))
    lp_micro = F.round(F.round(F.log(p), 6) * 1e6).cast("long")
    scored = (toks.join(F.broadcast(vocab), "tok", "left")
              .crossJoin(F.broadcast(consts))
              .select(id_col, lp_micro.alias("_lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.round(-F.sum("_lp") / (F.count("*") * 1e6), 6)
                  .alias("ce_nats")))


_UNK = "\x00UNK"
_BOS = "\x00BOS"


def _class_stream(docs: DataFrame, vocab: DataFrame, id_col: str,
                  text_col: str) -> DataFrame:
    """(doc_id, pos, prev, cur): the token stream mapped to vocabulary
    classes (out-of-vocabulary -> the UNK class) with each token paired
    with its predecessor class (position 0 conditions on BOS).  The lag
    runs per-document (window partitioned by doc), so state never crosses
    documents."""
    from pyspark.sql import Window
    toks = (docs.select(
        F.col(id_col),
        F.posexplode(F.filter(_tokens(F.col(text_col)),
                              lambda t: t != "")).alias("pos", "tok")))
    classed = (toks.join(F.broadcast(vocab.select("tok").withColumn(
        "_inv", F.lit(1))), "tok", "left")
        .select(id_col, "pos",
                F.when(F.col("_inv") == 1, F.col("tok"))
                 .otherwise(F.lit(_UNK)).alias("cur")))
    w = Window.partitionBy(id_col).orderBy("pos")
    return classed.select(
        id_col, "pos", "cur",
        F.coalesce(F.lag("cur").over(w), F.lit(_BOS)).alias("prev"))


def bigram_cross_entropy(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", top_v: int = 10000,
                         alpha: float = 1.0, lam: float = 0.7,
                         train: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_tokens, ce_nats): interpolated bigram cross-entropy —
    the step from ``lm_cross_entropy`` toward CCNet's n-gram LM quality
    filter:

      p(w | prev) = lam * (c2(prev,w)+a)/(ctx(prev)+a*(V+1))
                  + (1-lam) * (c1(w)+a)/(T+a*(V+1))

    over vocabulary classes (top-``top_v`` types + UNK; position 0
    conditions on BOS).  Counts c2/ctx/c1 are exact integers from the
    training stream; unseen contexts/bigrams at scoring time coalesce to
    0 and the additive smoothing keeps every probability finite.  Plan
    shape: one positioned explode + per-doc lag window, keys-only count
    aggregations, then joins keyed on the class pair (AQE broadcasts the
    count tables while they are small; at web scale they shuffle-join on
    their keys — never the text).  Engine-exact via the micro-BIGINT
    log-prob convention."""
    tr = train if train is not None else docs
    vocab = _checkpoint(unigram_counts(tr, id_col, text_col)
                        .orderBy(F.desc("cnt"), F.asc("tok")).limit(top_v))
    # materialized ONCE: four consumers (c2/ctx/c1 counts + the scoring
    # branch when self-scoring) would otherwise re-run the tokenize +
    # vocab-join + per-doc window subtree up to 4x (self-join attribute
    # rewrites defeat exchange reuse); the stream is (id, pos, prev, cur)
    # — small relative to the text it came from
    pairs_tr = _checkpoint(_class_stream(tr, vocab, id_col, text_col))
    c2 = pairs_tr.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    ctx = pairs_tr.groupBy("prev").agg(F.count("*").alias("ctx"))
    c1 = pairs_tr.groupBy("cur").agg(F.count("*").alias("c1"))
    consts = (pairs_tr.agg(F.count("*").cast("double").alias("_T"))
              .crossJoin(vocab.agg(
                  (F.count("*") + 1.0).alias("_vp1"))))

    score_pairs = (pairs_tr if train is None
                   else _class_stream(docs, vocab, id_col, text_col))
    p_bi = ((F.coalesce(F.col("c2"), F.lit(0)).cast("double") + F.lit(alpha))
            / (F.coalesce(F.col("ctx"), F.lit(0)).cast("double")
               + F.lit(alpha) * F.col("_vp1")))
    p_uni = ((F.coalesce(F.col("c1"), F.lit(0)).cast("double") + F.lit(alpha))
             / (F.col("_T") + F.lit(alpha) * F.col("_vp1")))
    p = F.lit(lam) * p_bi + F.lit(1.0 - lam) * p_uni
    lp_micro = F.round(F.round(F.log(p), 6) * 1e6).cast("long")
    scored = (score_pairs
              .join(c2, ["prev", "cur"], "left")
              .join(ctx, "prev", "left")
              .join(c1, "cur", "left")
              .crossJoin(F.broadcast(consts))
              .select(id_col, lp_micro.alias("_lp")))
    return (scored.groupBy(id_col)
            .agg(F.count("*").alias("n_tokens"),
                 F.round(-F.sum("_lp") / (F.count("*") * 1e6), 6)
                  .alias("ce_nats")))
