"""RAKE-style keyphrase extraction (Rose, Engel, Cramer & Cowley 2010).

KG nodes need human-readable labels and topic tags; the reference gets
them from the curated ontology, a web-scale pipeline mines them.  RAKE
is the standard unsupervised baseline: candidate phrases are maximal
runs of non-stopword tokens; a word scores degree/frequency (degree =
summed length of phrases it appears in), a phrase scores the sum of its
words' scores.

Spark-first decomposition (every step is plain DataFrame algebra, no
Python, no UDF):

  1. tokenize (split + filter — the repo-wide tokenizer);
  2. phrase segmentation WITHOUT a fold: posexplode tokens, mark
     stopwords, ``phrase_id = running count of stopwords up to the
     position`` (one per-doc window), drop stopword rows, group by
     (doc, phrase_id) with sort_array(collect_list((pos, tok))) — the
     gaps-and-islands idiom (duplicate_spans precedent);
  3. word stats over phrase-word occurrences — two map-side-combinable
     aggregates;
  4. per-word micro-BIGINT score (deg * 10^6 DIV freq — truncating,
     engine-exact), phrase score = sum with multiplicity.

Per-doc windows bound skew by document length, not corpus size; the
only corpus-wide state is the word-stat table (vocabulary-sized).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame
from .traversal import _checkpoint

MICRO = 10 ** 6


def candidate_phrases(docs: DataFrame, stopwords: tuple[str, ...],
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, phrase_id, phrase, n_words): maximal non-stopword token runs
    per document, in reading order.  Text is lowercased."""
    if not stopwords:
        raise ValueError("stopwords must be non-empty")
    toks = F.filter(F.split(F.lower(F.coalesce(F.col(text_col),
                                               F.lit(""))), r"\s+"),
                    lambda x: x != "")
    t = (docs.select(F.col(id_col).alias("id"), toks.alias("_t"))
         .select("id", F.posexplode("_t").alias("pos", "tok")))
    is_stop = F.col("tok").isin(list(stopwords)).cast("int")
    w = Window.partitionBy("id").orderBy("pos") \
        .rowsBetween(Window.unboundedPreceding, 0)
    seg = t.select("id", "pos", "tok", is_stop.alias("_s"),
                   F.sum(is_stop).over(w).alias("phrase_id"))
    return (seg.filter(F.col("_s") == 0)
            .groupBy("id", "phrase_id")
            .agg(F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(
                            F.struct(F.col("pos"), F.col("tok")))),
                        lambda s: s["tok"]), " ").alias("phrase"),
                 F.count("*").cast("long").alias("n_words")))


def rake_keyphrases(docs: DataFrame, stopwords: tuple[str, ...],
                    top_k: int = 50, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Corpus-level keyphrases: (phrase, n_occurrences, score_micro),
    the ``top_k`` by (score desc, phrase asc) — deterministic ties.
    Word score = degree * 10^6 DIV frequency; phrase score sums word
    scores WITH multiplicity (canonical RAKE)."""
    ph = _checkpoint(candidate_phrases(docs, stopwords, id_col, text_col))
    words = ph.select(F.explode(F.split("phrase", " ")).alias("w"),
                      F.col("n_words"))
    stats = (words.groupBy("w")
             .agg(F.count("*").alias("_freq"),
                  F.sum("n_words").alias("_deg")))
    wscore = stats.select(
        "w", F.expr(f"(_deg * {MICRO}L) DIV _freq").alias("_ws"))
    occ = ph.select("id", "phrase_id", "phrase",
                    F.explode(F.split("phrase", " ")).alias("w"))
    pscores = (occ.join(F.broadcast(wscore), "w")
               .groupBy("id", "phrase_id", "phrase")
               .agg(F.sum("_ws").alias("_ps")))
    return (pscores.groupBy("phrase")
            .agg(F.count("*").cast("long").alias("n_occurrences"),
                 F.max("_ps").cast("long").alias("score_micro"))
            .orderBy(F.desc("score_micro"), F.asc("phrase"))
            .limit(top_k))


def cooccurrence_graph(docs: DataFrame, window: int = 2,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Undirected token co-occurrence graph over the corpus: one row per
    canonical (lo, hi) token pair with ``w`` = number of position pairs
    (i, j), 0 < j - i <= window, summed over all documents.  Self-pairs
    (same token co-occurring with itself) are dropped — they carry no
    ranking signal and would create self-loops.

    Pair generation is per-document and position-banded — output bounded
    by corpus_tokens * window, linear in the corpus, never quadratic in
    the vocabulary — and runs entirely MAP-SIDE as array algebra (each
    position pairs with the next ``window`` positions of its own token
    array), so the only shuffle is the final (lo, hi) count: the previous
    positional self-join cost a checkpoint of the exploded positions plus
    a doc-id-keyed shuffle of the corpus for each join side (guide §2.4:
    same result, two fewer corpus-sized exchanges)."""
    toks = F.filter(F.split(F.lower(F.coalesce(F.col(text_col),
                                               F.lit(""))), r"\s+"),
                    lambda x: x != "")
    t = F.col("_t")
    pair_arr = F.flatten(F.transform(
        t,
        lambda x, i: F.transform(
            F.slice(t, i + F.lit(2), F.lit(window)),
            lambda y: F.struct(F.least(x, y).alias("lo"),
                               F.greatest(x, y).alias("hi")))))
    pairs = (docs.select(toks.alias("_t"))
             .select(F.explode(pair_arr).alias("p"))
             .select("p.lo", "p.hi")
             .filter(F.col("lo") != F.col("hi")))
    return pairs.groupBy("lo", "hi").agg(F.count("*").alias("w"))


def textrank_scores(docs: DataFrame, window: int = 2, iters: int = 3,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """TextRank keyword scores (Mihalcea & Tarau 2004): weighted PageRank
    over the corpus co-occurrence graph, in INTEGER micro arithmetic so
    every score is a BIGINT and the whole iteration is engine-exact
    (micro-BIGINT convention, CLAUDE.md):

        s_0(v)     = MICRO
        flow(v)    = sum_u (s_t(u) * w_uv) DIV wsum_u   (truncating)
        s_{t+1}(v) = (1-d)*MICRO + (d_pct * flow(v)) DIV 100

    with d = 0.85 (d_pct = 85).  Every co-occurrence node has >= 1
    neighbor by construction, so there is no dangling-mass term — unlike
    ``operators/pagerank``, whose float semantics stay the directed-graph
    production default.  Returns (tok, score) for every graph node.

    Scale: state is vocabulary-sized (one BIGINT per token); each round
    is one join edges-to-scores + one aggregate — the standard
    power-iteration shape, map-side combinable."""
    und = cooccurrence_graph(docs, window, id_col, text_col)
    edges = (und.select(F.col("lo").alias("src"), F.col("hi").alias("dst"),
                        "w")
             .unionByName(und.select(F.col("hi").alias("src"),
                                     F.col("lo").alias("dst"), "w")))
    # "wsum" not "W": Spark resolves identifiers case-insensitively, so a
    # "W" column would be ambiguous with the edge weight "w"
    strength = edges.groupBy("src").agg(F.sum("w").alias("wsum"))
    # one materialization feeds every power-iteration round (the edge
    # table is re-joined `iters` times — rebuilding the co-occurrence
    # graph per round would re-scan the corpus each time)
    e = _checkpoint(edges.join(strength, "src"))

    # the iteration state is vocabulary-sized; when the weighted edge
    # list fits on the driver, run the identical BIGINT `div` recurrence
    # locally — zero per-round jobs (size-adaptive convention; the
    # materialized `e` above means the probe collect reads, not computes)
    from .traversal import small_rows
    rows = small_rows(e)     # (src, dst) pairs are unique, so no row merges
    if rows is not None:
        score = {}
        for r in rows:
            score[r[0]] = MICRO
        for _ in range(iters):
            flow: dict = {}
            for s, d, w, ws in rows:
                flow[d] = flow.get(d, 0) + (score[s] * w) // ws
            score = {tok: 15 * MICRO // 100
                     + (85 * flow.get(tok, 0)) // 100
                     for tok in score}
        return local_frame(
            docs.sparkSession, sorted(score.items()), "tok string, score long")

    scores = strength.select(F.col("src").alias("tok"),
                             F.lit(MICRO).cast("long").alias("score"))
    for _ in range(iters):
        # BIGINT `div` (not `/` + floor): long/long division in Spark is
        # DOUBLE and loses exactness past 2^53 — integer div never does
        flow = (e.join(scores.withColumnRenamed("tok", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.expr("(score * w) div wsum")).alias("flow")))
        scores = (scores.select("tok")
                  .join(flow.withColumnRenamed("dst", "tok"), "tok", "left")
                  .select("tok",
                          (F.lit(15 * MICRO // 100)
                           + F.expr("(85 * coalesce(flow, 0L)) div 100"))
                          .alias("score")))
    return scores
