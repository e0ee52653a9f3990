"""Training-data decontamination + BPE merge statistics (task brief:
"operations a large-scale training-data pipeline would need").

* ``contaminated_docs`` — the standard n-gram decontamination pass (the
  public GPT-3 appendix-C / PaLM recipe: flag any training document sharing
  an n-gram, canonically n=13, with an evaluation benchmark).  Scale shape:
  the benchmark n-gram set is orders of magnitude smaller than the corpus,
  so it BROADCASTS; the corpus streams through one narrow shingle+probe
  pass and only (doc_id, n_hits) rows — never text — reach the aggregation
  shuffle.  At 10^12 docs the probe is a broadcast hash join per task;
  nothing corpus-sized is exchanged.

* ``bpe_pair_counts`` — adjacent-token-pair frequencies, the statistic a
  BPE/WordPiece vocabulary induction computes per merge round (Sennrich et
  al. 2016).  One explode + one groupBy with map-side partial aggregation;
  the shuffle carries (pair, partial_count) only.  ``top_k`` bounds the
  result via a single ordered take.

Both reuse ``dedup.token_hash``'s hash-family parameterization so the
driver oracle (md5_60) can replay hash values exactly while production
defaults to xxhash64.
"""
from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import let_bound, shingle_hashes
from .traversal import _checkpoint

# the one shingling expression, imported from dedup so decontamination and
# the dedup suite can never silently diverge on tokenization or hashing
_ngram_hashes = shingle_hashes


def benchmark_ngrams(benchmark_docs: DataFrame, text_col: str = "text",
                     n: int = 13,
                     hash_family: str = "xxhash64") -> DataFrame:
    """Distinct n-gram hash set of an evaluation benchmark ->
    DataFrame[gram long, hash_family string].  Run once per benchmark and
    persist; the result is the small broadcast side of every
    decontamination pass.  The ``hash_family`` marker column records which
    family built the set — ``contaminated_docs`` validates it against its
    own family, because a mismatch (e.g. an md5_60-built set probed with
    the xxhash64 default) would match NOTHING and report every document
    clean."""
    return (benchmark_docs
            .select(F.explode(_ngram_hashes(F.col(text_col), n,
                                            hash_family)).alias("gram"))
            .distinct()
            .withColumn("hash_family", F.lit(hash_family)))


def contaminated_docs(docs: DataFrame, benchmark: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 13, hash_family: str = "xxhash64",
                      broadcast_benchmark: bool = True) -> DataFrame:
    """Documents sharing >= 1 n-gram with ``benchmark`` (from
    ``benchmark_ngrams``) -> (doc_id, n_hits), n_hits = DISTINCT shared
    n-grams.

    Default shape: the benchmark side is broadcast — the corpus-side
    explode is consumed by a map-side broadcast-hash probe, and only
    matched (doc_id, gram) pairs (a vanishing fraction at web scale)
    continue to the count shuffle.  Realistic eval suites are 10^5-10^7
    n-grams = tens of MB of longs, comfortably broadcastable.  For a
    pathological benchmark side (union of hundreds of suites beyond
    executor memory), ``broadcast_benchmark=False`` keeps a plain shuffled
    hash join keyed on the gram — the corpus side then shuffles its
    (doc_id, gram) pairs once; still no document text in any exchange.

    If the benchmark set carries ``benchmark_ngrams``' hash_family marker
    column, it is validated against this call's ``hash_family`` — a
    mismatch matches nothing and would silently report everything clean
    (sets persisted before the marker existed skip the check)."""
    if "hash_family" in benchmark.columns:
        fams = [r[0] for r in
                benchmark.select("hash_family").distinct().collect()]
        if fams and fams != [hash_family]:
            raise ValueError(
                f"benchmark n-gram set was built with hash_family={fams} "
                f"but this probe uses {hash_family!r} — the join would "
                "match nothing and report every document clean")
        benchmark = benchmark.drop("hash_family")
    grams = docs.select(
        F.col(id_col),
        F.explode(_ngram_hashes(F.col(text_col), n, hash_family))
         .alias("gram"))
    bench = F.broadcast(benchmark) if broadcast_benchmark else benchmark
    hits = grams.join(bench, "gram")
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("gram").alias("n_hits")))


def bpe_pair_counts(docs: DataFrame, text_col: str = "text",
                    top_k: int | None = None,
                    min_count: int = 1) -> DataFrame:
    """Adjacent token-pair counts over the corpus -> (left, right, n) —
    the per-round statistic of BPE vocabulary induction.  Tokens are
    lowercase whitespace words; empties dropped.  Map-side combine applies
    (plain groupBy count), so the shuffle carries one partial row per
    (task, pair).  ``top_k`` returns the k most frequent pairs with a
    deterministic (n desc, left, right) order."""
    tokens = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                      lambda t: t != "")
    pairs = let_bound(
        tokens,
        lambda t: F.when(
            F.size(t) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(t) - 1),
                        lambda i: F.struct(
                            F.element_at(t, i).alias("left"),
                            F.element_at(t, i + 1).alias("right"))))
        .otherwise(F.array().cast(
            "array<struct<left:string,right:string>>")))
    counts = (docs.select(F.explode(pairs).alias("p"))
              .groupBy(F.col("p.left").alias("left"),
                       F.col("p.right").alias("right"))
              .agg(F.count("*").alias("n"))
              .filter(F.col("n") >= min_count))
    if top_k is not None:
        counts = (counts.orderBy(F.col("n").desc(), "left", "right")
                  .limit(top_k))
    return counts


def bpe_train(docs: DataFrame, text_col: str = "text",
              n_merges: int = 10, end_marker: str = "</w>",
              max_vocab_words: int | None = None) -> list[tuple[str, str]]:
    """Train BPE merges on the corpus (Sennrich et al. 2016) — the
    tokenizer-induction step of a training-data pipeline, distributed the
    way the algorithm itself is shaped: ONE corpus pass builds the
    (word, freq) table, and every merge round after that operates on the
    distinct-word table only — vocabulary-sized, orders of magnitude
    smaller than the corpus, the same reduction Sennrich's dict-based
    reference exploits.

    Per round: explode adjacent symbol pairs weighted by word freq
    (map-side-combinable sum), pick the argmax pair (ties -> lexicographic
    min — fully deterministic), then merge it in every word with a greedy
    left-to-right fold (non-overlapping, standard BPE semantics) and
    localCheckpoint.  Word symbols start as characters + ``end_marker``.
    Rounds stop early when no pair occurs twice.

    Returns the ordered merge list [(left, right), ...] — apply with
    ``bpe_apply``.  Driver cost: one 1-row collect per round (the argmax),
    n_merges rounds; all heavy work stays distributed.
    ``max_vocab_words`` caps the word table to the most frequent words
    (the standard truncation for web-scale tails).
    """
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")
    words = (docs.select(F.explode(toks).alias("w"))
             .groupBy("w").agg(F.count("*").alias("freq")))
    if max_vocab_words is not None:
        words = (words.orderBy(F.col("freq").desc(), F.col("w").asc())
                 .limit(max_vocab_words))
    syms = F.concat(
        F.transform(F.split(F.col("w"), ""), lambda c: c),
        F.array(F.lit(end_marker)))
    vocab = _checkpoint(words.select(F.col("freq"), syms.alias("s")))

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs = vocab.select(
            "freq",
            F.explode(F.when(
                F.size("s") >= 2,
                F.transform(F.sequence(F.lit(1), F.size("s") - 1),
                            lambda i: F.struct(
                                F.element_at(F.col("s"), i).alias("a"),
                                F.element_at(F.col("s"), i + 1).alias("b"))))
                .otherwise(F.array().cast(
                    "array<struct<a:string,b:string>>"))).alias("p"))
        best = (pairs.groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("n"))
                .orderBy(F.col("n").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(1).collect())
        if not best or best[0]["n"] < 2:
            break
        a, b = best[0]["a"], best[0]["b"]
        merges.append((a, b))
        # greedy left-to-right non-overlapping merge as an aggregate fold:
        # append each symbol, replacing the accumulator's tail when it
        # ends with `a` and the incoming symbol is `b` AND the tail was
        # not itself just produced by this round's merge (tracked via the
        # `fresh` flag so 'aaa' under (a,a) -> ['aa','a'], not ['aaa'])
        merged = F.aggregate(
            F.col("s"),
            F.struct(F.array().cast("array<string>").alias("out"),
                     F.lit(False).alias("fresh")),
            lambda acc, x: F.when(
                (F.size(acc.getField("out")) > 0)
                & ~acc.getField("fresh")
                & (F.element_at(acc.getField("out"), -1) == F.lit(a))
                & (x == F.lit(b)),
                F.struct(
                    F.concat(
                        F.slice(acc.getField("out"), 1,
                                F.size(acc.getField("out")) - 1),
                        F.array(F.lit(a + b))).alias("out"),
                    F.lit(True).alias("fresh")))
            .otherwise(F.struct(
                F.concat(acc.getField("out"), F.array(x)).alias("out"),
                F.lit(False).alias("fresh"))),
            lambda acc: acc.getField("out"))
        vocab = _checkpoint(vocab.select("freq", merged.alias("s")))
    return merges


BPE_APPLY_LITERAL_MAX_MERGES = 64


def _bpe_apply_pandas(docs: DataFrame, merges: list[tuple[str, str]],
                      text_col: str, id_col: str,
                      end_marker: str) -> DataFrame:
    """Arrow path: merges applied in Python per DISTINCT word (per-batch
    word cache — web text repeats words heavily), merge list rides the
    task closure once.  Identical output to the literal path (pinned by
    the path-equivalence test)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _tok(texts: pd.Series) -> pd.Series:
        cache: dict = {}

        def word_toks(w):
            got = cache.get(w)
            if got is not None:
                return got
            syms = list(w) + [end_marker]
            for a, b in merges:
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == a
                            and syms[i + 1] == b):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[w] = syms
            return syms

        res = []
        for t in texts:
            if t is None:
                res.append(None)
                continue
            res.append([s for w in t.lower().split()
                        for s in word_toks(w)])
        return pd.Series(res)

    return docs.select(F.col(id_col), _tok(F.col(text_col)).alias("tokens"))


def bpe_apply(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text", id_col: str = "doc_id",
              end_marker: str = "</w>",
              force: str | None = None) -> DataFrame:
    """(id, tokens array<string>) — tokenize with a trained merge list:
    per word, start from characters + ``end_marker`` and apply every merge
    in training order (the exact inference rule of Sennrich BPE).

    Dual-path (same policy as pq_codes/lsh_signature): literal column
    expressions below ``BPE_APPLY_LITERAL_MAX_MERGES`` (each merge is one
    nested fold — measured ~70 ms of ANALYSIS time per merge, so a real
    30k-merge tokenizer would spend half an hour in the analyzer), the
    Arrow/Python path above (merge loop per distinct word per batch,
    word-cached).  ``force`` overrides for tests."""
    if force not in (None, "literal", "pandas"):
        raise ValueError(f"force must be None|'literal'|'pandas', got {force!r}")
    if force == "pandas" or (force is None
                             and len(merges) > BPE_APPLY_LITERAL_MAX_MERGES):
        return _bpe_apply_pandas(docs, merges, text_col, id_col, end_marker)
    toks = F.filter(F.split(F.lower(F.col(text_col)), r"\s+"),
                    lambda t: t != "")

    def merge_word(word_syms):
        cur = word_syms
        for a, b in merges:
            cur = _fold_merge(cur, a, b)
        return cur

    def _fold_merge(col, a, b):
        return F.aggregate(
            col,
            F.struct(F.array().cast("array<string>").alias("out"),
                     F.lit(False).alias("fresh")),
            lambda acc, x: F.when(
                (F.size(acc.getField("out")) > 0)
                & ~acc.getField("fresh")
                & (F.element_at(acc.getField("out"), -1) == F.lit(a))
                & (x == F.lit(b)),
                F.struct(
                    F.concat(
                        F.slice(acc.getField("out"), 1,
                                F.size(acc.getField("out")) - 1),
                        F.array(F.lit(a + b))).alias("out"),
                    F.lit(True).alias("fresh")))
            .otherwise(F.struct(
                F.concat(acc.getField("out"), F.array(x)).alias("out"),
                F.lit(False).alias("fresh"))),
            lambda acc: acc.getField("out"))

    word_syms = lambda w: F.concat(F.transform(F.split(w, ""), lambda c: c),
                                   F.array(F.lit(end_marker)))
    tokens = F.flatten(F.transform(toks, lambda w: merge_word(word_syms(w))))
    return docs.select(F.col(id_col), tokens.alias("tokens"))
