"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-construction query on /root/testdata/sf0.001.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator family
from SURVEY.md §2, exercised on the driver-provided tables with a DuckDB
oracle each (rows-only for the two hash-specific near-dup ops).  SURVEY ids
cited per query.  All float outputs rounded identically on both sides; no
array-valued output columns (stringified via '|' joins) so the driver's
value-hash comparison is representation-stable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.operators.canonicalize import (
    connected_components)
from climatemind_ontology_processing_spark.operators.dedup import (
    dedup_exact, jaccard_pairs, minhash_lsh_pairs, near_dup_pairs, ppjoin_pairs,
    simhash_near_pairs)
from climatemind_ontology_processing_spark.operators.similarity import (
    brute_force_topk)
from climatemind_ontology_processing_spark.operators.textstats import (
    language_id, quality_features, token_count)
from climatemind_ontology_processing_spark.operators.traversal import (
    bfs_reachable, induced_edges, transitive_closure)

# dictionary of "concepts" for the driver's documents table (its vocabulary is
# engine words); deterministic + tiny -> broadcast
TERMS = [
    "spark", "join", "hash", "scan", "filter", "sort", "merge", "window",
    "stream", "agg", "group", "query", "table", "column", "vector", "batch",
    "customer", "order", "part", "line", "key", "value", "data", "row",
]

_LANGS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que"],
    "es": ["el", "la", "los", "y", "es", "no", "por", "una", "con", "para"],
}


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived graph: nation X's customers buy from nation Y's suppliers.
    Exercises the multi-join scan pipeline (J1-shape) and feeds the traversal
    queries (G2/G5/G11)."""
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    l = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    # shuffle_hash on the (orders x customer) side: the planner would
    # otherwise BROADCAST the bigger lineitem projection, whose hashed
    # relation builds single-threaded per query; the shuffled-hash build
    # of the smaller side parallelizes (guide §3.1; A/B 0.66 -> 0.54 s)
    oc = (o.join(c, o.o_custkey == c.c_custkey)
          .select("o_orderkey", "c_nationkey"))
    return (l.join(oc.hint("shuffle_hash"),
                   l.l_orderkey == F.col("o_orderkey"))
            .join(s, l.l_suppkey == s.s_suppkey)
            .select(F.col("c_nationkey").cast("int").alias("src"),
                    s.s_nationkey.cast("int").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct())


_TRADE_SQL = """
  SELECT DISTINCT c.c_nationkey::INT AS src, s.s_nationkey::INT AS dst
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  WHERE c.c_nationkey <> s.s_nationkey
"""

# DuckDB mirror of _tpch_kg_triples (body of a `triples AS (...)` CTE).
_KG_SQL = """
  SELECT 'c:' || c_custkey AS subj, 'in_nation' AS pred,
         'n:' || c_nationkey AS obj FROM customer
  UNION ALL
  SELECT 's:' || s_suppkey, 'in_nation', 'n:' || s_nationkey FROM supplier
  UNION ALL
  SELECT 'n:' || n_nationkey, 'in_region', 'r:' || n_regionkey FROM nation
  UNION ALL
  SELECT 'c:' || c_custkey, 'located_in', 'r:' || n_regionkey
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT DISTINCT 'c:' || c.c_custkey, 'buys_from', 's:' || s.s_suppkey
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------
def entry(spark: SparkSession) -> DataFrame:
    """Co-occurrence KG from documents: tokenize, keep dictionary terms,
    emit per-doc (subj < obj) pairs, count edge weight, rank (G1-analog +
    J1 broadcast mention join + A1 dedup + O1 ordering)."""
    return _q_cooccurrence_edges(spark, "/root/testdata/sf0.001")


def _q_cooccurrence_edges(spark, sf_dir):
    # per-doc distinct dictionary mentions as a sorted ARRAY built fully
    # MAP-SIDE: array_intersect(tokens, literal terms) is the distinct
    # mention set per document (doc_id is unique by generator contract,
    # pinned by the oracle hash), so the old explode + broadcast-join +
    # distinct + groupBy chain — three corpus-sized exchanges — is zero
    # exchanges; pairs come from i < j positions of the sorted array
    # (== the a.term < b.term self-join, exactly) and the only shuffle
    # left is the final pair count (guide §2.4)
    docs = _read(spark, sf_dir, "documents")
    terms_arr = F.array(*[F.lit(t) for t in TERMS])
    arr = docs.select(F.array_sort(
        F.array_intersect(F.split(F.col("text"), " "), terms_arr))
        .alias("_ts"))
    t = F.col("_ts")
    pair_arr = F.flatten(F.transform(
        t, lambda x, i: F.transform(
            F.slice(t, i + F.lit(2), F.size(t)),
            lambda y: F.struct(x.alias("subj"), y.alias("obj")))))
    return (arr.select(F.explode(pair_arr).alias("p"))
            .groupBy(F.col("p.subj").alias("subj"), F.col("p.obj").alias("obj"))
            .agg(F.count("*").alias("weight"))
            .withColumn("pred", F.lit("co_occurs_with"))
            .select("subj", "pred", "obj", "weight")
            .orderBy(F.col("weight").desc(), F.col("subj").asc(), F.col("obj").asc()))


def _q_pmi_edges(spark, sf_dir):
    """PMI-weighted concept co-occurrence edges: pmi(a,b) =
    ln(c_ab * N / (df_a * df_b)) over document-level mentions — the
    statistically-normalized edge weight (raw co-occurrence counts favor
    frequent terms; PMI surfaces genuinely associated pairs).  Same
    broadcast-mentions shape as cooccurrence_edges plus two broadcast df
    joins and the 1-row N crossJoin; micro-BIGINT exact."""
    docs = _read(spark, sf_dir, "documents")
    terms = spark.createDataFrame([(t,) for t in TERMS], "term string")
    tokens = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    mentions = (tokens.join(F.broadcast(terms), tokens.tok == terms.term)
                .select("doc_id", "term").distinct())
    nd = docs.agg(F.count("*").alias("_n"))
    dfs = mentions.groupBy("term").agg(F.count("*").alias("df"))
    a, b = mentions.alias("a"), mentions.alias("b")
    pairs = (a.join(b, (F.col("a.doc_id") == F.col("b.doc_id")) &
                    (F.col("a.term") < F.col("b.term")))
             .groupBy(F.col("a.term").alias("subj"),
                      F.col("b.term").alias("obj"))
             .agg(F.count("*").alias("weight")))
    pmi = F.round(F.round(F.log(
        (F.col("weight") * F.col("_n"))
        / (F.col("df_a") * F.col("df_b"))), 6) * 1e6).cast("long")
    return (pairs
            .join(F.broadcast(dfs.select(F.col("term").alias("subj"),
                                         F.col("df").alias("df_a"))), "subj")
            .join(F.broadcast(dfs.select(F.col("term").alias("obj"),
                                         F.col("df").alias("df_b"))), "obj")
            .crossJoin(F.broadcast(nd))
            .select("subj", "obj", "weight", pmi.alias("pmi_micro"))
            .orderBy("subj", "obj"))


def _q_shortest_paths(spark, sf_dir):
    """Weighted SSSP from nation 0 over the trade graph with derived
    integer weights (operators/paths.shortest_paths — distributed
    Bellman-Ford; min-plus over BIGINTs, no float wiggle).  Oracle
    unrolls the relaxation rounds."""
    from climatemind_ontology_processing_spark.operators.paths import (
        shortest_paths)
    edges = _trade_edges(spark, sf_dir) \
        .withColumn("w", (F.col("src") * 7 + F.col("dst")) % 7 + 1)
    return shortest_paths(edges, [0], weight="w").orderBy("id")


def _shortest_paths_sql(rounds: int = 25) -> str:
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        cur = f"d{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT id, min(dist)::BIGINT AS dist FROM (
            SELECT id, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS id, p.dist + e.w AS dist
            FROM {prev} p JOIN edges e ON e.src = p.id)
          GROUP BY id)""")
        prev = cur
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        edges AS MATERIALIZED (
          SELECT src, dst, ((src * 7 + dst) % 7 + 1)::BIGINT AS w
          FROM all_edges),
        d0 AS (SELECT 0 AS id, 0::BIGINT AS dist),
        {",".join(steps)}
        SELECT id, dist FROM {prev} ORDER BY id
    """


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------
def _q_dedup_exact(spark, sf_dir):
    """Exact document dedup — lowest doc_id survives per identical text."""
    docs = _read(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id").orderBy("doc_id")


def _q_jaccard_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (threshold 0.5) over documents.
    Registered with max_shingle_df=None (guardrail OFF): the DuckDB oracle
    replays exact all-pairs semantics; the cap stays ON as the operator
    default and is pinned separately by the planted-boilerplate pytest."""
    docs = _read(spark, sf_dir, "documents")
    return (jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=None)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
            .orderBy("a", "b"))


def _q_ppjoin_pairs(spark, sf_dir):
    """Prefix-filtered exact set-similarity join (operators/dedup.
    ppjoin_pairs, the PPJoin principle): identical OUTPUT to jaccard_pairs
    — prefix filtering is lossless — via a candidate join that shuffles
    only each document's rarest shingles.  Shares the jaccard_pairs oracle
    verbatim: the hash match IS the losslessness proof."""
    docs = _read(spark, sf_dir, "documents")
    return (ppjoin_pairs(docs, n=3, threshold=0.5)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
            .orderBy("a", "b"))


def _q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH candidate pairs.  Registered with the md5_60 hash family
    so DuckDB replays the full pipeline value-exactly (shingle hashes,
    universal-hash signature minima, band buckets); the xxhash64 production
    default is pinned structurally equivalent by the family-parity pytest.
    The band bucket key is xxhash64(of the band slice string) on the Spark
    side; the oracle joins on the slice string itself — identical up to
    64-bit band-hash collisions (~#buckets^2/2^64, zero at any tested SF)."""
    docs = _read(spark, sf_dir, "documents")
    # max_bucket_size=None: the oracle enumerates EVERY band collision, so
    # the registered query must model the same semantics — the production
    # default cap (1000) is a guardrail pinned by the planted-10k-dup
    # linearity pytest, not by this oracle
    return minhash_lsh_pairs(docs, hash_family="md5_60",
                             max_bucket_size=None).orderBy("a", "b")


def _q_near_dup(spark, sf_dir):
    """Production near-dup: exact-dedup-first -> LSH candidates -> exact
    Jaccard verify (md5_60 family so the oracle replays candidates exactly;
    see _q_minhash_lsh).  The exact-Jaccard subset relation vs
    `jaccard_pairs` is additionally pinned in pytest."""
    docs = _read(spark, sf_dir, "documents")
    # see _q_minhash_lsh: cap disabled so query == oracle semantics; the
    # guardrails stay the production default, pinned by pytest
    return (near_dup_pairs(docs, threshold=0.5, hash_family="md5_60",
                           max_bucket_size=None)
            .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
            .orderBy("a", "b"))


def _q_dedup_clusters(spark, sf_dir):
    """Cluster-level dedup view: the near-dup PAIR graph collapsed to
    components (operators/dedup.near_dup_pairs +
    operators/canonicalize.connected_components) with the numeric-min
    representative and cluster size — the table the production survivor
    rule ("keep each cluster's minimum id") reads directly, and the
    transitive complement of the pairwise near stage (a ~ b ~ c chains
    land in ONE cluster even when a !~ c).  Only docs belonging to a
    cluster of size >= 2 appear.  md5_60 family + cap off so the oracle
    replays candidates exactly (guardrails pinned by pytest)."""
    from climatemind_ontology_processing_spark.operators.canonicalize import (
        connected_components)
    docs = _read(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, threshold=0.5, hash_family="md5_60",
                           max_bucket_size=None)
    edges = pairs.select(F.col("a").cast("string").alias("src"),
                         F.col("b").cast("string").alias("dst"))
    comp = connected_components(edges)
    agg = comp.groupBy("component").agg(
        F.min(F.col("id").cast("long")).alias("cluster_rep"),
        F.count("*").alias("cluster_size"))
    return (comp.join(agg, "component")
            .select(F.col("id").cast("long").alias("doc_id"),
                    "cluster_rep", "cluster_size")
            .orderBy("doc_id"))


def _q_lsh_probe(spark, sf_dir):
    """Incremental-LSH probe (streaming/dedup.probe_lsh_buckets): documents
    split into a persisted 'history' side (even doc_ids -> bucket table
    with marker columns) and a probing 'new' side (odd doc_ids); emits the
    cross near-dup candidates (a, b), a < b.  md5_60 family so the DuckDB
    oracle replays every bucket; cap OFF so query == oracle semantics (the
    cap is pinned by pytest, per the guardrail pattern).  The same probe
    ``plans/curate.curate_increment`` runs against its persisted bucket
    table."""
    from climatemind_ontology_processing_spark.streaming.dedup import (
        _doc_lsh_buckets, probe_lsh_buckets)
    docs = _read(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    buckets = (_doc_lsh_buckets(old, "doc_id", "text", 3, 32, 8, "md5_60")
               .withColumn("hash_family", F.lit("md5_60"))
               .withColumn("shingle_n", F.lit(3))
               .withColumn("num_hashes", F.lit(32))
               .withColumn("bands", F.lit(8)))
    return (probe_lsh_buckets(new, buckets, hash_family="md5_60",
                              max_bucket_size=None)
            .orderBy("a", "b"))


def _q_simhash(spark, sf_dir):
    """SimHash near-dup pairs.  md5_60 token-hash family so the oracle can
    recompute the 64-bit signatures bit-exactly (bits 60-63 structurally 0
    under 60-bit token hashes — banding unaffected); xxhash64 default pinned
    by the family-parity pytest."""
    docs = _read(spark, sf_dir, "documents")
    return (simhash_near_pairs(docs, max_hamming=3, hash_family="md5_60")
            .orderBy("a", "b"))


# ---------------------------------------------------------------------------
# text analysis family
# ---------------------------------------------------------------------------
def _q_decontamination(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix-C recipe, word 5-grams at
    driver scale): docs with doc_id %% 20 == 0 stand in for the eval
    benchmark; every OTHER doc sharing >= 1 n-gram is flagged with its
    distinct-overlap count.  Benchmark n-grams broadcast; corpus text never
    shuffles (operators/decontaminate.py)."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        benchmark_ngrams, contaminated_docs)
    docs = _read(spark, sf_dir, "documents")
    bench = benchmark_ngrams(docs.filter(F.col("doc_id") % 20 == 0), n=5)
    scan = docs.filter(F.col("doc_id") % 20 != 0)
    return contaminated_docs(scan, bench, n=5).orderBy("doc_id")


def _q_bpe_pairs(spark, sf_dir):
    """Top-200 adjacent token-pair counts (the BPE merge-candidate
    statistic) with deterministic tie order."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        bpe_pair_counts)
    docs = _read(spark, sf_dir, "documents")
    return (bpe_pair_counts(docs, top_k=200, min_count=2)
            .select(F.col("left").alias("lhs"), F.col("right").alias("rhs"),
                    "n"))


def _q_char_entropy(spark, sf_dir):
    """Per-document character-distribution Shannon entropy
    (operators/textstats.char_entropy) — compressibility quality proxy."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        char_entropy)
    docs = _read(spark, sf_dir, "documents")
    return char_entropy(docs).orderBy("doc_id")


def _q_lm_score(spark, sf_dir):
    """Smoothed-unigram LM cross-entropy per document (operators/lm.py —
    the CCNet-style statistical quality signal): top-500 vocabulary +
    pooled UNK, add-1 smoothing, micro-BIGINT exact log-prob sums."""
    from climatemind_ontology_processing_spark.operators.lm import (
        lm_cross_entropy)
    docs = _read(spark, sf_dir, "documents")
    return (lm_cross_entropy(docs, top_v=500, alpha=1.0)
            .select("doc_id", "n_tokens",
                    F.col("ce_nats").cast("decimal(20,6)").cast("string")
                     .alias("ce_nats"))
            .orderBy("doc_id"))


def _lm_score_sql() -> str:
    return r"""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text),
                                             '[^\p{L}\p{N}]+')) AS tok
            FROM documents) WHERE tok <> ''),
        counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok),
        vocab AS (SELECT tok, cnt FROM counts
                  ORDER BY cnt DESC, tok ASC LIMIT 500),
        consts AS (SELECT (SELECT sum(cnt) FROM counts)::DOUBLE AS total,
                          (SELECT sum(cnt) FROM vocab)::DOUBLE AS invocab,
                          (SELECT count(*) FROM vocab)::DOUBLE AS v),
        scored AS (
          SELECT t.doc_id,
                 CAST(round(1e6 * round(ln(
                   (coalesce(vb.cnt::DOUBLE, c.total - c.invocab) + 1.0)
                   / (c.total + 1.0 * (c.v + 1.0))), 6)) AS BIGINT) AS lp
          FROM toks t LEFT JOIN vocab vb USING (tok) CROSS JOIN consts c)
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               round(-sum(lp) / (count(*) * 1e6), 6)::DECIMAL(20,6)::VARCHAR
                 AS ce_nats
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """


_BM25_TERMS = ["hash", "join", "vector", "stream"]


def _q_bm25(spark, sf_dir):
    """Okapi BM25 document ranking for a fixed 4-term query
    (operators/retrieval.bm25_scores): literal-filter pushdown on the
    token explode, broadcast df table, 1-row constants crossJoin,
    micro-BIGINT exact scores."""
    from climatemind_ontology_processing_spark.operators.retrieval import (
        bm25_scores)
    docs = _read(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_TERMS).orderBy("doc_id")


def _bm25_sql() -> str:
    # constants computed in PYTHON and inlined via repr on BOTH sides, and
    # the contribution's op grouping mirrors the Spark expression exactly
    # (idf * (tfnum / tfden)) so the doubles match bit-for-bit pre-round
    k1, b = 1.2, 0.75
    k1p1, one_minus_b = repr(k1 + 1.0), repr(1.0 - b)
    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
    return rf"""
        WITH toks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text),
                                             '[^\p{{L}}\p{{N}}]+')) AS tok
            FROM documents) WHERE tok <> ''),
        dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
        consts AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n,
                          (SELECT count(*) FROM toks)::DOUBLE AS t),
        tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks
               WHERE tok IN ({terms}) GROUP BY doc_id, tok),
        dft AS (SELECT tok, count(*)::DOUBLE AS df FROM tf GROUP BY tok),
        scored AS (
          SELECT tf.doc_id,
                 CAST(round(1e6 * round(
                   ln(1.0 + (c.n - dft.df + 0.5) / (dft.df + 0.5))
                   * ((tf.tf * {k1p1})
                      / (tf.tf + {k1!r} * ({one_minus_b}
                         + {b!r} * dl.dl::DOUBLE / (c.t / c.n)))), 6))
                   AS BIGINT) AS cm
          FROM tf JOIN dft ON tf.tok = dft.tok
                  JOIN dl ON tf.doc_id = dl.doc_id
                  CROSS JOIN consts c)
        SELECT doc_id, count(*)::BIGINT AS n_hits,
               sum(cm)::BIGINT AS bm25_micro
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """


def _q_bigram_lm_score(spark, sf_dir):
    """Interpolated bigram LM cross-entropy (operators/lm.py
    bigram_cross_entropy — the CCNet-direction upgrade of lm_score):
    top-500 vocab + UNK classes, BOS-conditioned, lambda=0.7
    bigram/unigram interpolation, micro-BIGINT exact."""
    from climatemind_ontology_processing_spark.operators.lm import (
        bigram_cross_entropy)
    docs = _read(spark, sf_dir, "documents")
    return (bigram_cross_entropy(docs, top_v=500, alpha=1.0, lam=0.7)
            .select("doc_id", "n_tokens",
                    F.col("ce_nats").cast("decimal(20,6)").cast("string")
                     .alias("ce_nats"))
            .orderBy("doc_id"))


def _bigram_lm_sql(top_v: int = 500, a: float = 1.0, lam: float = 0.7) -> str:
    oml = 1.0 - lam
    return rf"""
        WITH toks0 AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text),
                                                   '[^\p{{L}}\p{{N}}]+'),
                             x -> x <> '') AS tf
          FROM documents),
        ptk AS (
          SELECT doc_id, s['pos'] AS pos, s['tok'] AS tok FROM (
            SELECT doc_id,
                   unnest(list_transform(
                     generate_series(1, len(tf)),
                     i -> struct_pack(pos := i, tok := tf[i]))) AS s
            FROM toks0)),
        counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM ptk GROUP BY tok),
        vocab AS (SELECT tok FROM counts ORDER BY cnt DESC, tok ASC
                  LIMIT {top_v}),
        cls AS (
          SELECT doc_id, pos,
                 CASE WHEN tok IN (SELECT tok FROM vocab) THEN tok
                      ELSE chr(0) || 'UNK' END AS cur
          FROM ptk),
        pairs AS (
          SELECT doc_id, pos, cur,
                 coalesce(lag(cur) OVER (PARTITION BY doc_id ORDER BY pos),
                          chr(0) || 'BOS') AS prev
          FROM cls),
        c2 AS (SELECT prev, cur, count(*)::BIGINT AS c2 FROM pairs
               GROUP BY prev, cur),
        ctx AS (SELECT prev, count(*)::BIGINT AS ctx FROM pairs GROUP BY prev),
        c1 AS (SELECT cur, count(*)::BIGINT AS c1 FROM pairs GROUP BY cur),
        consts AS (SELECT (SELECT count(*) FROM pairs)::DOUBLE AS t,
                          (SELECT count(*) + 1.0 FROM vocab) AS vp1),
        scored AS (
          SELECT p.doc_id,
                 CAST(round(1e6 * round(ln(
                   {lam!r} * ((coalesce(c2.c2, 0)::DOUBLE + {a!r})
                              / (coalesce(ctx.ctx, 0)::DOUBLE
                                 + {a!r} * c.vp1))
                   + {oml!r} * ((coalesce(c1.c1, 0)::DOUBLE + {a!r})
                                / (c.t + {a!r} * c.vp1))), 6)) AS BIGINT)
                   AS lp
          FROM pairs p
          LEFT JOIN c2 ON c2.prev = p.prev AND c2.cur = p.cur
          LEFT JOIN ctx ON ctx.prev = p.prev
          LEFT JOIN c1 ON c1.cur = p.cur
          CROSS JOIN consts c)
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               round(-sum(lp) / (count(*) * 1e6), 6)
                 ::DECIMAL(20,6)::VARCHAR AS ce_nats
        FROM scored GROUP BY doc_id ORDER BY doc_id
    """


def _q_canonical_urls(spark, sf_dir):
    """URL canonicalization (functions/urlnorm.py) over deterministically
    CONSTRUCTED messy URLs (scheme/host case, default port, tracking
    params incl. adjacent runs, fragments, bare hosts).  The oracle states
    the EXPECTED canonical strings independently from the construction —
    not a SQL re-implementation of the normalizer."""
    from climatemind_ontology_processing_spark.functions.urlnorm import (
        canonical_url)
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    messy = F.concat(
        F.lit("HTTP://ExAmple"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:80/Path/"), d,
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("?utm_source=x&utm_medium=y&q=1&fbclid=z#frag"))
         .when(F.col("doc_id") % 4 == 1, F.lit("?gclid=abc"))
         .when(F.col("doc_id") % 4 == 2, F.lit("?a=1&ref=tw&b=2"))
         .otherwise(F.lit("#top")))
    bare = F.concat(F.lit("HTTPS://Host"), d, F.lit(".org:443"))
    return (docs.select(
        "doc_id",
        canonical_url(messy).alias("curl"),
        canonical_url(bare).alias("curl_bare")).orderBy("doc_id"))


def _q_paragraph_dedup(spark, sf_dir):
    """Cross-corpus paragraph dedup (operators/dedup.paragraph_dedup,
    MassiveText/C4 line rule) over deterministically CONSTRUCTED
    paragraph-structured text: each document = its own (unique) body, a
    footer line shared by every third document (df~167 >> cap), and a
    tail line shared by every seventh residue class (df~71 > cap).  Both
    planted boilerplate lines must vanish from every document; unique
    bodies survive."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        paragraph_dedup)
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    text2 = F.concat(
        F.col("text"), F.lit("\n"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("standard footer boilerplate line"))
         .otherwise(F.concat(F.lit("closing line "), d)),
        F.lit("\ntail paragraph "), (F.col("doc_id") % 7).cast("string"))
    built = docs.select("doc_id", text2.alias("text"))
    return (paragraph_dedup(built, max_para_df=5, mode="drop")
            .orderBy("doc_id"))


def _q_pii_scrub(spark, sf_dir):
    """PII scrubbing (functions/pii.py) over deterministically CONSTRUCTED
    text with planted e-mails / IPv4s / phone numbers (each present for a
    different doc_id residue class, so zero-count rows are exercised).
    The patterns avoid lookarounds so Java regex (Spark) and RE2 (DuckDB)
    agree — the oracle replays the same scrub chain with 'g'-flagged
    regexp_replace."""
    from climatemind_ontology_processing_spark.functions.pii import (
        scrub_pii_docs)
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    text2 = F.concat(
        F.lit("note "),
        F.when(d % 4 != 0,
               F.concat(F.lit("reach user"), d.cast("string"), F.lit("@ex"),
                        (d % 7).cast("string"), F.lit(".org "))
               ).otherwise(F.lit("")),
        F.when(d % 3 != 0,
               F.concat(F.lit("from 10."), (d % 200).cast("string"),
                        F.lit(".4."), (d % 250).cast("string"), F.lit(" "))
               ).otherwise(F.lit("")),
        F.when(d % 5 != 0,
               F.concat(F.lit("call 415-867-"),
                        F.lpad((d % 10000).cast("string"), 4, "0"),
                        F.lit(" "))).otherwise(F.lit("")),
        F.lit("end"))
    built = docs.select("doc_id", text2.alias("text"))
    return scrub_pii_docs(built).orderBy("doc_id")


def _q_domain_stats(spark, sf_dir):
    """Head-domain distribution (operators/domains.domain_stats) over
    deterministically CONSTRUCTED urls: 40%% of pages on one head domain
    (the Zipf head the salting guardrails exist for), a co.uk
    second-level-suffix class (registrable domain = LAST THREE labels),
    and two tail classes.  The oracle states the expected registrable
    domains independently (canonical_urls style), then recomputes
    counts/share/rank in SQL."""
    from climatemind_ontology_processing_spark.operators.domains import (
        domain_stats)
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 10 < 4, F.lit("www.bighead.com"))
         .when(d % 10 < 6,
               F.concat(F.lit("sub"), (d % 3).cast("string"),
                        F.lit(".example.co.uk")))
         .when(d % 10 < 8,
               F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".org")))
         .otherwise(F.concat(F.lit("blog"), (d % 50).cast("string"),
                             F.lit(".net"))),
        F.lit("/page/"), d.cast("string"))
    pages = docs.select("doc_id", url.alias("url"))
    return domain_stats(pages).orderBy("rank")


def _q_duplicate_spans(spark, sf_dir):
    """Exact-substring (windowed) dedup spans (operators/dedup.
    duplicate_spans, Lee et al. 2022) over CONSTRUCTED text: every fourth
    document gets the same 12-token license chunk appended, whose 8-token
    windows repeat ~125x corpus-wide; gaps-and-islands merging must
    recover each planted chunk as ONE maximal span.  The census is by
    window hash on the Spark side and by window STRING in the oracle —
    identical up to 64-bit collisions (zero at any tested SF)."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        duplicate_spans)
    docs = _read(spark, sf_dir, "documents")
    chunk = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
             "do eiusmod tempor")
    built = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" " + chunk)))
         .otherwise(F.col("text")).alias("text"))
    return (duplicate_spans(built, window=8, min_count=2)
            .orderBy("doc_id", "span_start"))


def _q_scrub_spans(spark, sf_dir):
    """duplicate_spans composed with removal (operators/dedup.
    scrub_duplicate_spans): the planted license chunk's tokens vanish
    from every carrier document, the remainder rejoins single-spaced.
    Same construction as duplicate_spans; the oracle extends its CTEs
    with the per-doc index-filter rebuild."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        scrub_duplicate_spans)
    docs = _read(spark, sf_dir, "documents")
    chunk = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
             "do eiusmod tempor")
    built = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.col("text"), F.lit(" " + chunk)))
         .otherwise(F.col("text")).alias("text"))
    return (scrub_duplicate_spans(built, window=8, min_count=2)
            .orderBy("doc_id"))


def _q_domain_cap(spark, sf_dir):
    """Per-domain quota sampling (operators/domains.domain_cap_sample)
    over the same constructed url distribution as domain_stats: the two
    over-cap classes (head domain, co.uk class) are cut to exactly 30
    deterministic survivors each; under-cap domains pass untouched.
    md5_60 rank so the oracle replays the selection exactly."""
    from climatemind_ontology_processing_spark.operators.domains import (
        domain_cap_sample)
    docs = _read(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://"),
        F.when(d % 10 < 4, F.lit("www.bighead.com"))
         .when(d % 10 < 6,
               F.concat(F.lit("sub"), (d % 3).cast("string"),
                        F.lit(".example.co.uk")))
         .when(d % 10 < 8,
               F.concat(F.lit("site"), (d % 20).cast("string"), F.lit(".org")))
         .otherwise(F.concat(F.lit("blog"), (d % 50).cast("string"),
                             F.lit(".net"))),
        F.lit("/page/"), d.cast("string"))
    pages = docs.select("doc_id", url.alias("url"))
    return (domain_cap_sample(pages, max_per_domain=30, seed=7,
                              hash_family="md5_60")
            .select("doc_id").orderBy("doc_id"))


def _q_curation_preview(spark, sf_dir):
    """Composed curation pipeline (plans/curate.py stage order:
    paragraph_dedup -> scrub_pii_docs -> dedup_exact) over CONSTRUCTED
    text where the expected output is STATEABLE independently
    (canonical_urls style): docs form groups of 5 sharing a base
    paragraph and a group PII line; a footer (df~167) and a constant
    closing line (df~333) exceed the paragraph cap and vanish, making
    the 5 group members byte-identical; the PII line's e-mail is tagged;
    exact dedup then keeps exactly the group leader.  The oracle simply
    states that result — 100 leaders, text = base + scrubbed PII line,
    counts (1,0,0) — with zero pipeline re-implementation."""
    from climatemind_ontology_processing_spark.functions.pii import (
        scrub_pii_docs)
    from climatemind_ontology_processing_spark.operators.dedup import (
        dedup_exact, paragraph_dedup)
    docs = _read(spark, sf_dir, "documents")
    g = docs.select(F.col("doc_id").alias("gid"), F.col("text").alias("gtext"))
    base = (docs.select("doc_id")
            .withColumn("gid", F.col("doc_id") - F.col("doc_id") % 5)
            .join(g, "gid"))
    text2 = F.concat(
        F.col("gtext"), F.lit("\n"),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("standard footer boilerplate line"))
         .otherwise(F.lit("closing block")),
        F.lit("\nreach user"), F.col("gid").cast("string"),
        F.lit("@ex"), (F.col("gid") % 7).cast("string"), F.lit(".org now"))
    built = base.select("doc_id", text2.alias("text"))
    step1 = paragraph_dedup(built, max_para_df=5).select("doc_id", "text")
    step2 = scrub_pii_docs(step1)
    return dedup_exact(step2).orderBy("doc_id")


def _q_training_mix(spark, sf_dir):
    """Deterministic stratified training-mix sampling (operators/sampling.py):
    keep 50%% of en, 25%% of de, 10%% of fr, drop other languages — a pure
    map-side membership predicate (hash(seed,key) mod 1e6 < rate), so two
    runs, any partitioning, and any task retry ship the SAME corpus.  md5_60
    family so the oracle replays membership bit-exactly."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        stratified_sample)
    docs = _read(spark, sf_dir, "documents")
    return (stratified_sample(docs, "lang",
                              {"en": 0.5, "de": 0.25, "fr": 0.10},
                              key="doc_id", seed=7, hash_family="md5_60")
            .select("doc_id", "lang").orderBy("doc_id"))


def _q_eval_take_k(spark, sf_dir):
    """EXACT-k-per-stratum sampling (operators/sampling.stratified_take_k)
    — eval-set construction: exactly 30 docs per language, ranked by the
    deterministic md5_60 sample bucket (reproducible across runs /
    partitionings / retries, unlike df.sample)."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        stratified_take_k)
    docs = _read(spark, sf_dir, "documents")
    return (stratified_take_k(docs, "lang", k=30, key="doc_id", seed=7,
                              hash_family="md5_60")
            .select("doc_id", "lang").orderBy("doc_id"))


def _q_fuzzy_matches(spark, sf_dir):
    """Blocked edit-distance entity linking (operators/linkage.py): corpus
    token types fuzzy-joined against the concept term list at Levenshtein
    <= 1 — catches plurals/typos the exact broadcast alias map misses.
    The oracle mirrors the blocking exactly (DuckDB levenshtein agrees
    integer-for-integer)."""
    from climatemind_ontology_processing_spark.operators.linkage import (
        fuzzy_matches)
    from climatemind_ontology_processing_spark.operators.lm import _doc_tokens
    docs = _read(spark, sf_dir, "documents")
    toks = _doc_tokens(docs, "doc_id", "text") \
        .select(F.col("tok").alias("surface"))
    terms = spark.createDataFrame([(t,) for t in TERMS], "term string")
    return (fuzzy_matches(toks, terms, max_dist=1)
            .orderBy("surface", "term"))


def _fuzzy_sql() -> str:
    terms_values = ", ".join(f"('{t}')" for t in sorted(TERMS))
    return rf"""
        WITH {_sketch_tok_cte()},
        surfaces AS (SELECT DISTINCT tok AS surface FROM toks),
        trm(term) AS (VALUES {terms_values}),
        c AS (SELECT surface, substring(surface, 1, 1) AS b1,
                     CAST(floor(length(surface) / 4.0) AS BIGINT) AS b2
              FROM surfaces),
        d AS (SELECT term, substring(term, 1, 1) AS b1,
                     unnest(list_distinct([
                       CAST(floor((length(term) - 1) / 4.0) AS BIGINT),
                       CAST(floor(length(term) / 4.0) AS BIGINT),
                       CAST(floor((length(term) + 1) / 4.0) AS BIGINT)]))
                       AS b2
              FROM trm)
        SELECT DISTINCT surface, term,
               levenshtein(surface, term)::INT AS dist
        FROM c JOIN d ON c.b1 = d.b1 AND c.b2 = d.b2
        WHERE levenshtein(surface, term) <= 1
        ORDER BY surface, term
    """


def _q_hll_distinct_tokens(spark, sf_dir):
    """HyperLogLog estimate of the corpus token-type cardinality
    (operators/sketch.py — p=9, md5_60, integer-exact registers and
    harmonic sum): the fixed-size mergeable alternative to the full
    count-distinct shuffle at 10^12 docs.  Deterministic to the bit, so
    the oracle replays registers AND estimate exactly."""
    from climatemind_ontology_processing_spark.operators.lm import _doc_tokens
    from climatemind_ontology_processing_spark.operators.sketch import (
        hll_count_distinct)
    docs = _read(spark, sf_dir, "documents")
    toks = _doc_tokens(docs, "doc_id", "text")
    return (hll_count_distinct(toks, "tok", p=9)
            .select("n_registers",
                    F.col("estimate").cast("decimal(20,6)").cast("string")
                     .alias("estimate")))


def _hll_sql(p: int = 9) -> str:
    from climatemind_ontology_processing_spark.operators.sketch import _alpha
    m = 2 ** p
    rem_bits = 60 - p
    mask = 2 ** rem_bits - 1
    s_exp = rem_bits + 1
    alpha_m2 = _alpha(m) * m * m
    return rf"""
        WITH {_sketch_tok_cte()},
        h AS (SELECT ('0x' || substring(md5(tok), 1, 15))::BIGINT AS hv
              FROM toks),
        rr AS (SELECT hv >> {rem_bits} AS register,
                      CASE WHEN (hv & {mask}) > 0
                           THEN {s_exp} - length(bin(hv & {mask}))
                           ELSE {s_exp} END AS rho
               FROM h),
        regs AS (SELECT register, max(rho) AS max_rho FROM rr
                 GROUP BY register),
        agg AS (SELECT count(*)::BIGINT AS n_registers,
                       sum(CAST(pow(2.0, {s_exp} - max_rho) AS BIGINT))
                         ::BIGINT AS t
                FROM regs)
        SELECT n_registers,
               (CASE WHEN ({alpha_m2!r} / ((t + ({m} - n_registers)
                             * {2 ** s_exp})::DOUBLE / {float(2 ** s_exp)!r}))
                          <= {2.5 * m!r}
                      AND ({m} - n_registers) > 0
                     THEN {float(m)!r} * ln({float(m)!r}
                            / ({m} - n_registers)::DOUBLE)
                     ELSE {alpha_m2!r} / ((t + ({m} - n_registers)
                            * {2 ** s_exp})::DOUBLE / {float(2 ** s_exp)!r})
                END)::DECIMAL(20,6)::VARCHAR AS estimate
        FROM agg
    """


_SKETCH_PROBES = ["hash", "join", "vector", "stream", "zzzabsent", "qqqabsent"]


def _q_cms_token_counts(spark, sf_dir):
    """Count-min frequency estimates for six probe tokens (4x1024 sketch
    over ALL token occurrences — operators/sketch.cms_table/cms_lookup).
    Exact BIGINT cells; shards would merge by (row, bucket) SUM."""
    from climatemind_ontology_processing_spark.operators.lm import _doc_tokens
    from climatemind_ontology_processing_spark.operators.sketch import (
        cms_lookup, cms_table)
    docs = _read(spark, sf_dir, "documents")
    toks = _doc_tokens(docs, "doc_id", "text")
    sk = cms_table(toks, "tok", depth=4, width=1024)
    return cms_lookup(sk, _SKETCH_PROBES, depth=4, width=1024).orderBy("item")


def _q_bloom_membership(spark, sf_dir):
    """Bloom-filter membership probes (k=5, m=8192 over the corpus token
    types — operators/sketch.bloom_bits/bloom_contains): present terms
    always hit; the absent probes show the (tiny at this load factor)
    false-positive behavior deterministically."""
    from climatemind_ontology_processing_spark.operators.lm import _doc_tokens
    from climatemind_ontology_processing_spark.operators.sketch import (
        bloom_bits, bloom_contains)
    docs = _read(spark, sf_dir, "documents")
    toks = _doc_tokens(docs, "doc_id", "text")
    bits = bloom_bits(toks, "tok", k=5, m_bits=8192)
    return (bloom_contains(bits, _SKETCH_PROBES, k=5, m_bits=8192)
            .select("item", F.col("maybe_present").cast("string")
                    .alias("maybe_present"))
            .orderBy("item"))


def _sketch_tok_cte() -> str:
    return r"""toks AS (
          SELECT tok FROM (
            SELECT unnest(string_split_regex(lower(text),
                                             '[^\p{L}\p{N}]+')) AS tok
            FROM documents) WHERE tok <> '')"""


def _cms_sql(depth: int = 4, width: int = 1024) -> str:
    probes = ", ".join(f"('{v}')" for v in sorted(set(_SKETCH_PROBES)))
    rows = ", ".join(f"({j})" for j in range(depth))
    return f"""
        WITH {_sketch_tok_cte()},
        cells AS (
          SELECT r.j AS row,
                 ('0x' || substring(md5('cms' || r.j::VARCHAR || chr(31)
                                        || tok), 1, 15))::BIGINT
                 % {width} AS bucket
          FROM toks CROSS JOIN (VALUES {rows}) AS r(j)),
        sk AS (SELECT row, bucket, count(*)::BIGINT AS cnt FROM cells
               GROUP BY row, bucket),
        pr AS (
          SELECT p.item, r.j AS row,
                 ('0x' || substring(md5('cms' || r.j::VARCHAR || chr(31)
                                        || p.item), 1, 15))::BIGINT
                 % {width} AS bucket
          FROM (VALUES {probes}) AS p(item) CROSS JOIN (VALUES {rows}) AS r(j))
        SELECT pr.item, min(coalesce(sk.cnt, 0))::BIGINT AS est
        FROM pr LEFT JOIN sk ON sk.row = pr.row AND sk.bucket = pr.bucket
        GROUP BY pr.item ORDER BY pr.item
    """


def _bloom_sql(k: int = 5, m_bits: int = 8192) -> str:
    probes = ", ".join(f"('{v}')" for v in sorted(set(_SKETCH_PROBES)))
    salts = ", ".join(f"({i})" for i in range(k))
    return f"""
        WITH {_sketch_tok_cte()},
        bits AS (
          SELECT DISTINCT
                 ('0x' || substring(md5('bloom' || s.i::VARCHAR || chr(31)
                                        || tok), 1, 15))::BIGINT
                 % {m_bits} AS bit
          FROM toks CROSS JOIN (VALUES {salts}) AS s(i)),
        pr AS (
          SELECT p.item,
                 ('0x' || substring(md5('bloom' || s.i::VARCHAR || chr(31)
                                        || p.item), 1, 15))::BIGINT
                 % {m_bits} AS bit
          FROM (VALUES {probes}) AS p(item) CROSS JOIN (VALUES {salts}) AS s(i))
        SELECT item,
               CASE WHEN count(*) FILTER (WHERE bits.bit IS NOT NULL) = {k}
                    THEN 'true' ELSE 'false' END AS maybe_present
        FROM pr LEFT JOIN bits ON bits.bit = pr.bit
        GROUP BY item ORDER BY item
    """


def _q_attribution_pairs(spark, sf_dir):
    """Time-bounded attribution join (streaming/joins.attribution_join —
    the SAME expression the watermarked stream-stream join runs, batch
    side): purchases matched to the same user's clicks within the 30
    minutes before them.  Timestamps emitted as exact epoch micros."""
    from climatemind_ontology_processing_spark.streaming.joins import (
        attribution_join)
    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click") \
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
    purchases = ev.filter(F.col("event_type") == "purchase") \
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
    out = attribution_join(clicks, purchases, horizon="30 minutes")
    return (out.select(
        "user_id", "l_click_id", "r_purchase_id",
        F.unix_micros(F.col("l_ts").cast("timestamp")).alias("click_us"),
        F.unix_micros(F.col("r_ts").cast("timestamp")).alias("purchase_us"))
        .orderBy("user_id", "l_click_id", "r_purchase_id"))


def _q_windowed_event_counts(spark, sf_dir):
    """Tumbling 1-day event-time windows by event type — the SAME
    streaming.windows.windowed_counts expression the watermarked stream
    runs (streaming == batch equivalence pinned in
    tests/test_streaming_and_classes.py); window start emitted as epoch
    seconds (whole-second boundaries, TIMESTAMP_NTZ-safe)."""
    from climatemind_ontology_processing_spark.streaming.windows import (
        windowed_counts)
    ev = _read(spark, sf_dir, "events")
    out = windowed_counts(ev, window="1 day", key_col="event_type")
    return (out.select(
        (F.unix_micros(F.col("window_start").cast("timestamp")) / F.lit(1e6))
        .cast("long").alias("ws"),
        "event_type", "n_events")
        .orderBy("ws", "event_type"))


def _q_lang_percentiles(spark, sf_dir):
    """Per-language corpus profiling: exact n_chars percentiles (25/50/75/95)
    — the data-quality dashboard primitive.  Exact `percentile` (linear
    interpolation, same definition as SQL quantile_cont), decimal-routed so
    the stringified values hash-match."""
    docs = _read(spark, sf_dir, "documents")
    def p(q, name):
        return (F.percentile(F.col("n_chars"), F.lit(q))
                .cast("decimal(20,6)").cast("string").alias(name))
    return (docs.groupBy("lang")
            .agg(p(0.25, "p25"), p(0.5, "p50"), p(0.75, "p75"),
                 p(0.95, "p95"))
            .orderBy("lang"))


def _q_lang_stats(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (docs.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .orderBy("lang"))


def _q_token_counts(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
            .orderBy("doc_id"))


def _q_sequence_packing(spark, sf_dir):
    """Concat-then-chunk training-sequence placement (operators/packing.py
    — two-phase distributed prefix sum over (doc_id, n_tokens) only):
    seq_len=128, one EOS per doc, bucket_size=64 so the sf0.01 corpus
    spans multiple prefix-sum buckets."""
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans)
    docs = _read(spark, sf_dir, "documents")
    d = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))
    return packed_spans(d, seq_len=128, bucket_size=64).orderBy("doc_id")


def _q_language_id(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents")
    return (docs.select("doc_id", language_id(F.col("text")).alias("lang_detected"))
            .orderBy("doc_id"))


def _q_quality(spark, sf_dir):
    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    return (quality_features(docs)
            .select("doc_id", "q_n_tokens", "q_mean_word_len",
                    "q_stopword_ratio", "q_score")
            .orderBy("doc_id"))


def _q_salted_source_counts(spark, sf_dir):
    """Skew-safe two-phase aggregation (operators/skew.py salted_agg): counts
    and value sums per document source through the (key, salt) partial +
    final merge — must be EXACTLY equal to a plain GROUP BY, which is what
    the oracle computes."""
    from climatemind_ontology_processing_spark.operators.skew import salted_agg
    docs = _read(spark, sf_dir, "documents")
    out = salted_agg(docs, "source",
                     {"n_docs": ("*", "count"),
                      "sum_chars": ("n_chars", "sum"),
                      "max_chars": ("n_chars", "max")})
    return out.orderBy("source")


def _q_clean_corpus(spark, sf_dir):
    """The composed training-data cleaning pipeline: language filter (en) ->
    quality gate (q_score >= 0.7) -> exact dedup (lowest doc_id per text) ->
    per-source survivor stats.  One declarative plan; every stage is an
    operator from the engine (textstats.quality_features + dedup_exact)."""
    from climatemind_ontology_processing_spark.operators.dedup import dedup_exact
    from climatemind_ontology_processing_spark.operators.textstats import (
        language_id, quality_features)
    docs = _read(spark, sf_dir, "documents")
    en = docs.filter(language_id(F.col("text")) == "en")
    good = quality_features(en).filter(F.col("q_score") >= 0.7) \
        .select("doc_id", "text", "source", "n_chars")
    surv = dedup_exact(good)
    return (surv.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .orderBy("source"))


def _q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle containment (operators/dedup.containment_pairs)
    — quote/subset detection: pairs where either direction's containment
    >= 0.5 (Jaccard misses short-in-long embeddings)."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        containment_pairs)
    docs = _read(spark, sf_dir, "documents")
    # decimal-string route: a small weak-direction value (e.g. 0.0005 for
    # a short quote in a huge page) would stringify as '5.0E-4' on the
    # Spark side but '0.0005' from DuckDB (CLAUDE.md float-hash rule)
    # max_shingle_df=None: oracle replays exact semantics (cap pinned by
    # pytest instead, per the established guardrail/oracle pattern)
    return (containment_pairs(docs, n=3, threshold=0.5, max_shingle_df=None)
            .select("a", "b",
                    F.col("c_ab").cast("decimal(20,6)").cast("string")
                     .alias("c_ab"),
                    F.col("c_ba").cast("decimal(20,6)").cast("string")
                     .alias("c_ba"))
            .orderBy("a", "b"))


def _q_curated_corpus(spark, sf_dir):
    """The FULL training-data pipeline composed end-to-end in one
    declarative plan: language filter (en) -> quality gate (q_score >=
    0.7) -> exact dedup -> self-trained unigram LM cross-entropy ->
    training-sequence packing over the survivors.  Every stage is an
    engine operator already oracled in isolation; this query pins their
    COMPOSITION (per-doc output: tokens, LM score, packed placement)."""
    from climatemind_ontology_processing_spark.operators.dedup import dedup_exact
    from climatemind_ontology_processing_spark.operators.lm import (
        lm_cross_entropy)
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans)
    from climatemind_ontology_processing_spark.operators.textstats import (
        language_id, quality_features)
    docs = _read(spark, sf_dir, "documents")
    en = docs.filter(language_id(F.col("text")) == "en")
    good = quality_features(en).filter(F.col("q_score") >= 0.7) \
        .select("doc_id", "text")
    surv = dedup_exact(good)
    lm = lm_cross_entropy(surv, top_v=500)
    spans = packed_spans(lm, seq_len=128, bucket_size=64)
    return (spans.join(lm.select("doc_id", "ce_nats"), "doc_id")
            .select("doc_id", "n_tokens",
                    F.col("ce_nats").cast("decimal(20,6)").cast("string")
                     .alias("ce_nats"),
                    "start_offset", "first_seq", "last_seq")
            .orderBy("doc_id"))


def _curated_corpus_sql() -> str:
    return f"""
        WITH toks0 AS (
          SELECT doc_id, text,
                 regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+') AS t
          FROM documents),
        scores AS (
          {" UNION ALL ".join(
              "SELECT doc_id, '" + lang + "' AS lang, "
              "len(list_filter(t, x -> x IN ("
              + ", ".join("'" + w + "'" for w in words)
              + "))) AS score FROM toks0"
              for lang, words in sorted(_LANGS.items()))}
        ),
        best AS (
          SELECT doc_id, lang, score,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, lang DESC) AS rn
          FROM scores),
        en AS (SELECT doc_id FROM best
               WHERE rn = 1 AND score > 0 AND lang = 'en'),
        q AS (
          SELECT tk.doc_id, tk.text, length(tk.text) AS chars,
                 len(list_filter(tk.t, x -> x <> '')) AS n_toks,
                 len(list_filter(tk.t, x -> x IN ({", ".join(
                     "'" + w + "'" for w in _LANGS["en"])}))) AS stop_hits
          FROM toks0 tk JOIN en USING (doc_id)),
        scoredq AS (
          SELECT doc_id, text, round(
            (CASE WHEN n_toks BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END)
            + (CASE WHEN n_toks > 0
                    AND chars * 1.0 / n_toks BETWEEN 3 AND 12
                    THEN 0.3 ELSE 0 END)
            + (CASE WHEN n_toks > 0
                    AND stop_hits * 1.0 / n_toks >= 0.05
                    THEN 0.3 ELSE 0 END), 6) AS q_score
          FROM q),
        good AS (SELECT doc_id, text FROM scoredq WHERE q_score >= 0.7),
        keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text),
        surv AS (SELECT g.doc_id, g.text FROM good g JOIN keep USING (doc_id)),
        stoks AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(string_split_regex(lower(text),
                                             '[^\\p{{L}}\\p{{N}}]+')) AS tok
            FROM surv) WHERE tok <> ''),
        counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM stoks GROUP BY tok),
        vocab AS (SELECT tok, cnt FROM counts
                  ORDER BY cnt DESC, tok ASC LIMIT 500),
        consts AS (SELECT (SELECT sum(cnt) FROM counts)::DOUBLE AS total,
                          (SELECT sum(cnt) FROM vocab)::DOUBLE AS invocab,
                          (SELECT count(*) FROM vocab)::DOUBLE AS v),
        scoredlm AS (
          SELECT t.doc_id,
                 CAST(round(1e6 * round(ln(
                   (coalesce(vb.cnt::DOUBLE, c.total - c.invocab) + 1.0)
                   / (c.total + 1.0 * (c.v + 1.0))), 6)) AS BIGINT) AS lp
          FROM stoks t LEFT JOIN vocab vb USING (tok) CROSS JOIN consts c),
        lm AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
                      round(-sum(lp) / (count(*) * 1e6), 6)
                        ::DECIMAL(20,6)::VARCHAR AS ce_nats
               FROM scoredlm GROUP BY doc_id),
        pack AS (
          SELECT doc_id, n_tokens,
                 coalesce(sum(n_tokens + 1) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS start_offset
          FROM lm)
        SELECT p.doc_id, p.n_tokens, lm.ce_nats, p.start_offset,
               (p.start_offset // 128)::BIGINT AS first_seq,
               ((p.start_offset + p.n_tokens) // 128)::BIGINT AS last_seq
        FROM pack p JOIN lm USING (doc_id) ORDER BY p.doc_id
    """


def _q_winnow_fingerprints(spark, sf_dir):
    """MOSS winnowing fingerprints (k=5 grams, window 4) — rolling-hash
    document fingerprinting for partial-overlap detection
    (operators/textstats.py winnowing_fingerprints)."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        winnowing_fingerprints)
    docs = _read(spark, sf_dir, "documents")
    return (winnowing_fingerprints(docs).distinct()
            .orderBy("doc_id", "fingerprint"))


def _q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filtering signals: duplicate-token ratio +
    top-bigram share per document (operators/textstats.py)."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        repetition_stats)
    docs = _read(spark, sf_dir, "documents")
    return repetition_stats(docs).orderBy("doc_id")


def _q_fingerprint_dups(spark, sf_dir):
    """Per-document fingerprint of whitespace-normalized lowercase text
    (md5 here so the oracle can recompute it; the engine's internal key is
    xxhash64 — same normalization, operators/textstats.py)."""
    docs = _read(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return (docs.select("doc_id", F.md5(norm).alias("fingerprint"))
            .orderBy("doc_id"))


# ---------------------------------------------------------------------------
# relational operator family (J/A/O/U ids)
# ---------------------------------------------------------------------------
def _q_broadcast_lookup(spark, sf_dir):
    """J1 — broadcast dictionary join: customers per nation name."""
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    return (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.count("*").alias("n_customers"),
                 F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"))
            .orderBy("nation"))


def _q_part_sets(spark, sf_dir):
    """A4/A5 — per-customer flatten + dedup of part keys across orders,
    stringified (no array output columns)."""
    o = _read(spark, sf_dir, "orders")
    l = _read(spark, sf_dir, "lineitem")
    return (o.join(l, l.l_orderkey == o.o_orderkey)
            .filter(F.col("o_custkey") < 50)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.concat_ws("|", F.array_sort(F.collect_set("l_partkey")))
                 .alias("parts"),
                 F.size(F.collect_set("l_partkey")).alias("n_parts"))
            .orderBy("custkey"))


def _q_set_ops(spark, sf_dir):
    """U1/U3 — array intersect/except between the nation sets of two market
    segments (sizes only; arrays are per-row set ops like the reference's
    per-edge property intersections)."""
    c = _read(spark, sf_dir, "customer")
    seg = (c.groupBy("c_mktsegment")
           .agg(F.array_sort(F.collect_set("c_nationkey")).alias("nations")))
    a = seg.alias("a")
    b = seg.alias("b")
    return (a.join(b, F.col("a.c_mktsegment") < F.col("b.c_mktsegment"))
            .select(F.col("a.c_mktsegment").alias("seg_a"),
                    F.col("b.c_mktsegment").alias("seg_b"),
                    F.size(F.array_intersect(F.col("a.nations"),
                                             F.col("b.nations"))).alias("n_common"),
                    F.size(F.array_except(F.col("a.nations"),
                                          F.col("b.nations"))).alias("n_only_a"))
            .orderBy("seg_a", "seg_b"))


def _q_rank_nulls_last(spark, sf_dir):
    """O1 — truthy-desc ranking with NULLS/zeros-last tail, deterministic
    tiebreak (mirrors the CO2 mitigation ranking semantics)."""
    s = _read(spark, sf_dir, "supplier")
    key = F.when(F.col("s_acctbal").isNotNull() & (F.col("s_acctbal") != 0),
                 F.col("s_acctbal"))
    w = Window.orderBy(key.isNull().asc(), key.desc(), F.col("s_suppkey").asc())
    return (s.select("s_suppkey", "s_acctbal")
            .withColumn("rank", F.row_number().over(w))
            .orderBy("rank"))


def _q_first_event_per_user(spark, sf_dir):
    """A2 — order-preserving dedup via row_number (first occurrence wins)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_id", "event_type")
            .orderBy("user_id"))


def _q_value_collapse(spark, sf_dir):
    """A3 — personal-value-style collapse per user: purchase=1, error=-1,
    else 0; all-null -> null; 1&-1 conflict -> flagged."""
    e = _read(spark, sf_dir, "events")
    sign = (F.when(F.col("event_type") == "purchase", F.lit(1))
            .when(F.col("event_type") == "error", F.lit(-1))
            .otherwise(F.lit(0)))
    per_user = e.groupBy("user_id").agg(
        F.max(sign == 1).alias("has_one"),
        F.max(sign == -1).alias("has_neg"))
    # string-typed result: a nullable-int column round-trips differently
    # through pandas (NaN) vs Spark rows (None) in hash comparisons
    collapsed = (F.when(F.col("has_one") & F.col("has_neg"), F.lit("conflict"))
                 .when(F.col("has_neg"), F.lit("-1"))
                 .when(F.col("has_one"), F.lit("1"))
                 .otherwise(F.lit("0")))
    return (per_user.select(
        "user_id", collapsed.alias("value"),
        (F.col("has_one") & F.col("has_neg")).alias("conflict"))
        .orderBy("user_id"))


def _q_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity): lag + running sum of
    session-start flags, then per-session aggregates — the stateful-windowing
    pattern the engine adds beyond the batch reference (§2.9)."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(),
                                              F.col("event_id").asc())
    epoch = F.unix_timestamp(F.col("ts"))  # NTZ interpreted in UTC session TZ
    prev = e.withColumn("_prev_ts", F.lag(epoch).over(w))
    gap = epoch - F.col("_prev_ts")
    flagged = prev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 (F.max(epoch) - F.min(epoch)).alias("duration_sec"))
            .orderBy("user_id", "session_id"))


def _q_asof_purchase_click(spark, sf_dir):
    """As-of join (operators/temporal.py): each purchase matched to the
    user's latest click at-or-before it — the point-in-time feature join.
    Microsecond-exact epoch doubles on both sides (no ties in the data,
    verified), LEFT semantics (purchase with no prior click keeps nulls)."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        asof_join)
    e = _read(spark, sf_dir, "events")
    # NTZ -> LTZ cast interprets in the UTC session tz, exactly like
    # DuckDB's epoch(); micros/1e6 is exact in double at this magnitude
    ts_sec = F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), ts_sec.alias("ts"))
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), ts_sec.alias("ts"))
    out = asof_join(purchases, clicks, key="user_id",
                    left_ts="ts", right_ts="ts")
    # nullable outputs stringified with a sentinel: a nullable BIGINT
    # becomes float NaN through the oracle's pandas path (CLAUDE.md quirk)
    return (out.select(
        "user_id", "purchase_id",
        F.coalesce(F.col("asof_click_id").cast("string"), F.lit("-"))
         .alias("asof_click_id"),
        F.coalesce(F.col("asof_ts").cast("decimal(20,6)").cast("string"),
                   F.lit("-")).alias("asof_ts"))
        .orderBy("user_id", "purchase_id"))


def _q_interval_event_counts(spark, sf_dir):
    """Range/containment join (operators/temporal.py interval_join): 60
    overlapping 16-hour intervals over January 2024; per-interval event
    count + value sum.  Equi-join on time bins + exact BETWEEN filter —
    never a nested-loop theta join."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_join)
    e = _read(spark, sf_dir, "events").select(
        "event_id", "value", F.unix_timestamp("ts").alias("ts"))
    base = 1704067200  # 2024-01-01 00:00:00 UTC
    intervals = spark.range(60).select(
        F.col("id").alias("interval_id"),
        (F.lit(base) + F.col("id") * 43200).alias("start"),
        (F.lit(base) + F.col("id") * 43200 + 57600).alias("end"))
    joined = interval_join(e, intervals, ts_col="ts", bin_width=3600)
    return (joined.groupBy("interval_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .orderBy("interval_id"))


def _q_rolling_user_value(spark, sf_dir):
    """Range-frame window: per event, the user's value sum over the
    preceding hour (RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) — the
    time-decayed-feature shape a training pipeline computes per example."""
    e = _read(spark, sf_dir, "events")
    epoch = F.unix_timestamp(F.col("ts"))
    w = (Window.partitionBy("user_id").orderBy(epoch)
         .rangeBetween(-3600, 0))
    return (e.filter(F.col("user_id") < 100)
            .select("user_id", "event_id",
                    F.round(F.sum("value").over(w), 6).alias("rolling_value"))
            .orderBy("user_id", "event_id"))


def _q_lang_source_rollup(spark, sf_dir):
    """ROLLUP aggregation over (lang, source) with counts and mean length —
    the reporting-cube shape (subtotals + grand total in one pass)."""
    d = _read(spark, sf_dir, "documents")
    return (d.rollup("lang", "source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg("n_chars"), 6).alias("avg_chars"))
            .select(F.coalesce("lang", F.lit("<all>")).alias("lang"),
                    F.coalesce("source", F.lit("<all>")).alias("source"),
                    "n_docs", "avg_chars")
            .orderBy("lang", "source"))


def _q_event_sessions(spark, sf_dir):
    """Windowed aggregation: hourly tumbling event counts by type (§2.9 —
    window functionality the engine adds beyond the batch reference)."""
    e = _read(spark, sf_dir, "events")
    return (e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"),
                      "event_type")
            .agg(F.count("*").alias("n"),
                 F.round(F.sum("value"), 6).alias("sum_value"))
            .orderBy("hour", "event_type"))


# ---------------------------------------------------------------------------
# graph family (G ids) over the derived trade graph
# ---------------------------------------------------------------------------
def _q_trade_edges(spark, sf_dir):
    """The derived edge table itself (multi-join scan pipeline)."""
    return _trade_edges(spark, sf_dir).orderBy("src", "dst")


def _q_dag_layers(spark, sf_dir):
    """X3 layering stage: longest-path DAG layers (the Sugiyama/dot layer
    assignment, operators/layout.py) over the acyclic src<dst trade graph."""
    from climatemind_ontology_processing_spark.operators.layout import (
        dag_layers)
    edges = _trade_edges(spark, sf_dir).filter(F.col("src") < F.col("dst"))
    return dag_layers(edges).orderBy("id")


def _q_bfs_reachable(spark, sf_dir):
    """G2 — BFS frontier expansion from nation 0 over trade edges."""
    edges = _trade_edges(spark, sf_dir).withColumn("type", F.lit("trade"))
    return bfs_reachable(edges, [0], "forward", None) \
        .select(F.col("id").cast("int").alias("id")).orderBy("id")


def _q_closure_counts(spark, sf_dir):
    """G5 — reflexive-transitive closure: reachable-node count per source."""
    edges = _trade_edges(spark, sf_dir).withColumn("type", F.lit("trade"))
    return (transitive_closure(edges)
            .groupBy(F.col("src").cast("int").alias("src"))
            .agg(F.count("*").alias("n_reachable"))
            .orderBy("src"))


def _q_induced_subgraph(spark, sf_dir):
    """J5 — edges induced on the odd-numbered nations."""
    edges = _trade_edges(spark, sf_dir)
    n = _read(spark, sf_dir, "nation")
    odd = n.filter(F.col("n_nationkey") % 2 == 1) \
           .select(F.col("n_nationkey").cast("int").alias("id"))
    return induced_edges(edges.withColumn("type", F.lit("t")), odd) \
        .select("src", "dst").orderBy("src", "dst")


def _q_acyclic_cut(spark, sf_dir):
    """G6-shape — rule-based edge removal: drop trade edges whose src is in
    region 0 and dst in region 1 (class-predicate cut + anti-join)."""
    edges = _trade_edges(spark, sf_dir)
    n = _read(spark, sf_dir, "nation")
    r0 = n.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").cast("int").alias("src"))
    r1 = n.filter(F.col("n_regionkey") == 1).select(
        F.col("n_nationkey").cast("int").alias("dst"))
    cut = (edges.join(F.broadcast(r0), "src", "left_semi")
           .join(F.broadcast(r1), "dst", "left_semi"))
    return edges.join(cut, ["src", "dst"], "left_anti").orderBy("src", "dst")


def _q_connected_components(spark, sf_dir):
    """G11 — connected components of a deterministic sparse subset of the
    (undirected) trade graph, so multiple components exist."""
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 11 == 0)
             .select(F.col("src").cast("string").alias("src"),
                     F.col("dst").cast("string").alias("dst")))
    return (connected_components(edges)
            .select(F.col("id").cast("int").alias("id"),
                    F.col("component").cast("int").alias("component"))
            .orderBy("id"))


def _q_assortativity(spark, sf_dir):
    """Newman degree assortativity of the undirected trade graph
    (operators/graphstats.degree_assortativity) — exact integer moment
    sums, engine-exact final correlation."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        degree_assortativity)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
    return (degree_assortativity(edges)
            .select("n_edges",
                    F.col("assortativity").cast("decimal(20,6)")
                     .cast("string").alias("assortativity")))


def _q_adamic_adar(spark, sf_dir):
    """Common-neighbor link prediction (operators/graphstats.adamic_adar)
    over the sparse undirected trade subgraph: Adamic-Adar scores as
    micro-BIGINTs (engine-exact sums) for non-adjacent pairs."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        adamic_adar)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
    return adamic_adar(edges).orderBy("u", "v")


def _q_scc(spark, sf_dir):
    """Strongly connected components (operators/scc.py — FW-BW coloring
    distributed / Tarjan small-path) over a deterministic sparse DIRECTED
    trade subgraph chosen to contain several non-trivial SCCs.  The oracle
    is mutual reachability via recursive CTE: component = min id mutually
    reachable (numeric ordering on both sides)."""
    from climatemind_ontology_processing_spark.operators.scc import (
        strongly_connected_components)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 13 == 0)
    return strongly_connected_components(edges).orderBy("id")


def _q_label_propagation(spark, sf_dir):
    """Fixed-round synchronous label-propagation communities
    (operators/graphstats.label_propagation, GraphX-LPA semantics: exactly
    N rounds, ties toward the smallest label) over the sparse undirected
    trade subgraph.  The oracle unrolls the 3 rounds as chained
    vote/argmax CTEs."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        label_propagation)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 13 == 0)
    return label_propagation(edges, rounds=3).orderBy("id")


def _lpa_sql(rounds: int = 3) -> str:
    parts = [f"""
        WITH base AS (
          SELECT src, dst FROM ({_TRADE_SQL}) WHERE (src * 31 + dst) % 13 = 0
        ),
        und AS (
          SELECT DISTINCT a, b FROM (
            SELECT src AS a, dst AS b FROM base
            UNION SELECT dst AS a, src AS b FROM base)
          WHERE a <> b
        ),
        l0 AS (SELECT DISTINCT a AS id, a AS lab FROM und)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
        v{r} AS (
          SELECT u.a AS id, l.lab, count(*) AS c
          FROM und u JOIN l{r-1} l ON l.id = u.b GROUP BY u.a, l.lab
        ),
        l{r} AS (
          SELECT id, lab FROM (
            SELECT id, lab, row_number() OVER (
              PARTITION BY id ORDER BY c DESC, lab ASC) AS rn
            FROM v{r}) t WHERE rn = 1
        )""")
    parts.append(f"""
        SELECT id, lab AS community FROM l{rounds} ORDER BY id""")
    return "".join(parts)


def _q_bpe_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/decontaminate.
    bpe_train, Sennrich 2016): one corpus pass to the word-freq table,
    then merge rounds over the vocabulary only.  Oracled since round 5 via
    ``_bpe_merges_sql``: the merge rounds unroll as chained CTEs over
    EXPLODED (word, pos, symbol) rows, with the greedy non-overlapping
    merge expressed through window-function islands instead of a fold —
    which sidesteps the DuckDB no-subquery-in-lambda limitation that
    blocked a direct transcription of the aggregate-fold (CLAUDE.md).
    The deeper semantics (the 'fresh'-flag fold, early stop, vocab caps)
    stay pinned by pytest parity vs a pure-Python Sennrich reference."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        bpe_train)
    docs = _read(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=6)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "step int, left string, right string").orderBy("step")


def _q_media_features(spark, sf_dir):
    """Multimodal decode + featurize (operators/multimodal.extract_features
    over ``mapInPandas`` Arrow batches): a deterministic media table — 8
    grayscale PNGs with closed-form pixels ``(x*7 + y*13 + k*31) % 256``
    and 4 16-bit PCM WAVs with closed-form samples ``((i*(k+3)) % 201 -
    100)/100`` — is REALLY encoded (package codecs), distributed over 4
    partitions, REALLY decoded, and featurized (8-bin byte histogram /
    8-window RMS energy).  Output is micro-BIGINT rows (media_id, kind,
    bin, v_micro).  The oracle is a PRECOMPUTED-LITERAL table derived from
    the closed-form content alone (no codec, no SQL re-implementation) —
    so a hash match certifies the full encode->Arrow->decode->feature
    path bit-exactly."""
    from climatemind_ontology_processing_spark.operators.multimodal import (
        FEATURES_SCHEMA, encode_png, encode_wav, extract_features)
    rows = []
    for k in range(8):
        w, h = 16 + k, 8 + k
        pix = bytes((x * 7 + y * 13 + k * 31) % 256
                    for y in range(h) for x in range(w))
        rows.append((f"img{k}", "image",
                     bytearray(encode_png(pix, w, h, channels=1))))
    for k in range(4):
        n = 256 + 32 * k
        samples = [((i * (k + 3)) % 201 - 100) / 100.0 for i in range(n)]
        rows.append((f"aud{k}", "audio", bytearray(encode_wav(samples))))
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary").repartition(4)
    feats = extract_features(media, fake=False)
    exploded = feats.select(
        "media_id", "kind",
        F.posexplode("feature").alias("bin", "_f"))
    return (exploded.select(
        "media_id", "kind", "bin",
        F.floor(F.col("_f") * 1e6 + 0.5).cast("long").alias("v_micro"))
        .orderBy("media_id", "bin"))


_MEDIA_FEATURES_LITERALS = """
('img0', 'image', 0, 70313), ('img0', 'image', 1, 164063),
('img0', 'image', 2, 242188), ('img0', 'image', 3, 257813),
('img0', 'image', 4, 171875), ('img0', 'image', 5, 85938),
('img0', 'image', 6, 7813), ('img0', 'image', 7, 0),
('img1', 'image', 0, 6536), ('img1', 'image', 1, 52288),
('img1', 'image', 2, 137255), ('img1', 'image', 3, 209150),
('img1', 'image', 4, 254902), ('img1', 'image', 5, 183007),
('img1', 'image', 6, 117647), ('img1', 'image', 7, 39216),
('img2', 'image', 0, 77778), ('img2', 'image', 1, 16667),
('img2', 'image', 2, 50000), ('img2', 'image', 3, 116667),
('img2', 'image', 4, 177778), ('img2', 'image', 5, 233333),
('img2', 'image', 6, 200000), ('img2', 'image', 7, 127778),
('img3', 'image', 0, 148325), ('img3', 'image', 1, 90909),
('img3', 'image', 2, 47847), ('img3', 'image', 3, 47847),
('img3', 'image', 4, 100478), ('img3', 'image', 5, 157895),
('img3', 'image', 6, 205742), ('img3', 'image', 7, 200957),
('img4', 'image', 0, 195833), ('img4', 'image', 1, 158333),
('img4', 'image', 2, 108333), ('img4', 'image', 3, 66667),
('img4', 'image', 4, 62500), ('img4', 'image', 5, 87500),
('img4', 'image', 6, 137500), ('img4', 'image', 7, 183333),
('img5', 'image', 0, 164835), ('img5', 'image', 1, 186813),
('img5', 'image', 2, 161172), ('img5', 'image', 3, 120879),
('img5', 'image', 4, 80586), ('img5', 'image', 5, 80586),
('img5', 'image', 6, 84249), ('img5', 'image', 7, 120879),
('img6', 'image', 0, 107143), ('img6', 'image', 1, 149351),
('img6', 'image', 2, 172078), ('img6', 'image', 3, 162338),
('img6', 'image', 4, 129870), ('img6', 'image', 5, 94156),
('img6', 'image', 6, 90909), ('img6', 'image', 7, 94156),
('img7', 'image', 0, 107246), ('img7', 'image', 1, 101449),
('img7', 'image', 2, 133333), ('img7', 'image', 3, 159420),
('img7', 'image', 4, 162319), ('img7', 'image', 5, 130435),
('img7', 'image', 6, 107246), ('img7', 'image', 7, 98551),
('aud0', 'audio', 0, 602412), ('aud0', 'audio', 1, 507267),
('aud0', 'audio', 2, 668255), ('aud0', 'audio', 3, 434657),
('aud0', 'audio', 4, 715899), ('aud0', 'audio', 5, 369773),
('aud0', 'audio', 6, 748827), ('aud0', 'audio', 7, 317388),
('aud1', 'audio', 0, 512482), ('aud1', 'audio', 1, 672416),
('aud1', 'audio', 2, 619825), ('aud1', 'audio', 3, 415506),
('aud1', 'audio', 4, 619825), ('aud1', 'audio', 5, 672416),
('aud1', 'audio', 6, 512482), ('aud1', 'audio', 7, 495518),
('aud2', 'audio', 0, 577680), ('aud2', 'audio', 1, 577764),
('aud2', 'audio', 2, 577586), ('aud2', 'audio', 3, 577582),
('aud2', 'audio', 4, 577750), ('aud2', 'audio', 5, 578093),
('aud2', 'audio', 6, 578173), ('aud2', 'audio', 7, 577990),
('aud3', 'audio', 0, 621202), ('aud3', 'audio', 1, 515841),
('aud3', 'audio', 2, 578605), ('aud3', 'audio', 3, 644007),
('aud3', 'audio', 4, 523827), ('aud3', 'audio', 5, 554084),
('aud3', 'audio', 6, 654633), ('aud3', 'audio', 7, 538117)
"""


def _bpe_merges_sql(rounds: int = 6) -> str:
    """Unrolled-round BPE-training oracle (same pattern as ``_lpa_sql``).

    Greedy left-to-right non-overlapping pair merging has a sequential
    look ("was the previous position just merged?"), but conflicts between
    adjacent candidate positions only exist inside runs of a==b candidates
    — so the greedy choice is exactly: group consecutive candidate
    positions into islands and keep the EVEN offsets within each island.
    That is window-function algebra, not a fold, so each round is plain
    SQL: pair-count argmax -> candidate positions -> island filter ->
    rebuild + renumber.  ``WHERE n >= 2`` in the argmax mirrors
    bpe_train's early stop (an empty best makes later rounds no-ops)."""
    parts = [r"""
        WITH words AS (
          SELECT w, count(*) AS freq FROM (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                      x -> x <> '')) AS w
            FROM documents) GROUP BY w
        ),
        e0 AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY w) AS w_id, freq,
                 unnest(range(1, length(w) + 2)) AS pos,
                 unnest(list_append(
                   list_transform(range(1, length(w) + 1),
                                  i -> substring(w, i, 1)),
                   '</w>')) AS sym
          FROM words
        )"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
        best{r} AS (
          SELECT l.sym AS a, rr.sym AS b
          FROM e{r-1} l JOIN e{r-1} rr
            ON rr.w_id = l.w_id AND rr.pos = l.pos + 1
          GROUP BY l.sym, rr.sym HAVING sum(l.freq) >= 2
          ORDER BY sum(l.freq) DESC, a ASC, b ASC LIMIT 1
        ),
        cand{r} AS (
          SELECT l.w_id, l.pos
          FROM e{r-1} l JOIN e{r-1} rr
            ON rr.w_id = l.w_id AND rr.pos = l.pos + 1
          JOIN best{r} bt ON l.sym = bt.a AND rr.sym = bt.b
        ),
        keep{r} AS (
          SELECT w_id, pos FROM (
            SELECT w_id, pos, isl,
                   min(pos) OVER (PARTITION BY w_id, isl) AS isl0
            FROM (SELECT w_id, pos,
                         pos - row_number() OVER (
                           PARTITION BY w_id ORDER BY pos) AS isl
                  FROM cand{r}) t1) t2
          WHERE (pos - isl0) % 2 = 0
        ),
        e{r} AS MATERIALIZED (
          SELECT w_id, freq,
                 row_number() OVER (PARTITION BY w_id ORDER BY pos) AS pos,
                 sym FROM (
            SELECT e.w_id, e.freq, e.pos,
                   CASE WHEN k.pos IS NOT NULL THEN bt.a || bt.b
                        ELSE e.sym END AS sym
            FROM e{r-1} e
            LEFT JOIN keep{r} k  ON k.w_id = e.w_id AND k.pos = e.pos
            LEFT JOIN keep{r} k2 ON k2.w_id = e.w_id AND k2.pos = e.pos - 1
            LEFT JOIN best{r} bt ON true
            WHERE k2.pos IS NULL) m
        )""")
    steps = "\n            UNION ALL ".join(
        f'SELECT {r - 1} AS step, a AS "left", b AS "right" FROM best{r}'
        for r in range(1, rounds + 1))
    parts.append(f"""
        SELECT step, "left", "right" FROM (
            {steps}) ORDER BY step""")
    return "".join(parts)


def _q_kg_diff(spark, sf_dir):
    """KG snapshot diff — the maintenance view between two crawl epochs:
    (subj, obj, change) with change in {'added', 'removed'} for the edge
    sets of two deterministic trade-graph slices.  Two anti-joins, fully
    declarative; the 'unchanged' majority never leaves the scan."""
    trade = _trade_edges(spark, sf_dir).withColumn(
        "_m", (F.col("src") * 31 + F.col("dst")) % 7)
    old = trade.filter(F.col("_m").isin(0, 1)).select("src", "dst")
    new = trade.filter(F.col("_m").isin(1, 2)).select("src", "dst")
    added = (new.join(old, ["src", "dst"], "left_anti")
             .withColumn("change", F.lit("added")))
    removed = (old.join(new, ["src", "dst"], "left_anti")
               .withColumn("change", F.lit("removed")))
    return (added.unionByName(removed)
            .select(F.col("src").alias("subj"), F.col("dst").alias("obj"),
                    "change")
            .orderBy("subj", "obj", "change"))


def _q_dsir_scores(spark, sf_dir):
    """DSIR data selection (operators/dsir.py — Xie et al. 2023): rank raw
    documents by hashed-unigram+bigram importance log-weight against the
    src1-3 target slice; top 50 by (score desc, doc_id).  alpha=1/2
    rational smoothing keeps every probability a ratio of BIGINTs, the
    per-bucket log-ratio is micro-BIGINT rounded, and all doc-level sums
    are integer arithmetic — engine-exact; md5_60 buckets so the oracle
    replays the feature map."""
    from climatemind_ontology_processing_spark.operators.dsir import (
        dsir_select)
    docs = _read(spark, sf_dir, "documents")
    tgt = docs.filter(F.col("source").isin("src1", "src2", "src3"))
    raw = docs.filter(~F.col("source").isin("src1", "src2", "src3"))
    return (dsir_select(raw, tgt, 50, buckets=512, hash_family="md5_60")
            .withColumnRenamed("id", "doc_id"))


def _q_rake_keyphrases(spark, sf_dir):
    """RAKE keyphrase mining (operators/keyphrases.rake_keyphrases, Rose
    et al. 2010) over documents with stopwords {the, a}: windowed
    gaps-and-islands phrase segmentation, micro-BIGINT degree/frequency
    word scores, top 50 by (score desc, phrase asc).  Fully SQL-replayed
    by the oracle (string_agg ORDER BY pos rebuilds phrases)."""
    from climatemind_ontology_processing_spark.operators.keyphrases import (
        rake_keyphrases)
    docs = _read(spark, sf_dir, "documents")
    return rake_keyphrases(docs, ("the", "a"), top_k=50)


def _q_jsonld_facts(spark, sf_dir):
    """JSON-LD structured-data extraction (operators/structured.
    jsonld_facts — the schema.org markup miner, the web's
    highest-precision triple source) over a deterministic markup-bearing
    corpus from the part table: two ld+json blocks per page (a Product
    with name/brand, then a Brand without one).  Regex + get_json_object,
    all JVM; the oracle rebuilds the same pages and extracts with
    DuckDB's JSON functions — the hash match certifies regex AND json
    semantics across engines."""
    from climatemind_ontology_processing_spark.operators.structured import (
        jsonld_facts)
    p = _read(spark, sf_dir, "part")
    html = F.concat(
        F.lit('<html><body><script type="application/ld+json">'
              '{"@type":"Product","name":"'), F.col("p_name"),
        F.lit('","brand":"'), F.col("p_brand"),
        F.lit('"}</script><p>filler</p>'
              '<script type="application/ld+json">'
              '{"@type":"Brand","name":"'),
        F.lower(F.col("p_brand")), F.lit('"}</script></body></html>'))
    pages = p.select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string"))
        .alias("url"), html.alias("html"))
    return (jsonld_facts(pages, ("@type", "name", "brand"))
            .orderBy("url", "block_idx", "field"))


def _q_table_facts(spark, sf_dir):
    """HTML data-table mining (operators/structured.html_table_facts):
    header-paired cell facts from a deterministic table-bearing corpus —
    one 2-column table (name/size header + one data row) per part page,
    plus a headerless ragged second table exercising the col<i>
    fallback.  All three regexes are lookaround-free and lazy so the
    DuckDB oracle replays them under RE2 — Java≡RE2 certified on the
    match set, tag-strip + whitespace-collapse included."""
    from climatemind_ontology_processing_spark.operators.structured import (
        html_table_facts)
    p = _read(spark, sf_dir, "part")
    html = F.concat(
        F.lit("<html><body><table><tr><th>Name</th><th> Size </th></tr>"
              "<tr><td><b>"), F.col("p_name"),
        F.lit("</b></td><td>"), F.col("p_size").cast("string"),
        F.lit("</td></tr></table><p>filler</p>"
              "<table><tr><td>"), F.col("p_brand"),
        F.lit("</td><td>"), F.col("p_type"),
        F.lit("</td></tr><tr><td>x</td></tr></table></body></html>"))
    pages = p.select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string"))
        .alias("url"), html.alias("html"))
    return (html_table_facts(pages)
            .orderBy("url", "table_idx", "row_idx", "col_idx"))


def _q_burst_scores(spark, sf_dir):
    """Hourly burst detection per event type (operators/temporal.
    burst_scores): count vs trailing-24h RANGE-frame baseline as an
    integer micro ratio.  ratio is stringified on BOTH sides — it is
    NULL when no baseline exists, and a nullable BIGINT would come back
    from pandas as float NaN (CLAUDE.md)."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        burst_scores)
    ev = _read(spark, sf_dir, "events")
    epoch_s = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)         .cast("long")
    df = ev.select("event_type", epoch_s.alias("ts_s"))
    return (burst_scores(df, ts_col="ts_s", key_cols=("event_type",),
                         bucket=3600, trailing=24)
            .select("event_type", "bucket_idx", "n", "trailing_n",
                    F.col("ratio_micro").cast("string").alias("ratio_micro"))
            .orderBy("event_type", "bucket_idx"))


def _q_temporal_reach(spark, sf_dir):
    """Time-respecting reachability over the MONTHLY temporal trade graph
    (operators/paths.earliest_arrival): edges (c_nation → s_nation) fire
    in their order's month index, seeds are region-0 nations at t=0, and
    arrival(v) = min final-edge month over non-decreasing-timestamp
    paths — the temporal-BFS semantics a static BFS gets WRONG (an edge
    firing before you arrive cannot carry you).  Oracle enumerates
    (node, arrival) states in one recursive CTE with the same t >= arr
    gate."""
    from climatemind_ontology_processing_spark.operators.paths import (
        earliest_arrival)
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    month_idx = ((F.year("o_orderdate") - 1995) * 12
                 + F.month("o_orderdate") - 1).cast("long")
    edges = (o.join(c, o.o_custkey == c.c_custkey)
             .join(li, li.l_orderkey == o.o_orderkey)
             .join(s, li.l_suppkey == s.s_suppkey)
             .select(c.c_nationkey.cast("int").alias("src"),
                     s.s_nationkey.cast("int").alias("dst"),
                     month_idx.alias("t"))
             .filter((F.col("src") != F.col("dst"))
                     & ((F.col("src") * 31 + F.col("dst")) % 7 == 0))
             .distinct())
    seeds = (_read(spark, sf_dir, "nation")
             .filter(F.col("n_regionkey") == 0)
             .select(F.col("n_nationkey").cast("int").alias("id"))
             .distinct())
    return (earliest_arrival(edges, seeds, ts="t", start=0)
            .orderBy("id"))


def _q_price_quantiles(spark, sf_dir):
    """Exact distributed quantiles of lineitem extended price in cents
    (operators/quantiles.exact_quantiles): value census + SNM-style
    two-phase cumulative rank (no global-sort window), type-1 selection
    at integer-micro targets.  Cents via floor(price*100) — the IEEE
    product is identical across engines."""
    from climatemind_ontology_processing_spark.operators.quantiles import (
        exact_quantiles)
    li = _read(spark, sf_dir, "lineitem")
    cents = li.select(F.floor(F.col("l_extendedprice") * 100)
                      .cast("long").alias("cents"))
    return (exact_quantiles(cents, "cents",
                            (0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0))
            .orderBy("q_micro"))


def _q_funnel(spark, sf_dir):
    """Per-user view→click→purchase funnel under earliest-completion
    semantics (operators/temporal.funnel_steps): step i = min event time
    of its type strictly after step i-1.  Oracle chains the same greedy
    min-joins."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        funnel_steps)
    ev = _read(spark, sf_dir, "events")
    df = ev.select("user_id", "event_type",
                   F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                           / 1e6).cast("long").alias("ts_s"))
    return (funnel_steps(df, ("view", "click", "purchase"),
                         ts_col="ts_s")
            .orderBy("user_id"))


def _q_event_transitions(spark, sf_dir):
    """First-order Markov transition census over per-user event
    sequences (operators/temporal.event_transitions), event_id as the
    equal-timestamp tiebreak; probabilities as truncating micro ints."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        event_transitions)
    ev = _read(spark, sf_dir, "events")
    df = ev.select("user_id", "event_id", "event_type",
                   F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("ts_us"))
    return (event_transitions(df, ts_col="ts_us",
                              tiebreak_col="event_id")
            .orderBy("prev_type", "next_type"))


def _q_fingerprint_clusters(spark, sf_dir):
    """Key-collision canonicalization (operators/canonicalize.
    fingerprint_clusters, the OpenRefine fingerprint): part names plus a
    deterministic word-reversed UPPERCASED twin of every part must pair
    up cluster-by-cluster — token sort + dedup + punctuation fold is the
    whole normalizer, all JVM expression."""
    from climatemind_ontology_processing_spark.operators.canonicalize import (
        fingerprint_clusters)
    p = _read(spark, sf_dir, "part")
    orig = p.select(F.col("p_partkey").cast("long").alias("id"),
                    F.col("p_name").alias("name"))
    twin = p.select((F.col("p_partkey") + 10_000_000).cast("long")
                    .alias("id"),
                    F.upper(F.array_join(
                        F.reverse(F.split("p_name", " ")), " "))
                    .alias("name"))
    return (fingerprint_clusters(orig.unionByName(twin), "name")
            .orderBy("fp", "id"))


def _q_web_kg(spark, sf_dir):
    """Integrated multi-extractor KG construction: one synthetic page per
    part carries BOTH a JSON-LD Product block and an HTML spec table
    whose name cell deliberately disagrees (uppercased) on every third
    part.  The composition runs operators/structured.jsonld_facts AND
    html_table_facts over the SAME pages, unions the evidence with
    provenance, and resolves per (subj, pred) by source priority
    (jsonld < table lexicographically — min_by, structured markup wins),
    reporting the surviving object, evidence count, and a conflict flag.
    This is the end-to-end shape of the engine: extract → union with
    provenance → resolve → publish."""
    from climatemind_ontology_processing_spark.operators.structured import (
        html_table_facts, jsonld_facts)
    p = _read(spark, sf_dir, "part")
    table_name = F.when(F.col("p_partkey") % 3 == 0,
                        F.upper(F.col("p_name"))).otherwise(F.col("p_name"))
    html = F.concat(
        F.lit('<html><body><script type="application/ld+json">'
              '{"@type":"Product","name":"'), F.col("p_name"),
        F.lit('","brand":"'), F.col("p_brand"),
        F.lit('"}</script>'
              "<table><tr><th>name</th><th>size</th></tr><tr><td>"),
        table_name,
        F.lit("</td><td>"), F.col("p_size").cast("string"),
        F.lit("</td></tr></table></body></html>"))
    pages = (p.select(F.concat(F.lit("p:"),
                               F.col("p_partkey").cast("string"))
                      .alias("url"), html.alias("html"))
             .localCheckpoint(eager=True))
    jl = (jsonld_facts(pages, ("name", "brand"))
          .select(F.col("url").alias("subj"),
                  F.col("field").alias("pred"),
                  F.col("value").alias("obj"),
                  F.lit("jsonld").alias("source")))
    tb = (html_table_facts(pages)
          .select(F.col("url").alias("subj"),
                  F.col("header").alias("pred"),
                  F.col("cell").alias("obj"),
                  F.lit("table").alias("source")))
    ev = jl.unionByName(tb)
    return (ev.groupBy("subj", "pred")
            .agg(F.min_by("obj", F.struct(F.col("source"), F.col("obj")))
                 .alias("obj"),
                 F.count("*").alias("n_evidence"),
                 (F.countDistinct("obj") > 1).cast("int").alias("conflict"))
            .orderBy("subj", "pred"))


def _q_skew_report(spark, sf_dir):
    """Pre-shuffle skew diagnostic over document sources (operators/skew.
    skew_report): keys above 1% of rows with the ceil(n/target) salt
    factor ``with_salt`` would need — the report a pipeline runs before
    keying a big join on a suspect column."""
    from climatemind_ontology_processing_spark.operators.skew import (
        skew_report)
    docs = _read(spark, sf_dir, "documents")
    return (skew_report(docs, "source", share_threshold_micro=10_000,
                        target_rows_per_task=500)
            .orderBy("key"))


def _q_partition_stats(spark, sf_dir):
    """Partition-quality report (operators/mst.partition_stats) for the
    nation→region mapping over the sparse undirected trade graph:
    edge-cut share and balance factor in integer micros — the acceptance
    gate before committing a bucketing/partitioning decision."""
    from climatemind_ontology_processing_spark.operators.mst import (
        partition_stats)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0))
    mapping = (_read(spark, sf_dir, "nation")
               .select(F.col("n_nationkey").cast("int").alias("id"),
                       F.col("n_regionkey").cast("int").alias("rep")))
    return partition_stats(edges, mapping)


def _q_decayed_counts(spark, sf_dir):
    """Half-life-decayed per-type activity counters (operators/temporal.
    decayed_counts): integer shift decay — n DIV 2^elapsed — summed per
    hourly bucket, horizon 12.  The floatless freshness-weighting
    primitive; engine-exact by construction."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        decayed_counts)
    ev = _read(spark, sf_dir, "events")
    df = ev.select("event_type",
                   F.floor(F.unix_micros(F.col("ts").cast("timestamp"))
                           / 1e6).cast("long").alias("ts_s"))
    return (decayed_counts(df, ("event_type",), ts_col="ts_s",
                           bucket=3600, horizon=12)
            .orderBy("event_type", "bucket_idx"))


def _q_acronym_pairs(spark, sf_dir):
    """Validated acronym-expansion mining (operators/hearst.
    acronym_pairs, the Schwartz-Hearst shape): a synthetic corpus plants
    'research at the <Capitalized Part Name> (<initials>) continues' per
    part, and the miner must recover exactly the planted (acronym,
    expansion) dictionary — a planted-facts oracle (web_kg precedent)."""
    from climatemind_ontology_processing_spark.operators.hearst import (
        acronym_pairs)
    p = _read(spark, sf_dir, "part")
    w = F.transform(F.split("p_name", " "),
                    lambda x: F.concat(F.upper(F.substring(x, 1, 1)),
                                       F.substring(x, 2, 100)))
    exp = F.array_join(w, " ")
    acr = F.upper(F.concat_ws(
        "", F.transform(w, lambda x: F.substring(x, 1, 1))))
    docs = p.select(F.col("p_partkey").alias("doc_id"),
                    F.concat(F.lit("research at the "), exp, F.lit(" ("),
                             acr, F.lit(") continues")).alias("text"))
    return acronym_pairs(docs).orderBy("acronym", "expansion")


def _q_readability(spark, sf_dir):
    """Integer-micro Flesch reading ease over documents (operators/
    textstats.readability): vowel-group syllables, [.!?]-run sentences,
    both engine-exact BIGINT divisions."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        readability)
    docs = _read(spark, sf_dir, "documents")
    return (readability(docs)
            .select("doc_id", "n_words", "n_sentences", "n_syllables",
                    F.col("fre_micro").cast("string").alias("fre_micro"))
            .orderBy("doc_id"))


def _q_crawl_permissions(spark, sf_dir):
    """RFC 9309 robots compliance at join scale (operators/robots):
    per-region robots bodies are PARSED by robots_rules (grouping,
    comments, case, multi-agent — parser pinned in pytest), then every
    nation URL is evaluated under longest-match/allow-ties semantics.
    The oracle replays the evaluation against the planted rule set —
    including the '/private/n13' startswith '/private/n1' prefix
    subtlety."""
    from climatemind_ontology_processing_spark.operators.robots import (
        crawl_permissions, robots_rules)
    rg = _read(spark, sf_dir, "region")
    n = _read(spark, sf_dir, "nation")
    host = F.concat(F.lit("r"), F.col("r_regionkey").cast("string"),
                    F.lit(".com"))
    body = F.concat(
        F.lit("# synthetic\nUser-agent: *\nDisallow: /private/\n"
              "Allow: /private/n"),
        F.col("r_regionkey").cast("string"), F.lit("\n"))
    robots = rg.select(host.alias("host"), body.alias("body"))
    rules = robots_rules(robots)
    base = F.concat(F.lit("http://r"), F.col("n_regionkey").cast("string"),
                    F.lit(".com"))
    urls = (n.select(F.concat(base, F.lit("/private/n"),
                              F.col("n_nationkey").cast("string"))
                     .alias("url"))
            .unionByName(
                n.select(F.concat(base, F.lit("/pub/n"),
                                  F.col("n_nationkey").cast("string"))
                         .alias("url"))))
    return crawl_permissions(urls, rules, agent="*").orderBy("url")


def _q_sitemap_entries(spark, sf_dir):
    """Sitemap XML frontier extraction (operators/robots.
    sitemap_entries): one synthesized per-region sitemap with an entry
    per nation — loc + optional lastmod (every third entry omits it).
    nullable lastmod stays VARCHAR so the hash is NaN-safe."""
    from climatemind_ontology_processing_spark.operators.robots import (
        sitemap_entries)
    n = _read(spark, sf_dir, "nation")
    entry = F.concat(
        F.lit("<url><loc>http://r"), F.col("n_regionkey").cast("string"),
        F.lit(".com/n"), F.col("n_nationkey").cast("string"),
        F.lit("</loc>"),
        F.when(F.col("n_nationkey") % 3 != 0,
               F.concat(F.lit("<lastmod>2024-01-"),
                        F.lpad((F.col("n_nationkey") % 28 + 1)
                               .cast("string"), 2, "0"),
                        F.lit("</lastmod>"))).otherwise(F.lit("")),
        F.lit("</url>"))
    sm = (n.select(F.col("n_regionkey").alias("rk"),
                   F.col("n_nationkey").alias("nk"), entry.alias("e"))
          .groupBy("rk")
          .agg(F.array_join(
              F.transform(F.array_sort(F.collect_list(
                  F.struct(F.col("nk"), F.col("e")))),
                  lambda s: s.getField("e")), "").alias("body"))
          .select(F.concat(F.lit("r"), F.col("rk").cast("string"),
                           F.lit(".com")).alias("host"),
                  F.concat(F.lit("<urlset>"), F.col("body"),
                           F.lit("</urlset>")).alias("body")))
    return sitemap_entries(sm).orderBy("host", "entry_idx")


def _q_table_profile(spark, sf_dir):
    """One-pass per-column statistics of the orders table (operators/
    profile.profile_table): null rates, distinct counts, stringified
    extrema — the ANALYZE TABLE melt, one aggregate for all columns.
    Timestamp extrema stringify differently across engines, so the
    profile covers the five non-timestamp columns."""
    from climatemind_ontology_processing_spark.operators.profile import (
        profile_table)
    o = _read(spark, sf_dir, "orders")
    cols = ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    return (profile_table(o.select(*cols)).orderBy("column"))


def _q_k_anonymity(spark, sf_dir):
    """k-anonymity census over quasi-identifiers (operators/profile.
    k_anonymity_violations): customer (nation, mktsegment-ish bucket)
    groups below k=5 — the re-identification risk list."""
    from climatemind_ontology_processing_spark.operators.profile import (
        k_anonymity_violations)
    c = _read(spark, sf_dir, "customer")
    qi = c.select(F.col("c_nationkey").cast("int").alias("nation"),
                  F.floor(F.col("c_acctbal") / 1000).cast("int")
                  .alias("bal_kb"))
    return (k_anonymity_violations(qi, ("nation", "bal_kb"), k=5)
            .orderBy("nation", "bal_kb"))


def _q_quote_attributions(spark, sf_dir):
    """Quote-attribution mining (operators/hearst.quote_attributions):
    each part page plants one quote in each canonical order — 'Name
    said: "..."' and '"...," said Name' — with the capitalized part
    name as speaker; the miner must recover the planted dictionary with
    n_matches 2 / n_docs 1 per part page (planted-facts oracle)."""
    from climatemind_ontology_processing_spark.operators.hearst import (
        quote_attributions)
    p = _read(spark, sf_dir, "part")
    w = F.transform(F.split("p_name", " "),
                    lambda x: F.concat(F.upper(F.substring(x, 1, 1)),
                                       F.substring(x, 2, 100)))
    speaker = F.array_join(w, " ")
    quote = F.concat(F.lit("the "), F.col("p_type"),
                     F.lit(" line is ready"))
    text = F.concat(speaker, F.lit(' said: "'), quote, F.lit('" and "'),
                    quote, F.lit('," said '), speaker, F.lit(" today"))
    docs = p.select(F.col("p_partkey").alias("doc_id"),
                    text.alias("text"))
    return (quote_attributions(docs)
            .orderBy("speaker", "quote"))


def _q_zorder_keys(spark, sf_dir):
    """Z-order layout keys (functions/zorder.zorder_key): Morton
    interleave of (nationkey, shifted integer account balance) at 16
    bits — the multi-dimensional clustering key you'd
    repartitionByRange on before the big parquet write so predicates on
    EITHER dimension skip files.  Pure unrolled JVM bit algebra; the
    oracle replays it with (x >> i) & 1."""
    from climatemind_ontology_processing_spark.functions.zorder import (
        zorder_key)
    c = _read(spark, sf_dir, "customer")
    bal = F.floor(F.col("c_acctbal") + 1000).cast("long")
    z = zorder_key([F.col("c_nationkey").cast("long"), bal], bits=16)
    return (c.select(F.col("c_custkey").cast("int").alias("c_custkey"),
                     z.alias("zkey"))
            .orderBy("c_custkey"))


def _q_chunk_passages(spark, sf_dir):
    """Passage chunking (operators/chunks.chunk_passages): 32-token
    windows, stride 16 — the RAG/embedding prep stage.  Pure flatMap
    (tokenize → sequence → slice → join), zero shuffles; integer
    ceil-division chunk counts are engine-exact, and the oracle replays
    the slicing with list_slice."""
    from climatemind_ontology_processing_spark.operators.chunks import (
        chunk_passages)
    docs = _read(spark, sf_dir, "documents")
    return (chunk_passages(docs, chunk_tokens=32, stride=16)
            .orderBy("doc_id", "chunk_id"))


def _q_snm_pairs(spark, sf_dir):
    """Sorted-neighborhood ER blocking (operators/blocking.snm_pairs —
    Hernandez & Stolfo 1995) over customers keyed by account balance,
    window 5: the two-phase distributed global rank (order-preserving
    floor(bal/500) buckets + packing-style offsets) and the rank-block
    equi-join — no global-sort window anywhere.  The oracle IS the
    textbook sequential formulation (one row_number over the full order
    + a rank-distance join), so the hash match proves the distributed
    decomposition exact, boundary pairs included."""
    from climatemind_ontology_processing_spark.operators.blocking import (
        snm_pairs)
    c = _read(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    return (snm_pairs(c, "c_acctbal", "c_custkey",
                      bucket_expr=F.floor(F.col("c_acctbal") / 500),
                      window=5)
            .select(F.col("a_id").cast("int").alias("a_id"),
                    F.col("b_id").cast("int").alias("b_id"), "rank_gap")
            .orderBy("a_id", "b_id"))


def _q_current_facts(spark, sf_dir):
    """Latest-assertion-wins fact resolution (operators/temporal.
    current_facts): events as a timestamped claim stream (subj=user,
    pred=event_type, obj=props, tie=event_id) → the current-fact view
    plus the conflict census (n_versions / n_values).  ONE groupBy via
    the min_by negated-numeric-keys trick — no window, no sort, holds
    when one hot entity has 10^6 observations.  valid_from is compared
    as epoch micros (CLAUDE.md timestamp-hash convention)."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        current_facts)
    ev = _read(spark, sf_dir, "events")
    claims = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("subj"),
        F.col("event_type").alias("pred"),
        F.col("props").alias("obj"), "ts",
        F.col("event_id").alias("w"))
    return (current_facts(claims, tie_col="w")
            .select("subj", "pred", "obj",
                    F.unix_micros(F.col("valid_from").cast("timestamp"))
                    .alias("valid_from_us"),
                    "n_versions", "n_values")
            .orderBy("subj", "pred"))


def _q_quality_lr(spark, sf_dir):
    """Linear quality-classifier scoring (operators/classifier.
    linear_quality_scores — the CCNet/DCLM fastText-filter shape):
    hashed unigram+bigram features (DSIR feature map, 512 buckets,
    md5_60) dotted with deterministic integer hash weights, BIGINT
    logit, integer keep flag.  Every doc appears (token-free docs score
    0).  Production swaps the hash weights for a trained broadcast
    weight table with an identical plan."""
    from climatemind_ontology_processing_spark.operators.classifier import (
        linear_quality_scores)
    docs = _read(spark, sf_dir, "documents")
    return (linear_quality_scores(docs, buckets=512, hash_family="md5_60")
            .withColumnRenamed("id", "doc_id")
            .orderBy("doc_id"))


def _q_landmark_distances(spark, sf_dir):
    """Landmark distance index (operators/paths.landmark_distances —
    Potamias et al. 2009): exact hop distances from every trade-graph node
    to the 3 highest-degree landmarks (deterministic degree-desc/id-asc
    pick), all landmark relaxations running concurrently in ONE
    (landmark, id)-keyed min-plus loop.  The stored index answers arbitrary
    point-to-point distance queries with one join (landmark_estimate) —
    the 100 TB substitute for per-query BFS.  Oracle unrolls the
    relaxation rounds."""
    from climatemind_ontology_processing_spark.operators.paths import (
        landmark_distances)
    edges = _trade_edges(spark, sf_dir)
    return (landmark_distances(edges, num_landmarks=3)
            .orderBy("landmark", "id"))


def _q_simrank(spark, sf_dir):
    """SimRank structural similarity (operators/simrank.simrank, Jeh &
    Widom 2002) over the trade graph, 3 rounds, C=4/5, micro-BIGINT
    per-pair truncation — the in-neighborhood entity-resolution signal.
    The oracle unrolls the 3 pair-join rounds; the trade graph's 25
    nodes keep exact pair state tiny (the operator's max_edges guard
    documents the |E|^2 envelope)."""
    from climatemind_ontology_processing_spark.operators.simrank import (
        simrank)
    edges = _trade_edges(spark, sf_dir)
    return (simrank(edges, rounds=3)
            .select(F.col("a").cast("int").alias("a"),
                    F.col("b").cast("int").alias("b"), "s_micro")
            .orderBy("a", "b"))


def _simrank_sql(rounds: int = 3, cn: int = 4, cd: int = 5) -> str:
    """DuckDB twin of _q_simrank: unrolled pair-join rounds, truncating
    // on nonnegative BIGINTs == Spark DIV."""
    ctes = [f"""
        e AS MATERIALIZED (
          SELECT src, dst FROM ({_TRADE_SQL.strip()})),
        nodes AS (SELECT DISTINCT id FROM (
          SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        indeg AS (SELECT dst AS id, count(*)::BIGINT AS d
                  FROM e GROUP BY dst),
        s0 AS (SELECT id AS a, id AS b, 1000000::BIGINT AS s FROM nodes)"""]
    for k in range(1, rounds + 1):
        ctes.append(f"""
        sum{k} AS MATERIALIZED (
          SELECT ex.dst AS a, ey.dst AS b, sum(p.s)::BIGINT AS t
          FROM s{k - 1} p
          JOIN e ex ON ex.src = p.a
          JOIN e ey ON ey.src = p.b
          GROUP BY ex.dst, ey.dst),
        s{k} AS MATERIALIZED (
          SELECT a, b, s FROM (
            SELECT m.a, m.b,
                   (({cn} * m.t) // ({cd} * ia.d * ib.d))::BIGINT AS s
            FROM sum{k} m
            JOIN indeg ia ON ia.id = m.a
            JOIN indeg ib ON ib.id = m.b
            WHERE m.a <> m.b)
          WHERE s > 0
          UNION ALL SELECT a, b, s FROM s0)""")
    return ("WITH " + ",".join(ctes) + f"""
        SELECT a::INT AS a, b::INT AS b, s AS s_micro FROM s{rounds}
        WHERE a <> b ORDER BY a, b""")


def _q_katz_centrality(spark, sf_dir):
    """Katz centrality (operators/pagerank.katz_centrality, Katz 1953)
    over the trade graph: exact BIGINT walk counts per length (4 rounds,
    alpha=1/4), each term micro-BIGINT truncated independently so the
    score is order-independent and engine-exact.  The oracle unrolls the
    4 power-iteration rounds as CTEs."""
    from climatemind_ontology_processing_spark.operators.pagerank import (
        katz_centrality)
    edges = _trade_edges(spark, sf_dir)
    return (katz_centrality(edges, rounds=4, atten_denom=4)
            .select(F.col("id").cast("int").alias("id"), "katz_micro")
            .orderBy("id"))


def _katz_sql(rounds: int = 4, a: int = 4) -> str:
    """DuckDB twin of _q_katz_centrality: w_k CTEs unrolled, per-term
    truncating division (// on nonnegative BIGINTs == Spark DIV)."""
    ws = []
    for k in range(1, rounds + 1):
        prev = "w0" if k == 1 else f"w{k - 1}"
        ws.append(f"""w{k} AS MATERIALIZED (
              SELECT e.dst AS id, sum(p.w)::BIGINT AS w
              FROM e JOIN {prev} p ON p.id = e.src GROUP BY e.dst)""")
    terms = " + ".join(
        f"coalesce((w{k}.w * 1000000) // {a ** k}, 0)"
        for k in range(1, rounds + 1))
    joins = "\n            ".join(
        f"LEFT JOIN w{k} ON w{k}.id = n.id" for k in range(1, rounds + 1))
    return f"""
        WITH e AS MATERIALIZED ({_TRADE_SQL}),
        nodes AS (SELECT DISTINCT id FROM (
          SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        w0 AS (SELECT id, 1::BIGINT AS w FROM nodes),
        {", ".join(ws)}
        SELECT n.id::INT AS id, ({terms})::BIGINT AS katz_micro
        FROM nodes n
            {joins}
        ORDER BY n.id
    """


def _tpch_kg_triples(spark, sf_dir):
    """Multi-predicate KG derived from the TPC-H tables — the rule-mining
    substrate: in_nation (customers+suppliers), in_region (nations),
    located_in (customer->region ground truth), buys_from (distinct
    customer->supplier trade)."""
    c = _read(spark, sf_dir, "customer")
    s = _read(spark, sf_dir, "supplier")
    n = _read(spark, sf_dir, "nation")
    o = _read(spark, sf_dir, "orders")
    l = _read(spark, sf_dir, "lineitem")

    def ent(tag, col):
        return F.concat(F.lit(tag), F.col(col).cast("string"))

    cn = c.select(ent("c:", "c_custkey").alias("subj"),
                  F.lit("in_nation").alias("pred"),
                  ent("n:", "c_nationkey").alias("obj"))
    sn = s.select(ent("s:", "s_suppkey").alias("subj"),
                  F.lit("in_nation").alias("pred"),
                  ent("n:", "s_nationkey").alias("obj"))
    nr = n.select(ent("n:", "n_nationkey").alias("subj"),
                  F.lit("in_region").alias("pred"),
                  ent("r:", "n_regionkey").alias("obj"))
    cr = (c.join(n, c.c_nationkey == n.n_nationkey)
          .select(ent("c:", "c_custkey").alias("subj"),
                  F.lit("located_in").alias("pred"),
                  ent("r:", "n_regionkey").alias("obj")))
    # distinct on the INT key pair before stringification: the shuffle
    # carries 2 longs instead of 2 strings and the concat runs once per
    # distinct pair, not per lineitem row ('c:'||k is injective, so the
    # pair set is identical — guide §2.3 narrower types)
    # shuffle_hash on the (orders x customer) side — same build-side flip
    # as _trade_edges (the broadcast of the bigger lineitem projection
    # builds single-threaded per query)
    oc = (o.join(c, o.o_custkey == c.c_custkey)
          .select("o_orderkey", F.col("c_custkey").alias("_ck0")))
    bf = (l.join(oc.hint("shuffle_hash"), l.l_orderkey == F.col("o_orderkey"))
          .join(s, l.l_suppkey == s.s_suppkey)
          .select(F.col("_ck0").alias("_ck"), s.s_suppkey.alias("_sk"))
          .distinct()
          .select(ent("c:", "_ck").alias("subj"),
                  F.lit("buys_from").alias("pred"),
                  ent("s:", "_sk").alias("obj")))
    return cn.unionByName(sn).unionByName(nr).unionByName(cr).unionByName(bf)


def _q_sampled_betweenness(spark, sf_dir):
    """Sampled Brandes betweenness (operators/betweenness.py — Brandes
    2001 / Brandes & Pich 2007) over the trade graph, 4 md5-ordered
    deterministic sources: concurrent forward BFS with exact BIGINT path
    counts, level-descending micro-BIGINT dependency accumulation.  The
    oracle unrolls both phases with the identical per-term truncation, so
    the scores hash-match exactly."""
    from climatemind_ontology_processing_spark.operators.betweenness import (
        sampled_betweenness)
    edges = _trade_edges(spark, sf_dir)
    return sampled_betweenness(edges, num_sources=4).orderBy("id")


def _q_rule_mining(spark, sf_dir):
    """AMIE-style 2-chain horn rules (operators/rules.mine_chain_rules,
    Galarraga et al. 2013) over the TPC-H KG: one z-keyed self-join,
    distinct (x, y) witnesses, head join, integer micro confidence
    (support*1e6 DIV n_body — truncating division, identical in both
    engines).  The planted ground truth in_nation o in_region =>
    located_in surfaces at conf 937500 = 1500/1600 (suppliers contribute
    body chains but no located_in heads — textbook CWA confidence
    dilution).  Registered with max_fanout=None
    (guard OFF, exact all-pairs semantics — the hub cap is pinned by
    pytest, same split as minhash_lsh_pairs)."""
    from climatemind_ontology_processing_spark.operators.rules import (
        mine_chain_rules)
    trip = _tpch_kg_triples(spark, sf_dir)
    # assume_distinct: the KG is a union of per-predicate arms with
    # disjoint predicates (each arm distinct by PK or explicit dedup), so
    # the head-side dedup exchange is provably a no-op
    return (mine_chain_rules(trip, min_support=5, max_fanout=None,
                             assume_distinct=True)
            .orderBy("p", "q", "head"))


def _q_temperature_mix(spark, sf_dir):
    """Temperature-flattened training mix (operators/sampling.
    temperature_mix, alpha=0.5): per-language quotas apportion exactly
    total_k=120 by largest-remainder over sqrt-flattened counts (sqrt is
    IEEE correctly-rounded, so the micro-BIGINT weights are engine-exact);
    rows rank by the md5_60 sample bucket DuckDB replays."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        temperature_mix)
    docs = _read(spark, sf_dir, "documents")
    return (temperature_mix(docs, "lang", total_k=120, key="doc_id",
                            alpha=0.5, seed=7, hash_family="md5_60")
            .select("doc_id", "lang").orderBy("doc_id"))


def _q_k_truss(spark, sf_dir):
    """k-truss edge set (operators/graphstats.k_truss, k=4): iterative
    under-supported-edge peeling to fixpoint.  The oracle unrolls 6 peel
    rounds — past the fixpoint further rounds are no-ops, so unroll depth
    only needs to COVER the real round count (verified at both SFs)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        k_truss)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 3 == 0)
    return (k_truss(edges, k=4)
            .select(F.col("lo").cast("int").alias("lo"),
                    F.col("hi").cast("int").alias("hi"))
            .orderBy("lo", "hi"))


# RDFS schema for the TPC-H KG: a 3-level class hierarchy, a 2-level
# property hierarchy, and domain/range rows (one declared on a
# SUPERproperty — trades_with — so the rdfs7+rdfs2 interplay is exercised).
_RDFS_SCHEMA = [
    ("Customer", "subClassOf", "Agent"), ("Supplier", "subClassOf", "Agent"),
    ("Agent", "subClassOf", "Entity"), ("Nation", "subClassOf", "Place"),
    ("Region", "subClassOf", "Place"), ("Place", "subClassOf", "Entity"),
    ("buys_from", "subPropertyOf", "trades_with"),
    ("trades_with", "subPropertyOf", "related_to"),
    ("located_in", "subPropertyOf", "related_to"),
    ("buys_from", "domain", "Customer"), ("buys_from", "range", "Supplier"),
    ("in_nation", "domain", "Agent"), ("in_nation", "range", "Nation"),
    ("in_region", "domain", "Nation"), ("in_region", "range", "Region"),
    ("located_in", "range", "Region"),
    ("trades_with", "domain", "Agent"), ("trades_with", "range", "Agent"),
]


def _rdfs_instance(spark, sf_dir, mods):
    """TPC-H KG slice for the RDFS queries: full in_nation/in_region/
    located_in plus the buys_from rows whose md5 bucket (mod 20) is in
    ``mods``, with prefix-declared entity types."""
    trip = _tpch_kg_triples(spark, sf_dir)
    bucket = F.conv(F.substring(F.md5(F.concat_ws("|", "subj", "obj")),
                                1, 15), 16, 10).cast("long") % 20
    inst0 = trip.filter((F.col("pred") != "buys_from")
                        | bucket.isin(*mods)).localCheckpoint(eager=True)
    ents = (inst0.select(F.col("subj").alias("e"))
            .unionByName(inst0.select(F.col("obj").alias("e"))).distinct())
    decl = ents.select(
        F.col("e").alias("subj"), F.lit("type").alias("pred"),
        F.when(F.col("e").startswith("c:"), F.lit("Customer"))
         .when(F.col("e").startswith("s:"), F.lit("Supplier"))
         .when(F.col("e").startswith("n:"), F.lit("Nation"))
         .otherwise(F.lit("Region")).alias("obj"))
    return inst0.unionByName(decl)


def _q_rdfs_closure(spark, sf_dir):
    """RDFS entailment closure (operators/rdfs.rdfs_closure — W3C RDF 1.1
    Semantics rules rdfs2/3/5/7/9/11) over the TPC-H KG plus a literal
    schema: subClassOf/subPropertyOf transitivity, property propagation,
    domain/range type inference (one domain declared on a SUPERproperty,
    pinning the sp-closed domain map), and type propagation up the class
    hierarchy.  buys_from is md5-sliced to 1/20 so the output stays
    compare-sized; declared types derive from the entity prefix.  The
    oracle evaluates the same stratified rules with recursive CTEs
    (UNION dedup, per the dag_layers lesson)."""
    from climatemind_ontology_processing_spark.operators.rdfs import (
        rdfs_closure)
    inst = _rdfs_instance(spark, sf_dir, [0])
    sch = spark.createDataFrame(_RDFS_SCHEMA,
                                "subj string, pred string, obj string")
    # assume_distinct: inst0 arms are distinct and decl's 'type' pred is
    # disjoint from every instance pred, so the union is duplicate-free
    return (rdfs_closure(inst, sch, assume_distinct=True)
            .orderBy("subj", "pred", "obj"))


def _q_rdfs_delta(spark, sf_dir):
    """Incremental RDFS maintenance (operators/rdfs.rdfs_increment): the
    md5-bucket-0 slice is the base closure, bucket-1 arrives as the
    delta; the increment touches only O(|delta|) work.  The oracle
    recomputes the FULL closure over buckets {0, 1} from scratch — the
    hash match IS the equivalence proof (delta_components precedent);
    the rule-linearity argument lives in the operator docstring."""
    from climatemind_ontology_processing_spark.operators.rdfs import (
        rdfs_closure, rdfs_increment)
    sch = spark.createDataFrame(_RDFS_SCHEMA,
                                "subj string, pred string, obj string")
    base = rdfs_closure(_rdfs_instance(spark, sf_dir, [0]), sch)
    delta = _rdfs_instance(spark, sf_dir, [1])
    return (rdfs_increment(base, delta, sch)
            .orderBy("subj", "pred", "obj"))


_SHACL_SHAPES = [
    ("maxCount", "buys_from", "9", None),        # fires: fan-out cap
    ("minCount", "located_in", "1", "Supplier"),  # fires: suppliers lack it
    ("class", "in_nation", "Nation", None),       # clean (negative evidence)
    ("datatype", "located_in", "^r:[0-9]+$", None),  # clean
    ("nodeKind", "in_region", "r:", None),         # clean
]


def _q_shacl_violations(spark, sf_dir):
    """SHACL-lite shape validation (operators/shacl.shacl_violations —
    the W3C core constraints as broadcast anti-joins) over the TPC-H KG
    with prefix-declared types: a fan-out maxCount that genuinely fires,
    a targeted minCount every supplier violates, and three clean shapes
    (class / datatype / nodeKind) as negative evidence.  The oracle
    replays each check as SQL."""
    from climatemind_ontology_processing_spark.operators.shacl import (
        shacl_violations)
    trip = _tpch_kg_triples(spark, sf_dir).localCheckpoint(eager=True)
    ents = (trip.select(F.col("subj").alias("e"))
            .unionByName(trip.select(F.col("obj").alias("e"))).distinct())
    decl = ents.select(
        F.col("e").alias("subj"), F.lit("type").alias("pred"),
        F.when(F.col("e").startswith("c:"), F.lit("Customer"))
         .when(F.col("e").startswith("s:"), F.lit("Supplier"))
         .when(F.col("e").startswith("n:"), F.lit("Nation"))
         .otherwise(F.lit("Region")).alias("obj"))
    inst = trip.unionByName(decl)
    shapes = spark.createDataFrame(
        _SHACL_SHAPES, "kind string, pred string, arg string, cls string")
    return (shacl_violations(inst, shapes)
            .orderBy("subj", "pred", "kind", "detail"))


def _q_motif_matches(spark, sf_dir):
    """Basic-graph-pattern matching (operators/motifs.match_motif — the
    GraphFrames find() / SPARQL BGP shape): the located_in closure
    triangle over the TPC-H KG with a PREDICATE VARIABLE on the closing
    edge — (x)-[in_nation]->(n); (n)-[in_region]->(r); (x)-[?p]->(r).
    Exercises selectivity reordering, pred-literal pushdown, pred-var
    binding and the distinct-vars (isomorphism) filters; the oracle is
    the equivalent three-way self-join."""
    from climatemind_ontology_processing_spark.operators.motifs import (
        match_motif)
    trip = _tpch_kg_triples(spark, sf_dir)
    return (match_motif(
        trip,
        "(x)-[in_nation]->(n); (n)-[in_region]->(r); (x)-[?p]->(r)")
        .orderBy("x", "n", "r", "p"))


def _q_wl_colors(spark, sf_dir):
    """Weisfeiler-Lehman color refinement (operators/graphstats.wl_colors,
    2 rounds) over the trade graph: per round color = md5_60 of
    (own color | numerically-sorted neighbor colors).  The oracle unrolls
    both rounds as CTEs with string_agg(... ORDER BY color) — colors are
    BIGINTs in both engines, so the hash match is bit-exact."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        wl_colors)
    edges = _trade_edges(spark, sf_dir)
    return (wl_colors(edges, rounds=2)
            .select(F.col("id").cast("int").alias("id"), "color")
            .orderBy("id"))


def _q_transe_ranks(spark, sf_dir):
    """TransE link-prediction rank evaluation (operators/negatives.
    transe_rank_eval, Bordes et al. 2013) over the supplier/nation/region
    slice of the TPC-H KG: every entity scored as candidate tail with the
    integer L1 translation distance on md5_60 hash embeddings (dim 8,
    mod 1009), raw rank of the true tail, hits@10.  Integer scores make
    the whole ranking protocol engine-exact."""
    from climatemind_ontology_processing_spark.operators.negatives import (
        transe_rank_eval)
    trip = _tpch_kg_triples(spark, sf_dir).filter(
        (F.col("pred") == "in_region") |
        ((F.col("pred") == "in_nation") & F.col("subj").startswith("s:")))
    return (transe_rank_eval(trip, dim=8, modulus=1009, k_hits=10,
                             hash_family="md5_60")
            .orderBy("subj", "pred", "obj"))


def _q_distmult_ranks(spark, sf_dir):
    """DistMult link-prediction rank evaluation (operators/negatives.
    distmult_rank_eval, Yang et al. 2015) over the same
    supplier/nation/region KG slice as transe_ranks: the bilinear-diagonal
    score sum_i h_i*r_i*t_i (HIGHER better), integer hash embeddings
    (dim 8, mod 1009), deterministic tie-break, hits@10.  The two
    protocols share one candidate-join shape; only the score expression
    and comparison direction differ — a model-swap costs zero plan
    changes."""
    from climatemind_ontology_processing_spark.operators.negatives import (
        distmult_rank_eval)
    trip = _tpch_kg_triples(spark, sf_dir).filter(
        (F.col("pred") == "in_region") |
        ((F.col("pred") == "in_nation") & F.col("subj").startswith("s:")))
    return (distmult_rank_eval(trip, dim=8, modulus=1009, k_hits=10,
                               hash_family="md5_60")
            .orderBy("subj", "pred", "obj"))


def _q_complex_ranks(spark, sf_dir):
    """ComplEx link-prediction rank evaluation (operators/negatives.
    complex_rank_eval, Trouillon et al. 2016) over the same
    supplier/nation/region KG slice as transe_ranks/distmult_ranks: the
    real part of the complex trilinear product (HIGHER better) with
    integer hash embeddings (dim 8, mod 1009) split into re/im halves —
    the antisymmetry-capable member of the shared rank-eval protocol."""
    from climatemind_ontology_processing_spark.operators.negatives import (
        complex_rank_eval)
    trip = _tpch_kg_triples(spark, sf_dir).filter(
        (F.col("pred") == "in_region") |
        ((F.col("pred") == "in_nation") & F.col("subj").startswith("s:")))
    return (complex_rank_eval(trip, dim=8, modulus=1009, k_hits=10,
                              hash_family="md5_60")
            .orderBy("subj", "pred", "obj"))


def _q_quotient_graph(spark, sf_dir):
    """Nation-level rollup of the customer→supplier order-line multigraph
    (operators/graphstats.quotient_graph): every lineitem is one edge
    'c:<cust>' → 's:<supp>', labels map both id spaces to 'n:<nation>',
    and the quotient reports per nation-pair edge multiplicity and
    distinct customer-supplier pairs — SNAP-style graph summarization
    (the host-graph rollup shape for a page-level web graph)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        quotient_graph)
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    li = _read(spark, sf_dir, "lineitem")
    s = _read(spark, sf_dir, "supplier")
    edges = (o.join(c, o.o_custkey == c.c_custkey)
             .join(li, li.l_orderkey == o.o_orderkey)
             .join(s, li.l_suppkey == s.s_suppkey)
             .select(F.concat(F.lit("c:"), c.c_custkey).alias("src"),
                     F.concat(F.lit("s:"), s.s_suppkey).alias("dst")))
    labels = (c.select(F.concat(F.lit("c:"), "c_custkey").alias("id"),
                       F.concat(F.lit("n:"), "c_nationkey").alias("label"))
              .unionByName(
                  s.select(F.concat(F.lit("s:"), "s_suppkey").alias("id"),
                           F.concat(F.lit("n:"), "s_nationkey")
                           .alias("label"))))
    return (quotient_graph(edges, labels)
            .orderBy("g_src", "g_dst"))


def _q_interval_overlaps(spark, sf_dir):
    """Per-user interval-overlap join (operators/temporal.
    interval_overlap_join): each event spawns a closed interval
    [floor(epoch(ts)), +floor(value)*60 s]; every 'view' interval is
    matched to every overlapping 'purchase' interval of the same user via
    the binned emit-once equi-join (NEVER a theta join), reporting the
    overlap length.  The oracle replays the semantics as a plain
    inequality join — the hash match proves the binned join is exact."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_overlap_join)
    ev = _read(spark, sf_dir, "events")
    start = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)         .cast("long")
    iv = ev.select("event_id", "user_id", "event_type",
                   start.alias("start"),
                   (start + F.floor("value").cast("long") * 60)
                   .alias("end"))
    l = iv.filter(F.col("event_type") == "view")         .select("user_id", F.col("event_id").alias("l_event"),
                "start", "end")
    r = iv.filter(F.col("event_type") == "purchase")         .select("user_id", F.col("event_id").alias("r_event"),
                "start", "end")
    j = interval_overlap_join(l, r, keys=("user_id",), bin_width=3600)
    overlap = (F.least(F.col("end"), F.col("r_end"))
               - F.greatest(F.col("start"), F.col("r_start")))
    return (j.select("user_id", "l_event",
                     F.col("r_r_event").alias("r_event"),
                     overlap.alias("overlap_s"))
            .orderBy("user_id", "l_event", "r_event"))


def _q_boruvka_msf(spark, sf_dir):
    """Minimum spanning forest of the sparse undirected trade subgraph
    (operators/mst.boruvka_msf — distributed Borůvka, <= log2(V) hook
    rounds) with md5_60-derived deterministic edge weights.  The oracle
    does NOT replay Borůvka: it applies the CYCLE PROPERTY under the same
    (w, lo, hi) total order — an edge is in the unique MSF iff its
    endpoints are not connected by strictly-lighter edges (recursive-CTE
    reachability per candidate edge) — so the hash match is an
    algorithm-independent optimality proof."""
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select(F.least("src", "dst").alias("lo"),
                     F.greatest("src", "dst").alias("hi"))
             .filter(F.col("lo") != F.col("hi")).distinct())
    weighted = edges.select(
        "lo", "hi",
        F.conv(F.substring(F.md5(F.concat_ws("|", "lo", "hi")), 1, 15),
               16, 10).cast("long").alias("weight"))
    return (boruvka_msf(weighted, src="lo", dst="hi")
            .select(F.col("lo").cast("int").alias("lo"),
                    F.col("hi").cast("int").alias("hi"), "weight")
            .orderBy("lo", "hi"))


def _q_coalesced_sessions(spark, sf_dir):
    """Per-user maximal busy periods (operators/temporal.
    coalesce_intervals): every event spawns [floor(epoch(ts)),
    +floor(value)*60 s] and overlapping intervals merge per user —
    validity-period compaction / session flattening.  Oracle replays the
    gaps-and-islands window algebra directly."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        coalesce_intervals)
    ev = _read(spark, sf_dir, "events")
    start = F.floor(F.unix_micros(F.col("ts").cast("timestamp")) / 1e6)         .cast("long")
    iv = ev.select("user_id", start.alias("start"),
                   (start + F.floor("value").cast("long") * 60)
                   .alias("end"))
    return (coalesce_intervals(iv, keys=("user_id",))
            .orderBy("user_id", "start"))


def _q_kg_churn(spark, sf_dir):
    """Per-predicate KG snapshot churn (operators/kgops.kg_diff_stats):
    the 'new' snapshot is a deterministic triple-level mutation of the
    TPC-H KG — suppliers with key % 11 == 0 lose their in_nation triple,
    nations with key % 5 == 0 move region — and the diff reports
    added/removed/unchanged per predicate, the regression dashboard a
    nightly re-extracted KG publishes before swap-in."""
    from climatemind_ontology_processing_spark.operators.kgops import (
        kg_diff_stats)
    old = _tpch_kg_triples(spark, sf_dir)
    skey = F.substring("subj", 3, 100).cast("long")
    drop_supp = (F.col("pred") == "in_nation")         & F.col("subj").startswith("s:") & (skey % 11 == 0)
    moved_obj = F.when(
        (F.col("pred") == "in_region") & (skey % 5 == 0),
        F.concat(F.lit("r:"),
                 ((F.substring("obj", 3, 100).cast("long") + 1) % 5)
                 .cast("string"))).otherwise(F.col("obj"))
    new = (old.filter(~drop_supp)
           .select("subj", "pred", moved_obj.alias("obj")))
    return kg_diff_stats(old, new).orderBy("pred")


def _q_entity_facts(spark, sf_dir):
    """Top-3 facts per KG entity, rarest-predicate-first (operators/
    kgops.entity_fact_ranking) — the IDF-flavoured entity-card baseline
    with fully deterministic (count, pred, obj) tie order."""
    from climatemind_ontology_processing_spark.operators.kgops import (
        entity_fact_ranking)
    return (entity_fact_ranking(_tpch_kg_triples(spark, sf_dir), top_k=3)
            .orderBy("subj", "rank"))


def _q_greedy_matching(spark, sf_dir):
    """Greedy maximal matching on the sparse undirected trade subgraph
    with md5_60 weights (operators/mst.greedy_matching): parallel
    locally-dominant rounds == sequential greedy by (w, lo, hi) — the
    1:1 assignment stage after pairwise entity-similarity scoring.
    Oracle unrolls 12 locally-dominant rounds (covering-unroll contract,
    jp_coloring precedent: the sf0.01 graph quiesces in far fewer)."""
    from climatemind_ontology_processing_spark.operators.mst import (
        greedy_matching)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select(F.least("src", "dst").alias("lo"),
                     F.greatest("src", "dst").alias("hi"))
             .filter(F.col("lo") != F.col("hi")).distinct())
    weighted = edges.select(
        "lo", "hi",
        F.conv(F.substring(F.md5(F.concat_ws("|", "lo", "hi")), 1, 15),
               16, 10).cast("long").alias("weight"))
    return (greedy_matching(weighted, src="lo", dst="hi")
            .select(F.col("lo").cast("int").alias("lo"),
                    F.col("hi").cast("int").alias("hi"), "weight")
            .orderBy("lo", "hi"))


def _matching_sql(rounds: int = 12) -> str:
    steps = []
    doms = []
    prev = "e0"
    for i in range(1, rounds + 1):
        steps.append(f"""
        inc{i} AS (SELECT lo AS n, w, lo, hi FROM {prev}
                   UNION ALL SELECT hi, w, lo, hi FROM {prev}),
        nm{i} AS (SELECT n, w, lo, hi FROM (
                    SELECT n, w, lo, hi, row_number() OVER (
                      PARTITION BY n ORDER BY w, lo, hi) AS rn
                    FROM inc{i}) WHERE rn = 1),
        dom{i} AS MATERIALIZED (
          SELECT e.lo, e.hi, e.w FROM {prev} e
          JOIN nm{i} a ON a.n = e.lo AND a.lo = e.lo AND a.hi = e.hi
          JOIN nm{i} b ON b.n = e.hi AND b.lo = e.lo AND b.hi = e.hi),
        used{i} AS (SELECT lo AS n FROM dom{i}
                    UNION SELECT hi FROM dom{i}),
        e{i} AS MATERIALIZED (
          SELECT * FROM {prev}
          WHERE lo NOT IN (SELECT n FROM used{i})
            AND hi NOT IN (SELECT n FROM used{i}))""")
        doms.append(f"SELECT lo, hi, w FROM dom{i}")
        prev = f"e{i}"
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sparse AS (SELECT src, dst FROM all_edges
                   WHERE (src * 31 + dst) % 7 = 0),
        ec AS (SELECT DISTINCT least(src, dst) AS lo,
                      greatest(src, dst) AS hi
               FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
        e0 AS MATERIALIZED (
          SELECT lo, hi,
                 ('0x' || substring(md5(lo || '|' || hi), 1, 15))::BIGINT
                   AS w
          FROM ec),
        {",".join(steps)}
        SELECT lo::INT AS lo, hi::INT AS hi, w AS weight
        FROM ({" UNION ALL ".join(doms)})
        ORDER BY lo, hi
    """


def _q_lt_cascade(spark, sf_dir):
    """Linear-threshold influence cascade on the directed sparse trade
    graph (operators/graphstats.lt_cascade): md5_60-derived integer edge
    weights, region-0 nations seeded at round 0, a node activates when
    active in-weight reaches 50% of total in-weight.  Oracle unrolls 12
    synchronous rounds of the identical BIGINT threshold test."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        lt_cascade)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select("src", "dst",
                     (F.pmod(F.conv(F.substring(
                         F.md5(F.concat_ws("|", "src", "dst")), 1, 15),
                         16, 10).cast("long"), F.lit(1000)) + 1)
                     .alias("w")))
    seeds = (_read(spark, sf_dir, "nation")
             .filter(F.col("n_regionkey") == 0)
             .select(F.col("n_nationkey").cast("int").alias("id")))
    return (lt_cascade(edges, seeds, theta_micro=500_000)
            .select(F.col("id").cast("int").alias("id"),
                    F.col("round").cast("int").alias("round"))
            .orderBy("id"))


def _lt_sql(rounds: int = 12) -> str:
    steps = []
    prev = "a0"
    for i in range(1, rounds + 1):
        steps.append(f"""
        f{i} AS (
          SELECT t.dst AS id, {i} AS rnd
          FROM (SELECT e.dst, sum(e.w) AS aw FROM e
                JOIN {prev} a ON a.id = e.src GROUP BY e.dst) t
          JOIN tot ON tot.dst = t.dst
          WHERE t.aw * 1000000 >= 500000 * tot.tw
            AND t.dst NOT IN (SELECT id FROM {prev})),
        a{i} AS MATERIALIZED (
          SELECT * FROM {prev} UNION ALL SELECT * FROM f{i})""")
        prev = f"a{i}"
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sparse AS (SELECT src, dst FROM all_edges
                   WHERE (src * 31 + dst) % 7 = 0),
        e AS MATERIALIZED (
          SELECT src, dst,
                 ('0x' || substring(md5(src || '|' || dst), 1, 15))::BIGINT
                   % 1000 + 1 AS w
          FROM sparse),
        tot AS (SELECT dst, sum(w) AS tw FROM e GROUP BY dst),
        a0 AS (SELECT DISTINCT n_nationkey::INT AS id, 0 AS rnd
               FROM nation WHERE n_regionkey = 0),
        {",".join(steps)}
        SELECT id, rnd::INT AS round FROM {prev} ORDER BY id
    """


def _q_rpq_regions(spark, sf_dir):
    """Regular path query over the TPC-H KG (operators/traversal.
    rpq_reachable): pattern ``buys_from . in_nation . in_region |
    located_in`` — every region a seed customer belongs to OR its supply
    chain lands in, via the automaton-product BFS (state space = nodes x
    4 NFA states).  Seeds: customers with key % 97 == 0.  Oracle
    enumerates the same (seed, node, state) product states in one
    recursive CTE joined to a VALUES transition table."""
    from climatemind_ontology_processing_spark.operators.traversal import (
        rpq_reachable)
    trans = [(0, "buys_from", 1), (1, "in_nation", 2),
             (2, "in_region", 3), (0, "located_in", 3)]
    trip = _tpch_kg_triples(spark, sf_dir)
    seeds = (_read(spark, sf_dir, "customer")
             .filter(F.col("c_custkey") % 97 == 0)
             .select(F.concat(F.lit("c:"),
                              F.col("c_custkey").cast("string"))
                     .alias("id")).distinct())
    return (rpq_reachable(trip, seeds, trans, (3,))
            .select("seed", "node", F.col("state").cast("int")
                    .alias("state"))
            .orderBy("seed", "node"))


def _q_msf_delta(spark, sf_dir):
    """Incremental MSF maintenance (operators/mst.msf_increment): the
    sparse trade graph is split by an md5 parity into a BASE batch and a
    DELTA batch; the query computes MSF(base), then absorbs the delta
    incrementally — Borůvka over |forest| + |Δ| edges only.  The oracle
    is boruvka_msf's cycle-property oracle over ALL edges, shared
    verbatim: the hash match IS the sparsification-identity equivalence
    proof (delta_components precedent)."""
    from climatemind_ontology_processing_spark.operators.mst import (
        boruvka_msf, msf_increment)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select(F.least("src", "dst").alias("lo"),
                     F.greatest("src", "dst").alias("hi"))
             .filter(F.col("lo") != F.col("hi")).distinct())
    weighted = edges.select(
        "lo", "hi",
        F.conv(F.substring(F.md5(F.concat_ws("|", "lo", "hi")), 1, 15),
               16, 10).cast("long").alias("weight"))
    parity = F.pmod(F.col("weight"), F.lit(2)) == 0
    base = weighted.filter(parity)
    delta = weighted.filter(~parity)
    forest = boruvka_msf(base, src="lo", dst="hi")
    return (msf_increment(forest, delta, src="lo", dst="hi")
            .select(F.col("lo").cast("int").alias("lo"),
                    F.col("hi").cast("int").alias("hi"), "weight")
            .orderBy("lo", "hi"))


def _q_coarse_graph(spark, sf_dir):
    """One multilevel coarsening level of the sparse trade graph
    (operators/mst.coarsen_mapping + coarsen_graph): greedy-matched
    pairs contract into their smaller id, parallel coarse edges sum
    weights, intra-pair weight disappears into the super-node — the
    METIS V-cycle building block.  Oracle extends the greedy_matching
    unroll with the same contraction algebra."""
    from climatemind_ontology_processing_spark.operators.mst import (
        coarsen_graph, coarsen_mapping)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select(F.least("src", "dst").alias("lo"),
                     F.greatest("src", "dst").alias("hi"))
             .filter(F.col("lo") != F.col("hi")).distinct())
    weighted = edges.select(
        "lo", "hi",
        F.conv(F.substring(F.md5(F.concat_ws("|", "lo", "hi")), 1, 15),
               16, 10).cast("long").alias("weight"))
    mapping = coarsen_mapping(weighted, src="lo", dst="hi")
    return (coarsen_graph(weighted, mapping, src="lo", dst="hi")
            .select(F.col("lo").cast("int").alias("lo"),
                    F.col("hi").cast("int").alias("hi"), "weight")
            .orderBy("lo", "hi"))


def _coarsen_sql(rounds: int = 12) -> str:
    """Matching unroll + contraction: reuses _matching_sql's CTE chain
    shape, then maps endpoints through the pair mapping and re-sums."""
    base = _matching_sql(rounds)
    # swap the final projection for the contraction algebra
    head, _, _ = base.rpartition("SELECT lo::INT AS lo")
    doms = " UNION ALL ".join(
        f"SELECT lo, hi FROM dom{i}" for i in range(1, rounds + 1))
    return f"""{head.rstrip()},
        matched AS ({doms}),
        mapping AS (
          SELECT lo AS id, lo AS rep FROM matched
          UNION ALL SELECT hi, lo FROM matched
          UNION ALL
          SELECT id, id FROM (
            SELECT lo AS id FROM e0 UNION SELECT hi FROM e0)
          WHERE id NOT IN (SELECT lo FROM matched
                           UNION SELECT hi FROM matched)),
        contracted AS (
          SELECT least(ml.rep, mh.rep) AS lo,
                 greatest(ml.rep, mh.rep) AS hi, e.w
          FROM e0 e JOIN mapping ml ON ml.id = e.lo
                    JOIN mapping mh ON mh.id = e.hi)
        SELECT lo::INT AS lo, hi::INT AS hi, sum(w)::BIGINT AS weight
        FROM contracted WHERE lo <> hi
        GROUP BY 1, 2 ORDER BY lo, hi
    """


def _q_schema_graph(spark, sf_dir):
    """Schema-graph induction over the TPC-H KG (operators/kgops.
    schema_summary): one row per (subj_type, pred, obj_type) with triple
    and distinct-endpoint counts — the type-level map read before
    writing queries against an unfamiliar KG."""
    from climatemind_ontology_processing_spark.operators.kgops import (
        schema_summary)
    return (schema_summary(_tpch_kg_triples(spark, sf_dir))
            .orderBy("subj_type", "pred", "obj_type"))


def _q_coreness(spark, sf_dir):
    """Full core decomposition of the sparse undirected trade subgraph
    (operators/graphstats.coreness): degrees hammered by the H-operator
    to the fixed point, which is the core number (Lü et al. 2016).
    Oracle unrolls 10 H-iteration rounds — monotone non-increasing, so
    rounds past convergence are no-ops and 10 >= the measured
    convergence depth at every tested SF."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        coreness)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0))
    return (coreness(edges)
            .select(F.col("id").cast("int").alias("id"), "coreness")
            .orderBy("id"))


def _coreness_sql(rounds: int = 10) -> str:
    steps = []
    prev = "v0"
    for i in range(1, rounds + 1):
        steps.append(f"""
        v{i} AS MATERIALIZED (
          SELECT a AS id, max(least(c, rn))::BIGINT AS c FROM (
            SELECT s.a, v.c,
                   row_number() OVER (PARTITION BY s.a
                                      ORDER BY v.c DESC, s.b ASC) AS rn
            FROM sym s JOIN {prev} v ON v.id = s.b)
          GROUP BY a)""")
        prev = f"v{i}"
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sparse AS (SELECT src, dst FROM all_edges
                   WHERE (src * 31 + dst) % 7 = 0),
        e AS (SELECT DISTINCT least(src, dst) AS lo,
                     greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
        sym AS MATERIALIZED (SELECT lo AS a, hi AS b FROM e
                             UNION ALL SELECT hi, lo FROM e),
        v0 AS MATERIALIZED (
          SELECT a AS id, count(*)::BIGINT AS c FROM sym GROUP BY a),
        {",".join(steps)}
        SELECT id::INT AS id, c AS coreness FROM {prev} ORDER BY id
    """


def _q_nation_mixing(spark, sf_dir):
    """Nominal assortativity of the trade graph under the nation→region
    labeling (operators/graphstats.nominal_assortativity, Newman 2003):
    do nations trade within their region?  Exact rational (m, r_num,
    r_den) in DECIMAL(38,0) — the modularity convention."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        nominal_assortativity)
    edges = _trade_edges(spark, sf_dir)
    labels = (_read(spark, sf_dir, "nation")
              .select(F.col("n_nationkey").cast("int").alias("id"),
                      F.col("n_regionkey").cast("int").alias("label")))
    return (nominal_assortativity(edges, labels)
            .select("m", F.col("r_num").cast("string").alias("r_num"),
                    F.col("r_den").cast("string").alias("r_den")))


def _q_dag_paths(spark, sf_dir):
    """Exact path counts in the orientation DAG of the sparse trade
    graph (operators/paths.dag_path_counts — edges kept only src < dst,
    provably acyclic): BIGINT DP from the in-degree-0 sources, loud on
    overflow/cycles.  Oracle unrolls 24 walk rounds (node count bounds
    the longest path) and sums them."""
    from climatemind_ontology_processing_spark.operators.paths import (
        dag_path_counts)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .filter(F.col("src") < F.col("dst")))
    nodes = (edges.select(F.col("src").alias("id"))
             .unionByName(edges.select(F.col("dst").alias("id")))
             .distinct())
    sources = nodes.join(edges.select(F.col("dst").alias("id")),
                         "id", "left_anti")
    return (dag_path_counts(edges, sources)
            .select(F.col("id").cast("int").alias("id"), "n_paths")
            .orderBy("id"))


def _dag_paths_sql(rounds: int = 24) -> str:
    steps = []
    walks = ["SELECT id, w FROM w0"]
    prev = "w0"
    for i in range(1, rounds + 1):
        steps.append(f"""
        w{i} AS MATERIALIZED (
          SELECT e.dst AS id, sum(p.w)::BIGINT AS w
          FROM {prev} p JOIN e ON e.src = p.id GROUP BY 1)""")
        walks.append(f"SELECT id, w FROM w{i}")
        prev = f"w{i}"
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        e AS MATERIALIZED (
          SELECT src, dst FROM all_edges
          WHERE (src * 31 + dst) % 7 = 0 AND src < dst),
        nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        w0 AS MATERIALIZED (
          SELECT id, 1::BIGINT AS w FROM nodes
          WHERE id NOT IN (SELECT dst FROM e)),
        {",".join(steps)}
        SELECT id::INT AS id, sum(w)::BIGINT AS n_paths
        FROM ({" UNION ALL ".join(walks)})
        GROUP BY 1 ORDER BY id
    """


def _q_single_linkage(spark, sf_dir):
    """Exact single-linkage clustering into 4 groups on the sparse trade
    graph with md5_60 weights (operators/mst.single_linkage_clusters):
    MSF, cut the 3 heaviest forest edges, components of the rest — the
    MST↔single-linkage duality.  Oracle composes the cycle-property MSF
    with the same deterministic cut and a recursive-CTE CC."""
    from climatemind_ontology_processing_spark.operators.mst import (
        single_linkage_clusters)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
             .select(F.least("src", "dst").alias("lo"),
                     F.greatest("src", "dst").alias("hi"))
             .filter(F.col("lo") != F.col("hi")).distinct())
    weighted = edges.select(
        "lo", "hi",
        F.conv(F.substring(F.md5(F.concat_ws("|", "lo", "hi")), 1, 15),
               16, 10).cast("long").alias("weight"))
    return (single_linkage_clusters(weighted, 4, src="lo", dst="hi")
            .select(F.col("id").cast("int").alias("id"),
                    F.col("cluster").cast("int").alias("cluster"))
            .orderBy("id"))


def _single_linkage_sql(k: int = 4) -> str:
    return f"""
        WITH RECURSIVE all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sparse AS (SELECT src, dst FROM all_edges
                   WHERE (src * 31 + dst) % 7 = 0),
        e AS (SELECT DISTINCT least(src, dst) AS lo,
                     greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
        we AS (SELECT lo, hi,
                      ('0x' || substring(md5(lo || '|' || hi), 1, 15))
                        ::BIGINT AS w
               FROM e),
        symw AS (SELECT lo AS a, hi AS b, w, lo, hi FROM we
                 UNION ALL SELECT hi, lo, w, lo, hi FROM we),
        reach(clo, chi, node) AS (
          SELECT lo, hi, lo FROM we
          UNION
          SELECT r.clo, r.chi, s.b
          FROM reach r
          JOIN symw s ON s.a = r.node
          JOIN we c ON c.lo = r.clo AND c.hi = r.chi
          WHERE (s.w, s.lo, s.hi) < (c.w, c.lo, c.hi)
        ),
        msf AS MATERIALIZED (
          SELECT c.lo, c.hi, c.w FROM we c
          WHERE NOT EXISTS (SELECT 1 FROM reach r
                            WHERE r.clo = c.lo AND r.chi = c.hi
                              AND r.node = c.hi)),
        cut AS (SELECT lo, hi FROM msf
                ORDER BY w DESC, lo DESC, hi DESC LIMIT {k - 1}),
        kept AS (SELECT m.lo, m.hi FROM msf m
                 WHERE NOT EXISTS (SELECT 1 FROM cut c
                                   WHERE c.lo = m.lo AND c.hi = m.hi)),
        -- CLAUDE.md: inside WITH RECURSIVE, non-recursive UNION does
        -- not dedupe across arms in DuckDB 1.0 — use DISTINCT+UNION ALL
        nodes AS (SELECT DISTINCT id FROM (
          SELECT lo AS id FROM e UNION ALL SELECT hi FROM e)),
        symk AS (SELECT DISTINCT a, b FROM (
          SELECT lo AS a, hi AS b FROM kept
          UNION ALL SELECT hi, lo FROM kept)),
        cc(id, r) AS (
          SELECT a, a FROM symk
          UNION
          SELECT c2.id, s.b FROM cc c2 JOIN symk s ON s.a = c2.r)
        SELECT n.id::INT AS id,
               coalesce(m.comp, n.id)::INT AS cluster
        FROM nodes n LEFT JOIN (
          SELECT id, min(r) AS comp FROM cc GROUP BY id) m
          ON m.id = n.id
        ORDER BY n.id
    """


def _q_diameter_bound(spark, sf_dir):
    """Double-sweep diameter lower bound of the sparse undirected trade
    subgraph (operators/paths.double_sweep_diameter): two BFS sweeps
    instead of |V|.  Oracle enumerates BFS (node, depth) states twice in
    recursive CTEs with the same deterministic farthest-node pick."""
    from climatemind_ontology_processing_spark.operators.paths import (
        double_sweep_diameter)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0))
    return (double_sweep_diameter(edges)
            .select(F.col("start").cast("int").alias("start"),
                    F.col("far_node").cast("int").alias("far_node"),
                    F.col("diameter_lb").cast("long")
                    .alias("diameter_lb")))


def _q_pred_signatures(spark, sf_dir):
    """Predicate schema induction (operators/rules.pred_signatures): one
    row per predicate with triple/distinct-subject/object counts,
    Galarraga functionality as truncating micro-BIGINTs, and the modal
    subject/object type prefix (ties broken type-ascending)."""
    from climatemind_ontology_processing_spark.operators.rules import (
        pred_signatures)
    return (pred_signatures(_tpch_kg_triples(spark, sf_dir))
            .orderBy("pred"))


def _hearst_docs(spark, sf_dir):
    """Deterministic pattern-bearing corpus from the part table: four
    sentences per part, one per Hearst pattern family, with np-safe
    tokens (lowercased, spaces and '#' stripped).  The SQL twin is
    _HEARST_DOCS_SQL — identical string algebra."""
    p = _read(spark, sf_dir, "part")
    t1 = F.expr("split_part(p_name, ' ', 1)")
    t2 = F.expr("split_part(p_name, ' ', 2)")
    tb = F.expr("lower(replace(p_brand, '#', ''))")
    tt = F.expr("lower(p_type)")
    text = F.concat(
        F.lit("parts such as "), t1, F.lit(", "), t2, F.lit(" and "), tb,
        F.lit(". products, including "), tt, F.lit(" or "), tb,
        F.lit(". brands, especially "), tb,
        F.lit(". "), t1, F.lit(", "), tt, F.lit(" and other goods."))
    return p.select(F.col("p_partkey").cast("long").alias("doc_id"),
                    text.alias("text"))


_HEARST_DOCS_SQL = """
  SELECT p_partkey::BIGINT AS doc_id,
         'parts such as ' || split_part(p_name, ' ', 1) || ', '
         || split_part(p_name, ' ', 2) || ' and '
         || lower(replace(p_brand, '#', ''))
         || '. products, including ' || lower(p_type) || ' or '
         || lower(replace(p_brand, '#', ''))
         || '. brands, especially ' || lower(replace(p_brand, '#', ''))
         || '. ' || split_part(p_name, ' ', 1) || ', ' || lower(p_type)
         || ' and other goods.' AS text
  FROM part
"""


def _hearst_sql() -> str:
    """DuckDB twin of _q_hearst_isa, built from the SAME pattern table the
    operator uses (no drift possible): per-pattern extract-all → group
    extracts → joiner split, unioned, then the pooled is-a aggregate."""
    from climatemind_ontology_processing_spark.operators.hearst import (
        _JOINER, HEARST_PATTERNS)
    blocks = []
    for _name, (pat, g_hyper, g_list) in HEARST_PATTERNS.items():
        blocks.append(f"""
              SELECT doc_id,
                     unnest(string_split_regex(
                       regexp_extract(m, '{pat}', {g_list}),
                       '{_JOINER}')) AS hypo,
                     regexp_extract(m, '{pat}', {g_hyper}) AS hyper
              FROM (SELECT doc_id,
                           unnest(regexp_extract_all(text, '{pat}', 0)) AS m
                    FROM docs)""")
    union = "\n              UNION ALL".join(blocks)
    return f"""
            WITH docs AS MATERIALIZED ({_HEARST_DOCS_SQL}),
            matches AS ({union})
            SELECT hypo AS subj, 'is_a' AS pred, hyper AS obj,
                   count(*)::BIGINT AS n_matches,
                   count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM matches
            WHERE hypo <> '' AND hyper <> '' AND hypo <> hyper
            GROUP BY 1, 2, 3
            ORDER BY subj, obj
        """


def _q_hearst_isa(spark, sf_dir):
    """Hearst-pattern hypernym mining (operators/hearst.hearst_triples):
    pooled is-a evidence over a deterministic pattern-bearing corpus
    synthesized from the part table.  The extraction regexes are
    engine-portable (no lookarounds) and the DuckDB oracle runs them
    VERBATIM — the hash match proves Java-regex/RE2 agreement on the
    leftmost-nonoverlapping match set, the group captures, and the
    joiner split."""
    from climatemind_ontology_processing_spark.operators.hearst import (
        hearst_triples)
    return (hearst_triples(_hearst_docs(spark, sf_dir))
            .orderBy("subj", "obj"))


# verb lexicon fitted to the synthetic documents vocabulary (the corpus
# is word soup, so extractions are arbitrary-but-deterministic trigrams —
# exactly what a correctness gate needs; swap real verb lists in prod).
_OPENIE_VERBS = ("scan", "merge", "join", "filter", "sort", "group")


def _q_open_triples(spark, sf_dir):
    """ReVerb-lite open IE (operators/openie.open_triple_counts — Fader
    et al. 2011): (NP) (V [P]) [DET] (NP) surface extraction with the
    relation-word-out-of-argument-slots constraint, pooled into
    (arg1, rel, arg2, n_mentions, n_docs) with min_docs=2.  The oracle
    runs the IDENTICAL regex under RE2 — the hash match certifies
    Java-regex ≡ RE2 leftmost-nonoverlapping agreement (hearst_isa
    precedent) plus the post-match constraint filter."""
    from climatemind_ontology_processing_spark.operators.openie import (
        open_triple_counts)
    docs = _read(spark, sf_dir, "documents")
    return (open_triple_counts(docs, _OPENIE_VERBS, min_docs=2)
            .orderBy("arg1", "rel", "arg2"))


def _openie_sql() -> str:
    """DuckDB twin of _q_open_triples: the same pattern string (built by
    the same reverb_pattern call — no drift possible) and stop list."""
    from climatemind_ontology_processing_spark.operators.openie import (
        DEFAULT_DETS, DEFAULT_PREPS, reverb_pattern)
    pat = reverb_pattern(_OPENIE_VERBS)
    stop = ", ".join(f"'{w}'" for w in
                     _OPENIE_VERBS + DEFAULT_PREPS + DEFAULT_DETS)
    return f"""
        WITH m AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(lower(text), '{pat}', 0)) AS m
          FROM documents),
        g AS (
          SELECT doc_id,
                 regexp_extract(m, '{pat}', 1) AS arg1,
                 regexp_extract(m, '{pat}', 2) AS rel,
                 regexp_extract(m, '{pat}', 3) AS arg2
          FROM m)
        SELECT arg1, rel, arg2, count(*)::BIGINT AS n_mentions,
               count(DISTINCT doc_id)::BIGINT AS n_docs
        FROM g
        WHERE arg1 NOT IN ({stop}) AND arg2 NOT IN ({stop})
          AND arg1 <> '' AND arg2 <> ''
        GROUP BY 1, 2, 3
        HAVING count(DISTINCT doc_id) >= 2
        ORDER BY arg1, rel, arg2
    """


def _claims_df(spark, sf_dir):
    """Deterministic conflicting-claims table: every lineitem is a source
    (supplier) asserting its part's size; a seeded md5 selects ~1/4 of
    (source, subj) pairs to corrupt by +1..+3.  Mirrors _CLAIMS_SQL."""
    l = _read(spark, sf_dir, "lineitem")
    p = _read(spark, sf_dir, "part")
    j = l.join(p, l.l_partkey == p.p_partkey)
    subj = F.concat(F.lit("p:"), F.col("l_partkey").cast("string"))
    source = F.concat(F.lit("s:"), F.col("l_suppkey").cast("string"))
    h = F.conv(F.substring(F.md5(F.concat(
        F.lit("claim|"), source, F.lit("|"), subj)), 1, 15), 16, 10) \
        .cast("long")
    obj = F.when(h % 4 == 0,
                 (F.col("p_size") + 1 + (h % 3)).cast("int")) \
        .otherwise(F.col("p_size").cast("int")).cast("string")
    return j.select(subj.alias("subj"), F.lit("size").alias("pred"),
                    obj.alias("obj"), source.alias("source"))


_CLAIMS_SQL = """
  SELECT 'p:' || l_partkey AS subj, 'size' AS pred,
         CASE WHEN h % 4 = 0 THEN (p_size + 1 + (h % 3))::INT::VARCHAR
              ELSE p_size::INT::VARCHAR END AS obj,
         's:' || l_suppkey AS source
  FROM (SELECT l_partkey, l_suppkey, p_size,
               ('0x' || substring(md5(
                  'claim|s:' || l_suppkey || '|p:' || l_partkey),
                  1, 15))::BIGINT AS h
        FROM lineitem JOIN part ON l_partkey = p_partkey)
"""

# 2-round unrolled trust/confidence CTE chain shared by the two fusion
# oracles (t0 prior 500000, integer micro arithmetic — floor divisions
# on non-negative BIGINTs match Spark's `div`).
_FUSION_CTES = f"""
  claims AS MATERIALIZED ({_CLAIMS_SQL}),
  a AS MATERIALIZED (SELECT DISTINCT subj, pred, obj, source FROM claims),
  t0 AS (SELECT DISTINCT source, 500000::BIGINT AS trust FROM a),
  s1 AS (SELECT subj, pred, obj, sum(trust)::BIGINT AS support
         FROM a JOIN t0 USING (source) GROUP BY 1, 2, 3),
  c1 AS MATERIALIZED (
    SELECT s1.subj, s1.pred, s1.obj,
           ((support * 1000000) // total)::BIGINT AS conf
    FROM s1 JOIN (SELECT subj, pred, sum(support)::BIGINT AS total
                  FROM s1 GROUP BY 1, 2) USING (subj, pred)),
  t1 AS MATERIALIZED (
    SELECT source, (sum(conf) // count(*))::BIGINT AS trust
    FROM a JOIN c1 USING (subj, pred, obj) GROUP BY source),
  s2 AS (SELECT subj, pred, obj, sum(trust)::BIGINT AS support
         FROM a JOIN t1 USING (source) GROUP BY 1, 2, 3),
  c2 AS MATERIALIZED (
    SELECT s2.subj, s2.pred, s2.obj,
           ((support * 1000000) // total)::BIGINT AS conf
    FROM s2 JOIN (SELECT subj, pred, sum(support)::BIGINT AS total
                  FROM s2 GROUP BY 1, 2) USING (subj, pred)),
  t2 AS MATERIALIZED (
    SELECT source, (sum(conf) // count(*))::BIGINT AS trust
    FROM a JOIN c2 USING (subj, pred, obj) GROUP BY source),
  s3 AS (SELECT subj, pred, obj, sum(trust)::BIGINT AS support,
                count(*)::BIGINT AS n_sources
         FROM a JOIN t2 USING (source) GROUP BY 1, 2, 3),
  c3 AS (SELECT s3.subj, s3.pred, s3.obj, n_sources,
                ((support * 1000000) // total)::BIGINT AS conf_micro
         FROM s3 JOIN (SELECT subj, pred, sum(support)::BIGINT AS total
                       FROM s3 GROUP BY 1, 2) USING (subj, pred))
"""


def _q_fused_claims(spark, sf_dir):
    """Multi-source truth discovery (operators/fusion.fuse_claims,
    rounds=2): resolve each part's claimed size by iterative source-trust
    voting over a seeded-corruption claims table.  Integer micro
    arithmetic end-to-end; the oracle unrolls both rounds as CTEs."""
    from climatemind_ontology_processing_spark.operators.fusion import (
        fuse_claims)
    return (fuse_claims(_claims_df(spark, sf_dir), rounds=2)
            .orderBy("subj"))


def _q_claim_source_trust(spark, sf_dir):
    """Per-source trust after 2 fusion rounds (operators/fusion.
    source_trust) — corrupting suppliers end measurably below honest
    ones; same unrolled-CTE oracle as fused_claims."""
    from climatemind_ontology_processing_spark.operators.fusion import (
        source_trust)
    return (source_trust(_claims_df(spark, sf_dir), rounds=2)
            .orderBy("source"))


def _q_region_modularity(spark, sf_dir):
    """Partition quality of the nation-level trade graph under the
    region partition (operators/graphstats.community_stats + modularity):
    per-community structure rows cross-joined with the exact rational
    modularity (q_num/q_den as DECIMAL(38,0) — BIGINT-overflow-safe at
    web-scale edge counts)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        community_stats, modularity)
    edges = _trade_edges(spark, sf_dir)
    n = _read(spark, sf_dir, "nation")
    labels = n.select(F.col("n_nationkey").cast("int").alias("id"),
                      F.col("n_regionkey").cast("int").alias("label"))
    cs = community_stats(edges, labels)
    q = modularity(edges, labels)
    return (cs.crossJoin(q.select("m", "q_num", "q_den"))
            .select("label", "n_nodes", "intra_edges", "degree_sum", "m",
                    F.col("q_num").cast("string").alias("q_num"),
                    F.col("q_den").cast("string").alias("q_den"))
            .orderBy("label"))


def _q_node2vec_walks(spark, sf_dir):
    """Second-order biased walks (operators/graphstats.node2vec_walks,
    Grover & Leskovec p/q semantics) over the trade graph: length 3,
    return penalty 4.0, exploration bonus 0.5, every hop an
    md5_40-hash argmin — the oracle unrolls the three steps as CTEs with
    the identical integer penalty arithmetic and left-joins the
    symmetrized edge set for the distance-1 test."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        node2vec_walks)
    return (node2vec_walks(_trade_edges(spark, sf_dir), length=3,
                           p_micro=4_000_000, q_micro=500_000)
            .orderBy("start", "step"))


def _node2vec_sql(steps: int = 3, p_micro: int = 4_000_000,
                  q_micro: int = 500_000, seed: str = "n2v") -> str:
    """DuckDB twin of _q_node2vec_walks: per-step biased-argmin CTEs."""
    ctes = [f"""
            e AS MATERIALIZED (
              SELECT src AS c, dst AS n FROM ({_TRADE_SQL})),
            und AS MATERIALIZED (
              SELECT c AS pv, n, 1 AS _adj FROM e
              UNION SELECT n, c, 1 FROM e),
            w0 AS (SELECT DISTINCT c AS start, c AS node, NULL::INT AS prev
                   FROM e)"""]
    for t in range(1, steps + 1):
        ctes.append(f"""
            w{t} AS MATERIALIZED (
              SELECT start, n AS node, node AS prev FROM (
                SELECT cur.start, cur.node, e.n,
                       row_number() OVER (PARTITION BY cur.start ORDER BY
                         (('0x' || substring(md5('{seed}|{t}|'
                            || coalesce(cur.prev::VARCHAR, '-') || '|'
                            || cur.node || '|' || e.n), 1, 10))::BIGINT
                          * CASE WHEN e.n = cur.prev THEN {p_micro}
                                 WHEN u._adj IS NOT NULL THEN 1000000
                                 ELSE {q_micro} END), e.n) AS rn
                FROM w{t - 1} cur
                JOIN e ON e.c = cur.node
                LEFT JOIN und u ON u.pv = cur.prev AND u.n = e.n
              ) WHERE rn = 1)""")
    union = "\n            UNION ALL ".join(
        f"SELECT start, {t} AS step, node FROM w{t}"
        for t in range(steps + 1))
    return ("WITH " + ",".join(ctes)
            + f"\n            {union}\n            ORDER BY start, step")


def _q_hyperball(spark, sf_dir):
    """HyperBall approximate-neighborhood-function (operators/anf.
    hyperball, Boldi-Rosa-Vigna): per-node HLL ball sketches over the
    trade graph, 3 rounds at p=5, exposed as the exact integer sketch
    summary (n_registers, harm_total) — the float estimator column is
    dropped here (pinned by pytest vs exact BFS instead) so the oracle
    replay is pure integer register algebra."""
    from climatemind_ontology_processing_spark.operators.anf import (
        hyperball)
    return (hyperball(_trade_edges(spark, sf_dir), rounds=3, p=5)
            .select(F.col("id").cast("int").alias("id"), "step",
                    "n_registers", "harm_total")
            .orderBy("id", "step"))


def _hyperball_sql(rounds: int = 3, p: int = 5) -> str:
    """DuckDB twin of _q_hyperball: unrolled register-merge rounds."""
    rem_bits = 60 - p
    mask = 2 ** rem_bits - 1
    s_exp = rem_bits + 1
    m = 2 ** p
    ctes = [f"""
            e AS MATERIALIZED (
              SELECT src AS c, dst AS n FROM ({_TRADE_SQL})),
            nodes AS (SELECT c AS id FROM e UNION SELECT n FROM e),
            s0 AS MATERIALIZED (
              SELECT id, hv >> {rem_bits} AS register,
                     CASE WHEN (hv & {mask}) > 0
                          THEN {s_exp} - length(bin(hv & {mask}))
                          ELSE {s_exp} END AS rho
              FROM (SELECT id, ('0x' || substring(md5(id::VARCHAR), 1, 15))
                               ::BIGINT AS hv
                    FROM nodes))"""]
    for t in range(1, rounds + 1):
        ctes.append(f"""
            s{t} AS MATERIALIZED (
              SELECT id, register, max(rho) AS rho FROM (
                SELECT id, register, rho FROM s{t - 1}
                UNION ALL
                SELECT e.c AS id, s.register, s.rho
                FROM e JOIN s{t - 1} s ON s.id = e.n
              ) GROUP BY id, register)""")
    steps = "\n            UNION ALL ".join(f"""
            SELECT id, {t} AS step, count(*)::BIGINT AS n_registers,
                   (sum(CAST(pow(2.0, {s_exp} - rho) AS BIGINT))
                    + ({m} - count(*)) * {2 ** s_exp})::BIGINT AS harm_total
            FROM s{t} GROUP BY id""" for t in range(rounds + 1))
    return ("WITH " + ",".join(ctes) + steps
            + "\n            ORDER BY id, step")


def _q_anchor_aliases(spark, sf_dir):
    """Anchor-text alias-dictionary mining (functions/links.extract_links
    + anchor_aliases): deterministic HTML synthesized from the part table
    — two links per page exercising host-case folding, fragment drop,
    tracking-param strip, nested tags, and entity unescape.  The oracle
    is the CLOSED-FORM expectation of what the scanner + canonicalizer
    must produce (independent expectation, not a SQL re-implementation —
    the media_features pattern)."""
    from climatemind_ontology_processing_spark.functions.links import (
        anchor_aliases, extract_links)
    p = _read(spark, sf_dir, "part")
    tb = F.expr("lower(replace(p_brand, '#', ''))")
    html = F.concat(
        F.lit('<html><body><p>see <a href="HTTP://EX.com/part/'),
        F.col("p_partkey").cast("string"),
        F.lit('?utm_source=mail&x=1#top">'), F.col("p_name"),
        F.lit(" &amp; co</a> or <a href='http://ex.com/brand/"), tb,
        F.lit("'>the <b>"), tb, F.lit("</b></a>.</p></body></html>"))
    pages = p.select(
        F.concat(F.lit("http://pages.ex.com/"),
                 F.col("p_partkey").cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"))
    return (anchor_aliases(extract_links(pages))
            .orderBy("target", "alias"))


def _q_alias_commonness(spark, sf_dir):
    """Entity-linking commonness prior (functions/links.alias_commonness,
    Milne & Witten): P(target | alias) as integer micros over the mined
    anchor dictionary of _q_anchor_aliases.  Naturally ambiguous — every
    part sharing a p_name contributes a distinct '<p_name> & co' sense,
    and each brand alias has exactly one."""
    from climatemind_ontology_processing_spark.functions.links import (
        alias_commonness, anchor_aliases, extract_links)
    p = _read(spark, sf_dir, "part")
    tb = F.expr("lower(replace(p_brand, '#', ''))")
    html = F.concat(
        F.lit('<html><body><p>see <a href="HTTP://EX.com/part/'),
        F.col("p_partkey").cast("string"),
        F.lit('?utm_source=mail&x=1#top">'), F.col("p_name"),
        F.lit(" &amp; co</a> or <a href='http://ex.com/brand/"), tb,
        F.lit("'>the <b>"), tb, F.lit("</b></a>.</p></body></html>"))
    pages = p.select(
        F.concat(F.lit("http://pages.ex.com/"),
                 F.col("p_partkey").cast("string")).alias("url"),
        F.encode(html, "utf-8").alias("html"))
    return (alias_commonness(anchor_aliases(extract_links(pages)))
            .orderBy("alias", "rank"))


def _q_luby_mis(spark, sf_dir):
    """Deterministic Luby maximal independent set (operators/graphstats.
    luby_mis) on the customer-supplier buys_from graph (sparse bipartite
    with supplier hubs — a nation-level graph is near-complete and gives
    a trivial 1-node MIS); the oracle unrolls 8 rounds (surplus rounds
    are empty no-ops, and any winner past round 8 would surface as a
    row-count mismatch)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        luby_mis)
    trip = _tpch_kg_triples(spark, sf_dir).filter(
        F.col("pred") == "buys_from")
    return (luby_mis(trip, src="subj", dst="obj")
            .orderBy("id"))


_BUYS_SQL = """
  SELECT DISTINCT 'c:' || c.c_custkey AS src, 's:' || s.s_suppkey AS dst
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
"""


def _luby_sql(rounds: int = 8, seed: str = "mis") -> str:
    """DuckDB twin of _q_luby_mis: per-round winner/peel CTEs."""
    ctes = [f"""
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM ({_BUYS_SQL}) WHERE src <> dst),
            sym AS MATERIALIZED (
              SELECT lo AS id, hi AS nbr FROM e
              UNION ALL SELECT hi, lo FROM e),
            live0 AS (SELECT DISTINCT id FROM sym)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""
            pri{r} AS MATERIALIZED (
              SELECT id, ('0x' || substring(md5('{seed}|{r}|' || id), 1, 15))
                           ::BIGINT AS h
              FROM live{r - 1}),
            win{r} AS MATERIALIZED (
              SELECT p.id FROM pri{r} p WHERE NOT EXISTS (
                SELECT 1 FROM sym s JOIN pri{r} q ON q.id = s.nbr
                WHERE s.id = p.id
                  AND (q.h < p.h OR (q.h = p.h AND q.id < p.id)))),
            live{r} AS MATERIALIZED (
              SELECT id FROM live{r - 1}
              WHERE id NOT IN (SELECT id FROM win{r})
                AND id NOT IN (SELECT s.id FROM sym s
                               JOIN win{r} w ON w.id = s.nbr))""")
    union = "\n            UNION ALL ".join(
        f"SELECT id, {r} AS mis_round FROM win{r}"
        for r in range(1, rounds + 1))
    return ("WITH " + ",".join(ctes)
            + f"\n            {union}\n            ORDER BY id")


def _q_inferred_types(spark, sf_dir):
    """Seeded entity-type inference (operators/types.assign_types, Zhu-
    Ghahramani clamped label spreading, 2 rounds) over the TPC-H KG:
    seeds are the ~1/5 hash-selected entities with their true prefix as
    type; everything else infers a posterior from its neighborhood.
    Integer-micro mass arithmetic; the oracle unrolls both rounds."""
    from climatemind_ontology_processing_spark.operators.types import (
        assign_types)
    trip = _tpch_kg_triples(spark, sf_dir)
    ents = (trip.select(F.col("subj").alias("id"))
            .unionByName(trip.select(F.col("obj").alias("id"))).distinct())
    h = F.conv(F.substring(F.md5(F.concat(F.lit("seed|"), F.col("id"))),
                           1, 15), 16, 10).cast("long")
    seeds = (ents.filter(h % 5 == 0)
             .select("id", F.expr("split_part(id, ':', 1)").alias("type")))
    return (assign_types(trip, seeds, rounds=2, src="subj", dst="obj")
            .orderBy("id"))


def _q_jp_coloring(spark, sf_dir):
    """Jones-Plassmann greedy coloring (operators/coloring.jp_coloring,
    Jones & Plassmann 1993) over a 1/10 md5-slice of the customer-supplier
    graph: static md5_60 priorities, per-round local-minimum winners, mex
    color choice.  Equivalent by construction to SEQUENTIAL greedy in
    (priority, id) order (pinned in tests); the oracle unrolls 36 JP
    rounds — past the fixpoint (29 measured at sf0.01, 8 at sf0.001)
    further rounds are no-ops, same covering-unroll contract as
    k_truss."""
    from climatemind_ontology_processing_spark.operators.coloring import (
        jp_coloring)
    buys = (_tpch_kg_triples(spark, sf_dir)
            .filter(F.col("pred") == "buys_from")
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst")))
    sl = buys.filter(
        F.conv(F.substring(F.md5(F.concat_ws("|", "src", "dst")), 1, 15),
               16, 10).cast("long") % 10 == 0)
    return (jp_coloring(sl, seed="color")
            .select("id", F.col("color").cast("long").alias("color"),
                    "jp_round")
            .orderBy("id"))


def _jp_sql(rounds: int = 36, seed: str = "color") -> str:
    """DuckDB twin of _q_jp_coloring: per-round winner/mex/accumulate
    CTEs (AS MATERIALIZED — round-5 re-inlining lesson)."""
    ctes = [f"""
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM ({_BUYS_SQL.strip()}) WHERE src <> dst
                AND ('0x' || substring(md5(src || '|' || dst), 1, 15))
                      ::BIGINT % 10 = 0),
            sym AS MATERIALIZED (
              SELECT lo AS id, hi AS nbr FROM e
              UNION ALL SELECT hi, lo FROM e),
            pri AS MATERIALIZED (
              SELECT id, ('0x' || substring(md5('{seed}|' || id), 1, 15))
                           ::BIGINT AS h
              FROM (SELECT DISTINCT id FROM sym)),
            live0 AS (SELECT id FROM pri),
            col0 AS (SELECT NULL::VARCHAR AS id, NULL::BIGINT AS color,
                            NULL::INT AS jp_round WHERE false)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""
            win{r} AS MATERIALIZED (
              SELECT p.id FROM pri p
              JOIN live{r - 1} lv ON lv.id = p.id
              WHERE NOT EXISTS (
                SELECT 1 FROM sym s
                JOIN pri q ON q.id = s.nbr
                JOIN live{r - 1} lq ON lq.id = s.nbr
                WHERE s.id = p.id
                  AND (q.h < p.h OR (q.h = p.h AND q.id < p.id)))),
            asg{r} AS MATERIALIZED (
              SELECT w.id,
                     coalesce(list_min(list_filter(
                       range(0, coalesce(len(nb.cols), 0) + 2),
                       x -> NOT list_contains(
                         coalesce(nb.cols, []::BIGINT[]), x))), 0)::BIGINT
                       AS color,
                     {r} AS jp_round
              FROM win{r} w LEFT JOIN (
                SELECT s.id, list(DISTINCT c.color) AS cols
                FROM sym s JOIN col{r - 1} c ON c.id = s.nbr
                GROUP BY s.id) nb ON nb.id = w.id),
            col{r} AS MATERIALIZED (
              SELECT id, color, jp_round FROM col{r - 1}
              UNION ALL SELECT id, color, jp_round FROM asg{r}),
            live{r} AS MATERIALIZED (
              SELECT id FROM live{r - 1}
              WHERE id NOT IN (SELECT id FROM win{r}))""")
    return ("WITH " + ",".join(ctes)
            + f"\n            SELECT id, color, jp_round FROM col{rounds}"
            + "\n            ORDER BY id")


def _spread_sql(rounds: int = 2) -> str:
    """DuckDB twin of _q_inferred_types: unrolled clamped-spreading CTEs."""
    ctes = [f"""
            triples AS MATERIALIZED ({_KG_SQL}),
            e AS (SELECT DISTINCT subj AS a, obj AS b FROM triples
                  WHERE subj <> obj),
            sym AS MATERIALIZED (
              SELECT a AS id, b AS nbr FROM e UNION SELECT b, a FROM e),
            ents AS (SELECT DISTINCT id FROM sym),
            seeds AS MATERIALIZED (
              SELECT id, split_part(id, ':', 1) AS type FROM ents
              WHERE ('0x' || substring(md5('seed|' || id), 1, 15))::BIGINT
                      % 5 = 0),
            s0 AS (SELECT id, type, 1000000::BIGINT AS score FROM seeds)"""]
    for r in range(1, rounds + 1):
        ctes.append(f"""
            g{r} AS MATERIALIZED (
              SELECT s.id, st.type, sum(st.score)::BIGINT AS g
              FROM sym s JOIN s{r - 1} st ON st.id = s.nbr GROUP BY 1, 2),
            s{r} AS MATERIALIZED (
              SELECT g{r}.id, type,
                     ((g * 1000000) // tot)::BIGINT AS score
              FROM g{r} JOIN (SELECT id, sum(g)::BIGINT AS tot
                              FROM g{r} GROUP BY id) t USING (id)
              WHERE g{r}.id NOT IN (SELECT id FROM seeds)
              UNION ALL SELECT id, type, score FROM s0)""")
    return ("WITH " + ",".join(ctes) + f"""
            SELECT b.id, b.type, b.score AS score_micro,
                   (CASE WHEN b.id IN (SELECT id FROM seeds)
                         THEN 1 ELSE 0 END)::INT AS is_seed
            FROM (SELECT id, type, score, row_number() OVER (
                    PARTITION BY id ORDER BY score DESC, type ASC) AS rn
                  FROM s{rounds}) b
            WHERE rn = 1 ORDER BY b.id""")


def _q_entity_alignment(spark, sf_dir):
    """Cross-KG sameAs alignment (operators/align.align_entities, PARIS-
    style shared-fact evidence): the left KG is each customer's bought-
    part fact set; the right KG renames the ids and hash-drops ~1/3 of
    the facts — alignment must still rank the true counterpart first.
    Integer micro weights (1e6 div holders), hub guard at 100 holders."""
    from climatemind_ontology_processing_spark.operators.align import (
        align_entities)
    o = _read(spark, sf_dir, "orders")
    l = _read(spark, sf_dir, "lineitem")
    facts = (o.join(l, l.l_orderkey == o.o_orderkey)
             .filter(F.col("o_custkey") <= 300)
             .select(F.col("o_custkey").alias("ck"),
                     F.col("l_partkey").alias("pk"))
             .distinct())
    left = facts.select(
        F.concat(F.lit("c:"), F.col("ck").cast("string")).alias("subj"),
        F.lit("bought").alias("pred"),
        F.concat(F.lit("p:"), F.col("pk").cast("string")).alias("obj"))
    keep_h = F.conv(F.substring(F.md5(F.concat_ws(
        "|", F.lit("keep"), F.col("ck").cast("string"),
        F.col("pk").cast("string"))), 1, 15), 16, 10).cast("long")
    right = (facts.filter(keep_h % 3 != 0)
             .select(F.concat(F.lit("cust-"), F.col("ck").cast("string"))
                     .alias("subj"),
                     F.lit("bought").alias("pred"),
                     F.concat(F.lit("p:"), F.col("pk").cast("string"))
                     .alias("obj")))
    return (align_entities(left, right, max_holders=100, top_k=3,
                           min_shared=2)
            .orderBy("x", "rank"))


def _rdfs_sql(mods: tuple = (0,)) -> str:
    """DuckDB twin of _q_rdfs_closure (and, with mods=(0, 1), the
    from-scratch recompute that proves _q_rdfs_delta's increment): the
    same stratified RDFS rules, with the subClassOf/subPropertyOf
    transitive closures as recursive CTEs (UNION dedup keeps cyclic
    schemas bounded — dag_layers lesson) and the schema VALUES built
    from the SAME _RDFS_SCHEMA literal the Spark query uses."""
    vals = ", ".join(f"('{s}', '{p}', '{o}')" for s, p, o in _RDFS_SCHEMA)
    modlist = ", ".join(str(m) for m in mods)
    # NOTE: under WITH RECURSIVE, DuckDB 1.0 does NOT dedupe a plain
    # `A UNION B` across arms in a NON-self-referencing CTE (minimal
    # repro in CLAUDE.md round-5 lessons) — every non-recursive union
    # below is therefore SELECT DISTINCT over UNION ALL; only the truly
    # recursive sc/sp CTEs use UNION (where recursive semantics apply
    # and dedup correctly).
    return f"""
        WITH RECURSIVE
        tk AS MATERIALIZED ({_KG_SQL}),
        inst0 AS MATERIALIZED (
          SELECT subj, pred, obj FROM tk
          WHERE pred <> 'buys_from'
             OR ('0x' || substring(md5(subj || '|' || obj), 1, 15))::BIGINT
                % 20 IN ({modlist})),
        ents AS (SELECT DISTINCT e FROM (
                   SELECT subj AS e FROM inst0
                   UNION ALL SELECT obj FROM inst0)),
        decl AS (SELECT e AS subj, 'type' AS pred,
                        CASE substring(e, 1, 2)
                          WHEN 'c:' THEN 'Customer'
                          WHEN 's:' THEN 'Supplier'
                          WHEN 'n:' THEN 'Nation'
                          ELSE 'Region' END AS obj
                 FROM ents),
        inst AS MATERIALIZED (
          SELECT DISTINCT subj, pred, obj FROM (
            SELECT subj, pred, obj FROM inst0
            UNION ALL SELECT subj, pred, obj FROM decl)),
        sch(subj, pred, obj) AS (VALUES {vals}),
        sc(c, d) AS (
          SELECT subj, obj FROM sch WHERE pred = 'subClassOf'
          UNION
          SELECT sc.c, s2.obj FROM sc JOIN sch s2
            ON s2.pred = 'subClassOf' AND s2.subj = sc.d),
        sp(p, q) AS (
          SELECT subj, obj FROM sch WHERE pred = 'subPropertyOf'
          UNION
          SELECT sp.p, s2.obj FROM sp JOIN sch s2
            ON s2.pred = 'subPropertyOf' AND s2.subj = sp.q),
        a0 AS (SELECT subj, pred, obj FROM inst WHERE pred <> 'type'),
        exta AS (
          SELECT DISTINCT subj, pred, obj FROM (
            SELECT subj, pred, obj FROM a0
            UNION ALL
            SELECT a0.subj, sp.q, a0.obj FROM a0 JOIN sp ON sp.p = a0.pred)),
        dome AS (
          SELECT DISTINCT p, c FROM (
            SELECT subj AS p, obj AS c FROM sch WHERE pred = 'domain'
            UNION ALL
            SELECT sp.p, d.obj FROM sp JOIN sch d
              ON d.pred = 'domain' AND d.subj = sp.q)),
        rnge AS (
          SELECT DISTINCT p, c FROM (
            SELECT subj AS p, obj AS c FROM sch WHERE pred = 'range'
            UNION ALL
            SELECT sp.p, r.obj FROM sp JOIN sch r
              ON r.pred = 'range' AND r.subj = sp.q)),
        typ AS (
          SELECT DISTINCT subj, c FROM (
            SELECT subj, obj AS c FROM inst WHERE pred = 'type'
            UNION ALL
            SELECT a0.subj, dome.c FROM a0 JOIN dome ON dome.p = a0.pred
            UNION ALL
            SELECT a0.obj, rnge.c FROM a0 JOIN rnge ON rnge.p = a0.pred)),
        typall AS (
          SELECT DISTINCT subj, c FROM (
            SELECT subj, c FROM typ
            UNION ALL
            SELECT typ.subj, sc.d FROM typ JOIN sc ON sc.c = typ.c)),
        ent AS (
          SELECT DISTINCT subj, pred, obj FROM (
            SELECT subj, pred, obj FROM exta
            UNION ALL SELECT subj, 'type', c FROM typall
            UNION ALL SELECT c, 'subClassOf', d FROM sc
            UNION ALL SELECT p, 'subPropertyOf', q FROM sp
            UNION ALL SELECT subj, pred, obj FROM sch)),
        asrt AS (
          SELECT DISTINCT subj, pred, obj FROM (
            SELECT subj, pred, obj FROM inst
            UNION ALL SELECT subj, pred, obj FROM sch))
        SELECT e.subj, e.pred, e.obj,
               CASE WHEN a.subj IS NULL THEN 1 ELSE 0 END AS derived
        FROM ent e LEFT JOIN asrt a
          ON a.subj = e.subj AND a.pred = e.pred AND a.obj = e.obj
        ORDER BY e.subj, e.pred, e.obj
    """


_ALIGN_SQL = """
            WITH facts AS MATERIALIZED (
              SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
              FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              WHERE o_custkey <= 300),
            lft AS (SELECT 'c:' || ck AS subj, 'bought' AS pred,
                           'p:' || pk AS obj FROM facts),
            rgt AS (SELECT 'cust-' || ck AS subj, 'bought' AS pred,
                           'p:' || pk AS obj FROM facts
                    WHERE ('0x' || substring(md5(
                            'keep|' || ck || '|' || pk), 1, 15))::BIGINT
                          % 3 <> 0),
            u AS (SELECT * FROM lft UNION ALL SELECT * FROM rgt),
            w AS MATERIALIZED (
              SELECT pred, obj,
                     (1000000 // count(DISTINCT subj))::BIGINT AS _w
              FROM u GROUP BY pred, obj
              HAVING count(DISTINCT subj) <= 100),
            cand AS (
              SELECT lft.subj AS x, rgt.subj AS y,
                     count(*)::BIGINT AS n_shared,
                     sum(_w)::BIGINT AS score_micro
              FROM lft JOIN w USING (pred, obj) JOIN rgt USING (pred, obj)
              GROUP BY 1, 2 HAVING count(*) >= 2),
            ranked AS (
              SELECT x, y, n_shared, score_micro, row_number() OVER (
                PARTITION BY x ORDER BY score_micro DESC, y ASC) AS rank
              FROM cand)
            SELECT x, y, n_shared, score_micro, rank FROM ranked
            WHERE rank <= 3 ORDER BY x, rank
"""


def _betweenness_sql(n_sources: int = 4, levels: int = 5) -> str:
    """Unrolled Brandes: forward BFS-with-sigma rounds f1..fL (past the
    eccentricity the frontier is empty and rounds are no-ops), then
    backward dependency levels dL..d0 with the identical micro truncation
    (sigma_v * (1e6 + delta_w)) // sigma_w the Spark operator uses."""
    fwd = []
    prev = "f0"
    for i in range(1, levels + 1):
        cur = f"f{i}"
        fwd.append(f"""
        {cur} AS MATERIALIZED (
          SELECT * FROM {prev}
          UNION ALL
          SELECT fr.s, e.b AS v, {i} AS dist, sum(fr.sigma)::BIGINT AS sigma
          FROM {prev} fr JOIN sym e ON e.a = fr.v
          WHERE fr.dist = {i - 1}
            AND NOT EXISTS (SELECT 1 FROM {prev} x
                            WHERE x.s = fr.s AND x.v = e.b)
          GROUP BY fr.s, e.b)""")
        prev = cur
    final = prev
    bwd = [f"""
        d{levels} AS (SELECT s, v, sigma, 0::BIGINT AS delta
                      FROM {final} WHERE dist = {levels})"""]
    for l in range(levels - 1, -1, -1):
        bwd.append(f"""
        d{l} AS MATERIALIZED (
          SELECT f.s, f.v, f.sigma,
                 coalesce(sum((f.sigma * (1000000 + t.tdelta)) // t.tsigma),
                          0)::BIGINT AS delta
          FROM (SELECT * FROM {final} WHERE dist = {l}) f
          LEFT JOIN (SELECT e.a AS a, w.s AS ws, w.sigma AS tsigma,
                            w.delta AS tdelta
                     FROM sym e JOIN d{l + 1} w ON w.v = e.b) t
            ON t.a = f.v AND t.ws = f.s
          GROUP BY f.s, f.v, f.sigma)""")
    union = " UNION ALL ".join(f"SELECT * FROM d{l}"
                               for l in range(levels + 1))
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sym AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM all_edges
          UNION
          SELECT dst, src FROM all_edges),
        srcs AS (SELECT a AS id FROM (SELECT DISTINCT a FROM sym)
                 ORDER BY md5(id::VARCHAR), id LIMIT {n_sources}),
        f0 AS (SELECT id AS s, id AS v, 0 AS dist, 1::BIGINT AS sigma
               FROM srcs),
        {",".join(fwd)},
        {",".join(bwd)}
        SELECT v AS id, sum(delta)::BIGINT AS bc_micro
        FROM ({union}) u WHERE v <> s GROUP BY v ORDER BY id
    """


def _landmark_sql(n_landmarks: int = 3, rounds: int = 8) -> str:
    """Unrolled concurrent multi-landmark BFS (same relaxation algebra as
    _shortest_paths_sql, composite (landmark, id) key).  Past the fixpoint
    extra rounds are no-ops, so ``rounds`` only needs to COVER the real hop
    diameter (trade graph: <= 3; verified at both SFs)."""
    steps = []
    prev = "d0"
    for i in range(1, rounds + 1):
        cur = f"d{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT landmark, id, min(dist)::BIGINT AS dist FROM (
            SELECT landmark, id, dist FROM {prev}
            UNION ALL
            SELECT p.landmark, e.b AS id, p.dist + 1 AS dist
            FROM {prev} p JOIN sym e ON e.a = p.id)
          GROUP BY landmark, id)""")
        prev = cur
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sym AS MATERIALIZED (
          SELECT src AS a, dst AS b FROM all_edges
          UNION
          SELECT dst, src FROM all_edges),
        deg AS (SELECT a, count(*)::BIGINT AS deg FROM sym GROUP BY a),
        lm AS (SELECT a AS id FROM deg
               ORDER BY deg DESC, a ASC LIMIT {n_landmarks}),
        d0 AS (SELECT id AS landmark, id, 0::BIGINT AS dist FROM lm),
        {",".join(steps)}
        SELECT landmark, id, dist FROM {prev} ORDER BY landmark, id
    """


def _k_truss_sql(k: int = 4, rounds: int = 6) -> str:
    need = k - 2
    parts = [f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
          FROM all_edges
          WHERE (src * 31 + dst) % 3 = 0 AND src <> dst
        )"""]
    for r in range(rounds):
        parts.append(f""",
        t{r} AS (
          SELECT x.lo AS a, x.hi AS b, y.hi AS c
          FROM e{r} x JOIN e{r} y ON y.lo = x.hi
          WHERE EXISTS (SELECT 1 FROM e{r} z
                        WHERE z.lo = x.lo AND z.hi = y.hi)
        ),
        s{r} AS (
          SELECT lo, hi, count(*) AS sup FROM (
            SELECT a AS lo, b AS hi FROM t{r}
            UNION ALL SELECT a, c FROM t{r}
            UNION ALL SELECT b, c FROM t{r}) GROUP BY lo, hi
        ),
        e{r + 1} AS MATERIALIZED (
          SELECT e.lo, e.hi FROM e{r} e
          LEFT JOIN s{r} s ON s.lo = e.lo AND s.hi = e.hi
          WHERE coalesce(s.sup, 0) >= {need}
        )""")
    parts.append(f"""
        SELECT lo::INT AS lo, hi::INT AS hi FROM e{rounds}
        ORDER BY lo, hi""")
    return "".join(parts)


def _q_scd2_order_status(spark, sf_dir):
    """SCD2 validity runs (operators/temporal.scd2_compact): each
    customer's order-status observation stream (ordered by order date,
    orderkey tiebreak) compacted to value runs with valid-from /
    valid-to.  valid_to_key is coalesced to -1 (nullable BIGINTs come
    back from DuckDB/pandas as float NaN — CLAUDE.md)."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        scd2_compact)
    obs = _read(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_orderkey").alias("ok"))
    runs = scd2_compact(obs, keys=("custkey",), val_col="status",
                        order_cols=("od", "ok"))
    return (runs.select(
        "custkey", "status",
        F.col("od").cast("string").alias("valid_from_date"),
        F.col("ok").alias("valid_from_key"),
        F.coalesce(F.col("_valid_to.ok"), F.lit(-1)).alias("valid_to_key"),
        "is_current")
        .orderBy("custkey", "valid_from_date", "valid_from_key"))


def _q_negative_triples(spark, sf_dir):
    """Filtered KG negative sampling (operators/negatives.negative_triples,
    TransE corruption): deterministic hash-bucketed tail corruption of the
    sparse trade triple set, md5_60 family so DuckDB replays every bucket
    choice and argmin pick."""
    from climatemind_ontology_processing_spark.operators.negatives import (
        negative_triples)
    triples = (_trade_edges(spark, sf_dir)
               .filter((F.col("src") * 31 + F.col("dst")) % 2 == 0)
               .select(F.col("src").alias("subj"),
                       F.lit("trades_with").alias("pred"),
                       F.col("dst").alias("obj")))
    return (negative_triples(triples, k=2, buckets=8, hash_family="md5_60")
            .orderBy("subj", "obj", "j"))


def _q_gopher_rules(spark, sf_dir):
    """Gopher document-filter rule flags (operators/textstats.gopher_rules,
    Rae et al. 2021 Table A1) — all thresholds as integer
    cross-multiplications, so the hash match is bit-exact."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        gopher_rules)
    docs = _read(spark, sf_dir, "documents")
    return gopher_rules(docs, min_words=30).orderBy("doc_id")


def _q_hits_scores(spark, sf_dir):
    """HITS hubs/authorities (operators/graphstats.hits): 3 L2-normalized
    synchronous rounds over a sparse trade subgraph.  Scores are
    decimal-routed strings (authority/hub values go below 1e-3, the
    sci-notation hashing pitfall)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        hits)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 5 == 0)
    dec = lambda c: F.round(c, 6).cast("decimal(20,6)").cast("string")
    return (hits(edges, rounds=3)
            .select(F.col("id").cast("int").alias("id"),
                    dec(F.col("authority")).alias("auth_s"),
                    dec(F.col("hub")).alias("hub_s"))
            .orderBy("id"))


def _hits_sql(rounds: int = 3) -> str:
    parts = [f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        e AS MATERIALIZED (
          SELECT src AS u, dst AS v FROM all_edges
          WHERE (src * 31 + dst) % 5 = 0
        ),
        nodes AS MATERIALIZED (
          SELECT DISTINCT u AS id FROM e UNION SELECT DISTINCT v FROM e
        ),
        h0 AS (SELECT id, 1.0::DOUBLE AS hub FROM nodes)"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
        ap{r} AS MATERIALIZED (
          SELECT n.id, coalesce(s.x, 0.0) AS x FROM nodes n LEFT JOIN (
            SELECT e.v AS id, sum(h.hub) AS x
            FROM e JOIN h{r-1} h ON h.id = e.u GROUP BY e.v) s USING (id)
        ),
        an{r} AS (SELECT sqrt(sum(x * x)) AS nrm FROM ap{r}),
        a{r} AS MATERIALIZED (
          SELECT id, CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END AS auth
          FROM ap{r}, an{r}
        ),
        hp{r} AS MATERIALIZED (
          SELECT n.id, coalesce(s.x, 0.0) AS x FROM nodes n LEFT JOIN (
            SELECT e.u AS id, sum(a.auth) AS x
            FROM e JOIN a{r} a ON a.id = e.v GROUP BY e.u) s USING (id)
        ),
        hn{r} AS (SELECT sqrt(sum(x * x)) AS nrm FROM hp{r}),
        h{r} AS MATERIALIZED (
          SELECT id, CASE WHEN nrm > 0 THEN x / nrm ELSE 0.0 END AS hub
          FROM hp{r}, hn{r}
        )""")
    parts.append(f"""
        SELECT a.id::INT AS id,
               round(a.auth, 6)::DECIMAL(20,6)::VARCHAR AS auth_s,
               round(h.hub, 6)::DECIMAL(20,6)::VARCHAR AS hub_s
        FROM a{rounds} a JOIN h{rounds} h USING (id) ORDER BY id""")
    return "".join(parts)


def _q_neighborhood_mean(spark, sf_dir):
    """GNN-style 2-round neighbor-mean aggregation
    (operators/graphstats.neighborhood_mean) — ENGINE-EXACT by
    construction: features are micro-BIGINTs and each round is the integer
    ``sum DIV degree``, so the hash match is bit-for-bit with no float
    rounding anywhere."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        neighborhood_mean)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 3 == 0)
    return (neighborhood_mean(edges, rounds=2)
            .select(F.col("id").cast("int").alias("id"), "f_micro")
            .orderBy("id"))


def _q_random_walks(spark, sf_dir):
    """Deterministic graph-embedding walks
    (operators/graphstats.random_walks, md5_60 family so DuckDB replays
    every hop choice): length-4 walks from every trade node, next hop =
    argmin per-step md5 hash over out-neighbors."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        random_walks)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 4 == 0)
    return (random_walks(edges, length=4, hash_family="md5_60")
            .select(F.col("start").cast("int").alias("start"),
                    F.col("step").cast("int").alias("step"),
                    F.col("node").cast("int").alias("node"))
            .orderBy("start", "step"))


def _random_walks_sql(length: int = 4) -> str:
    def h(t):
        return (f"('0x' || substring(md5('rw|{t}|' || w.node::VARCHAR || "
                f"'|' || e.n::VARCHAR), 1, 15))::BIGINT")

    parts = [f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        e AS MATERIALIZED (
          SELECT DISTINCT src AS c, dst AS n FROM all_edges
          WHERE (src * 31 + dst) % 4 = 0
        ),
        w0 AS (SELECT DISTINCT c AS start, c AS node FROM e)"""]
    for t in range(1, length + 1):
        parts.append(f""",
        w{t} AS MATERIALIZED (
          SELECT start, node FROM (
            SELECT w.start, e.n AS node, row_number() OVER (
              PARTITION BY w.start ORDER BY {h(t)}, e.n) AS rn
            FROM w{t-1} w JOIN e ON e.c = w.node) WHERE rn = 1
        )""")
    steps = "\n            UNION ALL ".join(
        f"SELECT start, {t} AS step, node FROM w{t}"
        for t in range(0, length + 1))
    parts.append(f"""
        SELECT start::INT AS start, step::INT AS step, node::INT AS node
        FROM ({steps}) ORDER BY start, step""")
    return "".join(parts)


def _q_skipgram_pairs(spark, sf_dir):
    """Skip-gram training pairs (operators/graphstats.skipgram_pairs —
    the DeepWalk corpus stage, Perozzi et al. 2014) over the SAME
    deterministic walks as the random_walks query (window 2): the
    embedding-training data-generation step between walk sampling and
    SGD.  The oracle wraps the random_walks oracle in the equivalent
    within-walk self-join + count."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        random_walks, skipgram_pairs)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 4 == 0)
    walks = random_walks(edges, length=4, hash_family="md5_60")
    return (skipgram_pairs(walks, window=2)
            .select(F.col("center").cast("int").alias("center"),
                    F.col("context").cast("int").alias("context"),
                    "n_pairs")
            .orderBy("center", "context"))


def _skipgram_sql(window: int = 2) -> str:
    rw = _random_walks_sql(4)
    return f"""
        SELECT center::INT AS center, context::INT AS context,
               count(*)::BIGINT AS n_pairs
        FROM (
          SELECT a.node AS center, b.node AS context
          FROM ({rw}) a JOIN ({rw}) b
            ON a.start = b.start AND a.step <> b.step
           AND abs(a.step - b.step) <= {window})
        GROUP BY 1, 2
        ORDER BY center, context
    """


def _q_delta_components(spark, sf_dir):
    """INCREMENTAL connected components
    (operators/canonicalize.merge_components): label a base edge set, then
    fold a delta batch in WITHOUT re-walking the base — the oracle
    recomputes components over base ∪ delta directly, so the hash match
    IS the incremental-equals-full equivalence proof."""
    from climatemind_ontology_processing_spark.operators.canonicalize import (
        connected_components, merge_components)
    trade = _trade_edges(spark, sf_dir).select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
        ((F.col("src").cast("int") * 31 + F.col("dst").cast("int")) % 11)
        .alias("_m"))
    base = trade.filter(F.col("_m") == 0).drop("_m")
    delta = trade.filter(F.col("_m") == 3).drop("_m")
    labels = connected_components(base)
    return (merge_components(labels, delta)
            .select(F.col("id").cast("int").alias("id"),
                    F.col("component").cast("int").alias("component"))
            .orderBy("id"))


def _q_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the undirected sparse trade subgraph
    (operators/graphstats.py) — the clustering-coefficient building block."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        triangle_counts)
    edges = (_trade_edges(spark, sf_dir)
             .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0))
    return (triangle_counts(edges)
            .select(F.col("id").cast("int").alias("id"), "n_triangles")
            .orderBy("id"))


def _q_textrank_keywords(spark, sf_dir):
    """TextRank keyword scores (operators/keyphrases.textrank_scores,
    Mihalcea & Tarau 2004): integer-micro weighted PageRank over the
    corpus token co-occurrence graph (window 2, 3 rounds), top 200 by
    (score desc, tok asc).  The oracle unrolls the three rounds as CTEs
    with the identical BIGINT `div` recurrence — bit-exact."""
    from climatemind_ontology_processing_spark.operators.keyphrases import (
        textrank_scores)
    docs = _read(spark, sf_dir, "documents")
    return (textrank_scores(docs, window=2, iters=3)
            .orderBy(F.desc("score"), F.asc("tok"))
            .limit(200))


def _textrank_sql(iters: int = 3, window: int = 2, top: int = 200) -> str:
    steps = []
    prev = "s0"
    for i in range(1, iters + 1):
        cur = f"s{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT t.tok,
                 (150000 + (85 * coalesce(f.flow, 0)) // 100)::BIGINT AS score
          FROM (SELECT tok FROM s0) t LEFT JOIN (
            SELECT e.dst AS tok, sum((s.score * e.w) // e.wsum) AS flow
            FROM e JOIN {prev} s ON s.tok = e.src GROUP BY 1) f USING (tok)
        )""")
        prev = cur
    return f"""
        WITH toks AS (
          SELECT doc_id, list_filter(
            string_split_regex(lower(text), '\\s+'), x -> x <> '') AS t
          FROM documents),
        pos AS (
          SELECT doc_id, unnest(t) AS tok,
                 unnest(generate_series(1, len(t))) AS pos
          FROM toks),
        pairs AS (
          SELECT least(a.tok, b.tok) AS lo, greatest(a.tok, b.tok) AS hi
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id
           AND b.pos > a.pos AND b.pos <= a.pos + {window}
           AND a.tok <> b.tok),
        und AS (SELECT lo, hi, count(*) AS w FROM pairs GROUP BY 1, 2),
        edges AS (SELECT lo AS src, hi AS dst, w FROM und
                  UNION ALL SELECT hi, lo, w FROM und),
        strength AS (SELECT src, sum(w) AS wsum FROM edges GROUP BY 1),
        e AS MATERIALIZED (
          SELECT edges.src, dst, w, wsum FROM edges JOIN strength USING (src)),
        s0 AS (SELECT src AS tok, 1000000::BIGINT AS score FROM strength),
        {",".join(steps)}
        SELECT tok, score FROM {prev}
        ORDER BY score DESC, tok ASC LIMIT {top}
    """


def _q_butterfly_counts(spark, sf_dir):
    """Per-part butterfly (bipartite 4-cycle) counts on the order—part
    bipartite graph (operators/graphstats.butterfly_counts): two parts
    sharing two orders form a butterfly — the bipartite clustering unit.
    Registered cap-free so the oracle replays exact wedge semantics; the
    hub-degree guardrail is pinned by pytest."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        butterfly_counts)
    li = _read(spark, sf_dir, "lineitem")
    return (butterfly_counts(li, u="l_orderkey", v="l_partkey")
            .select(F.col("id").cast("long").alias("p_partkey"),
                    "n_butterflies")
            .orderBy("p_partkey"))


def _q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (ties broken term-ascending) — the
    keyword-extraction primitive of a text pipeline.  N_docs rides the plan
    as a broadcast 1-row aggregate (no separate .count() action — round-2
    verdict "What's wrong #3"): the whole query is ONE job."""
    docs = _read(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")) \
        .filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count("*").cast("double").alias("_n_docs"))
    scored = (tf.join(df_, "term")
              .crossJoin(F.broadcast(nd))
              .withColumn("tfidf",
                          F.round(F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6)))
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(),
                                             F.col("term").asc())
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "rnk", "term", "tfidf")
            .orderBy("doc_id", "rnk"))


def _q_pagerank(spark, sf_dir):
    """PageRank (10 power iterations, d=0.85) over the trade graph —
    concept-importance ranking for entity-link scoring
    (operators/pagerank.py).  The oracle replays the identical fixed
    iteration count with unrolled CTEs."""
    from climatemind_ontology_processing_spark.operators.pagerank import (
        pagerank)
    edges = _trade_edges(spark, sf_dir)
    return (pagerank(edges, iters=10, damping=0.85)
            .select(F.col("id").cast("int").alias("id"),
                    F.round("rank", 6).alias("rank"))
            .orderBy("id"))


def _pagerank_sql(iters: int = 10, d: float = 0.85) -> str:
    """Unrolled power-iteration oracle (recursive CTEs with aggregates over
    the recursive table are non-standard, so each iteration is its own CTE
    generated here)."""
    steps = []
    prev = "pr0"
    for i in range(1, iters + 1):
        cur = f"pr{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT n.id,
                 (1 - {d}) / s.n
                 + {d} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                          WHERE p.id NOT IN (SELECT id FROM outdeg)) / s.n
                 + {d} * coalesce(inf.flow, 0) AS rank
          FROM nodes n CROSS JOIN sz s
          LEFT JOIN (
            SELECT e.dst AS id, sum(p.rank / od.deg) AS flow
            FROM {prev} p
            JOIN edges e ON e.src = p.id
            JOIN outdeg od ON od.id = p.id
            GROUP BY 1) inf ON inf.id = n.id
        )""")
        prev = cur
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM all_edges),
        nodes AS MATERIALIZED (
          SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        sz AS MATERIALIZED (SELECT count(*) AS n FROM nodes),
        outdeg AS MATERIALIZED (
          SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
        pr0 AS MATERIALIZED (
          SELECT id, 1.0 / s.n AS rank FROM nodes CROSS JOIN sz s),
        {",".join(steps)}
        SELECT id, round(rank, 6) AS rank FROM {prev} ORDER BY id
    """


def _q_k_core(spark, sf_dir):
    """4-core of the sparse undirected trade subgraph (operators/
    graphstats.k_core — iterative peel; 21 of 25 nodes survive at
    sf0.01).  Oracle unrolls the peel rounds as chained CTEs (fixpoint
    within n rounds since every non-final round removes >= 1 node)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        k_core)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
    return k_core(edges, k=4).orderBy("id")


def _k_core_sql(k: int = 4, rounds: int = 25) -> str:
    steps = []
    prev = "e0"
    for i in range(1, rounds + 1):
        cur = f"e{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT lo, hi FROM {prev}
          WHERE lo IN (SELECT id FROM (
                  SELECT id, count(*) AS c FROM (
                    SELECT lo AS id FROM {prev}
                    UNION ALL SELECT hi FROM {prev}) GROUP BY id)
                WHERE c >= {k})
            AND hi IN (SELECT id FROM (
                  SELECT id, count(*) AS c FROM (
                    SELECT lo AS id FROM {prev}
                    UNION ALL SELECT hi FROM {prev}) GROUP BY id)
                WHERE c >= {k})
        )""")
        prev = cur
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        sparse AS (SELECT src, dst FROM all_edges
                   WHERE (src * 31 + dst) % 7 = 0),
        e0 AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
          FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
        {",".join(steps)}
        SELECT DISTINCT id FROM (
          SELECT lo AS id FROM {prev} UNION ALL SELECT hi FROM {prev})
        ORDER BY id
    """


def _q_clustering_coefficients(spark, sf_dir):
    """Local clustering coefficients over the sparse undirected trade
    subgraph (operators/graphstats.clustering_coefficients) —
    neighborhood-coherence quality signal; micro-BIGINT exact."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        clustering_coefficients)
    edges = _trade_edges(spark, sf_dir) \
        .filter((F.col("src") * 31 + F.col("dst")) % 7 == 0)
    return clustering_coefficients(edges).orderBy("id")


_PPR_SEEDS = [0, 7]


def _q_personalized_pagerank(spark, sf_dir):
    """Personalized PageRank from seed nations {0, 7} (operators/
    pagerank.personalized_pagerank — seed-relatedness prior for entity
    linking); oracle replays the identical unrolled iterations with the
    seed teleport vector inlined."""
    from climatemind_ontology_processing_spark.operators.pagerank import (
        personalized_pagerank)
    edges = _trade_edges(spark, sf_dir)
    return (personalized_pagerank(edges, _PPR_SEEDS, iters=10, damping=0.85)
            .select(F.col("id").cast("int").alias("id"),
                    F.round("rank", 6).cast("decimal(20,6)").cast("string")
                     .alias("rank"))
            .orderBy("id"))


def _ppr_sql(iters: int = 10, d: float = 0.85) -> str:
    """Unrolled PPR oracle — same generator shape as _pagerank_sql with the
    uniform teleport replaced by the seed vector (dangling mass teleports
    back to the seeds)."""
    w = 1.0 / len(set(_PPR_SEEDS))
    seed_values = ", ".join(f"({s}, {w!r})" for s in sorted(set(_PPR_SEEDS)))
    steps = []
    prev = "pr0"
    for i in range(1, iters + 1):
        cur = f"pr{i}"
        steps.append(f"""
        {cur} AS MATERIALIZED (
          SELECT n.id,
                 n.s * ((1 - {d})
                        + {d} * (SELECT coalesce(sum(p.rank), 0) FROM {prev} p
                                 WHERE p.id NOT IN (SELECT id FROM outdeg)))
                 + {d} * coalesce(inf.flow, 0) AS rank
          FROM nodes n
          LEFT JOIN (
            SELECT e.dst AS id, sum(p.rank / od.deg) AS flow
            FROM {prev} p
            JOIN edges e ON e.src = p.id
            JOIN outdeg od ON od.id = p.id
            GROUP BY 1) inf ON inf.id = n.id
        )""")
        prev = cur
    return f"""
        WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
        edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM all_edges),
        seeds(id, w) AS (VALUES {seed_values}),
        nodes AS MATERIALIZED (
          SELECT n.id, coalesce(sd.w, 0.0) AS s FROM (
            SELECT src AS id FROM edges UNION SELECT dst FROM edges) n
          LEFT JOIN seeds sd USING (id)),
        outdeg AS MATERIALIZED (
          SELECT src AS id, count(*) AS deg FROM edges GROUP BY 1),
        pr0 AS MATERIALIZED (SELECT id, s AS rank FROM nodes),
        {",".join(steps)}
        SELECT id, round(rank, 6)::DECIMAL(20,6)::VARCHAR AS rank
        FROM {prev} ORDER BY id
    """


# ---------------------------------------------------------------------------
# similarity family
# ---------------------------------------------------------------------------
def _q_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors 0-4 (double math, round 6)."""
    emb = _read(spark, sf_dir, "embeddings") \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return (brute_force_topk(emb, queries, k=5)
            .select("qid", "vec_id", "cos_sim", "rank")
            .orderBy("qid", "rank"))


def _q_ivf_topk(spark, sf_dir):
    """IVF probe-path ANN: assign vectors to 8 seeded cells, probe each
    query's 3 nearest cells, exact-cosine rerank (operators/similarity.py
    ivf_topk).  The oracle recomputes the identical probed-cell search with
    the same inlined centroid literals."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivf_topk)
    emb = _read(spark, sf_dir, "embeddings") \
        .select("vec_id", F.transform("embedding",
                                      lambda x: x.cast("double")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return (ivf_topk(emb, queries, dim=64, k=5, n_cells=8, n_probe=3)
            .select("qid", "vec_id", "cos_sim", "rank")
            .orderBy("qid", "rank"))


def _q_int8_quantize(spark, sf_dir):
    """Symmetric per-vector int8 quantization (operators/similarity.
    int8_quantize) — the 4x ANN memory cut; pure JVM codegen expressions.
    q stringified with '|' (driver hash cannot compare array columns)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        int8_quantize)
    emb = _read(spark, sf_dir, "embeddings")
    out = int8_quantize(emb)
    return (out.select(
        "vec_id",
        F.col("scale").cast("decimal(20,6)").cast("string").alias("scale"),
        F.array_join(F.transform("q", lambda x: x.cast("string")), "|")
         .alias("q"))
        .orderBy("vec_id"))


def _q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-5: encode every vector to 8 codes (16
    codewords per subspace, seeded codebooks), score candidates from the
    broadcast per-query lookup tables reading only the code column
    (operators/similarity.py pq_topk).  micro=True sums micro-scaled
    BIGINTs so the DuckDB oracle replays the ranking hash-exactly."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_topk)
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return (pq_topk(emb, queries, dim=64, k=5, m=8, n_codes=16, seed=42,
                    micro=True)
            .select("qid", "vec_id", "adc_micro", "rank")
            .orderBy("qid", "rank"))


def _q_embedding_lsh_pairs(spark, sf_dir):
    """Embedding-cosine near-dup pairs via random-hyperplane LSH bucketing +
    exact cosine verify on band collisions only (operators/similarity.py
    embedding_near_dups).  Hash-free math (seeded plane literals + sign
    bits), so the DuckDB oracle replays the IDENTICAL bucketing."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        embedding_near_dups)
    emb = _read(spark, sf_dir, "embeddings")
    return (embedding_near_dups(emb, dim=64, threshold=0.3, bits=16, bands=8)
            .orderBy("a", "b"))


def _embedding_lsh_sql() -> str:
    from climatemind_ontology_processing_spark.operators.similarity import (
        _hyperplanes)
    planes = _hyperplanes(dim=64, bits=16, seed=42)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
        for i, p in enumerate(planes))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        planes(bit, p) AS (VALUES {values}),
        sig AS (
          SELECT e.vec_id,
                 sum(CASE WHEN list_dot_product(e.v, pl.p) > 0
                          THEN (1::BIGINT << pl.bit) ELSE 0 END)::BIGINT AS s
          FROM e CROSS JOIN planes pl GROUP BY e.vec_id),
        bands(band) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7)),
        banded AS (
          SELECT vec_id, band, (s >> (band * 2)) & 3 AS bh
          FROM sig CROSS JOIN bands),
        cand AS (
          SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.bh = r.bh AND l.vec_id < r.vec_id),
        scored AS (
          SELECT c.a, c.b,
                 round(list_dot_product(ea.v, eb.v)
                       / (sqrt(list_dot_product(ea.v, ea.v))
                          * sqrt(list_dot_product(eb.v, eb.v))), 6) AS cos_sim
          FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b)
        SELECT a, b, cos_sim FROM scored WHERE cos_sim >= 0.3 ORDER BY a, b
    """


def _q_cosine_histogram(spark, sf_dir):
    """All-pairs cosine similarity histogram (0.1 buckets) over the first 200
    vectors — the exact-verification kernel of embedding near-dup detection
    (operators/similarity.py embedding_near_dups), aggregate-checkable."""
    from climatemind_ontology_processing_spark.operators.similarity import cosine
    emb = (_read(spark, sf_dir, "embeddings")
           .filter(F.col("vec_id") < 200)
           .select("vec_id", F.transform(
               "embedding", lambda x: x.cast("double")).alias("v")))
    a = emb.alias("a")
    b = emb.alias("b")
    pairs = (a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
             .select(cosine(F.col("a.v"), F.col("b.v")).alias("c")))
    return (pairs.groupBy(F.floor(F.col("c") * 10).cast("int").alias("bucket"))
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("bucket"))


def _ivf_topk_sql() -> str:
    """Oracle for _q_ivf_topk: identical seeded centroids inlined as literals,
    identical rounded-argmax assignment (ties -> highest cell), identical
    probe set, exact cosine rerank within probed cells only."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pseudo_centroids)
    cents = pseudo_centroids(dim=64, n_cells=8, seed=42)
    values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents(cell, c) AS (VALUES {values}),
        assign AS (
          SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, ct.cell,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(list_dot_product(e.v, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM e CROSS JOIN cents ct) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, qv, cell FROM (
            SELECT q.qid, q.qv, ct.cell,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(q.qv, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM q CROSS JOIN cents ct) WHERE rn <= 3),
        cand AS (
          SELECT p.qid, a.vec_id,
                 round(list_dot_product(a.v, p.qv)
                       / (sqrt(list_dot_product(a.v, a.v))
                          * sqrt(list_dot_product(p.qv, p.qv))), 6) AS cos_sim
          FROM assign a JOIN probe p ON a.cell = p.cell AND a.vec_id <> p.qid),
        ranked AS (
          SELECT qid, vec_id, cos_sim,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY cos_sim DESC, vec_id ASC) AS rank
          FROM cand)
        SELECT qid, vec_id, cos_sim, rank FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank
    """


def _q_ivfpq_topk(spark, sf_dir):
    """IVF+PQ composed ANN (operators/similarity.ivfpq_topk — the
    FAISS-IVFPQ scale shape): 8 seeded coarse cells prune the scan to each
    query's 3 probed cells; within them only the 8-code PQ column is
    ADC-scored (micro-BIGINT sums so the oracle replays hash-exactly).
    The oracle composes the ivf_topk assignment/probe CTEs with the
    pq_topk encode/LUT CTEs verbatim."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivfpq_topk)
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return (ivfpq_topk(emb, queries, dim=64, k=5, n_cells=8, n_probe=3,
                       m=8, n_codes=16, seed=42, micro=True)
            .select("qid", "vec_id", "adc_micro", "rank")
            .orderBy("qid", "rank"))


def _ivfpq_topk_sql() -> str:
    """Oracle for _q_ivfpq_topk: the _ivf_topk_sql assignment/probe CTEs
    (same inlined centroids, rounded-argmax, ties -> highest cell)
    composed with the _pq_topk_sql encode/LUT CTEs (same inlined
    codebooks, round-6-before-argmin encode, micro-BIGINT ADC) — the
    candidate set is cell-pruned, the scoring is code-only."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_cc, pq_pseudo_codebooks, pseudo_centroids)
    cents = pseudo_centroids(dim=64, n_cells=8, seed=42)
    cent_values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    cbs = pq_pseudo_codebooks(dim=64, m=8, n_codes=16, seed=42)
    ccs = pq_cc(cbs)
    dsub = 64 // 8
    cb_values = ", ".join(
        f"({s}, {j}, [{', '.join(repr(x) for x in c)}]::DOUBLE[], {ccs[s][j]!r})"
        for s in range(8) for j, c in enumerate(cbs[s]))
    sub = (f"list_slice(e.v, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})")
    qsub = (f"list_slice(q.qv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})")
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents(cell, c) AS (VALUES {cent_values}),
        cb(sub, code, cw, cc) AS (VALUES {cb_values}),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, ct.cell,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(list_dot_product(e.v, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM e CROSS JOIN cents ct) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, cell FROM (
            SELECT q.qid, ct.cell,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(q.qv, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM q CROSS JOIN cents ct) WHERE rn <= 3),
        enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, cb.sub, cb.code,
                   row_number() OVER (
                     PARTITION BY e.vec_id, cb.sub
                     ORDER BY round(
                       list_dot_product({sub}, {sub})
                       - 2*list_dot_product({sub}, cb.cw)
                       + cb.cc, 6) ASC, cb.code ASC) AS rn
            FROM e CROSS JOIN cb) WHERE rn = 1),
        qd AS (
          SELECT q.qid, cb.sub, cb.code,
                 CAST(round(1e6 * round(
                   list_dot_product({qsub}, {qsub})
                   - 2*list_dot_product({qsub}, cb.cw)
                   + cb.cc, 6)) AS BIGINT) AS ld
          FROM q CROSS JOIN cb),
        cand AS (
          SELECT p.qid, a.vec_id
          FROM assign a JOIN probe p ON a.cell = p.cell
          WHERE a.vec_id <> p.qid),
        scored AS (
          SELECT c.qid, c.vec_id, sum(qd.ld)::BIGINT AS adc_micro
          FROM cand c
          JOIN enc ON enc.vec_id = c.vec_id
          JOIN qd ON qd.qid = c.qid AND qd.sub = enc.sub
                 AND qd.code = enc.code
          GROUP BY c.qid, c.vec_id),
        ranked AS (
          SELECT qid, vec_id, adc_micro,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adc_micro ASC, vec_id ASC) AS rank
          FROM scored)
        SELECT qid, vec_id, adc_micro, rank FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank
    """


def _q_ivfpq_residual(spark, sf_dir):
    """Residual-mode IVFPQ (the authentic IVFADC): corpus codes quantize
    v - centroid[cell], each (query, probed cell) builds LUTs from
    q - centroid[cell].  Same seeded centroid/codebook literals as
    ivfpq_topk so the oracle replays the whole composition including the
    per-cell residual subtraction."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivfpq_topk)
    emb = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    return (ivfpq_topk(emb, queries, dim=64, k=5, n_cells=8, n_probe=3,
                       m=8, n_codes=16, seed=42, micro=True, residual=True)
            .select("qid", "vec_id", "adc_micro", "rank")
            .orderBy("qid", "rank"))


def _ivfpq_residual_sql() -> str:
    """Oracle for _q_ivfpq_residual: the _ivfpq_topk_sql composition with
    per-cell residual subtraction folded into both the encode and the LUT
    CTEs (corpus residual = v - centroid[assigned cell]; query residual =
    q - centroid[probed cell], so LUTs are per (qid, cell))."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_cc, pq_pseudo_codebooks, pseudo_centroids)
    cents = pseudo_centroids(dim=64, n_cells=8, seed=42)
    cent_values = ", ".join(
        f"({i}, [{', '.join(repr(x) for x in c)}]::DOUBLE[])"
        for i, c in enumerate(cents))
    cbs = pq_pseudo_codebooks(dim=64, m=8, n_codes=16, seed=42)
    ccs = pq_cc(cbs)
    dsub = 64 // 8
    cb_values = ", ".join(
        f"({s}, {j}, [{', '.join(repr(x) for x in c)}]::DOUBLE[], {ccs[s][j]!r})"
        for s in range(8) for j, c in enumerate(cbs[s]))
    sub = f"list_slice(r.rv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    qsub = f"list_slice(qr.rv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub})"
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents(cell, c) AS (VALUES {cent_values}),
        cb(sub, code, cw, cc) AS (VALUES {cb_values}),
        assign AS (
          SELECT vec_id, cell FROM (
            SELECT e.vec_id, ct.cell,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round(list_dot_product(e.v, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM e CROSS JOIN cents ct) WHERE rn = 1),
        rese AS (
          SELECT e.vec_id, a.cell,
                 list_transform(generate_series(1, 64),
                                i -> e.v[i] - ct.c[i]) AS rv
          FROM e JOIN assign a ON a.vec_id = e.vec_id
          JOIN cents ct ON ct.cell = a.cell),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        probe AS (
          SELECT qid, cell FROM (
            SELECT q.qid, ct.cell,
                   row_number() OVER (
                     PARTITION BY q.qid
                     ORDER BY round(list_dot_product(q.qv, ct.c), 6) DESC,
                              ct.cell DESC) AS rn
            FROM q CROSS JOIN cents ct) WHERE rn <= 3),
        resq AS (
          SELECT q.qid, p.cell,
                 list_transform(generate_series(1, 64),
                                i -> q.qv[i] - ct.c[i]) AS rv
          FROM q JOIN probe p ON p.qid = q.qid
          JOIN cents ct ON ct.cell = p.cell),
        enc AS (
          SELECT vec_id, cell, sub, code FROM (
            SELECT r.vec_id, r.cell, cb.sub, cb.code,
                   row_number() OVER (
                     PARTITION BY r.vec_id, cb.sub
                     ORDER BY round(
                       list_dot_product({sub}, {sub})
                       - 2*list_dot_product({sub}, cb.cw)
                       + cb.cc, 6) ASC, cb.code ASC) AS rn
            FROM rese r CROSS JOIN cb) WHERE rn = 1),
        qd AS (
          SELECT qr.qid, qr.cell, cb.sub, cb.code,
                 CAST(round(1e6 * round(
                   list_dot_product({qsub}, {qsub})
                   - 2*list_dot_product({qsub}, cb.cw)
                   + cb.cc, 6)) AS BIGINT) AS ld
          FROM resq qr CROSS JOIN cb),
        scored AS (
          SELECT qd.qid, enc.vec_id, sum(qd.ld)::BIGINT AS adc_micro
          FROM enc
          JOIN qd ON qd.cell = enc.cell AND qd.sub = enc.sub
                 AND qd.code = enc.code
          WHERE enc.vec_id <> qd.qid
          GROUP BY qd.qid, enc.vec_id),
        ranked AS (
          SELECT qid, vec_id, adc_micro,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adc_micro ASC, vec_id ASC) AS rank
          FROM scored)
        SELECT qid, vec_id, adc_micro, rank FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank
    """


def _pq_topk_sql() -> str:
    """Oracle for _q_pq_topk: identical seeded codebooks (and their
    precomputed squared norms) inlined as literals, identical
    round-6-before-argmin encode (ties -> lowest code), identical ADC
    scoring over micro-scaled BIGINTs (order-independent integer sums, so
    the hash comparison is exact)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_cc, pq_pseudo_codebooks)
    cbs = pq_pseudo_codebooks(dim=64, m=8, n_codes=16, seed=42)
    ccs = pq_cc(cbs)
    dsub = 64 // 8
    values = ", ".join(
        f"({s}, {j}, [{', '.join(repr(x) for x in c)}]::DOUBLE[], {ccs[s][j]!r})"
        for s in range(8) for j, c in enumerate(cbs[s]))
    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cb(sub, code, cw, cc) AS (VALUES {values}),
        enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT e.vec_id, cb.sub, cb.code,
                   row_number() OVER (
                     PARTITION BY e.vec_id, cb.sub
                     ORDER BY round(
                       list_dot_product(list_slice(e.v, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}),
                                        list_slice(e.v, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}))
                       - 2*list_dot_product(list_slice(e.v, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}), cb.cw)
                       + cb.cc, 6) ASC, cb.code ASC) AS rn
            FROM e CROSS JOIN cb) WHERE rn = 1),
        q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
        qd AS (
          SELECT q.qid, cb.sub, cb.code,
                 CAST(round(1e6 * round(
                   list_dot_product(list_slice(q.qv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}),
                                    list_slice(q.qv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}))
                   - 2*list_dot_product(list_slice(q.qv, cb.sub*{dsub}+1, cb.sub*{dsub}+{dsub}), cb.cw)
                   + cb.cc, 6)) AS BIGINT) AS ld
          FROM q CROSS JOIN cb),
        scored AS (
          SELECT qd.qid, enc.vec_id, sum(qd.ld)::BIGINT AS adc_micro
          FROM enc JOIN qd ON qd.sub = enc.sub AND qd.code = enc.code
          WHERE enc.vec_id <> qd.qid
          GROUP BY qd.qid, enc.vec_id),
        ranked AS (
          SELECT qid, vec_id, adc_micro,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY adc_micro ASC, vec_id ASC) AS rank
          FROM scored)
        SELECT qid, vec_id, adc_micro, rank FROM ranked
        WHERE rank <= 5 ORDER BY qid, rank
    """


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------
def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry ORDER matters: the driver checks the first 50 entries each
    # round.  Round-5 rotation (per the round-4 verdict #1): the 32 legacy
    # queries that fell outside the r4 window lead, followed by bpe_merges
    # and this round's new queries, padded to 50 with round-4 entries.  The
    # twice-driver-green graph/embedding block moves to the tail (their
    # oracles still run in the committed ORACLES_r05 sweep).
    return {
        # -- legacy block: last driver-checked in r3; sweep-green in r4
        "hll_distinct_tokens": _q_hll_distinct_tokens,
        "cms_token_counts": _q_cms_token_counts,
        "bloom_membership": _q_bloom_membership,
        "lang_percentiles": _q_lang_percentiles,
        "decontamination": _q_decontamination,
        "bpe_pair_counts": _q_bpe_pairs,
        "lang_stats": _q_lang_stats,
        "token_counts": _q_token_counts,
        "language_id": _q_language_id,
        "sequence_packing": _q_sequence_packing,
        "quality_features": _q_quality,
        "fingerprint_dups": _q_fingerprint_dups,
        "repetition_stats": _q_repetition_stats,
        "winnow_fingerprints": _q_winnow_fingerprints,
        "salted_source_counts": _q_salted_source_counts,
        "clean_corpus": _q_clean_corpus,
        "containment_pairs": _q_containment_pairs,
        "curated_corpus": _q_curated_corpus,
        "broadcast_lookup": _q_broadcast_lookup,
        "part_sets": _q_part_sets,
        "set_ops": _q_set_ops,
        "rank_nulls_last": _q_rank_nulls_last,
        "first_event_per_user": _q_first_event_per_user,
        "value_collapse": _q_value_collapse,
        "event_sessions": _q_event_sessions,
        "user_sessions": _q_user_sessions,
        "rolling_user_value": _q_rolling_user_value,
        "lang_source_rollup": _q_lang_source_rollup,
        "asof_purchase_click": _q_asof_purchase_click,
        "interval_event_counts": _q_interval_event_counts,
        "trade_edges": _q_trade_edges,
        "dag_layers": _q_dag_layers,
        # -- newly oracled / new this round (round-5)
        "bpe_merges": _q_bpe_merges,
        "media_features": _q_media_features,
        "hits_scores": _q_hits_scores,
        "neighborhood_mean": _q_neighborhood_mean,
        "random_walks": _q_random_walks,
        "delta_components": _q_delta_components,
        "dedup_clusters": _q_dedup_clusters,
        "gopher_rules": _q_gopher_rules,
        "scd2_order_status": _q_scd2_order_status,
        "negative_triples": _q_negative_triples,
        "k_truss": _q_k_truss,
        "temperature_mix": _q_temperature_mix,
        "kg_diff": _q_kg_diff,
        "dsir_scores": _q_dsir_scores,
        "landmark_distances": _q_landmark_distances,
        "rule_mining": _q_rule_mining,
        "sampled_betweenness": _q_sampled_betweenness,
        # -- slot 50 of the driver window: the newest family each round
        "hearst_isa": _q_hearst_isa,
        # --- round-5 late additions (outside the 50-window this round;
        # sweep-verified via tools/verify_oracles.py; rotate into the
        # window in round 6) ------------------------------------------
        "motif_matches": _q_motif_matches,
        "wl_colors": _q_wl_colors,
        "transe_ranks": _q_transe_ranks,
        "pred_signatures": _q_pred_signatures,
        "fused_claims": _q_fused_claims,
        "claim_source_trust": _q_claim_source_trust,
        "region_modularity": _q_region_modularity,
        "node2vec_walks": _q_node2vec_walks,
        "hyperball_anf": _q_hyperball,
        "anchor_alias_dict": _q_anchor_aliases,
        "alias_commonness": _q_alias_commonness,
        "luby_mis": _q_luby_mis,
        "inferred_types": _q_inferred_types,
        "entity_alignment": _q_entity_alignment,
        "rdfs_closure": _q_rdfs_closure,
        "distmult_ranks": _q_distmult_ranks,
        "katz_centrality": _q_katz_centrality,
        "open_triples": _q_open_triples,
        "jp_coloring": _q_jp_coloring,
        "simrank_pairs": _q_simrank,
        "skipgram_pairs": _q_skipgram_pairs,
        "quality_lr": _q_quality_lr,
        "shacl_violations": _q_shacl_violations,
        "rdfs_delta": _q_rdfs_delta,
        "current_facts": _q_current_facts,
        "snm_pairs": _q_snm_pairs,
        "chunk_passages": _q_chunk_passages,
        "zorder_keys": _q_zorder_keys,
        "jsonld_facts": _q_jsonld_facts,
        "rake_keyphrases": _q_rake_keyphrases,
        "curation_preview": _q_curation_preview,
        "lsh_probe_pairs": _q_lsh_probe,
        "paragraph_dedup": _q_paragraph_dedup,
        "pii_scrub": _q_pii_scrub,
        "domain_stats": _q_domain_stats,
        "duplicate_spans": _q_duplicate_spans,
        "scrub_spans": _q_scrub_spans,
        "domain_cap_sample": _q_domain_cap,
        "ivfpq_topk": _q_ivfpq_topk,
        "label_propagation": _q_label_propagation,
        "ivfpq_residual_topk": _q_ivfpq_residual,
        "minhash_lsh_pairs": _q_minhash_lsh,       # md5_60 family: oracled
        "near_dup_pairs": _q_near_dup,             # md5_60 family: oracled
        "simhash_pairs": _q_simhash,               # md5_60 family: oracled
        "dedup_exact": _q_dedup_exact,
        "jaccard_pairs": _q_jaccard_pairs,
        "cosine_topk": _q_cosine_topk,
        "cooccurrence_edges": _q_cooccurrence_edges,
        "pmi_edges": _q_pmi_edges,
        "shortest_paths": _q_shortest_paths,
        "char_entropy": _q_char_entropy,
        "lm_score": _q_lm_score,
        "bigram_lm_score": _q_bigram_lm_score,
        "bm25": _q_bm25,
        "canonical_urls": _q_canonical_urls,
        "training_mix": _q_training_mix,
        "eval_take_k": _q_eval_take_k,
        "windowed_event_counts": _q_windowed_event_counts,
        "attribution_pairs": _q_attribution_pairs,
        "fuzzy_matches": _q_fuzzy_matches,
        "scc": _q_scc,
        "k_core": _q_k_core,
        "clustering_coefficients": _q_clustering_coefficients,
        "adamic_adar": _q_adamic_adar,
        "assortativity": _q_assortativity,
        "personalized_pagerank": _q_personalized_pagerank,
        "int8_quantize": _q_int8_quantize,
        "pq_topk": _q_pq_topk,
        "bfs_reachable": _q_bfs_reachable,
        "closure_counts": _q_closure_counts,
        "induced_subgraph": _q_induced_subgraph,
        "acyclic_cut": _q_acyclic_cut,
        "connected_components": _q_connected_components,
        "pagerank": _q_pagerank,
        "triangle_counts": _q_triangle_counts,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "ivf_topk": _q_ivf_topk,
        "embedding_lsh_pairs": _q_embedding_lsh_pairs,
        "cosine_histogram": _q_cosine_histogram,
        "ppjoin_pairs": _q_ppjoin_pairs,
        "butterfly_counts": _q_butterfly_counts,
        "textrank_keywords": _q_textrank_keywords,
        "complex_ranks": _q_complex_ranks,
        "quotient_graph": _q_quotient_graph,
        "interval_overlaps": _q_interval_overlaps,
        "boruvka_msf": _q_boruvka_msf,
        "coalesced_sessions": _q_coalesced_sessions,
        "kg_churn": _q_kg_churn,
        "entity_facts": _q_entity_facts,
        "table_facts": _q_table_facts,
        "burst_scores": _q_burst_scores,
        "temporal_reach": _q_temporal_reach,
        "price_quantiles": _q_price_quantiles,
        "greedy_matching": _q_greedy_matching,
        "funnel": _q_funnel,
        "lt_cascade": _q_lt_cascade,
        "event_transitions": _q_event_transitions,
        "fingerprint_clusters": _q_fingerprint_clusters,
        "web_kg": _q_web_kg,
        "rpq_regions": _q_rpq_regions,
        "msf_delta": _q_msf_delta,
        "coarse_graph": _q_coarse_graph,
        "skew_report": _q_skew_report,
        "partition_stats": _q_partition_stats,
        "decayed_counts": _q_decayed_counts,
        "schema_graph": _q_schema_graph,
        "acronym_pairs": _q_acronym_pairs,
        "readability": _q_readability,
        "crawl_permissions": _q_crawl_permissions,
        "sitemap_entries": _q_sitemap_entries,
        "table_profile": _q_table_profile,
        "k_anonymity": _q_k_anonymity,
        "quote_attributions": _q_quote_attributions,
        "coreness": _q_coreness,
        "nation_mixing": _q_nation_mixing,
        "dag_paths": _q_dag_paths,
        "single_linkage": _q_single_linkage,
        "diameter_bound": _q_diameter_bound,
    }


def oracle_sql() -> dict[str, str]:
    sql = _oracle_sql_literal()
    # ppjoin_pairs is LOSSLESS prefix filtering: its contract is exact
    # equality with all-pairs Jaccard, so it shares that oracle verbatim —
    # the shared SQL IS the losslessness statement, checked by the driver.
    sql["ppjoin_pairs"] = sql["jaccard_pairs"]
    # msf_delta absorbs a delta batch into a prior forest; the
    # sparsification identity MSF(G ∪ Δ) = MSF(MSF(G) ∪ Δ) makes the
    # FULL cycle-property oracle its exact expectation — shared verbatim.
    sql["msf_delta"] = sql["boruvka_msf"]
    return sql


def _oracle_sql_literal() -> dict[str, str]:
    terms_values = ", ".join(f"('{t}')" for t in TERMS)
    en_words = ", ".join(f"'{w}'" for w in _LANGS["en"])

    # --- shared SQL for the md5_60 MinHash pipeline oracles ---------------
    # The registered minhash/near-dup/simhash queries use the md5_60 hash
    # family (operators/dedup.token_hash) precisely so DuckDB can recompute
    # every intermediate value: shingle hash = first 15 md5 hex chars as a
    # long, signature = per-permutation minima of (x%p*a+b)%p with the
    # SEEDED coefficients inlined below, buckets = (band, band-slice).
    from climatemind_ontology_processing_spark.operators.dedup import (
        _MINHASH_P, _minhash_coeffs)
    _p = _MINHASH_P
    sig_exprs = ",\n                     ".join(
        f"list_min(list_transform(sh, x -> ((x % {_p}) * {a} + {b}) % {_p}))"
        for a, b in _minhash_coeffs(32))
    # toks -> distinct md5_60 3-gram shingle hashes -> 32-perm signature ->
    # 8 bands x 4 rows exploded; `src` is a CTE named `docs`(doc_id, text)
    minhash_cte = f"""
            toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 w -> w <> '') AS t
              FROM docs
            ),
            sh0 AS (
              SELECT doc_id, list_distinct(list_transform(
                       generate_series(1, greatest(len(t) - 2, 1)),
                       i -> ('0x' || substring(
                              md5(array_to_string(t[i : i + 2], ' ')), 1, 15)
                            )::BIGINT)) AS sh
              FROM toks WHERE len(t) > 0
            ),
            sigs AS (
              SELECT doc_id, [{sig_exprs}] AS sig
              FROM sh0 WHERE len(sh) > 0
            ),
            bandtab AS (
              SELECT doc_id, b,
                     array_to_string(list_slice(sig, b*4 + 1, b*4 + 4), ',') AS bh
              FROM sigs CROSS JOIN (SELECT unnest([0,1,2,3,4,5,6,7]) AS b)
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
              FROM bandtab l JOIN bandtab r
                ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id
            )"""
    return {
        "cooccurrence_edges": f"""
            WITH terms(term) AS (VALUES {terms_values}),
            mentions AS (
              SELECT DISTINCT d.doc_id, t.term
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents) d
              JOIN terms t ON d.tok = t.term
            )
            SELECT a.term AS subj, 'co_occurs_with' AS pred, b.term AS obj,
                   count(*) AS weight
            FROM mentions a JOIN mentions b
              ON a.doc_id = b.doc_id AND a.term < b.term
            GROUP BY 1, 2, 3
            ORDER BY weight DESC, subj ASC, obj ASC
        """,
        "pmi_edges": f"""
            WITH terms(term) AS (VALUES {terms_values}),
            mentions AS (
              SELECT DISTINCT d.doc_id, t.term
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents) d
              JOIN terms t ON d.tok = t.term
            ),
            nd AS (SELECT count(*)::BIGINT AS n FROM documents),
            dfs AS (SELECT term, count(*)::BIGINT AS df FROM mentions
                    GROUP BY term),
            pairs AS (
              SELECT a.term AS subj, b.term AS obj, count(*)::BIGINT AS weight
              FROM mentions a JOIN mentions b
                ON a.doc_id = b.doc_id AND a.term < b.term
              GROUP BY 1, 2)
            SELECT p.subj, p.obj, p.weight,
                   CAST(round(1e6 * round(ln(
                     (p.weight * nd.n) / (da.df * db.df)), 6)) AS BIGINT)
                     AS pmi_micro
            FROM pairs p
            JOIN dfs da ON da.term = p.subj
            JOIN dfs db ON db.term = p.obj
            CROSS JOIN nd
            ORDER BY p.subj, p.obj
        """,
        "shortest_paths": _shortest_paths_sql(),
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
            ORDER BY doc_id
        """,
        "jaccard_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 w -> w <> '') AS t
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(t) - 2, 1)),
                         i -> array_to_string(t[i : i + 2], ' '))) AS s
                FROM toks WHERE len(t) > 0
              )
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
              FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(i * 1.0 / (sa.sz + sb.sz - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
            ORDER BY a, b
        """,
        "minhash_lsh_pairs": f"""
            WITH docs AS (SELECT doc_id, text FROM documents),
            {minhash_cte}
            SELECT a, b FROM cand ORDER BY a, b
        """,
        "lsh_probe_pairs": f"""
            -- probe = new(odd) x history(even) bucket collisions only:
            -- all-pairs cand filtered to parity-mixed pairs
            WITH docs AS (SELECT doc_id, text FROM documents),
            {minhash_cte}
            SELECT a, b FROM cand WHERE (a % 2) + (b % 2) = 1 ORDER BY a, b
        """,
        "paragraph_dedup": """
            WITH docs2 AS (
              SELECT doc_id, text || chr(10) ||
                CASE WHEN doc_id % 3 = 0
                     THEN 'standard footer boilerplate line'
                     ELSE 'closing line ' || doc_id END || chr(10) ||
                'tail paragraph ' || (doc_id % 7) AS text
              FROM documents
            ),
            paras AS (
              SELECT doc_id, u.s['pos'] AS pos, u.s['para'] AS para
              FROM (SELECT doc_id, string_split(text, chr(10)) AS ps
                    FROM docs2),
                   unnest(list_transform(generate_series(1, len(ps)),
                          i -> {'pos': i, 'para': ps[i]})) AS u(s)
            ),
            boiler AS (
              SELECT para FROM paras WHERE length(para) >= 1
              GROUP BY para HAVING count(DISTINCT doc_id) > 5
            ),
            kept AS (
              SELECT p.doc_id, p.pos, p.para FROM paras p
              LEFT JOIN boiler b ON p.para = b.para
              WHERE b.para IS NULL
            ),
            rebuilt AS (
              SELECT doc_id,
                     string_agg(para, chr(10) ORDER BY pos) AS text,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id
            ),
            totals AS (
              SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id
            )
            SELECT t.doc_id, coalesce(r.text, '') AS text, t.n_paras,
                   t.n_paras - coalesce(r.n_kept, 0) AS n_removed
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
            ORDER BY t.doc_id
        """,
        "pii_scrub": r"""
            WITH built AS (
              SELECT doc_id, 'note ' ||
                CASE WHEN doc_id % 4 != 0
                     THEN 'reach user' || doc_id || '@ex' || (doc_id % 7)
                          || '.org ' ELSE '' END ||
                CASE WHEN doc_id % 3 != 0
                     THEN 'from 10.' || (doc_id % 200) || '.4.'
                          || (doc_id % 250) || ' ' ELSE '' END ||
                CASE WHEN doc_id % 5 != 0
                     THEN 'call 415-867-'
                          || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' '
                     ELSE '' END || 'end' AS text
              FROM documents
            ),
            stage AS (
              SELECT doc_id, text,
                regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                  '<EMAIL>', 'g') AS after_email
              FROM built
            ),
            stage2 AS (
              SELECT *, regexp_replace(after_email,
                  '(?:[0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS after_ip
              FROM stage
            )
            SELECT doc_id,
                   regexp_replace(after_ip,
                     '(?:\+[0-9]{1,2}[ -]?)?(?:\([0-9]{3}\)[ -]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}',
                     '<PHONE>', 'g') AS text,
                   len(regexp_extract_all(text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS n_emails,
                   len(regexp_extract_all(after_email,
                     '(?:[0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips,
                   len(regexp_extract_all(after_ip,
                     '(?:\+[0-9]{1,2}[ -]?)?(?:\([0-9]{3}\)[ -]?|[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}'))
                     AS n_phones
            FROM stage2 ORDER BY doc_id
        """,
        "duplicate_spans": """
            WITH built AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 0
                     THEN text || ' lorem ipsum dolor sit amet consectetur'
                          || ' adipiscing elit sed do eiusmod tempor'
                     ELSE text END AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
              FROM built
            ),
            wins AS (
              -- aligned dual-unnest (DuckDB zips same-length unnests);
              -- struct_pack with array_to_string inside a lambda hits a
              -- DuckDB 1.0 binder bug, hence this shape
              SELECT doc_id,
                     unnest(generate_series(0, len(t) - 8)) AS st,
                     unnest(list_transform(generate_series(1, len(t) - 7),
                            i -> array_to_string(list_slice(t, i, i + 7),
                                                 ' '))) AS w
              FROM toks WHERE len(t) >= 8
            ),
            hot AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
            dup AS (SELECT doc_id, st FROM wins
                    WHERE w IN (SELECT w FROM hot)),
            flagged AS (
              SELECT doc_id, st,
                     CASE WHEN st - lag(st) OVER (
                            PARTITION BY doc_id ORDER BY st) > 8
                          THEN 1 ELSE 0 END AS newg
              FROM dup
            ),
            grouped AS (
              SELECT doc_id, st,
                     sum(newg) OVER (PARTITION BY doc_id ORDER BY st
                                     ROWS UNBOUNDED PRECEDING) AS g
              FROM flagged
            )
            SELECT doc_id, min(st) AS span_start,
                   max(st) + 8 AS span_end, count(*) AS n_windows
            FROM grouped GROUP BY doc_id, g
            ORDER BY doc_id, span_start
        """,
        "scrub_spans": """
            WITH built AS (
              SELECT doc_id,
                CASE WHEN doc_id % 4 = 0
                     THEN text || ' lorem ipsum dolor sit amet consectetur'
                          || ' adipiscing elit sed do eiusmod tempor'
                     ELSE text END AS text
              FROM documents
            ),
            toks AS (
              SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS t
              FROM built
            ),
            wins AS (
              SELECT doc_id,
                     unnest(generate_series(0, len(t) - 8)) AS st,
                     unnest(list_transform(generate_series(1, len(t) - 7),
                            i -> array_to_string(list_slice(t, i, i + 7),
                                                 ' '))) AS w
              FROM toks WHERE len(t) >= 8
            ),
            hot AS (SELECT w FROM wins GROUP BY w HAVING count(*) >= 2),
            dup AS (SELECT doc_id, st FROM wins
                    WHERE w IN (SELECT w FROM hot)),
            flagged AS (
              SELECT doc_id, st,
                     CASE WHEN st - lag(st) OVER (
                            PARTITION BY doc_id ORDER BY st) > 8
                          THEN 1 ELSE 0 END AS newg
              FROM dup
            ),
            grouped AS (
              SELECT doc_id, st,
                     sum(newg) OVER (PARTITION BY doc_id ORDER BY st
                                     ROWS UNBOUNDED PRECEDING) AS g
              FROM flagged
            ),
            spans AS (
              SELECT doc_id, min(st) AS s0, max(st) + 8 AS s1
              FROM grouped GROUP BY doc_id, g
            ),
            sp AS (
              SELECT doc_id, list(struct_pack(s0 := s0, s1 := s1)) AS sp
              FROM spans GROUP BY doc_id
            ),
            toks2 AS (
              SELECT doc_id, regexp_split_to_array(text, '\\s+') AS t
              FROM built
            ),
            kept AS (
              SELECT t2.doc_id, t2.t,
                     list_filter(generate_series(1, len(t2.t)),
                       i -> sp.sp IS NULL
                            OR len(list_filter(sp.sp,
                                 r -> i - 1 >= r['s0'] AND i - 1 < r['s1']))
                               = 0) AS ki
              FROM toks2 t2 LEFT JOIN sp ON sp.doc_id = t2.doc_id
            )
            SELECT doc_id,
                   -- array_to_string of an EMPTY list is NULL in DuckDB
                   -- where Spark concat_ws gives '' (fully-scrubbed docs)
                   coalesce(array_to_string(list_transform(ki, i -> t[i]),
                                            ' '), '') AS text,
                   len(t) AS n_tokens,
                   len(t) - len(ki) AS n_tokens_removed
            FROM kept ORDER BY doc_id
        """,
        "domain_cap_sample": """
            WITH pages AS (
              SELECT doc_id,
                'https://' ||
                CASE WHEN doc_id % 10 < 4 THEN 'www.bighead.com'
                     WHEN doc_id % 10 < 6
                       THEN 'sub' || (doc_id % 3) || '.example.co.uk'
                     WHEN doc_id % 10 < 8
                       THEN 'site' || (doc_id % 20) || '.org'
                     ELSE 'blog' || (doc_id % 50) || '.net' END
                || '/page/' || doc_id AS url,
                CASE WHEN doc_id % 10 < 4 THEN 'bighead.com'
                     WHEN doc_id % 10 < 6 THEN 'example.co.uk'
                     WHEN doc_id % 10 < 8 THEN 'site' || (doc_id % 20) || '.org'
                     ELSE 'blog' || (doc_id % 50) || '.net' END AS dom
              FROM documents
            ),
            counts AS (SELECT dom, count(*) AS n FROM pages GROUP BY dom),
            ranked AS (
              SELECT p.doc_id, p.dom, c.n,
                     row_number() OVER (
                       PARTITION BY p.dom
                       ORDER BY ('0x' || substring(
                                   md5('7' || chr(31) || p.url), 1, 15))
                                 ::BIGINT % 1000000 ASC,
                                p.url ASC) AS rk
              FROM pages p JOIN counts c ON p.dom = c.dom
            )
            SELECT doc_id FROM ranked WHERE n <= 30 OR rk <= 30
            ORDER BY doc_id
        """,
        "curation_preview": """
            -- independent statement of the composed pipeline's output:
            -- boilerplate paragraphs gone, group members collapsed to the
            -- leader, the PII line's e-mail tagged
            SELECT doc_id,
                   text || chr(10) || 'reach <EMAIL> now' AS text,
                   1 AS n_emails, 0 AS n_ips, 0 AS n_phones
            FROM documents WHERE doc_id % 5 = 0 ORDER BY doc_id
        """,
        "domain_stats": """
            -- expected registrable domains stated independently of the
            -- engine's host/suffix logic (canonical_urls style)
            WITH doms AS (
              SELECT doc_id,
                CASE WHEN doc_id % 10 < 4 THEN 'bighead.com'
                     WHEN doc_id % 10 < 6 THEN 'example.co.uk'
                     WHEN doc_id % 10 < 8 THEN 'site' || (doc_id % 20) || '.org'
                     ELSE 'blog' || (doc_id % 50) || '.net' END AS domain
              FROM documents
            ),
            counts AS (
              SELECT domain, count(*)::BIGINT AS n_docs FROM doms
              GROUP BY domain
            ),
            tot AS (SELECT sum(n_docs)::DOUBLE AS t FROM counts)
            SELECT domain, n_docs,
                   CAST(round(n_docs * 1e6 / tot.t) AS BIGINT) AS share_micro,
                   row_number() OVER (ORDER BY n_docs DESC, domain ASC)
                     AS rank
            FROM counts CROSS JOIN tot
            ORDER BY rank
        """,
        "near_dup_pairs": f"""
            WITH docs AS (
              -- exact-dedup-first: survivors only (min doc_id per text)
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            {minhash_cte},
            ver AS (
              SELECT c.a, c.b,
                     len(list_intersect(sa.sh, sb.sh)) AS i,
                     len(sa.sh) AS sza, len(sb.sh) AS szb
              FROM cand c
              JOIN sh0 sa ON sa.doc_id = c.a
              JOIN sh0 sb ON sb.doc_id = c.b
            )
            SELECT a, b, round(i * 1.0 / (sza + szb - i), 6) AS jaccard
            FROM ver WHERE i * 1.0 / (sza + szb - i) >= 0.5
            ORDER BY a, b
        """,
        "simhash_pairs": """
            WITH th AS (
              SELECT doc_id,
                     ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h
              FROM (SELECT doc_id,
                           unnest(string_split_regex(lower(text), '\\s+')) AS tok
                    FROM documents)
            ),
            bits AS (
              SELECT doc_id, i,
                     sum(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS c
              FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS i)
              GROUP BY doc_id, i
            ),
            sims AS (
              SELECT doc_id,
                     sum(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT
                       AS simhash
              FROM bits GROUP BY doc_id
            ),
            sbands AS (
              SELECT doc_id, i AS band, (simhash >> (i*16)) & 65535 AS bh, simhash
              FROM sims CROSS JOIN (SELECT unnest([0,1,2,3]) AS i)
            ),
            cand AS (
              SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
                     l.simhash AS ha, r.simhash AS hb
              FROM sbands l JOIN sbands r
                ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
            )
            SELECT a, b, bit_count(xor(ha, hb))::INT AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= 3
            ORDER BY a, b
        """,
        "lm_score": _lm_score_sql(),
        "bigram_lm_score": _bigram_lm_sql(),
        "bm25": _bm25_sql(),
        "char_entropy": """
            WITH ch AS (
              SELECT doc_id, unnest(string_split(text, '')) AS c
              FROM documents
            ),
            counts AS (
              SELECT doc_id, c, count(*) AS n FROM ch
              WHERE c <> '' GROUP BY doc_id, c
            )
            SELECT doc_id,
                   round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6)
                     AS char_entropy
            FROM counts GROUP BY doc_id ORDER BY doc_id
        """,
        "canonical_urls": """
            SELECT doc_id,
                   'http://example' || (doc_id % 7) || '.com/Path/' || doc_id
                   || CASE WHEN doc_id % 4 = 0 THEN '?q=1'
                           WHEN doc_id % 4 = 2 THEN '?a=1&b=2'
                           ELSE '' END AS curl,
                   'https://host' || doc_id || '.org/' AS curl_bare
            FROM documents ORDER BY doc_id
        """,
        "fuzzy_matches": _fuzzy_sql(),
        "hll_distinct_tokens": _hll_sql(),
        "cms_token_counts": _cms_sql(),
        "bloom_membership": _bloom_sql(),
        "attribution_pairs": """
            WITH c AS (SELECT user_id, ts, event_id AS click_id FROM events
                       WHERE event_type = 'click'),
            p AS (SELECT user_id, ts, event_id AS purchase_id FROM events
                  WHERE event_type = 'purchase')
            SELECT c.user_id, c.click_id AS l_click_id,
                   p.purchase_id AS r_purchase_id,
                   epoch_us(c.ts)::BIGINT AS click_us,
                   epoch_us(p.ts)::BIGINT AS purchase_us
            FROM c JOIN p ON p.user_id = c.user_id
                 AND p.ts >= c.ts
                 AND p.ts <= c.ts + INTERVAL '30 minutes'
            ORDER BY c.user_id, l_click_id, r_purchase_id
        """,
        "windowed_event_counts": """
            SELECT epoch(time_bucket(INTERVAL '1 day', ts))::BIGINT AS ws,
                   event_type, count(*)::BIGINT AS n_events
            FROM events GROUP BY 1, 2 ORDER BY ws, event_type
        """,
        "eval_take_k": """
            SELECT doc_id, lang FROM (
              SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang
                ORDER BY ('0x' || substring(
                            md5('7' || chr(31) || doc_id::VARCHAR), 1, 15))
                          ::BIGINT % 1000000 ASC,
                         doc_id::VARCHAR ASC) AS rk
              FROM documents) WHERE rk <= 30
            ORDER BY doc_id
        """,
        "training_mix": """
            SELECT doc_id, lang FROM documents
            WHERE ('0x' || substring(
                     md5('7' || chr(31) || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 1000000
                  < CASE lang WHEN 'en' THEN 500000
                              WHEN 'de' THEN 250000
                              WHEN 'fr' THEN 100000
                              ELSE 0 END
            ORDER BY doc_id
        """,
        "lang_percentiles": """
            SELECT lang,
                   quantile_cont(n_chars, 0.25)::DECIMAL(20,6)::VARCHAR AS p25,
                   quantile_cont(n_chars, 0.50)::DECIMAL(20,6)::VARCHAR AS p50,
                   quantile_cont(n_chars, 0.75)::DECIMAL(20,6)::VARCHAR AS p75,
                   quantile_cont(n_chars, 0.95)::DECIMAL(20,6)::VARCHAR AS p95
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "decontamination": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 w -> w <> '') AS t
              FROM documents
            ),
            grams AS (
              SELECT DISTINCT doc_id,
                     unnest(list_transform(
                       generate_series(1, greatest(len(t) - 4, 1)),
                       i -> array_to_string(t[i : i + 4], ' '))) AS g
              FROM toks WHERE len(t) > 0
            ),
            bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0)
            SELECT doc_id, count(DISTINCT g) AS n_hits
            FROM grams JOIN bench USING (g)
            WHERE doc_id % 20 <> 0
            GROUP BY doc_id ORDER BY doc_id
        """,
        "bpe_pair_counts": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS t
              FROM documents
            ),
            pairs AS (
              SELECT unnest(list_transform(
                       range(1, len(t)),
                       i -> struct_pack(l := t[i], r := t[i + 1]))) AS p
              FROM toks WHERE len(t) >= 2
            )
            SELECT p.l AS lhs, p.r AS rhs, count(*) AS n
            FROM pairs GROUP BY 1, 2 HAVING count(*) >= 2
            ORDER BY n DESC, lhs, rhs LIMIT 200
        """,
        "bpe_merges": _bpe_merges_sql(6),
        "hits_scores": _hits_sql(3),
        "random_walks": _random_walks_sql(4),
        "k_truss": _k_truss_sql(4, 6),
        "landmark_distances": _landmark_sql(3, 8),
        "sampled_betweenness": _betweenness_sql(4, 5),
        "rule_mining": """
            WITH triples AS MATERIALIZED (
              SELECT 'c:' || c_custkey AS subj, 'in_nation' AS pred,
                     'n:' || c_nationkey AS obj FROM customer
              UNION ALL
              SELECT 's:' || s_suppkey, 'in_nation', 'n:' || s_nationkey
              FROM supplier
              UNION ALL
              SELECT 'n:' || n_nationkey, 'in_region', 'r:' || n_regionkey
              FROM nation
              UNION ALL
              SELECT 'c:' || c_custkey, 'located_in', 'r:' || n_regionkey
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              UNION ALL
              SELECT DISTINCT 'c:' || c.c_custkey, 'buys_from',
                     's:' || s.s_suppkey
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
            ),
            body AS MATERIALIZED (
              SELECT DISTINCT b1.pred AS p, b2.pred AS q,
                              b1.subj AS x, b2.obj AS y
              FROM triples b1 JOIN triples b2 ON b1.obj = b2.subj),
            nb AS (SELECT p, q, count(*)::BIGINT AS n_body
                   FROM body GROUP BY p, q),
            heads AS (SELECT DISTINCT subj AS x, pred AS head, obj AS y
                      FROM triples),
            sup AS (
              SELECT p, q, head, count(*)::BIGINT AS support
              FROM body JOIN heads USING (x, y)
              GROUP BY 1, 2, 3 HAVING count(*) >= 5)
            SELECT s.p, s.q, s.head, s.support, nb.n_body,
                   (s.support * 1000000) // nb.n_body AS conf_micro
            FROM sup s JOIN nb USING (p, q)
            ORDER BY p, q, head
        """,
        "motif_matches": f"""
            WITH triples AS MATERIALIZED ({_KG_SQL})
            SELECT DISTINCT t1.subj AS x, t1.obj AS n, t2.obj AS r,
                   t3.pred AS p
            FROM triples t1
            JOIN triples t2 ON t2.subj = t1.obj AND t2.pred = 'in_region'
            JOIN triples t3 ON t3.subj = t1.subj AND t3.obj = t2.obj
            WHERE t1.pred = 'in_nation'
              AND t1.subj <> t1.obj AND t1.obj <> t2.obj
              AND t1.subj <> t2.obj
            ORDER BY x, n, r, p
        """,
        "wl_colors": f"""
            WITH e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM ({_TRADE_SQL}) WHERE src <> dst),
            sym AS (SELECT lo AS id, hi AS nbr FROM e
                    UNION ALL SELECT hi, lo FROM e),
            c0 AS (SELECT id, count(*)::BIGINT AS color
                   FROM sym GROUP BY id),
            c1 AS MATERIALIZED (
              SELECT s.id, ('0x' || substring(md5(
                       own.color::VARCHAR || '|' ||
                       string_agg(nc.color::VARCHAR, ','
                                  ORDER BY nc.color)), 1, 15))::BIGINT
                     AS color
              FROM sym s
              JOIN c0 own ON own.id = s.id
              JOIN c0 nc ON nc.id = s.nbr
              GROUP BY s.id, own.color),
            c2 AS (
              SELECT s.id, ('0x' || substring(md5(
                       own.color::VARCHAR || '|' ||
                       string_agg(nc.color::VARCHAR, ','
                                  ORDER BY nc.color)), 1, 15))::BIGINT
                     AS color
              FROM sym s
              JOIN c1 own ON own.id = s.id
              JOIN c1 nc ON nc.id = s.nbr
              GROUP BY s.id, own.color)
            SELECT id, color FROM c2 ORDER BY id
        """,
        "transe_ranks": """
            WITH triples AS MATERIALIZED (
              SELECT 's:' || s_suppkey AS subj, 'in_nation' AS pred,
                     'n:' || s_nationkey AS obj FROM supplier
              UNION ALL
              SELECT 'n:' || n_nationkey, 'in_region', 'r:' || n_regionkey
              FROM nation),
            ents AS (SELECT DISTINCT subj AS id FROM triples
                     UNION SELECT DISTINCT obj FROM triples),
            cands AS MATERIALIZED (
              SELECT t.subj, t.pred, t.obj, e.id AS cand,
                     list_sum(list_transform(range(0, 8), i -> abs(
                         (('0x' || substring(md5('e|' || t.subj || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       + (('0x' || substring(md5('r|' || t.pred || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       - (('0x' || substring(md5('e|' || e.id || '|' || i),
                                             1, 15))::BIGINT % 1009)
                     )))::BIGINT AS score
              FROM triples t CROSS JOIN ents e),
            trues AS (SELECT subj, pred, obj, score AS true_score
                      FROM cands WHERE cand = obj),
            ranks AS (
              SELECT c.subj, c.pred, c.obj,
                     (1 + sum(CASE WHEN c.score < t.true_score
                                    OR (c.score = t.true_score
                                        AND c.cand < c.obj)
                              THEN 1 ELSE 0 END))::BIGINT AS rank
              FROM cands c JOIN trues t USING (subj, pred, obj)
              GROUP BY 1, 2, 3)
            SELECT subj, pred, obj, rank,
                   (CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::INT AS hit
            FROM ranks ORDER BY subj, pred, obj
        """,
        "distmult_ranks": """
            WITH triples AS MATERIALIZED (
              SELECT 's:' || s_suppkey AS subj, 'in_nation' AS pred,
                     'n:' || s_nationkey AS obj FROM supplier
              UNION ALL
              SELECT 'n:' || n_nationkey, 'in_region', 'r:' || n_regionkey
              FROM nation),
            ents AS (SELECT DISTINCT subj AS id FROM triples
                     UNION SELECT DISTINCT obj FROM triples),
            cands AS MATERIALIZED (
              SELECT t.subj, t.pred, t.obj, e.id AS cand,
                     list_sum(list_transform(range(0, 8), i ->
                         (('0x' || substring(md5('e|' || t.subj || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       * (('0x' || substring(md5('r|' || t.pred || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       * (('0x' || substring(md5('e|' || e.id || '|' || i),
                                             1, 15))::BIGINT % 1009)
                     ))::BIGINT AS score
              FROM triples t CROSS JOIN ents e),
            trues AS (SELECT subj, pred, obj, score AS true_score
                      FROM cands WHERE cand = obj),
            ranks AS (
              SELECT c.subj, c.pred, c.obj,
                     (1 + sum(CASE WHEN c.score > t.true_score
                                    OR (c.score = t.true_score
                                        AND c.cand < c.obj)
                              THEN 1 ELSE 0 END))::BIGINT AS rank
              FROM cands c JOIN trues t USING (subj, pred, obj)
              GROUP BY 1, 2, 3)
            SELECT subj, pred, obj, rank,
                   (CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::INT AS hit
            FROM ranks ORDER BY subj, pred, obj
        """,
        "funnel": """
            WITH ev AS (SELECT user_id AS k,
                               floor(epoch(ts))::BIGINT AS t,
                               event_type AS ty FROM events),
            s1 AS (SELECT k, min(t) AS t1 FROM ev
                   WHERE ty = 'view' GROUP BY k),
            s2 AS (SELECT e.k, min(e.t) AS t2 FROM ev e
                   JOIN s1 ON s1.k = e.k AND e.t > s1.t1
                   WHERE e.ty = 'click' GROUP BY e.k),
            s3 AS (SELECT e.k, min(e.t) AS t3 FROM ev e
                   JOIN s2 ON s2.k = e.k AND e.t > s2.t2
                   WHERE e.ty = 'purchase' GROUP BY e.k)
            SELECT s1.k AS user_id,
                   (CASE WHEN t3 IS NOT NULL THEN 3
                         WHEN t2 IS NOT NULL THEN 2 ELSE 1 END)::INT
                     AS n_steps,
                   t1 AS t_first,
                   coalesce(t3, t2, t1)::BIGINT AS t_last
            FROM s1 LEFT JOIN s2 ON s2.k = s1.k
                    LEFT JOIN s3 ON s3.k = s1.k
            ORDER BY user_id
        """,
        "rpq_regions": f"""
            WITH RECURSIVE triples AS MATERIALIZED ({_KG_SQL}),
            trans(state, pred, nstate) AS (
              VALUES (0, 'buys_from', 1), (1, 'in_nation', 2),
                     (2, 'in_region', 3), (0, 'located_in', 3)),
            seeds AS (SELECT DISTINCT 'c:' || c_custkey AS id
                      FROM customer WHERE c_custkey % 97 = 0),
            reach(seed, node, state) AS (
              SELECT id, id, 0 FROM seeds
              UNION
              SELECT r.seed, t.obj, tr.nstate
              FROM reach r
              JOIN triples t ON t.subj = r.node
              JOIN trans tr ON tr.state = r.state AND tr.pred = t.pred)
            SELECT seed, node, state::INT AS state
            FROM reach WHERE state = 3 ORDER BY seed, node
        """,
        "web_kg": """
            WITH pages AS (
              SELECT 'p:' || p_partkey AS url, p_name, p_brand, p_size,
                     CASE WHEN p_partkey % 3 = 0 THEN upper(p_name)
                          ELSE p_name END AS tname
              FROM part),
            jl AS (
              SELECT url AS subj, 'name' AS pred, p_name AS obj,
                     'jsonld' AS source FROM pages
              UNION ALL
              SELECT url, 'brand', p_brand, 'jsonld' FROM pages),
            tb AS (
              SELECT url AS subj, 'name' AS pred, tname AS obj,
                     'table' AS source FROM pages
              UNION ALL
              SELECT url, 'size', p_size::VARCHAR, 'table' FROM pages),
            ev AS (SELECT * FROM jl UNION ALL SELECT * FROM tb),
            ranked AS (
              SELECT subj, pred, obj, source,
                     row_number() OVER (PARTITION BY subj, pred
                                        ORDER BY source, obj) AS rn
              FROM ev)
            SELECT r.subj, r.pred, r.obj,
                   s.n_evidence, s.conflict
            FROM ranked r JOIN (
              SELECT subj, pred, count(*)::BIGINT AS n_evidence,
                     (CASE WHEN count(DISTINCT obj) > 1
                           THEN 1 ELSE 0 END)::INT AS conflict
              FROM ev GROUP BY subj, pred) s USING (subj, pred)
            WHERE r.rn = 1
            ORDER BY subj, pred
        """,
        "fingerprint_clusters": r"""
            WITH recs AS (
              SELECT p_partkey::BIGINT AS id, p_name AS name FROM part
              UNION ALL
              SELECT p_partkey + 10000000,
                     upper(array_to_string(
                       list_reverse(string_split(p_name, ' ')), ' '))
              FROM part),
            keyed AS (
              SELECT id,
                     array_to_string(list_sort(list_distinct(list_filter(
                       string_split_regex(trim(regexp_replace(
                         lower(trim(name)), '[^\p{L}\p{N}]+', ' ', 'g')),
                         '\s+'), x -> x <> ''))), ' ') AS fp
              FROM recs),
            stats AS (
              SELECT fp, count(*)::BIGINT AS n_ids, min(id) AS rep
              FROM keyed GROUP BY fp HAVING count(*) >= 2)
            SELECT k.fp, k.id, s.n_ids, s.rep
            FROM keyed k JOIN stats s USING (fp)
            ORDER BY k.fp, k.id
        """,
        "event_transitions": """
            WITH seq AS (
              SELECT event_type AS next_type,
                     lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id, event_type)
                       AS prev_type
              FROM events),
            pairs AS (
              SELECT prev_type, next_type, count(*)::BIGINT AS n
              FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
            SELECT prev_type, next_type, n,
                   ((n * 1000000) // sum(n) OVER (PARTITION BY prev_type))
                     ::BIGINT AS p_micro
            FROM pairs ORDER BY prev_type, next_type
        """,
        "nation_mixing": f"""
            WITH e AS ({_TRADE_SQL}),
            lab AS (SELECT n_nationkey::INT AS id, n_regionkey::INT AS l
                    FROM nation),
            qg AS (
              SELECT ls.l AS gs, ld.l AS gd, count(*)::BIGINT AS n
              FROM e JOIN lab ls ON ls.id = e.src
                     JOIN lab ld ON ld.id = e.dst
              GROUP BY 1, 2),
            ab AS (
              SELECT sum(r.rs::HUGEINT * c.cs) AS ab FROM
                (SELECT gs AS g, sum(n) AS rs FROM qg GROUP BY 1) r
                JOIN (SELECT gd AS g, sum(n) AS cs FROM qg GROUP BY 1) c
                USING (g)),
            tot AS (SELECT sum(n)::BIGINT AS m,
                           sum(CASE WHEN gs = gd THEN n ELSE 0 END)
                             ::BIGINT AS diag
                    FROM qg)
            SELECT m,
                   (m::HUGEINT * diag - ab.ab)::VARCHAR AS r_num,
                   (m::HUGEINT * m - ab.ab)::VARCHAR AS r_den
            FROM tot CROSS JOIN ab
        """,
        "diameter_bound": f"""
            WITH RECURSIVE all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            sym AS MATERIALIZED (SELECT DISTINCT a, b FROM (
              SELECT src AS a, dst AS b FROM sparse WHERE src <> dst
              UNION ALL
              SELECT dst, src FROM sparse WHERE src <> dst)),
            s0 AS (SELECT min(a) AS id FROM sym),
            r1(node, d) AS (
              SELECT id, 0::BIGINT FROM s0
              UNION
              SELECT s.b, r.d + 1 FROM r1 r JOIN sym s ON s.a = r.node
              WHERE r.d < 100),
            d1 AS (SELECT node, min(d) AS dist FROM r1 GROUP BY node),
            far AS (SELECT node FROM d1
                    ORDER BY dist DESC, node ASC LIMIT 1),
            r2(node, d) AS (
              SELECT node, 0::BIGINT FROM far
              UNION
              SELECT s.b, r.d + 1 FROM r2 r JOIN sym s ON s.a = r.node
              WHERE r.d < 100),
            d2 AS (SELECT node, min(d) AS dist FROM r2 GROUP BY node)
            SELECT s0.id::INT AS start, far.node::INT AS far_node,
                   (SELECT max(dist) FROM d2)::BIGINT AS diameter_lb
            FROM s0 CROSS JOIN far
        """,
        "single_linkage": _single_linkage_sql(),
        "dag_paths": _dag_paths_sql(),
        "coreness": _coreness_sql(),
        "lt_cascade": _lt_sql(),
        "table_profile": """
            WITH s AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                              o_orderpriority FROM orders),
            u AS (
              SELECT 'o_custkey' AS col, count(*) AS n_rows,
                     sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                       AS n_nulls,
                     count(DISTINCT o_custkey) AS n_distinct,
                     min(o_custkey)::VARCHAR AS min_str,
                     max(o_custkey)::VARCHAR AS max_str FROM s
              UNION ALL
              SELECT 'o_orderkey', count(*),
                     sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_orderkey),
                     min(o_orderkey)::VARCHAR, max(o_orderkey)::VARCHAR
              FROM s
              UNION ALL
              SELECT 'o_orderpriority', count(*),
                     sum(CASE WHEN o_orderpriority IS NULL
                         THEN 1 ELSE 0 END),
                     count(DISTINCT o_orderpriority),
                     min(o_orderpriority), max(o_orderpriority) FROM s
              UNION ALL
              SELECT 'o_orderstatus', count(*),
                     sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                     count(DISTINCT o_orderstatus),
                     min(o_orderstatus), max(o_orderstatus) FROM s)
            SELECT col AS "column", n_rows::BIGINT AS n_rows,
                   n_nulls::BIGINT AS n_nulls,
                   n_distinct::BIGINT AS n_distinct, min_str, max_str
            FROM u ORDER BY col
        """,
        "quote_attributions": """
            WITH planted AS (
              SELECT p_partkey AS doc_id,
                     array_to_string(list_transform(
                       string_split(p_name, ' '),
                       x -> upper(x[1]) || x[2:]), ' ') AS speaker,
                     'the ' || p_type || ' line is ready' AS quote
              FROM part)
            SELECT speaker, quote,
                   (2 * count(*))::BIGINT AS n_matches,
                   count(DISTINCT doc_id)::BIGINT AS n_docs
            FROM planted GROUP BY 1, 2
            ORDER BY speaker, quote
        """,
        "k_anonymity": """
            WITH qi AS (
              SELECT c_nationkey::INT AS nation,
                     floor(c_acctbal / 1000)::INT AS bal_kb
              FROM customer)
            SELECT nation, bal_kb, count(*)::BIGINT AS group_size
            FROM qi GROUP BY 1, 2 HAVING count(*) < 5
            ORDER BY nation, bal_kb
        """,
        "sitemap_entries": """
            WITH ranked AS (
              SELECT n_regionkey AS rk, n_nationkey AS nk,
                     row_number() OVER (PARTITION BY n_regionkey
                                        ORDER BY n_nationkey) - 1
                       AS entry_idx
              FROM nation)
            SELECT 'r' || rk || '.com' AS host, entry_idx::INT AS entry_idx,
                   'http://r' || rk || '.com/n' || nk AS loc,
                   CASE WHEN nk % 3 <> 0 THEN
                     '2024-01-' || lpad((nk % 28 + 1)::VARCHAR, 2, '0')
                   END AS lastmod
            FROM ranked ORDER BY host, entry_idx
        """,
        "crawl_permissions": """
            WITH rules AS (
              SELECT 'r' || r_regionkey || '.com' AS h,
                     'disallow' AS rule, '/private/' AS path FROM region
              UNION ALL
              SELECT 'r' || r_regionkey || '.com', 'allow',
                     '/private/n' || r_regionkey FROM region),
            urls AS (
              SELECT 'http://r' || n_regionkey || '.com/private/n'
                       || n_nationkey AS url,
                     'r' || n_regionkey || '.com' AS h,
                     '/private/n' || n_nationkey AS p FROM nation
              UNION ALL
              SELECT 'http://r' || n_regionkey || '.com/pub/n'
                       || n_nationkey,
                     'r' || n_regionkey || '.com',
                     '/pub/n' || n_nationkey FROM nation),
            j AS (
              SELECT u.url, r.rule, r.path, len(r.path) AS l,
                     CASE WHEN r.rule = 'allow' THEN 1 ELSE 0 END AS a
              FROM urls u JOIN rules r
                ON r.h = u.h AND starts_with(u.p, r.path)),
            best AS (
              SELECT url, rule, path FROM (
                SELECT url, rule, path,
                       row_number() OVER (PARTITION BY url
                                          ORDER BY l DESC, a DESC) AS rn
                FROM j) WHERE rn = 1)
            SELECT u.url,
                   (CASE WHEN b.url IS NULL OR b.rule = 'allow'
                         THEN 1 ELSE 0 END)::INT AS allowed,
                   b.path AS matched_path, b.rule AS matched_rule
            FROM urls u LEFT JOIN best b USING (url)
            ORDER BY u.url
        """,
        "readability": r"""
            WITH base AS (
              SELECT doc_id, lower(coalesce(text, '')) AS t FROM documents),
            stats AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(t, '\s+'),
                                     x -> x <> ''))::BIGINT AS nw,
                     greatest(1, len(regexp_extract_all(t, '[.!?]+')))
                       ::BIGINT AS ns,
                     coalesce(list_sum(list_transform(
                       list_filter(string_split_regex(t, '\s+'),
                                   x -> x <> ''),
                       w -> greatest(1,
                         len(regexp_extract_all(w, '[aeiouy]+'))))),
                       0)::BIGINT AS syl
              FROM base)
            SELECT doc_id, nw AS n_words, ns AS n_sentences,
                   syl AS n_syllables,
                   CASE WHEN nw > 0 THEN
                     (206835000 - (1015000 * nw) // ns
                                - (84600000 * syl) // nw)::BIGINT::VARCHAR
                   END AS fre_micro
            FROM stats ORDER BY doc_id
        """,
        "acronym_pairs": """
            WITH planted AS (
              SELECT upper(substring(string_split(p_name, ' ')[1], 1, 1))
                     || upper(substring(string_split(p_name, ' ')[2], 1, 1))
                       AS acronym,
                     array_to_string(list_transform(
                       string_split(p_name, ' '),
                       x -> upper(x[1]) || x[2:]), ' ') AS expansion
              FROM part)
            SELECT acronym, expansion,
                   count(*)::BIGINT AS n_matches,
                   count(*)::BIGINT AS n_docs
            FROM planted GROUP BY 1, 2
            ORDER BY acronym, expansion
        """,
        "schema_graph": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT subj, pred, obj FROM ({_KG_SQL}))
            SELECT split_part(subj, ':', 1) AS subj_type, pred,
                   split_part(obj, ':', 1) AS obj_type,
                   count(*)::BIGINT AS n_triples,
                   count(DISTINCT subj)::BIGINT AS n_subj,
                   count(DISTINCT obj)::BIGINT AS n_obj
            FROM t GROUP BY 1, 2, 3
            ORDER BY subj_type, pred, obj_type
        """,
        "decayed_counts": """
            WITH census AS (
              SELECT event_type,
                     (floor(epoch(ts))::BIGINT // 3600) AS b,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            contrib AS (
              SELECT event_type, b + d AS bucket_idx,
                     n // (1::BIGINT << d) AS c
              FROM census, unnest(generate_series(0, 11)) AS t(d)
              WHERE n // (1::BIGINT << d) > 0)
            SELECT event_type, bucket_idx, sum(c)::BIGINT AS decayed
            FROM contrib GROUP BY 1, 2
            ORDER BY event_type, bucket_idx
        """,
        "partition_stats": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS (SELECT DISTINCT least(src, dst) AS lo,
                         greatest(src, dst) AS hi
                  FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            mp AS (SELECT n_nationkey::INT AS id, n_regionkey::INT AS rep
                   FROM nation),
            tagged AS (
              SELECT ml.rep AS pl, mh.rep AS ph
              FROM e JOIN mp ml ON ml.id = e.lo
                     JOIN mp mh ON mh.id = e.hi),
            es AS (SELECT count(*)::BIGINT AS n_edges,
                          sum(CASE WHEN pl <> ph THEN 1 ELSE 0 END)::BIGINT
                            AS edge_cut
                   FROM tagged),
            ps AS (SELECT count(*)::BIGINT AS n_parts,
                          sum(sz)::BIGINT AS n_nodes,
                          max(sz)::BIGINT AS max_part_size
                   FROM (SELECT rep, count(*)::BIGINT AS sz
                         FROM mp GROUP BY rep))
            SELECT n_parts, n_nodes, edge_cut,
                   ((edge_cut * 1000000) // n_edges)::BIGINT AS cut_micro,
                   max_part_size,
                   ((max_part_size * n_parts * 1000000) // n_nodes)::BIGINT
                     AS balance_micro
            FROM es CROSS JOIN ps
        """,
        "skew_report": """
            WITH census AS (
              SELECT source AS key, count(*)::BIGINT AS n
              FROM documents GROUP BY source),
            tot AS (SELECT sum(n)::BIGINT AS t FROM census)
            SELECT key, n,
                   ((n * 1000000) // t)::BIGINT AS share_micro,
                   ((n + 499) // 500)::INT AS salt_factor
            FROM census CROSS JOIN tot
            WHERE (n * 1000000) // t >= 10000
            ORDER BY key
        """,
        "coarse_graph": _coarsen_sql(),
        "greedy_matching": _matching_sql(),
        "price_quantiles": """
            WITH v AS (SELECT floor(l_extendedprice * 100)::BIGINT AS c
                       FROM lineitem WHERE l_extendedprice IS NOT NULL),
            census AS (SELECT c, count(*)::BIGINT AS cnt FROM v GROUP BY c),
            cum AS (
              SELECT c, cnt,
                     sum(cnt) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
              FROM census),
            n AS (SELECT sum(cnt)::BIGINT AS n FROM census),
            qs AS (SELECT unnest([10000, 250000, 500000, 750000,
                                  900000, 990000, 1000000]) AS q_micro),
            targets AS (
              SELECT q_micro, n.n,
                     (q_micro * n.n + 999999) // 1000000 AS target_rank
              FROM qs CROSS JOIN n)
            SELECT t.q_micro, c.c AS value,
                   t.target_rank::BIGINT AS target_rank, t.n
            FROM cum c CROSS JOIN targets t
            WHERE c.cum >= t.target_rank
              AND c.cum - c.cnt < t.target_rank
            ORDER BY t.q_micro
        """,
        "temporal_reach": """
            WITH RECURSIVE e AS MATERIALIZED (
              SELECT DISTINCT c.c_nationkey::INT AS src,
                     s.s_nationkey::INT AS dst,
                     ((year(o.o_orderdate) - 1995) * 12
                      + month(o.o_orderdate) - 1)::BIGINT AS t
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey
              WHERE c.c_nationkey <> s.s_nationkey
                AND (c.c_nationkey * 31 + s.s_nationkey) % 7 = 0),
            seeds AS (SELECT DISTINCT n_nationkey::INT AS id FROM nation
                      WHERE n_regionkey = 0),
            reach(node, arr) AS (
              SELECT id, 0::BIGINT FROM seeds
              UNION
              SELECT e.dst, e.t FROM reach r
              JOIN e ON e.src = r.node AND e.t >= r.arr)
            SELECT node AS id, min(arr)::BIGINT AS arrival
            FROM reach GROUP BY node ORDER BY id
        """,
        "burst_scores": """
            WITH counts AS (
              SELECT event_type,
                     (floor(epoch(ts))::BIGINT // 3600) AS bucket_idx,
                     count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            w AS (
              SELECT event_type, bucket_idx, n,
                     coalesce(sum(n) OVER (
                       PARTITION BY event_type ORDER BY bucket_idx
                       RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS trailing_n
              FROM counts)
            SELECT event_type, bucket_idx, n, trailing_n,
                   CASE WHEN trailing_n > 0
                        THEN ((n * 24 * 1000000) // trailing_n)::BIGINT
                             ::VARCHAR
                   END AS ratio_micro
            FROM w ORDER BY event_type, bucket_idx
        """,
        "table_facts": r"""
            WITH pages AS (
              SELECT 'p:' || p_partkey AS url,
                     '<html><body><table><tr><th>Name</th><th> Size </th>'
                     || '</tr><tr><td><b>' || p_name || '</b></td><td>'
                     || p_size || '</td></tr></table><p>filler</p>'
                     || '<table><tr><td>' || p_brand || '</td><td>'
                     || p_type
                     || '</td></tr><tr><td>x</td></tr></table>'
                     || '</body></html>' AS html
              FROM part),
            tables AS (
              SELECT url, unnest(t) AS tb,
                     unnest(generate_series(0, len(t) - 1)) AS table_idx
              FROM (SELECT url,
                           regexp_extract_all(html,
                             '(?is)<table[^>]*>(.*?)</table>', 1) AS t
                    FROM pages)),
            rws AS (
              SELECT url, table_idx, unnest(r) AS rw,
                     unnest(generate_series(0, len(r) - 1)) AS row_idx
              FROM (SELECT url, table_idx,
                           regexp_extract_all(tb,
                             '(?is)<tr[^>]*>(.*?)</tr>', 1) AS r
                    FROM tables)),
            cells AS (
              SELECT url, table_idx, row_idx,
                     unnest(generate_series(0, len(c) - 1)) AS col_idx,
                     list_transform(c, x -> trim(regexp_replace(
                       regexp_replace(x, '<[^>]+>', ' ', 'g'),
                       '\s+', ' ', 'g')))[
                       unnest(generate_series(1, len(c)))] AS cell
              FROM (SELECT url, table_idx, row_idx,
                           regexp_extract_all(rw,
                             '(?is)<t[hd][^>]*>(.*?)</t[hd]>', 1) AS c
                    FROM rws)),
            hdr AS (SELECT url, table_idx, col_idx, cell AS h
                    FROM cells WHERE row_idx = 0)
            SELECT c.url, c.table_idx, c.row_idx,
                   coalesce(h.h, 'col' || c.col_idx) AS header,
                   c.col_idx, c.cell
            FROM cells c LEFT JOIN hdr h
              ON h.url = c.url AND h.table_idx = c.table_idx
             AND h.col_idx = c.col_idx
            WHERE c.row_idx >= 1
            ORDER BY c.url, c.table_idx, c.row_idx, c.col_idx
        """,
        "kg_churn": f"""
            WITH old AS MATERIALIZED (
              SELECT DISTINCT subj, pred, obj FROM ({_KG_SQL})),
            new AS MATERIALIZED (
              SELECT subj, pred,
                     CASE WHEN pred = 'in_region'
                           AND substring(subj, 3)::BIGINT % 5 = 0
                          THEN 'r:' || ((substring(obj, 3)::BIGINT + 1) % 5)
                          ELSE obj END AS obj
              FROM old
              WHERE NOT (pred = 'in_nation' AND subj LIKE 's:%'
                         AND substring(subj, 3)::BIGINT % 11 = 0)),
            tagged AS (
              SELECT coalesce(o.pred, n.pred) AS pred,
                     CASE WHEN o.subj IS NULL THEN 0 ELSE 1 END AS in_old,
                     CASE WHEN n.subj IS NULL THEN 0 ELSE 1 END AS in_new
              FROM old o FULL JOIN new n
                ON o.subj = n.subj AND o.pred = n.pred AND o.obj = n.obj)
            SELECT pred,
                   sum(CASE WHEN in_new = 1 AND in_old = 0 THEN 1 ELSE 0 END)
                     ::BIGINT AS n_added,
                   sum(CASE WHEN in_old = 1 AND in_new = 0 THEN 1 ELSE 0 END)
                     ::BIGINT AS n_removed,
                   sum(CASE WHEN in_old = 1 AND in_new = 1 THEN 1 ELSE 0 END)
                     ::BIGINT AS n_unchanged
            FROM tagged GROUP BY pred ORDER BY pred
        """,
        "entity_facts": f"""
            WITH t AS MATERIALIZED (
              SELECT DISTINCT subj, pred, obj FROM ({_KG_SQL})),
            census AS (SELECT pred, count(*)::BIGINT AS pn
                       FROM t GROUP BY pred),
            ranked AS (
              SELECT t.subj, t.pred, t.obj, c.pn,
                     row_number() OVER (
                       PARTITION BY t.subj
                       ORDER BY c.pn ASC, t.pred ASC, t.obj ASC) AS rank
              FROM t JOIN census c USING (pred))
            SELECT subj, rank::INT AS rank, pred, obj,
                   pn AS pred_count
            FROM ranked WHERE rank <= 3 ORDER BY subj, rank
        """,
        "coalesced_sessions": """
            WITH iv AS (
              SELECT user_id, floor(epoch(ts))::BIGINT AS s,
                     floor(epoch(ts))::BIGINT
                       + floor(value)::BIGINT * 60 AS e
              FROM events),
            flagged AS (
              SELECT user_id, s, e,
                     CASE WHEN max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) IS NULL
                       OR s > max(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS new_island
              FROM iv),
            islands AS (
              SELECT user_id, s, e,
                     sum(new_island) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS island
              FROM flagged)
            SELECT user_id, min(s)::BIGINT AS start, max(e)::BIGINT AS "end",
                   count(*)::BIGINT AS n_merged
            FROM islands GROUP BY user_id, island
            ORDER BY user_id, start
        """,
        "boruvka_msf": f"""
            WITH RECURSIVE all_edges AS ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS (SELECT DISTINCT least(src, dst) AS lo,
                         greatest(src, dst) AS hi
                  FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            we AS (SELECT lo, hi,
                          ('0x' || substring(md5(lo || '|' || hi), 1, 15))
                            ::BIGINT AS w
                   FROM e),
            sym AS (SELECT lo AS a, hi AS b, w, lo, hi FROM we
                    UNION ALL SELECT hi, lo, w, lo, hi FROM we),
            -- cycle property: reach(c, node) = nodes reachable from c.lo
            -- using only edges STRICTLY lighter than c in (w, lo, hi)
            reach(clo, chi, node) AS (
              SELECT lo, hi, lo FROM we
              UNION
              SELECT r.clo, r.chi, s.b
              FROM reach r
              JOIN sym s ON s.a = r.node
              JOIN we c ON c.lo = r.clo AND c.hi = r.chi
              WHERE (s.w, s.lo, s.hi) < (c.w, c.lo, c.hi)
            )
            SELECT c.lo::INT AS lo, c.hi::INT AS hi, c.w AS weight
            FROM we c
            WHERE NOT EXISTS (SELECT 1 FROM reach r
                              WHERE r.clo = c.lo AND r.chi = c.hi
                                AND r.node = c.hi)
            ORDER BY lo, hi
        """,
        "interval_overlaps": """
            WITH ev AS (
              SELECT event_id, user_id, event_type,
                     floor(epoch(ts))::BIGINT AS s,
                     floor(epoch(ts))::BIGINT
                       + floor(value)::BIGINT * 60 AS e
              FROM events),
            l AS (SELECT * FROM ev WHERE event_type = 'view'),
            r AS (SELECT * FROM ev WHERE event_type = 'purchase')
            SELECT l.user_id, l.event_id AS l_event, r.event_id AS r_event,
                   (least(l.e, r.e) - greatest(l.s, r.s))::BIGINT
                     AS overlap_s
            FROM l JOIN r ON l.user_id = r.user_id
             AND l.s <= r.e AND r.s <= l.e
            ORDER BY 1, 2, 3
        """,
        "quotient_graph": """
            WITH e AS (
              SELECT 'n:' || c.c_nationkey AS g_src,
                     'n:' || s.s_nationkey AS g_dst,
                     'c:' || c.c_custkey AS src,
                     's:' || s.s_suppkey AS dst
              FROM orders o
              JOIN customer c ON o.o_custkey = c.c_custkey
              JOIN lineitem l ON l.l_orderkey = o.o_orderkey
              JOIN supplier s ON l.l_suppkey = s.s_suppkey)
            SELECT g_src, g_dst, count(*)::BIGINT AS n_edges,
                   count(DISTINCT (src, dst))::BIGINT AS n_pairs
            FROM e GROUP BY 1, 2 ORDER BY g_src, g_dst
        """,
        "complex_ranks": """
            WITH triples AS MATERIALIZED (
              SELECT 's:' || s_suppkey AS subj, 'in_nation' AS pred,
                     'n:' || s_nationkey AS obj FROM supplier
              UNION ALL
              SELECT 'n:' || n_nationkey, 'in_region', 'r:' || n_regionkey
              FROM nation),
            ents AS (SELECT DISTINCT subj AS id FROM triples
                     UNION SELECT DISTINCT obj FROM triples),
            cands AS MATERIALIZED (
              SELECT t.subj, t.pred, t.obj, e.id AS cand,
                     list_sum(list_transform(range(0, 8), i ->
                         (('0x' || substring(md5('rr|' || t.pred || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       * ((('0x' || substring(md5('er|' || t.subj || '|' || i),
                                              1, 15))::BIGINT % 1009)
                          * (('0x' || substring(md5('er|' || e.id || '|' || i),
                                                1, 15))::BIGINT % 1009)
                          + (('0x' || substring(md5('ei|' || t.subj || '|' || i),
                                                1, 15))::BIGINT % 1009)
                          * (('0x' || substring(md5('ei|' || e.id || '|' || i),
                                                1, 15))::BIGINT % 1009))
                       + (('0x' || substring(md5('ri|' || t.pred || '|' || i),
                                             1, 15))::BIGINT % 1009)
                       * ((('0x' || substring(md5('er|' || t.subj || '|' || i),
                                              1, 15))::BIGINT % 1009)
                          * (('0x' || substring(md5('ei|' || e.id || '|' || i),
                                                1, 15))::BIGINT % 1009)
                          - (('0x' || substring(md5('ei|' || t.subj || '|' || i),
                                                1, 15))::BIGINT % 1009)
                          * (('0x' || substring(md5('er|' || e.id || '|' || i),
                                                1, 15))::BIGINT % 1009))
                     ))::BIGINT AS score
              FROM triples t CROSS JOIN ents e),
            trues AS (SELECT subj, pred, obj, score AS true_score
                      FROM cands WHERE cand = obj),
            ranks AS (
              SELECT c.subj, c.pred, c.obj,
                     (1 + sum(CASE WHEN c.score > t.true_score
                                    OR (c.score = t.true_score
                                        AND c.cand < c.obj)
                              THEN 1 ELSE 0 END))::BIGINT AS rank
              FROM cands c JOIN trues t USING (subj, pred, obj)
              GROUP BY 1, 2, 3)
            SELECT subj, pred, obj, rank,
                   (CASE WHEN rank <= 10 THEN 1 ELSE 0 END)::INT AS hit
            FROM ranks ORDER BY subj, pred, obj
        """,
        "pred_signatures": f"""
            WITH triples AS MATERIALIZED ({_KG_SQL}),
            counts AS (
              SELECT pred, count(*)::BIGINT AS n_triples,
                     count(DISTINCT subj)::BIGINT AS n_subj,
                     count(DISTINCT obj)::BIGINT AS n_obj
              FROM triples GROUP BY pred),
            sty AS (SELECT pred, coalesce(split_part(subj, ':', 1), '')
                           AS ty, count(*) AS n
                    FROM triples GROUP BY 1, 2),
            smode AS (SELECT pred, ty AS subj_type FROM (
                        SELECT pred, ty, row_number() OVER (
                          PARTITION BY pred ORDER BY n DESC, ty ASC) AS rn
                        FROM sty) WHERE rn = 1),
            oty AS (SELECT pred, coalesce(split_part(obj, ':', 1), '')
                           AS ty, count(*) AS n
                    FROM triples GROUP BY 1, 2),
            omode AS (SELECT pred, ty AS obj_type FROM (
                        SELECT pred, ty, row_number() OVER (
                          PARTITION BY pred ORDER BY n DESC, ty ASC) AS rn
                        FROM oty) WHERE rn = 1)
            SELECT c.pred, n_triples, n_subj, n_obj,
                   (n_subj * 1000000) // n_triples AS fun_micro,
                   (n_obj * 1000000) // n_triples AS inv_fun_micro,
                   subj_type, obj_type
            FROM counts c
            JOIN smode USING (pred) JOIN omode USING (pred)
            ORDER BY pred
        """,
        "hearst_isa": _hearst_sql(),
        "fused_claims": f"""
            WITH {_FUSION_CTES},
            resolved AS (
              SELECT subj, pred, obj, conf_micro, n_sources,
                     row_number() OVER (PARTITION BY subj, pred
                       ORDER BY conf_micro DESC, obj ASC) AS rn
              FROM c3)
            SELECT subj, pred, obj, conf_micro, n_sources
            FROM resolved WHERE rn = 1 ORDER BY subj
        """,
        "claim_source_trust": f"""
            WITH {_FUSION_CTES}
            SELECT source, trust AS trust_micro FROM t2 ORDER BY source
        """,
        "region_modularity": f"""
            WITH e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM ({_TRADE_SQL}) WHERE src <> dst),
            lab AS (SELECT n_nationkey::INT AS id, n_regionkey::INT AS label
                    FROM nation),
            tagged AS (
              SELECT lo, hi, l1.label AS lab_lo, l2.label AS lab_hi
              FROM e JOIN lab l1 ON l1.id = lo JOIN lab l2 ON l2.id = hi),
            nn AS (
              SELECT label, count(*)::BIGINT AS n_nodes
              FROM (SELECT DISTINCT id FROM
                      (SELECT lo AS id FROM e UNION SELECT hi FROM e)) n
              JOIN lab ON lab.id = n.id GROUP BY label),
            deg AS (
              SELECT label, count(*)::BIGINT AS degree_sum
              FROM (SELECT lab_lo AS label FROM tagged
                    UNION ALL SELECT lab_hi FROM tagged) GROUP BY label),
            intra AS (
              SELECT lab_lo AS label, count(*)::BIGINT AS intra_edges
              FROM tagged WHERE lab_lo = lab_hi GROUP BY 1),
            cs AS (
              SELECT nn.label, n_nodes,
                     coalesce(intra_edges, 0)::BIGINT AS intra_edges,
                     coalesce(degree_sum, 0)::BIGINT AS degree_sum
              FROM nn LEFT JOIN deg USING (label)
              LEFT JOIN intra USING (label)),
            tot AS (
              SELECT (sum(degree_sum) // 2)::BIGINT AS m,
                     sum(intra_edges)::BIGINT AS intra,
                     sum(degree_sum * degree_sum)::BIGINT AS d2
              FROM cs)
            SELECT label, n_nodes, intra_edges, degree_sum, m,
                   (4 * m * intra - d2)::VARCHAR AS q_num,
                   (4 * m * m)::VARCHAR AS q_den
            FROM cs CROSS JOIN tot ORDER BY label
        """,
        "node2vec_walks": _node2vec_sql(),
        "hyperball_anf": _hyperball_sql(),
        "anchor_alias_dict": """
            WITH part_links AS (
              SELECT 'http://pages.ex.com/' || p_partkey AS page_url,
                     'http://ex.com/part/' || p_partkey || '?x=1' AS target,
                     p_name || ' & co' AS alias
              FROM part),
            brand_links AS (
              SELECT 'http://pages.ex.com/' || p_partkey AS page_url,
                     'http://ex.com/brand/' || lower(replace(p_brand, '#', ''))
                       AS target,
                     'the ' || lower(replace(p_brand, '#', '')) AS alias
              FROM part),
            all_links AS (SELECT * FROM part_links
                          UNION ALL SELECT * FROM brand_links)
            SELECT target, alias, count(*)::BIGINT AS n_links,
                   count(DISTINCT page_url)::BIGINT AS n_pages
            FROM all_links GROUP BY 1, 2 ORDER BY target, alias
        """,
        "alias_commonness": """
            WITH part_links AS (
              SELECT 'http://pages.ex.com/' || p_partkey AS page_url,
                     'http://ex.com/part/' || p_partkey || '?x=1' AS target,
                     p_name || ' & co' AS alias
              FROM part),
            brand_links AS (
              SELECT 'http://pages.ex.com/' || p_partkey AS page_url,
                     'http://ex.com/brand/' || lower(replace(p_brand, '#', ''))
                       AS target,
                     'the ' || lower(replace(p_brand, '#', '')) AS alias
              FROM part),
            d AS (
              SELECT target, alias, count(*)::BIGINT AS n_links
              FROM (SELECT * FROM part_links
                    UNION ALL SELECT * FROM brand_links)
              GROUP BY 1, 2),
            tot AS (SELECT alias, sum(n_links)::BIGINT AS _tot
                    FROM d GROUP BY alias)
            SELECT d.alias, target, n_links,
                   ((n_links * 1000000) // _tot)::BIGINT AS commonness_micro,
                   row_number() OVER (PARTITION BY d.alias
                     ORDER BY n_links DESC, target ASC)::BIGINT AS rank
            FROM d JOIN tot ON tot.alias = d.alias
            ORDER BY d.alias, rank
        """,
        "luby_mis": _luby_sql(),
        "inferred_types": _spread_sql(),
        "entity_alignment": _ALIGN_SQL,
        "rdfs_closure": _rdfs_sql(),
        "rdfs_delta": _rdfs_sql((0, 1)),
        "rake_keyphrases": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                       lower(coalesce(text, '')), '\s+'),
                       x -> x <> '') AS t
              FROM documents),
            pos AS (
              SELECT doc_id, i - 1 AS pos, t[i] AS tok
              FROM (SELECT doc_id, t,
                           unnest(generate_series(1, len(t))) AS i
                    FROM toks)),
            seg AS (
              SELECT doc_id, pos, tok,
                     CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END AS s,
                     sum(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
              FROM pos),
            ph AS (
              SELECT doc_id, phrase_id,
                     string_agg(tok, ' ' ORDER BY pos) AS phrase,
                     count(*)::BIGINT AS n_words
              FROM seg WHERE s = 0 GROUP BY doc_id, phrase_id),
            w AS (SELECT unnest(string_split(phrase, ' ')) AS w, n_words
                  FROM ph),
            stats AS (SELECT w, count(*)::BIGINT AS freq,
                             sum(n_words)::BIGINT AS deg
                      FROM w GROUP BY w),
            ws AS (SELECT w, (deg * 1000000) // freq AS wsc FROM stats),
            occ AS (SELECT doc_id, phrase_id, phrase,
                           unnest(string_split(phrase, ' ')) AS w
                    FROM ph),
            ps AS (SELECT doc_id, phrase_id, phrase,
                          sum(wsc)::BIGINT AS psc
                   FROM occ JOIN ws USING (w) GROUP BY 1, 2, 3)
            SELECT phrase, count(*)::BIGINT AS n_occurrences,
                   max(psc)::BIGINT AS score_micro
            FROM ps GROUP BY phrase
            ORDER BY score_micro DESC, phrase ASC LIMIT 50
        """,
        "jsonld_facts": r"""
            WITH pages AS (
              SELECT 'p:' || p_partkey AS url,
                     '<html><body><script type="application/ld+json">'
                     || '{"@type":"Product","name":"' || p_name
                     || '","brand":"' || p_brand
                     || '"}</script><p>filler</p>'
                     || '<script type="application/ld+json">'
                     || '{"@type":"Brand","name":"' || lower(p_brand)
                     || '"}</script></body></html>' AS html
              FROM part),
            bl AS (
              SELECT url,
                     regexp_extract_all(html,
                       '<script type="application/ld\+json">([^<]*)</script>',
                       1) AS bs
              FROM pages),
            b AS (
              SELECT url, i - 1 AS block_idx, bs[i] AS block
              FROM (SELECT url, bs, unnest(generate_series(1, len(bs))) AS i
                    FROM bl)),
            melted AS (
              SELECT url, block_idx, '@type' AS field,
                     json_extract_string(block, '$."@type"') AS value FROM b
              UNION ALL
              SELECT url, block_idx, 'name',
                     json_extract_string(block, '$.name') FROM b
              UNION ALL
              SELECT url, block_idx, 'brand',
                     json_extract_string(block, '$.brand') FROM b)
            SELECT url, block_idx::INT AS block_idx, field, value
            FROM melted WHERE value IS NOT NULL
            ORDER BY url, block_idx, field
        """,
        "zorder_keys": f"""
            SELECT c_custkey::INT AS c_custkey,
                   ({" + ".join(
                       f"(((c_nationkey >> {i}) & 1) << {2 * i}) + "
                       f"(((floor(c_acctbal + 1000)::BIGINT >> {i}) & 1)"
                       f" << {2 * i + 1})"
                       for i in range(16))})::BIGINT AS zkey
            FROM customer ORDER BY c_custkey
        """,
        "chunk_passages": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(
                       coalesce(text, ''), '\s+'), x -> x <> '') AS t
              FROM documents),
            base AS (
              SELECT doc_id, t,
                     CASE WHEN len(t) <= 0 THEN 0
                          ELSE 1 + (greatest(len(t) - 32, 0) + 15) // 16
                     END AS k
              FROM toks),
            ch AS (
              SELECT doc_id, t,
                     unnest(generate_series(0, k - 1)) AS chunk_id
              FROM base WHERE k > 0)
            SELECT doc_id, chunk_id::INT AS chunk_id,
                   (chunk_id * 16)::BIGINT AS start_token,
                   len(list_slice(t, chunk_id * 16 + 1,
                                  chunk_id * 16 + 32))::BIGINT AS n_tokens,
                   array_to_string(list_slice(t, chunk_id * 16 + 1,
                                              chunk_id * 16 + 32), ' ')
                     AS chunk
            FROM ch ORDER BY doc_id, chunk_id
        """,
        "snm_pairs": """
            WITH r AS (
              SELECT c_custkey AS id,
                     row_number() OVER (ORDER BY c_acctbal, c_custkey) - 1
                       AS rank
              FROM customer)
            SELECT a.id::INT AS a_id, b.id::INT AS b_id,
                   (b.rank - a.rank)::INT AS rank_gap
            FROM r a JOIN r b
              ON b.rank > a.rank AND b.rank - a.rank <= 4
            ORDER BY a_id, b_id
        """,
        "current_facts": """
            WITH c AS (
              SELECT 'u:' || user_id AS subj, event_type AS pred,
                     props AS obj, ts, event_id AS w
              FROM events),
            r AS (
              SELECT subj, pred, obj, ts,
                     row_number() OVER (
                       PARTITION BY subj, pred
                       ORDER BY ts DESC, w DESC, obj ASC) AS rn
              FROM c),
            agg AS (
              SELECT subj, pred, count(*)::BIGINT AS n_versions,
                     count(DISTINCT obj)::BIGINT AS n_values
              FROM c GROUP BY 1, 2)
            SELECT r.subj, r.pred, r.obj,
                   epoch_us(r.ts)::BIGINT AS valid_from_us,
                   a.n_versions, a.n_values
            FROM r JOIN agg a USING (subj, pred)
            WHERE rn = 1
            ORDER BY subj, pred
        """,
        "katz_centrality": _katz_sql(4, 4),
        "open_triples": _openie_sql(),
        "jp_coloring": _jp_sql(36),
        "simrank_pairs": _simrank_sql(3),
        "skipgram_pairs": _skipgram_sql(2),
        "shacl_violations": f"""
            WITH tk AS MATERIALIZED ({_KG_SQL}),
            ents AS (SELECT DISTINCT e FROM (
              SELECT subj AS e FROM tk UNION ALL SELECT obj FROM tk)),
            decl AS (SELECT e AS subj, 'type' AS pred,
                            CASE substring(e, 1, 2)
                              WHEN 'c:' THEN 'Customer'
                              WHEN 's:' THEN 'Supplier'
                              WHEN 'n:' THEN 'Nation'
                              ELSE 'Region' END AS obj
                     FROM ents),
            t AS MATERIALIZED (
              SELECT subj, pred, obj FROM tk
              UNION ALL SELECT subj, pred, obj FROM decl),
            v_max AS (
              SELECT subj, 'buys_from' AS pred, 'maxCount' AS kind,
                     'count=' || n AS detail
              FROM (SELECT subj, count(*) AS n FROM t
                    WHERE pred = 'buys_from' GROUP BY subj)
              WHERE n > 9),
            v_min AS (
              SELECT m.subj, 'located_in' AS pred, 'minCount' AS kind,
                     'count=' || coalesce(h.n, 0) AS detail
              FROM (SELECT subj FROM t
                    WHERE pred = 'type' AND obj = 'Supplier') m
              LEFT JOIN (SELECT subj, count(*) AS n FROM t
                         WHERE pred = 'located_in' GROUP BY subj) h
                USING (subj)
              WHERE coalesce(h.n, 0) < 1),
            v_class AS (
              SELECT DISTINCT a.subj, 'in_nation' AS pred,
                     'class' AS kind, 'obj=' || a.obj AS detail
              FROM t a WHERE a.pred = 'in_nation' AND NOT EXISTS (
                SELECT 1 FROM t ty WHERE ty.pred = 'type'
                  AND ty.subj = a.obj AND ty.obj = 'Nation')),
            v_dt AS (
              SELECT DISTINCT subj, 'located_in' AS pred,
                     'datatype' AS kind, 'obj=' || obj AS detail
              FROM t WHERE pred = 'located_in'
                AND NOT regexp_matches(obj, '^r:[0-9]+$')),
            v_nk AS (
              SELECT DISTINCT subj, 'in_region' AS pred,
                     'nodeKind' AS kind, 'obj=' || obj AS detail
              FROM t WHERE pred = 'in_region'
                AND obj NOT LIKE 'r:%')
            SELECT DISTINCT subj, pred, kind, detail FROM (
              SELECT * FROM v_max UNION ALL SELECT * FROM v_min
              UNION ALL SELECT * FROM v_class UNION ALL SELECT * FROM v_dt
              UNION ALL SELECT * FROM v_nk)
            ORDER BY subj, pred, kind, detail
        """,
        "quality_lr": r"""
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                                                       '[^\p{L}\p{N}]+'),
                                 x -> x <> '') AS t
              FROM documents),
            ng AS (
              SELECT doc_id,
                     unnest(t || list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1])) AS g
              FROM toks),
            feat AS (
              SELECT doc_id,
                     ('0x' || substring(md5(g), 1, 15))::BIGINT % 512
                       AS bucket,
                     count(*)::BIGINT AS cnt
              FROM ng GROUP BY 1, 2),
            sc AS (
              SELECT doc_id,
                     sum(cnt * ((('0x' || substring(md5('qlr|' || bucket),
                                                    1, 15))::BIGINT % 2001)
                                - 1000))::BIGINT AS logit
              FROM feat GROUP BY doc_id)
            SELECT d.doc_id, coalesce(sc.logit, 0)::BIGINT AS logit,
                   (CASE WHEN coalesce(sc.logit, 0) > 0
                         THEN 1 ELSE 0 END)::INT AS keep
            FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
            ORDER BY d.doc_id
        """,
        "kg_diff": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            tagged AS (
              SELECT src, dst, (src * 31 + dst) % 7 AS m FROM all_edges
            ),
            old AS (SELECT src, dst FROM tagged WHERE m IN (0, 1)),
            new AS (SELECT src, dst FROM tagged WHERE m IN (1, 2))
            SELECT src AS subj, dst AS obj, 'added' AS change
            FROM new n WHERE NOT EXISTS (
              SELECT 1 FROM old o WHERE o.src = n.src AND o.dst = n.dst)
            UNION ALL
            SELECT src, dst, 'removed'
            FROM old o WHERE NOT EXISTS (
              SELECT 1 FROM new n WHERE n.src = o.src AND n.dst = o.dst)
            ORDER BY subj, obj, change
        """,
        "dsir_scores": r"""
            WITH tgtdocs AS (
              SELECT doc_id, text FROM documents
              WHERE source IN ('src1', 'src2', 'src3')),
            rawdocs AS (
              SELECT doc_id, text FROM documents
              WHERE source NOT IN ('src1', 'src2', 'src3')),
            rtoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                                                       '[^\p{L}\p{N}]+'),
                                 x -> x <> '') AS t
              FROM rawdocs),
            ttoks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text),
                                                       '[^\p{L}\p{N}]+'),
                                 x -> x <> '') AS t
              FROM tgtdocs),
            rng AS (
              SELECT doc_id,
                     unnest(t || list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1])) AS g
              FROM rtoks),
            tng AS (
              SELECT doc_id,
                     unnest(t || list_transform(
                       generate_series(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1])) AS g
              FROM ttoks),
            rfeat AS (
              SELECT doc_id,
                     ('0x' || substring(md5(g), 1, 15))::BIGINT % 512
                       AS bucket,
                     count(*)::BIGINT AS cnt
              FROM rng GROUP BY 1, 2),
            tfeat AS (
              SELECT doc_id,
                     ('0x' || substring(md5(g), 1, 15))::BIGINT % 512
                       AS bucket,
                     count(*)::BIGINT AS cnt
              FROM tng GROUP BY 1, 2),
            tcb AS (SELECT bucket, sum(cnt)::BIGINT AS tc
                    FROM tfeat GROUP BY bucket),
            rcb AS (SELECT bucket, sum(cnt)::BIGINT AS rc
                    FROM rfeat GROUP BY bucket),
            consts AS (
              SELECT (SELECT coalesce(sum(cnt), 0) FROM tfeat)::BIGINT AS tt,
                     (SELECT coalesce(sum(cnt), 0) FROM rfeat)::BIGINT AS rr),
            ratios AS (
              SELECT coalesce(tcb.bucket, rcb.bucket) AS bucket,
                     CAST(round(1e6 * round(
                       ln(2 * coalesce(tc, 0) + 1) - ln(2 * c.tt + 512)
                       - ln(2 * coalesce(rc, 0) + 1) + ln(2 * c.rr + 512),
                       6)) AS BIGINT) AS micro
              FROM tcb FULL OUTER JOIN rcb ON tcb.bucket = rcb.bucket
              CROSS JOIN consts c),
            scored AS (
              SELECT f.doc_id,
                     sum(f.cnt * r.micro)::BIGINT AS score_micro,
                     sum(f.cnt)::BIGINT AS n_ngrams
              FROM rfeat f JOIN ratios r USING (bucket) GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(s.score_micro, 0) AS score_micro,
                   coalesce(s.n_ngrams, 0) AS n_ngrams
            FROM rawdocs d LEFT JOIN scored s USING (doc_id)
            WHERE coalesce(s.n_ngrams, 0) >= 1
            ORDER BY score_micro DESC, doc_id LIMIT 50
        """,
        "temperature_mix": """
            WITH counts AS (
              SELECT lang AS stratum, count(*)::BIGINT AS n
              FROM documents GROUP BY lang
            ),
            wt AS (
              SELECT stratum, n,
                     CAST(floor(sqrt(n::DOUBLE) * 1e6 + 0.5) AS BIGINT) AS w
              FROM counts
            ),
            tot AS (SELECT sum(w)::BIGINT AS tw FROM wt),
            shares AS (
              SELECT stratum, n, w, tw,
                     (120 * w) // tw AS base,
                     120 * w - ((120 * w) // tw) * tw AS rem
              FROM wt, tot
            ),
            lo AS (SELECT 120 - sum(base) AS l FROM shares),
            q AS (
              SELECT stratum,
                     base + (CASE WHEN row_number() OVER (
                               ORDER BY rem DESC, stratum::VARCHAR ASC)
                             <= (SELECT l FROM lo) THEN 1 ELSE 0 END) AS quota
              FROM shares
            ),
            r AS (
              SELECT doc_id, lang, row_number() OVER (
                PARTITION BY lang
                ORDER BY ('0x' || substring(
                            md5('7' || chr(31) || doc_id::VARCHAR), 1, 15))
                          ::BIGINT % 1000000 ASC,
                         doc_id::VARCHAR ASC) AS rk
              FROM documents
            )
            SELECT doc_id, lang FROM r JOIN q ON q.stratum = r.lang
            WHERE rk <= quota ORDER BY doc_id
        """,
        "scd2_order_status": """
            WITH obs AS (
              SELECT o_custkey AS custkey, o_orderstatus AS status,
                     o_orderdate::DATE AS od, o_orderkey AS ok
              FROM orders
            ),
            lagged AS (
              SELECT *, lag(status) OVER (
                PARTITION BY custkey ORDER BY od, ok) AS prev
              FROM obs
            ),
            starts AS (
              SELECT custkey, status, od, ok FROM lagged
              WHERE prev IS NULL OR status IS DISTINCT FROM prev
            ),
            runs AS (
              SELECT custkey, status, od, ok,
                     lead(ok) OVER (
                       PARTITION BY custkey ORDER BY od, ok) AS next_ok
              FROM starts
            )
            SELECT custkey, status, od::VARCHAR AS valid_from_date,
                   ok AS valid_from_key,
                   coalesce(next_ok, -1) AS valid_to_key,
                   (next_ok IS NULL)::INT AS is_current
            FROM runs ORDER BY custkey, valid_from_date, valid_from_key
        """,
        "negative_triples": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            trip AS MATERIALIZED (
              SELECT DISTINCT src AS s, 'trades_with' AS p, dst AS o
              FROM all_edges WHERE (src * 31 + dst) % 2 = 0
            ),
            ents AS (
              SELECT DISTINCT s AS n FROM trip
              UNION SELECT DISTINCT o FROM trip
            ),
            nb AS MATERIALIZED (
              SELECT n, ('0x' || substring(md5(
                       'neg|vocab|' || n::VARCHAR), 1, 15))::BIGINT % 8 AS b
              FROM ents
            ),
            slots AS (
              SELECT s, p, o, j,
                     ('0x' || substring(md5(
                        'neg|' || s::VARCHAR || '|' || p || '|'
                        || o::VARCHAR || '|' || j::VARCHAR),
                      1, 15))::BIGINT % 8 AS b
              FROM trip CROSS JOIN (SELECT unnest([0, 1]) AS j)
            ),
            cand AS (
              SELECT sl.s, sl.p, sl.o, sl.j, nb.n,
                     row_number() OVER (
                       PARTITION BY sl.s, sl.p, sl.o, sl.j
                       ORDER BY ('0x' || substring(md5(
                           'neg|pick|' || sl.s::VARCHAR || '|' || sl.p
                           || '|' || sl.o::VARCHAR || '|' || sl.j::VARCHAR
                           || '|' || nb.n::VARCHAR), 1, 15))::BIGINT,
                         nb.n) AS rn
              FROM slots sl JOIN nb USING (b)
            ),
            picked AS (SELECT s, p, o, j, n AS o_neg FROM cand WHERE rn = 1)
            SELECT s AS subj, p AS pred, o AS obj, o_neg, j
            FROM picked pk
            WHERE o_neg <> o AND NOT EXISTS (
              SELECT 1 FROM trip t
              WHERE t.s = pk.s AND t.p = pk.p AND t.o = pk.o_neg)
            ORDER BY subj, obj, j
        """,
        "gopher_rules": r"""
            WITH w AS (
              SELECT doc_id, text,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> x <> '') AS words,
                     list_transform(string_split(text, chr(10)),
                                    l -> trim(l)) AS lines
              FROM documents
            ),
            m AS (
              SELECT doc_id,
                len(words) AS n_words,
                coalesce(list_sum(list_transform(words, x -> length(x))),
                         0) AS total_chars,
                len(lines) AS n_lines,
                len(list_filter(lines,
                    l -> starts_with(l, '•') OR starts_with(l, '-')))
                  AS n_bullet,
                len(list_filter(lines,
                    l -> ends_with(l, '...') OR ends_with(l, '…')))
                  AS n_ellipsis,
                len(regexp_extract_all(text, '#|\.\.\.')) AS n_sym,
                len(list_filter(words,
                    x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
                len(list_intersect(list_transform(words, x -> lower(x)),
                    ['the','be','to','of','and','that','have','with']))
                  AS n_stop
              FROM w
            )
            SELECT doc_id,
              (n_words >= 30 AND n_words <= 100000)::INT AS flag_word_count,
              (n_words > 0 AND 3 * n_words <= total_chars
               AND total_chars <= 10 * n_words)::INT AS flag_mean_word_len,
              (10 * n_sym <= n_words)::INT AS flag_symbol_ratio,
              (10 * n_bullet <= n_lines)::INT AS flag_bullets,
              (10 * n_ellipsis <= 3 * n_lines)::INT AS flag_ellipsis,
              (5 * n_alpha >= 4 * n_words)::INT AS flag_alpha_words,
              (n_stop >= 2)::INT AS flag_stop_words,
              ((n_words >= 30 AND n_words <= 100000)::INT
               * (n_words > 0 AND 3 * n_words <= total_chars
                  AND total_chars <= 10 * n_words)::INT
               * (10 * n_sym <= n_words)::INT
               * (10 * n_bullet <= n_lines)::INT
               * (10 * n_ellipsis <= 3 * n_lines)::INT
               * (5 * n_alpha >= 4 * n_words)::INT
               * (n_stop >= 2)::INT) AS passes
            FROM m ORDER BY doc_id
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE docs AS (
              SELECT doc_id, text FROM documents
              WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
            ),
            {minhash_cte},
            ver AS (
              SELECT c.a, c.b,
                     len(list_intersect(sa.sh, sb.sh)) AS i,
                     len(sa.sh) AS sza, len(sb.sh) AS szb
              FROM cand c
              JOIN sh0 sa ON sa.doc_id = c.a
              JOIN sh0 sb ON sb.doc_id = c.b
            ),
            pairs AS (
              SELECT a, b FROM ver
              WHERE i * 1.0 / (sza + szb - i) >= 0.5
            ),
            sym AS (
              SELECT a::VARCHAR AS x, b::VARCHAR AS y FROM pairs
              UNION SELECT b::VARCHAR, a::VARCHAR FROM pairs
            ),
            reach(id, r) AS (
              SELECT x, x FROM sym
              UNION
              SELECT re.id, s.y FROM reach re JOIN sym s ON s.x = re.r
            ),
            comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
            aggd AS (
              SELECT component, min(id::BIGINT) AS cluster_rep,
                     count(*) AS cluster_size
              FROM comp GROUP BY component
            )
            SELECT c.id::BIGINT AS doc_id, a.cluster_rep, a.cluster_size
            FROM comp c JOIN aggd a USING (component) ORDER BY doc_id
        """,
        "neighborhood_mean": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            base AS (SELECT src, dst FROM all_edges
                     WHERE (src * 31 + dst) % 3 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT a, b FROM (
                SELECT src AS a, dst AS b FROM base
                UNION SELECT dst, src FROM base) WHERE a <> b
            ),
            f0 AS (SELECT DISTINCT a AS id,
                          (a % 97)::BIGINT * 1000000 AS f FROM e),
            f1 AS MATERIALIZED (
              SELECT e.a AS id, (sum(f.f) // count(*))::BIGINT AS f
              FROM e JOIN f0 f ON f.id = e.b GROUP BY e.a
            ),
            f2 AS (
              SELECT e.a AS id, (sum(f.f) // count(*))::BIGINT AS f
              FROM e JOIN f1 f ON f.id = e.b GROUP BY e.a
            )
            SELECT id::INT AS id, f AS f_micro FROM f2 ORDER BY id
        """,
        "delta_components": f"""
            WITH RECURSIVE all_edges AS ({_TRADE_SQL}),
            both_sets AS (
              SELECT src, dst FROM all_edges
              WHERE (src * 31 + dst) % 11 IN (0, 3)
            ),
            sym AS (
              SELECT src::VARCHAR AS a, dst::VARCHAR AS b FROM both_sets
              UNION SELECT dst::VARCHAR, src::VARCHAR FROM both_sets
            ),
            reach(id, r) AS (
              SELECT a, a FROM sym
              UNION
              SELECT re.id, s.b FROM reach re JOIN sym s ON s.a = re.r
            )
            SELECT id::INT AS id, min(r)::INT AS component
            FROM reach GROUP BY id ORDER BY id
        """,
        "media_features": f"""
            SELECT media_id, kind, bin, v_micro
            FROM (VALUES {_MEDIA_FEATURES_LITERALS})
                 AS t(media_id, kind, bin, v_micro)
            ORDER BY media_id, bin
        """,
        "lang_stats": """
            SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "token_counts": """
            SELECT doc_id,
                   len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
                     AS n_tokens
            FROM documents ORDER BY doc_id
        """,
        "sequence_packing": """
            WITH d AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(text, '\\s+'),
                                     x -> x <> ''))::BIGINT AS n_tokens
              FROM documents),
            s AS (
              SELECT doc_id, n_tokens,
                     coalesce(sum(n_tokens + 1) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0)::BIGINT AS start_offset
              FROM d)
            SELECT doc_id, n_tokens, start_offset,
                   (start_offset // 128)::BIGINT AS first_seq,
                   ((start_offset + n_tokens) // 128)::BIGINT AS last_seq,
                   ((start_offset + n_tokens) // 128
                    - start_offset // 128 + 1)::BIGINT AS n_seqs
            FROM s ORDER BY doc_id
        """,
        "language_id": f"""
            WITH toks AS (
              SELECT doc_id,
                     regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+') AS t
              FROM documents
            ),
            scores AS (
              {" UNION ALL ".join(
                  "SELECT doc_id, '" + lang + "' AS lang, "
                  "len(list_filter(t, x -> x IN ("
                  + ", ".join("'" + w + "'" for w in words)
                  + "))) AS score FROM toks"
                  for lang, words in sorted(_LANGS.items()))}
            ),
            best AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
              FROM scores
            )
            SELECT doc_id,
                   CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_detected
            FROM best WHERE rn = 1 ORDER BY doc_id
        """,
        "quality_features": f"""
            WITH base AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     list_filter(regexp_split_to_array(lower(text),
                                 '[^\\p{{L}}\\p{{N}}]+'), x -> x <> '') AS toks
              FROM documents
            ),
            m AS (
              SELECT doc_id, n_chars, len(toks) AS n_tokens,
                     len(list_filter(toks, x -> x IN ({en_words}))) AS stop_hits
              FROM base
            )
            SELECT doc_id,
                   n_tokens AS q_n_tokens,
                   round(CASE WHEN n_tokens > 0
                              THEN n_chars * 1.0 / n_tokens ELSE 0 END, 6)
                     AS q_mean_word_len,
                   round(CASE WHEN n_tokens > 0
                              THEN stop_hits * 1.0 / n_tokens ELSE 0 END, 6)
                     AS q_stopword_ratio,
                   round(
                     (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END)
                     + (CASE WHEN n_tokens > 0
                             AND n_chars * 1.0 / n_tokens BETWEEN 3 AND 12
                             THEN 0.3 ELSE 0 END)
                     + (CASE WHEN n_tokens > 0
                             AND stop_hits * 1.0 / n_tokens >= 0.05
                             THEN 0.3 ELSE 0 END), 6) AS q_score
            FROM m ORDER BY doc_id
        """,
        "fingerprint_dups": """
            SELECT doc_id,
                   md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))
                     AS fingerprint
            FROM documents ORDER BY doc_id
        """,
        "repetition_stats": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
              FROM documents
            ),
            base AS (
              SELECT doc_id, len(t) AS n_tokens,
                     len(list_distinct(t)) AS n_distinct, t
              FROM toks
            ),
            bg AS (
              SELECT doc_id,
                     unnest(CASE WHEN len(t) >= 2 THEN list_transform(
                       generate_series(1, len(t) - 1),
                       i -> array_to_string(t[i : i + 1], ' '))
                       ELSE [] END) AS g
              FROM base
            ),
            counts AS (
              SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2
            ),
            per_doc AS (
              SELECT doc_id, max(c) AS max_c, sum(c) AS total_c
              FROM counts GROUP BY 1
            )
            SELECT b.doc_id, b.n_tokens,
                   round(CASE WHEN b.n_tokens > 0
                              THEN 1.0 - b.n_distinct * 1.0 / b.n_tokens
                              ELSE 0 END, 6) AS dup_token_ratio,
                   round(coalesce(p.max_c * 1.0 / p.total_c, 0), 6)
                     AS top_bigram_share
            FROM base b LEFT JOIN per_doc p USING (doc_id)
            ORDER BY b.doc_id
        """,
        "salted_source_counts": """
            -- oracle: plain GROUP BY; salted two-phase agg must equal it
            -- ::BIGINT: duckdb sum() yields HUGEINT (stringifies as float
            -- through pandas)
            SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
                   max(n_chars) AS max_chars
            FROM documents GROUP BY source ORDER BY source
        """,
        "clean_corpus": f"""
            WITH toks AS (
              SELECT doc_id, text, source, n_chars,
                     regexp_split_to_array(lower(text), '[^\\p{{L}}\\p{{N}}]+') AS t
              FROM documents
            ),
            scores AS (
              {" UNION ALL ".join(
                  "SELECT doc_id, '" + lang + "' AS lang, "
                  "len(list_filter(t, x -> x IN ("
                  + ", ".join("'" + w + "'" for w in words)
                  + "))) AS score FROM toks"
                  for lang, words in sorted(_LANGS.items()))}
            ),
            best AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
              FROM scores
            ),
            en AS (SELECT doc_id FROM best
                   WHERE rn = 1 AND score > 0 AND lang = 'en'),
            q AS (
              SELECT tk.doc_id, tk.text, tk.source, tk.n_chars,
                     length(tk.text) AS chars,
                     len(list_filter(tk.t, x -> x <> '')) AS n_tokens,
                     len(list_filter(tk.t, x -> x IN ({", ".join(
                         "'" + w + "'" for w in _LANGS["en"])}))) AS stop_hits
              FROM toks tk JOIN en USING (doc_id)
            ),
            scored AS (
              SELECT *, round(
                (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.4 ELSE 0 END)
                + (CASE WHEN n_tokens > 0
                        AND chars * 1.0 / n_tokens BETWEEN 3 AND 12
                        THEN 0.3 ELSE 0 END)
                + (CASE WHEN n_tokens > 0
                        AND stop_hits * 1.0 / n_tokens >= 0.05
                        THEN 0.3 ELSE 0 END), 6) AS q_score
              FROM q
            ),
            good AS (SELECT doc_id, text, source, n_chars FROM scored
                     WHERE q_score >= 0.7),
            keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY text)
            SELECT g.source, count(*) AS n_docs,
                   round(avg(g.n_chars), 6) AS avg_chars
            FROM good g JOIN keep USING (doc_id)
            GROUP BY g.source ORDER BY g.source
        """,
        "containment_pairs": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '\\s+'),
                                 w -> w <> '') AS t
              FROM documents
            ),
            sh AS (
              SELECT DISTINCT doc_id, s FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         generate_series(1, greatest(len(t) - 2, 1)),
                         i -> array_to_string(t[i : i + 2], ' '))) AS s
                FROM toks WHERE len(t) > 0
              )
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
            inter AS (
              SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i
              FROM sh l JOIN sh r ON l.s = r.s AND l.doc_id < r.doc_id
              GROUP BY 1, 2
            )
            SELECT a, b,
                   round(i * 1.0 / sa.sz, 6)::DECIMAL(20,6)::VARCHAR AS c_ab,
                   round(i * 1.0 / sb.sz, 6)::DECIMAL(20,6)::VARCHAR AS c_ba
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
            WHERE round(i * 1.0 / sa.sz, 6) >= 0.5
               OR round(i * 1.0 / sb.sz, 6) >= 0.5
            ORDER BY a, b
        """,
        "curated_corpus": _curated_corpus_sql(),
        "winnow_fingerprints": """
            WITH toks AS (
              SELECT doc_id, string_split_regex(lower(text), '\\s+') AS t
              FROM documents
            ),
            grams AS (
              SELECT doc_id,
                     list_transform(
                       generate_series(1, greatest(len(t) - 4, 1)),
                       i -> ('0x' || substring(
                              md5(array_to_string(t[i : i + 4], ' ')), 1, 15)
                            )::BIGINT) AS h
              FROM toks
            )
            SELECT DISTINCT doc_id,
                   unnest(list_transform(
                     generate_series(1, greatest(len(h) - 3, 1)),
                     j -> list_min(h[j : j + 3]))) AS fingerprint
            FROM grams
            ORDER BY doc_id, fingerprint
        """,
        "broadcast_lookup": """
            SELECT n.n_name AS nation, count(*) AS n_customers,
                   round(avg(c.c_acctbal), 6) AS avg_acctbal
            FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1 ORDER BY nation
        """,
        "part_sets": """
            SELECT o.o_custkey AS custkey,
                   array_to_string(list_sort(list(DISTINCT l.l_partkey)), '|')
                     AS parts,
                   count(DISTINCT l.l_partkey) AS n_parts
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_custkey < 50
            GROUP BY 1 ORDER BY custkey
        """,
        "set_ops": """
            WITH seg AS (
              SELECT c_mktsegment, list_sort(list(DISTINCT c_nationkey)) AS nations
              FROM customer GROUP BY 1
            )
            SELECT a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
                   len(list_intersect(a.nations, b.nations)) AS n_common,
                   len(list_filter(a.nations,
                                   x -> NOT list_contains(b.nations, x))) AS n_only_a
            FROM seg a JOIN seg b ON a.c_mktsegment < b.c_mktsegment
            ORDER BY seg_a, seg_b
        """,
        "rank_nulls_last": """
            SELECT s_suppkey, s_acctbal,
                   row_number() OVER (
                     ORDER BY (CASE WHEN s_acctbal IS NULL OR s_acctbal = 0
                                    THEN 1 ELSE 0 END) ASC,
                              (CASE WHEN s_acctbal IS NULL OR s_acctbal = 0
                                    THEN NULL ELSE s_acctbal END) DESC,
                              s_suppkey ASC) AS rank
            FROM supplier ORDER BY rank
        """,
        "first_event_per_user": """
            SELECT user_id, event_id, event_type FROM (
              SELECT user_id, event_id, event_type,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts ASC, event_id ASC) AS rn
              FROM events
            ) WHERE rn = 1 ORDER BY user_id
        """,
        "value_collapse": """
            WITH per_user AS (
              SELECT user_id,
                     max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1
                       AS has_one,
                     max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) = 1
                       AS has_neg
              FROM events GROUP BY 1
            )
            SELECT user_id,
                   CASE WHEN has_one AND has_neg THEN 'conflict'
                        WHEN has_neg THEN '-1'
                        WHEN has_one THEN '1'
                        ELSE '0' END AS value,
                   (has_one AND has_neg) AS conflict
            FROM per_user ORDER BY user_id
        """,
        "asof_purchase_click": """
            WITH p AS (SELECT user_id, event_id AS purchase_id, epoch(ts) AS ts
                       FROM events WHERE event_type = 'purchase'),
                 c AS (SELECT user_id, event_id AS click_id, epoch(ts) AS ts
                       FROM events WHERE event_type = 'click')
            SELECT p.user_id, p.purchase_id,
                   coalesce(c.click_id::VARCHAR, '-') AS asof_click_id,
                   coalesce(c.ts::DECIMAL(20,6)::VARCHAR, '-') AS asof_ts
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
            ORDER BY p.user_id, p.purchase_id
        """,
        "interval_event_counts": """
            WITH iv AS (
              SELECT i AS interval_id,
                     1704067200 + i * 43200 AS start,
                     1704067200 + i * 43200 + 57600 AS "end"
              FROM (SELECT unnest(generate_series(0, 59)) AS i)
            ),
            e AS (SELECT event_id, value, floor(epoch(ts))::BIGINT AS ts
                  FROM events)
            SELECT iv.interval_id, count(*) AS n_events,
                   round(sum(e.value), 6) AS sum_value
            FROM e JOIN iv ON e.ts BETWEEN iv.start AND iv."end"
            GROUP BY 1 ORDER BY interval_id
        """,
        "rolling_user_value": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (
                     PARTITION BY user_id ORDER BY floor(epoch(ts))
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6)
                     AS rolling_value
            FROM events WHERE user_id < 100
            ORDER BY user_id, event_id
        """,
        "lang_source_rollup": """
            SELECT coalesce(lang, '<all>') AS lang,
                   coalesce(source, '<all>') AS source,
                   count(*) AS n_docs,
                   round(avg(n_chars), 6) AS avg_chars
            FROM documents
            GROUP BY ROLLUP (lang, source)
            ORDER BY lang, source
        """,
        "event_sessions": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n, round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2 ORDER BY hour, event_type
        """,
        "user_sessions": """
            WITH flagged AS (
              -- floor(epoch) mirrors Spark's cast(ts as long) truncation
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                          OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
            ),
            sess AS (
              -- ::BIGINT: duckdb sum() yields HUGEINT, which stringifies
              -- differently through pandas than Spark's long
              SELECT user_id, ts,
                     sum(new_sess) OVER (PARTITION BY user_id
                                         ORDER BY ts ASC, event_id ASC)::BIGINT
                       AS session_id
              FROM flagged
            )
            SELECT user_id, session_id, count(*) AS n_events,
                   (max(floor(epoch(ts))) - min(floor(epoch(ts))))::BIGINT
                     AS duration_sec
            FROM sess GROUP BY 1, 2 ORDER BY user_id, session_id
        """,
        "trade_edges": f"""
            {_TRADE_SQL} ORDER BY src, dst
        """,
        "dag_layers": f"""
            WITH RECURSIVE e AS (
              SELECT DISTINCT src, dst FROM ({_TRADE_SQL}) WHERE src < dst
            ),
            nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
            walk(id, d) AS (
              SELECT id, 0 FROM nodes
              UNION
              SELECT e.dst, w.d + 1 FROM walk w JOIN e ON e.src = w.id
            )
            SELECT id, max(d)::INT AS layer FROM walk GROUP BY id ORDER BY id
        """,
        "bfs_reachable": f"""
            WITH RECURSIVE edges AS ({_TRADE_SQL}),
            reach(id) AS (
              SELECT 0
              UNION
              SELECT e.dst FROM reach r JOIN edges e ON e.src = r.id
            )
            SELECT id FROM reach ORDER BY id
        """,
        "closure_counts": f"""
            WITH RECURSIVE edges AS ({_TRADE_SQL}),
            nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
            reach(src, dst) AS (
              SELECT n, n FROM nodes
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
            )
            SELECT src, count(*) AS n_reachable FROM reach
            GROUP BY src ORDER BY src
        """,
        "induced_subgraph": f"""
            WITH edges AS ({_TRADE_SQL}),
            odd AS (SELECT n_nationkey::INT AS id FROM nation
                    WHERE n_nationkey % 2 = 1)
            SELECT src, dst FROM edges
            WHERE src IN (SELECT id FROM odd) AND dst IN (SELECT id FROM odd)
            ORDER BY src, dst
        """,
        "acyclic_cut": f"""
            WITH edges AS ({_TRADE_SQL})
            SELECT src, dst FROM edges
            WHERE NOT (src IN (SELECT n_nationkey::INT FROM nation
                               WHERE n_regionkey = 0)
                   AND dst IN (SELECT n_nationkey::INT FROM nation
                               WHERE n_regionkey = 1))
            ORDER BY src, dst
        """,
        "connected_components": f"""
            WITH RECURSIVE all_edges AS ({_TRADE_SQL}),
            base AS (
              SELECT src, dst FROM all_edges WHERE (src * 31 + dst) % 11 = 0
            ),
            -- component = MIN over STRING ordering of reachable labels
            -- (the engine's connected_components orders node ids as strings)
            sym AS (
              SELECT src::VARCHAR AS a, dst::VARCHAR AS b FROM base
              UNION SELECT dst::VARCHAR, src::VARCHAR FROM base
            ),
            reach(id, r) AS (
              SELECT a, a FROM sym
              UNION
              SELECT re.id, s.b FROM reach re JOIN sym s ON s.a = re.r
            )
            SELECT id::INT AS id, min(r)::INT AS component
            FROM reach GROUP BY id ORDER BY id
        """,
        "assortativity": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            sym AS (SELECT lo AS u, hi AS v FROM e
                    UNION ALL SELECT hi, lo FROM e),
            deg AS (SELECT u AS n, count(*)::BIGINT AS d FROM sym GROUP BY u),
            b AS (SELECT du.d AS du, dv.d AS dv
                  FROM sym s JOIN deg du ON du.n = s.u
                             JOIN deg dv ON dv.n = s.v),
            a AS (SELECT count(*)::BIGINT AS n,
                         sum(du)::BIGINT AS s1, sum(dv)::BIGINT AS s2,
                         sum(du * dv)::BIGINT AS s11,
                         sum(du * du)::BIGINT AS s20,
                         sum(dv * dv)::BIGINT AS s02
                  FROM b)
            SELECT (n / 2)::BIGINT AS n_edges,
                   (CASE WHEN sqrt((n * s20 - s1 * s1)::DOUBLE
                                   * (n * s02 - s2 * s2)::DOUBLE) > 0
                         THEN round((n * s11 - s1 * s2)::DOUBLE
                                    / sqrt((n * s20 - s1 * s1)::DOUBLE
                                           * (n * s02 - s2 * s2)::DOUBLE), 6)
                         ELSE 0.0 END)::DECIMAL(20,6)::VARCHAR
                     AS assortativity
            FROM a
        """,
        "adamic_adar": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            sym AS (SELECT lo AS w, hi AS n FROM e
                    UNION ALL SELECT hi, lo FROM e),
            deg AS (SELECT w, count(*)::BIGINT AS deg FROM sym GROUP BY w),
            adj AS (
              SELECT s.w, s.n,
                     CAST(round(1e6 * round(1.0 / ln(deg.deg::DOUBLE), 6))
                          AS BIGINT) AS c
              FROM sym s JOIN deg ON s.w = deg.w WHERE deg.deg >= 2),
            wedges AS (
              SELECT l.n AS u, r.n AS v, l.c
              FROM adj l JOIN adj r ON l.w = r.w AND l.n < r.n),
            scored AS (
              SELECT u, v, count(*)::BIGINT AS n_common,
                     sum(c)::BIGINT AS aa_micro
              FROM wedges GROUP BY u, v)
            SELECT u, v, n_common, aa_micro FROM scored s
            WHERE NOT EXISTS (SELECT 1 FROM e
                              WHERE e.lo = s.u AND e.hi = s.v)
            ORDER BY u, v
        """,
        "scc": f"""
            WITH RECURSIVE all_edges AS ({_TRADE_SQL}),
            base AS (
              SELECT src, dst FROM all_edges
              WHERE (src * 31 + dst) % 13 = 0 AND src <> dst),
            nodes AS (SELECT src AS v FROM base UNION SELECT dst FROM base),
            reach(a, b) AS (
              SELECT v, v FROM nodes
              UNION
              SELECT r.a, e.dst FROM reach r JOIN base e ON e.src = r.b
            )
            SELECT r1.a AS id, min(r1.b)::INT AS component
            FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
            GROUP BY r1.a ORDER BY id
        """,
        "k_core": _k_core_sql(),
        "clustering_coefficients": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            deg AS (
              SELECT id, count(*)::BIGINT AS degree FROM (
                SELECT lo AS id FROM e UNION ALL SELECT hi FROM e)
              GROUP BY id),
            tri AS (
              SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
              FROM e ab JOIN e bc ON bc.lo = ab.hi
              WHERE EXISTS (SELECT 1 FROM e ac
                            WHERE ac.lo = ab.lo AND ac.hi = bc.hi)),
            member AS (
              SELECT a AS id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri),
            tc AS (
              SELECT d.id, coalesce(m.n, 0)::BIGINT AS n_triangles
              FROM deg d LEFT JOIN (
                SELECT id, count(*) AS n FROM member GROUP BY 1) m USING (id))
            SELECT d.id, d.degree, tc.n_triangles,
                   CASE WHEN d.degree >= 2 THEN
                     CAST(round(1e6 * round(
                       2.0 * tc.n_triangles
                       / (d.degree::DOUBLE * (d.degree - 1.0)), 6)) AS BIGINT)
                   ELSE 0 END AS lcc_micro
            FROM deg d JOIN tc ON tc.id = d.id
            ORDER BY d.id
        """,
        "pagerank": _pagerank_sql(),
        "personalized_pagerank": _ppr_sql(),
        "triangle_counts": f"""
            WITH all_edges AS MATERIALIZED ({_TRADE_SQL}),
            sparse AS (SELECT src, dst FROM all_edges
                       WHERE (src * 31 + dst) % 7 = 0),
            e AS MATERIALIZED (
              SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
              FROM sparse WHERE least(src, dst) <> greatest(src, dst)),
            nodes AS (SELECT lo AS id FROM e UNION SELECT hi FROM e),
            tri AS (
              SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
              FROM e ab JOIN e bc ON bc.lo = ab.hi
              WHERE EXISTS (SELECT 1 FROM e ac
                            WHERE ac.lo = ab.lo AND ac.hi = bc.hi)),
            member AS (
              SELECT a AS id FROM tri
              UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
            SELECT n.id, coalesce(m.n, 0)::BIGINT AS n_triangles
            FROM nodes n LEFT JOIN (
              SELECT id, count(*) AS n FROM member GROUP BY 1) m USING (id)
            ORDER BY n.id
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
              FROM documents
            ),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term <> '' GROUP BY 1, 2
            ),
            df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
            scored AS (
              SELECT tf.doc_id, tf.term,
                     round(tf.tf * ln(n.n_docs / df.df), 6) AS tfidf
              FROM tf JOIN df USING (term) CROSS JOIN n
            ),
            ranked AS (
              SELECT doc_id, term, tfidf,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY tfidf DESC, term ASC) AS rnk
              FROM scored
            )
            SELECT doc_id, rnk, term, tfidf FROM ranked
            WHERE rnk <= 3 ORDER BY doc_id, rnk
        """,
        "cosine_topk": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
            scored AS (
              SELECT q.qid, e.vec_id,
                     round(list_dot_product(e.v, q.qv)
                           / (sqrt(list_dot_product(e.v, e.v))
                              * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
              FROM e CROSS JOIN q WHERE e.vec_id <> q.qid
            ),
            ranked AS (
              SELECT qid, vec_id, cos_sim,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY cos_sim DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT qid, vec_id, cos_sim, rank FROM ranked
            WHERE rank <= 5 ORDER BY qid, rank
        """,
        "textrank_keywords": _textrank_sql(),
        "butterfly_counts": """
            WITH e AS (SELECT DISTINCT l_orderkey AS u, l_partkey AS v
                       FROM lineitem),
            nodes AS (SELECT DISTINCT v AS id FROM e),
            wedges AS (
              SELECT l.v AS v1, r.v AS v2
              FROM e l JOIN e r ON l.u = r.u AND l.v < r.v),
            pairs AS (
              SELECT v1, v2, count(*) AS c FROM wedges
              GROUP BY 1, 2 HAVING count(*) >= 2),
            member AS (
              SELECT v1 AS id, (c * (c - 1)) // 2 AS bf FROM pairs
              UNION ALL SELECT v2, (c * (c - 1)) // 2 FROM pairs)
            SELECT n.id AS p_partkey, coalesce(m.b, 0)::BIGINT AS n_butterflies
            FROM nodes n LEFT JOIN (
              SELECT id, sum(bf) AS b FROM member GROUP BY 1) m USING (id)
            ORDER BY p_partkey
        """,
        "ivf_topk": _ivf_topk_sql(),
        "ivfpq_topk": _ivfpq_topk_sql(),
        "ivfpq_residual_topk": _ivfpq_residual_sql(),
        "label_propagation": _lpa_sql(3),
        "int8_quantize": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            s AS (SELECT vec_id, v,
                         CASE WHEN v IS NULL THEN NULL
                              ELSE coalesce(list_aggregate(
                                list_transform(v, x -> abs(x)), 'max'), 0.0)
                         END AS amax
                  FROM e)
            SELECT vec_id,
                   (amax / 127.0)::DECIMAL(20,6)::VARCHAR AS scale,
                   CASE WHEN amax > 0 THEN
                     array_to_string(list_transform(
                       v, x -> round(x / (amax / 127.0))::INT), '|')
                   END AS q
            FROM s ORDER BY vec_id
        """,
        "pq_topk": _pq_topk_sql(),
        "embedding_lsh_pairs": _embedding_lsh_sql(),
        "cosine_histogram": """
            WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                       WHERE vec_id < 200),
            pairs AS (
              SELECT list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))) AS c
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT floor(c * 10)::INT AS bucket, count(*) AS n_pairs
            FROM pairs GROUP BY 1 ORDER BY bucket
        """,
    }
