"""Unit tests per operator (SURVEY §5.2) on tiny hand-built DataFrames with
pure-Python oracles mirroring the reference line-for-line."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.config import (
    CAUSES, INHIBITS, MYTH_ABOUT)
from climatemind_ontology_processing_spark.functions.arrays import (
    any_truthy, compute_collapse, compute_conflict, flatten_source_lists,
    normalize_property_label)
from climatemind_ontology_processing_spark.functions.urlcheck import (
    filter_valid_urls, python_url_ok)
from climatemind_ontology_processing_spark.operators.canonicalize import (
    canonicalize_triples, connected_components)
from climatemind_ontology_processing_spark.operators.dedup import (
    dedup_exact, jaccard_pairs, minhash_lsh_pairs, simhash_near_pairs)
from climatemind_ontology_processing_spark.operators.traversal import (
    bfs_reachable, induced_edges, transitive_closure)


# ---------------------------------------------------------------------------
# A3 compute (make_graph_class.py:268-291)
# ---------------------------------------------------------------------------
def reference_compute(values):
    if all(v is None for v in values):
        return None
    final = 0
    for v in values:
        if v == 1:
            final = 1
        if v == -1:
            final = -1
    if 1 in values and -1 in values:
        return "CONFLICT"
    return final


@pytest.mark.parametrize("vec", [
    [None, None], [None, 0], [0, 0], [1, None], [1, 0], [-1, 0],
    [None, -1], [1, 1], [-1, -1], [1, -1], [0, 1, -1], [None, 1, None],
])
def test_compute_collapse_matches_reference(spark, vec):
    df = spark.createDataFrame([(vec,)], "v array<int>")
    got = df.select(compute_collapse(F.col("v")).alias("r"),
                    compute_conflict(F.col("v")).alias("c")).first()
    want = reference_compute(vec)
    if want == "CONFLICT":
        assert got.c is True and got.r is None
    else:
        assert got.c is False and got.r == want


def test_any_truthy(spark):
    df = spark.createDataFrame(
        [([None, 0],), ([0, 0],), ([None, None],), ([0, 1],), ([-1, None],)],
        "v array<int>")
    got = [r[0] for r in df.select(any_truthy(F.col("v"))).collect()]
    # python: any([None,0])=False, any([0,1])=True, any([-1,None])=True
    assert got == [False, False, False, True, True]


def test_flatten_source_lists_order_and_dedup(spark):
    props = {"dc_source": ["u1", "u2"], "schema_mediaSource": ["u2", "u3"],
             "schema_longDescription": ["not-a-source"]}
    df = spark.createDataFrame([(props,)], "p map<string,array<string>>")
    got = df.select(flatten_source_lists(F.col("p")).alias("s")).first().s
    assert got == ["u1", "u2", "u3"]  # first occurrence kept, non-source ignored


def test_normalize_property_label(spark):
    df = spark.createDataFrame([("a/b c:d",)], "s string")
    assert df.select(normalize_property_label(F.col("s"))).first()[0] == "a_or_b_c_d"


def test_url_filter(spark):
    urls = ["https://example.com/x", "notaurl", "http://a.b.co/p?q=1",
            "ftp://files.example.org/f", "https://", "http://nodot/x"]
    df = spark.createDataFrame([(urls,)], "u array<string>")
    got = df.select(filter_valid_urls(F.col("u")).alias("v")).first().v
    assert got == ["https://example.com/x", "http://a.b.co/p?q=1",
                   "ftp://files.example.org/f"]
    for u in urls:
        assert python_url_ok(u) == (u in got), u


# ---------------------------------------------------------------------------
# G2/J5/closure on a hand graph
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def tiny_edges(spark):
    rows = [
        ("r", "a", CAUSES), ("a", "b", CAUSES), ("b", "c", CAUSES),
        ("x", "a", INHIBITS), ("c", "d", "other"), ("e", "r", CAUSES),
    ]
    return spark.createDataFrame(rows, "src string, dst string, type string")


def test_bfs_forward_typed(spark, tiny_edges):
    seeds = spark.createDataFrame([("r",)], "id string")
    got = {r.id for r in bfs_reachable(tiny_edges, seeds, "forward", CAUSES).collect()}
    assert got == {"r", "a", "b", "c"}  # 'd' blocked by type, 'x'/'e' unreachable


def test_bfs_any_direction(spark, tiny_edges):
    seeds = spark.createDataFrame([("a",)], "id string")
    got = {r.id for r in bfs_reachable(tiny_edges, seeds, "any", None).collect()}
    assert got == {"r", "a", "b", "c", "d", "x", "e"}


def test_induced_edges(spark, tiny_edges):
    ns = spark.createDataFrame([("r",), ("a",), ("b",)], "id string")
    got = {(r.src, r.dst) for r in induced_edges(tiny_edges, ns).collect()}
    assert got == {("r", "a"), ("a", "b")}


def test_transitive_closure_reflexive(spark, tiny_edges):
    got = {(r.src, r.dst) for r in transitive_closure(tiny_edges, CAUSES).collect()}
    assert ("r", "c") in got and ("e", "c") in got
    assert ("r", "r") in got  # reflexive
    assert ("a", "r") not in got


# ---------------------------------------------------------------------------
# G11 connected components
# ---------------------------------------------------------------------------
def test_connected_components(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e"), ("f", "f2"), ("f2", "a")],
        "src string, dst string")
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == comp["f"] == comp["f2"] == "a"
    assert comp["d"] == comp["e"] == "d"


def test_canonicalize_triples(spark):
    triples = spark.createDataFrame(
        [("global warming", CAUSES, "sea rise"),
         ("warming of the globe", CAUSES, "sea rise"),
         ("unrelated", CAUSES, "thing")],
        "subj string, pred string, obj string")
    aliases = spark.createDataFrame(
        [("warming of the globe", "global warming")], "src string, dst string")
    got = {(r.subj, r.pred, r.obj)
           for r in canonicalize_triples(triples, aliases).collect()}
    assert got == {("global warming", CAUSES, "sea rise"),
                   ("unrelated", CAUSES, "thing")}


# ---------------------------------------------------------------------------
# dedup suite
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat again and again"),  # near dup
        (3, "completely different text about spark dataframes and shuffles"),
        (4, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark, docs):
    kept = {r.doc_id for r in dedup_exact(docs).collect()}
    assert kept == {0, 2, 3, 4}  # lowest id survives


def test_jaccard_pairs(spark, docs):
    pairs = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_dups(spark, docs):
    got = {(r.a, r.b) for r in minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in got
    assert (0, 3) not in got and (1, 3) not in got


def test_simhash_near_pairs(spark, docs):
    got = {(r.a, r.b) for r in simhash_near_pairs(docs, max_hamming=10).collect()}
    assert (0, 1) in got
    assert (0, 3) not in got


def test_near_dup_pairs_subset_of_exact(spark, docs):
    """LSH-verified near-dups are exact-jaccard-correct and a subset of the
    all-pairs result (recall bounded by banding)."""
    from climatemind_ontology_processing_spark.operators.dedup import near_dup_pairs
    exact = {(r.a, r.b): r.jaccard for r in jaccard_pairs(docs, threshold=0.5).collect()}
    # exact_dedup_first=False: this test exercises the raw LSH+verify
    # composition incl. the identical-pair property (the production default
    # collapses exact copies first — covered by the guardrail test)
    nd = {(r.a, r.b): r.jaccard
          for r in near_dup_pairs(docs, threshold=0.5,
                                  exact_dedup_first=False).collect()}
    assert set(nd) <= set(exact)
    for k, v in nd.items():
        assert abs(v - exact[k]) < 1e-9
    assert (0, 1) in nd  # identical docs always collide in every band
    # and the production default excludes intra-exact-copy pairs
    nd_def = {(r.a, r.b)
              for r in near_dup_pairs(docs, threshold=0.5).collect()}
    assert (0, 1) not in nd_def and nd_def <= set(exact)


def test_blank_documents_pair_with_nothing(spark):
    """Blank and whitespace-only texts have no shingles, so no near-dup
    operator reports them as duplicates of each other; edge whitespace
    around real text adds no shingle either."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        near_dup_pairs, ppjoin_pairs)
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "\t\n "), (4, " "), (5, ""),
         (10, f"  {text}"), (11, f"{text}\n")],
        "doc_id long, text string")
    for op in (jaccard_pairs, near_dup_pairs, ppjoin_pairs,
               minhash_lsh_pairs):
        got = {(r.a, r.b) for r in op(docs).collect()}
        assert got == {(10, 11)}, op.__name__


def test_near_dup_guardrails_planted_dups(spark):
    """The LSH scale-killer guardrails: 10k planted EXACT duplicates must not
    produce ~5*10^7 candidate pairs.  (a) near_dup_pairs collapses them via
    exact-dedup-first (linear work, zero intra-copy pairs); (b) a direct
    minhash_lsh_pairs call drops the mega-bucket via max_bucket_size;
    (c) oversized_lsh_buckets reports what was dropped."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        minhash_lsh_pairs, near_dup_pairs, oversized_lsh_buckets)
    boiler = "this parked domain page is for sale contact the registrar today"
    rows = [(i, boiler) for i in range(10_000)]
    rows += [(20_000, "the quick brown fox jumps over the lazy dog again and again"),
             (20_001, "the quick brown fox jumps over the lazy cat again and again"),
             (20_002, "completely different text about spark dataframes and shuffles")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    nd = near_dup_pairs(docs, threshold=0.5).collect()
    pairs = {(r.a, r.b) for r in nd}
    # linear, not quadratic: exact copies collapsed to one winner before LSH
    assert len(pairs) < 50, f"guardrail failed: {len(pairs)} pairs"
    assert (20_000, 20_001) in pairs          # genuine near-dup survives
    assert not any(a < 10_000 and b < 10_000 for a, b in pairs), \
        "exact-copy pairs must be dedup_exact's output, not near-dup's"

    lsh = minhash_lsh_pairs(docs).collect()   # default max_bucket_size=1000
    assert len(lsh) < 50, f"bucket cap failed: {len(lsh)} candidate pairs"

    dropped = oversized_lsh_buckets(docs).collect()
    assert dropped and all(r.n_members == 10_000 for r in dropped)


def test_jaccard_hot_shingle_df_cap(spark):
    """Hot-shingle guardrail (round-3 verdict #3): 10k UNIQUE docs sharing
    one boilerplate sentence must not send ~5*10^7 pair rows through the
    shingle self-join.  Exact-dedup-first can't help (texts differ), so the
    max_shingle_df census must drop the boilerplate shingles; pairs whose
    only overlap is boilerplate disappear, genuine near-dups survive, and
    oversized_shingles reports exactly what was dropped."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        jaccard_pairs, containment_pairs, oversized_shingles)
    boiler = "standard cookie banner text appears here"
    # 10k docs: unique body + the same boilerplate sentence -> every
    # boilerplate-only shingle has df=10_000 (cap default 1000 drops them)
    rows = [(i, f"unique body sentence number {i} {boiler}")
            for i in range(10_000)]
    # one genuine near-dup pair whose overlap is NOT boilerplate
    rows += [(20_000, "alpha beta gamma delta epsilon zeta eta theta"),
             (20_001, "alpha beta gamma delta epsilon zeta eta iota")]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(8)
    got = jaccard_pairs(docs, n=3, threshold=0.3).collect()
    pairs = {(r.a, r.b) for r in got}
    assert (20_000, 20_001) in pairs
    assert len(pairs) < 50, f"df cap failed: {len(pairs)} pairs"
    assert not any(a < 10_000 and b < 10_000 for a, b in pairs), \
        "boilerplate-only overlap must not produce pairs under the cap"
    cont = containment_pairs(docs, n=3, threshold=0.9).collect()
    assert not any(r.a < 10_000 and r.b < 10_000 for r in cont)
    dropped = oversized_shingles(docs, n=3, max_shingle_df=1000).collect()
    assert dropped and all(r.doc_freq == 10_000 for r in dropped)
    # capped == uncapped when no shingle exceeds the cap
    clean = spark.createDataFrame(rows[-2:], "doc_id long, text string")
    capped = {(r.a, r.b, r.jaccard)
              for r in jaccard_pairs(clean, n=3, threshold=0.3).collect()}
    uncapped = {(r.a, r.b, r.jaccard)
                for r in jaccard_pairs(clean, n=3, threshold=0.3,
                                       max_shingle_df=None).collect()}
    assert capped == uncapped


def test_dedup_exact_assert_unique_ids(spark):
    from climatemind_ontology_processing_spark.operators.dedup import dedup_exact
    dup_ids = spark.createDataFrame(
        [(1, "aa"), (1, "bb"), (2, "cc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="duplicate values"):
        dedup_exact(dup_ids, assert_unique_ids=True)
    ok = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "cc")], "doc_id long, text string")
    kept = {r.doc_id for r in dedup_exact(ok, assert_unique_ids=True).collect()}
    assert kept == {1, 3}


def test_hash_family_md5_variants(spark, docs):
    """The md5_60 hash family (SQL-replayable, used by the driver oracles)
    must preserve every behavioral property of the xxhash64 default: the
    exact-dup pair collides in every band, near-dup verification returns the
    SAME pairs with the SAME jaccard (jaccard is a set ratio — any hash
    family without collisions on the corpus gives identical values), and
    simhash banding still blocks the exact dup together."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        minhash_lsh_pairs, near_dup_pairs, simhash_near_pairs, token_hash)

    got = {(r.a, r.b) for r in
           minhash_lsh_pairs(docs, hash_family="md5_60").collect()}
    assert (0, 1) in got and (0, 3) not in got

    # bands=32 x rows=1: collision probability 1-(1-j)^32 (~1 for j>=0.5),
    # so both families see the same candidate set almost surely and the
    # verified outputs must coincide; exact_dedup_first off so the exact-dup
    # pair (0,1) participates too
    kw = dict(threshold=0.5, num_hashes=32, bands=32, exact_dedup_first=False)
    nd_x = {(r.a, r.b): r.jaccard for r in near_dup_pairs(docs, **kw).collect()}
    nd_m = {(r.a, r.b): r.jaccard
            for r in near_dup_pairs(docs, hash_family="md5_60", **kw).collect()}
    assert (0, 1) in nd_m and (0, 2) in nd_m
    assert set(nd_m) == set(nd_x)
    for k in nd_m:
        assert abs(nd_m[k] - nd_x[k]) < 1e-9

    sp = {(r.a, r.b) for r in
          simhash_near_pairs(docs, max_hamming=10,
                             hash_family="md5_60").collect()}
    assert (0, 1) in sp and (0, 3) not in sp

    # md5_60 values are non-negative 60-bit longs and match the documented
    # DuckDB idiom's range
    vals = [r.h for r in spark.range(5).select(
        token_hash(F.concat(F.lit("t"), F.col("id")), "md5_60").alias("h"))
        .collect()]
    assert all(0 <= v < (1 << 60) for v in vals)
    with pytest.raises(ValueError, match="hash_family"):
        token_hash(F.lit("x"), "sha999")


def test_asof_join_null_timestamps(spark):
    """SQL ASOF null semantics: right rows with NULL ts never match (dropped
    pre-union); left rows with NULL ts carry no match."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        asof_join)
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, None, "pnull")], "k long, ts long, pid string")
    right = spark.createDataFrame(
        [(1, None, "c_null_ts"), (1, 7, "c_at_7")], "k long, ts long, cid string")
    got = {r.pid: (r.asof_cid, r.asof_ts)
           for r in asof_join(left, right, key="k").collect()}
    assert got["p1"] == ("c_at_7", 7)      # null-ts right row is NOT the match
    assert got["pnull"] == (None, None)    # null left ts -> no match


def test_char_entropy(spark):
    """Hand-computed Shannon entropies: uniform-1 char = 0 bits, two equal
    chars = 1 bit, 'aabb'-style = 1 bit, 'abcd' = 2 bits; empty text emits
    no row."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        char_entropy)
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "aabb"), (4, "abcd"), (5, ""),
         (6, "aab")],
        "doc_id long, text string")
    got = {r.doc_id: r.char_entropy for r in char_entropy(docs).collect()}
    import math
    h_aab = -(2 / 3 * math.log2(2 / 3) + 1 / 3 * math.log2(1 / 3))
    assert got == {1: 0.0, 2: 1.0, 3: 1.0, 4: 2.0,
                   6: pytest.approx(round(h_aab, 6))}
    assert 5 not in got


def test_canonical_url_idempotent(spark):
    """canonical(canonical(u)) == canonical(u) over generated messy URLs —
    normalization must be a projection (fixpoint in one application)."""
    from climatemind_ontology_processing_spark.functions.urlnorm import (
        canonical_url)
    import itertools
    schemes = ["http://", "HTTPS://", "http://"]
    hosts = ["ExAmple.COM", "a.b.c.org:443", "x.net:80", "y.io:8080"]
    paths = ["", "/", "/P/q", "/p?a=1&utm_x=2", "/p?utm_a=1&utm_b=2&k=3",
             "/p?gclid=1", "/p#f", "/p?a=1#f"]
    urls = ["".join(t) for t in itertools.product(schemes, hosts, paths)]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(canonical_url(F.col("url")).alias("c1"))
    twice = once.select("c1", canonical_url(F.col("c1")).alias("c2"))
    bad = twice.filter(F.col("c1") != F.col("c2")).collect()
    assert not bad, bad[:5]


def test_canonical_url(spark):
    """URL canonicalization edge cases — scheme/host lowering (path case
    kept), fragments, default ports (http+https, non-default kept),
    tracking-param runs with order preservation, bare hosts."""
    from climatemind_ontology_processing_spark.functions.urlnorm import (
        canonical_url)
    cases = [
        ("HTTP://WWW.Example.COM/Path/To?b=2&a=1#frag",
         "http://www.example.com/Path/To?b=2&a=1"),     # order preserved
        ("https://Site.org:443/x", "https://site.org/x"),
        ("http://site.org:8080/x", "http://site.org:8080/x"),  # non-default kept
        ("http://h.com:80", "http://h.com/"),
        ("https://H.com", "https://h.com/"),
        ("http://a.b/p?utm_source=s&utm_medium=m&utm_campaign=c&keep=1",
         "http://a.b/p?keep=1"),                        # 3 adjacent tracked
        ("http://a.b/p?keep=1&gclid=x", "http://a.b/p?keep=1"),
        ("http://a.b/p?fbclid=x", "http://a.b/p"),
        ("http://a.b/p?ref=tw&x=2&msclkid=9", "http://a.b/p?x=2"),
        ("http://a.b/p#only-fragment", "http://a.b/p"),
        # a 12-long run of adjacent tracked params must strip completely
        # (the old fixed-pass loop left residue past ~8 — round-3 ADVICE)
        ("http://a.b/p?" + "&".join(f"utm_p{i}={i}" for i in range(12))
         + "&keep=1", "http://a.b/p?keep=1"),
        ("http://a.b/p?" + "&".join(f"utm_p{i}={i}" for i in range(12)),
         "http://a.b/p"),
        ("http://a.b/p?keep=0&" + "&".join(f"utm_p{i}={i}" for i in range(12))
         + "&keep=1", "http://a.b/p?keep=0&keep=1"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c"))
           .collect()]
    assert got == [want for _, want in cases]


def test_hash_sample_deterministic_and_nested(spark):
    """Deterministic sampling: partitioning-independent, retry-stable, and
    NESTED — rate 0.1 selects a subset of rate 0.3 at the same seed; rates
    land near target on uniform keys; both hash families agree on the
    contract."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        hash_sample)
    df = spark.range(10_000).withColumnRenamed("id", "k")
    s30 = {r.k for r in hash_sample(df, 0.3, "k").collect()}
    s30_repart = {r.k for r in hash_sample(df.repartition(13), 0.3, "k").collect()}
    assert s30 == s30_repart, "membership must not depend on partitioning"
    s10 = {r.k for r in hash_sample(df, 0.1, "k").collect()}
    assert s10 <= s30, "smaller rate must be a nested subset"
    assert 0.25 < len(s30) / 10_000 < 0.35
    assert 0.07 < len(s10) / 10_000 < 0.13
    # different seed -> different (mostly disjoint-ish) selection
    s30b = {r.k for r in hash_sample(df, 0.3, "k", seed=99).collect()}
    assert s30 != s30b
    with pytest.raises(ValueError, match="rate"):
        hash_sample(df, 1.5, "k")


def test_stratified_sample_rates(spark):
    from climatemind_ontology_processing_spark.operators.sampling import (
        stratified_sample)
    rows = [(i, "en" if i % 2 == 0 else ("de" if i % 4 == 1 else "xx"))
            for i in range(8_000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = stratified_sample(df, "lang", {"en": 0.5, "de": 0.1}, key="k")
    got = out.groupBy("lang").count().collect()
    by = {r.lang: r["count"] for r in got}
    assert "xx" not in by, "default_rate=0 drops unlisted strata"
    assert 0.4 < by["en"] / 4_000 < 0.6
    assert 0.05 < by["de"] / 2_000 < 0.16
    # default_rate keeps unlisted strata at the given fraction
    out2 = stratified_sample(df, "lang", {"en": 0.5}, key="k",
                             default_rate=1.0)
    n_xx = out2.filter(F.col("lang") == "xx").count()
    assert n_xx == 2_000


def test_decontamination_planted_overlap(spark):
    """13-gram decontamination: a training doc embedding a benchmark
    sentence is flagged with the right distinct-overlap count; clean docs
    are not; the benchmark side is broadcast in the plan."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        benchmark_ngrams, contaminated_docs)
    bench_sent = ("the quick brown fox jumps over the lazy dog while "
                  "thirteen token windows slide by")          # 15 tokens
    bench = spark.createDataFrame([(0, bench_sent)], "doc_id long, text string")
    train = spark.createDataFrame([
        (1, "intro words " + bench_sent + " trailing text here"),   # contaminated
        (2, "a completely unrelated document about spark shuffles and joins "
            "that goes on long enough to have many thirteen gram windows of "
            "its own without overlapping anything in the benchmark set"),
        (3, bench_sent),                                            # exact copy
    ], "doc_id long, text string")
    grams = benchmark_ngrams(bench, n=13)
    out = contaminated_docs(train, grams, n=13)
    got = {r.doc_id: r.n_hits for r in out.collect()}
    assert set(got) == {1, 3}
    # 15-token sentence -> 3 distinct 13-grams, all present in doc 3
    assert got[3] == 3 and got[1] == 3
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, "benchmark side must broadcast"


def test_bpe_pair_counts(spark):
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        bpe_pair_counts)
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "A  b a"), (3, "solo"), (4, "")],
        "doc_id long, text string")
    got = {(r.left, r.right): r.n for r in bpe_pair_counts(docs).collect()}
    # doc1: (a,b) (b,a) (a,b) (b,c); doc2 (double space, case-folded): (a,b) (b,a)
    assert got == {("a", "b"): 3, ("b", "a"): 2, ("b", "c"): 1}
    top = bpe_pair_counts(docs, top_k=1).collect()
    assert [(top[0].left, top[0].right, top[0].n)] == [("a", "b", 3)]


def test_union_subgraph(spark, tiny_edges):
    """U4 — cross-subgraph edges are kept when re-inducing from the base."""
    from climatemind_ontology_processing_spark.operators.traversal import union_subgraph
    ns1 = spark.createDataFrame([("r",), ("a",)], "id string")
    ns2 = spark.createDataFrame([("b",), ("c",)], "id string")
    nodes, edges = union_subgraph([ns1, ns2], tiny_edges)
    assert {r.id for r in nodes.collect()} == {"r", "a", "b", "c"}
    got = {(r.src, r.dst) for r in edges.collect()}
    # ('a','b') crosses the two subgraphs and must be present (unlike nx.union)
    assert got == {("r", "a"), ("a", "b"), ("b", "c")}


def test_winnowing_guarantee_and_candidates(spark):
    """MOSS winnowing invariant: two documents sharing a token run of length
    >= k + window - 1 share at least one selected fingerprint; disjoint
    documents share none."""
    from climatemind_ontology_processing_spark.operators.textstats import (
        winnowing_candidates, winnowing_fingerprints)
    shared = "alpha beta gamma delta epsilon zeta eta theta"   # 8 >= 5+4-1
    docs = spark.createDataFrame([
        (1, "intro words here " + shared + " tail one"),
        (2, "completely different opening " + shared + " other ending"),
        (3, "no overlap with anything else at all in this document text"),
    ], "doc_id long, text string")
    fps = winnowing_fingerprints(docs, k=5, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3]) and not (by_doc[2] & by_doc[3])
    cands = {(r.a, r.b): r.n_shared
             for r in winnowing_candidates(docs, min_shared=1).collect()}
    assert set(cands) == {(1, 2)}


def test_asof_join_semantics(spark):
    """Point-in-time join: latest right row with ts <= left ts per key;
    equal timestamps match; no prior row -> nulls (LEFT semantics)."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        asof_join)
    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (1, 5, "p0"), (2, 50, "p3")],
        "k long, ts long, pid string")
    right = spark.createDataFrame(
        [(1, 10, "c_at_10"), (1, 15, "c_at_15"), (3, 1, "other_key")],
        "k long, ts long, cid string")
    got = {r.pid: (r.asof_cid, r.asof_ts)
           for r in asof_join(left, right, key="k").collect()}
    assert got["p0"] == (None, None)          # nothing at or before ts 5
    assert got["p1"] == ("c_at_10", 10)       # equal ts matches (<=)
    assert got["p2"] == ("c_at_15", 15)       # latest prior
    assert got["p3"] == (None, None)          # key has no right rows


def test_interval_join_binned(spark):
    """Containment join via time-bin equi-join: intervals spanning many bins
    match exactly once per contained event; overlapping intervals both
    match; boundary timestamps included."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_join)
    events = spark.createDataFrame(
        [(1, 0), (2, 3600), (3, 7200), (4, 10800), (5, 99999)],
        "event_id long, ts long")
    intervals = spark.createDataFrame(
        [(10, 0, 7200),        # spans 3 bins at width 3600; events 1,2,3
         (11, 3600, 10800)],   # overlaps: events 2,3,4
        "interval_id long, start long, end long")
    got = sorted((r.event_id, r.interval_id)
                 for r in interval_join(events, intervals,
                                        bin_width=3600).collect())
    assert got == [(1, 10), (2, 10), (2, 11), (3, 10), (3, 11), (4, 11)]


def test_minhash_signature_paths_identical(spark, docs):
    """Arrow/numpy minhash path must equal the JVM fold exactly (np.mod and
    F.pmod agree on negative xxhash64 values)."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        minhash_signature, with_shingles)
    # materialize shingles first: feeding a pandas UDF an argument that
    # still contains higher-order lambdas plans unreliably (CLAUDE.md note;
    # production code does the same two-step in minhash_lsh_pairs)
    sh = with_shingles(docs).filter(F.size("shingles") > 0) \
        .select("doc_id", "shingles").localCheckpoint(eager=True)
    lit = {r.doc_id: r.s for r in sh.select("doc_id",
           minhash_signature(F.col("shingles"), 32, force="literal")
           .alias("s")).collect()}
    pnd = {r.doc_id: r.s for r in sh.select("doc_id",
           minhash_signature(F.col("shingles"), 32, force="pandas")
           .alias("s")).collect()}
    assert lit and lit == pnd


def test_pagerank_job_count(spark, monkeypatch):
    """Round-2 verdict 'What's wrong #2': iterations must not spend driver
    actions.  Pin: zero .first()/.collect()/.count()-per-iteration — total
    eager actions <= iters + 2 (setup checkpoints + count + periodic
    lineage checkpoints), and ranks still sum to 1."""
    from pyspark.sql import DataFrame
    from climatemind_ontology_processing_spark.operators.pagerank import (
        pagerank)
    calls = {"ck": 0, "count": 0, "first": 0, "collect": 0}
    orig = {m: getattr(DataFrame, m)
            for m in ("localCheckpoint", "count", "first", "collect")}

    def mk(name, key):
        def wrapper(self, *a, **kw):
            if name != "localCheckpoint" or kw.get("eager", True):
                calls[key] += 1
            return orig[name](self, *a, **kw)
        return wrapper

    monkeypatch.setattr(DataFrame, "localCheckpoint", mk("localCheckpoint", "ck"))
    monkeypatch.setattr(DataFrame, "count", mk("count", "count"))
    monkeypatch.setattr(DataFrame, "first", mk("first", "first"))
    monkeypatch.setattr(DataFrame, "collect", mk("collect", "collect"))

    edges = spark.createDataFrame(
        [(i, (i * 7 + 1) % 30) for i in range(60)] + [(2, 29), (29, 2)],
        "src long, dst long")
    iters = 10
    ranks = pagerank(edges, iters=iters)
    actions = calls["ck"] + calls["count"] + calls["first"] + calls["collect"]
    assert calls["first"] == 0, "dangling mass must ride the plan, not .first()"
    assert calls["collect"] == 0
    assert actions <= iters + 2, f"{actions} driver actions for {iters} iters"
    monkeypatch.undo()
    out = ranks.collect()
    assert sum(r["rank"] for r in out) == pytest.approx(1.0)


def test_pagerank_properties(spark):
    """Power iteration invariants: ranks sum to 1 (dangling mass
    redistributed), a sink-pointing hub graph ranks the sink highest, and
    the uniform cycle gives uniform ranks."""
    from climatemind_ontology_processing_spark.operators.pagerank import (
        pagerank)
    # 3-cycle: symmetric -> uniform 1/3
    cyc = spark.createDataFrame([("a", "b"), ("b", "c"), ("c", "a")],
                                "src string, dst string")
    ranks = {r.id: r.rank for r in pagerank(cyc, iters=20).collect()}
    for v in ranks.values():
        assert v == pytest.approx(1 / 3, abs=1e-9)
    # star into a sink (sink is dangling): sink ranks highest, sum == 1
    star = spark.createDataFrame(
        [("u1", "hub"), ("u2", "hub"), ("u3", "hub")], "src string, dst string")
    ranks = {r.id: r.rank for r in pagerank(star, iters=15).collect()}
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    assert ranks["hub"] > max(ranks[u] for u in ("u1", "u2", "u3"))


def test_triangle_counts(spark):
    """K4 minus one edge: nodes on the shared edge sit in 2 triangles; a
    pendant node sits in 0; direction/duplicates/self-loops ignored."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        triangle_counts, triangles)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("a", "c"),
         ("a", "d"), ("b", "d"),            # K4 minus (c, d)
         ("d", "e"),                        # pendant
         ("e", "e")],                       # self-loop ignored
        "src string, dst string")
    tri = {(r.a, r.b, r.c) for r in triangles(edges).collect()}
    assert tri == {("a", "b", "c"), ("a", "b", "d")}
    got = {r.id: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {"a": 2, "b": 2, "c": 1, "d": 1, "e": 0}


def test_asof_join_randomized_vs_python_oracle(spark):
    """300 random left rows x 200 right rows across 12 keys, compared to a
    brute-force Python as-of (latest right with ts <= left ts per key)."""
    import random
    from climatemind_ontology_processing_spark.operators.temporal import (
        asof_join)
    rng = random.Random(11)
    left = [(rng.randrange(12), rng.randrange(10_000), i) for i in range(300)]
    # unique (key, ts) on the right: equal-ts duplicates are documented
    # nondeterminism
    seen = set()
    right = []
    for j in range(200):
        k, ts = rng.randrange(12), rng.randrange(10_000)
        if (k, ts) in seen:
            continue
        seen.add((k, ts))
        right.append((k, ts, 1000 + j))
    ldf = spark.createDataFrame(left, "k long, ts long, lid long")
    rdf = spark.createDataFrame(right, "k long, ts long, rid long")
    got = {r.lid: (r.asof_rid, r.asof_ts)
           for r in asof_join(ldf, rdf, key="k").collect()}

    by_key = {}
    for k, ts, rid in right:
        by_key.setdefault(k, []).append((ts, rid))
    for k, ts, lid in left:
        cands = [(t, rid) for t, rid in by_key.get(k, []) if t <= ts]
        want = max(cands) if cands else None
        if want is None:
            assert got[lid] == (None, None), lid
        else:
            assert got[lid] == (want[1], want[0]), lid


def test_interval_join_randomized_vs_python_oracle(spark):
    """Random events x random intervals (several bin widths) against a
    brute-force containment check — bin width must never change results."""
    import random
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_join)
    rng = random.Random(13)
    events = [(i, rng.randrange(100_000)) for i in range(250)]
    intervals = []
    for j in range(60):
        s = rng.randrange(100_000)
        intervals.append((j, s, s + rng.randrange(1, 20_000)))
    edf = spark.createDataFrame(events, "event_id long, ts long")
    idf = spark.createDataFrame(intervals, "interval_id long, start long, end long")
    want = {(e, j) for e, ts in events for j, s, t in intervals if s <= ts <= t}
    for bw in (100, 3600, 50_000):
        got = {(r.event_id, r.interval_id)
               for r in interval_join(edf, idf, bin_width=bw).collect()}
        assert got == want, f"bin_width={bw}"


def test_lm_cross_entropy_hand_model(spark):
    """Add-1 unigram model hand-check: p(tok) = (cnt+1)/(total + V+1),
    pooled UNK; ce = mean -ln p."""
    import math
    from climatemind_ontology_processing_spark.operators.lm import (
        lm_cross_entropy)
    train = spark.createDataFrame(
        [(0, "a b a b"), (1, "z q")], "doc_id long, text string")
    # counts: a2 b2 z1 q1, total 6, V=4, invocab 6 (oov count 0)
    p_a = (2 + 1) / (6 + 5)
    p_z = (1 + 1) / (6 + 5)
    p_unk = (0 + 1) / (6 + 5)
    got = {r.doc_id: r for r in lm_cross_entropy(train, top_v=100).collect()}
    assert got[0].n_tokens == 4
    assert got[0].ce_nats == pytest.approx(-math.log(p_a), abs=2e-6)
    assert got[1].ce_nats == pytest.approx(
        -(math.log(p_z) + math.log(p_z)) / 2, abs=2e-6)
    # unseen tokens score as UNK against a held-out train corpus
    test = spark.createDataFrame([(9, "xx yy")], "doc_id long, text string")
    got9 = lm_cross_entropy(test, top_v=100, train=train).first()
    assert got9.ce_nats == pytest.approx(-math.log(p_unk), abs=2e-6)
    # gibberish scores strictly worse than in-distribution text
    assert got9.ce_nats > got[0].ce_nats
    # zero-token docs produce no row
    empty = spark.createDataFrame([(5, "...")], "doc_id long, text string")
    assert lm_cross_entropy(empty, train=train).count() == 0


def test_lm_vocab_cutoff_ties(spark):
    """top_v cutoff is deterministic: count desc then token asc, so with
    top_v=1 over equal counts the lexicographically-first token wins and
    the rest pool into UNK."""
    from climatemind_ontology_processing_spark.operators.lm import (
        lm_cross_entropy)
    docs = spark.createDataFrame([(0, "b c b c")], "doc_id long, text string")
    # counts b2 c2 -> vocab {b}; total 4, invocab 2, oov 2, V=1
    # p(b) = 3/6, p(UNK) = 3/6 -> identical ce either way, but n_tokens
    # checks the explode; use asymmetric counts instead
    docs2 = spark.createDataFrame([(0, "b b b c")], "doc_id long, text string")
    import math
    got = lm_cross_entropy(docs2, top_v=1).first()
    # vocab {b:3}; total 4, V=1: p(b)=(3+1)/(4+2)=2/3; UNK c: (1+1)/(4+2)=1/3
    exp = -(3 * math.log(2 / 3) + math.log(1 / 3)) / 4
    assert got.ce_nats == pytest.approx(exp, abs=2e-6)


def test_packed_spans_hand_and_naive_equivalence(spark):
    """Two-phase prefix sum == naive global window; hand-checked chunk
    boundaries (EOS counted, boundary-crossing doc spans two seqs)."""
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans, sequence_membership)
    from pyspark.sql import Window
    docs = spark.createDataFrame(
        [(i, n) for i, n in enumerate([5, 3, 9, 2, 7, 1, 4, 6, 8, 2])],
        "doc_id long, n_tokens int")
    got = {r.doc_id: r for r in
           packed_spans(docs, seq_len=10, bucket_size=3).collect()}
    # naive reference: global cumsum of (n+1)
    naive = docs.select(
        "doc_id", "n_tokens",
        F.coalesce(F.sum(F.col("n_tokens") + 1).over(
            Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("start_offset")).collect()
    for r in naive:
        g = got[r.doc_id]
        assert g.start_offset == r.start_offset
        assert g.first_seq == r.start_offset // 10
        assert g.last_seq == (r.start_offset + r.n_tokens) // 10
    # doc 0: tokens 0-4 + EOS at 5 -> seq 0.  doc 2 starts at 10, 9 tokens
    # + EOS -> offsets 10..19 -> seq 1 only
    assert (got[0].first_seq, got[0].last_seq) == (0, 0)
    assert got[2].start_offset == 10 and got[2].n_seqs == 1
    # membership explode covers each doc n_seqs times
    spans = packed_spans(docs, seq_len=10, bucket_size=3)
    mem = sequence_membership(spans).collect()
    assert len(mem) == sum(r.n_seqs for r in got.values())


def test_packed_spans_null_and_zero_width_guards(spark):
    """NULL / negative n_tokens raise at execution (a NULL row silently
    dropping out of the prefix sums would shift every later offset);
    zero-width docs (eos_tokens=0, n_tokens=0) occupy no sequence and get
    NULL span columns with n_seqs=0 (round-3 ADVICE, low)."""
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans, sequence_membership)
    bad_null = spark.createDataFrame([(0, 5), (1, None), (2, 3)],
                                     "doc_id long, n_tokens int")
    with pytest.raises(Exception, match="NULL or negative"):
        packed_spans(bad_null, seq_len=10).collect()
    bad_neg = spark.createDataFrame([(0, 5), (1, -2)],
                                    "doc_id long, n_tokens int")
    with pytest.raises(Exception, match="NULL or negative"):
        packed_spans(bad_neg, seq_len=10).collect()
    with pytest.raises(ValueError, match="eos_tokens"):
        packed_spans(bad_neg, seq_len=10, eos_tokens=-1)
    zero = spark.createDataFrame([(0, 4), (1, 0), (2, 6)],
                                 "doc_id long, n_tokens int")
    got = {r.doc_id: r for r in
           packed_spans(zero, seq_len=10, eos_tokens=0).collect()}
    assert got[1].n_seqs == 0
    assert got[1].first_seq is None and got[1].last_seq is None
    assert got[2].start_offset == 4        # zero-width doc shifts nothing
    assert got[2].first_seq == 0 and got[2].last_seq == 0
    mem = sequence_membership(
        packed_spans(zero, seq_len=10, eos_tokens=0)).collect()
    assert {r.doc_id for r in mem} == {0, 2}


def test_packed_spans_window_is_bucket_partitioned(spark):
    """Scale guard: the corpus-side window must be PARTITIONED BY the
    prefix-sum bucket — only the tiny bucket-totals table may use a
    global (unpartitioned) window."""
    from climatemind_ontology_processing_spark.operators.packing import (
        packed_spans)
    docs = spark.createDataFrame(
        [(i, i % 7) for i in range(100)], "doc_id long, n_tokens int")
    plan = packed_spans(docs, seq_len=64, bucket_size=10) \
        ._jdf.queryExecution().executedPlan().toString()
    import re
    windows = re.findall(r"Window \[[^\n]*", plan)
    assert windows, "expected window nodes"
    corpus_side = [w for w in windows if "_bkt#" in w.split("windowspecdefinition")[1].split(",")[0]
                   or "windowspecdefinition(_bkt" in w]
    unpartitioned = [w for w in windows if "windowspecdefinition(" in w
                     and "windowspecdefinition(_bkt" not in w]
    # exactly one window runs partitioned by _bkt (corpus side), and any
    # unpartitioned window must be the bucket-totals cumsum (input: _bt agg)
    assert corpus_side, windows
    for w in unpartitioned:
        assert "_bt" in w, f"global window over corpus rows: {w}"


def test_adamic_adar_hand_scores(spark):
    """Path a-b-c: (a,c) scores 1/ln2 via center b.  Star s-(l1,l2,l3):
    leaf pairs score 1/ln3.  max_degree excludes hub centers; top_k keeps
    the best pairs per u."""
    import math
    from climatemind_ontology_processing_spark.operators.graphstats import (
        adamic_adar)
    rows = [("a", "b"), ("b", "c"),
            ("s", "l1"), ("s", "l2"), ("s", "l3")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {(r.u, r.v): (r.n_common, r.aa_micro)
           for r in adamic_adar(df).collect()}
    m = lambda x: int(round(round(x, 6) * 1e6))
    assert got[("a", "c")] == (1, m(1 / math.log(2)))
    assert got[("l1", "l2")] == (1, m(1 / math.log(3)))
    assert len(got) == 4  # (a,c) + 3 leaf pairs
    # degree cap drops the 3-degree star center as a wedge center
    capped = {(r.u, r.v) for r in adamic_adar(df, max_degree=2).collect()}
    assert capped == {("a", "c")}
    # adjacent pairs are never predicted
    assert ("a", "b") not in got and ("s", "l1") not in got
    # top_k per u
    top = adamic_adar(df, top_k=1).collect()
    assert len([r for r in top if r.u == "l1"]) == 1


def test_bm25_hand_scores(spark):
    """Hand-checked BM25 (Lucene idf) on a 3-doc corpus."""
    import math
    from climatemind_ontology_processing_spark.operators.retrieval import (
        bm25_scores)
    docs = spark.createDataFrame([
        (0, "spark spark engine"),      # tf(spark)=2, dl=3
        (1, "spark rdd"),               # tf(spark)=1, dl=2
        (2, "duck db"),                 # no hit
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(got) == {0, 1}
    n, total = 3.0, 7.0
    avgdl = total / n
    idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))
    def s(tf, dl):
        return round(idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6)
    assert got[0].bm25_micro == int(round(s(2, 3) * 1e6))
    assert got[1].bm25_micro == int(round(s(1, 2) * 1e6))
    # higher tf with comparable length ranks higher
    assert got[0].bm25_micro > got[1].bm25_micro
    assert got[0].n_hits == 1
    with pytest.raises(ValueError):
        bm25_scores(docs, [])


def test_containment_pairs_quote_in_page(spark):
    """A short quote embedded verbatim in a long page: containment(quote
    in page) = 1.0 while Jaccard stays below threshold — the asymmetric
    signal the operator exists for."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        containment_pairs, jaccard_pairs)
    quote = "the quick brown fox jumps over the lazy dog"
    page = ("completely different opening words here . " + quote +
            " . and then a very long tail of unrelated filler text "
            "continues onward with many more unique tokens than before "
            "so the union is large and the jaccard is small indeed")
    docs = spark.createDataFrame(
        [(1, quote), (2, page), (3, "nothing shared at all whatsoever")],
        "doc_id long, text string")
    got = {(r.a, r.b): (r.c_ab, r.c_ba)
           for r in containment_pairs(docs, n=3, threshold=0.9).collect()}
    assert (1, 2) in got
    c_ab, c_ba = got[(1, 2)]
    assert c_ab == 1.0          # every quote shingle appears in the page
    assert c_ba < 0.5           # page is mostly NOT the quote
    assert (1, 3) not in got and (2, 3) not in got
    # jaccard misses the same pair at the same bar
    jac = {(r.a, r.b) for r in jaccard_pairs(docs, n=3, threshold=0.9).collect()}
    assert (1, 2) not in jac


def test_personalized_pagerank_seed_concentration(spark):
    """PPR mass concentrates at/near the seeds; ranks stay a probability
    distribution; dict seeds apply normalized weights."""
    from climatemind_ontology_processing_spark.operators.pagerank import (
        pagerank, personalized_pagerank)
    # two communities bridged by one edge
    rows = [("a", "b"), ("b", "c"), ("c", "a"),
            ("c", "x"),
            ("x", "y"), ("y", "z"), ("z", "x")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r.id: r.rank for r in
           personalized_pagerank(df, ["a"], iters=20).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # seed community holds most of the mass
    assert got["a"] + got["b"] + got["c"] > got["x"] + got["y"] + got["z"]
    assert got["a"] == max(got.values())
    # sanity contrast: the bridge c->x feeds the x-community, so GLOBAL
    # pagerank ranks it above the a-community — personalization REVERSES
    # that ordering
    gpr = {r.id: r.rank for r in pagerank(df, iters=20).collect()}
    assert gpr["x"] + gpr["y"] + gpr["z"] > gpr["a"] + gpr["b"] + gpr["c"]
    # dict weights normalize and shift mass toward the heavier seed's
    # community (x still collects the bridge flow, so compare communities
    # across weightings, not raw node ranks)
    fav_a = {r.id: r.rank for r in
             personalized_pagerank(df, {"a": 3.0, "x": 1.0}, iters=20).collect()}
    fav_x = {r.id: r.rank for r in
             personalized_pagerank(df, {"a": 1.0, "x": 3.0}, iters=20).collect()}
    assert abs(sum(fav_a.values()) - 1.0) < 1e-9
    mass = lambda d, ks: sum(d[k] for k in ks)
    assert mass(fav_a, "abc") > mass(fav_x, "abc")
    assert mass(fav_x, "xyz") > mass(fav_a, "xyz")
    with pytest.raises(ValueError):
        personalized_pagerank(df, [])


def test_k_core_peeling(spark):
    """Chain + clique: a 2-core strips the chain and keeps the triangle;
    a 3-core of the triangle is empty; peeling cascades (removing a
    fringe node can drop its neighbor below k)."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        k_core)
    rows = [("a", "b"), ("b", "c"), ("c", "a"),          # triangle
            ("c", "d"), ("d", "e")]                       # tail
    df = spark.createDataFrame(rows, "src string, dst string")
    core2 = {r.id for r in k_core(df, 2).collect()}
    assert core2 == {"a", "b", "c"}   # d,e peel in cascade (e first, then d)
    assert k_core(df, 3).count() == 0
    core1 = {r.id for r in k_core(df, 1).collect()}
    assert core1 == {"a", "b", "c", "d", "e"}
    with pytest.raises(ValueError):
        k_core(df, 0)


def test_clustering_coefficients_hand(spark):
    """Triangle + pendant: triangle nodes have lcc 1.0 except the one with
    the pendant edge (deg 3, 1 triangle -> 2/6); the pendant scores 0."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        clustering_coefficients)
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = {r.id: r for r in clustering_coefficients(df).collect()}
    assert got["a"].lcc_micro == 1_000_000
    assert got["b"].lcc_micro == 1_000_000
    assert got["c"].degree == 3 and got["c"].n_triangles == 1
    assert got["c"].lcc_micro == int(round(round(2 * 1 / 6.0, 6) * 1e6))
    assert got["d"].lcc_micro == 0 and got["d"].degree == 1


def test_shortest_paths_weighted_hand(spark):
    """Weighted relaxation beats the greedy hop path; unreachable nodes
    absent; unit weights = hop count; negative weights rejected."""
    from climatemind_ontology_processing_spark.operators.paths import (
        shortest_paths)
    rows = [("s", "a", 1), ("a", "t", 1),     # s->a->t cost 2
            ("s", "t", 5),                     # direct but heavier
            ("t", "u", 2),
            ("x", "y", 1)]                     # disconnected from s
    df = spark.createDataFrame(rows, "src string, dst string, w int")
    got = {r.id: r.dist for r in shortest_paths(df, ["s"], weight="w").collect()}
    assert got == {"s": 0, "a": 1, "t": 2, "u": 4}
    hops = {r.id: r.dist for r in shortest_paths(df, ["s"]).collect()}
    assert hops["t"] == 1  # unit weights: the direct edge wins
    # multi-seed: distance is min over seeds
    multi = {r.id: r.dist for r in
             shortest_paths(df, ["s", "x"], weight="w").collect()}
    assert multi["y"] == 1 and multi["t"] == 2
    neg = spark.createDataFrame([("a", "b", -1)], "src string, dst string, w int")
    with pytest.raises(ValueError):
        shortest_paths(neg, ["a"], weight="w")
    # fractional weights must raise, not silently truncate 0.9 -> 0
    frac = spark.createDataFrame([("a", "b", 0.9), ("b", "c", 2.0)],
                                 "src string, dst string, w double")
    with pytest.raises(ValueError, match="integral"):
        shortest_paths(frac, ["a"], weight="w")
    # integral-valued doubles are fine (2.0 == 2)
    ok = spark.createDataFrame([("a", "b", 2.0)], "src string, dst string, w double")
    assert {r.id: r.dist
            for r in shortest_paths(ok, ["a"], weight="w").collect()} == \
        {"a": 0, "b": 2}


def test_fuzzy_matches_typos_and_blocking(spark):
    """Levenshtein-1 links plurals/typos; the documented blocking recall
    bound (shared first char, adjacent length bucket) is pinned both ways."""
    from climatemind_ontology_processing_spark.operators.linkage import (
        fuzzy_matches)
    corpus = spark.createDataFrame(
        [("joins",), ("hsah",), ("vektor",), ("stream",), ("xyzzy",),
         ("oin",)],
        "surface string")
    terms = spark.createDataFrame(
        [("join",), ("hash",), ("vector",), ("stream",)], "term string")
    got = {(r.surface, r.term): r.dist
           for r in fuzzy_matches(corpus, terms, max_dist=1).collect()}
    assert got[("joins", "join")] == 1         # plural
    assert got[("vektor", "vector")] == 1      # typo
    assert got[("stream", "stream")] == 0      # exact included
    assert ("xyzzy", "vector") not in got      # far
    # blocking recall bounds, documented not hidden:
    assert ("hsah", "hash") not in got         # dist 2 anyway
    assert ("oin", "join") not in got          # first-char block miss
    # dist-2 typo found when max_dist=2
    got2 = {(r.surface, r.term)
            for r in fuzzy_matches(corpus, terms, max_dist=2).collect()}
    assert ("hsah", "hash") in got2


def test_bigram_lm_order_sensitivity(spark):
    """The interpolated bigram model distinguishes token ORDER: two docs
    with identical unigram counts score differently when one follows the
    trained transition structure — unigram lm_cross_entropy provably
    cannot (it scores them identically)."""
    from climatemind_ontology_processing_spark.operators.lm import (
        bigram_cross_entropy, lm_cross_entropy)
    train = spark.createDataFrame(
        [(i, "a b a b a b a b") for i in range(5)],
        "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "a b a b"), (101, "b b a a")],   # same unigrams
        "doc_id long, text string")
    uni = {r.doc_id: r.ce_nats for r in
           lm_cross_entropy(test, top_v=10, train=train).collect()}
    assert uni[100] == uni[101]
    bi = {r.doc_id: r.ce_nats for r in
          bigram_cross_entropy(test, top_v=10, train=train).collect()}
    assert bi[100] < bi[101]        # in-pattern doc is more probable
    # self-scored corpus: every doc present, tokens counted once each
    self_scored = bigram_cross_entropy(train, top_v=10).collect()
    assert len(self_scored) == 5
    assert all(r.n_tokens == 8 for r in self_scored)


def test_degree_assortativity_hand_graphs(spark):
    """Star graph -> strongly disassortative (r = -1 for a pure star);
    regular graph -> zero-variance degenerate case returns 0; a clique
    plus pendant mixes."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        degree_assortativity)
    star = spark.createDataFrame(
        [("hub", f"l{i}") for i in range(6)], "src string, dst string")
    r_star = degree_assortativity(star).first()
    assert r_star.n_edges == 6 and r_star.assortativity == -1.0
    # 4-cycle: every node degree 2 -> no degree variance -> 0 by contract
    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string")
    r_cyc = degree_assortativity(cyc).first()
    assert r_cyc.assortativity == 0.0
    # python reference on an irregular graph
    import math
    rows = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(rows, "src string, dst string")
    got = degree_assortativity(df).first()
    deg = {"a": 2, "b": 2, "c": 3, "d": 1}
    pairs = [(deg[u], deg[v]) for u, v in rows] + \
            [(deg[v], deg[u]) for u, v in rows]
    n = len(pairs)
    s1 = sum(u for u, _ in pairs); s2 = sum(v for _, v in pairs)
    s11 = sum(u * v for u, v in pairs)
    s20 = sum(u * u for u, _ in pairs); s02 = sum(v * v for _, v in pairs)
    ref = (n * s11 - s1 * s2) / math.sqrt(
        float(n * s20 - s1 * s1) * float(n * s02 - s2 * s2))
    assert got.assortativity == round(ref, 6)


def test_decontamination_hash_family_mismatch_raises(spark):
    """A benchmark n-gram set built with one hash family probed with
    another would match nothing and report every document clean — the
    marker column turns that silent miss into a ValueError."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        benchmark_ngrams, contaminated_docs)
    bench_docs = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today ok fine yes"),],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "prefix the quick brown fox jumps over the lazy dog today ok fine yes suffix")],
        "doc_id long, text string")
    bench = benchmark_ngrams(bench_docs, n=13, hash_family="md5_60")
    with pytest.raises(ValueError, match="hash_family"):
        contaminated_docs(corpus, bench, n=13, hash_family="xxhash64")
    # matching family works and finds the planted overlap
    got = contaminated_docs(corpus, bench, n=13,
                            hash_family="md5_60").collect()
    assert got and got[0].doc_id == 1 and got[0].n_hits >= 1
    # a markerless (pre-marker persisted) set still probes
    got2 = contaminated_docs(corpus, bench.drop("hash_family"), n=13,
                             hash_family="md5_60").collect()
    assert got2 and got2[0].n_hits == got[0].n_hits


def test_paragraph_dedup_modes_and_reassembly(spark):
    """Cross-corpus paragraph dedup: a footer shared by many docs is
    removed under mode='drop' and kept only in the lowest doc under
    'keep_first'; unique paragraphs survive in original order; short
    paragraphs are exempt; a fully-boilerplate doc keeps an empty row."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        oversized_paragraphs, paragraph_dedup)
    footer = "all rights reserved footer"
    rows = [(1, f"alpha body\n{footer}\nunique one"),
            (2, f"beta body\n{footer}"),
            (3, f"{footer}"),                      # fully boilerplate
            (4, "gamma body\nx"),                  # 'x' short but df=1
            (5, f"delta body\nx\n{footer}")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           paragraph_dedup(docs, max_para_df=2).collect()}
    assert got[1].text == "alpha body\nunique one"
    assert got[1].n_paras == 3 and got[1].n_removed == 1
    assert got[2].text == "beta body"
    assert got[3].text == "" and got[3].n_removed == 1
    assert got[4].text == "gamma body\nx"          # df('x')=2 <= cap
    assert got[5].text == "delta body\nx"
    kf = {r.doc_id: r.text for r in
          paragraph_dedup(docs, max_para_df=2, mode="keep_first").collect()}
    assert kf[1] == f"alpha body\n{footer}\nunique one"  # winner keeps it
    assert kf[2] == "beta body" and kf[3] == ""
    aud = {(r.para, r.doc_freq) for r in
           oversized_paragraphs(docs, max_para_df=2).collect()}
    assert aud == {(footer, 4)}
    with pytest.raises(ValueError, match="mode"):
        paragraph_dedup(docs, mode="bogus")
    # min_para_chars exemption: raise the floor and 'x' (len 1) is exempt
    # even at df 2 > cap 1
    exempt = {r.doc_id: r.text for r in
              paragraph_dedup(docs, max_para_df=1,
                              min_para_chars=2).collect()}
    assert exempt[4] == "gamma body\nx"


def test_pii_scrub_patterns_and_order(spark):
    """Emails, IPv4s, and phones are redacted in the fixed chain order —
    an IP's digit runs are never double-counted as a phone; clean text
    passes through untouched."""
    from climatemind_ontology_processing_spark.functions.pii import (
        scrub_pii_docs)
    rows = [
        (1, "mail a.b+c@sub.example.org now"),
        (2, "server at 192.168.1.100 port"),
        (3, "call 415-867-5309 or (212) 555-0100 today"),
        (4, "mixed u@d.io 10.0.0.1 +1 415-555-0199 end"),
        (5, "clean text with numbers 12345 and dots a.b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii_docs(docs).collect()}
    assert got[1].text == "mail <EMAIL> now"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (1, 0, 0)
    assert got[2].text == "server at <IP> port"
    assert got[3].text == "call <PHONE> or <PHONE> today"
    assert got[3].n_phones == 2
    assert got[4].text == "mixed <EMAIL> <IP> <PHONE> end"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (1, 1, 1)
    assert got[5].text == rows[4][1]
    assert (got[5].n_emails, got[5].n_ips, got[5].n_phones) == (0, 0, 0)


def test_domain_stats_and_registrable_suffixes(spark):
    """host_of strips scheme/userinfo/port; domain_of keeps three labels
    for second-level suffixes; domain_stats ranks densest-first with
    exact micro shares."""
    from climatemind_ontology_processing_spark.operators.domains import (
        domain_of, domain_stats, host_of)
    rows = [(i, u) for i, u in enumerate(
        ["https://www.Big.com/a", "http://big.com:8080/b?q=1",
         "https://user:pw@sub.big.com/c",
         "https://news.bbc.co.uk/x", "https://BBC.CO.UK/y",
         "https://solo/z"])]
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    doms = [r.d for r in pages.select(
        host_of(F.col("url")).alias("h"),
        domain_of(F.col("url")).alias("d")).collect()]
    assert doms == ["big.com", "big.com", "big.com",
                    "bbc.co.uk", "bbc.co.uk", "solo"]
    stats = {r.domain: r for r in domain_stats(pages).collect()}
    assert stats["big.com"].n_docs == 3 and stats["big.com"].rank == 1
    assert stats["big.com"].share_micro == 500000
    assert stats["bbc.co.uk"].n_docs == 2
    assert stats["solo"].share_micro == 166667
    top1 = domain_stats(pages, top_k=1).collect()
    assert len(top1) == 1 and top1[0].domain == "big.com"


def test_duplicate_spans_islands_and_merge(spark):
    """Windowed exact-substring dedup: a repeated 6-token chunk inside two
    otherwise-unique docs is recovered as ONE maximal span per doc (not
    window fragments); two separated repeats in one doc give two islands;
    unique docs and short docs emit nothing."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        duplicate_spans)
    chunk = "one two three four five six"                   # 6 tokens
    rows = [
        (1, f"alpha beta {chunk} gamma delta"),             # chunk at 2..8
        (2, f"{chunk} zeta eta theta iota kappa"),          # chunk at 0..6
        (3, f"{chunk} x1 x2 x3 x4 x5 x6 x7 {chunk}"),       # two islands
        (4, "totally unique text with many distinct tokens here now"),
        (5, "short"),                                       # < window
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_id, r.span_start, r.span_end, r.n_windows)
                 for r in duplicate_spans(docs, window=4,
                                          min_count=2).collect())
    # window=4: chunk has 3 hot windows (relative starts 0,1,2)
    assert (1, 2, 8, 3) in got        # starts 2,3,4 -> span [2, 4+4)
    assert (2, 0, 6, 3) in got
    doc3 = [g for g in got if g[0] == 3]
    assert len(doc3) == 2, doc3       # separated repeats stay two islands
    assert not any(g[0] in (4, 5) for g in got)
    with pytest.raises(ValueError):
        duplicate_spans(docs, window=0)


def test_duplicate_spans_within_doc_repeat_counts(spark):
    """min_count counts ALL occurrences (Lee et al. semantics), including
    within one document — a doc repeating its own chunk is flagged even if
    no other doc shares it."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        duplicate_spans)
    docs = spark.createDataFrame(
        [(1, "p q r s filler0 filler1 filler2 filler3 p q r s")],
        "doc_id long, text string")
    got = [(r.span_start, r.span_end) for r in
           duplicate_spans(docs, window=4, min_count=2)
           .orderBy("span_start").collect()]
    assert got == [(0, 4), (8, 12)]


def test_domain_cap_sample_quota_and_determinism(spark):
    """Only over-cap domains are cut (to exactly k, deterministically);
    under-cap domains pass untouched; repartitioning changes nothing;
    a smaller cap selects a subset of a larger one."""
    from climatemind_ontology_processing_spark.operators.domains import (
        domain_cap_sample)
    rows = ([(i, f"https://head.com/p{i}") for i in range(40)]
            + [(100 + i, f"https://tail{i}.org/x") for i in range(5)])
    pages = spark.createDataFrame(rows, "doc_id long, url string")
    got = domain_cap_sample(pages, max_per_domain=10).collect()
    by_dom = {}
    for r in got:
        by_dom.setdefault(r.url.split("/")[2], []).append(r.doc_id)
    assert len(by_dom["head.com"]) == 10
    assert sum(len(v) for d, v in by_dom.items() if d != "head.com") == 5
    again = {r.doc_id for r in
             domain_cap_sample(pages.repartition(7),
                               max_per_domain=10).collect()}
    assert again == {r.doc_id for r in got}
    smaller = {r.doc_id for r in
               domain_cap_sample(pages, max_per_domain=5).collect()
               if r.url.startswith("https://head")}
    bigger = {r.doc_id for r in got if r.url.startswith("https://head")}
    assert smaller < bigger           # nested-prefix selection


def test_paragraph_dedup_census_is_keys_only(spark):
    """Scale pin: the boilerplate census exchange must carry fingerprints
    and ids only — paragraph TEXT never enters the census aggregation
    (the same keys-only contract dedup_exact pins in PLANS.md)."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        paragraph_dedup)
    docs = spark.createDataFrame(
        [(i, f"body {i}\nshared footer") for i in range(20)],
        "doc_id long, text string")
    plan = paragraph_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    import re
    # every hash-aggregate over the fingerprint key must not carry 'para'
    for m in re.finditer(r"HashAggregate \[?keys=\[_f1[^\n]*", plan):
        assert "para#" not in m.group(0), m.group(0)


def test_duplicate_spans_census_is_keys_only(spark):
    """Scale pin: the window-occurrence census aggregates the hash column
    alone — window text/token arrays stay out of that exchange."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        duplicate_spans)
    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j") for i in range(4)],
        "doc_id long, text string")
    plan = duplicate_spans(docs, window=4)._jdf.queryExecution() \
        .executedPlan().toString()
    import re
    for m in re.finditer(r"HashAggregate \[?keys=\[h#[^\n]*", plan):
        assert "_t#" not in m.group(0) and "text#" not in m.group(0)


def test_domain_cap_sample_single_window_on_big_side(spark):
    """Scale pin: exactly ONE Window node in the plan (the over-cap side's
    rank) — the under-cap pass-through must not sort."""
    from climatemind_ontology_processing_spark.operators.domains import (
        domain_cap_sample)
    pages = spark.createDataFrame(
        [(i, f"https://d{i % 3}.com/p{i}") for i in range(30)],
        "doc_id long, url string")
    plan = domain_cap_sample(pages, max_per_domain=5)._jdf \
        .queryExecution().executedPlan().toString()
    assert plan.count("Window ") == 1, plan.count("Window ")


def test_paragraph_dedup_roundtrip_no_boilerplate(spark):
    """IDENTITY property: when no paragraph exceeds the df cap, reassembly
    must reproduce every input text BYTE-EXACTLY — including leading /
    trailing / consecutive separators (empty paragraphs are exempt from
    the census and must survive in place), whitespace-only paragraphs,
    and single-paragraph docs."""
    import random as _r
    from climatemind_ontology_processing_spark.operators.dedup import (
        paragraph_dedup)
    rng = _r.Random(11)
    vocab = [f"w{i}" for i in range(200)]
    texts = ["", "\n", "\n\n", "a", "a\n", "\na", "a\n\nb", " \n  \nx",
             "solo paragraph only"]
    for i in range(40):
        paras = [" ".join(rng.choice(vocab)
                          for _ in range(rng.randrange(0, 8)))
                 for _ in range(rng.randrange(1, 6))]
        texts.append("\n".join(paras))
    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_removed) for r in
           paragraph_dedup(docs, max_para_df=10_000).collect()}
    for i, t in rows:
        assert got[i] == (t, 0), (i, repr(t), repr(got[i]))
    # NULL text must not silently drop the document
    with_null = spark.createDataFrame([(900, None), (901, "keep me")],
                                      "doc_id long, text string")
    gn = {r.doc_id: r.text
          for r in paragraph_dedup(with_null, max_para_df=10).collect()}
    assert gn == {900: "", 901: "keep me"}


def test_label_propagation_two_cliques(spark):
    """Fixed-round LPA: two 4-cliques joined by one bridge edge settle
    into two communities labeled by each clique's min member; rounds is
    exact (a 1-round run still has mixed provisional labels on the
    bridge); deterministic across runs."""
    from climatemind_ontology_processing_spark.operators.graphstats import (
        label_propagation)
    c1 = [(a, b) for a in range(4) for b in range(4) if a < b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
    rows = c1 + c2 + [(3, 10)]                    # bridge
    df = spark.createDataFrame(rows, "src int, dst int")
    got = {r.id: r.community
           for r in label_propagation(df, rounds=4).collect()}
    assert {got[i] for i in range(4)} == {0}
    assert {got[i] for i in range(10, 14)} == {10}
    again = {r.id: r.community
             for r in label_propagation(df, rounds=4).collect()}
    assert again == got
    with pytest.raises(ValueError):
        label_propagation(df, rounds=0)


def _bpe_reference(word_freqs, n_merges):
    """Pure-Python Sennrich BPE on a word-frequency dict (greedy
    left-to-right non-overlapping merges, ties -> lexicographic min)."""
    vocab = {tuple(list(w) + ["</w>"]): f for w, f in word_freqs.items()}
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = \
                    counts.get((syms[i], syms[i + 1]), 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training == the textbook dict-based algorithm on
    the same corpus: identical merge list (order matters), identical
    tokenization via bpe_apply, early stop when no pair repeats."""
    from collections import Counter
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        bpe_apply, bpe_train)
    texts = ["low lower lowest low low",
             "new newer newest new lower",
             "wider wide wide new low"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    wf = Counter(w for t in texts for w in t.split())
    exp = _bpe_reference(wf, 8)
    got = bpe_train(docs, n_merges=8)
    assert got == exp, (got, exp)
    # apply: every 'low</w>' word becomes one token once (l,o)+(lo,w)
    # -style merges cover it; spot-check full-word collapse consistency
    toks = {r.doc_id: r.tokens for r in bpe_apply(docs, got).collect()}
    # reference-apply one word through the same merges
    def apply_word(w):
        syms = list(w) + ["</w>"]
        for a, b in got:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return syms
    exp0 = [s for w in texts[0].split() for s in apply_word(w)]
    assert toks[0] == exp0
    # early stop: single-occurrence corpus trains zero merges
    singles = spark.createDataFrame([(0, "abc xyz")], "doc_id long, text string")
    assert bpe_train(singles, n_merges=5) == []


def test_bpe_apply_paths_identical(spark):
    """The Arrow bpe_apply path (real-tokenizer merge counts) must produce
    identical tokenizations to the literal fold path, including null /
    empty / multi-whitespace texts; the auto switch engages above the
    literal budget."""
    from climatemind_ontology_processing_spark.operators.decontaminate import (
        BPE_APPLY_LITERAL_MAX_MERGES, bpe_apply, bpe_train)
    texts = [(0, "low lower lowest new newer wide wider"),
             (1, "  low   newest  "), (2, ""), (3, None),
             (4, "LOW LoWeR")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges = bpe_train(docs, n_merges=6)
    assert merges
    lit = {r.doc_id: r.tokens
           for r in bpe_apply(docs, merges, force="literal").collect()}
    pnd = {r.doc_id: r.tokens
           for r in bpe_apply(docs, merges, force="pandas").collect()}
    assert lit == pnd, {k: (lit[k], pnd[k]) for k in lit if lit[k] != pnd[k]}
    # auto switch: a long merge list routes to Arrow (no analysis blowup)
    long_merges = merges * ((BPE_APPLY_LITERAL_MAX_MERGES // len(merges)) + 2)
    out = bpe_apply(docs, long_merges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    assert {r.doc_id: r.tokens for r in out.collect()} == lit  # idempotent reapply
    with pytest.raises(ValueError):
        bpe_apply(docs, merges, force="bogus")


def test_scrub_duplicate_spans_removal(spark):
    """The removal composition: tokens inside every duplicated span vanish,
    the remainder rejoins in order; span-free docs pass through; case is
    PRESERVED in output (hashing lowercases, surgery does not)."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        scrub_duplicate_spans)
    chunk = "One Two Three Four Five Six"
    rows = [(1, f"Alpha beta {chunk} gamma delta"),
            (2, f"{chunk} zeta eta theta iota kappa"),
            (3, "totally unique text with many distinct tokens here now")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           scrub_duplicate_spans(docs, window=4, min_count=2).collect()}
    # doc1: span [2,8) covers the chunk -> removed, case kept elsewhere
    assert got[1].text == "Alpha beta gamma delta"
    assert (got[1].n_tokens, got[1].n_tokens_removed) == (10, 6)
    assert got[2].text == "zeta eta theta iota kappa"
    assert got[3].text == rows[2][1] and got[3].n_tokens_removed == 0


def test_scrub_duplicate_spans_null_text_preserved(spark):
    """A NULL input text stays NULL with ZERO counts — not n_tokens=-1
    (F.size over a null split array), which would poison downstream
    packed-spans arithmetic; matches paragraph_dedup's NULL preservation."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        scrub_duplicate_spans)
    chunk = "one two three four five six"
    rows = [(1, None), (2, f"{chunk} tail words here"),
            (3, f"lead tokens {chunk} again")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           scrub_duplicate_spans(docs, window=4, min_count=2).collect()}
    assert got[1].text is None
    assert (got[1].n_tokens, got[1].n_tokens_removed) == (0, 0)
    # non-null rows unaffected by the null guard
    assert got[2].n_tokens == 9 and got[2].n_tokens_removed == 6


# ---------------------------------------------------------------------------
# ppjoin_pairs — prefix-filtered set-similarity join
# ---------------------------------------------------------------------------
def test_ppjoin_equals_all_pairs(spark, docs):
    """Prefix filtering is LOSSLESS: ppjoin == jaccard_pairs exactly
    (pairs AND values) at the same threshold."""
    from climatemind_ontology_processing_spark.operators.dedup import ppjoin_pairs
    exact = {(r.a, r.b): r.jaccard
             for r in jaccard_pairs(docs, threshold=0.5,
                                    max_shingle_df=None).collect()}
    pp = {(r.a, r.b): r.jaccard
          for r in ppjoin_pairs(docs, threshold=0.5).collect()}
    assert pp == exact


def test_ppjoin_equals_all_pairs_low_threshold(spark, docs):
    """Losslessness holds at a threshold where prefixes are long."""
    from climatemind_ontology_processing_spark.operators.dedup import ppjoin_pairs
    exact = {(r.a, r.b): round(r.jaccard, 9)
             for r in jaccard_pairs(docs, threshold=0.3,
                                    max_shingle_df=None).collect()}
    pp = {(r.a, r.b): round(r.jaccard, 9)
          for r in ppjoin_pairs(docs, threshold=0.3).collect()}
    assert pp == exact


def test_ppjoin_prunes_boilerplate_prefixes(spark):
    """A high-df boilerplate shingle shared by every doc must NOT appear in
    any prefix (df-ascending order sorts it last), so the candidate join
    emits no pair through it: two docs whose ONLY shared shingles are
    boilerplate produce no candidate — yet true near-dups still match."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        ppjoin_pairs)
    boiler = "cookie notice accept all terms and conditions apply here"
    rows = [(i, f"unique page {i} body text payload {i} " + boiler)
            for i in range(6)]
    rows += [(100, "identical twin page body payload " + boiler),
             (101, "identical twin page body payload " + boiler)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b) for r in ppjoin_pairs(docs, threshold=0.8).collect()}
    assert (100, 101) in got
    assert all(a == 100 and b == 101 for a, b in got)


# ---------------------------------------------------------------------------
# interval_overlap_join — binned Allen-overlap join, emit-once
# ---------------------------------------------------------------------------
def _overlap_reference(L, R, keyed=False):
    out = set()
    for lrow in L:
        for rrow in R:
            if keyed and lrow[-1] != rrow[-1]:
                continue
            if lrow[1] <= rrow[2] and rrow[1] <= lrow[2]:
                out.add((lrow[0], rrow[0]))
    return out


def test_interval_overlap_join_matches_brute_force(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_overlap_join)
    # deterministic pseudo-random intervals, many spanning several bins
    L = [(i, (i * 37) % 500, (i * 37) % 500 + (i * 13) % 220)
         for i in range(40)]
    R = [(j, (j * 53) % 500, (j * 53) % 500 + (j * 11) % 180)
         for j in range(40)]
    ldf = spark.createDataFrame(L, "lid int, start long, end long")
    rdf = spark.createDataFrame(R, "rid int, start long, end long")
    for bw in (16, 100, 1000):   # tiny, medium, everyone-in-one-bin
        got = [(r.lid, r.r_rid)
               for r in interval_overlap_join(ldf, rdf,
                                              bin_width=bw).collect()]
        assert len(got) == len(set(got)), f"duplicates at bin_width={bw}"
        assert set(got) == _overlap_reference(L, R), f"bin_width={bw}"


def test_interval_overlap_join_keys_and_closed_endpoints(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_overlap_join)
    L = [(1, 0, 10, "u"), (2, 20, 30, "u"), (3, 0, 10, "v")]
    R = [(7, 10, 15, "u"), (8, 31, 40, "u"), (9, 5, 6, "v")]
    ldf = spark.createDataFrame(L, "lid int, start long, end long, k string")
    rdf = spark.createDataFrame(R, "rid int, start long, end long, k string")
    got = {(r.lid, r.r_rid)
           for r in interval_overlap_join(ldf, rdf, keys=("k",),
                                          bin_width=8).collect()}
    # (1,7): touching endpoints 10==10 count (closed); (2,8): disjoint;
    # (3,9): contained, same key; (1,9)/(3,7): key mismatch
    assert got == {(1, 7), (3, 9)}


def test_interval_overlap_join_negative_interval_raises(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        interval_overlap_join)
    ldf = spark.createDataFrame([(1, 10, 5)], "lid int, start long, end long")
    rdf = spark.createDataFrame([(2, 0, 4)], "rid int, start long, end long")
    with pytest.raises(Exception, match="end < start"):
        interval_overlap_join(ldf, rdf).collect()


# ---------------------------------------------------------------------------
# coalesce_intervals — per-key gaps-and-islands merge
# ---------------------------------------------------------------------------
def test_coalesce_intervals_basic_and_gap(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        coalesce_intervals)
    rows = [("u", 0, 10), ("u", 5, 12), ("u", 12, 15),   # chain: 0-15
            ("u", 20, 25),                                # island
            ("v", 0, 1), ("v", 3, 4)]                     # gap 2 apart
    df = spark.createDataFrame(rows, "k string, start long, end long")
    got = {(r.k, r.start, r.end, r.n_merged)
           for r in coalesce_intervals(df, keys=("k",)).collect()}
    assert got == {("u", 0, 15, 3), ("u", 20, 25, 1),
                   ("v", 0, 1, 1), ("v", 3, 4, 1)}
    gapped = {(r.k, r.start, r.end)
              for r in coalesce_intervals(df, keys=("k",), gap=2).collect()}
    assert ("v", 0, 4) in gapped


def test_coalesce_intervals_contained_interval_extends_running_max(spark):
    """The classic gaps-and-islands trap: a long interval followed by a
    short CONTAINED one must not reopen an island afterwards — the
    running max (not lag) handles it."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        coalesce_intervals)
    rows = [(0, 100), (10, 20), (90, 150), (200, 210)]
    df = spark.createDataFrame(rows, "start long, end long")
    got = sorted((r.start, r.end, r.n_merged)
                 for r in coalesce_intervals(df).collect())
    assert got == [(0, 150, 3), (200, 210, 1)]


def test_coalesce_intervals_negative_raises(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        coalesce_intervals)
    df = spark.createDataFrame([(10, 5)], "start long, end long")
    with pytest.raises(Exception, match="end < start"):
        coalesce_intervals(df).collect()


# ---------------------------------------------------------------------------
# burst_scores — RANGE-frame windowed burst detection
# ---------------------------------------------------------------------------
def test_burst_scores_range_frame_counts_empty_buckets(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        burst_scores)
    # key "a": 3 events in bucket 0, NOTHING in 1..3, burst of 6 in bucket 4
    rows = [("a", i) for i in (10, 20, 30)] + [("a", 4 * 100 + j)
                                               for j in range(6)]
    df = spark.createDataFrame(rows, "event_type string, ts long")
    got = {r.bucket_idx: (r.n, r.trailing_n, r.ratio_micro)
           for r in burst_scores(df, bucket=100, trailing=4).collect()}
    assert got[0] == (3, 0, None)          # no baseline
    # trailing window covers buckets 0..3 = 3 events even though 1..3
    # are EMPTY (RANGE semantics): ratio = 6*4*1e6 div 3 = 8e6
    assert got[4] == (6, 3, 8_000_000)


def test_burst_scores_rows_vs_range_distinction(spark):
    """A long quiet gap must age history OUT of the trailing window —
    the bug a ROWS frame would introduce."""
    from climatemind_ontology_processing_spark.operators.temporal import (
        burst_scores)
    rows = [("a", 5), ("a", 1000 * 100 + 5)]   # buckets 0 and 1000
    df = spark.createDataFrame(rows, "event_type string, ts long")
    got = {r.bucket_idx: r.ratio_micro
           for r in burst_scores(df, bucket=100, trailing=4).collect()}
    assert got[1000] is None                  # bucket 0 aged out


def test_burst_scores_guard(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        burst_scores)
    df = spark.createDataFrame([("a", 1)], "event_type string, ts long")
    with pytest.raises(ValueError):
        burst_scores(df, trailing=0)


# ---------------------------------------------------------------------------
# earliest_arrival — time-respecting reachability
# ---------------------------------------------------------------------------
def test_earliest_arrival_respects_time_order(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        earliest_arrival)
    # a->b fires at 5; b->c at 3 (BEFORE arrival at b: unusable) and at 9
    edges = [("a", "b", 5), ("b", "c", 3), ("b", "c", 9), ("c", "d", 9),
             ("x", "a", 1)]
    df = spark.createDataFrame(edges, "src string, dst string, ts long")
    got = {r.id: r.arrival for r in earliest_arrival(df, ["a"]).collect()}
    # c reachable only via the t=9 firing; d via c needs t>=9: edge at 9 ok
    assert got == {"a": 0, "b": 5, "c": 9, "d": 9}
    # static BFS would also claim x unreachable from a (no edge a->x)
    assert "x" not in got


def test_earliest_arrival_brute_force_parity(spark):
    """Enumerate all temporal paths in python; compare min arrival."""
    from climatemind_ontology_processing_spark.operators.paths import (
        earliest_arrival)
    edges = [((i * 3) % 7, (i * 5 + 1) % 7, (i * 11) % 13)
             for i in range(25)]
    df = spark.createDataFrame(edges, "src int, dst int, ts long")
    best = {0: 0}
    frontier = True
    while frontier:
        frontier = False
        for u, v, t in sorted(set(edges)):
            if u in best and t >= best[u] and t < best.get(v, 1 << 60):
                best[v] = t
                frontier = True
    got = {r.id: r.arrival for r in earliest_arrival(df, [0]).collect()}
    assert got == best


def test_earliest_arrival_start_gate_and_null_ts(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        earliest_arrival)
    df = spark.createDataFrame([("a", "b", 5)], "src string, dst string, ts long")
    # start=6: the t=5 edge fired before the seed existed
    got = {r.id: r.arrival
           for r in earliest_arrival(df, ["a"], start=6).collect()}
    assert got == {"a": 6}
    bad = spark.createDataFrame([("a", "b", None)],
                                "src string, dst string, ts long")
    with pytest.raises(Exception, match="NULL timestamp"):
        earliest_arrival(bad, ["a"]).collect()


# ---------------------------------------------------------------------------
# funnel_steps / funnel_counts — earliest-completion ordered funnels
# ---------------------------------------------------------------------------
def test_funnel_steps_earliest_completion(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        funnel_steps)
    rows = [
        ("u1", 10, "view"), ("u1", 20, "click"), ("u1", 30, "buy"),
        # u2: click BEFORE the first view doesn't count; later click does
        ("u2", 10, "click"), ("u2", 20, "view"), ("u2", 25, "click"),
        # u3: view only
        ("u3", 5, "view"),
        # u4: never views -> not in output at all
        ("u4", 1, "click"), ("u4", 2, "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    got = {r.user_id: (r.n_steps, r.t_first, r.t_last)
           for r in funnel_steps(df, ("view", "click", "buy"),
                                 ).collect()}
    assert got == {"u1": (3, 10, 30), "u2": (2, 20, 25), "u3": (1, 5, 5)}


def test_funnel_window_bounds_prefix(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        funnel_steps)
    rows = [("u", 0, "a"), ("u", 5, "b"), ("u", 100, "c")]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    got = {r.user_id: r.n_steps
           for r in funnel_steps(df, ("a", "b", "c"), window=50).collect()}
    assert got == {"u": 2}           # c lands outside the window
    full = {r.user_id: r.n_steps
            for r in funnel_steps(df, ("a", "b", "c")).collect()}
    assert full == {"u": 3}


def test_funnel_counts_monotone(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        funnel_counts)
    rows = [("u1", 1, "a"), ("u1", 2, "b"), ("u2", 1, "a"), ("u3", 9, "b")]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    got = {r.step_idx: r.n_keys
           for r in funnel_counts(df, ("a", "b")).collect()}
    assert got == {1: 2, 2: 1}


# ---------------------------------------------------------------------------
# event_transitions — first-order Markov census
# ---------------------------------------------------------------------------
def test_event_transitions_counts_and_probs(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        event_transitions)
    rows = [("u", 1, "a"), ("u", 2, "b"), ("u", 3, "a"), ("u", 4, "c"),
            ("v", 1, "a"), ("v", 2, "b")]
    df = spark.createDataFrame(rows, "user_id string, ts long, event_type string")
    got = {(r.prev_type, r.next_type): (r.n, r.p_micro)
           for r in event_transitions(df).collect()}
    # a -> b twice, a -> c once; b -> a once
    assert got[("a", "b")] == (2, 666666)
    assert got[("a", "c")] == (1, 333333)
    assert got[("b", "a")] == (1, 1000000)
    # no cross-user pair (v's 'b' never precedes u's events)
    assert ("b", "b") not in got


def test_event_transitions_tiebreak_determinism(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        event_transitions)
    rows = [("u", 1, 1, "x"), ("u", 5, 2, "b"), ("u", 5, 3, "a")]
    df = spark.createDataFrame(
        rows, "user_id string, ts long, event_id long, event_type string")
    got = {(r.prev_type, r.next_type)
           for r in event_transitions(df, tiebreak_col="event_id").collect()}
    # event_id order at equal ts: x -> b -> a
    assert got == {("x", "b"), ("b", "a")}


# ---------------------------------------------------------------------------
# decayed_counts — exact integer half-life counters
# ---------------------------------------------------------------------------
def test_decayed_counts_exact_shifts(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        decayed_counts)
    # key "a": 8 events in bucket 0, 1 event in bucket 2
    rows = [("a", i) for i in range(8)] + [("a", 205)]
    df = spark.createDataFrame(rows, "k string, ts long")
    got = {r.bucket_idx: r.decayed
           for r in decayed_counts(df, ("k",), bucket=100,
                                   horizon=8).collect()}
    # t=0: 8; t=1: 8//2=4; t=2: 8//4 + 1 = 3; t=3: 8//8 + 1//2 = 1
    assert got[0] == 8 and got[1] == 4 and got[2] == 3 and got[3] == 1
    # 8//16 = 0 and 1//4 = 0 -> t=4 absent entirely (zero rows filtered)
    assert 4 not in got


def test_decayed_counts_python_replica(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        decayed_counts)
    from collections import Counter, defaultdict
    rows = [(f"k{i % 3}", (i * 37) % 1000) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, ts long")
    census = Counter((k, t // 50) for k, t in rows)
    want = defaultdict(int)
    for (k, b), n in census.items():
        for d in range(12):
            c = n >> d
            if c:
                want[(k, b + d)] += c
    got = {(r.k, r.bucket_idx): r.decayed
           for r in decayed_counts(df, ("k",), bucket=50,
                                   horizon=12).collect()}
    assert got == dict(want)


def test_decayed_counts_guards(spark):
    from climatemind_ontology_processing_spark.operators.temporal import (
        decayed_counts)
    df = spark.createDataFrame([("a", 1)], "k string, ts long")
    with pytest.raises(ValueError):
        decayed_counts(df, ("k",), horizon=0)
    with pytest.raises(ValueError):
        decayed_counts(df, ("k",), bucket=0)


# ---------------------------------------------------------------------------
# readability — integer Flesch reading ease
# ---------------------------------------------------------------------------
def test_readability_closed_form(spark):
    from climatemind_ontology_processing_spark.operators.textstats import (
        readability)
    docs = spark.createDataFrame(
        [(0, "The cat sat. The dog ran!"),     # 6 words, 2 sentences
         (1, ""), (2, None),
         (3, "syllable counting heuristic")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_words, r.n_sentences, r.n_syllables, r.fre_micro)
           for r in readability(docs).collect()}
    # doc 0: words=6, sent=2, syllables: the/cat/sat./the/dog/ran! -> 1 each = 6
    w, s, syl = 6, 2, 6
    fre = 206_835_000 - (1_015_000 * w) // s - (84_600_000 * syl) // w
    assert got[0] == (w, s, syl, fre)
    assert got[1] == (0, 1, 0, None) and got[2] == (0, 1, 0, None)
    # doc 3: syl-la-ble(3: y? 'syllable'->[y,a,e]=3) count-ing(2: ou,i) heu-ris-tic(3: eu,i,i)
    assert got[3][2] == 8


def test_readability_monotone_in_complexity(spark):
    from climatemind_ontology_processing_spark.operators.textstats import (
        readability)
    docs = spark.createDataFrame(
        [(0, "a b c. d e f."), (1, "extraordinarily unintelligible verbiage")],
        "doc_id long, text string")
    got = {r.doc_id: r.fre_micro for r in readability(docs).collect()}
    assert got[0] > got[1]


# ---------------------------------------------------------------------------
# dag_path_counts — exact path-count DP
# ---------------------------------------------------------------------------
def test_dag_path_counts_diamond(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        dag_path_counts)
    # diamond a->{b,c}->d plus tail d->e: 2 paths to d and e
    edges = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.id: r.n_paths for r in dag_path_counts(df, ["a"]).collect()}
    assert got == {"a": 1, "b": 1, "c": 1, "d": 2, "e": 2}


def test_dag_path_counts_brute_force(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        dag_path_counts)
    edges = sorted({(i, j) for i in range(10) for j in range(i + 1, 10)
                    if (i * 7 + j * 3) % 4 == 0})
    df = spark.createDataFrame(edges, "src int, dst int")
    from collections import defaultdict
    adj = defaultdict(list)
    for u, v in edges:
        adj[u].append(v)

    def count(frm):
        c = defaultdict(int)

        def rec(n):
            c[n] += 1
            for m in adj[n]:
                rec(m)
        rec(frm)
        return c
    want = defaultdict(int)
    for s in (0, 1):
        for n, k in count(s).items():
            want[n] += k
    got = {r.id: r.n_paths
           for r in dag_path_counts(df, [0, 1]).collect()}
    assert got == dict(want)


def test_dag_path_counts_cycle_raises(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        dag_path_counts)
    df = spark.createDataFrame([("a", "b"), ("b", "a")],
                               "src string, dst string")
    with pytest.raises(RuntimeError, match="CYCLE|max_rounds"):
        dag_path_counts(df, ["a"], max_rounds=10)


# ---------------------------------------------------------------------------
# double_sweep_diameter
# ---------------------------------------------------------------------------
def test_double_sweep_exact_on_path_graph(spark):
    from climatemind_ontology_processing_spark.operators.paths import (
        double_sweep_diameter)
    df = spark.createDataFrame([(i, i + 1) for i in range(7)],
                               "src int, dst int")
    r = double_sweep_diameter(df).collect()[0]
    assert r.diameter_lb == 7          # exact on trees
    assert r.far_node in (0, 7)


def test_double_sweep_lower_bounds_networkx_diameter(spark):
    import networkx as nx
    from climatemind_ontology_processing_spark.operators.paths import (
        double_sweep_diameter)
    edges = sorted({((i * 7) % 15, (i * 11 + 2) % 15) for i in range(40)})
    g = nx.Graph((u, v) for u, v in edges if u != v)
    g = g.subgraph(max(nx.connected_components(g), key=len))
    df = spark.createDataFrame(edges, "src int, dst int")
    r = double_sweep_diameter(df, start=min(g.nodes)).collect()[0]
    assert r.diameter_lb <= nx.diameter(g)
    # double sweep is usually tight; on this fixed graph it is
    assert r.diameter_lb == nx.diameter(g)


def test_t_half_forms_match_division_form_on_blank_documents(spark):
    """The t=0.5 integer form ``3*inter >= sz_a+sz_b`` equals
    ``jaccard >= 0.5`` only for non-empty shingle sets (an empty/empty pair
    passes 0 >= 0 with a null jaccard).  On empty and whitespace-only
    texts, near_dup_pairs and ppjoin_pairs must return exactly the
    division form's rows (jaccard_pairs), none with a null jaccard."""
    from climatemind_ontology_processing_spark.operators.dedup import (
        near_dup_pairs, ppjoin_pairs)
    text = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, ""), (3, "\t\n "), (4, text), (5, text),
         (6, "short")],
        "doc_id long, text string")
    rows = lambda df: {(r.a, r.b, r.jaccard) for r in df.collect()}
    want = rows(jaccard_pairs(docs, threshold=0.5))
    assert (4, 5, 1.0) in want
    assert all(j is not None for _a, _b, j in want)
    assert rows(near_dup_pairs(docs, threshold=0.5,
                               exact_dedup_first=False)) == want
    assert rows(ppjoin_pairs(docs, threshold=0.5)) == want
