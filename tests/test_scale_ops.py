"""Textstats, similarity search, multimodal plumbing, lineage/resume,
incremental ingestion."""
from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.operators.multimodal import (
    decode_image, extract_features, frame_sample_plan)
from climatemind_ontology_processing_spark.operators.similarity import (
    brute_force_topk, ivf_assign, lsh_topk)
from climatemind_ontology_processing_spark.operators.textstats import with_textstats
from climatemind_ontology_processing_spark.plans.lineage import (
    LINEAGE_SCHEMA, append_lineage_rows, completed_buckets, run_bucketed,
    with_bucket)
from climatemind_ontology_processing_spark.sources.pages import pages_df


def test_textstats(spark):
    docs = spark.createDataFrame([
        (0, "the quick brown fox is in the house and it is warm for now"),
        (1, "der hund ist nicht mit der katze und das ist gut zu sehen"),
        (2, "xyzzy"),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in with_textstats(docs).collect()}
    assert got[0].lang_detected == "en"
    assert got[1].lang_detected == "de"
    assert got[2].lang_detected == "und"
    assert got[0].n_tokens_ws == 14
    assert got[0].q_score > got[2].q_score
    assert isinstance(got[0].fingerprint, int)
    # fingerprint is whitespace-normalization stable
    docs2 = spark.createDataFrame([(0, "THE  quick   brown fox is in the house and it is warm for now ")],
                                  "doc_id long, text string")
    assert with_textstats(docs2).first().fingerprint == got[0].fingerprint


@pytest.fixture(scope="module")
def vectors(spark):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(50):
        rows.append((i, [rng.gauss(0, 1) for _ in range(16)]))
    # vec 100 = exact copy of vec 0 (cosine 1.0 neighbor)
    rows.append((100, list(rows[0][1])))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = brute_force_topk(vectors, queries, k=5).collect()
    assert len(got) == 5
    assert got[0].vec_id == 100 and got[0].cos_sim == pytest.approx(1.0)
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)


def test_brute_force_topk_size_guard(spark, vectors, monkeypatch):
    """The exactness baseline refuses vector tables above its documented
    cap unless force=True (round-3 verdict #6: nothing stopped a caller
    launching an O(N*Q) crossJoin at corpus scale)."""
    import climatemind_ontology_processing_spark.operators.similarity as sim
    monkeypatch.setattr(sim, "BRUTE_FORCE_MAX_VECTORS", 10)
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    with pytest.raises(ValueError, match="force=True"):
        sim.brute_force_topk(vectors, queries, k=5)
    got = sim.brute_force_topk(vectors, queries, k=5, force=True).collect()
    assert len(got) == 5 and got[0].vec_id == 100


def test_lsh_topk_finds_identical(spark, vectors):
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = lsh_topk(vectors, queries, dim=16, k=5, bits=16, bands=8).collect()
    assert any(r.vec_id == 100 for r in got), "identical vector must share buckets"


def test_ivf_assign_deterministic(spark, vectors):
    a = {r.vec_id: r.cell for r in ivf_assign(vectors, dim=16).collect()}
    b = {r.vec_id: r.cell for r in ivf_assign(vectors, dim=16).collect()}
    assert a == b
    assert a[0] == a[100]  # identical vectors -> same cell


def test_lsh_signature_paths_identical(spark, vectors):
    """The Arrow/numpy matmul path must produce bit-identical signatures to
    the literal JVM path (same seed, same planes)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        lsh_signature)
    v = vectors.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v"))
    lit = {r.vec_id: r.s for r in v.select(
        "vec_id", lsh_signature(F.col("v"), dim=16, bits=16,
                                force="literal").alias("s")).collect()}
    pnd = {r.vec_id: r.s for r in v.select(
        "vec_id", lsh_signature(F.col("v"), dim=16, bits=16,
                                force="pandas").alias("s")).collect()}
    assert lit == pnd


def test_lsh_signature_null_ragged_paths_identical(spark):
    """Null / wrong-dim / empty / null-element vectors: both signature paths
    must agree (signature 0, the literal JVM path's null-projection
    behavior) instead of the pandas path crashing on ragged input."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        lsh_signature)
    df = spark.createDataFrame(
        [(1, [0.5, 0.2, 0.1, 0.4]), (2, None), (3, [0.1, 0.2]), (4, []),
         (5, [0.3, None, 0.2, 0.9]), (6, [-0.4, 0.7, -0.1, 0.2])],
        "vec_id long, v array<double>")
    lit = {r.vec_id: r.s for r in df.select(
        "vec_id", lsh_signature(F.col("v"), dim=4, bits=8,
                                force="literal").alias("s")).collect()}
    pnd = {r.vec_id: r.s for r in df.select(
        "vec_id", lsh_signature(F.col("v"), dim=4, bits=8,
                                force="pandas").alias("s")).collect()}
    assert lit == pnd
    assert lit[2] == lit[3] == lit[4] == lit[5] == 0
    assert lit[1] != 0 and lit[6] != 0


def test_lsh_signature_real_dims_no_literal_blowup(spark):
    """dim 768 x 64 bits must route to the vectorized path: the plan carries
    an ArrowEvalPython stage instead of ~49k literal expressions."""
    import random
    rng = random.Random(3)
    rows = [(i, [rng.gauss(0, 1) for _ in range(768)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    from climatemind_ontology_processing_spark.operators.similarity import (
        lsh_signature)
    out = df.select("vec_id", lsh_signature(F.col("v"), dim=768, bits=64).alias("s"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    sigs = out.collect()
    assert len({r.s for r in sigs}) > 100, "signatures must discriminate"


def test_cell_assignment_paths_identical(spark):
    """best_cell / cell_ranks dual path (round-5): the Arrow matmul path
    must agree with the literal JVM path on assignment AND probe ranking,
    including ties (higher cell id wins) and null/ragged vectors."""
    import random
    from climatemind_ontology_processing_spark.operators.similarity import (
        best_cell, cell_ranks, pseudo_centroids)
    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(24)]) for i in range(300)]
    rows += [(1000, None), (1001, [0.1, 0.2]), (1002, [])]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = pseudo_centroids(24, 12, seed=5)
    for expr in (lambda f: best_cell(F.col("v"), cents, force=f),
                 lambda f: cell_ranks(F.col("v"), cents, 3, force=f)):
        lit = {r.vec_id: r.c for r in
               df.select("vec_id", expr("literal").alias("c")).collect()}
        pnd = {r.vec_id: r.c for r in
               df.select("vec_id", expr("pandas").alias("c")).collect()}
        good = {k for k in lit if k < 1000}
        assert {k: lit[k] for k in good} == {k: pnd[k] for k in good}
        assert pnd[1000] is None and pnd[1001] is None and pnd[1002] is None


def test_ivfpq_residual_recall_realistic_shape(spark):
    """Round-4 verdict #5: the ANN recall certification at a shape that
    actually stresses the LUT/encode/assignment paths — 102,400 vectors at
    dim 256 (64 clusters x 1600, unit-norm), trained coarse cells + PQ
    m=32 x 256 codes (the standard FAISS 8-bit-code geometry, subdim 8),
    residual IVFADC, shortlist 100*k (~1% of the corpus, the
    exact-rerank production operating point).  Ground truth is one numpy
    float64 matmul.  Also the regression pin for the round-5 pq_fit
    init-collapse fix (Gaussian init used 4/256 codes at this dim; recall
    was 0.04) and for routing assignment/encode through the Arrow paths
    (plan must carry ArrowEvalPython, not 16k literal terms)."""
    import sys
    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1]))
    from tools.ann_recall import (clustered_corpus_np, exact_topk_np,
                                  recall_at_k)
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivfpq_residuals, ivfpq_topk, kmeans_fit, pq_fit)
    k = 10
    ids, mat, qids = clustered_corpus_np(64, 1600, 256)
    exact = exact_topk_np(ids, mat, qids, k)
    vectors = spark.createDataFrame(
        list(zip(ids.tolist(), mat.tolist())),
        "vec_id long, embedding array<float>").localCheckpoint()
    queries = vectors.filter(
        F.col("vec_id").isin([int(q) for q in qids])) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    cents = kmeans_fit(vectors, dim=256, n_cells=64, iters=3, seed=42)
    res = ivfpq_residuals(vectors, dim=256, centroids=cents).localCheckpoint()
    cbs = pq_fit(res, dim=256, m=32, n_codes=256, iters=3, seed=42)
    short = ivfpq_topk(vectors, queries, dim=256, k=100 * k, n_cells=64,
                       n_probe=2, m=32, n_codes=256, centroids=cents,
                       codebooks=cbs, residual=True)
    plan = short._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan
    got: dict = {}
    for r in short.collect():
        got.setdefault(r.qid, set()).add(r.vec_id)
    rec = recall_at_k(exact, got, k)
    assert rec >= 0.95, f"residual shortlist recall {rec:.3f} (measured 0.966)"


def test_kmeans_fit_improves_and_is_deterministic(spark, vectors):
    from climatemind_ontology_processing_spark.operators.similarity import (
        kmeans_fit, pseudo_centroids)
    import math

    def objective(cents):
        """mean max-cosine-direction to assigned centroid (spherical k-means
        maximizes this)."""
        rows = vectors.collect()
        tot = 0.0
        for r in rows:
            v = list(r.embedding)
            nv = math.sqrt(sum(x * x for x in v)) or 1.0
            tot += max(sum(a * b for a, b in zip(v, c)) / nv for c in cents)
        return tot / len(rows)

    init = pseudo_centroids(dim=16, n_cells=4, seed=42)
    fit1 = kmeans_fit(vectors, dim=16, n_cells=4, iters=2, seed=42)
    fit2 = kmeans_fit(vectors, dim=16, n_cells=4, iters=2, seed=42)
    assert fit1 == fit2, "seeded fit must be reproducible"
    assert objective(fit1) > objective(init), "Lloyd steps must not regress"
    for c in fit1:  # spherical: centroids stay unit-norm
        assert math.sqrt(sum(x * x for x in c)) == pytest.approx(1.0)


def test_ivf_topk_probe_recall(spark, vectors):
    """ivf_topk with trained centroids must return the planted identical
    vector as rank-1, and every result must come from probed cells only
    (subset of brute force)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivf_topk, kmeans_fit)
    cents = kmeans_fit(vectors, dim=16, n_cells=4, iters=1, seed=42)
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = ivf_topk(vectors, queries, dim=16, k=5, n_cells=4, n_probe=2,
                   centroids=cents).collect()
    assert got, "probe must find candidates"
    assert got[0].vec_id == 100 and got[0].cos_sim == pytest.approx(1.0)
    brute = {r.vec_id for r in brute_force_topk(vectors, queries, k=50).collect()}
    assert {r.vec_id for r in got} <= brute


def test_ann_recall_pins(spark):
    """Retrieval QUALITY pins (round-3 verdict #4): on a seeded clustered
    corpus (40 clusters x 15 members, unit-norm, the neighbors-separated
    ANN-benchmark shape), each approximate path must recover the exact
    brute-force top-10.  Everything is seeded/deterministic, so these are
    stable pins, not flaky statistical tests.  Measured (tools/ann_recall.py):
    ivf(p=2)=1.000, lsh(16/8)=1.000, pq(m=8) direct ADC=0.725,
    pq shortlist@50 containing exact top-10=1.000 — pins sit below with
    margin.  The speed/recall trade is documented in BENCH.md."""
    import math
    import random as _random

    from climatemind_ontology_processing_spark.operators.similarity import (
        brute_force_topk, ivf_topk, kmeans_fit, lsh_topk, pq_fit, pq_topk)

    n_clusters, per_cluster, dim, k = 40, 15, 32, 10
    rng = _random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    for ci, c in enumerate(centers):
        for j in range(per_cluster):
            vec = [x + 0.25 * rng.gauss(0, 1) for x in c]
            nv = math.sqrt(sum(x * x for x in vec)) or 1.0
            rows.append((ci * per_cluster + j, [x / nv for x in vec]))
    qids = [ci * per_cluster for ci in range(n_clusters)]
    vectors = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vectors.filter(F.col("vec_id").isin(qids)) \
        .select(F.col("vec_id").alias("qid"), "embedding")

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r.qid, set()).add(r.vec_id)
        return out

    def recall(approx, exact):
        return sum(len(exact[q] & approx.get(q, set())) / k
                   for q in exact) / len(exact)

    exact = topsets(brute_force_topk(vectors, queries, k=k))
    cents = kmeans_fit(vectors, dim=dim, n_cells=n_clusters, iters=3, seed=42)
    ivf = topsets(ivf_topk(vectors, queries, dim=dim, k=k,
                           n_cells=n_clusters, n_probe=2, centroids=cents))
    assert recall(ivf, exact) >= 0.95
    lsh = topsets(lsh_topk(vectors, queries, dim=dim, k=k, bits=16, bands=8))
    assert recall(lsh, exact) >= 0.95
    cbs = pq_fit(vectors, dim=dim, m=8, n_codes=16, iters=3, seed=42)
    pq = topsets(pq_topk(vectors, queries, dim=dim, codebooks=cbs, k=k,
                         m=8, n_codes=16))
    assert recall(pq, exact) >= 0.60          # direct ADC@10: coarse codes
    pq50 = topsets(pq_topk(vectors, queries, dim=dim, codebooks=cbs, k=5 * k,
                           m=8, n_codes=16))
    assert recall(pq50, exact) >= 0.95        # ADC shortlist for exact rerank
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivfpq_topk)
    ivfpq50 = topsets(ivfpq_topk(vectors, queries, dim=dim, k=5 * k,
                                 n_cells=n_clusters, n_probe=2, m=8,
                                 n_codes=16, centroids=cents,
                                 codebooks=cbs))
    assert recall(ivfpq50, exact) >= 0.95     # composed scale path (1.000)


def test_multimodal_stub_and_plumbing(spark):
    media = spark.createDataFrame([
        ("m1", "image", bytearray(b"\x00\x10\xff\x80abc"), ("image/png", 2, 2, None)),
        ("m2", "audio", bytearray(b"\x01\x02\x03\x04" * 10), ("audio/wav", None, None, 1000)),
        ("m3", "video", bytearray(b"\x00"), ("video/mp4", None, None, 3500)),
    ], "media_id string, kind string, payload binary, "
       "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    feats = {r.media_id: r for r in extract_features(media, fake=True).collect()}
    assert len(feats["m1"].feature) == 8
    assert feats["m2"].n_bytes == 40
    with pytest.raises(NotImplementedError):
        decode_image(b"x", fake=False)
    frames = frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_lineage_resume(spark, tmp_path):
    """Kill-after-stage-N simulation: first run completes buckets 0..1 of 4,
    second run must skip them and produce identical final output."""
    pages = pages_df(spark, 120, seed=42, partitions=4)
    out_a = str(tmp_path / "a")
    lin_a = str(tmp_path / "lin_a")
    # full run (oracle) — job count must be CONSTANT in n_buckets (the
    # single-pass rewrite: the triple write plus the lineage write, not ~3
    # actions per bucket; AQE splits each action into a few jobs, hence the
    # slack)
    sc = spark.sparkContext
    sc.setJobGroup("lineage-full-run", "test")
    rep = run_bucketed(pages, out_a, lin_a, run_id="r1", n_buckets=4)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("lineage-full-run"))
    sc.setJobGroup(None, None)
    assert n_jobs <= 8, f"expected a constant handful of jobs, got {n_jobs}"
    assert sorted(rep.processed) == [0, 1, 2, 3] and rep.skipped == []
    full = {tuple(r) for r in spark.read.parquet(out_a).select("subj", "pred", "obj").collect()}

    # interrupted run: only buckets 0-1 "completed" before the crash
    out_b = str(tmp_path / "b")
    lin_b = str(tmp_path / "lin_b")
    from climatemind_ontology_processing_spark.plans.lineage import append_lineage
    bucketed = with_bucket(pages, 4)
    for b in (0, 1):
        part = bucketed.filter(F.col("bucket") == b).drop("bucket")
        from climatemind_ontology_processing_spark.plans.pipeline import triples_from_pages
        triples_from_pages(part).write.mode("overwrite").parquet(os.path.join(out_b, f"bucket={b}"))
        append_lineage(spark, lin_b, "r2", "triples", b, 0, 0)

    rep2 = run_bucketed(pages, out_b, lin_b, run_id="r2", n_buckets=4)
    assert rep2.skipped == [0, 1] and sorted(rep2.processed) == [2, 3]
    resumed = {tuple(r) for r in spark.read.parquet(out_b).select("subj", "pred", "obj").collect()}
    assert resumed == full


def test_lineage_uri_scheme_paths(spark, tmp_path):
    """Lineage + output I/O must go through the Hadoop FileSystem layer, not
    driver-local open()/os.path — exercised by handing every path as a
    file:// URI (the same code path an hdfs:// or s3a:// URI would take)."""
    pages = pages_df(spark, 60, seed=42, partitions=4)
    out = f"file://{tmp_path}/out"
    lin = f"file://{tmp_path}/lin"
    rep = run_bucketed(pages, out, lin, run_id="ru", n_buckets=2)
    assert sorted(rep.processed) == [0, 1]
    assert completed_buckets(spark, lin, "ru", "triples") == {0, 1}
    # resume through the URI path as well: everything skipped
    rep2 = run_bucketed(pages, out, lin, run_id="ru", n_buckets=2)
    assert rep2.processed == [] and rep2.skipped == [0, 1]
    assert spark.read.parquet(out).count() > 0


def test_embedding_near_dups(spark, vectors):
    from climatemind_ontology_processing_spark.operators.similarity import (
        embedding_near_dups)
    got = {(r.a, r.b): r.cos_sim
           for r in embedding_near_dups(vectors, dim=16, threshold=0.99).collect()}
    assert (0, 100) in got and got[(0, 100)] == 1.0
    # unrelated gaussian vectors almost never reach cosine 0.99
    assert all(k == (0, 100) for k in got)


def test_multimodal_resize_and_embed(spark):
    """Fake-decoder resize is deterministic and shape-correct; identical
    payloads embed identically."""
    from climatemind_ontology_processing_spark.operators.multimodal import (
        embed_media, resize_image, resize_images)
    import pytest as _pytest
    grid = bytes(range(16))  # 4x4 "image"
    small = resize_image(grid, 4, 4, 2, 2, fake=True)
    assert small == bytes([grid[0], grid[2], grid[8], grid[10]])
    with _pytest.raises(NotImplementedError):
        resize_image(grid, 4, 4, 2, 2, fake=False)

    media = spark.createDataFrame([
        ("m1", "image", bytearray(grid), ("image/raw", 4, 4, None)),
        ("m2", "image", bytearray(grid), ("image/raw", 4, 4, None)),
        ("m3", "image", bytearray(reversed(grid)), ("image/raw", 4, 4, None)),
    ], "media_id string, kind string, payload binary, "
       "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    resized = {r.media_id: bytes(r.payload)
               for r in resize_images(media, 2, 2).collect()}
    assert resized["m1"] == small and resized["m2"] == small
    emb = {r.media_id: r.embedding for r in embed_media(media, dim=16).collect()}
    assert emb["m1"] == emb["m2"]
    assert len(emb["m1"]) == 16


def test_multimodal_ann_end_to_end(spark):
    """media -> embed_media -> brute_force_topk: the duplicate payload must
    come back as the top neighbor with cosine ~1.0 — the full multimodal ->
    similarity-search integration."""
    import random
    from climatemind_ontology_processing_spark.operators.multimodal import (
        embed_media)
    rng = random.Random(5)
    rows = []
    for i in range(20):
        payload = bytes(rng.randrange(256) for _ in range(64))
        rows.append((f"m{i:02d}", "image", bytearray(payload),
                     ("image/raw", 8, 8, None)))
    rows.append(("dup", "image", rows[0][2], ("image/raw", 8, 8, None)))
    media = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary, "
              "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    emb = embed_media(media, dim=16).withColumnRenamed("media_id", "vec_id")
    queries = emb.filter(F.col("vec_id") == "m00") \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = brute_force_topk(emb, queries, k=3).collect()
    assert got[0].vec_id == "dup"
    assert got[0].cos_sim == pytest.approx(1.0)


def test_lineage_stale_bucket_cleared(spark, tmp_path):
    """A pending bucket whose fresh output is EMPTY must not keep a previous
    run's rows (dynamic overwrite alone would): pending partition dirs are
    cleared before the write."""
    out = str(tmp_path / "stale_out")
    lin = str(tmp_path / "stale_lin")
    # seed bucket=0 with foreign rows from "a previous run"
    spark.createDataFrame([("s", "p", "o", "u", None, 1.0)],
                          "subj string, pred string, obj string, url string, "
                          "warc_ts timestamp, score double") \
        .write.mode("overwrite").parquet(os.path.join(out, "bucket=0"))
    # run with an EMPTY pages table: every bucket's fresh output is empty
    pages = pages_df(spark, 10, seed=42).filter("1=0")
    rep = run_bucketed(pages, out, lin, run_id="rX", n_buckets=2)
    assert sorted(rep.processed) == [0, 1]
    assert not os.path.isdir(os.path.join(out, "bucket=0")) or not any(
        f.endswith(".parquet")
        for f in os.listdir(os.path.join(out, "bucket=0"))), \
        "stale rows must be cleared"
    # the all-empty readback is zero rows, not an error: both buckets get
    # zero-count lineage rows
    assert _lineage_counts(spark, lin, "rX") == {0: (0, 0), 1: (0, 0)}
    # the same on an output path that was never written before
    fresh_lin = str(tmp_path / "fresh_lin")
    rep = run_bucketed(pages, str(tmp_path / "fresh_out"), fresh_lin,
                       run_id="rF", n_buckets=2)
    assert sorted(rep.processed) == [0, 1]
    assert _lineage_counts(spark, fresh_lin, "rF") == {0: (0, 0), 1: (0, 0)}


def _lineage_counts(spark, lin, run_id):
    """{bucket: (n_pages, n_triples)}, asserting one lineage row per bucket."""
    rows = (spark.read.schema(LINEAGE_SCHEMA).json(lin)
            .filter(F.col("run_id") == run_id).collect())
    got = {r.bucket: (r.n_pages, r.n_triples) for r in rows}
    assert len(got) == len(rows), "exactly one lineage row per bucket"
    return got


def _parquet_files(out, bucket):
    d = os.path.join(out, f"bucket={bucket}")
    return {f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


@pytest.mark.parametrize("wave_size", [None, 2])
def test_lineage_counters_match_pages_and_committed_output(spark, tmp_path,
                                                           wave_size):
    """Each bucket's lineage row counts its input pages and its committed
    triple rows, for a single-pass run and a run in waves of 2."""
    pages = pages_df(spark, 120, seed=42, partitions=4)
    out = str(tmp_path / "out")
    lin = str(tmp_path / "lin")
    run_bucketed(pages, out, lin, run_id="rc", n_buckets=4, wave_size=wave_size)
    n_pages = {r.bucket: r["count"] for r in
               with_bucket(pages, 4).groupBy("bucket").count().collect()}
    n_triples = {r.bucket: r["count"] for r in
                 spark.read.parquet(out).groupBy("bucket").count().collect()}
    assert _lineage_counts(spark, lin, "rc") == {
        b: (n_pages.get(b, 0), n_triples.get(b, 0)) for b in range(4)}
    assert sum(n_pages.values()) == 120 and sum(n_triples.values()) > 0


def test_lineage_rows_of_one_append_share_constants(spark, tmp_path):
    with pytest.raises(ValueError, match="run_id, stage, status, attempt"):
        append_lineage_rows(spark, str(tmp_path / "lin"), [
            {"run_id": "a", "stage": "s", "bucket": 0, "n_pages": 1, "n_triples": 1},
            {"run_id": "b", "stage": "s", "bucket": 1, "n_pages": 1, "n_triples": 1}])


def test_lineage_one_file_per_bucket_and_resume_leaves_done_buckets(spark, tmp_path):
    """Every written bucket dir holds exactly one parquet file, and a resume
    never touches the files of completed buckets (the wave APPENDS, so only
    the pending dirs it cleared may change)."""
    pages = pages_df(spark, 120, seed=42, partitions=4)
    out = str(tmp_path / "out")
    # keep all 4 dedup reducers, so the layout cannot follow from AQE
    # coalescing this small input into one task
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        run_bucketed(pages, out, str(tmp_path / "lin"), run_id="rl", n_buckets=4)
    finally:
        spark.conf.set(key, prev)
    before = {b: _parquet_files(out, b) for b in range(4)}
    assert all(len(files) == 1 for files in before.values()), before
    # resume against a lineage where only buckets 0-1 are done
    lin2 = str(tmp_path / "lin2")
    append_lineage_rows(spark, lin2, [
        {"run_id": "rl", "stage": "triples", "bucket": b, "n_pages": 0,
         "n_triples": 0} for b in (0, 1)])
    rep = run_bucketed(pages, out, lin2, run_id="rl", n_buckets=4)
    assert rep.skipped == [0, 1] and sorted(rep.processed) == [2, 3]
    after = {b: _parquet_files(out, b) for b in range(4)}
    assert after[0] == before[0] and after[1] == before[1]
    assert all(len(after[b]) == 1 and after[b] != before[b] for b in (2, 3))


def test_lineage_wave_granularity(spark, tmp_path):
    """wave_size commits lineage per wave: output and lineage equal the
    single-pass run."""
    pages = pages_df(spark, 120, seed=42, partitions=4)
    out = str(tmp_path / "wave_out")
    lin = str(tmp_path / "wave_lin")
    rep = run_bucketed(pages, out, lin, run_id="rw", n_buckets=4, wave_size=2)
    assert sorted(rep.processed) == [0, 1, 2, 3]
    assert completed_buckets(spark, lin, "rw", "triples") == {0, 1, 2, 3}
    full_out = str(tmp_path / "full_out")
    full_lin = str(tmp_path / "full_lin")
    run_bucketed(pages, full_out, full_lin, run_id="rf", n_buckets=4)
    a = {tuple(r) for r in spark.read.parquet(out)
         .select("subj", "pred", "obj").collect()}
    b = {tuple(r) for r in spark.read.parquet(full_out)
         .select("subj", "pred", "obj").collect()}
    assert a == b


def test_resize_null_dimensions(spark):
    """Null width/height arrive as pandas NaN — must degrade to empty
    payload, not crash the task."""
    from climatemind_ontology_processing_spark.operators.multimodal import (
        resize_images)
    media = spark.createDataFrame(
        [("m1", "image", bytearray(b"\x01\x02\x03\x04"),
          ("image/raw", None, None, None))],
        "media_id string, kind string, payload binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:int>")
    got = resize_images(media, 2, 2).collect()
    assert bytes(got[0].payload) == b""


def test_dedup_exact_bucketed_layout_no_corpus_shuffle(spark, tmp_path):
    """The dedup_exact docstring's cluster-scale claim, proven at plan level:
    with the corpus bucketed by doc_id and broadcast joins disabled (forcing
    the join shape a 100 TB run would take), the ONLY exchanges are the
    keys-only fingerprint agg and the tiny keep-id side repartitioning into
    the bucket layout — the document bodies never enter an exchange."""
    import re
    from climatemind_ontology_processing_spark.operators.dedup import (
        dedup_exact)
    docs = spark.createDataFrame(
        [(i, f"text body number {i % 40}") for i in range(200)],
        "doc_id long, text string")
    spark.sql("DROP TABLE IF EXISTS _dedup_bucketed_test")
    docs.write.bucketBy(8, "doc_id").sortBy("doc_id") \
        .format("parquet").saveAsTable("_dedup_bucketed_test")
    bucketed = spark.table("_dedup_bucketed_test")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = dedup_exact(bucketed)
        plan = out._jdf.queryExecution().executedPlan().toString()
        exchanges = re.findall(r"Exchange [^\n]*", plan)
        assert exchanges, "expected the keys-only exchanges"
        assert not any("text" in e for e in exchanges), exchanges
        assert out.count() == 40  # one survivor per distinct text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS _dedup_bucketed_test")


def test_pq_code_paths_identical(spark, vectors):
    """Literal JVM and Arrow/numpy PQ encode paths must produce identical
    code arrays, including null / ragged / null-element rows."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_pseudo_codebooks, pq_encode)
    cbs = pq_pseudo_codebooks(16, m=4, n_codes=8, seed=42)
    lit = {r.vec_id: r.codes for r in
           pq_encode(vectors, cbs, force="literal").collect()}
    pnd = {r.vec_id: r.codes for r in
           pq_encode(vectors, cbs, force="pandas").collect()}
    assert lit == pnd
    assert lit[100] == lit[0]          # exact copy -> identical codes
    ragged = spark.createDataFrame(
        [(1, [0.5, 0.2, 0.1, 0.4]), (2, None), (3, [0.1, 0.2]), (4, [])],
        "vec_id long, embedding array<double>")
    cbs4 = pq_pseudo_codebooks(4, m=2, n_codes=4, seed=1)
    lit4 = {r.vec_id: r.codes for r in
            pq_encode(ragged, cbs4, force="literal").collect()}
    pnd4 = {r.vec_id: r.codes for r in
            pq_encode(ragged, cbs4, force="pandas").collect()}
    assert lit4 == pnd4
    assert lit4[2] is None and lit4[3] is None and lit4[4] is None
    assert lit4[1] is not None


def test_pq_fit_improves_and_is_deterministic(spark, vectors):
    """Lloyd rounds must not increase the quantization objective, and two
    fits with the same seed must be bit-identical."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_fit, pq_objective, pq_pseudo_codebooks)
    init = pq_pseudo_codebooks(16, m=4, n_codes=8, seed=42)
    fit = pq_fit(vectors, dim=16, m=4, n_codes=8, iters=2, seed=42)
    assert pq_objective(vectors, fit) <= pq_objective(vectors, init)
    fit2 = pq_fit(vectors, dim=16, m=4, n_codes=8, iters=2, seed=42)
    assert fit == fit2


def test_pq_topk_adc_finds_planted_duplicate(spark, vectors):
    """With fitted codebooks, the planted exact copy of the query vector
    shares all codes, so its ADC distance equals the query's own
    self-quantization floor — it must appear in the top-k with the minimum
    distance in the result set."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_fit, pq_topk)
    cbs = pq_fit(vectors, dim=16, m=4, n_codes=8, iters=2, seed=42)
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = pq_topk(vectors, queries, dim=16, codebooks=cbs, k=5).collect()
    assert len(got) == 5
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists)
    planted = [r for r in got if r.vec_id == 100]
    assert planted and planted[0].adc_dist == min(dists)


def test_pq_lut_paths_identical(spark, vectors):
    """Literal JVM and exact-Python Arrow LUT paths must agree bit-for-bit
    (the Arrow path deliberately uses sequential Python float arithmetic,
    not numpy, to preserve IEEE addition order)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        pq_luts, pq_pseudo_codebooks)
    cbs = pq_pseudo_codebooks(16, m=4, n_codes=8, seed=42)
    lit = {r.vec_id: r.l for r in vectors.select(
        "vec_id", pq_luts(F.col("embedding"), cbs, force="literal").alias("l")
    ).collect()}
    pnd = {r.vec_id: r.l for r in vectors.select(
        "vec_id", pq_luts(F.col("embedding"), cbs, force="pandas").alias("l")
    ).collect()}
    assert lit == pnd


def test_int8_quantize_roundtrip_and_edges(spark):
    """Quantize/dequantize reconstruction error bounded by scale/2 per
    element; all-zero, empty, and null vectors handled; determinism."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        int8_quantize)
    rows = [(1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
            (3, []),
            (4, None),
            (5, [100.0, -100.0, 3.3, 0.7])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: r for r in int8_quantize(df).collect()}
    assert got[1].q == [127, -64, 32, 0]          # 1.0/127 scale, round half-up
    assert abs(got[1].scale - 1.0 / 127) < 1e-12
    assert got[2].scale == 0.0 and got[2].q is None
    assert got[3].scale == 0.0 and got[3].q is None
    assert got[4].scale is None and got[4].q is None
    # reconstruction error <= scale/2 per element
    r5 = got[5]
    orig = rows[4][1]
    for q, x in zip(r5.q, orig):
        assert abs(q * r5.scale - x) <= r5.scale / 2 + 1e-12
        assert -127 <= q <= 127


def test_stratified_take_k_exact_and_nested(spark):
    """Exactly k per stratum; deterministic across invocations; the k=5
    selection is a PREFIX of the k=10 selection (rank stability)."""
    from climatemind_ontology_processing_spark.operators.sampling import (
        stratified_take_k)
    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    k10 = {(r.lang, r.doc_id) for r in
           stratified_take_k(df, "lang", 10, key="doc_id").collect()}
    from collections import Counter
    assert Counter(l for l, _ in k10) == {"en": 10, "de": 10}
    k5 = {(r.lang, r.doc_id) for r in
          stratified_take_k(df, "lang", 5, key="doc_id").collect()}
    assert k5 <= k10
    again = {(r.lang, r.doc_id) for r in
             stratified_take_k(df, "lang", 10, key="doc_id").collect()}
    assert again == k10
    with pytest.raises(ValueError):
        stratified_take_k(df, "lang", 0, key="doc_id")


def test_hll_sketch_accuracy_merge_invariance(spark):
    """HLL: ~2% error at p=9 on 10k distinct; linear counting on small
    range; partition-invariant; registers from disjoint shards MERGE by
    max to the whole-corpus sketch; in-plan == driver-side estimator."""
    from climatemind_ontology_processing_spark.operators.sketch import (
        hll_count_distinct, hll_estimate, hll_registers)
    df = spark.range(10000).select(
        F.concat(F.lit("item-"), F.col("id")).alias("v"))
    row = hll_count_distinct(df, "v", p=9).first()
    assert abs(row.estimate - 10000) / 10000 < 0.05
    assert hll_estimate(hll_registers(df, "v", p=9), p=9) == row.estimate
    assert hll_count_distinct(df.repartition(13), "v", p=9) \
        .first().estimate == row.estimate
    # small range -> linear counting, near-exact
    small = spark.range(40).select(
        F.concat(F.lit("x-"), F.col("id")).alias("v"))
    assert abs(hll_count_distinct(small, "v", p=9).first().estimate - 40) < 4
    # mergeability: shard registers union + re-max == whole-corpus sketch
    s1 = hll_registers(df.filter(F.col("v") < "item-5"), "v", p=9)
    s2 = hll_registers(df.filter(F.col("v") >= "item-5"), "v", p=9)
    merged = (s1.unionByName(s2).groupBy("register")
              .agg(F.max("max_rho").alias("max_rho")))
    assert hll_estimate(merged, p=9) == row.estimate
    # duplicates don't change the sketch
    dup = df.unionByName(df)
    assert hll_count_distinct(dup, "v", p=9).first().estimate == row.estimate
    with pytest.raises(ValueError):
        hll_count_distinct(df, "v", p=2)


def test_cms_upper_bound_and_merge(spark):
    """Count-min never underestimates; at low load it is exact; shard
    sketches merge by (row, bucket) sum."""
    from climatemind_ontology_processing_spark.operators.sketch import (
        cms_lookup, cms_table)
    data = ["a"] * 50 + ["b"] * 7 + ["c"] * 1
    df = spark.createDataFrame([(v,) for v in data], "v string")
    sk = cms_table(df, "v", depth=4, width=64)
    got = {r.item: r.est for r in
           cms_lookup(sk, ["a", "b", "c", "nope"], depth=4, width=64).collect()}
    assert got["a"] >= 50 and got["b"] >= 7 and got["c"] >= 1
    # low load (3 distinct in 64 buckets): exact with high probability,
    # and deterministic — pin the values
    assert got == {"a": 50, "b": 7, "c": 1, "nope": 0}
    # merge: two shards summed == whole (deterministic id-based split)
    idx = spark.createDataFrame(list(enumerate(data)), "i long, v string")
    s1 = cms_table(idx.filter(F.col("i") < 30), "v", depth=4, width=64)
    s2 = cms_table(idx.filter(F.col("i") >= 30), "v", depth=4, width=64)
    merged = (s1.unionByName(s2).groupBy("row", "bucket")
              .agg(F.sum("cnt").alias("cnt")))
    m = {r.item: r.est for r in
         cms_lookup(merged, ["a", "b", "c"], depth=4, width=64).collect()}
    assert m == {"a": 50, "b": 7, "c": 1}
    with pytest.raises(ValueError):
        cms_lookup(sk, [])


def test_bloom_no_false_negatives_and_merge(spark):
    """Every inserted item probes present; shard bit-sets merge by union;
    absent probes are deterministic."""
    from climatemind_ontology_processing_spark.operators.sketch import (
        bloom_bits, bloom_contains)
    items = [f"key-{i}" for i in range(200)]
    df = spark.createDataFrame([(v,) for v in items], "v string")
    bits = bloom_bits(df, "v", k=5, m_bits=4096)
    got = {r.item: r.maybe_present for r in
           bloom_contains(bits, items[:20] + ["absent-x"], k=5,
                          m_bits=4096).collect()}
    assert all(got[i] for i in items[:20])       # no false negatives, ever
    # merged shards == whole corpus filter
    b1 = bloom_bits(df.limit(100), "v", k=5, m_bits=4096)
    b2 = bloom_bits(df.exceptAll(df.limit(100)), "v", k=5, m_bits=4096)
    merged = b1.unionByName(b2).distinct()
    got2 = {r.item: r.maybe_present for r in
            bloom_contains(merged, items[:20], k=5, m_bits=4096).collect()}
    assert all(got2.values())
    assert merged.count() == bits.count()


def test_ivfpq_topk_composition(spark, vectors):
    """IVF+PQ composed path: the planted identical vector is recovered at
    rank 1 (same cell, zero ADC gap to itself-coded twin); every candidate
    comes from the query's probed cells (subset of ivf_topk's candidate
    universe); micro and float scoring agree on ranks."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivf_assign, ivfpq_topk, pq_fit)
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    cbs = pq_fit(vectors, dim=16, m=4, n_codes=8, iters=2, seed=42)
    got = ivfpq_topk(vectors, queries, dim=16, k=5, n_cells=4, n_probe=2,
                     m=4, n_codes=8, codebooks=cbs).collect()
    # the identical twin shares the query's codes, so its ADC distance is
    # exactly the query's own quantization error — the minimum any
    # candidate can achieve under asymmetric scoring -> rank 1
    assert got and got[0].vec_id == 100
    assert got[0].adc_dist <= min(r.adc_dist for r in got[1:])
    # candidates never leave the n_probe=2 probed cells
    cells = {r.vec_id: r.cell for r in ivf_assign(vectors, dim=16,
                                                  n_cells=4).collect()}
    assert len({cells[r.vec_id] for r in got}) <= 2
    assert cells[0] in {cells[r.vec_id] for r in got}  # own cell probed
    micro = ivfpq_topk(vectors, queries, dim=16, k=5, n_cells=4, n_probe=2,
                       m=4, n_codes=8, codebooks=cbs, micro=True).collect()
    assert [r.vec_id for r in micro] == [r.vec_id for r in got]
    # per-term micro rounding vs sum-then-round: off by at most m ulps
    assert abs(micro[0].adc_micro - round(got[0].adc_dist * 1e6)) <= 4


def test_ivfpq_residual_mode(spark, vectors):
    """Authentic IVFADC: codebooks fit on residuals (ivfpq_residuals +
    pq_fit), corpus codes quantize v - centroid[cell], per-probed-cell
    query LUTs.  The identical twin is rank 1, micro/float ranks agree,
    and the residual fit reduces the mean quantization error vs fitting
    the same-size codebooks on raw vectors (the reason IVFADC encodes
    residuals at all)."""
    from climatemind_ontology_processing_spark.operators.similarity import (
        ivfpq_residuals, ivfpq_topk, kmeans_fit, pq_fit, pq_objective)
    cents = kmeans_fit(vectors, dim=16, n_cells=4, iters=2, seed=42)
    res_df = ivfpq_residuals(vectors, dim=16, centroids=cents)
    cbs_res = pq_fit(res_df, dim=16, m=4, n_codes=8, iters=2, seed=42)
    queries = vectors.filter(F.col("vec_id") == 0) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    got = ivfpq_topk(vectors, queries, dim=16, k=5, n_cells=4, n_probe=2,
                     m=4, n_codes=8, centroids=cents, codebooks=cbs_res,
                     residual=True).collect()
    assert got and got[0].vec_id == 100
    micro = ivfpq_topk(vectors, queries, dim=16, k=5, n_cells=4, n_probe=2,
                       m=4, n_codes=8, centroids=cents, codebooks=cbs_res,
                       residual=True, micro=True).collect()
    assert [r.vec_id for r in micro] == [r.vec_id for r in got]
    # residual codebooks quantize residuals better than raw-fit codebooks
    cbs_raw = pq_fit(vectors, dim=16, m=4, n_codes=8, iters=2, seed=42)
    err_res = pq_objective(res_df, cbs_res)
    err_raw = pq_objective(res_df, cbs_raw)
    assert err_res <= err_raw
