"""Streaming operators, incremental LSH probing, curation runs, is_a
class-edge emission and entity-link scoring."""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from climatemind_ontology_processing_spark.functions.triples import (
    extract_from_text)
from climatemind_ontology_processing_spark.sources.dictionary import (
    alias_map, class_edges, concepts_df)


def test_class_edges(spark):
    concepts = concepts_df(spark)
    ce = class_edges(concepts)
    rows = {(r.subj, r.pred, r.obj) for r in ce.collect()}
    assert all(p == "is_a" for _, p, _ in rows)
    # every concept with classes contributes; "risk" is a known class label
    assert any(s == "risk" for s, _, _ in rows)
    n_concepts = concepts.filter(F.size("all_classes") > 0).count()
    assert len({o for _, _, o in rows}) == n_concepts


def test_link_scoring():
    aliases = alias_map()
    # exact canonical labels -> score 1.0
    t = extract_from_text("increase in greenhouse effect causes decrease in GDP.",
                          aliases)
    assert t and t[0][3] == 1.0
    # alias variant ("rising ...") -> discounted
    t2 = extract_from_text("rising greenhouse effect causes decrease in GDP.",
                           aliases)
    assert t2 and t2[0][0] == "increase in greenhouse effect" and t2[0][3] == 0.9


def test_lsh_probe_marker_validation(spark):
    """A persisted bucket table built with one hash family must refuse a
    probe with another (the join would match nothing and silently report
    zero near-dups), and a partial marker set is rejected too."""
    from climatemind_ontology_processing_spark.streaming.dedup import (
        _doc_lsh_buckets, probe_lsh_buckets)
    docs = spark.createDataFrame(
        [(1, "some text body here for shingling purposes right now")],
        "doc_id long, text string")
    loaded = (_doc_lsh_buckets(docs, "doc_id", "text", 3, 32, 8, "md5_60")
              .withColumn("hash_family", F.lit("md5_60"))
              .withColumn("shingle_n", F.lit(3))
              .withColumn("num_hashes", F.lit(32))
              .withColumn("bands", F.lit(8)))
    with pytest.raises(ValueError, match="match nothing"):
        probe_lsh_buckets(docs, loaded, hash_family="xxhash64")
    with pytest.raises(ValueError, match="match nothing"):
        probe_lsh_buckets(docs, loaded, hash_family="md5_60", bands=4)
    ok = probe_lsh_buckets(docs, loaded, hash_family="md5_60",
                           max_bucket_size=None)
    assert ok.count() == 0  # self pairs excluded (doc != doc)
    with pytest.raises(ValueError, match="partial marker"):
        probe_lsh_buckets(docs, loaded.drop("bands"), hash_family="md5_60")


def test_windowed_counts_stream_equals_batch(spark, tmp_path):
    """Sliding-window counts: the streaming run (two micro-batches, one
    late-but-in-watermark event) must equal the batch computation over the
    union of all delivered events — the equivalence that makes the stream
    a drop-in for incremental batch re-runs."""
    import datetime as dt

    from climatemind_ontology_processing_spark.streaming.windows import (
        windowed_counts)

    def t(minute):
        return dt.datetime(2026, 1, 1, 12, minute)

    src = str(tmp_path / "wc_in")
    out = str(tmp_path / "wc_out")
    ckpt = str(tmp_path / "wc_ckpt")
    schema = "user_id long, ts timestamp, kind string"

    batch1 = [(1, t(0), "a"), (2, t(4), "a"), (1, t(12), "b")]
    batch2 = [(3, t(21), "a"),
              (2, t(7), "b")]       # late, within the 1h watermark

    def run_stream():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (windowed_counts(stream, window="10 minutes", slide="5 minutes",
                             watermark="1 hour", key_col="kind")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    spark.createDataFrame(batch1, schema).write.mode("append").parquet(src)
    run_stream()
    spark.createDataFrame(batch2, schema).write.mode("append").parquet(src)
    # a far-future event pushes the watermark past every earlier window so
    # append mode finalizes them
    spark.createDataFrame([(9, t(0) + dt.timedelta(hours=6), "z")], schema) \
        .write.mode("append").parquet(src)
    run_stream()

    all_events = spark.createDataFrame(
        batch1 + batch2 + [(9, t(0) + dt.timedelta(hours=6), "z")], schema)
    want = {(r.window_start, r.window_end, r.kind, r.n_events)
            for r in windowed_counts(all_events, window="10 minutes",
                                     slide="5 minutes",
                                     key_col="kind").collect()}
    got = {(r.window_start, r.window_end, r.kind, r.n_events)
           for r in spark.read.parquet(out).collect()}
    # every finalized streamed window must match the batch answer exactly;
    # the only admissible difference is the tail windows the watermark has
    # not yet closed (the future 'z' event's own windows)
    unfinalized = want - got
    assert got <= want
    assert all(k == "z" for _, _, k, _ in unfinalized), unfinalized
    # the late event landed in its true windows: [12:00,12:10) alone (n=1)
    # and [12:05,12:15) together with the 12:12 'b' event (n=2)
    late_windows = {(ws.minute, we.minute): n for ws, we, k, n in got
                    if k == "b" and ws <= t(7) < we}
    assert late_windows == {(0, 10): 1, (5, 15): 2}


def test_attribution_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream watermarked join == batch join on the union of all
    deliveries, including a right-side event arriving in a later
    micro-batch than its matching left row."""
    import datetime as dt

    from climatemind_ontology_processing_spark.streaming.joins import (
        attribution_join)

    def t(minute):
        return dt.datetime(2026, 3, 1, 9, minute)

    lsrc = str(tmp_path / "aj_l")
    rsrc = str(tmp_path / "aj_r")
    out = str(tmp_path / "aj_out")
    ckpt = str(tmp_path / "aj_ckpt")
    lschema = "user_id long, ts timestamp, click string"
    rschema = "user_id long, ts timestamp, purchase string"

    l1 = [(1, t(0), "c1"), (2, t(5), "c2"), (1, t(50), "c3")]
    r1 = [(1, t(10), "p1")]                      # matches c1 (within 30m)
    r2 = [(2, t(20), "p2"),                      # matches c2, LATE batch
          (1, t(55), "p3"),                      # matches c3
          (3, t(30), "p4")]                      # no click -> no match

    def run():
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        q = (attribution_join(ls, rs, horizon="30 minutes",
                              watermark="2 hours")
             .writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    spark.createDataFrame(l1, lschema).write.mode("append").parquet(lsrc)
    spark.createDataFrame(r1, rschema).write.mode("append").parquet(rsrc)
    run()
    spark.createDataFrame(r2, rschema).write.mode("append").parquet(rsrc)
    run()

    batch = attribution_join(
        spark.createDataFrame(l1, lschema),
        spark.createDataFrame(r1 + r2, rschema), horizon="30 minutes")
    want = {(r.user_id, r.l_click, r.r_purchase) for r in batch.collect()}
    got = {(r.user_id, r.l_click, r.r_purchase)
           for r in spark.read.parquet(out).collect()}
    assert got == want
    assert (1, "c1", "p1") in got and (2, "c2", "p2") in got
    assert (1, "c3", "p3") in got
    assert not any(u == 3 for u, _, _ in got)


def test_curation_pipeline_stage_resume(spark, tmp_path):
    """plans/curate.run_curation: full recipe over a corpus with planted
    boilerplate paragraphs, PII, exact dups, near dups, and junk docs;
    a rerun with the same run_id skips every completed stage; killing a
    mid-pipeline stage's lineage (crash simulation) reruns ONLY from that
    stage; final outputs identical either way."""
    from climatemind_ontology_processing_spark.plans.curate import (
        STAGES, run_curation)
    boiler = "subscribe to our newsletter today"
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the green forest where it finds food and the "
            "other animals watch it with great interest for a while")

    def body(i):
        # shared English-markered base (for language id) + 12 doc-unique
        # tokens so distinct docs sit well BELOW the near-dup threshold
        uniq = " ".join(f"tok{i}x{j}" for j in range(12))
        return f"{base} {uniq}"

    rows = [(i, f"{body(i)}\n{boiler}") for i in range(8)]
    rows += [(100, f"{body(3)}\n{boiler}"),            # exact dup of 3
             (101, f"{body(4)} extra\n{boiler}"),      # near-dup of 4
             (102, "short junk"),                      # quality fail
             (103, "der die das und ist nicht mit ein zu den "
                   "der die das und ist nicht mit ein zu den "
                   "der die das und ist nicht mit ein zu den")]  # german
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = str(tmp_path / "c1")
    rep1 = run_curation(spark, docs, out1, "r1", max_para_df=4,
                        near_threshold=0.7)
    assert rep1.ran == list(STAGES) and not rep1.skipped
    cleaned = {r.doc_id: r.text
               for r in spark.read.parquet(f"{out1}/quality").collect()}
    assert boiler not in " ".join(cleaned.values())   # paragraphs stage
    assert 100 not in cleaned                         # exact stage (101 near)
    assert 101 not in cleaned                         # near stage
    assert 102 not in cleaned and 103 not in cleaned  # quality stage
    assert set(cleaned) == set(range(8))
    spans1 = {(r.doc_id, r.start_offset) for r in
              spark.read.parquet(f"{out1}/pack").collect()}
    assert {d for d, _ in spans1} == set(range(8))

    # full rerun: everything skipped, outputs unchanged
    rep2 = run_curation(spark, docs, out1, "r1", max_para_df=4,
                        near_threshold=0.7)
    assert rep2.skipped == list(STAGES) and not rep2.ran
    assert {(r.doc_id, r.start_offset) for r in
            spark.read.parquet(f"{out1}/pack").collect()} == spans1

    # crash simulation: drop the 'near' stage's output dir -> rerun must
    # redo near and every later stage, but skip the first three
    import shutil
    shutil.rmtree(f"{out1}/near")
    rep3 = run_curation(spark, docs, out1, "r1", max_para_df=4,
                        near_threshold=0.7)
    assert rep3.skipped == ["paragraphs", "pii", "exact"]
    assert rep3.ran == ["near", "quality", "pack"]
    assert {(r.doc_id, r.start_offset) for r in
            spark.read.parquet(f"{out1}/pack").collect()} == spans1


def test_curate_increment_equals_full_run(spark, tmp_path):
    """Incremental curation vs one big batch run: with monotone doc ids,
    curate_increment's curated text AND packed spans must equal the full
    run_curation over base+increment, RESTRICTED to the increment's
    documents — across every cross-corpus stage (paragraph census merge,
    exact-fp anti-join, LSH probe + jaccard verify, packed-offset
    continuation)."""
    from climatemind_ontology_processing_spark.plans.curate import (
        curate_increment, run_curation)
    boiler = "shared cookie banner appears on every page"
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the green forest where it finds food and the "
            "other animals watch it with great interest for a while")

    def body(i):
        uniq = " ".join(f"tok{i}x{j}" for j in range(12))
        return f"{base} {uniq}"

    schema = "doc_id long, text string"
    # base corpus: ids 0-9 (boilerplate para df=10 > cap 6 in base alone)
    base_rows = [(i, f"{body(i)}\n{boiler}") for i in range(10)]
    # increment: ids 100+ — planted cross-corpus exact dup (of 3), near
    # dup (of 4), boilerplate carrier, plus clean docs
    inc_rows = [(100, f"{body(100)}\n{boiler}"),          # clean + boiler
                (101, f"{body(3)}\n{boiler}"),             # exact dup of 3
                (102, f"{body(4)} extra\n{boiler}"),       # near dup of 4
                (103, f"{body(103)}\n{boiler}"),           # clean
                (104, "short junk")]                       # quality fail
    base_docs = spark.createDataFrame(base_rows, schema)
    inc_docs = spark.createDataFrame(inc_rows, schema)
    all_docs = spark.createDataFrame(base_rows + inc_rows, schema)

    kw = dict(max_para_df=6, near_threshold=0.7)
    full_out = str(tmp_path / "full")
    run_curation(spark, all_docs, full_out, "rf", **kw)
    base_out = str(tmp_path / "base")
    run_curation(spark, base_docs, base_out, "rb", **kw)
    rep = curate_increment(spark, inc_docs, base_out, "inc1", **kw)
    assert rep.ran and not rep.skipped

    full_q = {r.doc_id: r.text for r in
              spark.read.parquet(f"{full_out}/quality").collect()
              if r.doc_id >= 100}
    inc_q = {r.doc_id: r.text for r in
             spark.read.parquet(f"{base_out}/inc/inc1/quality").collect()}
    assert inc_q == full_q            # 100, 103 survive; 101/102/104 die
    assert set(inc_q) == {100, 103}
    assert all(boiler not in t for t in inc_q.values())

    full_spans = {(r.doc_id, r.start_offset, r.first_seq, r.last_seq,
                   r.n_seqs)
                  for r in spark.read.parquet(f"{full_out}/pack").collect()
                  if r.doc_id >= 100}
    inc_spans = {(r.doc_id, r.start_offset, r.first_seq, r.last_seq,
                  r.n_seqs)
                 for r in spark.read.parquet(
                     f"{base_out}/inc/inc1/pack").collect()}
    assert inc_spans == full_spans    # offsets continue the base stream

    # monotonicity guard fires loudly
    import pytest as _pt
    with _pt.raises(ValueError, match="monotonically"):
        curate_increment(spark, base_docs, base_out, "bad", **kw)

    # increment resume: rerun skips every stage
    rep2 = curate_increment(spark, inc_docs, base_out, "inc1", **kw)
    assert rep2.skipped == list(rep.ran) and not rep2.ran


def test_curate_stream_rolls_state_across_batches(spark, tmp_path):
    """Streaming curation: micro-batch k+1 must dedup against base AND
    batches 1..k through the rolled state — an exact dup and a near dup
    of BATCH-1 docs arriving in batch 2 are dropped, boilerplate dfs
    accumulate across epochs, and batch 2's packed offsets continue after
    base + batch 1."""
    from climatemind_ontology_processing_spark.plans.curate import (
        curate_stream, run_curation)
    boiler = "shared cookie banner appears on every page"
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "fox runs into the green forest where it finds food and the "
            "other animals watch it with great interest for a while")

    def body(i):
        uniq = " ".join(f"tok{i}x{j}" for j in range(12))
        return f"{base} {uniq}"

    schema = "doc_id long, text string"
    base_docs = spark.createDataFrame(
        [(i, f"{body(i)}\n{boiler}") for i in range(10)], schema)
    base_out = str(tmp_path / "sbase")
    kw = dict(max_para_df=6, near_threshold=0.7)
    run_curation(spark, base_docs, base_out, "rb", **kw)

    batch1 = [(100, f"{body(100)}\n{boiler}"),
              (101, f"{body(101)}\n{boiler}")]
    batch2 = [(200, f"{body(100)}\n{boiler}"),       # exact dup of 100
              (201, f"{body(101)} extra\n{boiler}"), # near dup of 101
              (202, f"{body(202)}\n{boiler}")]       # clean
    src = str(tmp_path / "s_in")
    ckpt = str(tmp_path / "s_ckpt")
    spark.createDataFrame(batch1, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(batch2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    q = curate_stream(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(src), base_out, ckpt, **kw)
    q.awaitTermination(300)

    q1 = {r.doc_id: r.text for r in
          spark.read.parquet(f"{base_out}/inc/b000000/quality").collect()}
    q2 = {r.doc_id: r.text for r in
          spark.read.parquet(f"{base_out}/inc/b000001/quality").collect()}
    assert set(q1) == {100, 101}
    assert set(q2) == {202}, q2          # 200/201 die via ROLLED state
    assert all(boiler not in t for t in {**q1, **q2}.values())

    # batch 2's stream offset continues after base + batch 1
    import pyspark.sql.functions as SF
    def tot(path):
        df = spark.read.parquet(path)
        return df.agg((SF.sum("n_tokens") + SF.count("*"))).first()[0] or 0
    base_t = tot(f"{base_out}/pack")
    b1_t = tot(f"{base_out}/inc/b000000/pack")
    b2 = spark.read.parquet(f"{base_out}/inc/b000001/pack").collect()
    assert min(r.start_offset for r in b2) == base_t + b1_t


def test_curate_increment_rolls_exact_fp_from_exact_stage(spark, tmp_path):
    """Round-4 advice (medium): the rolled exact-fp epoch must come from the
    EXACT stage's output, not the near stage's.  A doc in increment 2 that
    exactly copies an increment-1 NEAR-stage loser must die at increment 2's
    exact stage (a full run would drop it there — exact identity outranks
    near survival); rolling fps from near_out let it through."""
    from climatemind_ontology_processing_spark.plans.curate import (
        curate_increment, run_curation)
    base_sent = ("the quick brown fox jumps over the lazy dog and then the "
                 "fox runs into the green forest where it finds food and "
                 "the other animals watch it with great interest for a while")

    def body(i):
        uniq = " ".join(f"tok{i}x{j}" for j in range(12))
        return f"{base_sent} {uniq}"

    schema = "doc_id long, text string"
    base_docs = spark.createDataFrame(
        [(i, body(i)) for i in range(10)], schema)
    kw = dict(max_para_df=50, near_threshold=0.7)
    base_out = str(tmp_path / "roll_base")
    run_curation(spark, base_docs, base_out, "rb", **kw)

    # increment 1: 101 is a near-dup of 100 -> dropped at inc1's near stage
    inc1 = spark.createDataFrame(
        [(100, body(100)), (101, f"{body(100)} extra")], schema)
    curate_increment(spark, inc1, base_out, "i1", roll_state=True, **kw)
    near1 = {r.doc_id for r in
             spark.read.parquet(f"{base_out}/inc/i1/near").collect()}
    assert near1 == {100}, "precondition: 101 must lose at inc1's near stage"

    # increment 2: 200 exactly copies the near-loser 101's text
    inc2 = spark.createDataFrame([(200, f"{body(100)} extra"),
                                  (201, body(201))], schema)
    curate_increment(spark, inc2, base_out, "i2", roll_state=True, **kw)
    exact2 = {r.doc_id for r in
              spark.read.parquet(f"{base_out}/inc/i2/exact").collect()}
    assert 200 not in exact2, \
        "exact copy of a rolled near-loser must die at the EXACT stage"
    assert 201 in exact2
    final2 = {r.doc_id for r in
              spark.read.parquet(f"{base_out}/inc/i2/quality").collect()}
    assert final2 == {201}

    # lsh_params are threaded AND marker-validated: a mismatched probe
    # against this base's persisted bucket table raises loudly
    inc3 = spark.createDataFrame([(300, body(300))], schema)
    with pytest.raises(ValueError, match="match nothing"):
        curate_increment(spark, inc3, base_out, "i3",
                         lsh_params={"bands": 16, "num_hashes": 64}, **kw)


def test_curation_stage_resume_rejects_uncommitted_output(spark, tmp_path):
    """Round-4 verdict "what's wrong #1": a stage dir that is READABLE but
    uncommitted (no _SUCCESS — crash mid-write) must be recomputed, not
    reused; the old try/except-around-read would have resumed from it."""
    import os

    from climatemind_ontology_processing_spark.plans.curate import (
        STAGES, run_curation)
    docs = spark.createDataFrame(
        [(i, "the quick brown fox is here and it is fine now really "
             + " ".join(f"w{i}x{j}" for j in range(8))) for i in range(6)],
        "doc_id long, text string")
    out = str(tmp_path / "uc")
    run_curation(spark, docs, out, "r1", max_para_df=50)
    os.remove(f"{out}/near/_SUCCESS")          # half-written simulation
    rep = run_curation(spark, docs, out, "r1", max_para_df=50)
    assert rep.skipped == ["paragraphs", "pii", "exact"]
    assert rep.ran == ["near", "quality", "pack"]


def test_curation_funnel_deterministic_after_rerun(spark, tmp_path):
    """Round-4 advice (low): a stage rerun appends a second lineage row per
    (run_id, stage, bucket); the funnel must keep only the LATEST row, so
    counts stay deterministic instead of lag-ing against a stale twin."""
    import shutil

    from climatemind_ontology_processing_spark.plans.curate import (
        STAGES, curation_funnel, run_curation)
    docs = spark.createDataFrame(
        [(i, "the quick brown fox is here and it is fine now really "
             + " ".join(f"w{i}x{j}" for j in range(8))) for i in range(6)],
        "doc_id long, text string")
    out = str(tmp_path / "fr")
    run_curation(spark, docs, out, "r1", max_para_df=50)
    want = [(r.stage, r.n_rows, r.n_dropped)
            for r in curation_funnel(spark, out).collect()]
    shutil.rmtree(f"{out}/near")               # crash -> near/quality/pack rerun
    run_curation(spark, docs, out, "r1", max_para_df=50)
    got = curation_funnel(spark, out).collect()
    assert len(got) == len(STAGES), "one funnel row per stage, not per attempt"
    assert [(r.stage, r.n_rows, r.n_dropped) for r in got] == want


def test_curation_funnel_view(spark, tmp_path):
    """curation_funnel reads the lineage into the per-stage drop funnel in
    pipeline order, with drop counts between consecutive stages."""
    from climatemind_ontology_processing_spark.plans.curate import (
        STAGES, curation_funnel, run_curation)
    docs = spark.createDataFrame(
        [(i, "the quick brown fox is here and it is fine now really "
             + " ".join(f"w{i}x{j}" for j in range(6))) for i in range(6)]
        + [(100, "dup target")] * 1, "doc_id long, text string")
    out = str(tmp_path / "fn")
    run_curation(spark, docs, out, "r1", max_para_df=50)
    got = curation_funnel(spark, out).collect()
    assert [r.stage for r in got] == list(STAGES)
    assert got[0].n_dropped == 0
    assert got[-2].stage == "quality" and got[-2].n_dropped >= 1  # junk dies
    assert all(r.drop_pct >= 0 for r in got)


def test_current_facts_latest_wins_and_ties(spark):
    from datetime import datetime as dt
    from climatemind_ontology_processing_spark.operators.temporal import (
        current_facts)
    rows = [
        # churned fact: later ts wins
        ("e1", "lives_in", "paris", dt(2024, 1, 1), 1),
        ("e1", "lives_in", "berlin", dt(2024, 3, 1), 2),
        # exact-ts tie: higher tie_col wins
        ("e2", "lives_in", "rome", dt(2024, 1, 1), 5),
        ("e2", "lives_in", "oslo", dt(2024, 1, 1), 9),
        # exact-(ts, tie) tie: obj-ascending wins
        ("e3", "works_at", "zeta", dt(2024, 2, 2), 7),
        ("e3", "works_at", "alpha", dt(2024, 2, 2), 7),
        # stable fact, repeated assertion of the same value
        ("e1", "born_in", "lyon", dt(2024, 1, 1), 1),
        ("e1", "born_in", "lyon", dt(2024, 2, 1), 2),
    ]
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, ts timestamp, w int")
    got = {(r.subj, r.pred): (r.obj, r.n_versions, r.n_values)
           for r in current_facts(df, tie_col="w").collect()}
    assert got == {
        ("e1", "lives_in"): ("berlin", 2, 2),
        ("e2", "lives_in"): ("oslo", 2, 2),
        ("e3", "works_at"): ("alpha", 2, 2),
        ("e1", "born_in"): ("lyon", 2, 1),
    }
    # without tie_col the obj-ascending break still makes it deterministic
    got2 = {(r.subj, r.pred): r.obj for r in current_facts(df).collect()}
    assert got2[("e2", "lives_in")] == "oslo"  # same ts: 'oslo' < 'rome'
