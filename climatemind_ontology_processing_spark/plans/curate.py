"""End-to-end corpus curation — the LLM-training-data production pipeline.

`bin/run_pipeline.py` is the KG-construction entry point; this is its
corpus-curation sibling, composing the oracled operators into the standard
cleaning recipe (C4 / MassiveText / CCNet lineage):

  1. ``paragraphs``  — cross-corpus boilerplate paragraph removal
                       (``dedup.paragraph_dedup``, drop mode)
  2. ``pii``         — e-mail / IPv4 / phone scrubbing (``functions.pii``)
  3. ``exact``       — exact document dedup (``dedup.dedup_exact``)
  4. ``near``        — MinHash-LSH near-dup removal: of every verified
                       near-dup pair, the LOWER doc_id survives
                       (``dedup.near_dup_pairs`` + anti-join)
  5. ``quality``     — language id + heuristic quality gate
                       (``textstats``; keeps lang in ``langs`` with
                       quality_score >= ``min_quality``)
  6. ``pack``        — token counts + training-sequence placement
                       (``packing.packed_spans``)

STAGE-LEVEL RESUME: corpus-global stages (dedup, census) cannot resume
per-bucket the way the KG extraction does (``plans/lineage.run_bucketed``)
— a near-dup pair crosses any bucketing of the corpus.  Instead every
stage persists its full output parquet under ``<out>/<stage>/`` and
appends a lineage row; a rerun with the same ``run_id`` skips stages
whose lineage row exists and whose output parquet is readable, resuming
AFTER the last completed stage.  Ordering of stages is part of the
contract (scrub before dedup would split exact-dup groups that differ
only in redacted PII — deliberately: post-scrub equality IS the right
identity for training data).
"""
from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.traversal import _checkpoint
from .lineage import append_lineage_rows, completed_buckets

STAGES = ("paragraphs", "pii", "exact", "near", "quality", "pack")

# LSH build parameters for the persisted near-dup state (marker-validated
# at probe time).  A base run and every increment probing its state must
# agree on these — thread them through run_curation / curate_increment /
# curate_stream together, never change one side alone.
_DEFAULT_LSH = {"shingle_n": 3, "num_hashes": 32, "bands": 8,
                "hash_family": "xxhash64"}


def _stage_output_ready(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` is a COMMITTED parquet dir: exists and carries the
    ``_SUCCESS`` marker.  A partially-written-but-readable dir (crash mid
    write) must NOT be resumed from — the Hadoop-FS existence check replaces
    the old try/except-around-read (which would have reused it silently)."""
    from .lineage import _hadoop_fs
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath) and fs.exists(hpath.suffix("/_SUCCESS")))


@dataclass
class CurationReport:
    ran: list = field(default_factory=list)
    skipped: list = field(default_factory=list)
    counts: dict = field(default_factory=dict)


def _stage_transforms(min_quality: float, langs: tuple[str, ...],
                      seq_len: int, max_para_df: int, near_threshold: float,
                      lsh: dict | None = None,
                      near_max_bucket_size: int | None = 1000):
    lsh = dict(_DEFAULT_LSH, **(lsh or {}))
    from ..functions.pii import scrub_pii_docs
    from ..operators.dedup import (dedup_exact, near_dup_pairs,
                                   paragraph_dedup)
    from ..operators.packing import packed_spans
    from ..operators.textstats import (bpe_ish_token_count, language_id,
                                       quality_features)

    def s_paragraphs(docs: DataFrame) -> DataFrame:
        cleaned = paragraph_dedup(docs, max_para_df=max_para_df)
        return (docs.drop("text")
                .join(cleaned.select("doc_id", "text"), "doc_id"))

    def s_pii(docs: DataFrame) -> DataFrame:
        return scrub_pii_docs(docs).drop("n_emails", "n_ips", "n_phones")

    def s_exact(docs: DataFrame) -> DataFrame:
        return dedup_exact(docs)

    def s_near(docs: DataFrame) -> DataFrame:
        losers = (near_dup_pairs(docs, n=lsh["shingle_n"],
                                 threshold=near_threshold,
                                 num_hashes=lsh["num_hashes"],
                                 bands=lsh["bands"],
                                 hash_family=lsh["hash_family"],
                                 exact_dedup_first=False,
                                 max_bucket_size=near_max_bucket_size)
                  .select(F.col("b").alias("doc_id")).distinct())
        return docs.join(losers, "doc_id", "left_anti")

    def s_quality(docs: DataFrame) -> DataFrame:
        scored = quality_features(docs).select("doc_id", "q_score")
        lang = docs.withColumn("_lang", language_id(F.col("text")))
        return (lang.join(scored, "doc_id")
                .filter(F.col("_lang").isin(*langs) &
                        (F.col("q_score") >= min_quality))
                .drop("_lang", "q_score"))

    def s_pack(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            "doc_id", bpe_ish_token_count(F.col("text")).alias("n_tokens"))
        return packed_spans(toks, seq_len=seq_len)

    return {"paragraphs": s_paragraphs, "pii": s_pii, "exact": s_exact,
            "near": s_near, "quality": s_quality, "pack": s_pack}


def run_curation(spark: SparkSession, docs: DataFrame, out_path: str,
                 run_id: str, lineage_path: str | None = None,
                 min_quality: float = 0.3,
                 langs: tuple[str, ...] = ("en",),
                 seq_len: int = 2048, max_para_df: int = 100,
                 near_threshold: float = 0.8,
                 lsh_params: dict | None = None,
                 near_max_bucket_size: int | None = 1000) -> CurationReport:
    """Run (or resume) the curation pipeline; returns which stages ran vs
    were skipped, with per-stage output row counts.  ``docs`` needs
    (doc_id, text[, ...]); extra columns ride along untouched until the
    ``pack`` stage, whose output is the (doc_id, n_tokens, spans) table.

    ``lsh_params`` (keys of ``_DEFAULT_LSH``) configures the near stage's
    MinHash-LSH AND the persisted bucket-table state — increments probing
    this base must pass the same dict (markers enforce it loudly)."""
    lineage_path = lineage_path or f"{out_path}/_lineage"
    lsh = dict(_DEFAULT_LSH, **(lsh_params or {}))
    transforms = _stage_transforms(min_quality, langs, seq_len,
                                   max_para_df, near_threshold, lsh,
                                   near_max_bucket_size)
    report = CurationReport()
    # stage index doubles as the lineage "bucket" so completed_buckets'
    # (run_id, stage, bucket) contract is reused verbatim
    cur = docs
    upstream_reran = False
    for i, stage in enumerate(STAGES):
        stage_out = f"{out_path}/{stage}"
        done = completed_buckets(spark, lineage_path, run_id, stage)
        # a stage may be skipped ONLY while every upstream stage was also
        # skipped — once anything reruns, later cached outputs are stale.
        # The output must be COMMITTED (_SUCCESS), not merely readable: a
        # lineage row with a half-written dir means rerun.
        if i in done and not upstream_reran and \
                _stage_output_ready(spark, stage_out):
            cur = spark.read.parquet(stage_out)
            report.skipped.append(stage)
            continue
        upstream_reran = True
        stage_input = cur
        cur = transforms[stage](cur)
        cur.write.mode("overwrite").parquet(stage_out)
        cur = spark.read.parquet(stage_out)
        n = cur.count()
        _persist_stage_state(spark, out_path, stage, stage_input, cur,
                             max_para_df, lsh=lsh)
        report.ran.append(stage)
        report.counts[stage] = n
        append_lineage_rows(spark, lineage_path, [
            {"run_id": run_id, "stage": stage, "bucket": i,
             "n_pages": n, "n_triples": 0}])
    return report


def _write_state_partition(df: DataFrame, path: str) -> None:
    """Idempotent state contribution: partitioned by ``_inc`` with dynamic
    overwrite, so a replayed writer (stage rerun, foreachBatch retry)
    overwrites ITS OWN partition and never duplicates or clobbers other
    epochs' rows."""
    (df.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_inc").parquet(path))


def _persist_stage_state(spark: SparkSession, out_path: str, stage: str,
                         stage_input: DataFrame, stage_output: DataFrame,
                         max_para_df: int, lsh: dict | None = None,
                         writer_id: str = "base") -> None:
    """Persist the per-stage state later INCREMENTS probe (see
    ``curate_increment``): the raw-input paragraph census, the surviving
    exact fingerprints, and the surviving-doc LSH bucket table — each a
    parquet dir PARTITIONED BY the writing epoch (``_inc=base`` for the
    batch run, ``_inc=<inc_id>`` for rolled increments), dynamically
    overwritten so every writer is idempotent.  Written with the stage,
    so stage-resume keeps state consistent with outputs."""
    from ..operators.dedup import paragraph_census
    from ..streaming.dedup import _doc_lsh_buckets
    lsh = dict(_DEFAULT_LSH, **(lsh or {}))
    state = f"{out_path}/state"
    tag = F.lit(writer_id).alias("_inc")
    if stage == "paragraphs":
        _write_state_partition(paragraph_census(stage_input).select("*", tag),
                               f"{state}/paragraph_census")
    elif stage == "exact":
        _write_state_partition(
            stage_output.select(
                F.xxhash64("text").alias("_f1"),
                F.xxhash64(F.lit("dedup-seed-2"), F.col("text"))
                 .alias("_f2"), tag),
            f"{state}/exact_fp")
    elif stage == "near":
        b = _doc_lsh_buckets(stage_output, "doc_id", "text",
                             lsh["shingle_n"], lsh["num_hashes"],
                             lsh["bands"], lsh["hash_family"])
        _write_state_partition(
            b.withColumn("hash_family", F.lit(lsh["hash_family"]))
             .withColumn("shingle_n", F.lit(lsh["shingle_n"]))
             .withColumn("num_hashes", F.lit(lsh["num_hashes"]))
             .withColumn("bands", F.lit(lsh["bands"]))
             .select("*", tag),
            f"{state}/lsh_buckets")


def _read_state(spark: SparkSession, base_out: str):
    """(census, exact_fp, buckets) merged across every epoch partition —
    the census re-aggregates (dfs are additive across disjoint epochs)."""
    from .lineage import _hadoop_fs
    state = f"{base_out}/state"
    fs, hpath = _hadoop_fs(spark, state)
    if not fs.exists(hpath):
        raise ValueError(
            f"no state tables under {state} — the base was produced by a "
            "pre-incremental run_curation; re-run the base with this "
            "version to persist the census/fp/bucket state increments need")
    census_parts = spark.read.parquet(f"{state}/paragraph_census") \
        .drop("_inc")
    census = (census_parts.groupBy("_f1", "_f2")
              .agg(F.sum("_df").alias("_df"),
                   F.min("_winner").alias("_winner")))
    fps = spark.read.parquet(f"{state}/exact_fp").drop("_inc") \
        .select("_f1", "_f2").distinct()
    buckets = spark.read.parquet(f"{state}/lsh_buckets").drop("_inc")
    return census, fps, buckets


def curate_increment(spark: SparkSession, new_docs: DataFrame,
                     base_out: str, inc_id: str,
                     min_quality: float = 0.3,
                     langs: tuple[str, ...] = ("en",),
                     seq_len: int = 2048, max_para_df: int = 100,
                     near_threshold: float = 0.8,
                     lsh_params: dict | None = None,
                     near_max_bucket_size: int | None = 1000,
                     roll_state: bool = False) -> CurationReport:
    """Curate an INCREMENT of new documents against a FROZEN completed
    ``run_curation`` base — the lambda-architecture split: the batch run
    owns the base, increments clean new arrivals against its persisted
    state without reprocessing (or mutating) history.  Outputs land under
    ``{base_out}/inc/{inc_id}/<stage>`` with the same stage-level resume.

    Equivalence contract (pinned in tests): for monotonically increasing
    doc ids (max base id < min increment id — checked loudly), the
    increment's curated output and packed spans are IDENTICAL to what one
    big ``run_curation`` over base+increment would produce, restricted to
    the increment's documents:

    * paragraphs — increment census MERGES the persisted base census, so
      corpus-wide dfs decide the threshold (base docs emitted earlier are
      not retro-scrubbed — forward-only, the lambda trade);
    * exact — an increment doc duplicating any base survivor loses (fp128
      anti-join against ``state/exact_fp``); within-increment dedup keeps
      the min id, which is the global min by monotonicity;
    * near — LSH-probe the persisted bucket table for increment-vs-base
      candidates (marker-validated), EXACT-verify them by jaccard against
      the base ``near`` stage's surviving text, and drop the increment
      side (it always has the larger id); within-increment pairs via the
      normal composed path.  SECOND forward-only trade: the bucket table
      indexes base near-SURVIVORS, so an increment doc whose only base
      near-dup was itself dropped in the base near stage escapes (the
      full run would have caught it through that dropped doc) — bounded
      by near-cluster structure, absent when base near-losers have a
      surviving cluster representative the increment doc also matches;
    * quality / pii — stateless;
    * pack — increment spans continue the base token stream: offsets
      shift by the base's total packed tokens (recomputed exactly from
      the base ``pack`` table — no extra state).

    ``lsh_params`` must MATCH the base run's (the persisted bucket-table
    markers are validated at probe time and a mismatch raises).  THIRD
    caveat — bucket caps: the full-run near stage census-caps COMBINED
    buckets while the incremental probe caps only the persisted side
    (``near_max_bucket_size``), so the equivalence contract holds only
    while no bucket crosses the cap; at cap-triggering bucket sizes the
    two paths may differ in candidate recall (both err toward keeping
    docs).
    """
    from ..functions.pii import scrub_pii_docs
    from ..operators.dedup import (dedup_exact, near_dup_pairs,
                                   paragraph_dedup, with_shingles)
    from ..operators.packing import packed_spans
    from ..operators.textstats import (bpe_ish_token_count, language_id,
                                       quality_features)
    from ..streaming.dedup import probe_lsh_buckets

    out = f"{base_out}/inc/{inc_id}"
    lineage_path = f"{out}/_lineage"
    lsh = dict(_DEFAULT_LSH, **(lsh_params or {}))
    report = CurationReport()
    hist_census, hist_fp, hist_buckets = _read_state(spark, base_out)

    # history = base + every increment directory already on disk (rolled
    # or not) — the guard must cover them all, from their full raw doc
    # sets (paragraphs-stage outputs, which keep every input doc)
    hist_max = _history_max_id(spark, base_out, exclude=inc_id)
    min_new = new_docs.agg(F.min("doc_id")).first()[0]
    if min_new is not None and min_new <= hist_max:
        raise ValueError(
            f"curate_increment requires monotonically increasing doc ids "
            f"(history max id >= {hist_max} but min increment id is "
            f"{min_new}) — the dedup winner rules assume history wins")

    def s_paragraphs(docs):
        cleaned = paragraph_dedup(docs, max_para_df=max_para_df,
                                  history_census=hist_census)
        return (docs.drop("text")
                .join(cleaned.select("doc_id", "text"), "doc_id"))

    def s_pii(docs):
        return scrub_pii_docs(docs).drop("n_emails", "n_ips", "n_phones")

    def s_exact(docs):
        within = dedup_exact(docs)
        fp = within.select(
            "doc_id",
            F.xxhash64("text").alias("_f1"),
            F.xxhash64(F.lit("dedup-seed-2"), F.col("text")).alias("_f2"))
        losers = fp.join(hist_fp, ["_f1", "_f2"], "left_semi") \
            .select("doc_id")
        return within.join(losers, "doc_id", "left_anti")

    def s_near(docs):
        cand = probe_lsh_buckets(docs, hist_buckets, n=lsh["shingle_n"],
                                 num_hashes=lsh["num_hashes"],
                                 bands=lsh["bands"],
                                 hash_family=lsh["hash_family"],
                                 max_bucket_size=near_max_bucket_size)
        base_near = _history_near_text(spark, base_out, exclude=inc_id)
        # increment side is always `b` (larger id); verify with exact
        # n-gram jaccard between the increment text and the base text
        sh_inc = with_shingles(docs, "text", n=lsh["shingle_n"],
                               hash_family=lsh["hash_family"]).select(
            F.col("doc_id").alias("b"), F.col("shingles").alias("_sb"))
        sh_base = with_shingles(base_near, "text", n=lsh["shingle_n"],
                                hash_family=lsh["hash_family"]).select(
            F.col("doc_id").alias("a"), F.col("shingles").alias("_sa"))
        inter = F.size(F.array_intersect("_sa", "_sb"))
        union = F.size("_sa") + F.size("_sb") - inter
        cross_losers = (cand.join(sh_base, "a").join(sh_inc, "b")
                        .withColumn("_j", inter / union)
                        .filter(F.col("_j") >= near_threshold)
                        .select(F.col("b").alias("doc_id")).distinct())
        within_losers = (near_dup_pairs(docs, n=lsh["shingle_n"],
                                        threshold=near_threshold,
                                        num_hashes=lsh["num_hashes"],
                                        bands=lsh["bands"],
                                        hash_family=lsh["hash_family"],
                                        exact_dedup_first=False,
                                        max_bucket_size=near_max_bucket_size)
                         .select(F.col("b").alias("doc_id")).distinct())
        return (docs.join(cross_losers, "doc_id", "left_anti")
                .join(within_losers, "doc_id", "left_anti"))

    def s_quality(docs):
        scored = quality_features(docs).select("doc_id", "q_score")
        lang = docs.withColumn("_lang", language_id(F.col("text")))
        return (lang.join(scored, "doc_id")
                .filter(F.col("_lang").isin(*langs) &
                        (F.col("q_score") >= min_quality))
                .drop("_lang", "q_score"))

    def s_pack(docs):
        base_total = _history_token_total(spark, base_out, exclude=inc_id)
        toks = docs.select(
            "doc_id", bpe_ish_token_count(F.col("text")).alias("n_tokens"))
        spans = packed_spans(toks, seq_len=seq_len)
        shifted = F.col("start_offset") + F.lit(int(base_total))
        nonzero = F.col("first_seq").isNotNull()
        first = F.when(nonzero, F.floor(shifted / seq_len))
        # span width = n_tokens + eos(1); end index = shifted + width - 1
        last = F.when(nonzero,
                      F.floor((shifted + F.col("n_tokens")) / seq_len))
        return (spans.select(
            "doc_id", "n_tokens",
            shifted.alias("start_offset"),
            first.alias("first_seq"), last.alias("last_seq"))
            .withColumn("n_seqs",
                        F.coalesce(F.col("last_seq") - F.col("first_seq") + 1,
                                   F.lit(0))))

    transforms = {"paragraphs": s_paragraphs, "pii": s_pii,
                  "exact": s_exact, "near": s_near,
                  "quality": s_quality, "pack": s_pack}
    cur = new_docs
    upstream_reran = False
    for i, stage in enumerate(STAGES):
        stage_out = f"{out}/{stage}"
        done = completed_buckets(spark, lineage_path, inc_id, stage)
        if i in done and not upstream_reran and \
                _stage_output_ready(spark, stage_out):
            cur = spark.read.parquet(stage_out)
            report.skipped.append(stage)
            continue
        upstream_reran = True
        cur = transforms[stage](cur)
        cur.write.mode("overwrite").parquet(stage_out)
        cur = spark.read.parquet(stage_out)
        n = cur.count()
        report.ran.append(stage)
        report.counts[stage] = n
        append_lineage_rows(spark, lineage_path, [
            {"run_id": inc_id, "stage": stage, "bucket": i,
             "n_pages": n, "n_triples": 0}])
    if roll_state:
        # contribute this increment's epoch to the shared state so the
        # NEXT increment dedups against it too — always (re)written, even
        # on a fully-skipped rerun: the partitioned dynamic overwrite is
        # idempotent, which covers a crash between stages and roll
        _persist_stage_state(spark, base_out, "paragraphs", new_docs, None,
                             max_para_df, lsh=lsh, writer_id=inc_id)
        # exact-fp epoch comes from the EXACT stage's output (matching the
        # base epoch's semantics), NOT the near stage's: a near-stage loser
        # is still the exact-identity winner for any later exact copy — a
        # full run drops that copy at the exact stage, so the rolled state
        # must too (near-dup-chain escape otherwise).
        exact_out = spark.read.parquet(f"{out}/exact")
        near_out = spark.read.parquet(f"{out}/near")
        _persist_stage_state(spark, base_out, "exact", None, exact_out,
                             max_para_df, lsh=lsh, writer_id=inc_id)
        _persist_stage_state(spark, base_out, "near", None, near_out,
                             max_para_df, lsh=lsh, writer_id=inc_id)
    return report


def _inc_stage_paths(spark: SparkSession, base_out: str, stage: str,
                     exclude: str) -> list:
    """Existing ``inc/*/<stage>`` parquet paths except ``exclude``'s."""
    from .lineage import _hadoop_fs
    fs, inc_root = _hadoop_fs(spark, f"{base_out}/inc")
    out = []
    if fs.exists(inc_root):
        for st in fs.listStatus(inc_root):
            if st.getPath().getName() == exclude:
                continue
            if fs.exists(st.getPath().suffix(f"/{stage}")):
                out.append(f"{st.getPath().toString()}/{stage}")
    return out


def _history_max_id(spark: SparkSession, base_out: str,
                    exclude: str) -> int:
    """Max doc id across the FULL raw history (base + other increments'
    paragraphs-stage outputs, which keep every input doc)."""
    paths = ([f"{base_out}/paragraphs"]
             + _inc_stage_paths(spark, base_out, "paragraphs", exclude))
    mx = -1
    for p in paths:
        got = spark.read.parquet(p).agg(F.max("doc_id")).first()[0]
        if got is not None:
            mx = max(mx, got)
    return mx


def _history_near_text(spark: SparkSession, base_out: str,
                       exclude: str) -> DataFrame:
    """(doc_id, text) of every near-stage survivor across history: the
    base plus every other increment directory on disk — the exact-verify
    side of the incremental near stage."""
    frames = [spark.read.parquet(f"{base_out}/near")
              .select("doc_id", "text")]
    for p in _inc_stage_paths(spark, base_out, "near", exclude):
        frames.append(spark.read.parquet(p).select("doc_id", "text"))
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _history_token_total(spark: SparkSession, base_out: str,
                         exclude: str) -> int:
    """Total packed tokens (n_tokens + eos per doc) across the base and
    every increment's pack table except ``exclude`` — the stream offset
    the next increment continues from.  Increments are assumed
    SEQUENTIAL (the monotone-id guard enforces an order anyway)."""
    def total(path):
        df = spark.read.parquet(path)
        return df.agg((F.sum("n_tokens") + F.count("*"))
                      .alias("t")).first()[0] or 0

    tot = total(f"{base_out}/pack")
    for p in _inc_stage_paths(spark, base_out, "pack", exclude):
        tot += total(p)
    return int(tot)


def curate_stream(pages: DataFrame, base_out: str, checkpoint_path: str,
                  min_quality: float = 0.3,
                  langs: tuple[str, ...] = ("en",),
                  seq_len: int = 2048, max_para_df: int = 100,
                  near_threshold: float = 0.8,
                  lsh_params: dict | None = None,
                  near_max_bucket_size: int | None = 1000,
                  trigger_available_now: bool = True):
    """STREAMING curation: every micro-batch runs ``curate_increment``
    with ``roll_state=True`` against the (growing) base state, so batch
    k+1 paragraph-scrubs, exact-dedups, and near-dedups against the base
    AND batches 1..k.  Exactly-once comes from the composition of the
    streaming checkpoint (each batch id fires once per committed epoch)
    with the increment's own stage lineage + idempotent state roll (a
    replayed batch re-skips its stages and re-overwrites only its own
    state partitions).  Requires monotonically increasing doc ids across
    the stream (guarded per batch).  Returns the started StreamingQuery.
    """
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        curate_increment(batch_df.sparkSession,
                         _checkpoint(batch_df),
                         base_out, f"b{batch_id:06d}",
                         min_quality=min_quality, langs=langs,
                         seq_len=seq_len, max_para_df=max_para_df,
                         near_threshold=near_threshold,
                         lsh_params=lsh_params,
                         near_max_bucket_size=near_max_bucket_size,
                         roll_state=True)

    writer = (pages.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def curation_funnel(spark: SparkSession, out_path: str,
                    run_id: str | None = None) -> DataFrame:
    """Observability: (run_id, stage, n_rows, n_dropped, drop_pct) per
    pipeline stage from the persisted lineage — the funnel view an
    operator reads after every batch/increment.  ``run_id=None`` returns
    every run recorded under ``out_path`` (base and increments share the
    shape; pass the increment's lineage dir for its funnel)."""
    from .lineage import LINEAGE_SCHEMA
    rows = spark.read.schema(LINEAGE_SCHEMA).json(f"{out_path}/_lineage")
    if run_id is not None:
        rows = rows.filter(F.col("run_id") == run_id)
    # a stage rerun (upstream_reran path) appends a SECOND row for the same
    # (run_id, stage, bucket) — keep only the latest per bucket or the lag
    # window below compares a stage against its own stale count
    latest = Window.partitionBy("run_id", "bucket") \
        .orderBy(F.col("updated_ts").desc(), F.col("attempt").desc())
    rows = (rows.withColumn("_rn", F.row_number().over(latest))
            .filter(F.col("_rn") == 1).drop("_rn"))
    w = Window.partitionBy("run_id").orderBy("bucket")
    out = (rows.select("run_id", "stage", "bucket",
                       F.col("n_pages").alias("n_rows"))
           .withColumn("_prev", F.lag("n_rows").over(w))
           .withColumn("n_dropped",
                       F.coalesce(F.col("_prev") - F.col("n_rows"),
                                  F.lit(0)))
           .withColumn("drop_pct",
                       F.round(F.when(F.coalesce(F.col("_prev"), F.lit(0)) > 0,
                                      F.col("n_dropped") * 100.0
                                      / F.col("_prev"))
                                .otherwise(F.lit(0.0)), 2)))
    return (out.select("run_id", "stage", "n_rows", "n_dropped",
                       "drop_pct", "bucket")
            .orderBy("run_id", "bucket").drop("bucket"))
