"""Streaming deduplication (§2.9 complement to the batch dedup suite).

A continuously-ingested crawl re-delivers pages (recrawls, mirror WARCs,
at-least-once sources).  Batch ``dedup_exact`` answers the offline pass; this
is the ONLINE shape: ``dropDuplicatesWithinWatermark`` keys state by content
fingerprint and expires it once the event-time watermark passes, so state is
bounded by the duplicate-arrival horizon instead of growing with the corpus
(the unbounded-state failure mode of plain ``dropDuplicates`` on a stream).

The dedup key is the fp128 pair of seeded xxhash64 values — the SAME
fingerprint scheme as ``operators/dedup.dedup_exact`` (collision odds
~2^-128/pair), so a document admitted by the stream and one admitted by a
batch backfill agree on identity.  Downstream consumers see each distinct
text at most once per watermark horizon.

NEAR-dup goes incremental here too (round-3 verdict #5): the batch LSH
bucket table (``operators/dedup._lsh_bucket_table``) is PERSISTED with
build-parameter marker columns (``persist_lsh_buckets``), and each
micro-batch probes it (``probe_lsh_buckets``) then appends its own bucket
rows — so batch N+1's documents near-dup against everything batches
0..N admitted, without resharding history.  The marker columns are
validated at probe time (CLAUDE.md: cross-family joins match nothing
SILENTLY).  The streaming wiring is ``foreachBatch``
(``near_dup_probe_stream``) — the standard Structured Streaming shape for
stream/static joins whose static side the stream itself grows, and the
only shape that lets each micro-batch reuse the batch LSH machinery
(Arrow signature UDF + localCheckpoint) unchanged.  Candidate equivalence
with one big batch run is pinned in tests.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.traversal import _checkpoint

_LSH_MARKERS = ("hash_family", "shingle_n", "num_hashes", "bands")


def dedup_stream(pages: DataFrame, watermark: str = "1 hour",
                 ts_col: str = "warc_ts",
                 text_col: str = "text") -> DataFrame:
    """Streaming DataFrame -> same columns, first-seen row per exact text
    within the watermark horizon.  State per distinct fingerprint only
    (two longs + timestamp), expired by the watermark."""
    fp1 = F.xxhash64(F.col(text_col))
    fp2 = F.xxhash64(F.lit("dedup-seed-2"), F.col(text_col))
    return (pages
            .withColumn("_f1", fp1).withColumn("_f2", fp2)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["_f1", "_f2"])
            .drop("_f1", "_f2"))


def _doc_lsh_buckets(docs: DataFrame, id_col: str, text_col: str, n: int,
                     num_hashes: int, bands: int,
                     hash_family: str) -> DataFrame:
    """(doc, band, bh) bucket rows for a BATCH DataFrame — the shared
    shingle->signature->band pipeline from operators/dedup."""
    from ..operators.dedup import _lsh_bucket_table, _shingled_checkpointed
    sh = _shingled_checkpointed(docs, id_col, text_col, n, hash_family)
    return _lsh_bucket_table(sh, num_hashes, bands)


def persist_lsh_buckets(docs: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        num_hashes: int = 32, bands: int = 8,
                        hash_family: str = "xxhash64",
                        mode: str = "overwrite",
                        epoch: int = -1) -> None:
    """Build the LSH bucket table for a (batch) corpus and persist it as
    parquet with build-parameter MARKER columns — the static-then-growing
    side of ``near_dup_probe_stream``.  ``mode='append'`` adds a backfill
    increment to an existing table (markers must match at next probe).

    Rows carry an ``_batch`` partition column (``epoch``, default -1 =
    pre-stream history) so the table shares a layout with the stream's
    idempotent per-batch partitions; stream batch ids start at 0, so
    history always sorts strictly before them."""
    b = _doc_lsh_buckets(docs, id_col, text_col, n, num_hashes, bands,
                         hash_family)
    (b.withColumn("hash_family", F.lit(hash_family))
      .withColumn("shingle_n", F.lit(n))
      .withColumn("num_hashes", F.lit(num_hashes))
      .withColumn("bands", F.lit(bands))
      .withColumn("_batch", F.lit(int(epoch)))
      .write.mode(mode).partitionBy("_batch").parquet(path))


def _validate_lsh_markers(buckets: DataFrame, n: int, num_hashes: int,
                          bands: int, hash_family: str) -> DataFrame:
    """Raise unless every persisted marker row matches this probe's
    parameters; returns the bucket table with markers dropped.  A family
    or parameter mismatch would bucket-join to NOTHING and silently report
    zero near-dups — the failure CLAUDE.md's marker rule exists for."""
    present = [c for c in _LSH_MARKERS if c in buckets.columns]
    if len(present) == len(_LSH_MARKERS):
        got = [tuple(r) for r in
               buckets.select(*_LSH_MARKERS).distinct().collect()]
        want = (hash_family, n, num_hashes, bands)
        if got and (len(got) > 1 or got[0] != want):
            raise ValueError(
                f"persisted LSH bucket table was built with "
                f"(hash_family, n, num_hashes, bands) in {got} but this "
                f"probe uses {want} — the bucket join would match nothing")
    elif present:
        raise ValueError(
            f"persisted LSH bucket table carries only {present} of the "
            f"marker columns {_LSH_MARKERS} — refusing a partial marker")
    return buckets.drop(*present)


def probe_lsh_buckets(new_docs: DataFrame, buckets: DataFrame,
                      id_col: str = "doc_id", text_col: str = "text",
                      n: int = 3, num_hashes: int = 32, bands: int = 8,
                      hash_family: str = "xxhash64",
                      max_bucket_size: int | None = 1000) -> DataFrame:
    """Near-dup candidates between NEW documents and a persisted bucket
    table: (a, b) distinct with a < b, a/b mixing new and old ids.

    The batch core of incremental LSH: new docs shingle+sign once
    (identical pipeline to the batch path, so a pair lands in the same
    bucket no matter which side arrived first), then ONE equi-join on the
    (band, bh) key against the persisted table.  ``max_bucket_size`` caps
    the PERSISTED side's bucket size (keys-only census, same guardrail and
    rationale as ``minhash_lsh_pairs``) so a boilerplate megabucket
    accumulated over months of stream history cannot blow up a single
    micro-batch."""
    buckets = _validate_lsh_markers(buckets, n, num_hashes, bands,
                                    hash_family)
    if max_bucket_size is not None:
        ok = (buckets.groupBy("band", "bh")
              .agg(F.count("*").alias("_bsz"))
              .filter(F.col("_bsz") <= max_bucket_size)
              .select("band", "bh"))
        buckets = buckets.join(ok, ["band", "bh"], "left_semi")
    nb = _doc_lsh_buckets(new_docs, id_col, text_col, n, num_hashes, bands,
                          hash_family)
    hits = (nb.alias("l")
            .join(buckets.alias("r"),
                  (F.col("l.band") == F.col("r.band")) &
                  (F.col("l.bh") == F.col("r.bh")) &
                  (F.col("l.doc") != F.col("r.doc")))
            .select(F.least("l.doc", "r.doc").alias("a"),
                    F.greatest("l.doc", "r.doc").alias("b")))
    return hits.distinct()


def near_dup_probe_stream(pages: DataFrame, bucket_path: str,
                          candidates_path: str, checkpoint_path: str,
                          id_col: str = "doc_id", text_col: str = "text",
                          n: int = 3, num_hashes: int = 32, bands: int = 8,
                          hash_family: str = "xxhash64",
                          max_bucket_size: int | None = 1000,
                          include_within_batch: bool = True,
                          trigger_available_now: bool = True):
    """Wire incremental LSH into a Structured Streaming query.

    Each micro-batch (1) probes the persisted bucket table at
    ``bucket_path`` for cross-batch candidates, (2) optionally self-joins
    its own buckets for within-batch candidates, (3) writes the union to
    ``candidates_path``, and (4) writes its OWN bucket rows (with
    markers) to ``bucket_path`` — so the table grows with the stream and
    batch k+1 near-dups against everything before it.

    EXACTLY-ONCE: both sinks are partitioned by ``_batch`` with dynamic
    partition overwrite (the repo's idempotent-replay pattern, same as
    ``plans/curate._write_state_partition``), so a foreachBatch retry
    overwrites only its own partition — blind appends would duplicate
    bucket rows, silently inflating the (band, bh) census past
    ``max_bucket_size`` and DROPPING real buckets from candidate
    generation.  The probe side additionally filters to ``_batch <
    batch_id``, so a replayed batch never probes its own first-attempt
    rows and the documented within/cross disjointness survives replay.

    Returns the started ``StreamingQuery``.
    """
    from ..operators.dedup import minhash_lsh_pairs

    def _idempotent_write(df: DataFrame, batch_id: int, path: str) -> None:
        (df.withColumn("_batch", F.lit(int(batch_id)))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("_batch").parquet(path))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = _checkpoint(batch_df)
        # explicit existence check — a bare try/except around the read
        # would silently treat a CORRUPT bucket table as "no history" and
        # drop every cross-batch candidate (loud-failure philosophy)
        from ..plans.lineage import _hadoop_fs
        fs, hpath = _hadoop_fs(spark, bucket_path)
        have_history = fs.exists(hpath)
        cands = None
        if have_history:
            buckets = spark.read.parquet(bucket_path)
            # a replayed batch must not see its own (or any later writer's)
            # first-attempt rows: history is strictly _batch < batch_id
            if "_batch" in buckets.columns:
                buckets = buckets.filter(F.col("_batch") < F.lit(int(batch_id)))
            cands = probe_lsh_buckets(
                batch_df, buckets, id_col, text_col, n, num_hashes, bands,
                hash_family, max_bucket_size)
        if include_within_batch:
            within = minhash_lsh_pairs(
                batch_df, id_col, text_col, n, num_hashes, bands,
                hash_family=hash_family, max_bucket_size=max_bucket_size)
            cands = within if cands is None else cands.unionByName(within)
        if cands is not None:
            _idempotent_write(cands.distinct(), batch_id, candidates_path)
        # grow the bucket table AFTER probing (a batch never pairs with
        # itself through the persisted table — within-batch pairs are the
        # self-join's job, keeping the two sources disjoint)
        b = _doc_lsh_buckets(batch_df, id_col, text_col, n, num_hashes,
                             bands, hash_family)
        _idempotent_write(
            b.withColumn("hash_family", F.lit(hash_family))
             .withColumn("shingle_n", F.lit(n))
             .withColumn("num_hashes", F.lit(num_hashes))
             .withColumn("bands", F.lit(bands)),
            batch_id, bucket_path)

    writer = (pages.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
