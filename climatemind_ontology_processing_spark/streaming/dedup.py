"""Incremental near-dup probing against a persisted LSH bucket table.

The batch LSH bucket table (``operators/dedup._lsh_bucket_table``) is
persisted with build-parameter marker columns (``plans/curate`` writes it
with each near-dup stage), and a later increment probes it
(``probe_lsh_buckets``) so new documents near-dup against everything
already admitted, without resharding history.  The marker columns are
validated at probe time (CLAUDE.md: cross-family joins match nothing
SILENTLY).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LSH_MARKERS = ("hash_family", "shingle_n", "num_hashes", "bands")


def _doc_lsh_buckets(docs: DataFrame, id_col: str, text_col: str, n: int,
                     num_hashes: int, bands: int,
                     hash_family: str) -> DataFrame:
    """(doc, band, bh) bucket rows for a BATCH DataFrame — the shared
    shingle->signature->band pipeline from operators/dedup."""
    from ..operators.dedup import _lsh_bucket_table, _shingled_checkpointed
    sh = _shingled_checkpointed(docs, id_col, text_col, n, hash_family)
    return _lsh_bucket_table(sh, num_hashes, bands)


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
    accumulated over months of increments cannot blow up a single
    probe."""
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

