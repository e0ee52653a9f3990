"""Streaming incremental KG construction — the north-star pipeline shape
(pages -> extraction -> triples -> canonicalization -> materialized graph)
run CONTINUOUSLY over an arriving crawl instead of as one batch job.

The reference builds its graph once, offline (process_new_ontology_file.py:
10-26 runs extract -> annotate -> pickle on a fixed ontology).  At crawl
scale the corpus never stops arriving, so the graph must absorb micro-batches
without re-walking history.  This module wires three already-pinned pieces
into one ``foreachBatch`` stream:

  1. ``plans/pipeline.triples_from_pages`` — stateless per-page extraction
     (the fused Arrow stage), run on each micro-batch alone.
  2. ``operators/canonicalize.merge_components`` — incremental alias
     resolution: fold the batch's alias edges into the persisted
     (id, component) labeling by solving only the batch-sized LABEL GRAPH
     (equivalence vs full recompute is pinned in tests/test_graph_extras).
  3. The repo's idempotent-replay sink pattern (``_batch`` partition +
     dynamic partition overwrite, as in ``streaming/dedup`` and
     ``plans/curate``): a replayed micro-batch overwrites exactly its own
     partition, never appends duplicates.

Storage layout (immutable facts + evolving identity):

  {out}/triples/_batch=k/   batch k's deduped RAW triples (surface forms)
  {out}/labels/_batch=k/    the FULL (id, component) labeling after
                            folding batch k's alias edges

Canonicalization is deliberately NOT baked into the stored triple rows: an
alias merge discovered in batch k must retroactively rewrite the canonical
view of triples extracted in batch j < k.  Storing surface forms + an
evolving label map makes that a read-side join (``kg_snapshot``) instead of
a rewrite of history — the only shape that stays O(batch) per micro-batch
at 10^12 documents.  The label snapshot is O(aliased surfaces), bounded by
the dictionary/vocabulary, not the corpus; a delta-only labels log with
periodic compaction is the further step if even that bound ever hurts.

Equivalence guarantee (pinned in tests/test_streaming_kg.py): after any
number of micro-batches, in any arrival order, ``kg_snapshot`` equals the
one-shot batch build over the union of all pages — because per-batch
``dedup_triples`` winners survive global re-dedup (min of per-batch minima
is the global min) and ``merge_components`` over any edge partition order
converges to ``connected_components`` of the union (min-label invariance).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.traversal import _checkpoint

LABELS_SCHEMA = "id string, component string"


def surface_alias_edges(triples: DataFrame,
                        cols: tuple[str, ...] = ("subj", "obj")) -> DataFrame:
    """Data-driven alias edges: every distinct node surface links to its
    conservatively-normalized form (lowercase, whitespace collapsed,
    trimmed) when the two differ.  Surfaces sharing a normalized form merge
    transitively through the shared normalized node; already-normalized
    surfaces emit nothing (identity labels are implicit — ``kg_snapshot``
    coalesces unlabeled ids to themselves, mirroring
    ``canonicalize.canonicalize_triples``).

    Keys-only shape: a distinct over node surfaces, then one narrow
    projection — no row of page text is ever shuffled.
    """
    labs = None
    for c in cols:
        s = triples.select(F.col(c).alias("s"))
        labs = s if labs is None else labs.unionByName(s)
    labs = labs.filter(F.col("s").isNotNull()).distinct()
    norm = F.trim(F.regexp_replace(F.lower(F.col("s")), r"\s+", " "))
    return (labs.withColumn("n", norm)
            .filter(F.col("n") != F.col("s"))
            .select(F.col("s").alias("src"), F.col("n").alias("dst")))


def _latest_labels(spark: SparkSession, labels_path: str,
                   before_batch: int | None = None) -> DataFrame | None:
    """The most recent persisted label snapshot, or None if no labels exist.

    ``before_batch`` restricts to strictly earlier partitions — a REPLAYED
    micro-batch must fold its edges into the state that preceded its first
    attempt, never into its own half-written output (same rule as the
    ``_batch < batch_id`` probe filter in streaming/dedup).
    """
    from ..plans.lineage import _hadoop_fs
    # explicit existence check: a bare try/except around the read would
    # treat a CORRUPT labels table as "fresh start" and silently fork the
    # component universe (loud-failure philosophy)
    fs, hpath = _hadoop_fs(spark, labels_path)
    if not fs.exists(hpath):
        return None
    lab = spark.read.parquet(labels_path)
    if before_batch is not None:
        lab = lab.filter(F.col("_batch") < F.lit(int(before_batch)))
    mb = lab.agg(F.max("_batch").alias("m")).collect()[0]["m"]
    if mb is None:
        return None
    return lab.filter(F.col("_batch") == F.lit(int(mb))).drop("_batch")


def _idempotent_write(df: DataFrame, batch_id: int, path: str) -> None:
    (df.withColumn("_batch", F.lit(int(batch_id)))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("_batch").parquet(path))


def kg_build_stream(pages: DataFrame, out_dir: str, checkpoint_path: str,
                    aliases: dict[str, str] | None = None,
                    reextract: bool = True,
                    alias_edges_fn=surface_alias_edges,
                    trigger_available_now: bool = True):
    """Start the incremental KG-construction stream over a pages source
    (url, warc_ts, html, text, lang).  Returns the ``StreamingQuery``.

    Per micro-batch: extract + dedup the batch's triples, persist them as an
    immutable ``_batch`` partition, derive the batch's alias edges
    (``alias_edges_fn`` — pluggable so a deployment can feed dictionary
    deltas, fuzzy-match links, or embedding-blocked pairs instead of the
    normalization default), fold them into the persisted labeling with
    ``merge_components``, and write the updated label snapshot.  History
    rows are never rewritten; per-batch cost is O(batch) plus one
    O(label-table) map join.
    """
    from ..operators.canonicalize import merge_components
    from ..plans.pipeline import triples_from_pages

    triples_path = f"{out_dir}/triples"
    labels_path = f"{out_dir}/labels"

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # used twice: sink + edges
        t = _checkpoint(triples_from_pages(batch_df, aliases,
                                           reextract=reextract))
        _idempotent_write(t, batch_id, triples_path)
        edges = alias_edges_fn(t)
        prev = _latest_labels(spark, labels_path, before_batch=batch_id)
        if prev is None:
            prev = spark.createDataFrame([], LABELS_SCHEMA)
        new_labels = merge_components(prev, edges)
        _idempotent_write(new_labels, batch_id, labels_path)

    writer = (pages.writeStream.foreachBatch(_process)
              .option("checkpointLocation", checkpoint_path))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def kg_snapshot(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Materialize the CURRENT canonical graph from the stream's storage:

      triples — globally re-deduped (earliest provenance across ALL batches;
                min of the per-batch winners IS the global winner), with
                subj/obj rewritten through the latest label snapshot and
                re-deduped again (two surfaces collapsing onto one canonical
                triple keep the earliest provenance)
      nodes   — distinct canonical node ids
      labels  — the latest (id, component) snapshot (empty ⇒ identity)

    One scan of the triples table + one broadcast-sized label join — the
    read-side cost is independent of how many micro-batches produced the
    data.
    """
    from ..operators.dedup import dedup_triples
    from ..plans.lineage import _hadoop_fs

    fs, hpath = _hadoop_fs(spark, f"{out_dir}/triples")
    if not fs.exists(hpath):
        raise FileNotFoundError(
            f"{out_dir}/triples does not exist — no stream batch has "
            "committed yet (refusing to return an empty graph for a "
            "missing table)")
    raw = spark.read.parquet(f"{out_dir}/triples").drop("_batch")
    ded = dedup_triples(raw)
    lab = _latest_labels(spark, f"{out_dir}/labels")
    if lab is None:
        lab = spark.createDataFrame([], LABELS_SCHEMA)
    t = (ded
         .join(lab.withColumnRenamed("id", "subj")
                  .withColumnRenamed("component", "_cs"), "subj", "left")
         .join(lab.withColumnRenamed("id", "obj")
                  .withColumnRenamed("component", "_co"), "obj", "left")
         .withColumn("subj", F.coalesce("_cs", "subj"))
         .withColumn("obj", F.coalesce("_co", "obj"))
         .drop("_cs", "_co"))
    canonical = dedup_triples(t)
    nodes = (canonical.select(F.col("subj").alias("id"))
             .unionByName(canonical.select(F.col("obj").alias("id")))
             .distinct())
    return {"triples": canonical, "nodes": nodes, "labels": lab}
