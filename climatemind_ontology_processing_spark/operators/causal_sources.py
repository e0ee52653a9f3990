"""J3/A4/P6 — causal-source collection (``process_causal_sources.py:21-67``).

For every node: gather the ``properties`` bags of its incoming
``causes_or_promotes`` edges that have a NON-empty bag
(``process_causal_sources.py:39-43`` — the ``if properties`` truthiness gate),
flatten the 8 source-type URL lists across them, first-occurrence dedup, drop
invalid URLs, attach as ``causal_sources``.

Nodes with zero qualifying predecessor edges get NO attribute (the reference's
``if self.causal_sources:`` gate at :28-29) — they are absent from this
operator's output rather than holding an empty array.

Spark shape: filter + explode edge property maps -> groupBy dst (one shuffle,
map-side combine) -> array ops.  Flatten order follows SOURCE_TYPES order
within an edge and is canonicalized sorted across edges (reference order is
predecessor-iteration order — see edge_props.py ordering note).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CAUSES, SOURCE_TYPES
from ..functions.urlcheck import filter_valid_urls, is_valid_url_local


def causal_sources(edges_with_props: DataFrame) -> DataFrame:
    """(label, causal_sources array<string>) for nodes with >=1 non-empty
    causes-edge property bag."""
    qualifying = edges_with_props.filter(
        (F.col("type") == CAUSES) & (F.size(F.map_keys("properties")) > 0))
    per_edge = [
        F.coalesce(F.col("properties").getItem(k), F.array().cast("array<string>"))
        for k in SOURCE_TYPES
    ]
    edge_urls = qualifying.select(
        F.col("dst").alias("label"),
        F.flatten(F.array(*per_edge)).alias("urls"))
    return (edge_urls.groupBy("label")
            .agg(F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("urls")))).alias("_all"))
            .select("label",
                    filter_valid_urls(F.col("_all")).alias("causal_sources")))


def causal_sources_local(edge_rows: list) -> list:
    """Driver twin of :func:`causal_sources` (``process_causal_sources.py:
    21-67``) over (src, dst, type, properties) rows."""
    urls: dict = {}
    for _s, d, t, props in edge_rows:
        if t == CAUSES and props:
            urls.setdefault(d, set()).update(
                u for k in SOURCE_TYPES for u in props.get(k) or ())
    return [(lab, [u for u in sorted(us - {None}) if is_valid_url_local(u)])
            for lab, us in urls.items()]
