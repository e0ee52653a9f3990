"""Shared column-expression helpers (SURVEY §2.4/§2.6/§2.8).

All pure JVM-side higher-order functions — zero shuffle, whole-stage codegen.
"""
from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import SOURCE_TYPES


def flatten_source_lists(properties: Column, source_types: list[str] | None = None) -> Column:
    """A5/A6 — flatten a node's per-source-type URL lists into one
    first-occurrence-deduped list (``ontology_processing_utils.py:77-92``,
    ``process_myths.py:58-78``).

    ``F.array_distinct`` preserves first occurrence, matching
    ``OrderedDict.fromkeys``; concatenation order is the fixed SOURCE_TYPES
    order, matching the reference's loop order.
    """
    keys = source_types or SOURCE_TYPES
    parts = [F.coalesce(properties.getItem(k), F.array().cast("array<string>"))
             for k in keys]
    return F.array_distinct(F.flatten(F.array(*parts)))


def flatten_source_lists_local(properties: dict | None,
                               source_types: list[str] | None = None) -> list:
    """Driver twin of :func:`flatten_source_lists` over one property dict
    (``ontology_processing_utils.py:77-92``)."""
    return list(dict.fromkeys(u for k in source_types or SOURCE_TYPES
                              for u in (properties or {}).get(k) or ()))


def sort_array_local(values) -> list:
    """Driver twin of ``F.sort_array`` over strings (nulls first)."""
    return sorted(values, key=lambda v: (v is not None, v or ""))


def compute_collapse(values: Column) -> Column:
    """A3 — collapse a {1, -1, 0, null} vector to a scalar
    (``make_graph_class.py:268-291``): all-null -> null; any 1 -> 1 (unless a
    -1 also present — conflict, see :data:`compute_conflict`); any -1 -> -1;
    else 0.

    The reference raises on conflict (1 and -1 together); a distributed job
    must not throw per-row, so conflicts yield null here and are routed to a
    quarantine count via :func:`compute_conflict` (SURVEY §4).

    Reference subtlety preserved: the loop at :282-288 means a later -1
    overwrites an earlier 1 in ``final`` — but since conflicts raise there, the
    non-conflict outcomes are identical.
    """
    # array_contains yields null (not false) on a no-match over an array that
    # holds nulls — coalesce for three-valued-logic safety
    non_null = F.filter(values, lambda v: v.isNotNull())
    has_one = F.coalesce(F.array_contains(values, 1), F.lit(False))
    has_neg = F.coalesce(F.array_contains(values, -1), F.lit(False))
    return (F.when(F.size(non_null) == 0, F.lit(None).cast("int"))
            .when(has_one & has_neg, F.lit(None).cast("int"))
            .when(has_neg, F.lit(-1))
            .when(has_one, F.lit(1))
            .otherwise(F.lit(0)))


def compute_collapse_local(values: list) -> int | None:
    """Driver twin of :func:`compute_collapse`."""
    vals = {v for v in values if v is not None}
    return None if not vals or {1, -1} <= vals else (
        -1 if -1 in vals else int(1 in vals))


def compute_conflict(values: Column) -> Column:
    """True where the A3 vector contains both 1 and -1 (reference would raise,
    ``make_graph_class.py:289-290``)."""
    return (F.coalesce(F.array_contains(values, 1), F.lit(False)) &
            F.coalesce(F.array_contains(values, -1), F.lit(False)))


def any_truthy(values: Column) -> Column:
    """Python ``any(...)`` over a {1, -1, 0, null} list
    (``process_visualization.py:63,111``): null and 0 are falsy, 1 and -1
    truthy."""
    return F.exists(values, lambda v: v.isNotNull() & (v != 0))


def normalize_property_label(col: Column) -> Column:
    """P1 — property-label aliasing (``ontology_processing_utils.py:168-174``):
    '/' -> '_or_', ' ' -> '_', ':' -> '_'."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, "/", "_or_"), " ", "_"), ":", "_")
