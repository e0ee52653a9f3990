"""Concept dictionary source — the engine's analog of the reference ontology.

The reference loads a curated OWL file per run (``make_graph_class.py:52-57``)
and does per-row ``onto.search_one(label=...)`` lookups
(``make_graph_class.py:114`` — an O(nodes x ontology) nested loop).  Here the
dictionary is a small DataFrame, built once and **broadcast**; every lookup
becomes a broadcast hash join (SURVEY §2.3 J1).

Schema (FIXTURES.md §2):
  concept_id string, label string, iri string, comment string,
  aliases array<string>, direct_classes array<string>, all_classes array<string>,
  super_class_membership map<string, array<string>>,
  properties map<string, array<string>>, data_properties map<string, int>

``data_properties`` values in the reference are int-or-None
(``make_graph_class.py:168-170``); nulls survive in the map as absent keys plus
a parallel ``data_property_keys`` list so null-vs-missing is recoverable.
"""
from __future__ import annotations

import json
from importlib import resources
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CONCEPT_SCHEMA = T.StructType([
    T.StructField("concept_id", T.StringType(), False),
    T.StructField("label", T.StringType(), False),
    T.StructField("iri", T.StringType(), True),
    T.StructField("comment", T.StringType(), True),
    T.StructField("aliases", T.ArrayType(T.StringType()), False),
    T.StructField("direct_classes", T.ArrayType(T.StringType()), False),
    T.StructField("all_classes", T.ArrayType(T.StringType()), False),
    T.StructField("super_class_membership",
                  T.MapType(T.StringType(), T.ArrayType(T.StringType())), False),
    T.StructField("properties",
                  T.MapType(T.StringType(), T.ArrayType(T.StringType())), False),
    # non-null data-property values only; all declared keys in data_property_keys.
    # double: most values are {0,1,-1} flags but magnitudes like CO2_eq_reduced
    # are fractional (the reference stores raw OWL literal values)
    T.StructField("data_properties", T.MapType(T.StringType(), T.DoubleType()), False),
    T.StructField("data_property_keys", T.ArrayType(T.StringType()), False),
])


def default_aliases(label: str) -> list[str]:
    """Deterministic surface-form variants for mention detection.

    The reference matches nodes by exact ontology label only; web text needs
    recall on morphological variants.  Kept deterministic and tiny on purpose.
    """
    out = [label]
    lowered = label.lower()
    if lowered != label:
        out.append(lowered)
    # "increase in X" -> "increasing X", "rising X"
    if lowered.startswith("increase in "):
        rest = lowered[len("increase in "):]
        out.append("increasing " + rest)
        out.append("rising " + rest)
    if lowered.startswith("decrease in "):
        rest = lowered[len("decrease in "):]
        out.append("decreasing " + rest)
        out.append("declining " + rest)
    return list(dict.fromkeys(out))


def load_concept_rows(path: str | None = None) -> list[dict[str, Any]]:
    """Read the checked-in concepts.json fixture (derived from the reference
    golden pickle by tools/extract_golden.py) into plain dicts."""
    if path is None:
        ref = resources.files("climatemind_ontology_processing_spark.data") / "concepts.json"
        raw = ref.read_text()
    else:
        with open(path) as f:
            raw = f.read()
    return json.loads(raw)


def concepts_df_from_rows(spark: SparkSession, concept_rows: list[dict[str, Any]],
                          alias_fn=default_aliases) -> DataFrame:
    """concepts.json-shaped dicts -> concepts DataFrame.  Shared by the
    checked-in-fixture path (``concepts_df``) and the S1 OWL reader
    (``sources/owl_reader.concepts_df_from_owl``)."""
    rows = []
    for c in concept_rows:
        dp = c.get("data_properties", {})
        rows.append((
            c["concept_id"],
            c["label"],
            c.get("iri"),
            c.get("comment"),
            alias_fn(c["label"]),
            c.get("direct_classes", []),
            c.get("all_classes", []),
            c.get("super_class_membership", {}),
            c.get("properties", {}),
            {k: float(v) for k, v in dp.items() if v is not None},
            sorted(dp.keys()),
        ))
    return spark.createDataFrame(rows, CONCEPT_SCHEMA)


def concepts_df(spark: SparkSession, path: str | None = None,
                alias_fn=default_aliases) -> DataFrame:
    """Build the concepts DataFrame.  Small (hundreds of rows) — callers wrap it
    in ``F.broadcast`` at join sites."""
    return concepts_df_from_rows(spark, load_concept_rows(path), alias_fn)


def class_edges(concepts: DataFrame) -> DataFrame:
    """``is_a`` edges from the class hierarchy (G1's class-DFS analog,
    ``network_class.py:65-81,84-119``): the reference emits
    (class_label, individual_label, "is_a") for every class reachable above an
    individual.  With the ancestor closure precomputed in ``all_classes``,
    that set is exactly one explode — no traversal needed (SURVEY §2.7 G1).
    """
    from pyspark.sql import functions as F

    return (concepts.select(
        F.explode("all_classes").alias("subj"),
        F.lit("is_a").alias("pred"),
        F.col("label").alias("obj"))
        .distinct())


def alias_map(path: str | None = None, alias_fn=default_aliases) -> dict[str, str]:
    """alias (lowercased) -> canonical concept label.  Broadcast to executors
    for entity linking in ``functions.triples.extract_from_text``."""
    out: dict[str, str] = {}
    for c in load_concept_rows(path):
        for a in alias_fn(c["label"]):
            out.setdefault(a.lower(), c["label"])
    return out
