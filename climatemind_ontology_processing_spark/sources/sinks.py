"""Graph sinks — parity-compatible output formats (SURVEY §2.1 S4/S5/S7).

The reference's sinks are driver-side NetworkX serializers
(``ontology_processing_utils.py:177-219``): a gpickle of the full graph (S4),
a "jit" JSON of the filtered test-ontology graph (S5), and the
visualization-subgraphs pickle (S7).  The engine's primary sinks are the
nodes/edges/subgraph TABLES (parquet/Iceberg); these collectors exist so a
consumer of the reference's artifacts can get byte-compatible-shaped files —
they collect to the driver and are only for curated-ontology-sized graphs.
"""
from __future__ import annotations

import json
import pickle
from typing import Any

from pyspark.sql import DataFrame

from ..session import local_frame


def _node_attrs(row: dict) -> dict[str, Any]:
    """Engine node row -> reference-style attribute dict
    (``make_graph_class.py:113-170``): map columns fold back into the
    dynamic per-superclass keys, 'direct classes'/'all classes' spellings."""
    out = {
        "label": row.get("label"),
        "iri": row.get("iri"),
        "comment": row.get("comment"),
        "direct classes": row.get("direct_classes") or [],
        "all classes": row.get("all_classes") or [],
        "properties": row.get("properties") or {},
        "data_properties": {
            k: (row.get("data_properties") or {}).get(k)
            for k in (row.get("data_property_keys") or [])
        },
        "personal_values_10": row.get("personal_values_10"),
        "personal_values_19": row.get("personal_values_19"),
        "political_value": row.get("political_value"),
    }
    for k, v in (row.get("super_class_membership") or {}).items():
        out[k] = v
    if row.get("cyto_classes") is not None:
        out["cyto_classes"] = row["cyto_classes"]
    # annotation-pass attributes with the reference's exact spellings — the
    # reference sets each only on qualifying nodes (null column -> no key):
    # make_graph_class.py:499-513 (mitigation solutions / solution sources),
    # :546-557 (adaptation solutions), process_myths.py:33-48 (solution/
    # impact myths, set only when non-empty), :74-78 (myth sources),
    # :102-106 (general myths), process_causal_sources.py:63-67
    for col, key in (("mitigation_solutions", "mitigation solutions"),
                     ("general_myths", "general myths"),
                     ("solution_sources", "solution sources"),
                     ("adaptation_solutions", "adaptation solutions"),
                     ("myth_sources", "myth sources"),
                     ("causal_sources", "causal sources")):
        if row.get(col) is not None:
            out[key] = row[col]
    for col, key in (("solution_myths", "solution myths"),
                     ("impact_myths", "impact myths")):
        if row.get(col):  # reference never writes an empty myth list
            out[key] = row[col]
    return out


def to_networkx(nodes: DataFrame, edges: DataFrame):
    """Collect tables into an ``nx.DiGraph`` shaped like the reference's
    (S4 gpickle parity).  Gated import: networkx is optional."""
    import networkx as nx

    g = nx.DiGraph()
    for r in nodes.collect():
        d = r.asDict(recursive=True)
        g.add_node(d["label"], **_node_attrs(d))
    for r in edges.collect():
        d = r.asDict(recursive=True)
        attrs = {"type": d.get("type"), "properties": d.get("properties") or {}}
        if d.get("cyto_classes") is not None:
            attrs["cyto_classes"] = d["cyto_classes"]
        g.add_edge(d["src"], d["dst"], **attrs)
    return g


def _sanitize_for_format(g, gml_keys: bool = False):
    """gexf/gml/graphml carry only scalar attribute values — nested dicts and
    lists (properties bags, class lists) are JSON-stringified, None dropped;
    GML additionally forbids non-alphanumeric attribute KEYS, so those become
    underscores there.  The reference's writers
    (``ontology_processing_utils.py:198-207``) pass the raw graph straight to
    networkx and would raise on these attributes; sanitization is the
    engine's documented extension that makes the formats actually writable
    for this graph."""
    import re

    import networkx as nx

    out = nx.DiGraph()

    def clean(d):
        o = {}
        for k, v in d.items():
            if v is None:
                continue
            if gml_keys:
                k = re.sub(r"[^0-9A-Za-z]", "_", k)
            o[k] = v if isinstance(v, (str, int, float, bool)) \
                else json.dumps(v, default=str)
        return o

    for n, d in g.nodes(data=True):
        out.add_node(n, **clean(d))
    for u, v, d in g.edges(data=True):
        out.add_edge(u, v, **clean(d))
    return out


def _save_graph_format(nodes: DataFrame, edges: DataFrame, path: str,
                       ext: str) -> None:
    """S6 — alternative graph sinks (``save_graph_to_gexf/gml/graphml``,
    ontology_processing_utils.py:198-207)."""
    import networkx as nx

    writers = {".gexf": nx.write_gexf, ".gml": nx.write_gml,
               ".graphml": nx.write_graphml}
    g = _sanitize_for_format(to_networkx(nodes, edges),
                             gml_keys=(ext == ".gml"))
    writers[ext](g, path)


def save_graph_gexf(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    _save_graph_format(nodes, edges, path, ".gexf")


def save_graph_gml(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    _save_graph_format(nodes, edges, path, ".gml")


def save_graph_graphml(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    _save_graph_format(nodes, edges, path, ".graphml")


def save_graph_pickle(nodes: DataFrame, edges: DataFrame, path: str) -> None:
    """S4 — gpickle-equivalent sink (``save_graph_to_pickle``,
    ontology_processing_utils.py:194-195; nx >=3 removed write_gpickle, the
    reference's own call is a plain pickle of the graph object)."""
    g = to_networkx(nodes, edges)
    with open(path, "wb") as f:
        pickle.dump(g, f)


# fixed reference attribute keys; anything else on a node is a dynamic
# per-superclass membership key (make_graph_class.py:147-158)
_FIXED_NODE_KEYS = {
    "label", "iri", "comment", "direct classes", "all classes", "properties",
    "data_properties", "personal_values_10", "personal_values_19",
    "political_value", "cyto_classes", "mitigation solutions", "general myths",
    "solution sources", "adaptation solutions", "solution myths",
    "impact myths", "myth sources", "causal sources",
}

_ANNOTATION_KEY_TO_COL = {
    "mitigation solutions": "mitigation_solutions",
    "general myths": "general_myths",
    "solution sources": "solution_sources",
    "adaptation solutions": "adaptation_solutions",
    "solution myths": "solution_myths",
    "impact myths": "impact_myths",
    "myth sources": "myth_sources",
    "causal sources": "causal_sources",
}


def load_graph_pickle(spark, path: str):
    """S8 — gpickle scan (``visualize.py:275`` ``nx.read_gpickle``): load a
    reference-shaped pickled DiGraph back into engine (nodes, edges)
    DataFrames — the exact inverse of ``_node_attrs``/``save_graph_pickle``,
    so ``save -> load -> save`` is a fixed point (pinned in test_sinks)."""
    with open(path, "rb") as f:
        g = pickle.load(f)

    node_rows = []
    for n, d in g.nodes(data=True):
        dp = d.get("data_properties") or {}
        row = {
            "label": d.get("label", n),
            "iri": d.get("iri"),
            "comment": d.get("comment"),
            "direct_classes": d.get("direct classes") or [],
            "all_classes": d.get("all classes") or [],
            "super_class_membership": {k: v for k, v in d.items()
                                       if k not in _FIXED_NODE_KEYS},
            "properties": d.get("properties") or {},
            "data_properties": {k: float(v) for k, v in dp.items()
                                if v is not None},
            "data_property_keys": sorted(dp.keys()),
            "personal_values_10": d.get("personal_values_10"),
            "personal_values_19": d.get("personal_values_19"),
            "political_value": d.get("political_value"),
            "cyto_classes": d.get("cyto_classes"),
        }
        for key, col in _ANNOTATION_KEY_TO_COL.items():
            row[col] = d.get(key)
        node_rows.append(row)
    edge_rows = [
        {"src": u, "dst": v,
         "type": d.get("type"),
         "properties": d.get("properties") or {},
         "cyto_classes": d.get("cyto_classes")}
        for u, v, d in g.edges(data=True)
    ]
    from pyspark.sql import types as T
    node_schema = T.StructType([
        T.StructField("label", T.StringType(), False),
        T.StructField("iri", T.StringType(), True),
        T.StructField("comment", T.StringType(), True),
        T.StructField("direct_classes", T.ArrayType(T.StringType()), True),
        T.StructField("all_classes", T.ArrayType(T.StringType()), True),
        T.StructField("super_class_membership",
                      T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("properties",
                      T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("data_properties",
                      T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("data_property_keys", T.ArrayType(T.StringType()), True),
        T.StructField("personal_values_10", T.ArrayType(T.IntegerType()), True),
        T.StructField("personal_values_19", T.ArrayType(T.IntegerType()), True),
        T.StructField("political_value", T.ArrayType(T.IntegerType()), True),
        T.StructField("cyto_classes", T.ArrayType(T.StringType()), True),
        T.StructField("mitigation_solutions", T.ArrayType(T.StringType()), True),
        T.StructField("general_myths", T.ArrayType(T.StringType()), True),
        T.StructField("solution_sources", T.ArrayType(T.StringType()), True),
        T.StructField("adaptation_solutions", T.ArrayType(T.StringType()), True),
        T.StructField("solution_myths", T.ArrayType(T.StringType()), True),
        T.StructField("impact_myths", T.ArrayType(T.StringType()), True),
        T.StructField("myth_sources", T.ArrayType(T.StringType()), True),
        T.StructField("causal_sources", T.ArrayType(T.StringType()), True),
    ])
    edge_schema = T.StructType([
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("type", T.StringType(), True),
        T.StructField("properties",
                      T.MapType(T.StringType(), T.ArrayType(T.StringType())), True),
        T.StructField("cyto_classes", T.ArrayType(T.StringType()), True),
    ])
    return (local_frame(spark, node_rows, node_schema),
                        local_frame(spark, edge_rows, edge_schema))


def jit_data(nodes: DataFrame, edges: DataFrame) -> list[dict]:
    """S5 — the "jit" JSON structure (``json_graph.jit_data``): one record per
    node with ``{id, name, data, adjacencies:[{nodeTo, data}]}``."""
    adj: dict[str, list] = {}
    for r in edges.collect():
        d = r.asDict(recursive=True)
        adj.setdefault(d["src"], []).append({
            "nodeTo": d["dst"],
            "data": {"type": d.get("type"),
                     "properties": d.get("properties") or {}},
        })
    out = []
    for r in nodes.collect():
        d = r.asDict(recursive=True)
        out.append({
            "id": d["label"],
            "name": d["label"],
            "data": _node_attrs(d),
            "adjacencies": adj.get(d["label"], []),
        })
    return out


def save_graph_json(nodes: DataFrame, edges: DataFrame, path: str,
                    indent: int = 4) -> None:
    """S5 — JSON sink (``save_test_ontology_to_json``,
    ontology_processing_utils.py:214-219)."""
    with open(path, "w") as f:
        json.dump(jit_data(nodes, edges), f, indent=indent, default=str)


def save_subgraphs_pickle(bundle_nodes: DataFrame, bundle_edges: DataFrame,
                          subgraph_nodes: DataFrame, subgraph_edges: DataFrame,
                          path: str) -> None:
    """S7 — visualization-subgraphs pickle
    (``process_visualization.py:22-33``): dict of named NetworkX subgraphs of
    the annotated graph."""
    import networkx as nx

    base = to_networkx(bundle_nodes, bundle_edges)
    members: dict[str, set] = {}
    for r in subgraph_nodes.collect():
        members.setdefault(r["subgraph_name"], set()).add(r["node_id"])
    sub_edges: dict[str, set] = {}
    for r in subgraph_edges.collect():
        sub_edges.setdefault(r["subgraph_name"], set()).add((r["src"], r["dst"]))

    graphs = {}
    for name, node_set in members.items():
        g = nx.DiGraph()
        for n in node_set:
            if base.has_node(n):
                g.add_node(n, **base.nodes[n])
        for u, v in sub_edges.get(name, ()):
            if base.has_edge(u, v):
                g.add_edge(u, v, **base.edges[u, v])
            else:  # per-pv reversed solution edge (G9)
                attrs = base.edges[v, u] if base.has_edge(v, u) else {}
                g.add_edge(u, v, **attrs)
        graphs[name] = g
    with open(path, "wb") as f:
        pickle.dump(graphs, f)


# ---------------------------------------------------------------------------
# N-Triples (RDF line format) — the DISTRIBUTED export, unlike the
# driver-side parity sinks above: one formatted-line projection + write.text,
# no collect, no shuffle; the canonical interchange format for handing the
# KG to external RDF stores at 10^12-triple scale (line-oriented = trivially
# splittable on re-read).
# ---------------------------------------------------------------------------
_NT_BASE = "https://example.org/kg/"


def _iri(col, base: str):
    """Label -> IRI term: percent-encode via url_encode, then fix the
    form-encoding divergence (space -> '+') to RFC 3986 %20."""
    from pyspark.sql import functions as F
    return F.concat(F.lit("<" + base),
                    F.regexp_replace(F.url_encode(col), r"\+", "%20"),
                    F.lit(">"))


def save_triples_ntriples(triples, path: str, base_iri: str = _NT_BASE,
                          pred_base: str | None = None) -> None:
    """Write (subj, pred, obj) rows as N-Triples lines
    ``<s> <p> <o> .`` — subjects/objects under ``base_iri``, predicates
    under ``pred_base`` (default ``base_iri + 'rel/'``)."""
    from pyspark.sql import functions as F
    pb = pred_base if pred_base is not None else base_iri + "rel/"
    lines = triples.select(F.concat_ws(
        " ",
        _iri(F.col("subj"), base_iri),
        _iri(F.col("pred"), pb),
        _iri(F.col("obj"), base_iri),
        F.lit(".")).alias("value"))
    lines.write.mode("overwrite").text(path)


def load_triples_ntriples(spark, path: str, base_iri: str = _NT_BASE,
                          pred_base: str | None = None):
    """Exact inverse of ``save_triples_ntriples`` (round-trip pinned in
    test_sinks): parse the three IRI terms, strip the bases, and
    percent-decode back to labels."""
    from pyspark.sql import functions as F
    pb = pred_base if pred_base is not None else base_iri + "rel/"

    def term(i, base):
        raw = F.regexp_extract(F.col("value"),
                               r"^<([^>]*)> <([^>]*)> <([^>]*)> \.$", i)
        # Strip the base by LENGTH after a startswith check — never as a
        # regex pattern: a base containing regex metacharacters ('+', '?',
        # '(', and '.' in the default) would corrupt the round-trip
        # (round-3 ADVICE, low).  A term outside the base raises loudly.
        stripped = F.when(
            raw.startswith(base), F.substring(raw, len(base) + 1, 1 << 30)
        ).otherwise(F.raise_error(F.concat(
            F.lit(f"load_triples_ntriples: IRI not under base '{base}': "),
            raw)).cast("string"))
        return F.url_decode(stripped)

    return (spark.read.text(path)
            .filter(F.length("value") > 0)
            .select(term(1, base_iri).alias("subj"),
                    term(2, pb).alias("pred"),
                    term(3, base_iri).alias("obj")))
