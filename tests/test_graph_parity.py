"""Golden-graph parity suite (SURVEY §5.1).

Fixture: the 232 edges / 160 nodes of the reference's checked-in output pickle
(extracted to golden_graph.json by tools/extract_golden.py).  The engine
rebuilds the graph from raw triples + the concept dictionary and must
reproduce node property maps, edge annotations, cyto classes, and all 25
subgraph memberships exactly (URL-list order canonicalized sorted — the
reference's own order is Python set-iteration order, unreproducible).
"""
from __future__ import annotations

import json
from importlib import resources

import pytest

from pyspark.sql import functions as F

import climatemind_ontology_processing_spark.operators.traversal as trav
from climatemind_ontology_processing_spark.operators.acyclic import feedback_edges
from climatemind_ontology_processing_spark.operators.graph_pipeline import (
    GraphBundle, build_graph)
from climatemind_ontology_processing_spark.sources.dictionary import concepts_df


@pytest.fixture(scope="module")
def golden():
    ref = resources.files("climatemind_ontology_processing_spark.data") / "golden_graph.json"
    return json.loads(ref.read_text())


def _golden_triples(spark, golden):
    return spark.createDataFrame(
        [(e["src"], e["type"], e["dst"]) for e in golden["edges"]]
        # inject exact duplicates — dedup must absorb them (A1)
        + [(e["src"], e["type"], e["dst"]) for e in golden["edges"][:10]],
        "subj string, pred string, obj string")


@pytest.fixture(scope="module")
def bundle(spark, golden) -> GraphBundle:
    """The small arm (default threshold) — what curated ontologies run."""
    return build_graph(_golden_triples(spark, golden), concepts_df(spark))


@pytest.fixture(scope="module")
def bundle_distributed(spark, golden) -> GraphBundle:
    """The same build forced onto the distributed arm (threshold 0): every
    annotation pass runs as DataFrame plans and iterative joins."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
        return build_graph(_golden_triples(spark, golden), concepts_df(spark))


@pytest.fixture(scope="module")
def nodes_by_label(bundle):
    return {r["label"]: r.asDict(recursive=True) for r in bundle.nodes.collect()}


def test_node_universe(golden, nodes_by_label):
    assert set(nodes_by_label) == set(golden["nodes"])


def test_node_basic_attrs(golden, nodes_by_label):
    for label, g in golden["nodes"].items():
        n = nodes_by_label[label]
        assert n["iri"] == g["iri"], label
        assert n["comment"] == g["comment"], label
        assert n["direct_classes"] == g["direct_classes"], label
        assert sorted(n["all_classes"]) == g["all_classes"], label
        assert {k: sorted(v) for k, v in (n["super_class_membership"] or {}).items()} \
            == g["super_class_membership"], label


def test_node_properties_roundtrip(golden, nodes_by_label):
    """J2 + A7 + U3: post-removal property bags must match the pickle's."""
    for label, g in golden["nodes"].items():
        n = nodes_by_label[label]
        got = {k: sorted(v) for k, v in (n["properties"] or {}).items()}
        assert got == g["properties"], label


def test_node_data_properties(golden, nodes_by_label):
    for label, g in golden["nodes"].items():
        n = nodes_by_label[label]
        got_map = n["data_properties"] or {}
        for k, v in g["data_properties"].items():
            assert got_map.get(k) == v, (label, k)
        assert sorted(n["data_property_keys"]) == sorted(g["data_properties"]), label


def test_personal_and_political_values(golden, nodes_by_label):
    for label, g in golden["nodes"].items():
        n = nodes_by_label[label]
        assert n["personal_values_19"] == g["personal_values_19"], label
        assert n["personal_values_10"] == g["personal_values_10"], label
        assert n["political_value"] == g["political_value"], label
        assert n["pv_conflicts"] == [], label


def test_edge_properties_parity(golden, bundle):
    got = {(r["src"], r["dst"]):
           {k: sorted(v) for k, v in (r["properties"] or {}).items()}
           for r in bundle.edges.collect()}
    want = {(e["src"], e["dst"]): e["properties"] for e in golden["edges"]}
    assert set(got) == set(want)
    for k in want:
        assert got[k] == want[k], k


def test_edge_types_parity(golden, bundle):
    got = {(r["src"], r["dst"]): r["type"] for r in bundle.edges.collect()}
    want = {(e["src"], e["dst"]): e["type"] for e in golden["edges"]}
    assert got == want


def test_acyclic_cut_idempotent(bundle):
    """Golden graph is already post-cut: the G6 rule must remove 0 edges."""
    assert feedback_edges(bundle.edges, bundle.nodes).count() == 0


def test_b_is_dag(bundle):
    """G5 DAG precondition as a VALIDATED invariant: the reachability-product
    rewrite of all_simple_paths is exact only when B is acyclic, and the rule
    cut doesn't guarantee that — so pin it (operators/acyclic.py
    residual_cycle_pairs docstring)."""
    from climatemind_ontology_processing_spark.operators.acyclic import (
        residual_cycle_pairs)
    assert residual_cycle_pairs(bundle.edges_b).count() == 0


def test_residual_cycle_detector_fires(spark):
    """The validator actually detects cycles (A->B->A plus an acyclic tail)."""
    from climatemind_ontology_processing_spark.operators.acyclic import (
        residual_cycle_pairs)
    edges = spark.createDataFrame(
        [("a", "b", "t"), ("b", "a", "t"), ("b", "c", "t")],
        "src string, dst string, type string")
    pairs = {(r.u, r.v) for r in residual_cycle_pairs(edges).collect()}
    assert pairs == {("a", "b")}


def test_edge_cyto_parity(golden, bundle):
    got = {(r["src"], r["dst"]): sorted(r["cyto_classes"])
           for r in bundle.annotated_edges.collect()}
    for e in golden["edges"]:
        key = (e["src"], e["dst"])
        if key in got:  # annotated graph excludes myth-incident edges
            assert got[key] == e["cyto_classes"], key


def test_node_cyto_parity(golden, bundle):
    got = {r["label"]: sorted(r["cyto_classes"])
           for r in bundle.annotated_nodes.collect()}
    # the pickled 'upstream' subgraph was copied pre-annotation; use the
    # post-annotation subgraphs as oracle
    post = {n for k in ("downstream_adaptations", "upstream_mitigations")
            for n in golden["subgraphs"][k]["nodes"]}
    for label in post:
        assert got[label] == golden["nodes"][label]["cyto_classes"], label


def test_subgraph_membership_parity(golden, bundle):
    got: dict[str, set] = {}
    for r in bundle.subgraph_nodes.collect():
        got.setdefault(r["subgraph_name"], set()).add(r["node_id"])
    for name, g in golden["subgraphs"].items():
        assert name in got, f"missing subgraph {name}"
        assert got[name] == set(g["nodes"]), name


def test_subgraph_edges_parity(golden, bundle):
    got: dict[str, set] = {}
    for r in bundle.subgraph_edges.collect():
        got.setdefault(r["subgraph_name"], set()).add((r["src"], r["dst"]))
    for name, g in golden["subgraphs"].items():
        want = {tuple(e) for e in g["edges"]}
        assert got.get(name, set()) == want, name


def test_mitigation_list_nonempty_and_ordered(bundle, nodes_by_label):
    mits = bundle.mitigation_ranked
    assert mits, "expected mitigation solutions"
    co2 = [
        (nodes_by_label[m]["data_properties"] or {}).get("CO2_eq_reduced")
        for m in mits
    ]
    truthy = [c for c in co2 if c]  # reference truthiness: None/0 -> tail
    assert truthy == sorted(truthy, reverse=True)
    # all falsy values at the tail
    seen_falsy = False
    for c in co2:
        if not c:
            seen_falsy = True
        else:
            assert not seen_falsy, "ranked CO2 value after the falsy tail"


def test_residual_cycle_detector_self_loop(spark):
    """A self-loop is a cycle: the validator must report (u, u)."""
    from climatemind_ontology_processing_spark.operators.acyclic import (
        residual_cycle_pairs)
    edges = spark.createDataFrame(
        [("a", "a", "t"), ("a", "b", "t")], "src string, dst string, type string")
    pairs = {(r.u, r.v) for r in residual_cycle_pairs(edges).collect()}
    assert pairs == {("a", "a")}


def _canon(v):
    """Map key order is not part of a row's value."""
    if isinstance(v, dict):
        return sorted((k, _canon(x)) for k, x in v.items())
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def _rows(df):
    return sorted(repr(_canon(r.asDict(recursive=True))) for r in df.collect())


def test_distributed_arm_matches_small_arm(bundle, bundle_distributed):
    """Both arms of build_graph give identical rows, so the golden checks
    above (run on the small arm) hold for the distributed arm too: node
    table with every annotation column, all 25 subgraphs' nodes and edges,
    the ranked mitigation list and the general-myth ranking."""
    small, dist = bundle, bundle_distributed
    assert _rows(dist.nodes) == _rows(small.nodes)
    assert _rows(dist.subgraph_nodes) == _rows(small.subgraph_nodes)
    assert _rows(dist.subgraph_edges) == _rows(small.subgraph_edges)
    assert dist.mitigation_ranked == small.mitigation_ranked
    assert len(small.mitigation_ranked) == 54
    gen = [repr(tuple(r)) for r in small.extras["general_myths"].collect()]
    assert [repr(tuple(r))
            for r in dist.extras["general_myths"].collect()] == gen
    for key in ("upstream_ids", "mitigation_ids", "adaptations"):
        assert _rows(dist.extras[key]) == _rows(small.extras[key]), key
    # every bundle frame, with the same schema on both arms
    for name, sf, df in _frames(small, dist):
        assert df.schema.simpleString() == sf.schema.simpleString(), name
        assert _rows(df) == _rows(sf), name


_FRAMES = ("nodes", "edges", "edges_b", "annotated_nodes", "annotated_edges",
           "subgraph_nodes", "subgraph_edges")


def _frames(small, dist):
    """(name, small frame, distributed frame) for every bundle frame."""
    for name in _FRAMES:
        yield name, getattr(small, name), getattr(dist, name)
    for key in small.extras:
        yield f"extras[{key}]", small.extras[key], dist.extras[key]


def _edge_case_graph(spark):
    """A small graph rooted at GREENHOUSE_EFFECT holding what the golden
    graph lacks: myths about a risk-solution, a downstream-adaptation and an
    upstream target; a {1, -1} pv conflict and fractional pv values; a label
    missing from the dictionary; a feedback-loop edge the G6 rule cuts;
    invalid URLs on a causes edge; mitigation and adaptation solutions with
    empty sources; a duplicate URL in a node's own list; duplicate
    triples."""
    from climatemind_ontology_processing_spark.config import (
        CAUSES, GREENHOUSE_EFFECT, INHIBITS, MYTH_ABOUT)
    from climatemind_ontology_processing_spark.sources.dictionary import (
        concepts_df_from_rows)

    root = GREENHOUSE_EFFECT
    shared = ["http://shared.example.org/a", "not a url",
              "http://trailing.example.org\r", "http://nbsp.example.org/a\xa0b"]
    risk = {"risk solution": ["x"]}
    myth = {"myth": ["x"]}

    def c(label, classes=(), scm=None, props=None, dp=None):
        return {"concept_id": label, "label": label, "iri": f"iri:{label}",
                "comment": None, "direct_classes": list(classes),
                "all_classes": list(classes), "super_class_membership":
                scm or {}, "properties": props or {}, "data_properties": dp
                or {}}

    concepts = [
        c(root, props={"dc_source": ["http://root.example.org/r"] + shared}),
        c("human emissions", ["root cause linked to humans"],
          props={"dc_source": ["http://dup.example.org/d"] * 2,
                 "schema_mediaSource": ["http://m.example.org/1"]}),
        c("melting permafrost", ["feedback loop"]),
        c("renewable energy", scm=risk, dp={"CO2_eq_reduced": 5.0},
          props={"schema_mediaSource": ["http://m.example.org/1",
                                        "http://r.example.org/2"]}),
        c("bike lanes", scm=risk, dp={"CO2_eq_reduced": 0.0}),
        c("heat waves", dp={"benevolence_caring": 1.0,
                            "benevolence_dependability": -1.0,
                            "achievement": 1.7, "hedonism": -0.5,
                            "conservative": -1.0},
          props={"dc_source": shared + ["http://heat.example.org/h"]}),
        c("cooling centers", scm=risk),
        c("myth: renewables fail", scm=myth, dp={"myth_frequency": 2.0},
          props={"dc_source": ["http://b.example.org/1"],
                 "schema_academicBook": ["http://a.example.org/2",
                                         "http://b.example.org/1"]}),
        c("myth: heat is fine", scm=myth),
        c("myth: no human cause", scm=myth, dp={"myth_frequency": 3.0}),
        c("myth: unranked", scm=myth),
    ]
    edges = [
        ("human emissions", CAUSES, root),
        (root, CAUSES, "melting permafrost"),
        ("melting permafrost", CAUSES, "human emissions"),   # G6 cut
        ("human emissions", INHIBITS, "renewable energy"),
        ("human emissions", INHIBITS, "bike lanes"),
        (root, CAUSES, "heat waves"),
        ("heat waves", INHIBITS, "cooling centers"),
        ("heat waves", CAUSES, "unlisted effect"),           # not in the dictionary
        ("myth: renewables fail", MYTH_ABOUT, "renewable energy"),
        ("myth: heat is fine", MYTH_ABOUT, "heat waves"),
        ("myth: no human cause", MYTH_ABOUT, "human emissions"),
        ("myth: unranked", MYTH_ABOUT, "human emissions"),
    ]
    triples = spark.createDataFrame(
        [(s, t, d) for s, t, d in edges + edges[:3]],
        "subj string, pred string, obj string")
    return triples, concepts_df_from_rows(spark, concepts)


def test_edge_case_graph_same_on_both_arms(spark):
    """Every bundle frame of the edge-case graph has identical rows and
    schema on the small arm and the distributed arm, and the cases the
    graph is built for are really hit."""
    triples, concepts = _edge_case_graph(spark)
    small = build_graph(triples, concepts)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(trav, "SMALL_GRAPH_THRESHOLD", 0)
        dist = build_graph(triples, concepts)
    for name, sf, df in _frames(small, dist):
        assert df.schema.simpleString() == sf.schema.simpleString(), name
        assert _rows(df) == _rows(sf), name
    assert dist.mitigation_ranked == small.mitigation_ranked == [
        "renewable energy", "bike lanes"]

    nodes = {r["label"]: r.asDict(recursive=True)
             for r in small.nodes.collect()}
    heat, lost = nodes["heat waves"], nodes["unlisted effect"]
    assert heat["pv_conflicts"] == ["benevolence"]
    assert heat["personal_values_10"][:4] == [1, None, None, 0]
    assert heat["political_value"] == [-1, None]
    # sorted, "not a url" dropped; the regex follows java.util.regex (ASCII
    # \s, and $ before a final line terminator)
    assert heat["causal_sources"] == [
        "http://nbsp.example.org/a\xa0b", "http://shared.example.org/a",
        "http://trailing.example.org\r"]
    assert lost["concept_id"] is None and lost["pv_conflicts"] == []
    assert nodes["renewable energy"]["solution_myths"] == [
        "myth: renewables fail"]
    assert heat["impact_myths"] == ["myth: heat is fine"]
    assert nodes["cooling centers"]["solution_sources"] == []
    assert nodes["bike lanes"]["solution_sources"] is None
    assert nodes["myth: renewables fail"]["myth_sources"] == [
        "http://b.example.org/1", "http://a.example.org/2"]
    assert nodes["human emissions"]["properties"]["dc_source"] == [
        "http://dup.example.org/d"] * 2
    assert [tuple(r) for r in small.extras["general_myths"].collect()] == [
        ("myth: no human cause", 3.0), ("myth: unranked", None)]
    cut = ("melting permafrost", "human emissions")
    assert cut in {(r.src, r.dst) for r in small.edges.collect()}
    assert cut not in {(r.src, r.dst) for r in small.edges_b.collect()}


def test_small_arm_runs_no_job_before_the_writes(spark, golden):
    """The small arm of build_graph starts one Spark job: the size probe.
    The concept dictionary is a local relation, so its collect runs no
    job, and every annotation pass runs on the driver, so nothing runs
    until the frames are written or collected.  The triples sit in one
    partition, as in a one-file parquet input: the probe's limit collect
    then scans in one job."""
    sc = spark.sparkContext
    triples, concepts = _golden_triples(spark, golden).coalesce(1), \
        concepts_df(spark)
    sc.setJobGroup("small-arm-jobs", "build_graph small arm")
    try:
        build_graph(triples, concepts)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("small-arm-jobs")) == 1


@pytest.mark.filterwarnings("error::UserWarning")
def test_small_arm_frames_are_local_relations(spark, golden):
    """Every frame the small arm builds on the driver, and the concept
    dictionary, plans as an Arrow local relation: no ``ExistingRDD``,
    whose pickled rows a Python stage would re-serialize on every action.
    A silent fallback of Spark's Arrow conversion would warn; here that
    warning is an error."""
    concepts = concepts_df(spark)
    b = build_graph(_golden_triples(spark, golden), concepts)
    frames = {"concepts": concepts, **{
        name: getattr(b, name) for name in (
            "nodes", "edges", "edges_b", "annotated_nodes",
            "annotated_edges", "subgraph_nodes", "subgraph_edges")},
        **b.extras}
    assert len(frames) == 12
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, \
            (name, plan)
