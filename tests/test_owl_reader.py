"""S1 — OWL/RDF-XML ingestion tests.

The fixture ``data/climate_mind.owl`` is a reconstruction of the reference's
(unshipped) ontology source, generated by tools/make_owl_fixture.py and
SELF-VALIDATED against concepts.json at generation time.  These tests pin the
reader side: parsing the .owl must reproduce the checked-in dictionary
exactly, the edge triples exactly, and — the reference's user contract
(``processOntology``, process_new_ontology_file.py:10-26) — running the full
pipeline from the .owl file must reproduce the reference's own output pickle.
"""
from __future__ import annotations

import json
import os
import pickle

import pytest
from importlib import resources

from climatemind_ontology_processing_spark.sources.owl_reader import (
    concept_rows_from_owl, concepts_df_from_owl, edge_triples, parse_owl,
    triples_df_from_owl)

OWL_PATH = str(resources.files("climatemind_ontology_processing_spark.data")
               / "climate_mind.owl")


def _fixture(name):
    ref = resources.files("climatemind_ontology_processing_spark.data") / name
    return json.loads(ref.read_text())


def _canon(r):
    """Order-canonicalize the set-semantics fields (reference order is
    owlready2 set-iteration order — unreproducible, SURVEY §2.5 note)."""
    return {
        "concept_id": r["concept_id"], "label": r["label"], "iri": r["iri"],
        "comment": r["comment"],
        "direct_classes": list(r["direct_classes"]),   # order load-bearing
        "all_classes": sorted(r["all_classes"]),
        "super_class_membership": {k: sorted(v) for k, v
                                   in r["super_class_membership"].items()},
        "properties": {k: list(v) for k, v in r["properties"].items()},
        "data_properties": dict(r["data_properties"]),
    }


def test_concept_rows_round_trip():
    got = {r["label"]: _canon(r) for r in concept_rows_from_owl(OWL_PATH)}
    want = {r["label"]: _canon(r) for r in _fixture("concepts.json")}
    assert set(got) == set(want)
    for lbl in want:
        assert got[lbl] == want[lbl], lbl


def test_edge_triples_round_trip():
    golden = _fixture("golden_graph.json")
    want = {(e["src"], e["dst"], e["type"]) for e in golden["edges"]}
    got = set(edge_triples(parse_owl(OWL_PATH)))
    assert got == want


def test_class_closure_is_computed_not_copied():
    """X1 fold: all_classes must come from the subClassOf DAG, i.e. be the
    transitive closure of direct classes' ancestors."""
    onto = parse_owl(OWL_PATH)
    # a class with a multi-level chain: 'mental health change' ->
    # 'health change' -> 'communication frame'
    label_to_iri = {v: k for k, v in onto.class_label.items()}
    from climatemind_ontology_processing_spark.sources.owl_reader import (
        class_ancestors)
    anc = class_ancestors(onto)
    mhc = anc[label_to_iri["mental health change"]]
    assert {"mental health change", "health change",
            "communication frame"} <= mhc


def test_concepts_df_from_owl_matches_fixture_df(spark):
    from climatemind_ontology_processing_spark.sources.dictionary import (
        concepts_df)
    a = {r["label"]: r.asDict(recursive=True)
         for r in concepts_df_from_owl(spark, OWL_PATH).collect()}
    b = {r["label"]: r.asDict(recursive=True)
         for r in concepts_df(spark).collect()}
    assert set(a) == set(b)
    for lbl in b:
        ga, gb = a[lbl], b[lbl]
        assert ga["aliases"] == gb["aliases"], lbl
        assert sorted(ga["all_classes"]) == sorted(gb["all_classes"]), lbl
        assert ga["data_properties"] == gb["data_properties"], lbl
        assert ga["data_property_keys"] == gb["data_property_keys"], lbl


@pytest.fixture(scope="module")
def owl_artifacts(spark, tmp_path_factory):
    from climatemind_ontology_processing_spark.plans.process_ontology import (
        process_ontology_file)
    out = str(tmp_path_factory.mktemp("owl_ep1"))
    process_ontology_file(OWL_PATH, out, spark=spark)
    return out


def test_process_ontology_file_csv_artifact(owl_artifacts):
    """output.csv with the reference's header and deduped triple count
    (make_network.py:41-45)."""
    with open(os.path.join(owl_artifacts, "output.csv")) as f:
        header = f.readline().strip()
        n = sum(1 for _ in f)
    assert header == "subject,object,predicate"
    assert n == 220


def test_process_ontology_file_full_parity(owl_artifacts,
                                           assert_pickle_matches_golden):
    """The strongest S1 statement: feeding the reconstructed .owl through the
    engine's processOntology reproduces the REFERENCE's own output pickle
    (as committed in data/golden_graph.json) — node sets, edge sets, and
    node and edge attributes of every subgraph."""
    with open(os.path.join(owl_artifacts,
                           "graphs_for_visualization.pickle"), "rb") as f:
        got = pickle.load(f)
    assert_pickle_matches_golden(got)


def _owl2_text() -> str:
    """Second fixture (round-2 verdict next-step #9): 5-deep class DAG, a
    DIAMOND multi-parent class, non-ASCII labels/IRIs, a multi-direct-class
    individual exercising last-write-wins membership, and enough causal
    structure for the full pipeline (root node + up/downstream edges)."""
    B = "http://example.org/ontologies/deep.owl"

    def cls(frag, label, *parents):
        sub = "".join(
            f'<rdfs:subClassOf rdf:resource="{B}#{p}"/>' for p in parents)
        return (f'<owl:Class rdf:about="{B}#{frag}">'
                f'<rdfs:label>{label}</rdfs:label>{sub}</owl:Class>')

    def ind(frag, label, types, links=(), comment=None):
        t = "".join(f'<rdf:type rdf:resource="{B}#{c}"/>' for c in types)
        l = "".join(f'<OP_causes rdf:resource="{B}#{dst}"/>' for dst in links)
        c = f"<rdfs:comment>{comment}</rdfs:comment>" if comment else ""
        return (f'<owl:NamedIndividual rdf:about="{B}#{frag}">'
                f'{t}<rdfs:label>{label}</rdfs:label>{c}{l}'
                f"</owl:NamedIndividual>")

    return f"""<?xml version='1.0' encoding='utf-8'?>
<rdf:RDF xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns="{B}#" xml:base="{B}">
  <owl:Ontology rdf:about="{B}" />
  {cls("C_cm", "climate mind")}
  {cls("C_rs", "risk solution", "C_cm")}
  {cls("C_amne", "Ämne", "C_cm")}
  {cls("C_uber", "überclass", "C_amne")}
  {cls("C_zh", "中类", "C_amne")}
  {cls("C_diamond", "διαμάντι", "C_uber", "C_zh")}
  {cls("C_l4", "level4 ñivel", "C_diamond")}
  {cls("C_l5", "level5 пять", "C_l4")}
  <owl:ObjectProperty rdf:about="{B}#OP_causes">
    <rdfs:label>causes_or_promotes</rdfs:label></owl:ObjectProperty>
  {ind("I_root", "increase in greenhouse effect", ["C_l5"],
       links=["I_flood"])}
  {ind("I_hur", "飓风", ["C_uber"], links=["I_root"],
       comment="ураган — non-ASCII comment")}
  {ind("I_flood", "càfé flooding", ["C_diamond"])}
  {ind("I_multi", "überthing", ["C_uber", "C_zh"])}
  {ind("I_sol", "solar pänels", ["C_rs", "C_zh"])}
</rdf:RDF>"""


def test_owl_reader_generality_deep_nonascii(spark, tmp_path):
    """Second OWL fixture: closures over a 5-deep DAG with a diamond
    multi-parent class, last-write-wins membership across multiple direct
    classes, non-ASCII labels everywhere — then processOntology end-to-end
    (CSV + pickle artifacts) with hand-computed expectations."""
    import pickle as _pickle

    from climatemind_ontology_processing_spark.plans.process_ontology import (
        process_ontology_file)

    owl = tmp_path / "deep.owl"
    owl.write_text(_owl2_text(), encoding="utf-8")
    rows = {r["label"]: r for r in concept_rows_from_owl(str(owl))}
    assert set(rows) == {"increase in greenhouse effect", "飓风",
                         "càfé flooding", "überthing", "solar pänels"}

    # diamond closure: level5 inherits through BOTH überclass and 中类
    assert sorted(rows["increase in greenhouse effect"]["all_classes"]) == \
        sorted(["level5 пять", "level4 ñivel", "διαμάντι", "überclass",
                "中类", "Ämne"])
    # membership key = the direct child of climate mind ('Ämne')
    assert rows["飓风"]["super_class_membership"] == {
        "Ämne": sorted(["überclass", "Ämne"])}
    assert rows["飓风"]["comment"] == repr(["ураган — non-ASCII comment"])

    # LAST-WRITE-WINS: both direct classes of überthing reach 'Ämne';
    # the LAST one (中类, direct-order) must win the membership value
    # (reference make_graph_class.py:147-158 semantics)
    assert rows["überthing"]["direct_classes"] == ["überclass", "中类"]
    assert rows["überthing"]["super_class_membership"] == {
        "Ämne": sorted(["中类", "Ämne"])}
    # two keys when direct classes reach different superclasses
    assert rows["solar pänels"]["super_class_membership"] == {
        "risk solution": ["risk solution"],
        "Ämne": sorted(["中类", "Ämne"])}

    # ---- full pipeline from the new .owl -----------------------------
    out = str(tmp_path / "out")
    process_ontology_file(str(owl), out, spark=spark)
    with open(os.path.join(out, "output.csv"), encoding="utf-8") as f:
        header = f.readline().strip()
        body = sorted(line.strip() for line in f if line.strip())
    assert header == "subject,object,predicate"
    assert body == sorted([
        "increase in greenhouse effect,càfé flooding,causes_or_promotes",
        "飓风,increase in greenhouse effect,causes_or_promotes"])

    with open(os.path.join(out, "graphs_for_visualization.pickle"), "rb") as f:
        graphs = _pickle.load(f)
    up = graphs[[k for k in graphs if "upstream" in k][0]]
    down = graphs[[k for k in graphs if k.startswith("downstream")][0]]
    assert "飓风" in set(up.nodes)
    assert "càfé flooding" in set(down.nodes)


def test_owl_reader_generality(tmp_path):
    """A NEW ontology (not the fixture): path'd base IRI with .owl suffix
    (owlready2 names it by the final segment, extension stripped),
    an unlabeled individual (skipped, never emits null-keyed rows), and a
    multi-level hierarchy computed from subClassOf."""
    owl = tmp_path / "tiny.owl"
    owl.write_text("""<?xml version='1.0' encoding='utf-8'?>
<rdf:RDF xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns="http://example.org/ontologies/tiny.owl#"
         xml:base="http://example.org/ontologies/tiny.owl">
  <owl:Ontology rdf:about="http://example.org/ontologies/tiny.owl" />
  <owl:Class rdf:about="http://example.org/ontologies/tiny.owl#C_cm">
    <rdfs:label>climate mind</rdfs:label></owl:Class>
  <owl:Class rdf:about="http://example.org/ontologies/tiny.owl#C_top">
    <rdfs:label>topic</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://example.org/ontologies/tiny.owl#C_cm"/>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/ontologies/tiny.owl#C_sub">
    <rdfs:label>subtopic</rdfs:label>
    <rdfs:subClassOf rdf:resource="http://example.org/ontologies/tiny.owl#C_top"/>
  </owl:Class>
  <owl:ObjectProperty rdf:about="http://example.org/ontologies/tiny.owl#OP_rel">
    <rdfs:label>causes_or_promotes</rdfs:label></owl:ObjectProperty>
  <owl:NamedIndividual rdf:about="http://example.org/ontologies/tiny.owl#I_a">
    <rdf:type rdf:resource="http://example.org/ontologies/tiny.owl#C_sub"/>
    <rdfs:label>thing a</rdfs:label>
    <OP_rel rdf:resource="http://example.org/ontologies/tiny.owl#I_b"/>
    <OP_rel rdf:resource="http://example.org/ontologies/tiny.owl#I_unlabeled"/>
  </owl:NamedIndividual>
  <owl:NamedIndividual rdf:about="http://example.org/ontologies/tiny.owl#I_b">
    <rdf:type rdf:resource="http://example.org/ontologies/tiny.owl#C_top"/>
    <rdfs:label>thing b</rdfs:label>
  </owl:NamedIndividual>
  <owl:NamedIndividual rdf:about="http://example.org/ontologies/tiny.owl#I_unlabeled">
    <rdf:type rdf:resource="http://example.org/ontologies/tiny.owl#C_top"/>
  </owl:NamedIndividual>
</rdf:RDF>""")
    rows = {r["label"]: r for r in concept_rows_from_owl(str(owl))}
    assert set(rows) == {"thing a", "thing b"}  # unlabeled skipped
    # owlready2-style iri: final path segment, .owl stripped
    assert rows["thing a"]["iri"] == "tiny.I_a"
    assert rows["thing a"]["direct_classes"] == ["subtopic"]
    assert sorted(rows["thing a"]["all_classes"]) == ["subtopic", "topic"]
    # 'topic' is a direct child of climate mind -> membership key
    assert rows["thing a"]["super_class_membership"] == {
        "topic": ["subtopic", "topic"]}
    triples = edge_triples(parse_owl(str(owl)))
    # link to the unlabeled individual is dropped, not null-emitted
    assert triples == [("thing a", "thing b", "causes_or_promotes")]
