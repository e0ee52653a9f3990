"""S1 — OWL/RDF-XML ontology ingestion (the reference's production input).

The reference loads ``.owl`` files through owlready2
(``make_network.py:34``, ``make_graph_class.py:52-57``) and walks the object
model imperatively.  This module is a from-scratch RDF/XML reader over
``xml.etree`` (owlready2 is not available in this environment; the parse
covers exactly the OWL subset the reference touches):

* ``owl:Class`` with ``rdfs:label`` + ``rdfs:subClassOf`` links,
* ``owl:ObjectProperty`` / ``owl:AnnotationProperty`` /
  ``owl:DatatypeProperty`` declarations with labels,
* ``owl:NamedIndividual`` with ``rdf:type`` links (document order preserved —
  it drives the last-write-wins membership semantics), ``rdfs:label``,
  ``rdfs:comment``, literal property values and object-property links.

From the parse it computes everything the dictionary prep needs, reproducing
the reference algorithms (cited per function):

* the ancestor closure per class — X1's output: the reference runs a HermiT
  reasoner (``make_graph_class.py:71-82``) whose effect on this subset is the
  subClassOf closure; computed here as a driver-side DFS (tiny input),
* per-individual concept rows shaped exactly like the checked-in
  concepts.json fixture (same keys, same last-write-wins superclass
  membership, same ``str(list)`` comment spelling),
* the (subject, object, predicate) edge triples the reference's
  ``outputEdges`` DFS emits (``network_class.py:121-156``) — post-dedup that
  set is exactly "every object-property link between individuals", so no
  traversal is needed (SURVEY §2.7 G1).

Everything here runs on the DRIVER over a curated-ontology-sized file; the
output feeds ``F.broadcast`` joins — the correct shape for a dictionary that
is small by construction (SURVEY §1.3).
"""
from __future__ import annotations

import xml.etree.ElementTree as ET
from dataclasses import dataclass, field

from ..session import local_frame

RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"

CLIMATE_MIND = "climate mind"


def give_alias(label: str) -> str:
    """P1 — the reference's property aliasing
    (``ontology_processing_utils.py:168-174``): /→_or_, space→_, :→_."""
    return label.replace("/", "_or_").replace(" ", "_").replace(":", "_")


def alias_annotation(label: str) -> str:
    """Annotation-property key spelling (``make_graph_class.py:98-100``):
    only ``:`` is replaced."""
    return label.replace(":", "_")


def alias_data(label: str) -> str:
    """Data-property key spelling (``make_graph_class.py:104-109``):
    only spaces are replaced."""
    return label.replace(" ", "_")


@dataclass
class OwlOntology:
    name: str                                   # owlready2-style onto name
    class_label: dict[str, str]                 # class IRI -> label
    class_parents: dict[str, list[str]]         # class IRI -> parent IRIs
    object_props: dict[str, str]                # property IRI -> label
    annot_props: dict[str, str]
    data_props: dict[str, str]
    individuals: list[dict] = field(default_factory=list)
    # each individual: {iri, label, comments, types(IRIs, doc order),
    #                   annot: {prop_iri: [str]}, data: {prop_iri: [num]},
    #                   links: [(prop_iri, target_iri)]}


def _parse_number(text: str, datatype: str | None):
    if datatype and datatype.endswith(("integer", "int", "long")):
        return int(text)
    try:
        f = float(text)
    except ValueError:
        return text
    return int(f) if f.is_integer() and "." not in text else f


def parse_owl(path: str) -> OwlOntology:
    root = ET.parse(path).getroot()

    def rabout(el):
        return el.get(f"{{{RDF}}}about")

    def rres(el):
        return el.get(f"{{{RDF}}}resource")

    base = None
    for el in root.iter(f"{{{OWL}}}Ontology"):
        base = rabout(el)
        break
    if base is None:
        base = (root.get("{http://www.w3.org/XML/1998/namespace}base")
                or "ontology")
    # owlready2 names the ontology by the FINAL path segment of its base IRI
    # (host-only IRIs have a single segment: the host itself)
    tail = base.split("//", 1)[-1].rstrip("/#")
    name = tail.rsplit("/", 1)[-1]
    if name.endswith(".owl"):
        name = name[:-4]          # owlready2 strips the .owl extension too

    onto = OwlOntology(name=name, class_label={}, class_parents={},
                       object_props={}, annot_props={}, data_props={})

    def label_of(el):
        le = el.find(f"{{{RDFS}}}label")
        return le.text if le is not None else None

    for el in root.findall(f"{{{OWL}}}Class"):
        iri = rabout(el)
        lbl = label_of(el)
        if lbl is not None:
            onto.class_label[iri] = lbl
        onto.class_parents[iri] = [
            rres(p) for p in el.findall(f"{{{RDFS}}}subClassOf")
            if rres(p) is not None]
    for tag, store in ((f"{{{OWL}}}ObjectProperty", onto.object_props),
                       (f"{{{OWL}}}AnnotationProperty", onto.annot_props),
                       (f"{{{OWL}}}DatatypeProperty", onto.data_props)):
        for el in root.findall(tag):
            lbl = label_of(el)
            if lbl is not None:                 # P2 — unlabeled props dropped
                store[rabout(el)] = lbl

    for el in root.findall(f"{{{OWL}}}NamedIndividual"):
        ind = {
            "iri": rabout(el), "label": label_of(el),
            "comments": [c.text or "" for c in el.findall(f"{{{RDFS}}}comment")],
            "types": [rres(t) for t in el.findall(f"{{{RDF}}}type")
                      if rres(t) is not None],
            "annot": {}, "data": {}, "links": [],
        }
        for child in el:
            tag = child.tag
            full = tag if not tag.startswith("{") else \
                tag[1:].replace("}", "", 1)
            if full in onto.annot_props:
                ind["annot"].setdefault(full, []).append(child.text or "")
            elif full in onto.data_props:
                ind["data"].setdefault(full, []).append(
                    _parse_number(child.text or "",
                                  child.get(f"{{{RDF}}}datatype")))
            elif full in onto.object_props:
                tgt = rres(child)
                if tgt is not None:
                    ind["links"].append((full, tgt))
        onto.individuals.append(ind)
    return onto


def class_ancestors(onto: OwlOntology) -> dict[str, set[str]]:
    """Labeled-ancestor closure per class IRI, class itself included,
    unlabeled classes and owl:Thing dropped (the reference's ``listify``
    keeps only entities the ontology labels).  This IS the X1 fold: the
    reasoner's observable effect on the golden pipeline is this closure."""
    memo: dict[str, set[str]] = {}

    def walk(iri: str, seen: frozenset) -> set[str]:
        if iri in memo:
            return memo[iri]
        out = set()
        lbl = onto.class_label.get(iri)
        if lbl is not None:
            out.add(lbl)
        for p in onto.class_parents.get(iri, []):
            if p not in seen:
                out |= walk(p, seen | {iri})
        memo[iri] = out
        return out

    return {iri: walk(iri, frozenset()) for iri in onto.class_parents}


def concept_rows(onto: OwlOntology) -> list[dict]:
    """Assemble concepts.json-shaped rows (``make_graph_class.py:93-170``):
    label/iri/comment, direct + all classes ('climate mind' removed,
    :135-144), per-superclass membership with the LAST-WRITE-WINS bug
    (:147-158 — the dead union branch means the last matching direct class
    overwrites), annotation/data property bags with their per-kind aliasing.
    """
    anc = class_ancestors(onto)
    label_to_iri = {v: k for k, v in onto.class_label.items()}
    cm_iri = label_to_iri.get(CLIMATE_MIND)
    # superclasses = DIRECT subclasses of 'climate mind'
    # (make_graph_class.py:94 ``cm_class.subclasses()``)
    superclasses = [iri for iri, ps in onto.class_parents.items()
                    if cm_iri in ps and iri in onto.class_label]

    annot_keys = sorted(alias_annotation(l) for l in onto.annot_props.values())
    data_keys = sorted(alias_data(l) for l in onto.data_props.values())
    annot_by_iri = {iri: alias_annotation(l)
                    for iri, l in onto.annot_props.items()}
    data_by_iri = {iri: alias_data(l) for iri, l in onto.data_props.items()}

    rows = []
    for ind in onto.individuals:
        if ind["label"] is None:
            # the reference keys everything by label[0]; an unlabeled
            # individual would crash it (make_graph_class.py:125) — we skip
            # and leave it out of the dictionary rather than emit null keys
            continue
        direct = [onto.class_label[t] for t in ind["types"]
                  if t in onto.class_label]
        all_classes: set[str] = set()
        for t in ind["types"]:
            if t in anc:
                all_classes |= anc[t]
        all_classes.discard(CLIMATE_MIND)

        membership: dict[str, list[str]] = {}
        for t in ind["types"]:
            if t not in anc:
                continue
            for sc in superclasses:
                if onto.class_label[sc] in anc[t]:
                    to_add = sorted(anc[t] - {CLIMATE_MIND})
                    membership[onto.class_label[sc]] = to_add  # last wins

        props = {k: [] for k in annot_keys}
        for iri, vals in ind["annot"].items():
            props[annot_by_iri[iri]] = list(vals)
        dprops: dict[str, object] = {k: None for k in data_keys}
        for iri, vals in ind["data"].items():
            # reference data properties are functional: scalar or None
            dprops[data_by_iri[iri]] = vals[0] if vals else None

        frag = ind["iri"].rsplit("#", 1)[-1]
        rows.append({
            "concept_id": ind["label"],
            "label": ind["label"],
            # owlready2 str(individual) == "<onto name>.<fragment>"
            "iri": f"{onto.name}.{frag}",
            "comment": str(ind["comments"]),       # str(node.comment) spelling
            "direct_classes": direct,
            "all_classes": sorted(all_classes),
            "super_class_membership": membership,
            "properties": props,
            "data_properties": dprops,
        })
    return rows


def edge_triples(onto: OwlOntology) -> list[tuple[str, str, str]]:
    """(subject, object, predicate) — the deduped output of the reference's
    labeled-edge DFS (``network_class.py:121-156`` + A1 dedup at
    ``make_network.py:44``): every object-property link between labeled
    individuals, predicate spelled through ``give_alias``."""
    ind_label = {i["iri"]: i["label"] for i in onto.individuals
                 if i["label"] is not None}
    seen = set()
    out = []
    for ind in onto.individuals:
        if ind["label"] is None:      # unlabeled: no triple can name it
            continue
        for prop_iri, tgt in ind["links"]:
            if tgt not in ind_label:
                continue
            t = (ind["label"], ind_label[tgt],
                 give_alias(onto.object_props[prop_iri]))
            if t not in seen:
                seen.add(t)
                out.append(t)
    return out


def concept_rows_from_owl(path: str) -> list[dict]:
    return concept_rows(parse_owl(path))


def concepts_df_from_owl(spark, path: str, alias_fn=None):
    """S1 end-to-end: .owl file -> broadcastable concepts DataFrame with the
    standard CONCEPT_SCHEMA (drop-in for ``dictionary.concepts_df``)."""
    from .dictionary import concepts_df_from_rows, default_aliases
    return concepts_df_from_rows(spark, concept_rows_from_owl(path),
                                 alias_fn or default_aliases)


def triples_df_from_owl(spark, path: str):
    """EP2 front half from OWL: DataFrame[subj, pred, obj] (plus null
    provenance columns so it feeds the same pipeline as web triples)."""
    rows = [(s, p, o) for (s, o, p) in edge_triples(parse_owl(path))]
    return local_frame(spark, rows, "subj string, pred string, obj string")
