import json
from importlib import resources

import pytest

from climatemind_ontology_processing_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="cmkg-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


# ---- visualization-subgraphs pickle vs the committed golden fixture -------

# value vectors whose order is data; every other list is set-like
_ORDERED_KEYS = {"personal_values_10", "personal_values_19", "political_value"}


def _normalize(attrs: dict) -> dict:
    """Order-insensitive view of a reference-style attribute dict (URL bags
    and class lists are Python-set order in the reference)."""
    out = {}
    for k, v in attrs.items():
        if isinstance(v, list) and k not in _ORDERED_KEYS:
            out[k] = sorted(map(str, v))
        elif isinstance(v, dict):
            out[k] = {kk: sorted(map(str, vv)) if isinstance(vv, list) else vv
                      for kk, vv in v.items()}
        else:
            out[k] = v
    return out


def _golden_node_attrs(g: dict) -> dict:
    """A golden_graph.json node as the reference pickles it: reference key
    spellings, super-class membership spread into per-class keys."""
    return {
        "label": g["label"], "iri": g["iri"], "comment": g["comment"],
        "direct classes": g["direct_classes"], "all classes": g["all_classes"],
        "properties": g["properties"], "data_properties": g["data_properties"],
        "personal_values_10": g["personal_values_10"],
        "personal_values_19": g["personal_values_19"],
        "political_value": g["political_value"],
        **g["super_class_membership"],
        "cyto_classes": g["cyto_classes"],
    }


def _assert_pickle_matches_golden(got: dict) -> None:
    """``got`` is a loaded graphs_for_visualization.pickle.  Checks, against
    data/golden_graph.json: the 25 subgraph names, each subgraph's node and
    edge sets, every node's attributes (except in 'upstream', which the
    reference copied before cyto annotation), and the type, properties and
    cyto_classes of every edge the fixture carries.  The reversed
    solution edges of the personal-value subgraphs are not fixture edges:
    only their presence (as a flipped fixture edge) is checked."""
    golden = json.loads(
        (resources.files("climatemind_ontology_processing_spark.data")
         / "golden_graph.json").read_text())
    edges = {(e["src"], e["dst"]): e for e in golden["edges"]}
    assert set(got) == set(golden["subgraphs"])
    for name, want in golden["subgraphs"].items():
        g = got[name]
        assert set(g.nodes) == set(want["nodes"]), name
        assert set(g.edges) == {tuple(e) for e in want["edges"]}, name
        if name != "upstream":
            for n in g.nodes:
                assert _normalize(dict(g.nodes[n])) == _normalize(
                    _golden_node_attrs(golden["nodes"][n])), (name, n)
        for u, v in g.edges:
            ref = edges.get((u, v))
            if ref is None:
                assert (v, u) in edges, (name, u, v)
                continue
            ge = g.edges[u, v]
            assert ge.get("type") == ref["type"], (name, u, v)
            assert _normalize(ge.get("properties") or {}) == \
                _normalize(ref["properties"]), (name, u, v)
            assert sorted(ge.get("cyto_classes", [])) == \
                ref["cyto_classes"], (name, u, v)


@pytest.fixture(scope="session")
def assert_pickle_matches_golden():
    return _assert_pickle_matches_golden


@pytest.fixture(scope="session")
def normalize_attrs():
    return _normalize
