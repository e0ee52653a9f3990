"""Property-based checks (hypothesis) for the pure-Python kernels — these run
inside executors at 10^12-row scale, so fuzzing them matters more than any
single example."""
from __future__ import annotations

import string

from hypothesis import given, settings
from hypothesis import strategies as st

from climatemind_ontology_processing_spark.functions.text import (
    decode_html, html_to_text)
from climatemind_ontology_processing_spark.functions.triples import (
    extract_from_text)
from climatemind_ontology_processing_spark.sources.dictionary import alias_map
from climatemind_ontology_processing_spark.sources.pages import gen_row


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=2000))
def test_decode_never_raises(raw):
    """Any byte payload decodes (latin-1 terminal fallback) and extraction
    terminates."""
    text = html_to_text(raw)
    assert isinstance(text, str)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.printable, max_size=500))
def test_html_roundtrip_paragraphs(body_text):
    """Text placed in a <p> comes back whitespace-normalized, never with tags."""
    import html as html_mod
    doc = f"<html><body><p>{html_mod.escape(body_text)}</p></body></html>".encode()
    out = html_to_text(doc)
    assert "<" not in out or "<" in body_text
    assert out == "\n".join(
        " ".join(part.split()) for part in body_text.split("\n")
        if part.strip())


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=string.ascii_lowercase + " .", max_size=300))
def test_extract_never_raises_and_slots_resolve(text):
    aliases = alias_map()
    for subj, pred, obj, score in extract_from_text(text, aliases):
        assert subj in set(aliases.values())
        assert obj in set(aliases.values())
        assert 0 < score <= 1.0


@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=10_000_000))
def test_gen_row_total_determinism(i):
    a = gen_row(42, i)
    b = gen_row(42, i)
    assert a == b
    assert html_to_text(a[2]) == a[3]  # extraction invariant for any row id


@given(st.lists(st.tuples(st.integers(0, 10_000), st.integers(0, 500)),
                max_size=60, unique_by=lambda t: t[0]),
       st.integers(min_value=1, max_value=64),
       st.integers(min_value=1, max_value=512))
@settings(max_examples=200, deadline=None)
def test_packing_bucket_decomposition_equals_global_cumsum(
        docs, bucket_size, seq_len):
    """The two-phase prefix sum packed_spans distributes (per-bucket
    totals + within-bucket cumsum) must equal the naive global cumsum in
    doc_id order, for ARBITRARY sparse/unsorted id sets and bucket sizes
    — the decomposition is the scale-critical step, so pin it in pure
    Python across the whole input space."""
    eos = 1
    ordered = sorted(docs)
    # naive global prefix
    naive = {}
    acc = 0
    for doc_id, n in ordered:
        naive[doc_id] = acc
        acc += n + eos
    # two-phase: bucket totals in bucket order, then within-bucket prefix
    from collections import defaultdict
    buckets = defaultdict(list)
    for doc_id, n in ordered:
        buckets[doc_id // bucket_size].append((doc_id, n))
    offsets = {}
    running = 0
    for b in sorted(buckets):
        offsets[b] = running
        running += sum(n + eos for _, n in buckets[b])
    for b, members in buckets.items():
        within = 0
        for doc_id, n in sorted(members):
            start = offsets[b] + within
            within += n + eos
            assert start == naive[doc_id], (doc_id, start, naive[doc_id])
            # span arithmetic invariants
            first, last = start // seq_len, (start + n + eos - 1) // seq_len
            assert first <= last
            assert first * seq_len <= start
            assert start + n + eos - 1 < (last + 1) * seq_len
