"""Event-log reader and span arithmetic on a recorded fixture.

``fixtures/eventlog.jsonl`` was recorded from a traced session that ran
``extract_triples_from_html`` to a ``noop`` sink under job group ``span-3``
and then ``plans.lineage.run_bucketed`` (2 buckets, 400 pages) under
``span-4``, on ``local[2]``; it keeps only the events and fields the reader
uses, with the source paths shortened.
"""
from __future__ import annotations

import os

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def _jobs():
    return eventlog.jobs(eventlog.read_events(FIXTURE))


def test_module_of():
    assert eventlog.module_of(
        "collect at /src/climatemind_ontology_processing_spark/operators/"
        "traversal.py:412") == "operators.traversal"
    assert eventlog.module_of("collect at /src/perfbench/worker.py:10") is None
    assert eventlog.module_of(None) is None


def test_jobs_attributed_by_call_site_then_group():
    jobs = _jobs()
    names = {"span-3": "functions.extract", "span-4": "plans.lineage"}
    layers = [eventlog.layer(j, names) for j in sorted(jobs.values(),
                                                       key=lambda j: j.job_id)]
    # job 0 is the schema read before any group was set
    assert layers[0] == "unattributed"
    # the noop write records no call site: it falls back to its span
    assert layers[1] == "functions.extract"
    # run_bucketed's collects name plans/lineage.py; its writes fall back
    # to the span, which is also plans.lineage
    assert set(layers[2:]) == {"plans.lineage"}
    assert [j.job_id for j in jobs.values() if j.module == "plans.lineage"] == [2, 3, 7, 8]


def test_totals_match_the_fixture():
    jobs = _jobs()
    ext = eventlog.totals([j for j in jobs.values() if j.group == "span-3"])
    lin = eventlog.totals([j for j in jobs.values() if j.group == "span-4"])
    for got, want in ((ext, EXPECTED_EXTRACT), (lin, EXPECTED_LINEAGE)):
        assert {k: got[k] for k in want} == pytest.approx(want)


def test_skipped_stages_are_not_counted():
    # job 3 lists stages 3 and 4; stage 3 was skipped (its shuffle output
    # already existed) and only stage 4 ran
    assert _jobs()[3].stages == 1


def test_self_times_subtract_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},   # overlaps 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past 0
    ]
    st = eventlog.self_times(spans)
    assert st[0] == 10.0 - 5.0 - 1.0
    assert st[1] == 3.0
    assert st[2] == 2.0
    assert st[3] == 1.0


# summed by hand from the TaskEnd events of the fixture
EXPECTED_EXTRACT = {
    "jobs": 1, "stages": 1, "tasks": 2, "task_s": 6.256, "gc_s": 0.122,
    "shuffle_write_bytes": 0, "input_bytes": 28862, "output_bytes": 0,
    "bytes_to_python": 141256, "bytes_from_python": 95608,
    "python_boot_s": 3.079, "python_init_s": 2.055, "python_total_s": 5.212,
}
EXPECTED_LINEAGE = {
    "jobs": 8, "stages": 8, "tasks": 11, "task_s": 6.025, "gc_s": 0.040,
    "shuffle_write_bytes": 73440, "shuffle_read_bytes": 73440,
    "input_bytes": 46713, "output_bytes": 24170, "spill_bytes": 0,
    "bytes_to_python": 141256, "bytes_from_python": 95608,
    "python_boot_s": 0.0, "python_init_s": 7.882, "python_total_s": 1.151,
}
