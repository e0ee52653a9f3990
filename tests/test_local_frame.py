"""``session.local_frame`` gives the rows ``createDataFrame(list, schema)``
gives, as an Arrow local relation instead of a pickled Python RDD."""
from __future__ import annotations

import datetime
import math
import time

import pytest

from climatemind_ontology_processing_spark.session import local_frame

NAN = float("nan")


def _canon(v):
    """NaN as a marker (NaN != NaN); maps stay dicts, so they compare as
    maps whatever their entry order."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return v


def _same_as_list_route(spark, rows, ddl):
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert [_canon(list(r)) for r in got.collect()] == \
        [_canon(list(r)) for r in want.collect()]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    return got


def test_top_level_nan_stays_nan(spark):
    got = _same_as_list_route(
        spark, [(NAN, NAN, 1), (None, None, 2), (1.5, -0.0, 3)],
        "d double, f float, k int")
    assert math.isnan(got.filter("k = 1").first()["d"])


@pytest.mark.parametrize("ddl, value", [
    ("m map<string,double>", {"a": 1.0, "b": NAN}),
    ("a array<double>", [1.0, NAN]),
    ("s struct<x: double>", (NAN,)),
])
def test_nested_nan_raises_naming_the_column(spark, ddl, value):
    # the Arrow route would write null there; it must never do so silently
    with pytest.raises(ValueError, match=repr(ddl.split()[0])):
        local_frame(spark, [(value,)], ddl)


def test_nested_doubles_without_nan(spark):
    _same_as_list_route(
        spark, [({"a": 1.0, "b": None}, [1.0, None]), ({}, []), (None, None)],
        "m map<string,double>, a array<double>")


def test_maps_arrays_and_nulls(spark):
    _same_as_list_route(spark, [
        ({"a": ["x", "y"], "b": None}, ["p"], "s"),
        (None, None, None),          # a null map<string,array<string>>
        ({}, [], ""),                # empty map and array
        ({"k": []}, [None], None),
    ], "m map<string,array<string>>, a array<string>, s string")


def test_dict_rows_and_long_values(spark):
    rows = [{"id": 2 ** 40, "n": -(2 ** 33), "i": 2 ** 31 - 1},
            {"id": None, "n": 0, "i": None}]
    ddl = "id bigint, n long, i int"
    got = local_frame(spark, rows, ddl)
    want = spark.createDataFrame([tuple(r.values()) for r in rows], ddl)
    assert got.collect() == want.collect()


def test_timestamps_read_as_local_time(spark, monkeypatch):
    """The list route reads naive datetimes in the process time zone."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        naive = datetime.datetime(2024, 7, 1, 12, 30, 5, 123456)
        aware = datetime.datetime(2024, 1, 2, 3, 4, tzinfo=datetime.timezone.utc)
        got = _same_as_list_route(
            spark, [(naive, naive), (aware, None), (None, naive)],
            "t timestamp, n timestamp_ntz")
        assert got.selectExpr("unix_micros(t)").first()[0] == \
            int(naive.timestamp()) * 10 ** 6 + 123456
    finally:
        monkeypatch.undo()
        time.tzset()


def test_empty_rows(spark):
    got = _same_as_list_route(
        spark, [], "a string, m map<string,array<string>>, d double")
    assert got.count() == 0


def test_arrow_conf_off_still_local(spark):
    """A plain session leaves ``arrow.pyspark.enabled`` off (as under
    ``bin/run_pipeline.py``); the frame is still a local relation."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    spark.conf.set(key, "false")
    try:
        _same_as_list_route(spark, [("a", 1.0), ("b", NAN)],
                            "s string, d double")
    finally:
        spark.conf.set(key, "true")
