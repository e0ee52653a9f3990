"""SparkSession factory with the engine's standard configuration.

Arrow execution on (all Python UDF surfaces are pandas/Arrow batched — the
``input_hint`` forbids per-row Python), AQE on (runtime skew-join splitting +
coalescing belt-and-braces on top of our explicit salting).
:func:`local_frame` is the one way driver-side rows become a DataFrame.
"""
from __future__ import annotations

import math
import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .config import DEFAULT_SHUFFLE_PARTITIONS


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory``: ``$SPARK_DRIVER_MEM`` when set (the
    deployment override), else half the host's physical RAM capped at 16g —
    a fixed 16g default would exceed the RAM of a 15 GB host."""
    if "SPARK_DRIVER_MEM" in os.environ:
        return os.environ["SPARK_DRIVER_MEM"]
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys_bytes // 2, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "climatemind-kg",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS`` (or
    all cores); on a real cluster pass nothing and let spark-submit decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: coalescePartitions.parallelismFirst stays at its default
        # (true).  Size-targeted coalescing (advisory 64m, guide §2.2) was
        # A/B-measured WORSE here: several operators reduce ~20 MB that is
        # CPU-heavy (string-key hash aggregation), and byte-based
        # coalescing collapses them to one single-threaded partition.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size conditions
        # hold (guide §3.1/§9): skips the per-partition sorts of
        # sort-merge; A/B-measured -10..-30% on the join-heavy operators
        # (rule mining 4.9->3.5s min).  Sort-merge remains the fallback
        # for sides too big to hash locally.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # scan-split open cost: the 4 MB default is a packing guard for
        # directories of thousands of tiny files; it also FLOORS the split
        # size, capping single-file scan parallelism (a 10 MB parquet file
        # gets ~3 tasks on 32 cores).  256 KB reflects real open cost on
        # local/SSD storage and parallelizes small-file scans; A/B-measured
        # -10..-20% on every TPC-H-substrate query.  Production tables
        # should target 128 MB–1 GB files anyway (guide §6), where this
        # knob is inert.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Spark 4.1: localCheckpoint of a projected join fails with
        # "NoSuchElementException: key not found: <attr>" when propagated
        # constraints reference dropped join keys; the iterative traversal
        # loops (operators/traversal.py) checkpoint such plans every
        # iteration.  Our plans carry explicit filters, so losing inferred
        # constraints costs little.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # deterministic timestamps regardless of host TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # long sessions running many short queries accumulate dead
        # localCheckpoint blocks until the ContextCleaner's periodic GC
        # (default 30 MINUTES) finally releases them.  A 1-minute cadence
        # keeps the block manager drained; System.gc() on this heap
        # measured ~0.1 s, so the cadence is effectively free (hygiene —
        # co-tenant noise prevented attributing a specific win to it).
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.memory", driver_memory())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: Iterable[Any],
                schema: T.StructType | str) -> DataFrame:
    """A driver-built frame as an Arrow local relation (``LocalTableScan``).

    ``spark.createDataFrame(list, schema)`` parallelizes pickled rows and
    re-serializes them in a Python ``map`` (``RDD._pickled``), so every
    action on the frame starts Python workers.  This is the one place the
    package builds a frame from driver values, and it takes Spark's Arrow
    route from pandas instead: no Python stage runs later.  The route is
    called directly, because the public one only takes it when
    ``arrow.pyspark.enabled`` is set (a plain session leaves it off), falls
    back to the pickled path with a mere warning, and skips it for zero
    rows.

    ``rows`` are tuples in ``schema`` order or dicts keyed by field name;
    ``schema`` is a StructType or a DDL string.  Values mean what they mean
    to ``createDataFrame(list, schema)``: naive timestamps are local time,
    and a top-level NaN stays NaN (an Arrow-backed column skips the pandas
    null mask).  A NaN inside an array, map or struct would become null on
    this route, so it raises ``ValueError`` naming the column instead.
    """
    import pandas as pd

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.names
    rows = [tuple(map(r.get, names)) if isinstance(r, dict) else r
            for r in rows]
    pdf = pd.DataFrame({f.name: _column([r[i] for r in rows], f)
                        for i, f in enumerate(schema.fields)})
    return spark._create_from_pandas_with_arrow(
        pdf, schema, spark.conf.get("spark.sql.session.timeZone"))


def _column(values: list, field: T.StructField):
    """One pandas column of :func:`local_frame`."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    dt = field.dataType
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return pd.arrays.ArrowExtensionArray(pa.array(values, to_arrow_type(dt)))
    if isinstance(dt, T.TimestampType):
        # epoch micros as the list route computes them (naive = local time)
        micros = pa.array([dt.toInternal(v) for v in values], pa.int64())
        return pd.arrays.ArrowExtensionArray(micros.cast(to_arrow_type(dt)))
    if _nests_float(dt) and any(map(_has_nan, values)):
        raise ValueError(f"column {field.name!r}: a NaN inside "
                         f"{dt.simpleString()} cannot enter a local frame")
    return pd.Series(values, dtype=object)


def _nests_float(dt: T.DataType) -> bool:
    inner = ([dt.elementType] if isinstance(dt, T.ArrayType)
             else [dt.keyType, dt.valueType] if isinstance(dt, T.MapType)
             else [f.dataType for f in dt.fields]
             if isinstance(dt, T.StructType) else [])
    return any(isinstance(t, (T.FloatType, T.DoubleType)) or _nests_float(t)
               for t in inner)


def _has_nan(v: Any) -> bool:
    if isinstance(v, dict):
        v = list(v.values())
    if isinstance(v, (list, tuple)):
        return any(map(_has_nan, v))
    return isinstance(v, float) and math.isnan(v)
