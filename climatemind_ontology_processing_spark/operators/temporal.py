"""Temporal joins Spark lacks as built-ins (task brief: "as-of join, range
join" as custom-operator examples) — composed from existing DataFrame ops,
no Pandas fallback needed.

* ``asof_join`` — for each left row, the LATEST right row with
  ``right_ts <= left_ts`` per key (the time-series point-in-time join,
  e.g. "the user's most recent click before each purchase").  Implemented
  with the union-tag trick: interleave both sides sorted by (key, ts, side)
  and carry the last right payload forward with ``F.last(ignorenulls)``.
  ONE shuffle on the key, a per-key sort, no join at all — the shape that
  survives 100x scale because it never builds candidate pairs.  Skewed keys
  are bounded by per-key row counts, same as any windowed computation.

* ``interval_join`` — event ⨝ interval containment
  (``start <= ts <= end``).  A naive ``BETWEEN`` theta-join is a broadcast
  nested loop (quadratic work at scale); the scale path BINS time into
  fixed-width buckets: intervals explode into the buckets they overlap,
  events map to their bucket, the join becomes an EQUI-join on (bucket) —
  Catalyst gets a hash join — and the exact BETWEEN predicate filters
  within buckets.  Work is O(events + intervals·span/bin + matches).
  Pick ``bin_width`` near the typical interval length so each interval
  lands in O(1) buckets.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str = "ts", right_ts: str = "ts",
              right_cols: list[str] | None = None,
              prefix: str = "asof_") -> DataFrame:
    """Point-in-time join: every ``left`` row gains the latest ``right``
    row's columns (prefixed) with ``right_ts <= left_ts``, matched per
    ``key``; no match -> nulls (LEFT semantics).  Ties on the timestamp
    match (<=, not <), like SQL ASOF JOIN.  If the RIGHT side has exact
    (key, ts) duplicates, which of them wins is not deterministic — the
    same caveat SQL ASOF carries; dedupe the right side or use a
    finer-grained timestamp when that matters.

    NULL timestamps follow SQL ASOF semantics: right rows with a NULL
    ``right_ts`` can never satisfy ``right_ts <= left_ts`` (the comparison
    is unknown), so they are dropped before the union; left rows with a
    NULL ``left_ts`` sort before every surviving right row (Spark asc is
    nulls-first) and therefore carry no match (null asof columns).
    """
    from pyspark.sql import types as T

    reserved = {"_k", "_t", "_side", "_lrow", "_rrow", "_match"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(f"asof_join reserves internal columns {sorted(clash)}")
    rcols = (right_cols if right_cols is not None     # [] means "ts only"
             else [c for c in right.columns if c not in (key, right_ts)])
    # NULL structs cast to a DataType OBJECT (no DDL string round-trip, and
    # crucially a genuinely-null struct: a struct of null FIELDS would count
    # as non-null for last(ignorenulls) and clobber the carried match)
    rstruct = T.StructType(
        [T.StructField(c, right.schema[c].dataType) for c in rcols]
        + [T.StructField("_rts", right.schema[right_ts].dataType)])
    lstruct = T.StructType(
        [T.StructField(c, left.schema[c].dataType) for c in left.columns])

    l = left.select(
        F.col(key).alias("_k"), F.col(left_ts).alias("_t"),
        F.lit(1).alias("_side"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_lrow"),
        F.lit(None).cast(rstruct).alias("_rrow"))
    # SQL ASOF: NULL right_ts is never "<= left_ts" — drop before the union
    # (otherwise nulls-first ordering would carry a null-ts right row as the
    # match for left rows that have no real prior right row)
    right = right.filter(F.col(right_ts).isNotNull())
    r = right.select(
        F.col(key).alias("_k"), F.col(right_ts).alias("_t"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(lstruct).alias("_lrow"),
        F.struct(*[F.col(c).alias(c) for c in rcols] +
                 [F.col(right_ts).alias("_rts")]).alias("_rrow"))
    u = l.unionByName(r)
    # right rows sort BEFORE left rows at equal ts, so <= matches
    w = (Window.partitionBy("_k")
         .orderBy(F.col("_t").asc(), F.col("_side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    carried = u.withColumn("_match", F.last("_rrow", ignorenulls=True).over(w))
    out = carried.filter(F.col("_side") == 1).select(
        "_lrow.*",
        *[F.col(f"_match.{c}").alias(f"{prefix}{c}") for c in rcols],
        F.col("_match._rts").alias(f"{prefix}{right_ts}"))
    return out


def interval_join(events: DataFrame, intervals: DataFrame,
                  ts_col: str = "ts", start_col: str = "start",
                  end_col: str = "end", bin_width: int = 3600,
                  how: str = "inner") -> DataFrame:
    """Containment join: event rows matched to every interval with
    ``start <= ts <= end`` (timestamps as epoch-second longs).  Equi-join on
    time bins + exact filter — never a nested-loop theta join.
    """
    if how != "inner":
        raise ValueError("interval_join supports how='inner'")
    if "_bin" in events.columns or "_bin" in intervals.columns:
        raise ValueError("interval_join reserves the internal column '_bin'")
    ev = events.withColumn(
        "_bin", (F.col(ts_col) / bin_width).cast("long"))
    iv = intervals.withColumn(
        "_bin", F.explode(F.sequence(
            (F.col(start_col) / bin_width).cast("long"),
            (F.col(end_col) / bin_width).cast("long"))))
    joined = ev.join(iv, "_bin").filter(
        (F.col(ts_col) >= F.col(start_col)) &
        (F.col(ts_col) <= F.col(end_col)))
    # an interval spanning k bins can meet the same event only in the
    # event's own bin, so no dedup is needed: (event_bin == interval_bin)
    # pairs are unique by construction
    return joined.drop("_bin")


def scd2_compact(obs: DataFrame, keys: tuple[str, ...], val_col: str,
                 order_cols: tuple[str, ...]) -> DataFrame:
    """Temporal KG maintenance: compact per-key observation streams into
    SCD2 validity runs (type-2 slowly-changing dimension) — a
    continuously-recrawled KG observes the same (subject, predicate) with
    changing objects, and history queries need "what did we believe when",
    not the latest snapshot.

    ``obs`` rows are observations of ``val_col`` for a ``keys`` entity,
    totally ordered per key by ``order_cols`` (pass a tiebreak column —
    e.g. an event/order id — as the last order col; a non-total order
    would make run boundaries nondeterministic).  A run starts where the
    value differs from the previous observation (null-safe compare); the
    no-change observations — the overwhelming majority of a recrawl
    stream — are dropped right after the lag, so only run starts reach
    the second window.  One keyed shuffle total; the (keys) set is the
    natural partition at 10^12 observations.

    Returns one row per run: ``keys..., val_col, order_cols...`` (the
    run's FIRST observation = valid-from), ``_valid_to`` (struct of the
    NEXT run's order values, NULL for the current run) and ``is_current``
    (int 1/0).  Callers project ``_valid_to.<col>`` to scalars.
    """
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    prev = F.lag(F.col(val_col)).over(w)
    starts = (obs
              .withColumn("_chg",
                          prev.isNull() | ~F.col(val_col).eqNullSafe(prev))
              .filter(F.col("_chg")).drop("_chg"))
    w2 = Window.partitionBy(*keys).orderBy(*order_cols)
    nxt = F.lead(F.struct(*[F.col(c) for c in order_cols])).over(w2)
    return (starts
            .select(*keys, val_col, *order_cols, nxt.alias("_valid_to"))
            .withColumn("is_current",
                        F.col("_valid_to").isNull().cast("int")))


def current_facts(claims: DataFrame, subj: str = "subj", pred: str = "pred",
                  obj: str = "obj", ts: str = "ts",
                  tie_col: str | None = None) -> DataFrame:
    """Latest-assertion-wins fact resolution — the KG freshness view over
    a timestamped claim stream (crawl observations keyed by warc_ts).

    For each (subj, pred): the obj of the row with max ``ts`` wins; exact
    ts ties break by ``tie_col`` descending then obj ascending, so the
    result is a deterministic function of the input set (retry-stable).
    Also reports the conflict census downstream curation wants:
    ``n_versions`` (total assertions) and ``n_values`` (distinct objects
    ever claimed) — n_values > 1 marks churned/contested facts.

    One groupBy — min_by carries the winner, the counts are map-side
    combinable.  No window, no sort, no per-key row explosion: this is
    the shape that holds when one hot entity has 10^6 observations.

    Mixed-direction tie-break trick: a single min_by/max_by struct
    comparator is monotone one way only, and the obj side is a string
    (can't negate) — so rank under MIN with the numeric keys negated:
    (-unix_micros(ts), -tie, obj) minimized == (ts DESC, tie DESC,
    obj ASC).
    """
    tneg = -F.unix_micros(F.col(ts).cast("timestamp"))
    tie = -F.col(tie_col).cast("long") if tie_col else F.lit(0)
    return (claims.groupBy(F.col(subj).alias("subj"),
                           F.col(pred).alias("pred"))
            .agg(F.min_by(F.struct(F.col(obj).alias("obj"),
                                   F.col(ts).alias("ts")),
                          F.struct(tneg.alias("t"), tie.alias("tb"),
                                   F.col(obj).alias("o"))).alias("_w"),
                 F.count("*").cast("long").alias("n_versions"),
                 F.countDistinct(obj).cast("long").alias("n_values"))
            .select("subj", "pred", F.col("_w.obj").alias("obj"),
                    F.col("_w.ts").alias("valid_from"),
                    "n_versions", "n_values"))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          start_col: str = "start", end_col: str = "end",
                          keys: tuple[str, ...] = (),
                          bin_width: int = 3600,
                          prefix: str = "r_") -> DataFrame:
    """Interval × interval overlap join (Allen "not disjoint", closed
    endpoints): every (left, right) pair with
    ``l.start <= r.end AND r.start <= l.end``, optionally equi-matched on
    ``keys`` first.  Timestamps are epoch-second longs.

    Equi-join on time bins — NEVER a nested-loop theta join.  Both sides
    explode their ``start..end`` bin range; a pair is emitted ONLY in the
    bin containing ``max(l.start, r.start)`` (the overlap's first
    instant), which both bin ranges contain iff the intervals overlap —
    each qualifying pair appears exactly once with NO distinct/dedup
    shuffle.  Cost is rows × interval_span/bin_width; pick ``bin_width``
    near the median interval length so most intervals explode to 1-2
    bins.  Negative-length intervals (end < start) RAISE lazily — a
    silent empty sequence would drop them invisibly.

    Right columns come back ``prefix``-renamed; ``keys`` keep one copy.
    """
    if bin_width <= 0:
        raise ValueError("bin_width must be positive")
    reserved = {"_bin", "_lo", "_hi"}
    clash = reserved & (set(left.columns) | set(right.columns))
    if clash:
        raise ValueError(
            f"interval_overlap_join reserves internal columns "
            f"{sorted(clash)}")

    def binned(df, side):
        guard = F.when(
            F.col(end_col) < F.col(start_col),
            F.raise_error(F.concat(
                F.lit(f"interval_overlap_join: end < start on {side} row "
                      "with start="),
                F.col(start_col).cast("string")))
        ).otherwise(F.col(end_col))
        return (df.withColumn("_hi", guard)
                .withColumn("_bin", F.explode(F.sequence(
                    (F.col(start_col) / bin_width).cast("long"),
                    (F.col("_hi") / bin_width).cast("long"))))
                .drop("_hi"))

    l = binned(left, "left")
    r = binned(right, "right")
    rrenamed = r.select(
        "_bin",
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"{prefix}{c}") for c in r.columns
          if c not in ("_bin", *keys)])
    joined = l.join(rrenamed, ["_bin", *keys])
    ov_start = F.greatest(F.col(start_col), F.col(f"{prefix}{start_col}"))
    emit = (
        (F.col(start_col) <= F.col(f"{prefix}{end_col}"))
        & (F.col(f"{prefix}{start_col}") <= F.col(end_col))
        & (F.col("_bin") == (ov_start / bin_width).cast("long")))
    return joined.filter(emit).drop("_bin")


def coalesce_intervals(intervals: DataFrame, keys: tuple[str, ...] = (),
                       start_col: str = "start", end_col: str = "end",
                       gap: int = 0) -> DataFrame:
    """Merge overlapping (and up-to-``gap``-apart) closed intervals per
    key into maximal disjoint intervals — the batch interval-coalesce
    primitive (validity-period compaction, session flattening, span-merge).

    Gaps-and-islands, one window per key: an interval starts a new island
    iff its start exceeds the running max end of all PRIOR intervals (in
    (start, end) order) by more than ``gap``; island id = running sum of
    the new-island flag; one aggregate emits (key..., start, end,
    n_merged).  The window partitions by key, so skew is bounded by the
    busiest key — at web scale, key by (entity, day) if one entity's
    interval count is unbounded.  Negative-length intervals RAISE (same
    guard as ``interval_overlap_join``)."""
    checked_end = F.when(
        F.col(end_col) < F.col(start_col),
        F.raise_error(F.concat(
            F.lit("coalesce_intervals: end < start on row with start="),
            F.col(start_col).cast("string")))).otherwise(F.col(end_col))
    base = intervals.select(*keys, F.col(start_col).alias("_s"),
                            checked_end.alias("_e"))
    order = Window.partitionBy(*[F.col(k) for k in keys]) \
        .orderBy("_s", "_e")
    prev_max_end = F.max("_e").over(
        order.rowsBetween(Window.unboundedPreceding, -1))
    flagged = base.withColumn(
        "_new", F.when(prev_max_end.isNull()
                       | (F.col("_s") > prev_max_end + gap), 1)
                 .otherwise(0))
    islands = flagged.withColumn(
        "_island", F.sum("_new").over(
            order.rowsBetween(Window.unboundedPreceding, 0)))
    return (islands.groupBy(*keys, "_island")
            .agg(F.min("_s").alias(start_col),
                 F.max("_e").alias(end_col),
                 F.count("*").alias("n_merged"))
            .drop("_island"))


def burst_scores(events: DataFrame, ts_col: str = "ts",
                 key_cols: tuple[str, ...] = ("event_type",),
                 bucket: int = 3600, trailing: int = 24) -> DataFrame:
    """Windowed burst detection (the Kleinberg-burst shape reduced to
    window algebra): per key and time bucket, the event count against the
    trailing ``trailing``-bucket history, as an integer micro ratio

        ratio_micro = n * trailing * 10^6 DIV trailing_sum

    (> 10^6 means above trailing average).  ``ts_col`` is an epoch-second
    long.  The frame is a RANGE frame over the integer bucket index, so
    EMPTY buckets correctly dilute the trailing average (a ROWS frame
    would silently skip gaps and under-flag bursts after quiet periods).
    Buckets with no trailing history (trailing_sum NULL or 0) are
    emitted with a NULL ratio — a burst claim needs a baseline.

    Scale: one map-side-combinable count per (key, bucket), then one
    window partitioned by key over the BUCKET series (already aggregated
    — window input is buckets, not events)."""
    if bucket <= 0 or trailing <= 0:
        raise ValueError("bucket and trailing must be positive")
    b = F.floor(F.col(ts_col) / bucket).cast("long")
    counts = (events.select(*key_cols, b.alias("bucket_idx"))
              .groupBy(*key_cols, "bucket_idx")
              .agg(F.count("*").alias("n")))
    w = (Window.partitionBy(*[F.col(k) for k in key_cols])
         .orderBy("bucket_idx").rangeBetween(-trailing, -1))
    ts_sum = F.sum("n").over(w)
    return (counts
            .withColumn("trailing_n", F.coalesce(ts_sum, F.lit(0))
                        .cast("long"))
            .withColumn(
                "ratio_micro",
                F.when(F.col("trailing_n") > 0,
                       F.expr(f"(n * {trailing} * 1000000L)"
                              f" div trailing_n"))))


def funnel_steps(events: DataFrame, steps: tuple[str, ...],
                 key_col: str = "user_id", ts_col: str = "ts",
                 type_col: str = "event_type",
                 window: int | None = None) -> DataFrame:
    """Ordered funnel progress per key under EARLIEST-COMPLETION
    semantics: step i's timestamp is the minimum event time of type
    ``steps[i]`` STRICTLY AFTER step i-1's timestamp (the standard
    greedy funnel — earliest completion maximizes conversion, so greedy
    is optimal for "did the user convert").  Returns one row per key
    that completed step 1: (key, n_steps, t_first, t_last), where
    ``n_steps`` counts completed prefix steps and ``window`` (seconds,
    optional) additionally requires t_last - t_first <= window —
    enforced per PREFIX, so a user is credited with the longest prefix
    finishing inside the window.

    One aggregate per step (min over the candidate events joined to the
    per-key previous-step time) — step count is pipeline depth, never
    data volume; every aggregate is map-side combinable."""
    if len(steps) < 2:
        raise ValueError("a funnel needs >= 2 steps")
    ev = events.select(F.col(key_col).alias("k"),
                       F.col(ts_col).cast("long").alias("t"),
                       F.col(type_col).alias("ty"))
    cur = (ev.filter(F.col("ty") == steps[0])
           .groupBy("k").agg(F.min("t").alias("t1"))
           .select("k", "t1", F.col("t1").alias("t_last"),
                   F.lit(1).alias("n_steps")))
    for i, step in enumerate(steps[1:], start=2):
        nxt = (ev.filter(F.col("ty") == step)
               .join(cur.select("k", "t1", F.col("t_last").alias("_prev")),
                     "k")
               .filter(F.col("t") > F.col("_prev")))
        if window is not None:
            nxt = nxt.filter(F.col("t") - F.col("t1") <= window)
        done = (nxt.groupBy("k")
                .agg(F.min("t").alias("_t")) \
                .select("k", F.col("_t").alias("t_last"),
                        F.lit(i).alias("n_steps")))
        cur = (cur.join(done.withColumnRenamed("t_last", "_nt")
                        .withColumnRenamed("n_steps", "_ns"), "k", "left")
               .select("k", "t1",
                       F.coalesce("_nt", "t_last").alias("t_last"),
                       F.coalesce("_ns", "n_steps").alias("n_steps")))
    return cur.select(F.col("k").alias(key_col), "n_steps",
                      F.col("t1").alias("t_first"), "t_last")


def funnel_counts(events: DataFrame, steps: tuple[str, ...],
                  key_col: str = "user_id", ts_col: str = "ts",
                  type_col: str = "event_type",
                  window: int | None = None) -> DataFrame:
    """(step_idx, step, n_keys) — how many keys completed at least each
    prefix of the funnel; the conversion report over
    :func:`funnel_steps`."""
    f = funnel_steps(events, steps, key_col, ts_col, type_col, window)
    spark = events.sparkSession
    idx = local_frame(
        spark,
        [(i + 1, s) for i, s in enumerate(steps)], "step_idx int, step string")
    counts = (f.groupBy("n_steps").agg(F.count("*").alias("_n"))
              .withColumnRenamed("n_steps", "step_idx"))
    w = Window.orderBy(F.desc("step_idx")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    return (idx.join(counts, "step_idx", "left")
            .withColumn("n_keys",
                        F.sum(F.coalesce("_n", F.lit(0))).over(w))
            .select("step_idx", "step", F.col("n_keys").cast("long")
                    .alias("n_keys")))


def event_transitions(events: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      tiebreak_col: str | None = None) -> DataFrame:
    """First-order Markov transition census over per-key event sequences:
    (prev_type, next_type, n, p_micro) where ``p_micro`` = n * 10^6 DIV
    out-degree of prev_type (truncating — engine-exact).  Ordering within
    a key is (ts, tiebreak, type); pass a unique ``tiebreak_col`` (e.g.
    the event id) whenever timestamps can collide, otherwise equal-ts
    pairs would order nondeterministically.

    One lag window per key (skew bounded by the busiest key) + one
    map-side-combinable count; the probability divisor rides the row via
    a window sum over the pair census (transition-type-sized, tiny)."""
    order_cols = [F.col(ts_col)]
    if tiebreak_col is not None:
        order_cols.append(F.col(tiebreak_col))
    order_cols.append(F.col(type_col))
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    seq = events.select(F.col(type_col).alias("next_type"),
                        F.lag(type_col).over(w).alias("prev_type"))
    pairs = (seq.filter(F.col("prev_type").isNotNull())
             .groupBy("prev_type", "next_type")
             .agg(F.count("*").alias("n")))
    out = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type", "next_type", "n",
        F.expr("(n * 1000000) div (sum(n) over "
               "(partition by prev_type))").alias("p_micro"))


def decayed_counts(events: DataFrame, key_cols: tuple[str, ...],
                   ts_col: str = "ts", bucket: int = 3600,
                   horizon: int = 16) -> DataFrame:
    """Half-life-decayed activity counters in EXACT integer arithmetic:
    for every key and bucket index t touched by any contribution,

        decayed(key, t) = sum_{0 <= d < horizon} n(key, t - d) DIV 2^d

    — one halving per elapsed bucket, truncating division, so the score
    is a BIGINT and identical on every engine (the floatless analogue of
    exp-decay freshness weighting).  ``horizon`` caps the lookback:
    a count n contributes nothing beyond log2(n) buckets anyway, so any
    horizon >= 63 is exact for all BIGINT counts; smaller horizons trade
    a documented truncation for less fan-out.

    Shape: per-(key, bucket) census (map-side combinable), each census
    row EXPLODES into its <= horizon future buckets with pre-shifted
    contributions (rows whose shifted value is already 0 are filtered
    before the shuffle), then one sum.  Fan-out is bounded by
    horizon x active buckets — never by raw event count."""
    if bucket <= 0 or not (1 <= horizon <= 63):
        raise ValueError("bucket must be positive and 1 <= horizon <= 63")
    b = F.floor(F.col(ts_col) / bucket).cast("long")
    census = (events.select(*key_cols, b.alias("_b"))
              .groupBy(*key_cols, "_b").agg(F.count("*").alias("n")))
    contrib = (census
               .select(*key_cols, "_b", "n",
                       F.explode(F.sequence(
                           F.lit(0), F.lit(horizon - 1))).alias("_d"))
               .select(*key_cols,
                       (F.col("_b") + F.col("_d")).alias("bucket_idx"),
                       F.expr("n div cast(pow(2, _d) as long)")
                       .alias("_c"))
               .filter(F.col("_c") > 0))
    return (contrib.groupBy(*key_cols, "bucket_idx")
            .agg(F.sum("_c").alias("decayed")))
