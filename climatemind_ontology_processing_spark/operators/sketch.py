"""HyperLogLog distinct-count sketch — mergeable cardinality profiling.

At 100 TB, exact count-distinct of high-cardinality columns (urls, token
types, fingerprints) shuffles every distinct value; an HLL sketch is a
fixed 2^p-register summary with map-side combine (the shuffle carries
(register, max-rho) pairs, at most 2^p per partition) and registers from
disjoint corpus shards MERGE by register-wise max — the incremental /
multi-segment profiling shape.  Spark's own ``approx_count_distinct`` is
HLL++ with an opaque register layout; this implementation exposes the
registers and pins the estimate DETERMINISTICALLY to the hash family, so
the DuckDB oracle replays it bit-for-bit (the task brief's "novel sketch"
slot: engine-exact, auditable).

Flajolet et al. 2007 estimator with the standard small-range correction:

  E = alpha_m * m^2 / sum_j 2^(-M_j);  if E <= 2.5m and V empty registers
  exist: E = m * ln(m / V)   (linear counting)

Hash: ``dedup.token_hash`` (md5_60 -> 60 deterministic bits; the top ``p``
bits pick the register, the next ``60 - p`` bits feed rho = leading-zero
count + 1).  rho uses the BIT LENGTH of the remainder via base-2 string
conversion (Spark ``conv(x, 10, 2)``, DuckDB ``bin(x)``) — pure
integer/string arithmetic with no float anywhere in the sketch, because
``floor(log2(x))`` can flip across engines by one ulp exactly at the
powers of two where the floor changes.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .dedup import token_hash

_HASH_BITS = 60          # md5_60: 15 hex chars


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def hll_reg_rho(c: Column, p: int = 9,
                hash_family: str = "md5_60") -> tuple[Column, Column]:
    """The (register, rho) column pair for one value column — shared by
    the batch register table and the streaming windowed variant so both
    sketch the SAME layout (registers from either side merge by max)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    if hash_family != "md5_60":
        # the register/rho bit math assumes a NON-NEGATIVE 60-bit hash;
        # xxhash64's signed 64-bit output would sign-extend through
        # shiftright into negative registers and a garbage estimate
        raise ValueError("hll requires hash_family='md5_60' "
                         f"(got {hash_family!r}: signed 64-bit hashes break "
                         "the 60-bit register layout)")
    h = token_hash(c.cast("string"), hash_family)
    rem_bits = _HASH_BITS - p
    reg = F.shiftright(h, rem_bits)                  # top p bits (int pos ok)
    rem = h.bitwiseAND(F.lit(2 ** rem_bits - 1))     # low bits, >= 0
    # rho = leading zeros + 1 = rem_bits + 1 - bit_length(rem); bit length
    # via base-2 string conversion (exact integers, no float)
    rho = F.when(rem > 0,
                 F.lit(rem_bits + 1) - F.length(F.conv(rem.cast("string"),
                                                       10, 2))) \
        .otherwise(F.lit(rem_bits + 1)).cast("int")
    return reg, rho


def hll_registers(df: DataFrame, col: str | Column, p: int = 9,
                  hash_family: str = "md5_60") -> DataFrame:
    """(register, max_rho) — the sketch itself, one row per NON-EMPTY
    register (empty registers are implicit zeros; the estimator counts
    them as ``m - rows``).  Map-side combinable (max), mergeable across
    shards by unioning and re-aggregating."""
    c = F.col(col) if isinstance(col, str) else col
    reg, rho = hll_reg_rho(c, p, hash_family)
    return (df.filter(c.isNotNull())
            .select(reg.alias("register"), rho.alias("rho"))
            .groupBy("register").agg(F.max("rho").alias("max_rho")))


def hll_estimate(registers: DataFrame, p: int = 9) -> float:
    """Cardinality estimate from a register table (driver-side scalar —
    the table is at most 2^p rows).  The harmonic sum is computed over
    INTEGER-scaled terms (each 2^-rho becomes the exact long
    2^(S - rho), S = hash_bits - p + 1), so it is order-independent and
    bit-identical to the in-plan variant and the SQL oracle."""
    m = 2 ** p
    s_exp = _HASH_BITS - p + 1
    rows = [(r["register"], r["max_rho"]) for r in registers.collect()]
    total = sum(2 ** (s_exp - rho) for _, rho in rows) \
        + (m - len(rows)) * 2 ** s_exp          # exact integer arithmetic
    harm = total / float(2 ** s_exp)
    est = _alpha(m) * m * m / harm
    zeros = m - len(rows)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def hll_count_distinct(df: DataFrame, col: str | Column, p: int = 9,
                       hash_family: str = "md5_60") -> DataFrame:
    """One-row DataFrame (n_registers, estimate) — the in-plan variant:
    the estimator runs as an aggregation over the register table, so no
    driver collect is needed and the whole thing composes into larger
    plans.  The harmonic sum aggregates integer-scaled powers of two as
    BIGINTs (order-independent, engine-exact — a float sum of 2^-rho
    terms spanning > 53 bits would be partition-order-dependent)."""
    m = 2 ** p
    s_exp = _HASH_BITS - p + 1
    regs = hll_registers(df, col, p, hash_family)
    # 2^(S - rho) is exact in doubles (exponent <= S <= 57) -> exact long
    term = F.pow(F.lit(2.0), F.lit(s_exp) - F.col("max_rho")).cast("long")
    agg = regs.agg(F.count("*").alias("n_registers"),
                   F.sum(term).alias("_t"))
    # empty input: sum is NULL but the m empty registers still contribute
    # (matches hll_estimate's 0.0 on an empty register table)
    total = (F.coalesce(F.col("_t"), F.lit(0).cast("long"))
             + (F.lit(m) - F.col("n_registers")) * F.lit(2 ** s_exp))
    harm = total.cast("double") / F.lit(float(2 ** s_exp))
    est_raw = F.lit(_alpha(m) * m * m) / harm
    zeros = F.lit(m) - F.col("n_registers")
    est = F.when((est_raw <= 2.5 * m) & (zeros > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))) \
        .otherwise(est_raw)
    return agg.select("n_registers", est.alias("estimate"))


# ---------------------------------------------------------------------------
# Count-min sketch — frequency estimation / heavy hitters
# ---------------------------------------------------------------------------
def _salted_bucket(value: Column, prefix: str, salt: Column | int,
                   modulus: int, hash_family: str) -> Column:
    """The ONE probe-key contract shared by sketch writers and readers:
    ``pmod(hash("{prefix}{salt}\\x1f{value}"), modulus)``.  Writer and
    reader MUST produce byte-identical salt strings or probes silently
    miss their cells (an under-estimate for CMS) — hence a single
    helper."""
    salt_str = (F.lit(f"{prefix}{salt}") if isinstance(salt, int)
                else F.concat(F.lit(prefix), salt.cast("string")))
    return F.pmod(token_hash(F.concat_ws("\x1f", salt_str, value),
                             hash_family), F.lit(modulus))


def cms_table(df: DataFrame, col: str | Column, depth: int = 4,
              width: int = 1024, hash_family: str = "md5_60") -> DataFrame:
    """(row, bucket, cnt) — the count-min matrix as a sparse table (at most
    depth * width rows after aggregation, regardless of corpus size).
    Row j's hash is the shared ``token_hash`` salted with j; counts are
    exact BIGINTs, so shards merge by (row, bucket) SUM and the whole
    sketch replays engine-exactly.  Point estimate: min over rows of the
    (row, h_j(x)) cell — see ``cms_lookup``."""
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1, width >= 2; got {depth}x{width}")
    c = F.col(col) if isinstance(col, str) else col
    rows = df.filter(c.isNotNull()).select(c.cast("string").alias("_v"))
    cells = rows.select(F.explode(F.array(*[
        F.struct(
            F.lit(j).alias("row"),
            _salted_bucket(F.col("_v"), "cms", j, width, hash_family)
            .alias("bucket"))
        for j in range(depth)])).alias("c")) \
        .select("c.row", "c.bucket")
    return cells.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))


def cms_lookup(sketch: DataFrame, probes: list[str], depth: int = 4,
               width: int = 1024, hash_family: str = "md5_60") -> DataFrame:
    """(item, est) — upper-bound frequency estimates for ``probes`` from a
    ``cms_table`` sketch: est = min over rows of the probed cell (absent
    cell = 0).  The probe table is depth * |probes| rows and broadcasts;
    overestimation is bounded by collisions (eps ~ e/width with prob
    1 - 1/e^depth), never underestimation."""
    if not probes:
        raise ValueError("probes must be non-empty")
    spark = sketch.sparkSession
    probe_rows = [(v, j) for v in sorted(set(probes)) for j in range(depth)]
    pr = local_frame(spark, probe_rows, "item string, row int")
    pr = pr.select(
        "item", "row",
        _salted_bucket(F.col("item"), "cms", F.col("row"), width,
                       hash_family).alias("bucket"))
    joined = (pr.join(sketch, ["row", "bucket"], "left")
              .select("item", F.coalesce("cnt", F.lit(0)).alias("cnt")))
    return joined.groupBy("item").agg(F.min("cnt").alias("est"))


# ---------------------------------------------------------------------------
# Bloom filter — set membership
# ---------------------------------------------------------------------------
def bloom_bits(df: DataFrame, col: str | Column, k: int = 5,
               m_bits: int = 8192, hash_family: str = "md5_60") -> DataFrame:
    """(bit,) — the SET bit positions of a Bloom filter over ``col`` (sparse
    representation; at most m_bits rows).  Shards merge by UNION DISTINCT
    (bitwise OR).  False-positive rate ~ (1 - e^(-k*n/m))^k; never false
    negatives."""
    if k < 1 or m_bits < 2:
        raise ValueError(f"need k >= 1, m_bits >= 2; got k={k}, m={m_bits}")
    c = F.col(col) if isinstance(col, str) else col
    rows = df.filter(c.isNotNull()).select(c.cast("string").alias("_v"))
    return (rows.select(F.explode(F.array(*[
        _salted_bucket(F.col("_v"), "bloom", i, m_bits, hash_family)
        for i in range(k)])).alias("bit"))
        .distinct())


def bloom_contains(bits: DataFrame, probes: list[str], k: int = 5,
                   m_bits: int = 8192,
                   hash_family: str = "md5_60") -> DataFrame:
    """(item, maybe_present) — membership probes against ``bloom_bits``:
    present iff ALL k probed bits are set (semi-join count == k)."""
    if not probes:
        raise ValueError("probes must be non-empty")
    spark = bits.sparkSession
    pr = local_frame(
        spark, [(v, i) for v in sorted(set(probes)) for i in range(k)],
        "item string, i int")
    pr = pr.select(
        "item",
        _salted_bucket(F.col("item"), "bloom", F.col("i"), m_bits,
                       hash_family).alias("bit"))
    hits = (pr.join(bits, "bit", "left_semi")
            .groupBy("item").agg(F.count("*").alias("_hits")))
    base = local_frame(spark, [(v,) for v in sorted(set(probes))],
                       "item string")
    return (base.join(hits, "item", "left")
            .select("item",
                    (F.coalesce("_hits", F.lit(0)) == k)
                    .alias("maybe_present")))
