"""Registry plumbing + shared fragments for the query inventory."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from nerd_spark.session import read_table

REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a (spark_fn, oracle_sql) pair. oracle=None -> the
    driver records a weaker rows-only check (non-SQL-expressible op).
    """

    def deco(fn):
        REGISTRY[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


# SQL fragment: the reputation nonlinearity 1 - 0.5^(v/s), capped at 1
# (reference: NERDd/modules/reputation.py:16-21). Keep in sync with
# nerd_spark.functions.mathx.nonlin.
def nonlin_sql(v: str, scale: float) -> str:
    return f"least(1.0 - pow(0.5, ({v}) / {scale}), 1.0)"


# Shared DuckDB CTE fragment for the A6 per-source reputation (warden
# extractor): 14-day linear-decay weighted mean of nonlin(events) *
# nonlin(cats) (reference: NERDd/modules/reputation.py:111-221). Lives
# here (not in analytics.py) so surface.py's oracles can reuse it
# without forcing analytics to register first.
_REP_DENOM_14 = sum((14 - a) / 14 for a in range(14))

_REP_SQL = f"""
  daily AS (
    SELECT user_id AS entity, CAST(ts AS DATE) AS d, event_type AS cat,
           count(*) AS n
    FROM events GROUP BY 1, 2, 3
  ),
  as_of AS (SELECT max(ts) AS as_of FROM events),
  per_day AS (
    SELECT entity, d, sum(n) AS nd, count(DISTINCT cat) AS cats
    FROM daily, as_of
    WHERE date_diff('day', d, CAST(as_of AS DATE)) < 14
    GROUP BY 1, 2
  ),
  rep AS (
    SELECT entity,
           round(sum({nonlin_sql("nd", 5.0)} * {nonlin_sql("cats", 2.0)}
                     * (14 - date_diff('day', d, CAST(as_of AS DATE))) / 14.0)
                 / {_REP_DENOM_14}, 6) AS rep_events
    FROM per_day, as_of GROUP BY 1
  )
"""


# ---------------------------------------------------------------------------
# Exact money aggregation: summing 2-decimal doubles in floating point is
# order-dependent, and groupBy order differs between Spark and DuckDB —
# at rounding boundaries the value-hash flips. Accumulate in DECIMAL
# (exact) and convert to double only at the end, identically on both
# sides. Division (for avg) happens in double on identical operands.
# ---------------------------------------------------------------------------


# The row value is rounded in DOUBLE first (the per-row double is
# bit-identical across engines, and engines' double->decimal rounding
# rules differ at the quantum), making the decimal cast unambiguous.


def _dec(col):
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.round(c, 4).cast("decimal(18,4)")


def _unscaled(col):
    """Unscaled-integer view of round(col, 4) as a LONG, boundary-gated.

    Bit-identical to the unscaled value of ``_dec(col)`` while staying
    out of per-row BigDecimal (Spark's Round on a double allocates a
    BigDecimal per call via Double.toString; two of those per row per
    measure were the residual q1/a16 cost — measured 2.4 s -> 0.96 s
    for the q1 aggregate at the 80x point):

    - fast path: ``floor(c*1e4 + 0.5)`` — pure float ops. For
      f = c*1e4 the float error is <= |f|*1.1e-16, so whenever
      frac(f) is farther than 4e-6 from 0.5 the exact decimal value
      sits on the same side of the half-integer boundary and
      nearest-rounding equals HALF_UP of the decimal expansion (ties
      cannot occur there either; exact bound holds for |c| <= 3e6).
    - within 4e-6 of the boundary (0 of 48M rows on the bench data —
      reachable only by adversarial values): the exact
      ``round(c, 4)`` path, whose BigDecimal semantics match the
      DuckDB oracle by construction.

    Summing the LONGs keeps the aggregate in Spark's compact fast
    path; sum(DECIMAL(18,4)) widens to DECIMAL(28,4), whose 28-digit
    bound forces a per-row BigDecimal accumulator (measured ~12x on
    the q1/a16 scans at the 80x point, VERDICT r6 #2).
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    f = c * F.lit(1e4)
    frac = f - F.floor(f)
    near = F.abs(frac - F.lit(0.5)) <= F.lit(4e-6)
    k_exact = F.floor(F.round(c, 4) * F.lit(1e4) + F.lit(0.5))
    return F.when(near, k_exact).otherwise(F.floor(f + F.lit(0.5))).cast("long")


def _round(x, ndigits: int):
    """``round(x, ndigits)`` of a DOUBLE as the DuckDB oracles round
    it: ``std::round(x * 10^n) / 10^n``, half away from zero on the
    scaled double. Spark's ``round(x, n)`` rounds the decimal string
    of ``x`` half-up instead, a cent off where ``x`` sits just below
    a tie (0.285: the oracle says 0.28, Spark's round 0.29). Rounding
    the scaled double to an integer agrees: its shortest decimal
    string ends in ``.5`` only when the double is exactly a tie."""
    from pyspark.sql import functions as F

    scale = F.lit(10.0**ndigits)
    return F.round(x * scale, 0) / scale


def exact_sum(col, alias: str, ndigits: int = 2):
    """Spark: exact sum of a ~2-dp double column -> rounded double.

    Accumulates the unscaled 4-dp integer as a LONG (see
    :func:`_unscaled`) and rescales once at the end — bit-identical
    to the DECIMAL(18,4) formulation the DuckDB oracles use while
    staying on the compact-long aggregation path. Overflow bound:
    the per-group sum must satisfy |sum(round(v,4))| < 9.2e14 (long
    max / 1e4). At 100 TB group sizes that exceed it, use
    :func:`exact_sum_wide` (exact DECIMAL accumulation) or pre-shard
    the group (salt) so partial sums stay in range.
    """
    from pyspark.sql import functions as F

    return _round(F.sum(_unscaled(col)) / F.lit(1e4), ndigits).alias(alias)


def exact_sum_wide(col, alias: str, ndigits: int = 2):
    """Exact DECIMAL-accumulated variant of :func:`exact_sum` for the
    overflow regime (per-group value sums >= 9.2e14): ~2x slower per
    row (BigDecimal accumulator) but unbounded to 24 integer digits."""
    from pyspark.sql import functions as F

    return _round(F.sum(_dec(col)).cast("double"), ndigits).alias(alias)


def exact_sum_u4(col, alias: str, ndigits: int = 2):
    """:func:`exact_sum` over a PRE-MATERIALIZED unscaled-4dp long
    column (layout.py writes them at ingest for lineitem/orders money
    measures): the scan sums stored longs — no per-row double->long
    conversion at query time. Bit-identical to exact_sum on the raw
    double by construction."""
    from pyspark.sql import functions as F

    return _round(F.sum(col) / F.lit(1e4), ndigits).alias(alias)


def exact_avg_u4(col, alias: str, ndigits: int = 6):
    """:func:`exact_avg` over a pre-materialized unscaled long."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return _round((F.sum(c) / F.lit(1e4)) / F.count(c), ndigits).alias(alias)


def exact_avg(col, alias: str, ndigits: int = 6):
    """Spark: exact-sum / count in double, rounded. Same compact-long
    accumulation (and overflow bound) as :func:`exact_sum`."""
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return _round(
        (F.sum(_unscaled(col)) / F.lit(1e4)) / F.count(c), ndigits
    ).alias(alias)


def dec_sql(expr: str) -> str:
    return f"CAST(round({expr}, 4) AS DECIMAL(18,4))"
