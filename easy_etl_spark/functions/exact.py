"""Deterministic (order-independent, engine-portable) float aggregation.

A float SUM accumulates in partition/merge order, which Spark does not
guarantee — and DuckDB (the correctness oracle) uses yet another order.
When `round()` lands the total next to a rounding boundary, the last
ulp decides the digit and the driver's value-hash compare flips red
nondeterministically (round-1 `text_stats_by_lang`).

The fix is to make the aggregation itself exact: quantize every row to
an integer number of 10^-scale units, sum the integers (associative —
any accumulation order gives the identical total), and divide once at
the end.

Why integers and not decimals: Spark's double→decimal CAST routes
through the double's SHORTEST decimal representation (Java
`BigDecimal.valueOf`), while DuckDB rounds the EXACT binary value, so
per-row decimal casts disagree between the engines (measured: q1's
sum_base_price off by cents at sf0.01). `floor(x * 10^s + 0.5)` is
pure IEEE-754 arithmetic — multiply, add, floor are each correctly
rounded and bit-identical in the JVM and DuckDB — so the quantized
integers match everywhere.

At 100 TB this costs nothing extra: the per-row quantization is
codegen'd JVM arithmetic and the partial/merge aggregation shape is
unchanged (long sums instead of double sums). Overflow headroom: a
bigint holds 9.2e18 units; at scale=2 that's 9.2e16 in value — raise
to a 38-digit decimal accumulator if a deployment's totals approach
that.

`sql_sum` / `sql_avg` emit the DuckDB-side spelling of the same
computation so Spark query and oracle stay one source of truth.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _q(col: Column | str, scale: int) -> Column:
    """Per-row quantization to integer 10^-scale units (portable IEEE
    arithmetic; round-half-up toward +inf, same formula both engines)."""
    return F.floor(_c(col) * F.lit(float(10**scale)) + F.lit(0.5)).cast("bigint")


def qlog(x: Column | str) -> Column:
    """``ln(x)`` quantized to integer 10^-6 units (BIGINT): the per-row
    log of the integer-space information scores (PMI, WoE, entropy).
    DuckDB spelling: ``CAST(floor(ln(x) * 1000000 + 0.5) AS BIGINT)``."""
    return _q(F.log(_c(x)), 6)


def dec_sum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent sum of a double column/expression, quantized
    per-row at `scale` decimal digits. Returns double (same output
    schema as the old ``F.round(F.sum(col), scale)``)."""
    return F.sum(_q(col, scale)).cast("double") / F.lit(float(10**scale))


def dec_avg(col: Column | str, ndigits: int = 4, scale: int = 6) -> Column:
    """Order-independent mean of a double column: exact integer-unit
    sum, display-rounded ENTIRELY in integer space. Null semantics
    match ``avg`` (count of non-nulls in the denominator).

    Why no final ``round()``: the mean S/(10^scale·n) can land on an
    EXACT decimal half-tie at ``ndigits`` (found at sf5:
    unigram_logprob doc 658, mean·1e4 = -73096.5 — Spark's HALF_UP
    says -7.3097, DuckDB's double round says -7.3096). The half-up
    quantization floor(x·10^d + 0.5) is instead evaluated exactly on
    integers: q = floor((S + D/2) / D) with D = 10^(scale-ndigits)·n,
    via a positive-mod floor division in DECIMAL(38,0) so no double
    ever carries the tie. Requires scale > ndigits (D even).

    Tie-break convention (round 10, noted per ADVICE r10): exact
    decimal halves round toward +inf in BOTH engines — floor(x + 0.5),
    so -10.5 -> -10 — which differs from Spark's native HALF_UP
    (-10.5 -> -11) on negative halves. The convention is applied
    identically on the Spark and DuckDB sides, so published avg_*
    values stay cross-engine consistent; they may differ by one ulp of
    10^-ndigits from pre-round-10 artifacts on exact negative halves."""
    if scale <= ndigits:
        raise ValueError(
            f"dec_avg needs scale > ndigits (got scale={scale}, ndigits={ndigits})"
        )
    c = _c(col)
    unit = 10 ** (scale - ndigits)
    s = F.sum(_q(c, scale)).cast("decimal(38,0)")
    d = (F.count(c) * F.lit(unit)).cast("decimal(38,0)")
    num = s + (F.count(c) * F.lit(unit // 2)).cast("decimal(38,0)")
    pm = ((num % d) + d) % d
    q = ((num - pm) / d).cast("long")  # exact: num-pm divisible by d
    return q.cast("double") / F.lit(float(10**ndigits))


def sql_sum(expr: str, scale: int = 2) -> str:
    """DuckDB spelling of dec_sum over SQL expression `expr`."""
    p = 10**scale
    return f"(CAST(sum(CAST(floor(({expr}) * {p}.0 + 0.5) AS BIGINT)) AS DOUBLE) / {p}.0)"


def sql_avg(expr: str, ndigits: int = 4, scale: int = 6) -> str:
    """DuckDB spelling of dec_avg over SQL expression `expr` — the same
    integer-space half-up quantization, in HUGEINT (no double carries
    the half-tie; see dec_avg — including the floor(x+0.5) negative-half
    tie-break convention note)."""
    if scale <= ndigits:
        raise ValueError(
            f"sql_avg needs scale > ndigits (got scale={scale}, ndigits={ndigits})"
        )
    p = 10**scale
    unit = 10 ** (scale - ndigits)
    s = f"CAST(sum(CAST(floor(({expr}) * {p}.0 + 0.5) AS BIGINT)) AS HUGEINT)"
    d = f"(CAST({unit} AS HUGEINT) * count({expr}))"
    num = f"({s} + CAST({unit // 2} AS HUGEINT) * count({expr}))"
    pm = f"((({num} % {d}) + {d}) % {d})"
    return (
        f"(CAST(({num} - {pm}) // {d} AS DOUBLE) / {10**ndigits}.0)"
    )
