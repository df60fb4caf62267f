"""Scalar column helpers — Python functions composing Column
expressions (never UDFs; SURVEY.md §2.10: the reference surface has
zero UDFs and the engine preserves that on all hot paths).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

#: sentinel strings the upstream feed uses for "no value"
NULLISH = ("", "null", "None")


def to_double_or_null(c: Column) -> Column:
    """Null-safe string→double cast (reference
    ``31_build_silver_dims.py:156-158``): treat '', 'null', 'None'
    (trimmed) as NULL, otherwise cast."""
    return (
        F.when(F.trim(c).isin(*NULLISH), F.lit(None).cast("double"))
        .otherwise(c.cast("double"))
    )


def micros(c: Column) -> Column:
    """Per-row quantisation to integer micro-units that is BIT-IDENTICAL
    across engines: ``floor(x·10⁶ + 0.5)`` uses only IEEE multiply/add/
    floor on the same input double. (A double→DECIMAL cast is NOT
    portable: Spark rounds the shortest decimal repr, DuckDB rounds the
    binary value — the per-row ±1e-6 drift accumulates across millions
    of rows and flips any fixed-point result.) Summed as DECIMAL(38,0)
    so 100 TB-scale totals cannot overflow."""
    return F.floor(c * _clit(1000000.0) + _clit(0.5)).cast("decimal(38,0)")


#: limb radix for :func:`_sum_micros_exact` — each limb is in [0, 1e6)
#: (the hi limb is signed and tiny), so a BIGINT limb sum stays exact
#: past 9e12 rows PER GROUP before ANSI mode fails it loudly.
_LIMB = 1000000

#: literal-Column cache: expression CONSTRUCTION is driver-side py4j
#: chatter (~1 round-trip per operator), and the limb form multiplies
#: it — with several money columns per query the build cost showed as
#: a visible constant in sub-second benches (row-independent, so
#: irrelevant at scale, but free to trim). Cached handles reference
#: the gateway's JVM objects, so the cache is invalidated whenever the
#: active SparkContext changes (session restart in one process).
_lit_cache: dict = {}
_lit_cache_ctx = None


def _clit(v) -> Column:
    global _lit_cache_ctx
    from pyspark import SparkContext

    ctx = SparkContext._active_spark_context
    if ctx is not _lit_cache_ctx:
        _lit_cache.clear()
        _lit_cache_ctx = ctx
    key = (type(v).__name__, v)
    col = _lit_cache.get(key)
    if col is None:
        col = F.lit(v)
        _lit_cache[key] = col
    return col


def _sum_micros_exact(c: Column) -> Column:
    """Exact SUM of per-row integer micros, 2.4× faster than a
    DECIMAL(38,0) sum at sf1 (r13 A/B, SCALING.md): Spark's decimal
    aggregation pays a per-row Decimal conversion + 128-bit add, while
    BIGINT sums stay in primitive longs inside whole-stage codegen —
    measured FASTER than even a plain double sum. Each row's micros
    value m (|m| ≤ 2^53, inherited from the double floor) splits into
    three limbs m = hi·10¹² + mid·10⁶ + lo with mid, lo ∈ [0, 10⁶)
    (pmod) and |hi| ≤ |m|/10¹²; the limbs sum as BIGINTs and only the
    per-GROUP recombination happens in DECIMAL(38,0) — so the result
    is the exact integer total at any magnitude, identical to the old
    decimal-sum form bit for bit (verified on the sf1 fixtures).

    Overflow headroom: limb sums are bounded by 10⁶ × rows-per-group →
    exact to ~9.2e12 rows per group (≈ 1.5 PB of lineitem in one
    group); beyond that ANSI sum overflow fails LOUDLY, never
    silently. The split arithmetic is itself exact: m - pmod(m, 10¹²)
    is a multiple of 10¹² whose double conversion and division are both
    exact for |m| ≤ 2^53, and the inner 10⁶ split of the nonnegative
    remainder cannot misround (see the inline note).

    Returns a composite expression containing three aggregate
    functions — valid anywhere ``F.sum(...)`` is (``groupBy().agg``,
    global agg), but NOT as a window function operand; window callers
    keep their own bounded single-sum forms (operators/rolling)."""
    # hoisted literal Columns + the lo12 two-division form: expression
    # CONSTRUCTION is driver-side py4j chatter, ~1 round-trip per
    # operator — with several money columns per query it showed up as
    # a visible constant in sub-second benches (row-independent, so
    # irrelevant at scale, but free to trim)
    limb2 = _clit(_LIMB * _LIMB)
    limb = _clit(_LIMB)
    m = F.floor(c * _clit(1000000.0) + _clit(0.5)).cast("bigint")
    lo12 = F.pmod(m, limb2)                   # [0, 1e12)
    hi = ((m - lo12) / limb2).cast("bigint")
    # lo12 < 1e12 ≤ 2^53: the double division's error (< 2^-52·1e6)
    # cannot reach the 1e-6 fraction granularity, so the bigint cast
    # (trunc; lo12 is nonnegative) is the exact quotient
    mid = (lo12 / limb).cast("bigint")
    lo = lo12 - mid * limb
    dec = "decimal(38,0)"
    return (
        F.sum(hi).cast(dec) * limb2
        + F.sum(mid).cast(dec) * limb
        + F.sum(lo).cast(dec)
    )


def _trunc_div(a: Column, b: Column) -> Column:
    """EXACT truncate-toward-zero integer division for an integer-
    valued ``a`` by a positive integer ``b`` — the semantics of SQL
    ``div`` and DuckDB ``//`` (verified: -7 // 2 = -3 in both). Built
    from pmod so no decimal division ever rounds: ``a - pmod(a, b)``
    is an exact multiple of ``b``, its quotient is exact at any scale,
    and the +1 correction turns floor into trunc for negative ``a``.
    The naive ``floor(a / b)`` had TWO cross-engine bugs: floor ≠
    trunc for negative sums, and Spark's decimal division HALF_UP-
    rounds at result scale BEFORE the floor (one high when the true
    fraction is ≥ .9999995 — the q199/q55 class).

    Input types: decimal(38,0) for unbounded accumulators (exact at
    any magnitude); BIGINT is fine — and much cheaper per row — when
    the caller can bound ``|a - pmod(a,b)|`` under 2^53 (bounded
    windows), since bigint/bigint division goes through double."""
    fm = F.pmod(a, b)
    fd = (a - fm) / b
    zero = _clit(0)
    return fd + F.when((a < zero) & (fm != zero), _clit(1)).otherwise(zero)


def py_money_from_micros(m: int, scale: int = 2) -> float:
    """Pure-Python twin of :func:`money_sum`'s final step, for the
    stateful Pandas processors that keep an exact integer-micros
    accumulator and emit per micro-batch. Truncates toward zero at
    ``scale`` decimals, exactly like :func:`_trunc_div` and DuckDB
    ``//``. Python's ``//`` alone floors toward -inf, so a negative
    accumulated total would read one cent below the batch twin."""
    shift = 10 ** (6 - scale)
    unit = 10 ** scale
    q = m // shift
    if m < 0 and m % shift:
        q += 1
    return q / unit


def _sql_sum_micros_exact(expr: str) -> str:
    """Spark-SQL text twin of :func:`_sum_micros_exact` — the SAME
    operators, casts and literal types per step (double literals carry
    the ``D`` suffix: a bare ``0.5`` parses as DECIMAL in Spark SQL),
    so the parsed tree is semantically identical to the Column-built
    one. Exists because building the limb form from Column operators
    costs ~30 py4j round-trips per money column (~40 ms each call on
    the bench driver) while one ``F.expr`` parse is ~1 ms (r14; the
    construction cost is row-independent and irrelevant at scale, but
    the bench pays it once per query build)."""
    m = f"CAST(FLOOR((({expr}) * 1000000.0D) + 0.5D) AS BIGINT)"
    lo12 = f"pmod({m}, {_LIMB * _LIMB})"
    hi = f"CAST(({m} - {lo12}) / {_LIMB * _LIMB} AS BIGINT)"
    mid = f"CAST({lo12} / {_LIMB} AS BIGINT)"
    lo = f"({lo12} - {mid} * {_LIMB})"
    dec = "DECIMAL(38,0)"
    return (
        f"(CAST(sum({hi}) AS {dec}) * {_LIMB * _LIMB}"
        f" + CAST(sum({mid}) AS {dec}) * {_LIMB}"
        f" + CAST(sum({lo}) AS {dec}))"
    )


def _sql_trunc_div(a: str, b: int) -> str:
    """Spark-SQL text twin of :func:`_trunc_div` (same pmod form, same
    literal types)."""
    fm = f"pmod({a}, {b})"
    return (
        f"((({a} - {fm}) / {b})"
        f" + (CASE WHEN ({a} < 0) AND ({fm} != 0) THEN 1 ELSE 0 END))"
    )


def money_sum(c: Column | str, scale: int = 2) -> Column:
    """Cross-engine-exact sum for money-magnitude doubles: quantise each
    row to micro-units (portable, see :func:`micros`), sum exactly,
    truncate at ``scale`` (matching the DuckDB twin's ``//`` exactly,
    negative sums included — see :func:`_trunc_div`). No round()
    anywhere — truncation on exact integers has no tie-breaking
    semantics to disagree on. Sums via the bigint-limb fast path
    (:func:`_sum_micros_exact`, r13): same exact integer total, ~2.4×
    cheaper than the decimal-sum form on agg-dominated plans.

    Pass the input as a SQL STRING to build the whole aggregate in one
    parsed expression (r14): ~17× less driver-side construction chatter
    — same tree, same result (value-identity pinned by tests and the
    oracle suite). Column input keeps the original composed form."""
    shift = 10 ** (6 - scale)
    unit = 10 ** scale
    if isinstance(c, str):
        td = _sql_trunc_div(_sql_sum_micros_exact(c), shift)
        return F.expr(f"CAST({td} AS DOUBLE) / {unit}")
    return _trunc_div(_sum_micros_exact(c), _clit(shift)).cast("double") / unit


def money_avg(c: Column | str, scale: int = 4) -> Column:
    """Cross-engine-exact average: trunc(sum_micros div (count·10^(6-s)))
    / 10^s via :func:`_trunc_div` — exact for any sign and any
    quotient (the old floor-of-decimal-division form read one 1e-4 unit
    high whenever the true quotient's fraction was ≥ .9999995).
    String input builds the one-parse form (see :func:`money_sum`)."""
    shift = 10 ** (6 - scale)
    unit = 10 ** scale
    if isinstance(c, str):
        acc = _sql_sum_micros_exact(c)
        denom = f"(count(1) * {shift})"
        fm = f"pmod({acc}, {denom})"
        td = (
            f"((({acc} - {fm}) / {denom})"
            f" + (CASE WHEN ({acc} < 0) AND ({fm} != 0) THEN 1 ELSE 0 END))"
        )
        return F.expr(f"CAST({td} AS DOUBLE) / {unit}")
    denom = F.count(_clit(1)) * _clit(shift)
    return _trunc_div(_sum_micros_exact(c), denom).cast("double") / unit


def sql_money_sum(expr: str, scale: int = 2) -> str:
    """DuckDB twin of :func:`money_sum` (``//`` truncates toward zero,
    exactly like :func:`_trunc_div`; NOT floor — -7 // 2 = -3)."""
    shift = 10 ** (6 - scale)
    unit = 10 ** scale
    return (
        f"CAST(sum(CAST(floor({expr} * 1000000.0 + 0.5) AS HUGEINT)) "
        f"// {shift} AS DOUBLE) / {unit}"
    )


def sql_money_avg(expr: str, scale: int = 4) -> str:
    """DuckDB twin of :func:`money_avg`."""
    shift = 10 ** (6 - scale)
    unit = 10 ** scale
    return (
        f"CAST(sum(CAST(floor({expr} * 1000000.0 + 0.5) AS HUGEINT)) "
        f"// (count(*) * {shift}) AS DOUBLE) / {unit}"
    )


def epoch_seconds(c: Column) -> Column:
    """NTZ-safe epoch seconds. The driver's parquet fixtures drifted from
    TIMESTAMP (LTZ) to TIMESTAMP_NTZ between rounds; ``cast("long")`` and
    ``unix_micros`` both reject NTZ input, so every epoch conversion in
    the engine routes through here. Casting NTZ→LTZ reinterprets the wall
    clock in the session zone — forced to UTC by :mod:`..session` — which
    is exactly how the DuckDB oracle (no TZ concept on naive timestamps)
    reads the same files. For LTZ/TIMESTAMP input the extra cast is an
    identity, so this is safe for either fixture flavour."""
    return c.cast("timestamp_ltz").cast("long")


def epoch_micros(c: Column) -> Column:
    """NTZ-safe epoch microseconds — see :func:`epoch_seconds`."""
    return F.unix_micros(c.cast("timestamp_ltz"))
