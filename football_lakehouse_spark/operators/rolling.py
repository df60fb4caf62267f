"""Windowed / rolling-feature operators (reference SURVEY.md §2 A7/A8,
O1, ST5 — declared as ``44_build_fact_live_form.py`` /
``43_build_fact_price_snapshot.py`` stubs, spec in docs/backlog.md:43-46,
79-81).

All are single-shuffle window plans: one hash-exchange on the partition
key, then sorted evaluation within partitions — the at-scale shape for
per-entity timeline features. Ordering always carries a unique
tie-breaker so results are deterministic (required for oracle parity).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from ..functions.scalars import _trunc_div, epoch_micros, micros


def entity_timeline(key: str, order: list[str]) -> WindowSpec:
    return Window.partitionBy(key).orderBy(*[F.col(c).asc() for c in order])


def _quantised_mean(value: str, w: WindowSpec, scale: int = 4) -> Column:
    """Windowed cross-engine-exact mean at ``scale`` — the money_avg
    discipline over a window: per-row integer micros, exact sum,
    truncating division. The old ``round(avg(double), scale)`` was
    non-portable (class-2): Spark rounds the shortest decimal repr
    HALF_UP while DuckDB rounds the binary value, so a tie-repr double
    (e.g. binary 0.28499999999999998 printing as 0.285) flips the last
    digit between engines.

    BIGINT arithmetic, not the decimal(38,0) money_sum accumulator:
    these are BOUNDED row windows (the trailing-k form pair), so the
    micro-sum is ≤ k × 9.2e12-dollar rows — decades inside bigint —
    and decimal pmod/divide per output row benched 2× slower on the
    window path (r12). _trunc_div on bigint is exact the same way
    (pmod + exact multiple division)."""
    shift = 10 ** (6 - scale)
    denom = F.count(F.lit(1)).over(w) * F.lit(shift)
    total = F.sum(micros(F.col(value)).cast("bigint")).over(w)
    return _trunc_div(total, denom).cast("double") / 10 ** scale


def rolling_form_features(
    df: DataFrame,
    key: str,
    order: list[str],
    value: str,
    window_rows: int = 5,
    mean_alias: str = "form_score",
    n_alias: str = "form_n",
) -> list[Column]:
    """The A7 'form' column pair — trailing-``window_rows`` mean
    (micros-quantised at 1e-4, see :func:`_quantised_mean`) and the
    window's row count — over the per-entity timeline. ONE definition
    shared by the q25 registry query and the medallion gold build (they
    carried byte-equivalent inline copies before r11; a change to the
    ordering, tie-break, or quantisation must hit both at once).
    Returned as select-able Columns so callers keep their own
    projection."""
    w = entity_timeline(key, order).rowsBetween(-(window_rows - 1), 0)
    return [
        _quantised_mean(value, w).alias(mean_alias),
        F.count(F.lit(1)).over(w).cast("bigint").alias(n_alias),
    ]


def lag_delta(
    df: DataFrame, key: str, order: list[str], value: str, alias: str
) -> DataFrame:
    """Per-entity delta vs previous observation — the 'price delta'
    primitive (reference A8: lag(now_cost) over player timeline).
    Quantised as a difference of per-row integer micros truncated at
    1e-4 — ``round(a - b, 4)`` on doubles was the class-2 tie-repr
    hazard (see :func:`_quantised_mean`); deltas are signed, and
    truncation matches the oracle's ``//`` exactly for both signs."""
    w = entity_timeline(key, order)
    # bigint, not decimal: single-row micros fit decades inside 2^53
    # (see _quantised_mean's bound note) and decimal ops benched 1.5×
    delta_micros = micros(F.col(value)).cast("bigint") - micros(
        F.lag(value, 1).over(w)
    ).cast("bigint")
    return df.withColumn(
        alias,
        _trunc_div(delta_micros, F.lit(100)).cast("double") / 10**4,
    )


def latest_per_key(
    df: DataFrame, key: str | list[str], order_desc: list[str]
) -> DataFrame:
    """Top-1-per-group argmax — the reference's latest-snapshot / as-of
    primitive (O1), expressed as a window instead of the reference's
    driver-side sort-limit-collect so it stays fully distributed.
    ``key`` may be a composite (list): window partitioning handles
    multi-column keys natively AND null-safely (NULL keys form their
    own group) — callers must never fake a composite via string
    concatenation, which collides on NULL parts and separator-bearing
    values."""
    keys = [key] if isinstance(key, str) else list(key)
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_desc])
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop(
        "__rn"
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    order: list[str],
    gap: Column,
    session_alias: str = "session_id",
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the previous event exceeds ``gap``. lag + conditional cumsum —
    two window passes over one exchange."""
    w = entity_timeline(key, order)
    prev_ts = F.lag(ts, 1).over(w)
    # MICROsecond gap comparison: the fixture timestamps carry
    # sub-second precision, and whole-second truncation disagreed with
    # a fractional-second oracle whenever the true gap straddled the
    # boundary within one second (r12 review)
    gap_micros = gap.cast("bigint") * F.lit(1000000)
    is_new = F.when(
        prev_ts.isNull()
        | (epoch_micros(F.col(ts)) - epoch_micros(prev_ts) > gap_micros),
        1,
    ).otherwise(0)
    return df.withColumn("__new", is_new).withColumn(
        session_alias,
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("bigint"),
    ).drop("__new")
