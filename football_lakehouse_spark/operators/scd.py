"""Slowly-changing-dimension maintenance (SCD Type 2) on the versioned
table layer — the consumer side of a change feed (the reference's CDC
surface ends at q98's feed generation; this is what a warehouse DOES
with such a feed: dimension history with effective-time validity).

Equivalent of Delta Live Tables ``APPLY CHANGES INTO … STORED AS SCD
TYPE 2``, built from the engine's own primitives: change records merge
into the dimension keyed on (business key, eff_from); a new change
closes the previously-current row (its ``eff_to`` becomes the new
row's ``eff_from``) and inserts the new current row.

Scale contract: the merge ships only AFFECTED keys' rows (left-semi on
the batch's key set, broadcast when small); history recompute windows
run per key over (existing rows of affected keys + batch) — O(batch ·
avg history), never the whole dimension. Re-applying the same batch is
a no-op (dropDuplicates on (key, ts) makes the apply idempotent — the
rerun-safety every CDC consumer needs).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from football_lakehouse_spark.lakehouse.tables import (
    LakehouseTable,
    require_unique_keys,
)


def scd2_apply(
    table: LakehouseTable,
    changes: DataFrame,
    key: str,
    ts_col: str,
    attrs: Sequence[str],
) -> int:
    """Apply ``changes`` (``key``, ``*attrs``, ``ts_col``: bigint event
    time) into ``table`` as SCD Type 2 rows
    ``(key, *attrs, eff_from, eff_to, is_current)``.

    Incremental application over any batch split is EXACTLY equal to a
    batch recompute over the concatenated change stream (oracle-checked
    in q142): affected keys' existing rows are folded back into change
    form, unioned with the batch, de-duplicated on (key, ts) with the
    INCOMING row winning deterministically (an incoming change carrying
    the same (key, ts) as an existing row is a correction and must
    replace it — a bare dropDuplicates would keep an arbitrary side),
    and their validity windows recomputed; unaffected keys are
    untouched.
    """
    cols = [key, *attrs, ts_col]
    # full-row dedup first (identical replays are harmless), then FAIL
    # CLOSED if one batch still carries two different attr sets for the
    # same (key, ts): dropDuplicates([key, ts]) would pick an arbitrary
    # winner — run-to-run nondeterministic dimension versions, the exact
    # flaw the incoming-vs-existing _prio ranking below exists to avoid.
    # Same contract as MERGE (require_unique_keys).
    incoming = changes.select(*cols).dropDuplicates()
    require_unique_keys({"changes": incoming}, [key, ts_col], "scd2_apply")
    if table.exists():
        # NULL-SAFE affected-key probe: a NULL business key is one key
        # value here exactly as it is in the window partition and the
        # null-safe merge below — a plain equi-semi-join dropped the
        # NULL-key history, so its prior current row was never closed
        # (two is_current rows) and incremental apply diverged from the
        # batch recompute the docstring promises
        aff = incoming.select(F.col(key).alias("__aff_k")).distinct()
        existing = table.read().join(
            F.broadcast(aff), F.col(key).eqNullSafe(F.col("__aff_k")), "left_semi"
        )
        folded = existing.select(
            key, *attrs, F.col("eff_from").alias(ts_col)
        )
        # each side is unique on (key, ts), so ranking by priority is a
        # total order within every (key, ts) group: incoming (1) beats
        # folded-existing (0)
        w_dedup = Window.partitionBy(key, ts_col).orderBy(F.col("_prio").desc())
        allc = (
            folded.withColumn("_prio", F.lit(0))
            .unionByName(incoming.withColumn("_prio", F.lit(1)))
            .withColumn("_rn", F.row_number().over(w_dedup))
            .where(F.col("_rn") == 1)
            .drop("_prio", "_rn")
        )
    else:
        allc = incoming
    w = Window.partitionBy(key).orderBy(F.col(ts_col).asc())
    recomputed = allc.select(
        key,
        *attrs,
        F.col(ts_col).alias("eff_from"),
        F.lead(ts_col).over(w).alias("eff_to"),
    ).withColumn("is_current", F.col("eff_to").isNull())
    if table.exists():
        return table.merge(recomputed, [key, "eff_from"])
    return table.append(recomputed)
