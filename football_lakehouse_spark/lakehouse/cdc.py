"""Change data over versioned lakehouse tables — the one owner of the
row deltas incremental consumers read (the reference keeps Silver
MERGE-maintained, docs/backlog.md:77) and of the view fold that
consumes them.

One feed shape, ``(version, change_type, <keys>, <values>)``, from two
sources: :meth:`LakehouseTable.table_changes` serves change data the
writer LOGGED at commit time (Delta's Change Data Feed, O(changed
rows)); :func:`change_feed` DERIVES it by diffing committed versions of
any table, with nothing logged (O(both versions)). The diff is one
null-safe full-outer join per consecutive version pair (single
shuffle), each joined row emitting its 0-2 change entries through one
exploded array — no re-scan per change type. Every version is
validated key-unique once, all in one aggregation.

:func:`maintain_count_sum` materialises a grouped count + exact-micros
sum at version 0 and brings it forward by either feed alone. Count and
sum are SELF-MAINTAINABLE: each change row adds its signed
contribution, so the refreshed view equals a recompute from the final
state. min/max are not (deleting the extreme needs the base); that
boundary is the fold's contract.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from football_lakehouse_spark.functions.scalars import _sum_micros_exact


def change_feed(versions: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Row-level changes between CONSECUTIVE ``versions`` (v0→v1,
    v1→v2, …), keyed by ``keys``, in :meth:`table_changes`' shape
    ``(version, change_type, keys…, values…)``; ``version`` is the list
    position of the newer side of each pair.

    ``insert`` rows (key only in the newer side), ``delete`` rows (key
    only in the older side), and ``update_preimage``/``update_postimage``
    pairs (key in both, any non-key column differing null-safely).
    Payload columns carry the new image for insert/update_postimage and
    the old image for delete/update_preimage — Delta CDF semantics.

    The key join is NULL-SAFE (a NULL business key is one key value,
    the same contract merge_upsert keeps): with a plain equi-join a
    NULL-keyed row never matched itself across versions, so every diff
    fabricated a delete+insert pair for untouched NULL-key rows.

    FAILS CLOSED when any version carries a duplicate key tuple: the
    full-outer join would multiply such rows into duplicated/mispaired
    change entries that silently corrupt downstream MERGE consumers
    (appends can create duplicates the merge path never would). All
    versions are priced in one eager aggregation. (An in-plan
    ``raise_error`` window guard was tried and rejected: the null-safe
    join partitions on ``(coalesce(k, 0), isnull(k))`` while a per-key
    window partitions on ``k``, so it added a full exchange per side.)

    The pair feeds union with ``allowMissingColumns``: a diff across an
    additive schema change carries the union of both sides' columns, so
    consecutive pairs can differ in payload columns; a feed missing a
    column contributes NULL for it."""
    from football_lakehouse_spark.lakehouse.tables import require_unique_keys

    if len(versions) < 2:
        raise ValueError("change_feed needs at least two versions")
    labels = (
        ["change_feed(old)", "change_feed(new)"] if len(versions) == 2
        else [f"version#{i}" for i in range(len(versions))]
    )
    require_unique_keys(dict(zip(labels, versions)), keys, "change_feed")
    feeds = [
        _diff(old, new, keys, i)
        for i, (old, new) in enumerate(zip(versions, versions[1:]), 1)
    ]
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), feeds
    )


def _diff(
    old: DataFrame, new: DataFrame, keys: Sequence[str], version: int
) -> DataFrame:
    """One pair's changes (see :func:`change_feed`), tagged ``version``."""
    # value columns = the UNION of both sides' non-key columns: diffing
    # across an additive schema change (merge_schema append between the
    # two versions) must not crash on the old side's missing column —
    # and a column dropped between versions must still ride delete /
    # preimage payloads. A side missing a column contributes NULL for
    # it (exactly what the evolved table reads back for old rows).
    new_types = {f.name: f.dataType for f in new.schema.fields}
    old_types = {f.name: f.dataType for f in old.schema.fields}
    val_cols = [c for c in new.columns if c not in keys] + [
        c for c in old.columns if c not in keys and c not in new_types
    ]
    # a KEY-ONLY table (e.g. span_key_index's single column) has no
    # value columns: the payload struct still needs a field, and the
    # changed-predicate fold needs an initial value (reduce() over an
    # empty list raises TypeError) — such rows can only insert/delete
    def payload(side_types: dict) -> Column:
        if not val_cols:
            return F.struct(F.lit(None).alias("__no_vals"))
        return F.struct(
            *[
                F.col(c).alias(c) if c in side_types
                else F.lit(None)
                .cast(new_types.get(c) or old_types[c])
                .alias(c)
                for c in val_cols
            ]
        )

    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in keys],
        payload(old_types).alias("__old"),
        F.lit(1).alias("__ino"),
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in keys],
        payload(new_types).alias("__new"),
        F.lit(1).alias("__inn"),
    )
    cond = reduce(
        lambda a, b: a & b,
        [F.col(f"__ko_{k}").eqNullSafe(F.col(f"__kn_{k}")) for k in keys],
    )
    j = o.join(n, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"__ko_{k}"), F.col(f"__kn_{k}")).alias(k)
            for k in keys
        ],
        "__old", "__ino", "__new", "__inn",
    )

    changed: Column = reduce(
        lambda a, b: a | b,
        [
            ~F.col(f"__old.{c}").eqNullSafe(F.col(f"__new.{c}"))
            for c in val_cols
        ],
        F.lit(False),
    )
    both = F.col("__ino").isNotNull() & F.col("__inn").isNotNull()

    def entry(change_type: str, payload: Column) -> Column:
        return F.struct(
            F.lit(change_type).alias("change_type"), payload.alias("payload")
        )

    entries = F.array(
        F.when(F.col("__ino").isNull(), entry("insert", F.col("__new"))),
        F.when(F.col("__inn").isNull(), entry("delete", F.col("__old"))),
        F.when(both & changed, entry("update_preimage", F.col("__old"))),
        F.when(both & changed, entry("update_postimage", F.col("__new"))),
    )
    ex = j.select(
        *keys,
        F.explode(F.filter(entries, lambda e: e.isNotNull())).alias("__e"),
    )
    return ex.select(
        F.lit(version).cast("bigint").alias("version"),
        F.col("__e.change_type").alias("change_type"),
        *keys,
        *[F.col(f"__e.payload.{c}").alias(c) for c in val_cols],
    )


def maintain_count_sum(
    v0: DataFrame, feed: DataFrame, group: Column, value: str
) -> DataFrame:
    """The grouped view ``(group, n, <value>_micros)`` — row count and
    exact integer-micros sum of ``value`` per ``group`` — materialised
    at ``v0`` and brought forward by ``feed`` alone, without re-reading
    the table: signed per-group partials (+1 insert/update_postimage,
    −1 delete/update_preimage) composed across every version in the
    feed, one group-sized full-outer merge, zero-count groups dropped.
    A key that migrates groups subtracts its pre-image from the old
    group and adds its post-image to the new."""
    name = v0.select(group).columns[0]
    micros_col = f"{value}_micros"
    mv0 = v0.groupBy(group).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        _sum_micros_exact(F.col(value)).alias(micros_col),
    )
    sign = F.when(
        F.col("change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))
    # delta batches are O(touched rows) — the decimal form is fine here;
    # the base-view scan above uses the bigint-limb fast path
    micros = F.floor(F.col(value) * F.lit(1000000.0) + F.lit(0.5)).cast(
        "decimal(38,0)"
    )
    delta = feed.groupBy(group).agg(
        F.sum(sign).cast("bigint").alias("dn"),
        F.sum(sign.cast("decimal(38,0)") * micros).alias("dv"),
    )
    merged = mv0.join(delta, name, "full_outer").select(
        name,
        (
            F.coalesce(F.col("n"), F.lit(0))
            + F.coalesce(F.col("dn"), F.lit(0))
        ).cast("bigint").alias("n"),
        (
            F.coalesce(F.col(micros_col), F.lit(0).cast("decimal(38,0)"))
            + F.coalesce(F.col("dv"), F.lit(0).cast("decimal(38,0)"))
        ).cast("bigint").alias(micros_col),
    )
    return merged.where(F.col("n") > 0)
