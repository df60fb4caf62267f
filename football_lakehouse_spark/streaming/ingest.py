"""Streaming ingest slice — reference SURVEY.md §2 S7/S8, ST1-ST4.

The reference's declared design (docs/architecture.md:103-129,
docs/backlog.md:66-77): poll → land JSON files → Auto Loader
(incremental file discovery) → Bronze table, as FINITE, checkpointed
``availableNow`` runs — "Structured Streaming as an execution pattern,
not a data layer". Open-source Spark's equivalent of Auto Loader is the
file-source stream with an explicit schema + checkpointed offsets,
which is exactly what this module uses:

- :func:`land_json_files` — S7 file-landing writer (day-partitioned)
- :func:`ingest_available_now` — S8/ST1-ST3: file stream → parquet
  Bronze dir; rerunning with the same checkpoint processes only NEW
  files (exactly-once), corrupt records rescued to ``_rescue``
- :func:`merge_stream_into_table` — ST4: ``foreachBatch`` + lakehouse
  MERGE keyed on the deterministic event key, so late/duplicate
  events are rerun-safe (the reference's chosen pattern; the
  watermark+dropDuplicates alternative lives in state.py)

Scale notes: file listing is incremental per micro-batch; the Bronze
sink partitions by ``snapshot_date`` (fixing the reference's
declared-but-missing partitioning); no driver-side state beyond the
checkpoint.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import local_frame
from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.operators.merge import dedupe_updates

EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)
# rescue column for schema drift / corrupt lines (ST3)
EVENT_SCHEMA_WITH_RESCUE = EVENT_SCHEMA + ", _rescue STRING"


def land_json_files(events: DataFrame, landing_dir: str, files_per_day: int = 1) -> None:
    """S7: land event payloads as day-partitioned JSON files. Partition
    dirs give the downstream stream (and any batch reader) partition
    pruning on ``snapshot_date``.

    ``files_per_day`` controls write parallelism per day via a
    deterministic salt: rows are shuffled on ``(snapshot_date, salt)``
    so each day lands in up to ``files_per_day`` files (exact when the
    salt values hash to distinct tasks — close enough for sizing; at
    scale this is how you keep one hot day from serialising into a
    single writer task)."""
    import time
    import uuid

    src_cols = events.columns
    salted = (
        events.withColumn("snapshot_date", F.to_date("ts"))
        .withColumn("_salt", F.pmod(F.hash(*src_cols), F.lit(files_per_day)))
    )
    # explicit partition count: AQE coalesces un-numbered repartitions on
    # small batches, which would collapse every day back into one file
    n_parts = max(
        int(events.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        files_per_day,
    )

    # STAGE-THEN-MOVE: write the batch into a private sibling staging
    # dir, then move each file into the landing dir under its final
    # name. Each file has exactly ONE visibility transition — writing in
    # place and renaming afterwards let a stream listing between write
    # and rename record the part-* name, after which the rename
    # resurfaced the same data under a new, never-seen name (duplicate
    # ingestion into append-only bronze). The staging dir is keyed per
    # call, so concurrent landers never rename each other's in-flight
    # files.
    #
    # ARRIVAL-STAMPED names t<arrival-micros>-<seq>-<uuid>: a landed
    # name is never reused, so the file-source stream's seen-files log
    # (keyed on path) reads each landed file exactly once, however late
    # its event date. Within a dir the names sort in arrival order.
    import shutil

    staging = f"{landing_dir.rstrip('/')}.staging-{uuid.uuid4().hex[:8]}"
    (
        salted.repartition(n_parts, F.col("snapshot_date"), F.col("_salt"))
        .drop("_salt")
        .write.mode("append")
        .partitionBy("snapshot_date")
        .json(staging)
    )
    staged = []
    for root, _dirs, files in os.walk(staging):
        for f in files:
            if f.endswith(".json") and not f.startswith(("_", ".")):
                staged.append(os.path.join(root, f))
    stamp = time.time_ns() // 1000
    for i, fp in enumerate(sorted(staged)):
        rel = os.path.relpath(os.path.dirname(fp), staging)
        dest_dir = landing_dir if rel == "." else os.path.join(landing_dir, rel)
        os.makedirs(dest_dir, exist_ok=True)
        os.rename(
            fp,
            os.path.join(
                dest_dir, f"t{stamp:016d}-{i:04d}-{uuid.uuid4().hex[:6]}.json"
            ),
        )
    shutil.rmtree(staging, ignore_errors=True)


def read_landing_stream(
    spark: SparkSession,
    landing_dir: str,
    schema: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S8: incremental file-source stream with explicit schema (no
    inference on trusted paths — reference §1.3), source-file lineage
    column, and a rescue column for corrupt records.
    ``max_files_per_trigger`` caps files per micro-batch (availableNow
    honours it too, splitting the drain into several batches — files
    are ordered by modification time, not path)."""
    reader = (
        spark.readStream.format("json")
        .schema(schema or (EVENT_SCHEMA_WITH_RESCUE + ", snapshot_date DATE"))
        .option("columnNameOfCorruptRecord", "_rescue")
        .option("basePath", landing_dir)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.load(landing_dir)
        .withColumn("source_file", F.col("_metadata.file_path"))
        .withColumn("ingest_ts", F.current_timestamp())
    )


def _schema_log_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_schema_log.json")


def evolve_landing_schema(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    base_schema: str = EVENT_SCHEMA_WITH_RESCUE,
) -> str:
    """ST3 ``addNewColumns`` evolution (Auto Loader analogue,
    reference docs/backlog.md:52-54): infer the landing zone's current
    JSON schema, adopt columns NOT yet in the tracked schema
    (additive-only — declared columns never change type or vanish, so a
    drifting producer can't corrupt the contract), and persist the
    widened schema in a schema log next to the checkpoint so restarts
    see every column ever adopted even after the files age out.

    Returns the evolved schema as DDL (without the partition column).
    The inference pass is one extra listing+read of the landing zone per
    restart — the same cost Auto Loader pays. Inference must be FULL
    (samplingRatio 1.0): a sampled read can nondeterministically miss a
    column present in only a few rows, and because checkpoint offsets
    never reprocess files, that column's values for the already-ingested
    epoch would be silently dropped forever (extra fields are ignored,
    not rescued). At scale, bound the cost by restricting inference to
    files newer than the last adopted schema instead of sampling rows."""
    import json as _json

    from pyspark.sql.types import StructType

    prior = StructType.fromDDL(base_schema)
    log_path = _schema_log_path(checkpoint_dir)
    if os.path.exists(log_path):
        with open(log_path) as f:
            prior = StructType.fromJson(_json.load(f))
    inferred = (
        spark.read.option("samplingRatio", 1.0)
        .option("basePath", landing_dir)
        .json(landing_dir)
        .schema
    )
    # exclude only the engine's own RESERVED names, not every
    # underscore-prefixed field: a producer's well-formed "_internal_x"
    # column would otherwise never be adopted, and (per the contract
    # below) its values for already-ingested files are dropped forever —
    # permanent silent data loss for a legal JSON field name.
    # The session's corrupt-record column IS reserved: PERMISSIVE
    # inference appends it to the inferred schema whenever the landing
    # dir holds a malformed line (exactly when _rescue matters), and the
    # additive-only contract would then persist that engine-internal
    # column in the schema log forever.
    reserved = {
        "_rescue",
        "source_file",
        "snapshot_date",
        # read_landing_stream overwrites ingest_ts with
        # current_timestamp(); adopting a producer column of that name
        # would parse its values and then silently clobber them
        "ingest_ts",
        spark.conf.get("spark.sql.columnNameOfCorruptRecord", "_corrupt_record"),
    }
    known = {f.name for f in prior.fields} | reserved
    extra = [f for f in inferred.fields if f.name not in known]
    evolved = StructType(prior.fields + extra)
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = log_path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(evolved.jsonValue(), f)
    os.replace(tmp, log_path)
    return evolved.toDDL()


def ingest_available_now(
    spark: SparkSession,
    landing_dir: str,
    bronze_dir: str,
    checkpoint_dir: str,
    evolve_schema: bool = False,
) -> None:
    """ST1/ST2: finite checkpointed run — process all files not yet seen
    by this checkpoint, then stop. Rerun == no-op until new files land.

    With ``evolve_schema=True`` each (re)start adopts new columns from
    the landing zone additively (ST3 complete: rescue for corrupt rows
    AND schema evolution for well-formed drift); rows from before a
    column existed read back as NULL for it."""
    schema = None
    if evolve_schema:
        schema = (
            evolve_landing_schema(spark, landing_dir, checkpoint_dir)
            + ", snapshot_date DATE"
        )
    stream = read_landing_stream(spark, landing_dir, schema)
    # NOTE: there is deliberately no mergeSchema option here — it is a
    # READ option the parquet writer ignores. Consumers of an evolved
    # Bronze dir must pass .option("mergeSchema", "true") on read (or
    # read with the schema log's DDL), else Spark samples one footer
    # and silently drops evolved columns.
    q = (
        stream.writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", bronze_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("snapshot_date")
        .start()
    )
    q.awaitTermination()


def merge_stream_into_table(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    table: LakehouseTable,
    keys: Sequence[str] = ("event_id",),
    order_desc: Sequence[str] = ("ts", "event_id"),
    transform: Callable[[DataFrame], DataFrame] | None = None,
    quarantine_table: LakehouseTable | None = None,
    marker_col: str = "event_type",
) -> None:
    """ST4: late/duplicate-safe upsert — every micro-batch is deduped
    (latest wins) and MERGEd into the versioned table inside
    ``foreachBatch``, the exactly-once sink pattern for non-idempotent
    targets.

    Rescued/corrupt rows (``_rescue`` set, or a null merge key) are
    routed to ``quarantine_table`` (or dropped if none is given) BEFORE
    dedupe+merge: a null key never matches in the merge anti-join, so
    letting them through would accumulate one null-key row per
    micro-batch in the target table.

    ``marker_col`` must match the column the producer passed to
    ``state.flush_sentinel`` (default ``event_type``) — sentinel rows
    carry NULL keys, so a mismatched marker column would silently
    route them to quarantine instead of recognising them as markers.
    """
    stream = read_landing_stream(spark, landing_dir)

    def _merge_batch(batch: DataFrame, _epoch: int) -> None:
        from pyspark import StorageLevel

        if transform is not None:
            batch = transform(batch)
        # flush sentinels (state.flush_sentinel) share the landing zone;
        # they exist only to advance watermarked aggregations and must
        # never reach a keyed table. Batch-side filtering is safe here —
        # the watermark-pushdown caveat applies only to streaming
        # aggregation plans, and this is a foreachBatch body.
        if marker_col in batch.columns:
            from football_lakehouse_spark.streaming.state import strip_flush_rows

            batch = strip_flush_rows(batch, marker_col)
        # persist: this body drives up to three actions (quarantine
        # probe, quarantine append, merge) — unpersisted, each re-reads
        # and re-parses every source JSON file in the batch
        batch = batch.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            bad = F.lit(False)
            if "_rescue" in batch.columns:
                bad = bad | F.col("_rescue").isNotNull()
            for k in keys:
                bad = bad | F.col(k).isNull()
            quarantined = batch.where(bad)
            if quarantine_table is not None and not quarantined.isEmpty():
                # transactional append: foreachBatch is at-least-once,
                # and a plain append would re-add the same quarantined
                # rows on every micro-batch replay — the same
                # (app_id, epoch) idempotence the main sinks already use
                quarantine_table.append_txn(
                    quarantined, f"{checkpoint_dir}:quarantine", _epoch
                )
            good = batch.where(~bad)
            good = dedupe_updates(good, list(keys), list(order_desc))
            table.merge(good, list(keys))
        finally:
            batch.unpersist()

    q = (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(_merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()


def append_stream_exactly_once(
    stream: DataFrame,
    table,
    checkpoint_dir: str,
    app_id: str,
) -> None:
    """Exactly-once streaming APPEND into a :class:`LakehouseTable` via
    ``foreachBatch`` + transactional idempotence (Delta's
    txnAppId/txnVersion pattern): every micro-batch commits with
    (app_id, epoch_id) recorded in the table's log, so when a batch is
    REPLAYED after a sink failure (foreachBatch is at-least-once — the
    checkpoint advances only after the batch function returns), the
    duplicate application is detected table-side and skipped. This is
    the non-keyed sibling of :func:`merge_stream_into_table` (ST4):
    MERGE dedupes by business key, txn markers dedupe by batch — the
    right tool when rows have no key (raw event capture)."""

    def _sink(batch: DataFrame, epoch_id: int) -> None:
        table.append_txn(batch, app_id=app_id, txn_version=int(epoch_id))

    (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


# landed documents of :func:`span_dedup_stream`
SPAN_DOC_SCHEMA = "doc_id BIGINT, text STRING"


def span_dedup_stream(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    trimmed: LakehouseTable,
    index: LakehouseTable,
    n: int = 5,
    app_id: str = "span-dedup-stream",
    keep_canonical: bool = False,
) -> None:
    """Streaming passage-level dedup — the span-index lifecycle
    (q283/q285/q289) wired into Structured Streaming: each micro-batch
    of arriving documents (``SPAN_DOC_SCHEMA`` parquet under
    ``landing_dir``) (1) probes the ``index`` table of shingle keys
    for spans duplicated against EVERYTHING already ingested (or
    within the batch itself — the batch can duplicate itself), (2)
    appends the TRIMMED rewrite of the batch to the ``trimmed`` table,
    and (3) folds the batch's genuinely-new shingle keys into
    ``index`` via ``append_span_keys`` — so later batches see this
    batch's passages without ever rebuilding the index. This is the
    curation topology at ingest time: boilerplate never ACCUMULATES in
    the stored corpus, instead of being swept by periodic full-corpus
    span jobs.

    Per-batch cost is O(batch) plus one map-side SCAN of the key
    index (never an index shuffle — the r9 double-semi direction;
    growth soak in SCALING r10 shows flat per-batch cost across ten
    appends).

    Exactly-once: both sinks commit via ``append_txn`` with
    (``app_id``, epoch) — the index as ``<app_id>-index`` — so a
    micro-batch replayed after a sink failure (``foreachBatch`` is
    at-least-once) is detected table-side and SKIPPED: no duplicate
    trimmed rows AND no duplicate index keys, and an epoch that
    committed only its trimmed rows commits its index keys on replay
    (:func:`append_stream_exactly_once` is the generic primitive).

    Trim semantics at the batch boundary (r10 review): with the
    default ``keep_canonical=False`` (Lee et al. remove-all), a
    passage whose only occurrences CO-ARRIVE in one micro-batch is
    deleted from every doc — content gone entirely — while the same
    docs split across batches keep the first arrival (it predates the
    index entry). Ingest batching is an operational accident, so pass
    ``keep_canonical=True`` when the stored corpus must be
    boundary-invariant. That needs span PROVENANCE, not just a
    within-batch election (which would re-keep one occurrence per
    batch of content the corpus already stores): spans that overlap
    the stored index (``in_corpus`` — the canonical survived in an
    earlier batch) are trimmed from every arrival, while batch-new
    spans keep their lowest-(doc_id, span_start) occurrence — matching
    the cross-batch first-arrival-survives rule whenever ids are
    arrival-ordered (the monotonic-id ingest case).

    Each micro-batch probes the index ONCE
    (:func:`span_probe_and_new_keys` — the separate probe+append calls
    would scan the corpus-sized key table twice per batch).
    """
    from football_lakehouse_spark.operators.dedup import (
        non_canonical_spans,
        span_probe_and_new_keys,
        trim_duplicate_spans,
    )

    stream = spark.readStream.schema(SPAN_DOC_SCHEMA).parquet(landing_dir)

    def _sink(batch: DataFrame, epoch: int) -> None:
        s = batch.sparkSession
        batch.persist()
        release = None
        try:
            stored = (
                index.read() if index.exists() else local_frame(s, [], "k BIGINT")
            )
            spans, new_keys, release = span_probe_and_new_keys(
                batch, stored, n=n, flag_corpus_overlap=keep_canonical
            )
            if keep_canonical:
                # already-stored content: trim every arrival (the
                # canonical lives in an earlier batch). Batch-new
                # content: election keeps the lowest occurrence.
                cols = ["doc_id", "span_start", "span_end"]
                trim_set = spans.where(F.col("in_corpus")).select(
                    *cols
                ).unionByName(
                    non_canonical_spans(
                        batch,
                        spans.where(~F.col("in_corpus")).select(*cols),
                        "doc_id",
                        "text",
                    )
                )
                out = trim_duplicate_spans(batch, trim_set)
            else:
                out = trim_duplicate_spans(batch, spans)
            trimmed.append_txn(out, app_id=app_id, txn_version=int(epoch))
            index.append_txn(
                new_keys, app_id=f"{app_id}-index", txn_version=int(epoch)
            )
        finally:
            if release is not None:
                release()
            batch.unpersist()

    (
        stream.writeStream.trigger(availableNow=True)
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
        .awaitTermination()
    )
