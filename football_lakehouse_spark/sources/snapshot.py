"""REST snapshot source — reference SURVEY.md §2 S1
(``notebooks/01_bronze/11_ingest_fpl_bootstrap.py:42-78``): fetch a
payload, canonicalise the JSON (sorted keys, compact separators),
compute sha256/size, and lift it into a single-row DataFrame (S2) ready
for the content-hash-idempotent Bronze append (D2).

Driver-side by design — the reference's ingestion is one HTTP snapshot
per run, not a distributed source. The fetcher is injectable so tests
(and this offline environment) use file/callable-backed payloads; the
wire protocol is otherwise identical.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from football_lakehouse_spark.functions.guards import local_frame

SNAPSHOT_SCHEMA = (
    "source_url STRING, http_status INT, snapshot_ts TIMESTAMP, "
    "snapshot_date DATE, payload_json STRING, payload_sha256 STRING, "
    "payload_size_bytes BIGINT, run_id STRING"
)


def canonical_json(payload: object) -> str:
    """Canonical form exactly as the reference computes it:
    ``json.dumps(parsed, separators=(',', ':'), sort_keys=True)``."""
    return json.dumps(payload, separators=(",", ":"), sort_keys=True)


def fetch_snapshot(
    fetcher: Callable[[], tuple[int, object]],
    source_url: str,
    run_id: str,
    now: datetime | None = None,
) -> dict:
    """Execute one snapshot fetch: ``fetcher() -> (status, parsed_json)``.
    Returns the Bronze row dict (reference EP1 steps 2-3)."""
    status, parsed = fetcher()
    text = canonical_json(parsed)
    ts = now or datetime.now(timezone.utc)
    # convert to UTC BEFORE dropping tzinfo: a caller-supplied non-UTC
    # `now` would otherwise shift snapshot_ts by its offset and can
    # flip snapshot_date — corrupting the (snapshot_date, sha256)
    # idempotence key (same class as the landing source's ts fix)
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc)
    return {
        "source_url": source_url,
        "http_status": int(status),
        "snapshot_ts": ts.replace(tzinfo=None),
        "snapshot_date": ts.date(),
        "payload_json": text,
        "payload_sha256": hashlib.sha256(text.encode("utf-8")).hexdigest(),
        "payload_size_bytes": len(text.encode("utf-8")),
        "run_id": run_id,
    }


def snapshot_dataframe(spark: SparkSession, row: dict) -> DataFrame:
    """S2: single-Row batch with the explicit ingestion schema — the
    payload re-enters Spark as a 1-row relation, parsed IN-PLAN by the
    Silver build (never collect()-and-reparse, SURVEY.md §4)."""
    cols = [c.strip().split()[0] for c in SNAPSHOT_SCHEMA.split(",")]
    return local_frame(spark, [tuple(row[c] for c in cols)], SNAPSHOT_SCHEMA)
