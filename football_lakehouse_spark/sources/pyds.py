"""Custom Python Data Source (Spark 4 DataSource V2 Python API) for the
event landing directory — the S7/S8 file-landing surface re-expressed
as a REGISTERED batch source: ``spark.read.format("landing_events")``
after one :func:`register_landing_source` call.

Why this exists when ``spark.read.json`` already works: the reference's
landing contract (SURVEY.md §2 S7/S8) includes per-file lineage, a
rescue column for corrupt lines, and partition-dir date recovery — the
native JSON reader needs a wrapper for each; a custom source bakes the
contract into the format itself:

- one ``InputPartition`` per landing file, so Spark schedules the file
  parses across executors like the built-in source and the driver only
  lists the directory (O(files), the same contract as Spark's own file
  index; at 10⁶+ files you compact the landing zone, RUNBOOK §7);
- lineage: every row carries its ``source_file``;
- rescue: an unparseable line lands whole in ``_rescue`` with every
  typed column null (the ``_parse_*`` helpers define what "unparseable"
  means, matching the native PERMISSIVE reader);
- partition-date recovery: ``snapshot_date`` comes from the
  ``snapshot_date=YYYY-MM-DD`` directory the file sits in.

The format is batch-only. The landing zone's incremental reader is the
native file-source stream, ``streaming/ingest.py::read_landing_stream``;
``spark.readStream.format("landing_events")`` fails at query start with
PySpark's ``NOT_IMPLEMENTED``.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
    DateType,
)

#: EVENT_SCHEMA (streaming/ingest.py) + lineage + rescue + partition date
LANDING_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
        StructField("snapshot_date", DateType()),
        StructField("source_file", StringType()),
        StructField("_rescue", StringType()),
    ]
)


def _list_landing_files(path: str) -> list[str]:
    """Deterministic sorted listing of data files under the landing dir
    (recurses into snapshot_date=... partition dirs; skips hidden and
    _SUCCESS-style marker files)."""
    out: list[str] = []
    for root, dirs, files in os.walk(path):
        # prune hidden dirs (Spark's own file index skips _/. prefixed
        # directories too) — a _staging-* or _temporary subtree must
        # never leak un-stamped in-flight files into a read
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.startswith(("_", ".")):
                continue
            if f.endswith(".json"):
                out.append(os.path.join(root, f))
    return sorted(out)


def _date_from_path(fp: str) -> date | None:
    for part in fp.split(os.sep):
        if part.startswith("snapshot_date="):
            try:
                return date.fromisoformat(part.split("=", 1)[1])
            except ValueError:
                return None
    return None


def _parse_ts(v):
    """Missing ts → NULL (legitimate); MALFORMED ts → ValueError, so
    _parse_line rescues the whole line — the same treatment a malformed
    `value` gets, and what the native PERMISSIVE reader does. Swallowing
    it to NULL would emit a silently corrupted row with _rescue NULL.

    Offset-bearing timestamps are CONVERTED to UTC before the tzinfo is
    dropped (the engine session runs UTC): stripping a +05:00 offset
    with replace(tzinfo=None) alone would silently shift the stored
    instant by five hours with _rescue NULL — worse than a rescue."""
    if v is None:
        return None
    dt = datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc)
    return dt.replace(tzinfo=None)


def _parse_id(v):
    """JSON id → int, or ValueError (rescue the whole line). int() alone
    silently truncated non-integral JSON numbers (1.5 → 1: id corruption
    with _rescue NULL — possible PK collision downstream) and coerced
    JSON booleans (true → 1); only integral JSON numbers are ids, the
    same strictness a string "1.5" already got via int()'s ValueError."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, int):
        raise ValueError(f"non-integral id: {v!r}")
    return v


def _parse_value(v):
    """JSON value → float, or ValueError (rescue the whole line): only
    JSON numbers are values — a boolean would coerce true → 1.0 with
    _rescue NULL (silent corruption), and the native PERMISSIVE reader
    rescues the same line."""
    if v is None:
        return None
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        raise ValueError(f"non-numeric value: {v!r}")
    return float(v)


def _parse_line(line: str, fp: str, pdate: date | None):
    """One landing line → LANDING_SCHEMA tuple; unparseable lines land
    in _rescue with every typed column null (ST3's contract)."""
    line = line.strip()
    if not line:
        return None
    try:
        o = json.loads(line)
        if not isinstance(o, dict):
            raise ValueError("non-object line")
        return (
            _parse_id(o.get("event_id")),
            _parse_ts(o.get("ts")),
            _parse_id(o.get("user_id")),
            o.get("event_type"),
            # bool is rejected like _parse_id does: float(True) == 1.0
            # would silently coerce a drifting producer's {"value": true}
            # that the native PERMISSIVE reader rescues — the two S7/S8
            # surfaces must agree on the same input
            _parse_value(o.get("value")),
            o.get("props"),
            pdate,
            fp,
            None,
        )
    except (ValueError, KeyError, TypeError):
        return (None, None, None, None, None, None, pdate, fp, line)


class _FilePartition(InputPartition):
    def __init__(self, fp: str):
        self.fp = fp


class LandingReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("landing_events: option 'path' is required")

    def partitions(self):
        return [_FilePartition(fp) for fp in _list_landing_files(self.path)]

    def read(self, partition):
        # an EMPTY landing dir yields zero partitions, and pyspark's
        # plan_data_source_read substitutes [None] and still calls
        # read(None) — return an empty iterator, not AttributeError
        if partition is None:
            return
        pdate = _date_from_path(partition.fp)
        with open(partition.fp, encoding="utf-8") as fh:
            for line in fh:
                row = _parse_line(line, partition.fp, pdate)
                if row is not None:
                    yield row


class LandingEventsDataSource(DataSource):
    """``format("landing_events")`` — batch reads of the event landing
    zone with the S7/S8 contract built in."""

    @classmethod
    def name(cls):
        return "landing_events"

    def schema(self):
        return LANDING_SCHEMA

    def reader(self, schema):
        return LandingReader(self.options)


def register_landing_source(spark) -> None:
    """Idempotently register the custom source on this session.

    The DataSource class is shipped to Python workers BY VALUE
    (cloudpickle.register_pickle_by_value on this module): the driver
    contract runs the engine from an injected sys.path the workers do
    not inherit, so by-reference pickling would die with
    ModuleNotFoundError on the first partition read. The module is
    stdlib-only, so the by-value payload is small and dependency-free."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(LandingEventsDataSource)
