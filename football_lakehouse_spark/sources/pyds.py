"""Custom Python Data Source (Spark 4 DataSource V2 Python API) for the
event landing directory — the S7/S8 file-landing surface re-expressed
as a REGISTERED source: ``spark.read.format("landing_events")`` and
``spark.readStream.format("landing_events")`` after one
:func:`register_landing_source` call.

Why this exists when ``spark.read.json`` already works: the reference's
landing contract (SURVEY.md §2 S7/S8) includes per-file lineage, a
rescue column for corrupt lines, and partition-dir date recovery — the
native JSON reader needs a wrapper for each; a custom source bakes the
contract into the format itself, and the STREAM reader gives exact
file-granularity offsets (the resume log is the sorted file list — the
same idea as the file-stream source's commit log, but inspectable).

Scale design: the BATCH reader builds one InputPartition per landing
file → Spark schedules file parses across executors exactly like the
built-in source with no driver-side data movement (the driver only
lists the directory). The STREAM reader is
:class:`LandingPartitionStreamReader`, a partition-planning
``DataSourceStreamReader`` — the driver only lists files and plans one
InputPartition per pending file; every row is parsed ON AN EXECUTOR,
so a month-long backlog drains with O(listing) driver memory no matter
how many rows it holds. :class:`LandingStreamReader`
(``SimpleDataSourceStreamReader``, which by Spark-4 contract prefetches
each micro-batch's rows on the driver) is not reachable through the
format: it stays as the reference implementation of the offset
contract, driven directly by the unit tests, and shares the same
content-addressed offset format.

Listing is O(files) on the driver — the same contract as Spark's own
file index; at 10⁶+ files you compact the landing zone (RUNBOOK §7).

Offset encoding — PER-DIR watermark-prefix + recent-tail. A naive
content-addressed offset serializes every consumed file name into
every micro-batch's offset-log entry: O(all files ever) per entry,
multi-MB JSON at the RUNBOOK's own 10⁶-file bound. Instead, offsets
compact to ``{"dirwm": {dir: B, ...}, "tail": [names...]}`` with
membership ``consumed(f) ⇔ basename(f) <= dirwm[dir(f)] or f ∈ tail``:
each partition dir's stable sorted prefix of the consumed set folds
into one basename watermark and only the recent tail stays explicit,
so offset size is O(dirs + recent arrivals + margin). The fold is
per dir — NOT one global path-ordered watermark — because the landing
layout partitions by EVENT date: a late event for an old day lands in
a dir that sorts wholesale below the newest dirs, and a global
watermark treated its never-read file as consumed (permanent silent
data loss; found r12). Within a dir, the writer's arrival-stamped
monotone names (land_json_files) guarantee a late landing sorts above
that dir's watermark. Correctness of batch planning is preserved by
the FOLD INVARIANT — when an end offset is derived from a start
offset, only names that were already members of START fold, so every
file of the batch itself is explicit in the end offset's tail and
``partitions(start, end) = tail(end) − members(start)`` is exact,
deterministic, and independent of the current listing (replay after
new arrivals or deletions returns the originally planned files, same
as the explicit-set design). The legacy ``{"consumed": [...]}``
full-list form is still read AND still written whenever nothing has
folded yet (small streams never change format); a pre-r12
``{"watermark": W}`` global watermark is honoured read-only (old folds
keep their old semantics, new folds go per-dir); ``{"files": n}``
count offsets from pre-r7 checkpoints keep their best-effort
migration. The residual trade, documented on both readers: a late
file whose name sorts at or below ITS DIR's watermark is treated as
consumed and silently skipped — unreachable under the arrival-stamped
naming contract unless the landing host's clock steps backwards past
the margin. The ``offsetTailKeep`` margin (default 64) keeps the
newest consumed names explicit, so each dir's watermark lags its
frontier.
"""

from __future__ import annotations

import json
import logging
import os
from datetime import date, datetime, timezone

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
    SimpleDataSourceStreamReader,
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
        # never leak un-stamped in-flight files into an offset
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


def _parse_max_files(options) -> int | None:
    """maxFilesPerBatch, validated at reader construction (0 = uncapped):
    a negative value would make ``pending[:cap]`` truncate from the END
    of the list, permanently deferring the NEWEST files — an availableNow
    drain would terminate with them never ingested (silent data loss) —
    so it errors instead, like offsetTailKeep."""
    cap = int(options.get("maxFilesPerBatch", 0))
    if cap < 0:
        raise ValueError(
            f"landing_events: maxFilesPerBatch must be >= 0, got {cap} "
            "(0 = no cap; positive values bound each micro-batch's file "
            "count)"
        )
    return cap or None


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


_log = logging.getLogger(__name__)

#: keep this many of the newest consumed names explicit in the offset
#: tail instead of folding them under the watermark — the late-arrival
#: margin (module docstring) and the knob behind ``offsetTailKeep``.
DEFAULT_OFFSET_TAIL_KEEP = 64


def _parse_tail_keep(options) -> int:
    """offsetTailKeep, validated at reader construction: a negative
    value would make ``foldable[:-keep]`` fold only the OLDEST -keep
    names and keep everything else explicit forever — silently
    inverting the margin semantics — so it errors instead."""
    keep = int(options.get("offsetTailKeep", DEFAULT_OFFSET_TAIL_KEEP))
    if keep < 0:
        raise ValueError(
            f"landing_events: offsetTailKeep must be >= 0, got {keep} "
            "(0 folds every consumed name under the watermark; positive "
            "values keep that many recent names explicit as the "
            "late-arrival margin)"
        )
    return keep


#: canonical membership state shared by both stream readers:
#: ``(gw, dirwm, tail)`` — ``gw`` is a LEGACY global watermark
#: (read-only passthrough from pre-r12 checkpoints; new folds never
#: grow it), ``dirwm`` maps partition-dir → max folded BASENAME within
#: that dir, ``tail`` is the explicit recent set.
#: consumed(f) ⇔ f <= gw, or basename(f) <= dirwm[dir(f)], or f ∈ tail.
#:
#: PER-DIR watermarks (r12): a single global path-ordered watermark
#: silently swallowed ordinary event-time lateness — the landing layout
#: partitions by EVENT date (snapshot_date=D/...), so a late event for
#: an old day lands in a dir that sorts wholesale below the frontier
#: and its file was treated as consumed without ever being read
#: (permanent silent data loss, found by review r12). Scoping the fold
#: to each dir makes cross-dir ordering irrelevant; within a dir the
#: writer's arrival-stamped names (land_json_files) are monotone, so a
#: late landing always sorts above its dir's watermark.
State = tuple


def _warn_skipped_late_arrivals(
    prev_listing: set[str] | None,
    listing: list[str],
    state: State,
    path: str,
) -> set[str]:
    """Observability for the offset compaction's one silent-skip path
    (module docstring): a NEVER-BEFORE-LISTED name at or below its
    dir's watermark (or a legacy global one) is a late arrival that
    will be treated as consumed — within one reader lifetime the
    previous listing makes it distinguishable from a genuinely consumed
    file, so log it loudly instead of dropping it invisibly. Returns
    the new baseline listing."""
    gw, dirwm, tail = state
    if prev_listing is not None and (gw is not None or dirwm):
        late = [
            f for f in listing
            if f not in tail
            and f not in prev_listing
            and _member(f, gw, dirwm, tail)
        ]
        if late:
            _log.warning(
                "landing_events: %d never-before-listed file(s) under %s "
                "sort at or below their dir's offset watermark and will "
                "be SKIPPED as already-consumed — a late arrival "
                "violating the monotonic arrival-stamped naming contract "
                "(RUNBOOK §7); rename above the watermark to ingest: %s",
                len(late), path, sorted(late)[:10],
            )
    return set(listing)


def _offset_state(offset: dict, path: str) -> State:
    """Offset → canonical membership state ``(gw, dirwm, tail)``.
    Shared by both stream readers so their checkpoints interoperate,
    across all four wire forms: per-dir compact ``{"dirwm", "tail"}``,
    legacy global-watermark ``{"watermark", "tail"}`` (kept as the
    read-only ``gw`` clause — old folds keep their old semantics; new
    folds go per-dir), legacy full-list ``{"consumed"}``, and pre-r7
    positional ``{"files": n}`` counts. The count form maps n onto the
    first n of the CURRENT sorted listing — best-effort by design: if
    consumed files were deleted, or names that sort early landed out of
    order, between the legacy checkpoint and the upgrade, the
    reconstructed set differs from what was actually read and the one
    boundary batch silently re-reads or skips those files. The
    migration logs a warning so operators can audit that batch."""
    if "dirwm" in offset or "watermark" in offset or "tail" in offset:
        return (
            offset.get("watermark"),
            dict(offset.get("dirwm", {})),
            set(offset.get("tail", ())),
        )
    if "consumed" in offset:
        return None, {}, set(offset["consumed"])
    n = int(offset.get("files", 0))
    if n:
        _log.warning(
            "landing_events: migrating legacy positional offset "
            "{'files': %d} onto the first %d names of the current "
            "listing of %s — best-effort: audit this boundary batch if "
            "files were deleted or landed out of order since the "
            "legacy checkpoint was written",
            n, n, path,
        )
    return None, {}, {
        os.path.relpath(fp, path) for fp in _list_landing_files(path)[:n]
    }


def _member(name: str, gw: str | None, dirwm: dict, tail: set[str]) -> bool:
    if gw is not None and name <= gw:
        return True
    d, b = os.path.split(name)
    w = dirwm.get(d)
    return (w is not None and b <= w) or name in tail


def _merge_states(a: State | None, b: State) -> State:
    """Exact union of two membership states: per-dir max watermarks,
    max legacy global watermark, tail union — a name is a member of
    whichever state carried the larger bound."""
    if a is None:
        return b
    ga, da, ta = a
    gb, db, tb = b
    g = gb if ga is None else ga if gb is None else max(ga, gb)
    d = dict(da)
    for k, v in db.items():
        cur = d.get(k)
        d[k] = v if cur is None else max(cur, v)
    return g, d, ta | tb


def _advance_state(
    state: State,
    listing: list[str],
    pending: list[str],
    keep: int,
) -> State:
    """End-offset state from a start state plus this batch's pending
    files, maintaining the FOLD INVARIANT (module docstring): only
    names that are members of START fold under a watermark — pending
    names all sort above their dir's fold frontier (the frontier stops
    at the first listed non-member of that dir, and pending IS the
    listed non-members) — so the batch stays explicit in the end tail.
    The newest ``keep`` foldable names (globally) stay explicit as the
    late-arrival margin. Folds are PER DIR (see the State note); a
    legacy global watermark passes through unchanged, never growing.
    Dir watermarks never regress."""
    gw, dirwm, tail = state
    # per-dir frontier: the longest all-member prefix of that dir's
    # sorted listing (the global sorted listing keeps each dir's names
    # contiguous and ordered)
    frontier: dict[str, str] = {}
    blocked: set[str] = set()
    for name in listing:  # sorted
        d, b = os.path.split(name)
        if d in blocked:
            continue
        if _member(name, gw, dirwm, tail):
            frontier[d] = b
        else:
            blocked.add(d)
    new_tail = tail | set(pending)
    if not frontier:
        return gw, dirwm, new_tail
    foldable = sorted(
        f for f in new_tail
        if (db := os.path.split(f))[0] in frontier
        and db[1] <= frontier[db[0]]
    )
    folded = foldable[:-keep] if keep > 0 else foldable
    if not folded:
        return gw, dirwm, new_tail
    new_dirwm = dict(dirwm)
    for f in folded:
        d, b = os.path.split(f)
        cur = new_dirwm.get(d)
        new_dirwm[d] = b if cur is None else max(cur, b)
    return gw, new_dirwm, new_tail - set(folded)


def _encode_state(gw: str | None, dirwm: dict, tail: set[str]) -> dict:
    """State → wire offset. Until anything folds this is the legacy
    full-list form byte-for-byte, so small streams and old readers of
    the checkpoint never see a format change."""
    if gw is None and not dirwm:
        return {"consumed": sorted(tail)}
    out: dict = {"dirwm": dict(sorted(dirwm.items())), "tail": sorted(tail)}
    if gw is not None:
        out["watermark"] = gw
    return out


class LandingPartitionStreamReader(DataSourceStreamReader):
    """Executor-side partition-planning stream reader — the default.

    Same content-addressed offsets as :class:`LandingStreamReader`
    (compact watermark+tail encoding, module docstring), but rows never
    touch the driver: ``partitions(start, end)`` plans exactly
    ``tail(end) − members(start)`` — by the fold invariant, precisely
    the batch's files — as one :class:`InputPartition` per file, and
    :meth:`read` parses that file on an executor. Driver memory is
    O(listing) regardless of backlog row volume — the at-scale fix for
    the simple reader's driver prefetch (the capped drain bounded it;
    this removes it).

    Correctness is STATELESS: replay of any planned batch is a pure
    function of its two logged offsets, so restart recovery
    (Spark re-planning an uncommitted batch from the offset log) and
    late out-of-order arrivals behave exactly like the simple reader —
    a file is read in the one batch whose offset range first contains
    it, ever after. One documented corner: a consumed file that is
    DELETED (RUNBOOK §7 compaction) and followed by a driver restart
    drops out of the offset chain — a fresh reader's first
    ``latestOffset`` can only see the current listing (the Python
    stream API offers no restored-offset callback), and once a logged
    end omits the name it must STAY omitted (resurrecting it would
    make a later offset diff re-plan a batch for a file that may not
    exist). Consequence: a SAME-NAME file re-landed after that restart
    is read as new data — duplicate rows if it was truly the old file.
    Mitigation is the landing contract itself: compacted-away names
    are never reused (date-stamped part naming, RUNBOOK §7), which
    makes the corner unreachable; within one driver lifetime the
    ``_seen`` baseline already prevents it. (The simple reader avoids
    this only because ``read(start)`` is handed the start offset.)

    Late-arrival margin: same trade as the simple reader — a file whose
    name sorts at or below ITS DIR's offset watermark is treated as
    consumed (``offsetTailKeep`` names stay explicit above it; module
    docstring — unreachable under the writer's arrival-stamped naming).

    ``maxFilesPerBatch`` is honoured as best-effort admission control:
    ``latestOffset`` advances by at most that many new files past the
    last offset this reader instance planned or committed. The cap
    bounds sink-transaction granularity under long-running triggers
    (processingTime/continuous), engaging from the reader's second
    offset onward; it is NOT a memory-safety device here — per-file
    partitions already bound executor memory. A reader with NO
    baseline (fresh query or driver restart) returns its first
    ``latestOffset`` uncapped rather than crawl a restart through
    empty catch-up batches — measured consequence: one
    ``Trigger.availableNow`` run drains the whole backlog in a single
    batch regardless of the cap (the Python stream API has no
    ReadLimit admission control; the JVM file source's
    ``maxFilesPerTrigger``-under-availableNow multi-batch behaviour is
    not expressible).
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("landing_events: option 'path' is required")
        self.max_files = _parse_max_files(options)
        self.tail_keep = _parse_tail_keep(options)
        #: union of every offset this instance planned or committed —
        #: the cap baseline, NOT a correctness input (see docstring)
        self._state: State | None = None
        #: previous listing — late-arrival observability baseline only
        self._prev_listing: set[str] | None = None

    def initialOffset(self):
        return {"consumed": []}

    def latestOffset(self):
        """NOTE restart shape: a FRESH reader instance (new query or
        clean driver restart) has no baseline state and the Python
        stream API hands it no restored offset before this call, so its
        first answer cannot fold anything — one full-list
        ``{"consumed": [...]}`` offset-log entry per clean restart (the
        fold invariant forbids folding names that were not members of a
        known start). It self-heals on the very next advance, and a
        restart WITH an uncommitted batch seeds the baseline through
        ``partitions(start, end)`` first and stays compact."""
        listing = sorted(
            os.path.relpath(fp, self.path)
            for fp in _list_landing_files(self.path)
        )
        gw, dirwm, tail = self._state or (None, {}, set())
        self._prev_listing = _warn_skipped_late_arrivals(
            self._prev_listing, listing, (gw, dirwm, tail), self.path
        )
        pending = [f for f in listing if not _member(f, gw, dirwm, tail)]
        # cap only with a baseline: a fresh reader (driver restart) has
        # none, so its first batch is uncapped — documented best-effort
        if self.max_files is not None and self._state is not None:
            pending = pending[: self.max_files]
        # consumed-but-deleted files stay members (watermark or tail):
        # a re-landed same-name file is not re-read within one lifetime
        self._state = _advance_state(
            (gw, dirwm, tail), listing, pending, self.tail_keep
        )
        return _encode_state(*self._state)

    def partitions(self, start, end):
        sg, sd, st = _offset_state(start, self.path)
        ew, ed, et = _offset_state(end, self.path)
        # the batch is tail(end) − members(start): by the fold invariant
        # every file of the batch is explicit in the end tail, and using
        # the tail (never the current listing) keeps replay deterministic
        # after later arrivals or deletions. Baseline seeds from END
        # ONLY — deliberately. A name present in start but absent from
        # end has been dropped from the offset chain (consumed file
        # deleted across a driver restart, below); resurrecting it into
        # a LATER end would make that later (end_i, end_{i+1}) diff plan
        # it as a batch — a phantom re-read that crashes read() on the
        # missing file. Once dropped, stays dropped; the chain of end
        # offsets is the source of truth.
        self._state = _merge_states(self._state, (ew, ed, et))
        return [
            _FilePartition(os.path.join(self.path, rel))
            for rel in sorted(f for f in et if not _member(f, sg, sd, st))
        ]

    def read(self, partition):
        if partition is None:  # empty micro-batch — same [None] edge as
            return             # the batch reader above
        pdate = _date_from_path(partition.fp)
        with open(partition.fp, encoding="utf-8") as fh:
            for line in fh:
                row = _parse_line(line, partition.fp, pdate)
                if row is not None:
                    yield row

    def commit(self, end):
        self._state = _merge_states(
            self._state, _offset_state(end, self.path)
        )


class LandingStreamReader(SimpleDataSourceStreamReader):
    """Reference implementation of the offset contract — not reachable
    through ``format("landing_events")``; the unit tests drive it
    directly against :class:`LandingPartitionStreamReader`.

    File-granularity incremental stream with CONTENT-ADDRESSED
    offsets in the compact watermark+tail encoding (module docstring):
    membership is ``name <= watermark or name in tail``, and the
    full-list ``{"consumed": [...]}`` form is still read and written
    until anything folds. Each micro-batch is exactly the listed
    non-members (sorted), so a late-arriving file whose name sorts
    BEFORE already-consumed tail names is still picked up exactly once
    — with the one documented exception that a name at or below its
    DIR's watermark is treated as consumed (``offsetTailKeep`` is the
    margin; the writer's arrival-stamped monotonic naming makes such
    arrivals out-of-contract). ``readBetweenOffsets(start, end)``
    replays exactly ``tail(end) − members(start)`` — by the fold
    invariant, precisely the batch's files — regardless of files that
    arrived after the batch was planned. (A positional ``{"files": n}``
    offset — the first design — shifted indices on out-of-order
    arrivals and broke replay; legacy count offsets are still accepted
    for old checkpoints, interpreted over the current sorted listing,
    and log a warning naming the audit corner.)

    ``maxFilesPerBatch`` (option, default unbounded) caps how many
    pending files one micro-batch materializes — SimpleDataSourceStreamReader
    prefetches batch rows on the driver, so a large initial backlog
    would otherwise buffer the whole landing zone in driver memory; with
    the cap, an availableNow drain advances the offset incrementally in
    bounded slices. Offset size is O(recent arrivals + tail margin),
    not O(all files ever); the landing-zone compaction contract
    (RUNBOOK §7) bounds the LISTING cost, which is the remaining
    per-batch O(files) term.
    """

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("landing_events: option 'path' is required")
        self.max_files = _parse_max_files(options)
        self.tail_keep = _parse_tail_keep(options)
        #: previous listing — late-arrival observability baseline only
        self._prev_listing: set[str] | None = None

    def initialOffset(self):
        return {"consumed": []}

    def _rel(self, fp: str) -> str:
        return os.path.relpath(fp, self.path)

    def _read_files(self, rel_paths):
        rows = []
        for rel in sorted(rel_paths):
            fp = os.path.join(self.path, rel)
            pdate = _date_from_path(fp)
            with open(fp, encoding="utf-8") as fh:
                for line in fh:
                    row = _parse_line(line, fp, pdate)
                    if row is not None:
                        rows.append(row)
        return rows

    def read(self, start):
        gw, dirwm, tail = _offset_state(start, self.path)
        listing = sorted(
            self._rel(fp) for fp in _list_landing_files(self.path)
        )
        self._prev_listing = _warn_skipped_late_arrivals(
            self._prev_listing, listing, (gw, dirwm, tail), self.path
        )
        pending = [f for f in listing if not _member(f, gw, dirwm, tail)]
        if self.max_files is not None:
            pending = pending[: self.max_files]
        end = _encode_state(
            *_advance_state((gw, dirwm, tail), listing, pending, self.tail_keep)
        )
        return (iter(self._read_files(pending)), end)

    def readBetweenOffsets(self, start, end):
        sg, sd, st = _offset_state(start, self.path)
        _eg, _ed, et = _offset_state(end, self.path)
        batch = [f for f in et if not _member(f, sg, sd, st)]
        return iter(self._read_files(batch))


class LandingEventsDataSource(DataSource):
    """``format("landing_events")`` — batch + streaming reads of the
    event landing zone with the S7/S8 contract built in."""

    @classmethod
    def name(cls):
        return "landing_events"

    def schema(self):
        return LANDING_SCHEMA

    def reader(self, schema):
        return LandingReader(self.options)

    def streamReader(self, schema):
        """Partition-planning reader: executor-side parses."""
        return LandingPartitionStreamReader(self.options)


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
