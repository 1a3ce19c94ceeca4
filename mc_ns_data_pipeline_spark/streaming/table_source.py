"""Versioned table as a Structured Streaming SOURCE — "table as
stream", the Delta CDF / ``readStream.table`` shape (VERDICT r08 #4).

``spark.readStream.format("versioned_table")`` tails a versioned
table's append lineage with exactly-once offsets: an offset IS a
snapshot id, ``latestOffset`` is one pointer read, and a micro-batch's
input is exactly the pool files the in-range append commits landed —
the same bounded increment `read_appended_since` serves batch
consumers (sinks/versioned.py:4290), now driving Spark's own streaming
offset log instead of a hand-rolled cursor loop (the reference's
incremental pipeline is this consumer pattern:
incremental_fetch.py:129-155 — resume after last high-water mark).

Semantics (all verified in tests/test_table_source.py):

* **Exactly-once.** Spark checkpoints the committed offset; on
  restart ``partitions(lastCommitted, latest)`` re-derives the file
  list from immutable manifests, so replay is deterministic and a row
  is emitted exactly once per committed batch. Manifest immutability
  is what makes the offset log sound — vacuum retention must cover
  consumer lag, and a vacuumed-range resume refuses loudly
  (NonIncrementalHistoryError) instead of silently skipping.
* **Compaction-transparent.** ``compact`` / ``set-spec`` commits are
  row-preserving rewrites and contribute no input rows — a stream
  never re-reads rows because maintenance ran.
* **Rewritten history refuses loudly.** A COW merge / delete /
  overwrite in range fails the stream with
  NonIncrementalHistoryError (same contract as the batch changelog) —
  a stream must never silently double-read rewritten rows.
* **Bootstrap (`starting="genesis"`).** The first batch is the full
  snapshot at stream start (the Delta ``readStream`` initial-snapshot
  shape), then increments. Refused if the snapshot carries
  merge-on-read delete masks (a raw pool-file read would resurrect
  masked rows); bounded to append-only/compacted lineages.
* **Bounded admission.** ``max_commits_per_trigger`` /
  ``max_files_per_trigger`` cap how much lineage one micro-batch
  admits: a consumer that fell behind N commits (or a genesis
  bootstrap over a long lineage) drains as ⌈N/cap⌉ checkpointed
  batches instead of ONE unbounded batch — the reference's own
  one-6h-window-per-run admission (incremental_fetch.py:158-175),
  generalized. A kill mid-drain resumes from the last committed
  batch, exactly-once preserved. TRIGGER CAVEAT: only continuous
  triggers (``processingTime``) consult ``latestOffset`` per batch
  and drain multi-batch in one run; ``Trigger.AvailableNow``
  captures the FIRST offer as the run end (no per-batch admission
  hook in the Python datasource API), so a capped availableNow run
  admits exactly ONE bounded batch and terminates with backlog
  remaining — loop such runs until caught up. The public CDC
  runners (streaming/incremental.py) start no stream at all: they
  plan the same bounded batches (``_bounded_end``, ``_plan_slices``)
  in a driver loop with a write-ahead cursor, and read each batch
  with the same per-file read (``_read_slice``) on the driver, or
  through this datasource's batch reader past the driver budget.
* **Frozen schema.** The stream's schema is pinned at definition
  time (Spark streaming requires a static schema); later additive
  evolutions project away mid-stream (new columns are dropped until
  the stream is redefined), and pre-evolution files project NULL for
  later-added columns — the `_read_pool` contract.

Scale: ``partitions`` is manifest-metadata-only on the driver
(O(new commits), never O(table)); each input partition is one pool
file read executor-side via Arrow (writer-sized files ≈ one Spark
task each), so a 1000-executor cluster fans the catch-up scan out
file-parallel with zero driver data movement.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_GENESIS = ""  # offset sentinel: "before the first snapshot"
_CHANGE_TYPE = "_change_type"  # CDC meta columns (Delta CDF naming)
_COMMIT_GEN = "_commit_gen"


def _ensure_importable(pkg_parent: str | None) -> None:
    """Worker-side import guard. The driver contract loads this repo
    from an arbitrary cwd with a plain SparkSession, so the Python
    data-source worker processes (offset runner + executors) have no
    PYTHONPATH entry for the package. The classes themselves ship by
    VALUE (see ``read_stream_table``); this makes their lazy
    ``import mc_ns_data_pipeline_spark`` resolve by injecting the
    package parent dir recorded at stream definition time."""
    if not pkg_parent:
        return
    import importlib.util
    import sys

    if importlib.util.find_spec("mc_ns_data_pipeline_spark") is None:
        sys.path.insert(0, pkg_parent)


class _FileSlice(InputPartition):
    """One pool file (or small batch) of an append increment — or, in
    CHANGES mode, one insert/delete event slice with its commit
    generation (and for deletes, the equality-delete key column)."""

    def __init__(self, paths: list[str], schema_json: str,
                 renames: dict | None = None,
                 kind: str = "row", gens: list[int] | None = None,
                 key: str | None = None):
        self.paths = paths
        self.schema_json = schema_json
        # {current_name: [older physical names]} from the END
        # snapshot's manifest: bootstrap slices may carry pre-rename
        # era files whose physical column name differs — read()
        # resolves each field through the chain (a file carries
        # exactly ONE chain name; retirement forbids reuse), exactly
        # the projection `_read_pool` applies batch-side.
        self.renames = renames or {}
        self.kind = kind          # "row" | "insert" | "delete"
        self.gens = gens          # per-path commit generation (CDC)
        self.key = key            # delete slices: key column name


def _append_files_between(table: str, start: str, end: str) -> list[str]:
    """Pool files landed by append commits in (start, end] — metadata
    only. Compaction/spec commits contribute nothing; rewritten
    history raises (the changelog contract, versioned.py:4290)."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    chain = V._chain_between(table, start, end)
    files: list[str] = []
    for man in chain:
        op = man.get("op")
        if op == "append":
            files.extend(man.get("new_files", []))
        elif op in ("compact", "set-spec"):
            continue
        elif op == "set-schema":
            raise V.NonIncrementalHistoryError(
                f"commit {man['snapshot']} changed the table schema "
                "(rename/drop) — a stream's schema is frozen at "
                "definition; restart the stream to adopt it")
        else:
            raise V.NonIncrementalHistoryError(
                f"commit {man['snapshot']} is op={op!r} — history is "
                "not append-only; the stream cannot represent a "
                "rewrite. Re-bootstrap the consumer.")
    return files


def _change_slices_between(table: str, start: str, end: str,
                           schema_json: str, renames: dict | None,
                           per_part: int) -> list["_FileSlice"]:
    """CDC planning: insert slices from append/merge-mor commits' own
    files, delete slices from delete-mor/merge-mor commits' NEW
    equality-delete entries (diffed against the previous commit's
    list — `read_changes_since`'s attribution, versioned.py), each
    stamped with its commit generation. Compact/set-spec contribute
    nothing; set-schema and COW rewrites refuse loudly."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    chain = V._chain_between(table, start, end)
    root = V._data_root(table)
    out: list[_FileSlice] = []
    prev_dels: list[dict] | None = None
    for man in chain:
        op = man.get("op")
        gen = V._gen_of(man["snapshot"])
        if op in ("compact", "set-spec"):
            prev_dels = man.get("delete_files") or []
            continue
        if op == "set-schema":
            raise V.NonIncrementalHistoryError(
                f"commit {man['snapshot']} changed the table schema "
                "(rename/drop) — a stream's schema is frozen at "
                "definition; restart the stream to adopt it")
        if op not in ("append", "merge-mor", "delete-mor"):
            raise V.NonIncrementalHistoryError(
                f"commit {man['snapshot']} is op={op!r} — a COW "
                "rewrite does not decompose into row events; "
                "re-bootstrap the consumer")
        if op in ("append", "merge-mor"):
            files = [f if os.path.isabs(f)
                     else os.path.join(root, f)
                     for f in man.get("new_files", [])]
            for i in range(0, len(files), per_part):
                part = files[i:i + per_part]
                out.append(_FileSlice(
                    part, schema_json, renames, kind="insert",
                    gens=[gen] * len(part)))
        if op in ("delete-mor", "merge-mor"):
            if prev_dels is None:
                try:  # baseline = the start snapshot's own list —
                    # a vacuumed start must refuse LOUDLY (falling
                    # back to [] would re-emit carried deletes)
                    prev_dels = (V._read_core(table, start)
                                 .get("delete_files") or [])
                except FileNotFoundError:
                    raise V.NonIncrementalHistoryError(
                        f"snapshot {start} vacuumed from {table!r} — "
                        "cannot attribute delete entries; "
                        "re-bootstrap the consumer") from None
            seen = {d["file"] for d in prev_dels}
            for d in man.get("delete_files") or []:
                if d["file"] in seen:
                    continue
                path = (d["file"] if os.path.isabs(d["file"])
                        else os.path.join(root, d["file"]))
                out.append(_FileSlice(
                    [path], schema_json, renames, kind="delete",
                    gens=[gen], key=d["key"]))
        prev_dels = man.get("delete_files") or []
    return out


def _bootstrap_files(table: str, snapshot: str,
                     core: dict | None = None) -> list[str]:
    """The full file list of `snapshot` for a genesis bootstrap batch.

    Refuses when the snapshot carries merge-on-read delete masks: the
    stream reads pool files raw, so masked rows would resurrect."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    man = V._materialize(
        table, core if core is not None
        else V._read_core(table, snapshot))
    if man.get("delete_files"):
        raise V.NonIncrementalHistoryError(
            f"{table}: snapshot {snapshot} carries merge-on-read "
            "delete masks — a raw bootstrap read would resurrect "
            "masked rows. optimize_table() first, or start from "
            "'current'.")
    return list(man.get("files", []))


def _offset_file_snapshot(path: str) -> str | None:
    """Parse one Spark HDFSMetadataLog offset file (version line,
    metadata JSON line, then one serialized offset per source) and
    return this source's {"snapshot": ...} end position, or None."""
    try:
        with open(path) as fh:
            lines = [ln.strip() for ln in fh if ln.strip()]
        off = json.loads(lines[-1])
        if isinstance(off, str):  # SerializedOffset double-encoding
            off = json.loads(off)
        snap = off.get("snapshot")
        return snap if isinstance(snap, str) else None
    except (OSError, ValueError, AttributeError, IndexError):
        return None


def _floor_from_offset_log(checkpoint: str) -> str | None:
    """Best-effort read of Spark's own offset log under a stream's
    checkpoint dir: the END offset of the latest PLANNED batch — the
    position admission control should cap from after a runner
    restart. Returns None when the log is absent or unparseable —
    the caller then falls back to one uncapped batch."""
    d = os.path.join(checkpoint, "offsets")
    try:
        batches = [int(f) for f in os.listdir(d) if f.isdigit()]
    except OSError:
        return None
    if not batches:
        return None
    return _offset_file_snapshot(os.path.join(d, str(max(batches))))


def committed_end_offset(checkpoint: str) -> str | None:
    """The END offset (snapshot id) of the latest COMMITTED batch in
    a stream's checkpoint — unlike ``_floor_from_offset_log`` this
    consults ``commits/`` first, so a planned-but-uncommitted batch
    (a crash the next run will replay) is not counted as progress.
    The CDC runners adopt a checkpoint the Structured Streaming
    runner left through it (``_legacy_cursor``). Returns None when no
    batch has committed."""
    c = os.path.join(checkpoint, "commits")
    try:
        batches = [int(f) for f in os.listdir(c) if f.isdigit()]
    except OSError:
        return None
    if not batches:
        return None
    return _offset_file_snapshot(
        os.path.join(checkpoint, "offsets", str(max(batches))))


class LegacyCheckpointError(RuntimeError):
    """A CDC runner checkpoint holds Structured Streaming offset and
    commit logs whose position cannot be read back exactly."""


def _legacy_cursor(checkpoint: str, table: str,
                   starting: str) -> dict | None:
    """The drain cursor (``{"batch", "start", "end", "committed"}``)
    equivalent to the Structured Streaming ``offsets/`` + ``commits/``
    logs an earlier CDC runner left in ``checkpoint``, or None when no
    batch was ever planned there. The committed end is
    ``committed_end_offset``; a planned-but-uncommitted batch is
    replayed with its logged id and bounds, its start being the end
    of the batch before it. Spark logs no start for batch 0: it is
    re-derived from ``starting``, as Spark's own replay does, except
    for ``"current"``, whose position has moved since — that refuses
    with LegacyCheckpointError rather than skip the batch."""
    def ids(sub: str) -> list[int]:
        try:
            return sorted(int(f) for f in
                          os.listdir(os.path.join(checkpoint, sub))
                          if f.isdigit())
        except OSError:
            return []

    planned, done = ids("offsets"), ids("commits")
    if not planned:
        return None
    last = planned[-1]
    committed = bool(done) and done[-1] >= last
    end = _offset_file_snapshot(
        os.path.join(checkpoint, "offsets", str(last)))
    if committed or last > 0:
        start = committed_end_offset(checkpoint)
    elif starting == "current":
        raise LegacyCheckpointError(
            f"{checkpoint}: batch 0 was planned but never committed, "
            "and Spark logged no start for it; rerun with the "
            "snapshot id the stream started from as `starting`")
    else:
        start = _start_offset(table, starting)
    if end is None or start is None:
        raise LegacyCheckpointError(
            f"{checkpoint}: unreadable offset log for batch {last}")
    return {"batch": last, "start": start, "end": end,
            "committed": committed}


_BOOT_OK_OPS = ("append", "compact", "set-spec")


def _bounded_end(table: str, floor: str, head: str,
                 max_commits: int, max_files: int,
                 core_memo: dict[str, dict]) -> str:
    """Admission control (VERDICT r09 #3): the latest snapshot a
    micro-batch may admit, walking the lineage (floor, head] and
    stopping once the batch would exceed ``max_commits`` commits or
    ``max_files`` new pool files — Delta's maxFilesPerTrigger shape,
    at commit granularity (a commit is never split, so every batch
    makes progress; the reference itself admits exactly one 6-h
    window per run, incremental_fetch.py:158-175). A behind consumer
    and a genesis bootstrap then drain as MULTIPLE checkpointed
    batches instead of one unbounded one.

    Genesis flooring additionally keeps the capped bootstrap at least
    as capable as the uncapped one: the bootstrap point is pushed to
    cover the last non-append-only commit (a rewrite cannot stream
    incrementally) and past any snapshot still carrying merge-on-read
    delete masks (a raw bootstrap read would resurrect masked rows).

    Metadata-only: O(commits behind) small-JSON core reads per
    trigger, memoized across triggers (manifests are immutable)."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    since = None if floor == _GENESIS else floor
    snap = head
    chain: list[dict] = []
    while snap != since:
        core = core_memo.get(snap)
        if core is None:
            try:
                core = V._read_core(table, snap)
            except FileNotFoundError:
                # vacuumed lineage — offer head and let partitions()
                # raise its loud NonIncrementalHistoryError
                return head
            if len(core_memo) < 65536:
                core_memo[snap] = core
        chain.append(core)
        snap = core.get("parent")
        if snap is None and since is not None:
            # not an ancestor — let partitions() raise the loud error
            return head
    chain.reverse()
    # minimum admissible index: genesis bootstraps must cover every
    # rewrite commit and land on a mask-free snapshot
    min_idx = 0
    if floor == _GENESIS:
        for i, core in enumerate(chain):
            if core.get("op") not in _BOOT_OK_OPS:
                min_idx = i
        while min_idx < len(chain) - 1 and \
                chain[min_idx].get("delete_files"):
            min_idx += 1
    taken = 0
    nfiles = 0
    end = head
    for i, core in enumerate(chain):
        n = len(core.get("new_files") or [])
        if i > min_idx and (
                (max_commits and taken + 1 > max_commits)
                or (max_files and nfiles + n > max_files)):
            break
        taken += 1
        nfiles += n
        end = core["snapshot"]
    return end


def _start_offset(table: str, starting: str) -> str:
    """The consumer position ``starting`` names: the genesis sentinel,
    the current snapshot, or an explicit snapshot id (exclusive)."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    if starting == "genesis":
        return _GENESIS
    if starting == "current":
        cur = V.current_snapshot(table)
        if cur is None:
            raise V.NoCurrentSnapshotError(table)
        return cur
    return starting


def _plan_slices(table: str, start: str, end: str, schema_json: str,
                 per_part: int, changes: bool) -> list[_FileSlice]:
    """The input slices of the batch (start, end] — metadata only.
    Append mode: the append commits' pool files, or at genesis the
    snapshot's full file list. Changes mode: `_change_slices_between`,
    or at genesis every live row as an insert event at its file's
    recorded generation."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    end_core = V._read_core(table, end)
    renames = end_core.get("renames")
    if changes and start != _GENESIS:
        return _change_slices_between(table, start, end, schema_json,
                                      renames, per_part)
    root = V._data_root(table)
    if start == _GENESIS:
        man = V._materialize(table, end_core)
        files = _bootstrap_files(table, end, end_core)
        if changes:
            seq = man.get("file_seq") or {}
            out = []
            for i in range(0, len(files), per_part):
                part = files[i:i + per_part]
                out.append(_FileSlice(
                    [f if os.path.isabs(f) else os.path.join(root, f)
                     for f in part],
                    schema_json, renames, kind="insert",
                    gens=[int(seq.get(f, 0)) for f in part]))
            return out
    else:
        files = _append_files_between(table, start, end)
    paths = [f if os.path.isabs(f) else os.path.join(root, f)
             for f in files]
    return [_FileSlice(paths[i:i + per_part], schema_json, renames)
            for i in range(0, len(paths), per_part)]


def _read_slice(partition: _FileSlice) -> Iterator:
    """One slice's rows as pyarrow tables, one per file, under the
    slice's schema: the per-file read every consumer of the feed runs
    (stream tasks, batch tasks and the CDC runners' driver loop)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    want = to_arrow_schema(
        StructType.fromJson(json.loads(partition.schema_json)))
    meta = {_CHANGE_TYPE, _COMMIT_GEN}
    data_fields = [f for f in want if f.name not in meta]
    chains = {f.name: [f.name, *partition.renames.get(f.name, ())]
              for f in data_fields}
    for idx, path in enumerate(partition.paths):
        tbl = pq.read_table(path)
        cols = []
        for field in data_fields:
            # a file carries exactly one name of a rename chain
            # (retirement forbids reuse) — first present wins;
            # delete slices carry ONLY their key column, so every
            # other field projects NULL by the same rule
            have = next((c for c in chains[field.name]
                         if c in tbl.column_names), None)
            if (partition.kind == "delete"
                    and have is not None
                    and partition.key not in chains[field.name]):
                have = None  # stray column in a delete file
            if have is not None:
                col = tbl.column(have)
                if col.type != field.type:
                    col = col.cast(field.type)
            else:  # pre-evolution file: later-added column -> NULL
                col = pa.nulls(tbl.num_rows, type=field.type)
            cols.append(col)
        names = [f.name for f in data_fields]
        if partition.kind != "row":
            gen = partition.gens[idx]
            cols.append(pa.array([partition.kind] * tbl.num_rows,
                                 type=pa.string()))
            cols.append(pa.array([gen] * tbl.num_rows,
                                 type=pa.int64()))
            names += [_CHANGE_TYPE, _COMMIT_GEN]
        yield pa.table(dict(zip(names, cols))).cast(pa.schema(want))


def _feed_schema(table: str, changes: bool) -> StructType:
    """The feed's schema: the table's current recorded schema, plus
    the two CDC meta columns in changes mode."""
    from mc_ns_data_pipeline_spark.sinks import versioned as V

    cur = V.current_snapshot(table)
    if cur is None:
        raise V.NoCurrentSnapshotError(table)
    schema = V.table_schema(table, cur)
    if schema is None:
        raise ValueError(
            f"{table}: snapshot {cur} predates schema stamping — "
            "pass an explicit .schema(...) to readStream")
    if changes:
        from pyspark.sql.types import LongType, StringType
        from pyspark.sql.types import StructField as SF

        schema = StructType(
            list(schema.fields)
            + [SF(_CHANGE_TYPE, StringType(), False),
               SF(_COMMIT_GEN, LongType(), False)])
    return schema


class VersionedTableStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict[str, str]):
        self._table = options["table"]
        self._starting = options.get("starting", "current")
        self._per_part = int(options.get("files_per_partition", "1"))
        self._changes = options.get("changes", "false") == "true"
        self._schema_json = schema.json()
        self._pkg_parent = options.get("pkg_parent", "")
        self._max_commits = int(
            options.get("max_commits_per_trigger", "0"))
        self._max_files = int(options.get("max_files_per_trigger", "0"))
        self._checkpoint = options.get("checkpoint", "")
        # admission-control floor: the consumer position the next
        # offer caps from. Maintained from initialOffset / partitions
        # / commit; after a bare runner restart it re-seeds from the
        # checkpoint's offset log when the `checkpoint` option names
        # it, else the first post-restart batch is uncapped (offers
        # are a bound, exactly-once is the offset log's job).
        self._floor: str | None = None
        self._core_memo: dict[str, dict] = {}

    # -- offsets --------------------------------------------------------
    def initialOffset(self) -> dict:
        _ensure_importable(self._pkg_parent)
        self._floor = _start_offset(self._table, self._starting)
        return {"snapshot": self._floor}

    def latestOffset(self) -> dict:
        _ensure_importable(self._pkg_parent)
        from mc_ns_data_pipeline_spark.sinks import versioned as V

        cur = V.current_snapshot(self._table)
        if cur is None:
            raise V.NoCurrentSnapshotError(self._table)
        if not (self._max_commits or self._max_files):
            return {"snapshot": cur}
        if self._floor is None and self._checkpoint:
            self._floor = _floor_from_offset_log(self._checkpoint)
        if self._floor is None:
            # fresh stream, offered before initialOffset (the
            # availableNow wrapper probes latestOffset first): the
            # floor IS the initial offset — deterministic for
            # genesis/explicit starts, and for "current" the stream
            # starts caught-up anyway
            self._floor = self.initialOffset()["snapshot"]
        if self._floor == cur:
            return {"snapshot": cur}
        return {"snapshot": _bounded_end(
            self._table, self._floor, cur,
            self._max_commits, self._max_files, self._core_memo)}

    # -- planning (driver, metadata-only) -------------------------------
    def partitions(self, start: dict, end: dict
                   ) -> Sequence[InputPartition]:
        _ensure_importable(self._pkg_parent)
        s, e = start["snapshot"], end["snapshot"]
        # the planned batch end is the authoritative consumer
        # position — the next latestOffset offer caps from here (and
        # a post-crash replay of a planned batch re-seeds it)
        self._floor = e
        if s == e:
            return []
        return _plan_slices(self._table, s, e, self._schema_json,
                            self._per_part, self._changes)

    # -- executor-side read ---------------------------------------------
    def read(self, partition: _FileSlice) -> Iterator:
        for tbl in _read_slice(partition):
            yield from tbl.to_batches()

    def commit(self, end: dict) -> None:
        # manifests are durable; the checkpoint owns progress — only
        # the admission-control floor advances here
        self._floor = end.get("snapshot", self._floor)

    def stop(self) -> None:
        pass


class VersionedTableDataSource(DataSource):
    """``spark.readStream.format("versioned_table")``.

    Options: ``table`` (required, table root path), ``starting``
    ("current" default | "genesis" | explicit snapshot id, exclusive),
    ``files_per_partition`` (default 1 — pool files are writer-sized,
    one Spark task each), ``max_commits_per_trigger`` /
    ``max_files_per_trigger`` (admission control, 0 = unbounded:
    cap each micro-batch at N lineage commits / M new pool files so a
    behind consumer or genesis bootstrap drains as multiple
    checkpointed batches), ``checkpoint`` (the stream's checkpoint
    location, optional: lets a restarted offset runner re-seed the
    admission floor from Spark's own offset log so the cap holds
    across restarts)."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self) -> StructType:
        _ensure_importable(self.options.get("pkg_parent"))
        return _feed_schema(
            self.options["table"],
            self.options.get("changes", "false") == "true")

    def streamReader(self, schema: StructType
                     ) -> VersionedTableStreamReader:
        return VersionedTableStreamReader(schema, dict(self.options))

    def reader(self, schema: StructType) -> "_ChangeBatchReader":
        return _ChangeBatchReader(schema, dict(self.options))


class _ChangeBatchReader(DataSourceReader):
    """A batch read of the change events in (``start``, ``end``]: the
    CDC runners' path for a batch past the driver budget, one Spark
    task per planned slice, each running `_read_slice`."""

    def __init__(self, schema: StructType, options: dict[str, str]):
        self._options = options
        self._schema_json = schema.json()

    def partitions(self) -> Sequence[InputPartition]:
        o = self._options
        _ensure_importable(o.get("pkg_parent"))
        return _plan_slices(o["table"], o["start"], o["end"],
                            self._schema_json, 1, changes=True)

    def read(self, partition: _FileSlice | None) -> Iterator:
        if partition is None:  # Spark's one task for zero partitions
            return
        for tbl in _read_slice(partition):
            yield from tbl.to_batches()


def _register(spark: SparkSession) -> str:
    """Register the datasource shippable-by-value and return the
    package parent dir. The datasource runs in separate Python worker
    processes (offset runner + executor tasks) that have no PYTHONPATH
    entry for this repo when the driver loaded it from an arbitrary
    cwd: ship this module's classes BY VALUE so unpickling never
    imports it, and record the package parent so the lazy
    versioned.py imports inside the methods resolve
    (see _ensure_importable)."""
    import sys

    import mc_ns_data_pipeline_spark
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(VersionedTableDataSource)
    return os.path.dirname(
        os.path.dirname(mc_ns_data_pipeline_spark.__file__))


def read_stream_table(spark: SparkSession, table: str,
                      starting: str = "current",
                      files_per_partition: int = 1,
                      max_commits_per_trigger: int = 0,
                      max_files_per_trigger: int = 0,
                      checkpoint: str | None = None) -> DataFrame:
    """Open a versioned table as a streaming DataFrame (registers the
    datasource idempotently). ``starting``: "current" (only appends
    after stream definition), "genesis" (full bootstrap then appends),
    or an explicit snapshot id (exclusive resume point).

    ``max_commits_per_trigger`` / ``max_files_per_trigger`` (0 =
    unbounded) bound each micro-batch's admission — a consumer behind
    N commits, or a genesis bootstrap over a long lineage, drains as
    ⌈N/cap⌉ checkpointed batches instead of one unbounded batch
    (Delta maxFilesPerTrigger semantics at commit granularity; one
    commit is always admitted so every trigger makes progress).
    Multi-batch draining needs a continuous trigger: under
    ``Trigger.AvailableNow`` a capped run admits exactly ONE bounded
    batch and terminates with backlog remaining (availableNow
    captures the first offer as the run end) — loop availableNow
    runs until caught up (the public CDC runners drain in a driver
    loop instead, with no stream; module header). Pass
    ``checkpoint`` (the same checkpointLocation the writer uses) so a
    restarted stream re-seeds its admission floor from Spark's offset
    log; without it, the first batch after a restart is uncapped
    (correctness is unaffected either way — offers only bound batch
    size, the checkpoint owns exactly-once)."""
    pkg_parent = _register(spark)
    r = (spark.readStream.format("versioned_table")
         .option("table", table)
         .option("starting", starting)
         .option("files_per_partition", str(files_per_partition))
         .option("max_commits_per_trigger",
                 str(max_commits_per_trigger))
         .option("max_files_per_trigger", str(max_files_per_trigger))
         .option("pkg_parent", pkg_parent))
    if checkpoint:
        r = r.option("checkpoint", checkpoint)
    return r.load()


def read_stream_changes(spark: SparkSession, table: str,
                        starting: str = "current",
                        files_per_partition: int = 1,
                        max_commits_per_trigger: int = 0,
                        max_files_per_trigger: int = 0,
                        checkpoint: str | None = None) -> DataFrame:
    """Open a versioned table's CHANGE FEED as a streaming DataFrame —
    the full Delta-CDF shape: every row of the table schema plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_gen`` (the
    commit generation that produced the event).

    Insert events come from append / merge-on-read-upsert commits'
    own files; delete events are the commits' NEW equality-delete
    entries (key column populated, every other column NULL — the
    batch ``read_changes_since`` contract, kilobytes of metadata, no
    keyed diff). ``starting="genesis"`` bootstraps every live row as
    an insert at its file's recorded generation.

    Downstream apply rule, exactly once per event: order by
    ``_commit_gen``, and AT EQUAL generation apply deletes BEFORE
    inserts — a merge-on-read upsert retracts the old versions and
    inserts the new ones in one commit, and its own rows must survive
    its own retraction (the strict-below mask rule, as events).
    Everything else (exactly-once offsets, compaction transparency,
    loud refusal of COW rewrites / mid-stream schema changes /
    vacuumed resume points, admission control via
    ``max_commits_per_trigger`` / ``max_files_per_trigger`` /
    ``checkpoint`` — including the availableNow one-bounded-batch-
    per-run caveat) matches ``read_stream_table``. The public CDC
    runners do not open this stream: they read the same batches in a
    driver loop (``_plan_slices``, ``_read_slice``,
    ``read_change_batch``)."""
    pkg_parent = _register(spark)
    r = (spark.readStream.format("versioned_table")
         .option("table", table)
         .option("starting", starting)
         .option("files_per_partition", str(files_per_partition))
         .option("changes", "true")
         .option("max_commits_per_trigger",
                 str(max_commits_per_trigger))
         .option("max_files_per_trigger", str(max_files_per_trigger))
         .option("pkg_parent", pkg_parent))
    if checkpoint:
        r = r.option("checkpoint", checkpoint)
    return r.load()


def read_change_batch(spark: SparkSession, table: str, start: str,
                      end: str, schema: StructType) -> DataFrame:
    """The change events in (start, end] as a batch DataFrame of
    ``schema`` (`_feed_schema`), read by Spark tasks through the
    registered datasource — the same slices and per-file read as
    ``read_stream_changes``, for a batch too large to read on the
    driver."""
    pkg_parent = _register(spark)
    return (spark.read.format("versioned_table").schema(schema)
            .option("table", table)
            .option("start", start)
            .option("end", end)
            .option("pkg_parent", pkg_parent)
            .load())
