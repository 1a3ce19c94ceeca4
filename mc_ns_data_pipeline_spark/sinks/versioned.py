"""Manifest-versioned parquet tables — lock-free reader MVCC and
file-granular copy-on-write commits.

The staged-swap sinks (sinks/upsert.py) are crash-safe and, with
sinks/lease, single-WRITER safe — but a concurrent READER still races
the directory-rename swap: a scan that listed the table's files before
the swap reads files the swap is about to delete, and fails. The
reference never hits this because PostgreSQL gives its readers MVCC
for free (file_processor.py:111 — reads ride transactions).

This module is the Spark-native answer: the manifest-pointer pattern
that Delta/Iceberg commits reduce to, expressed directly on a
filesystem with atomic rename.

Layout::

    <table>/data/<uuid>.parquet           shared immutable file pool
    <table>/snapshots/<gen>-<uuid>.json   manifest: file list + lineage
    <table>/CURRENT                       pointer file (atomic replace)

* Data files and manifests are write-once. Publishing a snapshot =
  land new data files in the pool, write a manifest naming the exact
  file set, then atomically flip CURRENT via ``os.replace``
  (POSIX-atomic). There is no intermediate state.
* Readers take NO lock: resolve CURRENT once, scan the immutable
  files its manifest names. A reader that resolved the pointer before
  a flip keeps a fully consistent view for as long as it runs (MVCC);
  vacuum's ``keep`` back-versions bound how long that is safe.
* Commits are COPY-ON-WRITE AT FILE GRANULARITY: ``merge_snapshot``
  locates the files that actually contain an updated key (one
  key-column scan + broadcast semi join — footer stats prune most
  files on clustered layouts, sinks/layout), rewrites only those, and
  the new manifest REUSES every untouched file. Write amplification
  is bounded by files hit, not table size — on a 100 TB table a
  1000-row update batch rewrites a handful of files while the other
  ~100k are shared with the previous snapshot byte-identically.
* Deletes come in BOTH physical shapes: ``delete_keys_snapshot`` is
  copy-on-write (rewrite affected files now), ``delete_keys_mor`` is
  MERGE-ON-READ (land a tiny equality-delete file; readers mask rows
  via a generation-sequenced broadcast anti-join; the next compaction
  applies and clears the masks). COW optimizes reads, MOR optimizes
  scattered deletes on huge tables — Iceberg v2's trade, selectable
  per call.
* Writers commit OPTIMISTICALLY where rebasing is provably lossless:
  ``append_snapshot``, ``compact_snapshot``, and (r6) the MOR pair
  ``merge_snapshot_mor``/``delete_keys_mor`` do their expensive work
  (landing files, stats/bloom scans, the rewrite, the decrement
  count) with NO lease held and take the lease only for the metadata
  publish — an append rebases onto whatever the head became (its
  files are disjoint by construction); a compaction rebases over
  interposed APPENDS and MOR commits and raises
  ``CommitConflictError`` when a COW rewrite interposed (its inputs
  are stale; landed files become vacuum orphans); a MOR commit
  rebases over interposed appends (incremental decrement over just
  their files) and over row-rewriting/masking commits (one recount
  against the new head — the key-sequenced mask stays exact), and
  conflicts only on a full refresh. COW merge/delete (r6) also stage
  lease-free and rebase over interposed appends whose files PROVABLY
  contain no batch key (manifest spans/blooms — `_cow_rebase_guard`),
  conflicting on anything that could stale their located affected
  set. Full refresh (r7) completes the matrix: ``write_snapshot``
  stages lease-free too, but REBASING is impossible for an overwrite
  — publishing over an interposed commit would silently orphan that
  commit's data — so it conflicts on ANY head movement instead
  (snapshot-isolation honesty: the caller re-reads and re-decides).
  So a streaming lander, a streaming MOR upserter, a dimension
  COW merge, and a maintenance OPTIMIZE all commit, no lost update;
  every writer's lease hold is one metadata publish (the lease
  heartbeat in sinks/lease still protects the rare long holds).
  ``vacuum_snapshots`` reference-counts pool files across retained
  manifests (data AND delete files) before deleting.
* Crash safety: a crash before the flip leaves orphan pool files / an
  orphan manifest (CURRENT still names the last good snapshot; vacuum
  reaps unreferenced files once the orphan leaves the keep window). A
  crash after the flip is a completed commit.

At 100 TB this is the difference between "readers must quiesce during
maintenance" and "merge/compaction/GDPR-delete publish while
dashboards keep reading". On an object store without atomic rename,
swap this module for a real transaction log (Delta/Iceberg) — call
sites keep the same shape.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import decimal
import functools
import json
import math
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from mc_ns_data_pipeline_spark.sinks.lease import table_lease

_DATADIR = "data"
_SNAPDIR = "snapshots"
_POINTER = "CURRENT"


class NoCurrentSnapshotError(RuntimeError):
    """The table has no published snapshot (never written, or the
    pointer was deleted)."""


class SchemaEvolutionError(ValueError):
    """An incoming batch redefines an existing column's type. Adding
    NEW columns is legal evolution; changing a type is not."""


class NonIncrementalHistoryError(RuntimeError):
    """The snapshot range contains a commit that rewrote rows (merge /
    delete / overwrite) or predates the lineage kept on disk, so the
    append-only fast path cannot represent it — use
    ``changes_between`` (keyed diff) instead."""


class CommitConflictError(RuntimeError):
    """An optimistic commit found the table head moved past its base
    snapshot in a way it cannot rebase over (a non-append commit
    interposed, or the intervening lineage was vacuumed). The work is
    discarded safely — landed pool files are unreferenced orphans for
    vacuum — and the caller should re-run the mutation against the new
    head."""


class LineageCycleError(CommitConflictError):
    """A parent walk revisited a snapshot — corrupted lineage, never
    ordinary divergence. Typed (not a message substring) so callers
    like ``merge_ref`` can re-raise it without routing it down the
    rebase-replay path."""


def _data_root(table: str) -> str:
    return os.path.join(table, _DATADIR)


def _snapshots_root(table: str) -> str:
    return os.path.join(table, _SNAPDIR)


def _pointer_path(table: str) -> str:
    return os.path.join(table, _POINTER)


def _manifest_path(table: str, snapshot: str) -> str:
    return os.path.join(_snapshots_root(table), f"{snapshot}.json")


def current_snapshot(table: str) -> str | None:
    """Name of the published snapshot, or None if never published."""
    try:
        with open(_pointer_path(table)) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def list_snapshots(table: str) -> list[str]:
    """All snapshot names on disk (published or orphaned), oldest
    first — names order by generation via the zero-padded prefix."""
    root = _snapshots_root(table)
    try:
        return sorted(
            f[:-len(".json")] for f in os.listdir(root)
            if f.endswith(".json")
        )
    except FileNotFoundError:
        return []


# ---------------------------------------------------------------------------
# Named refs: tags (immutable audit/rollback anchors) and branches
# (the write-audit-publish staging pointer). A ref is just another
# pointer file beside CURRENT — same atomic-rename primitive, same
# MVCC reads — so a staged commit is invisible to CURRENT's readers
# until `publish_ref` fast-forwards the table to it.
# ---------------------------------------------------------------------------

def _refs_root(table: str) -> str:
    return os.path.join(table, "refs")


#: Tags and branches live in separate subdirectories (git's layout):
#: vacuum must pin a BRANCH's staged lineage back to its fork point
#: (publish_ref walks it) but must never pin a TAG's ancestry — a tag
#: on a rolled-back-from head would otherwise retain the entire
#: undone history. The kind is structural, not guessed.
_REF_KINDS = ("heads", "tags")


def _check_ref_name(name: str) -> None:
    if (not name or "/" in name or "\\" in name or name.startswith(".")
            or name in ("CURRENT",)):
        raise ValueError(f"invalid ref name {name!r}")


def _ref_path(table: str, name: str, kind: str = "heads") -> str:
    _check_ref_name(name)
    return os.path.join(_refs_root(table), kind, name)


def _ref_read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read().strip() or None
    except (FileNotFoundError, NotADirectoryError, IsADirectoryError):
        return None


def _branch_head(table: str, branch: str | None) -> str | None:
    """The snapshot a commit on ``branch`` extends: the branch's head
    (HEADS only: a same-named tag must never become the fork point),
    else CURRENT."""
    if branch is not None:
        staged = _ref_read(_ref_path(table, branch, "heads"))
        if staged is not None:
            return staged
    return current_snapshot(table)


def ref_snapshot(table: str, name: str) -> str | None:
    """The snapshot a ref (branch, then tag) points at, or None."""
    for kind in _REF_KINDS:
        snap = _ref_read(_ref_path(table, name, kind))
        if snap:
            return snap
    return None


def _list_refs_of(table: str, kind: str) -> dict[str, str]:
    root = os.path.join(_refs_root(table), kind)
    out = {}
    try:
        names = os.listdir(root)
    except (FileNotFoundError, NotADirectoryError):
        return out
    for n in sorted(names):
        if n.startswith(".") or ".tmp-" in n:
            continue
        snap = _ref_read(os.path.join(root, n))
        if snap:
            out[n] = snap
    return out


def list_refs(table: str) -> dict[str, str]:
    """All named refs (branches shadow same-named tags, as in
    resolution order)."""
    out = _list_refs_of(table, "tags")
    out.update(_list_refs_of(table, "heads"))
    return out


def tag_snapshot(table: str, name: str,
                 snapshot: str | None = None,
                 wait_s: float = 60.0) -> str:
    """Pin a named, vacuum-safe anchor to a snapshot (default:
    CURRENT) — the audit/rollback bookmark. Tagged snapshots and their
    files survive `vacuum_snapshots` regardless of the keep window
    until the tag is deleted.

    Runs under the table lease (metadata-only, milliseconds): vacuum
    computes its retained set from the refs it lists under the same
    lease, so a tag can never slip in between vacuum's listing and its
    deletes — without the lease, a tag written in that window would
    pass the manifest-exists check yet point at a snapshot that same
    vacuum reaps (a dangling tag)."""
    with table_lease(table, owner=f"tag:{name}", wait_s=wait_s):
        snap = (snapshot if snapshot is not None
                else current_snapshot(table))
        if snap is None:
            raise NoCurrentSnapshotError(table)
        if not os.path.exists(_manifest_path(table, snap)):
            raise FileNotFoundError(
                f"{table}: snapshot {snap!r} has no manifest")
        path = _ref_path(table, name, "tags")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _atomic_write_text(path, snap)
        return snap


def delete_ref(table: str, name: str) -> None:
    """Remove the NAME from both kinds (tag and branch). publish_ref
    consumes only the branch entry — use this for explicit cleanup."""
    for kind in _REF_KINDS:
        try:
            os.remove(_ref_path(table, name, kind))
        except FileNotFoundError:
            pass


def publish_ref(table: str, name: str) -> str:
    """Write-audit-PUBLISH: fast-forward CURRENT to the branch ref's
    head and drop the ref — staged commits become visible to every
    reader in one pointer flip. Refuses (CommitConflictError) unless
    CURRENT is an ancestor of the branch head: a commit that landed
    directly on the table after the branch staged means the staged
    lineage no longer extends the table — re-stage from the new head
    (the branch's data files are untouched; only its manifests are
    orphaned for vacuum)."""
    with table_lease(table, owner=f"publish_ref:{name}"):
        _check_ref_publishable(table, name)
        return _publish_ref_locked(table, name)


def _check_ref_publishable(table: str, name: str) -> str:
    """Validate publish_ref's precondition WITHOUT flipping: the
    branch exists and CURRENT is an ancestor of its head. Caller
    holds the table lease (nothing can move under the check). Split
    out so the multi-table transaction commit (sinks/txn.py) can
    validate EVERY table before flipping ANY pointer — all-or-nothing
    needs the checks and the flips in separate passes."""
    target = _ref_read(_ref_path(table, name, "heads"))
    if target is None:
        raise FileNotFoundError(f"{table}: no branch {name!r}")
    cur = current_snapshot(table)
    snap = target
    seen: set[str] = set()
    while snap is not None and snap != cur:
        if snap in seen:  # corrupted parent cycle: loud, bounded
            raise LineageCycleError(
                f"{table}: lineage cycle at {snap!r}")
        seen.add(snap)
        try:
            snap = _read_core(table, snap).get("parent")
        except FileNotFoundError:
            raise CommitConflictError(
                f"{table}: ref {name!r} lineage broken below "
                f"{snap!r} (vacuumed?) — re-stage") from None
    if snap != cur:
        raise CommitConflictError(
            f"{table}: CURRENT {cur!r} is not an ancestor of ref "
            f"{name!r} head {target!r} — the table moved since "
            "staging; re-stage the branch from the new head")
    return target


def _publish_ref_locked(table: str, name: str) -> str:
    """The flip half of publish_ref — caller holds the lease and has
    already validated via `_check_ref_publishable`."""
    target = _ref_read(_ref_path(table, name, "heads"))
    if target is None:
        raise FileNotFoundError(f"{table}: no branch {name!r}")
    _atomic_write_text(_pointer_path(table), target)
    try:  # consume the BRANCH only — a same-named tag survives
        os.remove(_ref_path(table, name, "heads"))
    except FileNotFoundError:
        pass
    return target


def merge_ref(table: str, name: str, wait_s: float = 60.0) -> str:
    """Merge a staged branch into CURRENT — the verb that completes
    write-audit-publish into a real branch workflow (publish_ref
    refuses whenever the table moved; this resolves the common case).

    Fast path: CURRENT is still an ancestor of the branch head →
    fast-forward exactly like publish_ref. Diverged: if EVERY branch
    commit since the fork point is a pure APPEND, replay them onto the
    moved head as fresh append commits reusing the SAME data files and
    their already-recorded per-file stats/blooms — metadata-only, zero
    bytes of data move, O(branch commits) manifest writes (the
    Nessie/Iceberg server-side-rebase shape). Divergence involving any
    non-append branch commit (delete / merge / overwrite / compact)
    raises CommitConflictError: those ops bake the fork-time file list
    into their result, so replaying them textually could resurrect
    rows a concurrent CURRENT commit removed — that is a true
    conflict only the writer can resolve (re-stage from the new head).

    Replayed files are stamped at their NEW commit's generation, so
    merge-on-read delete masks published on CURRENT while the branch
    was staged do not mask the branch's rows (masking is
    strict-below) — the same semantics a re-staged append would get.
    Refuses if the two lineages disagree on stats/bloom opt-in
    columns (only a full refresh changes those; replaying across one
    would publish metadata the read path then trusts incorrectly).

    Crash-atomic: the replay publishes onto a STAGING ref
    (``<name>__rebase``, reset on entry), and CURRENT flips ONCE to
    the fully-replayed head at the end — a crash mid-replay leaves
    CURRENT untouched, and a retry recomputes the chain from the real
    (unmoved) CURRENT, so nothing can double-apply. A crashed
    attempt's stale staging ref is visible in ``list_refs`` (refs pin
    their snapshots against vacuum, so the half-replayed manifests
    survive until cleanup); retrying the merge resets it, or
    ``delete_ref(table, "<name>__rebase")`` releases it explicitly.
    """
    staging = f"{name}__rebase"
    with table_lease(table, owner=f"merge_ref:{name}", wait_s=wait_s):
        head = _ref_read(_ref_path(table, name, "heads"))
        if head is None:
            raise FileNotFoundError(f"{table}: no branch {name!r}")
        try:
            _check_ref_publishable(table, name)
            return _publish_ref_locked(table, name)  # fast-forward
        except LineageCycleError:
            raise  # corrupted lineage: loud, never ordinary divergence
        except CommitConflictError:
            pass  # diverged — fall through to the rebase-replay path

        cur = current_snapshot(table)
        cur_anc: set[str] = set()
        snap = cur
        while snap is not None and snap not in cur_anc:
            cur_anc.add(snap)
            try:
                snap = _read_core(table, snap).get("parent")
            except FileNotFoundError:
                break  # vacuum horizon: ancestry ends where reach does
        chain: list[dict] = []
        chain_seen: set[str] = set()
        snap = head
        while snap is not None and snap not in cur_anc:
            if snap in chain_seen:
                raise LineageCycleError(
                    f"{table}: lineage cycle at {snap!r}")
            chain_seen.add(snap)
            try:
                core = _read_core(table, snap)
            except FileNotFoundError:
                raise CommitConflictError(
                    f"{table}: branch {name!r} lineage broken below "
                    f"{snap!r} (vacuumed?) — re-stage") from None
            chain.append(core)
            snap = core.get("parent")
        if snap is None:
            raise CommitConflictError(
                f"{table}: branch {name!r} shares no ancestor with "
                f"CURRENT {cur!r}")
        chain.reverse()  # oldest first
        bad = [c["snapshot"] for c in chain
               if c.get("op") != "append" or not c.get("new_files")]
        if bad:
            raise CommitConflictError(
                f"{table}: branch {name!r} diverged from CURRENT with "
                f"non-append commit(s) {bad} — replay could resurrect "
                "rows a concurrent commit removed; re-stage from the "
                "new head")

        try:  # reset a stale staging ref from a crashed attempt
            os.remove(_ref_path(table, staging, "heads"))
        except FileNotFoundError:
            pass
        new_head = cur
        for core in chain:
            parent_core = (_read_core(table, new_head)
                           if new_head else {})
            if (sorted(parent_core.get("stats_cols") or [])
                    != sorted(core.get("stats_cols") or [])
                    or sorted(parent_core.get("bloom_cols") or [])
                    != sorted(core.get("bloom_cols") or [])):
                raise CommitConflictError(
                    f"{table}: stats/bloom opt-in changed between the "
                    f"branch {name!r} and CURRENT — re-stage")
            if ((parent_core.get("renames") or {})
                    != (core.get("renames") or {})
                    or (parent_core.get("retired") or {})
                    != (core.get("retired") or {})):
                raise CommitConflictError(
                    f"{table}: column identity (rename/drop) changed "
                    f"between the branch {name!r} and CURRENT — "
                    "replaying across it would mis-project old "
                    "files; re-stage")
            man = _materialize(table, core)
            nf = core["new_files"]
            nf_stats = {f: (man.get("stats") or {})[f]
                        for f in nf if f in (man.get("stats") or {})}
            nf_blooms = {f: (man.get("blooms") or {})[f]
                         for f in nf if f in (man.get("blooms") or {})}
            try:
                # core["parent"] for the FIRST chain entry is the fork
                # point, which the cur_anc walk may have admitted
                # without reading (it breaks on a failed read AFTER
                # adding the snapshot) — a branch forking exactly at
                # the vacuum horizon reaches here with no manifest.
                parent_rows = (
                    _read_core(table, core["parent"]).get("rows", 0)
                    if core.get("parent") else 0)
            except FileNotFoundError:
                raise CommitConflictError(
                    f"{table}: branch {name!r} lineage broken below "
                    f"fork point {core['parent']!r} (vacuumed?) — "
                    "re-stage") from None
            delta_rows = core.get("rows", 0) - parent_rows
            branch_schema = _schema_from_man(core)
            parent_schema = _schema_from_man(parent_core)
            schema = (_merge_schema(parent_schema, branch_schema)
                      if branch_schema is not None else parent_schema)
            if "chunks" in parent_core:  # O(commit) chunk reuse
                new_head = _publish(
                    table, nf,
                    parent_core.get("rows", 0) + delta_rows, new_head,
                    _chunk_file_count(parent_core), op="append",
                    new_files=nf, schema=schema,
                    stats=nf_stats or None, blooms=nf_blooms or None,
                    stats_cols=parent_core.get("stats_cols"),
                    bloom_cols=parent_core.get("bloom_cols"),
                    delete_files=parent_core.get("delete_files"),
                    parent_chunks=parent_core["chunks"],
                    parent_pages=parent_core.get("pages"),
                    ref=staging)
            else:
                parent_man = _materialize(table, parent_core)
                old_files = parent_man.get("files", [])
                new_head = _publish(
                    table, old_files + nf,
                    parent_man.get("rows", 0) + delta_rows, new_head,
                    len(old_files), op="append", new_files=nf,
                    schema=schema,
                    stats=_carry_stats(parent_man, old_files,
                                       nf_stats or None),
                    blooms=_carry_blooms(parent_man, old_files,
                                         nf_blooms or None),
                    stats_cols=parent_man.get("stats_cols"),
                    bloom_cols=parent_man.get("bloom_cols"),
                    file_seq=parent_man.get("file_seq"),
                    delete_files=parent_man.get("delete_files"),
                    ref=staging)
        # the ONE externally-visible step: flip CURRENT to the fully-
        # replayed head, then consume the refs (post-flip crash leaves
        # only stale ref files, which the next merge/publish resets)
        _atomic_write_text(_pointer_path(table), new_head)
        for ref_name in (staging, name):
            try:  # consume; a same-named tag survives
                os.remove(_ref_path(table, ref_name, "heads"))
            except FileNotFoundError:
                pass
        return new_head


def rollback_table(table: str, snapshot: str) -> str:
    """Point CURRENT back at an earlier snapshot of its own lineage
    (the Iceberg rollback verb): one pointer flip, no data movement —
    the undone commits' manifests and files become vacuum-reapable
    orphans once they age out. The target must be an ancestor of
    CURRENT (tags resolve first, so `rollback_table(t, "pre-deploy")`
    works). The ancestry walk needs the INTERMEDIATE manifests between
    CURRENT and the target: a tag pins its own snapshot and files
    forever (reads always work), but rollback reach is bounded by
    vacuum retention of the lineage in between — size `keep` /
    `min_age_seconds` to the rollback horizon you want."""
    with table_lease(table, owner="rollback"):
        target = (_ref_read(_ref_path(table, snapshot, "tags"))
                  or snapshot)
        cur = current_snapshot(table)
        snap = cur
        seen: set[str] = set()
        while snap is not None and snap != target:
            if snap in seen:
                raise LineageCycleError(
                    f"{table}: lineage cycle at {snap!r}")
            seen.add(snap)
            try:
                snap = _read_core(table, snap).get("parent")
            except FileNotFoundError:
                snap = None
        if snap != target:
            raise CommitConflictError(
                f"{table}: {snapshot!r} is not an ancestor of CURRENT "
                f"{cur!r} — cannot roll back to it")
        _atomic_write_text(_pointer_path(table), target)
        return target


def read_ref(spark: SparkSession, table: str, name: str,
             predicates: list[tuple] | None = None) -> DataFrame:
    """Read the snapshot a tag or branch points at — the AUDIT read of
    write-audit-publish, or a pinned historical view (branches shadow
    same-named tags, matching staging's resolution). Same pruning and
    delete-mask semantics as every other read."""
    snap = ref_snapshot(table, name)
    if snap is None:
        raise FileNotFoundError(f"{table}: no ref {name!r}")
    return read_snapshot(spark, table, snap, predicates=predicates)


def _atomic_write_text(path: str, text: str) -> None:
    """Durable pointer flip: temp sibling, fsync, one atomic rename
    — the crash-safety primitive behind CURRENT, every named ref, and
    (via the JSON variant) the manifests themselves."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


def _atomic_write_json(path: str, obj: dict) -> None:
    """Durable single-file commit: write a temp sibling, fsync, then
    one atomic rename — readers see the old content or the new,
    never a torn file. (The manifest, the CURRENT pointer, and the
    consumer cursor all ride this same primitive.)"""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


#: Manifests naming at least this many files are published CHUNKED:
#: the file list and its per-file stats/blooms/generations move into
#: immutable sidecar files of `_MANIFEST_CHUNK_SIZE` entries each,
#: shared across commits like data files, and the core manifest keeps
#: only per-chunk [min, max] spans. Planning then reads the small core
#: plus ONLY the sidecars a predicate's span check cannot rule out —
#: at 1M files that is a few hundred KB instead of a GB-scale
#: monolithic manifest (scripts/stress_manifest_chunks.py) — and an
#: append writes one new sidecar instead of rewriting table-sized
#: metadata.
_MANIFEST_CHUNK_FILES = 8192
_MANIFEST_CHUNK_SIZE = 4096


def _chunks_root(table: str) -> str:
    return os.path.join(_snapshots_root(table), "chunks")


def _read_core(table: str, snapshot: str) -> dict:
    """The core manifest exactly as stored — chunk descriptors NOT
    materialized. Everything except the per-file metadata (files /
    stats / blooms / file_seq) always lives here: lineage, rows, op,
    txn stamp, schema, stat/bloom column opt-ins, delete_files, and
    the commit's own new_files."""
    with open(_manifest_path(table, snapshot)) as fh:
        return json.load(fh)


def _read_chunk(table: str, chunk_id: str) -> dict:
    with open(os.path.join(_chunks_root(table),
                           f"{chunk_id}.json")) as fh:
        return json.load(fh)


def _chunk_file_count(core: dict) -> int:
    """Total live files named by a manifest, from the CORE alone —
    paged cores sum the page refs' recorded live counts plus the
    loose tail, so publishes never load a page just to count."""
    if "chunks" not in core and "pages" not in core:
        return len(core.get("files") or [])
    return (sum(pg["files"] for pg in core.get("pages") or [])
            + sum(ch["n"] - len(ch.get("exclude") or ())
                  for ch in core.get("chunks") or []))


# ---------------------------------------------------------------------------
# Paged cores: past `_CORE_PAGE_FOLD_AT` chunk descriptors the core
# manifest stops inlining the descriptor list and folds runs of
# `_CORE_PAGE_DESCS` descriptors into immutable PAGE files (the
# Iceberg manifest-list shape, one level up from the chunk sidecars).
# The core then holds page REFS — id, live-file count, and the union
# span per stats column — plus a loose descriptor tail that appends
# push onto. Three costs this bounds at 4-10M+ files:
#   * core-manifest bytes: page refs, not descriptors — the core
#     stays KB-sized no matter how many chunks the table has;
#   * planning: a predicate's span check rules whole PAGES out before
#     any descriptor is even parsed (clustered tables load one page);
#   * publish: appends carry the parent's page refs verbatim (zero
#     page loads) and extend only the tail.
# Pages are immutable and shared forward like chunk sidecars; a COW
# tombstone dissolves ONLY the pages holding an affected chunk (their
# untouched descriptors re-enter the tail and refold). Vacuum
# refcounts page files across retained manifests exactly like chunks.
# ---------------------------------------------------------------------------

_CORE_PAGE_DESCS = 256
_CORE_PAGE_FOLD_AT = 320
#: Immutable-page read cache (path -> descriptor list). Pages are
#: content-stable for their lifetime (uuid ids, never rewritten), so
#: a tiny LRU makes repeated plans against the same snapshot pay one
#: load per page total. Bounded: ~64 KB/page x 64.
_PAGE_CACHE_MAX = 64
_PAGE_CACHE: dict = {}


def _pages_root(table: str) -> str:
    return os.path.join(_snapshots_root(table), "pages")


def _page_path(table: str, page_id: str) -> str:
    return os.path.join(_pages_root(table), f"{page_id}.json")


def _read_page(table: str, page_id: str) -> list[dict]:
    """One page's descriptor list, LRU-cached (pages are immutable)."""
    path = _page_path(table, page_id)
    hit = _PAGE_CACHE.pop(path, None)
    if hit is not None:
        _PAGE_CACHE[path] = hit  # re-insert: LRU recency
        return hit
    with open(path) as fh:
        descs = json.load(fh)["chunks"]
    _PAGE_CACHE[path] = descs
    while len(_PAGE_CACHE) > _PAGE_CACHE_MAX:
        _PAGE_CACHE.pop(next(iter(_PAGE_CACHE)))
    return descs


def _core_descs(table: str, core: dict) -> list[dict]:
    """The full chunk-descriptor list of a chunked core — pages
    materialized, loose tail appended. O(pages); the walk paths that
    genuinely need every descriptor (materialize, vacuum, COW locate)
    pay it, planning goes through the page-span cut instead."""
    out: list[dict] = []
    for pg in core.get("pages") or []:
        out += _read_page(table, pg["id"])
    out += core.get("chunks") or []
    return out


def _union_spans(descs: list[dict]) -> dict | None:
    """Page-level [lo, hi] per column over member chunk spans — the
    same conservative algebra as `_chunk_spans` one level up: any
    member with a missing/None span makes the page unprunable on that
    column (None); all-NULL members ([None, None]) contribute nothing
    and an all-NULL page stays skippable."""
    cols: set = set()
    for ch in descs:
        if ch.get("spans") is None:
            return None  # an unspanned member: page never skippable
        cols.update(ch["spans"])
    if not cols:
        return {}
    spans: dict = {}
    for c in cols:
        los: list = []
        his: list = []
        dead = False
        for ch in descs:
            s = ch["spans"].get(c, None) if c in ch["spans"] else None
            if c not in ch["spans"] or s is None:
                dead = True
                break
            lo, hi = s
            if lo is None and hi is None:
                continue
            los.append(lo)
            his.append(hi)
        if dead:
            spans[c] = None
        elif not los:
            spans[c] = [None, None]
        else:
            try:
                spans[c] = [min(los), max(his)]
            except TypeError:
                spans[c] = None
    return spans


def _write_page(table: str, descs: list[dict]) -> dict:
    """Write one immutable page file; return its core ref."""
    os.makedirs(_pages_root(table), exist_ok=True)
    pid = uuid.uuid4().hex
    _atomic_write_json(_page_path(table, pid), {"chunks": descs})
    return {"id": pid,
            "k": len(descs),
            "files": sum(ch["n"] - len(ch.get("exclude") or ())
                         for ch in descs),
            "spans": _union_spans(descs)}


def _fold_pages(table: str, pages: list[dict], tail: list[dict]
                ) -> tuple[list[dict], list[dict]]:
    """Fold a long descriptor tail into new immutable pages, keeping
    the remainder loose. No-op below `_CORE_PAGE_FOLD_AT` — small
    tables (and every pre-r7 table) stay in the flat `chunks` shape
    byte-for-byte."""
    if len(tail) <= _CORE_PAGE_FOLD_AT:
        return pages, tail
    pages = list(pages)
    while len(tail) > _CORE_PAGE_DESCS:
        pages.append(_write_page(table, tail[:_CORE_PAGE_DESCS]))
        tail = tail[_CORE_PAGE_DESCS:]
    return pages, tail


def _chunk_spans(part: list[str], stats: dict | None,
                 stats_cols: list[str] | None) -> dict | None:
    """Per-column [lo, hi] over a chunk's member files — the
    metadata that lets planning skip the whole sidecar. A column where
    ANY member lacks a stats entry gets span None (chunk unprunable on
    it: must load); members whose entry is [None, None] (all-NULL —
    individually skippable for every comparison) contribute nothing,
    and a chunk of only those gets span [None, None] (skippable as a
    whole, mirroring `_file_survives`)."""
    if not stats_cols or stats is None:
        return None
    spans: dict = {}
    for c in stats_cols:
        los: list = []
        his: list = []
        span: object = "?"
        for f in part:
            entry = stats.get(f)
            if entry is None or c not in entry:
                span = None  # unstatable member: never skip the chunk
                break
            lo, hi = entry[c]
            if lo is None and hi is None:
                continue
            los.append(lo)
            his.append(hi)
        if span is None:
            spans[c] = None
        elif not los:
            spans[c] = [None, None]
        else:
            try:
                spans[c] = [min(los), max(his)]
            except TypeError:  # mixed-type bounds: stay conservative
                spans[c] = None
    return spans


def _write_chunks(table: str, files: list[str], stats: dict | None,
                  blooms: dict | None, file_seq: dict | None,
                  stats_cols: list[str] | None) -> list[dict]:
    """Split per-file metadata into immutable sidecars; return the
    descriptor list for the core manifest. Every publish path passes a
    COMPLETE ``file_seq`` for its files (``_publish`` stamps fresh
    files before chunking), so sidecar generations are always
    explicit."""
    os.makedirs(_chunks_root(table), exist_ok=True)
    descs = []
    for i in range(0, len(files), _MANIFEST_CHUNK_SIZE):
        part = files[i:i + _MANIFEST_CHUNK_SIZE]
        side = {
            "files": part,
            "stats": ({f: stats[f] for f in part if f in stats}
                      if stats else None),
            "blooms": ({f: blooms[f] for f in part if f in blooms}
                       if blooms else None),
            "file_seq": ({f: file_seq[f] for f in part
                          if f in file_seq} if file_seq else None),
        }
        cid = uuid.uuid4().hex
        _atomic_write_json(
            os.path.join(_chunks_root(table), f"{cid}.json"), side)
        desc = {"id": cid, "n": len(part),
                "spans": _chunk_spans(part, side["stats"], stats_cols)}
        if side["blooms"]:
            desc["blm"] = _write_chunk_blm(
                table, cid, part, side["blooms"], side["file_seq"])
        descs.append(desc)
    return descs


def _materialize(table: str, core: dict) -> dict:
    """Resolve a chunked core manifest into the inline shape every
    consumer understands (files / stats / blooms / file_seq present).
    Inline manifests pass through untouched. O(total files) — the
    mutation and full-scan paths that genuinely need the whole file
    list pay it; planning goes through `_prune_chunked` instead."""
    if "chunks" not in core and "pages" not in core:
        return core
    files: list[str] = []
    stats: dict = {}
    blooms: dict = {}
    fseq: dict = {}
    for ch in _core_descs(table, core):
        side = _read_chunk(table, ch["id"])
        excl = set(ch.get("exclude") or [])
        part = [f for f in side["files"] if f not in excl]
        files += part
        for src, dst in ((side.get("stats"), stats),
                         (side.get("blooms"), blooms)):
            if src:
                for f in part:
                    if f in src:
                        dst[f] = src[f]
        side_seq = side.get("file_seq") or {}
        for f in part:
            if f in side_seq:
                fseq[f] = side_seq[f]
    out = dict(core)
    out["files"] = files
    out["stats"] = stats or None
    out["blooms"] = blooms or None
    out["file_seq"] = fseq or None
    return out


def read_manifest(table: str, snapshot: str) -> dict:
    """The manifest with per-file metadata fully materialized —
    chunked manifests load and merge their sidecars (the ``chunks``
    key is kept so callers can tell). Planning paths that must stay
    O(chunks hit) use `_read_core` + `_prune_chunked` instead."""
    return _materialize(table, _read_core(table, snapshot))


def snapshot_files(table: str, snapshot: str) -> list[str]:
    """Absolute paths of the data files a snapshot scans."""
    root = _data_root(table)
    return [os.path.join(root, f)
            for f in read_manifest(table, snapshot)["files"]]


def _schema_from_man(man: dict) -> StructType | None:
    """The manifest's recorded logical schema, or None for manifests
    that predate schema stamping."""
    sj = man.get("schema")
    return StructType.fromJson(json.loads(sj)) if sj else None


def table_schema(table: str, snapshot: str) -> StructType | None:
    """The snapshot's logical schema as recorded in its manifest, or
    None for manifests that predate schema stamping."""
    return _schema_from_man(_read_core(table, snapshot))


def _read_pool(spark: SparkSession, table: str, names: list[str],
               schema: StructType | None,
               renames: dict | None = None) -> DataFrame:
    """Scan pool files under the table's RECORDED schema, so files
    written before a schema evolution project NULL for later-added
    columns. Never rely on parquet inference here: without an explicit
    schema Spark takes the first footer it lists, which after an
    evolution silently DROPS evolved columns whenever a pre-evolution
    file happens to sort first (pool names are random uuids — the loss
    would be nondeterministic). `names` may be pool-relative or
    absolute; `schema` None (pre-schema manifest) falls back to
    inference for backward compatibility.

    ``renames`` (``{current_name: [older physical names]}``, from the
    manifest) makes column RENAME metadata-only: the scan schema adds
    each historical name at the current (widened) type — Spark's
    by-name parquet matching reads whichever era a file carries, NULL
    for the rest — and a ``coalesce`` over the name chain projects it
    back to the current name. Exact because a name is RETIRED at
    rename/drop and refused for reuse, so no live file carries two
    names of one chain. Everything stays JVM-side (scan + Project,
    column-pruned, zero shuffle)."""
    root = _data_root(table)
    paths = [n if os.path.isabs(n) else os.path.join(root, n)
             for n in names]
    renames = {c: chain for c, chain in (renames or {}).items()
               if chain and schema is not None
               and any(f.name == c for f in schema.fields)}
    if not renames:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)
    extra = [StructField(old, f.dataType, True)
             for f in schema.fields
             for old in renames.get(f.name, ())]
    df = (spark.read.schema(StructType(list(schema.fields) + extra))
          .parquet(*paths))
    cols = []
    for f in schema.fields:
        chain = [f.name, *renames.get(f.name, ())]
        if len(chain) == 1:
            cols.append(F.col(f.name))
        else:
            cols.append(F.coalesce(*[F.col(c) for c in chain])
                        .alias(f.name))
    return df.select(*cols)


def _gen_of(snapshot: str) -> int:
    """A snapshot's generation: the zero-padded integer prefix of its
    name (assigned monotonically by ``_next_snapshot_name``). Data
    files and delete files are sequenced by the generation of the
    commit that landed them — the ordering that decides whether a
    merge-on-read delete masks a row (Iceberg's sequence-number
    contract, here read straight off the lineage names)."""
    return int(snapshot.split("-", 1)[0])


def _read_mask_union_driver(spark: SparkSession, root: str, key: str,
                            entries: list[dict]) -> DataFrame | None:
    """The (__vt_dkey, __vt_dseq) union of one key column's delete
    files as a DRIVER-LOCAL relation (LocalTableScan, so the broadcast
    build launches no scan job), read by ``_read_key_columns``. None —
    caller unions via Spark, values identical — over the budget, on
    unreadable files or on types arrow can't concat (evolved key)."""
    import pyarrow as pa

    try:
        arrs = _read_key_columns(
            [os.path.join(root, d["file"]) for d in entries], key,
            _DRIVER_LAND_BYTES)
        if arrs is None:
            return None
        seqs = [pa.array([int(d["seq"])] * len(a), pa.int64())
                for d, a in zip(entries, arrs)]
        return spark.createDataFrame(pa.table({
            "__vt_dkey": pa.concat_arrays(arrs),
            "__vt_dseq": pa.concat_arrays(seqs),
        }))
    except Exception:
        return None


def _apply_delete_files(spark: SparkSession, table: str, df: DataFrame,
                        man: dict, names: list[str]) -> DataFrame:
    """Mask rows hidden by the manifest's merge-on-read delete files.

    ``df`` must be a scan (optionally filtered) over exactly ``names``
    — file provenance via ``input_file_name`` is what sequences each
    row. A delete entry masks a row iff the keys match AND the row's
    data file landed at a generation STRICTLY BELOW the delete's
    generation: rows (re-)inserted after a delete are untouched, and —
    the tie case — data files landed by the delete's OWN commit are
    exempt, which is what lets a merge-on-read upsert publish its new
    row versions and the mask over the old ones atomically together
    (``merge_snapshot_mor``). Per key column,
    all delete files union into one broadcast side (delete batches are
    small by design; compaction clears them), max-seq per key — one
    broadcast left_anti join per distinct delete-key column, no
    shuffle of the data side. No delete files -> ``df`` unchanged,
    zero plan overhead (pruned-read pushdown is unaffected)."""
    dels = man.get("delete_files") or []
    if not dels:
        return df
    file_seq = man.get("file_seq") or {}
    root = _data_root(table)
    # Files missing from file_seq (legacy manifests) sequence as 0:
    # they predate every possible delete commit, so deletes apply.
    seq_of = {n: int(file_seq.get(os.path.basename(n), 0))
              for n in names}
    max_seq = max(seq_of.values(), default=0)

    # The sequence check is decided per (delete entry, file set), and
    # the common case — no data file landed at-or-after the delete —
    # decides it VACUOUSLY: the delete masks every file in scan. Such
    # entries take a plain broadcast key anti-join, skipping the
    # per-row input_file_name split and the file→generation map join
    # entirely (measured: the sequenced plumbing costs ~0.8 s of fixed
    # broadcast latency per read at any table size). Only entries some
    # scanned file ties or postdates need the sequenced path — strict
    # `>`: an entry whose seq EQUALS max_seq may share a commit with
    # the max-seq files (MOR upsert) and must not mask them.
    global_by_key: dict[str, list[dict]] = {}
    seq_by_key: dict[str, list[dict]] = {}
    for d in dels:
        tgt = global_by_key if d["seq"] > max_seq else seq_by_key
        tgt.setdefault(d["key"], []).append(d)

    def union_keys(key: str, entries: list[dict]) -> DataFrame:
        # Delete files are kilobytes by design (compaction clears
        # them): read them on the driver when the budget allows
        # (r12, guide §5), else the distributed union is unchanged.
        local = _read_mask_union_driver(spark, root, key, entries)
        if local is not None:
            return local
        return functools.reduce(DataFrame.unionByName, (
            spark.read.parquet(os.path.join(root, d["file"]))
            .select(F.col(key).alias("__vt_dkey"),
                    F.lit(int(d["seq"])).alias("__vt_dseq"))
            for d in entries))

    rows = df
    if seq_by_key:
        # input_file_name() resolves only over a SINGLE-source plan —
        # it must attach to the raw (possibly filtered) scan BEFORE
        # any anti-join introduces a second source.
        rows = rows.withColumn(
            "__vt_fname",
            F.element_at(F.split(F.input_file_name(), "/"), -1))
    for key, entries in global_by_key.items():
        deld = union_keys(key, entries).select("__vt_dkey").distinct()
        rows = rows.join(F.broadcast(deld),
                         F.col(key) == F.col("__vt_dkey"), "left_anti")
    if seq_by_key:
        fmap = spark.createDataFrame(
            [(os.path.basename(n), s) for n, s in seq_of.items()],
            "__vt_fname string, __vt_seq long")
        rows = rows.join(F.broadcast(fmap), "__vt_fname", "left")
        for key, entries in seq_by_key.items():
            deld = union_keys(key, entries).groupBy("__vt_dkey").agg(
                F.max("__vt_dseq").alias("__vt_dseq"))
            rows = rows.join(
                F.broadcast(deld),
                (F.col(key) == F.col("__vt_dkey"))
                & (F.col("__vt_seq") < F.col("__vt_dseq")),
                "left_anti")
        rows = rows.drop("__vt_fname", "__vt_seq")
    return rows


def _read_live(spark: SparkSession, table: str, man: dict,
               names: list[str],
               schema: StructType | None = None) -> DataFrame:
    """Scan pool files under the manifest's schema with merge-on-read
    deletes applied — the LIVE rows those files contribute. Every
    internal reader that feeds user-visible rows or row accounting
    (merge rewrite, COW delete rewrite, compaction, MOR decrement
    count) must come through here, or MOR-deleted rows resurrect into
    freshly-sequenced files."""
    if schema is None:
        schema = _schema_from_man(man)
    return _apply_delete_files(
        spark, table,
        _read_pool(spark, table, names, schema,
                   renames=man.get("renames")),
        man, names)


# Sentinel: a value whose Python ordering cannot be proven to match
# Spark's column ordering — never recorded, never pruned on.
_UNSTATABLE = object()


def _stat_value(v):
    """Normalize a min/max scalar (from a Spark collect OR a caller's
    predicate literal) to a JSON-storable value whose Python ordering
    matches Spark's column ordering: ints exact (arbitrary precision),
    floats numeric, strings codepoint, dates/timestamps as fixed-width
    ISO-8601 text (dates expand to midnight, timestamps always carry
    microseconds, tz-aware values normalize to UTC — so DATE vs
    TIMESTAMP granularities compare chronologically). Decimals become
    floats — callers must widen bounds (``_stat_bounds``) because the
    conversion rounds. Unknown types map to ``_UNSTATABLE``."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep="T", timespec="microseconds")
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day).isoformat(
            sep="T", timespec="microseconds")
    return _UNSTATABLE


def _stat_bounds(lo, hi) -> list | None:
    """JSON-storable ``[lo, hi]`` for one file/column, or None when no
    sound bound exists (the column is then simply not recorded for the
    file — pruning stays conservative). NaN bounds are unstatable
    (Spark orders NaN greatest; Python comparisons disagree). Decimal
    bounds widen by one ulp outward so the float rounding can never
    exclude a true value."""
    if lo is None and hi is None:
        return [None, None]  # all-NULL column: skippable by contract
    if isinstance(lo, decimal.Decimal):
        lo = math.nextafter(float(lo), -math.inf)
    if isinstance(hi, decimal.Decimal):
        hi = math.nextafter(float(hi), math.inf)
    lo, hi = _stat_value(lo), _stat_value(hi)
    if lo is _UNSTATABLE or hi is _UNSTATABLE:
        return None
    if any(isinstance(b, float) and math.isnan(b) for b in (lo, hi)):
        return None
    return [lo, hi]


# ---------------------------------------------------------------------------
# Per-file equality blooms: min/max stats prune RANGE predicates on
# clustered columns; a point lookup on an UNCLUSTERED id-like column
# (every file's [min, max] spans the whole keyspace) needs a
# membership summary instead. An 8 KiB bloom per file per column in
# the manifest answers `col = literal` at plan time: false positives
# cost one extra file scan, false negatives are impossible — provided
# build and probe hash EXACTLY the same bytes, which is why both sides
# share _bloom_positions (pandas' stable vectorized hash over
# canonical strings; no JVM-vs-Python hash-matching risk).
# Supported column types: string + integral (their canonical text is
# unambiguous; write_snapshot rejects others loudly).
# ---------------------------------------------------------------------------

_BLOOM_K = 3
_BLOOM_BITS_PER_VALUE = 10  # -> FPR ~0.9% with K=3
_BLOOM_MIN_BITS = 1 << 12  # 512 B floor
_BLOOM_MAX_BITS = 1 << 21  # 256 KiB/file/column cap: beyond this the
#   honest lever is compaction to fewer distinct values per file (or a
#   real index); FPR degrades smoothly past ~200k values/file


def _bloom_m_bits(n_values: int) -> int:
    """Bits sized to the file's value count (~10 bits/value, power of
    two, clamped) — a fixed size would be wasteful on small files and
    useless (FPR -> 1) on dense ones. The chosen m travels implicitly
    as the bitmap length, so the probe needs no metadata."""
    want = max(_BLOOM_MIN_BITS,
               min(_BLOOM_MAX_BITS, _BLOOM_BITS_PER_VALUE * n_values))
    return 1 << (want - 1).bit_length()


def _bloom_positions(values, m_bits: int) -> list:
    """The K bit positions for each canonical-string value —
    vectorized, identical on the build (executor pandas) and probe
    (driver) sides. Double hashing from one stable 64-bit hash."""
    import numpy as np
    import pandas as pd

    s = pd.Series(list(values), dtype="object").astype(str)
    # categorize=False: the factorize fast path compares C strings and
    # TRUNCATES AT NUL, hashing '' and '\x00' identically on multi-
    # element series but not single-element probes — a real false
    # negative (Hypothesis-found). The direct path is NUL-safe and
    # faster on id-like (mostly-unique) columns anyway.
    h = pd.util.hash_pandas_object(
        s, index=False, categorize=False).to_numpy(dtype=np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)
    return [
        ((h1 + np.uint64(i) * h2) % np.uint64(m_bits))
        for i in range(_BLOOM_K)
    ]


def _bloom_b64(series, integral: bool) -> str | None:
    """Build one file/column bloom from a pandas Series. Integral
    columns re-cast after dropna: Arrow hands a long-with-NULLs column
    to pandas as float64, and '5.0' vs '5' would be a silent false
    negative.

    The float64 detour is lossy past 2**53: the true id (snowflake-style
    ids land here) was already destroyed when Arrow widened the column,
    so ``astype("int64")`` recovers a ROUNDED value, the bloom records
    the wrong canonical text, and every probe of the true value
    false-negatives — the one failure mode blooms must never have. No
    in-function check can undo that (9007199254740992.0 could have been
    2**53 or 2**53+1), so the production build (`_scan_blooms`) casts to
    string on the Spark side and never reaches this path; if a
    float-dtype integral series does arrive with any magnitude >= 2**53,
    return ``None`` — record no bloom, absence is conservatively 'must
    scan'."""
    import base64

    import numpy as np

    vals = series.dropna()
    if integral and len(vals):
        if vals.dtype.kind == "f":
            if float(np.abs(vals.to_numpy()).max()) >= 2.0 ** 53:
                return None
        vals = vals.astype("int64")
    m = _bloom_m_bits(len(vals))
    bits = np.zeros(m // 8, dtype=np.uint8)
    if len(vals):
        for pos in _bloom_positions(vals, m):
            np.bitwise_or.at(
                bits, (pos // 8).astype(np.int64),
                np.left_shift(
                    np.uint8(1), (pos % 8).astype(np.uint8)))
    return base64.b64encode(bits.tobytes()).decode("ascii")


def _bloom_may_contain(b64: str, val) -> bool:
    """Probe: every one of the K positions for `val` must be set.
    The bloom's size rides in the bitmap length."""
    import base64

    import numpy as np

    bits = np.frombuffer(base64.b64decode(b64), dtype=np.uint8)
    for pos in _bloom_positions([val], len(bits) * 8):
        p = int(pos[0])
        if not (bits[p // 8] >> (p % 8)) & 1:
            return False
    return True


#: Bloom-assisted locate is driver-side CPU: probing every candidate
#: file's bloom with every batch key costs files × keys × K vectorized
#: ops. Past this budget the pass is skipped (the scan-side semi join
#: is still exact) rather than stalling the driver.
_BLOOM_PROBE_BUDGET = 50_000_000


def _bloom_candidates(man: dict, key: str, key_values,
                      candidates: list[str]) -> list[str]:
    """Second, membership-based cut for the locate/decrement candidate
    set: keep only files whose bloom may contain AT LEAST ONE batch
    key. This is what makes key-batch operations (COW merge locate,
    MOR decrement) open ~only the true files on UNCLUSTERED tables,
    where every file's [min, max] spans the keyspace and the stats
    pass keeps everything. False negatives are impossible (same hash
    as the build side); false positives cost one extra file scan.

    ``key_values`` must be the batch's non-NULL keys (NULL never
    matches the equality semi join anyway). Files without a recorded
    bloom survive; exotic value types skip the pass conservatively."""
    import base64

    import numpy as np

    blooms = man.get("blooms") or {}
    if key not in (man.get("bloom_cols") or []) or not blooms:
        return candidates
    vals = [v for v in key_values if v is not None]
    if not vals:
        return []
    if any(isinstance(v, bool) or not isinstance(v, (int, str))
           for v in vals):
        return candidates  # probe only canonical-text-stable types
    if len(candidates) * len(vals) > _BLOOM_PROBE_BUDGET:
        return candidates  # bounded driver CPU: skip, stay exact

    import pandas as pd

    s = pd.Series(vals, dtype="object").astype(str)
    h = pd.util.hash_pandas_object(
        s, index=False, categorize=False).to_numpy(dtype=np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = (h >> np.uint64(32)) | np.uint64(1)

    # Bit positions depend only on the bitmap SIZE, which is shared by
    # files with similar value counts — cache the (byte index, shift)
    # arrays per m so the per-file work is decode + index + compare.
    pos_cache: dict[int, list] = {}

    def positions_for(m_bits: int) -> list:
        got = pos_cache.get(m_bits)
        if got is None:
            got = []
            for i in range(_BLOOM_K):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(m_bits)
                got.append(((pos // np.uint64(8)).astype(np.int64),
                            (pos % np.uint64(8)).astype(np.uint8)))
            pos_cache[m_bits] = got
        return got

    kept = []
    for f in candidates:
        entry = blooms.get(f)
        if entry is None or key not in entry:
            kept.append(f)  # no bloom recorded: must scan
            continue
        bits = np.frombuffer(base64.b64decode(entry[key]),
                             dtype=np.uint8)
        hit = np.ones(len(vals), dtype=bool)
        for byte_idx, shift in positions_for(len(bits) * 8):
            hit &= ((bits[byte_idx] >> shift) & 1).astype(bool)
            if not hit.any():
                break
        if hit.any():
            kept.append(f)
    return kept


# ---------------------------------------------------------------------------
# Chunk-level bloom planning (r5 verdict item: unclustered point
# lookups loaded EVERY sidecar — 4.1 s @1M files — because the per-file
# blooms live inside the fat per-chunk JSON).
#
# Naively OR-folding 4096 member blooms into "one chunk bloom"
# saturates (a chunk holds millions of distinct id-like values; any
# membership summary needs ~10 bits per value — information-theoretic,
# not an implementation detail). Instead each chunk stores its member
# blooms BIT-SLICED: the (m x n_members) bit matrix transposed so row p
# is "which members have bloom bit p set" — the signature-file layout
# (Faloutsos & Christodoulakis 1984; BIGSI/COBS use it at genome
# scale). A point probe then reads the chunk header plus K=3 rows
# (~n/8 bytes each) via seek — never the sidecar JSON — and ANDs them
# into the surviving-member bitmap. Per-file granularity and the
# never-miss guarantee are exactly the per-file blooms'; member blooms
# of mixed sizes fold down (position p -> p mod m, sound because m is
# a power of two and the build hashes mod m) to the chunk's common m.
#
# The .blm file: [8B magic][4B LE header len][header JSON][matrices].
# Header: {"n", "names", "seq", "cols": {col: {"m", "row_bytes",
# "off" (relative to matrix section), "nobloom": [member idx...]}}}.
# Names + file_seq ride in the header so a pure-equality plan skips
# the sidecar entirely; "nobloom" members (no bloom recorded for the
# column) survive every probe — absence stays 'must scan'.
# ---------------------------------------------------------------------------

_BLM_MAGIC = b"BLMSLICE"
#: Per-column matrix cap: chunks whose min member bloom is large fold
#: further to fit (graceful FPR cost), keeping the worst-case build
#: memory and probe file size bounded.
_BLM_MAX_MATRIX_BYTES = 1 << 23  # 8 MiB
#: Equality batches larger than this skip the row-probe (the sidecar
#: batch probe with its own budget takes over) — K rows per value.
_BLM_PROBE_MAX_VALUES = 64


def _blm_path(table: str, chunk_id: str) -> str:
    return os.path.join(_chunks_root(table), f"{chunk_id}.blm")


def _write_chunk_blm(table: str, cid: str, part: list[str],
                     blooms: dict, file_seq: dict | None) -> bool:
    """Build and write one chunk's bit-sliced bloom matrices. Returns
    True when a .blm was written (descriptor flag). Build cost is
    O(set bits) per member — a one-time, chunk-write-side pass; chunks
    are immutable so appends/COW reuse the .blm by id forever."""
    import base64

    import numpy as np

    n = len(part)
    cols: dict = {}
    sections: list[bytes] = []
    off = 0
    all_cols = sorted({c for entry in blooms.values() for c in entry})
    for col in all_cols:
        member_bits: list = []
        nobloom: list[int] = []
        m_min = None
        for j, f in enumerate(part):
            b64 = (blooms.get(f) or {}).get(col)
            if b64 is None:
                member_bits.append(None)
                nobloom.append(j)
                continue
            raw = np.frombuffer(base64.b64decode(b64), dtype=np.uint8)
            member_bits.append(raw)
            m_min = len(raw) * 8 if m_min is None else min(
                m_min, len(raw) * 8)
        if m_min is None:
            continue  # no member carries this column
        # Fold to the chunk's common m: the min member size, further
        # reduced if the matrix would exceed the cap.
        m = m_min
        row_bytes = (n + 7) // 8
        while m > 8 and m * row_bytes > _BLM_MAX_MATRIX_BYTES * 8:
            m //= 2
        matrix = np.zeros((m, row_bytes), dtype=np.uint8)
        for j, raw in enumerate(member_bits):
            if raw is None:
                continue
            folded = np.bitwise_or.reduce(
                raw.reshape(-1, m // 8), axis=0)
            pos = np.flatnonzero(
                np.unpackbits(folded, bitorder="little"))
            matrix[pos, j >> 3] |= np.uint8(1 << (j & 7))
        cols[col] = {"m": int(m), "row_bytes": row_bytes,
                     "off": off, "nobloom": nobloom}
        blob = matrix.tobytes()
        sections.append(blob)
        off += len(blob)
    if not cols:
        return False
    # names + generations live in a SEPARATE blob after the header:
    # the probe parses the (tiny) header for every chunk but reads the
    # names only for chunks with surviving members — at 1M files a
    # point probe then reads ~200 B/chunk instead of a ~250 KB name
    # array per chunk (measured 2-3x on the planning wall clock).
    names_blob = json.dumps(
        [part, [file_seq.get(f) for f in part] if file_seq else None],
        separators=(",", ":")).encode()
    header = {"n": n, "names_len": len(names_blob), "cols": cols}
    hdr = json.dumps(header, separators=(",", ":")).encode()
    path = _blm_path(table, cid)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as fh:
        fh.write(_BLM_MAGIC)
        fh.write(len(hdr).to_bytes(4, "little"))
        fh.write(hdr)
        fh.write(names_blob)
        for blob in sections:
            fh.write(blob)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    return True


def _blm_hash_batch(values):
    """(h1, h2) uint64 arrays for an equality batch, or None when any
    value's canonical text could diverge from the build side (same
    type rules as `_bloom_candidates`)."""
    vals = [v for v in values if v is not None]
    if not vals or any(isinstance(v, bool) or not isinstance(v, (int, str))
                       for v in vals):
        return None if vals else ([], [])
    import numpy as np
    import pandas as pd

    s = pd.Series(vals, dtype="object").astype(str)
    h = pd.util.hash_pandas_object(
        s, index=False, categorize=False).to_numpy(dtype=np.uint64)
    return (h & np.uint64(0xFFFFFFFF),
            (h >> np.uint64(32)) | np.uint64(1))


def _blm_hash_preds(eq_preds: list[tuple]) -> list[tuple] | None:
    """Hash every equality predicate's value batch ONCE per plan —
    the digests depend only on the literals, never the chunk, so
    hashing inside the per-chunk probe re-paid pandas' per-call setup
    O(chunks) times (measured ~2 s of a 3 s point plan at 4M files /
    977 chunks). Returns [(col, h1, h2), ...] or None when any batch
    is oversized or non-canonical (probing is then inconclusive for
    every chunk and the caller skips straight to the sidecar path)."""
    out = []
    for col, _op, val in eq_preds:
        if (isinstance(val, (str, bytes))
                or not hasattr(val, "__iter__")):
            batch = [val]
        else:
            batch = list(val)
        if len(batch) > _BLM_PROBE_MAX_VALUES:
            return None
        hashed = _blm_hash_batch(batch)
        if hashed is None:
            return None
        out.append((col, hashed[0], hashed[1]))
    return out


def _blm_probe(table: str, ch: dict, hashed_preds: list[tuple]
               ) -> tuple[list[str], dict] | None:
    """Probe one chunk's bit-sliced blooms for AND-combined equality
    predicates (pre-hashed by `_blm_hash_preds`). Returns (surviving
    member names in sidecar order, their file_seq entries) WITHOUT
    loading the sidecar — or None when inconclusive (no .blm, a
    column without a matrix, a corrupt file), in which case the
    caller falls back to loading the sidecar exactly as before.
    Excluded (tombstoned) members are dropped here so COW-rewritten
    files never resurface."""
    import numpy as np

    try:
        with open(_blm_path(table, ch["id"]), "rb") as fh:
            if fh.read(8) != _BLM_MAGIC:
                return None
            hdr_len = int.from_bytes(fh.read(4), "little")
            header = json.loads(fh.read(hdr_len))
            names_off = 12 + hdr_len
            base = names_off + header["names_len"]
            n = header["n"]
            row_bytes = None
            alive = np.ones(n, dtype=bool)
            for col, h1, h2 in hashed_preds:
                meta = (header.get("cols") or {}).get(col)
                if meta is None:
                    return None  # column not sliced: inconclusive
                m = np.uint64(meta["m"])
                row_bytes = meta["row_bytes"]
                hit = np.zeros(n, dtype=bool)
                if len(h1):
                    rows: dict[int, np.ndarray] = {}
                    for i in range(_BLOOM_K):
                        for p in ((h1 + np.uint64(i) * h2) % m):
                            p = int(p)
                            if p not in rows:
                                fh.seek(base + meta["off"]
                                        + p * row_bytes)
                                rows[p] = np.frombuffer(
                                    fh.read(row_bytes), dtype=np.uint8)
                    for k in range(len(h1)):
                        acc = None
                        for i in range(_BLOOM_K):
                            p = int((h1[k] + np.uint64(i) * h2[k]) % m)
                            acc = rows[p] if acc is None \
                                else acc & rows[p]
                        hit |= np.unpackbits(
                            acc, bitorder="little")[:n].astype(bool)
                for j in meta.get("nobloom") or ():
                    hit[j] = True  # no bloom recorded: must scan
                alive &= hit
                if not alive.any():
                    break
            if not alive.any():
                return [], {}  # nothing survived: names never read
            # survivors exist: NOW read the names/generations blob
            fh.seek(names_off)
            names, seq = json.loads(fh.read(header["names_len"]))
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return None  # unreadable/corrupt .blm: plan from the sidecar
    excl = set(ch.get("exclude") or ())
    kept = [names[j] for j in np.flatnonzero(alive)
            if names[j] not in excl]
    fseq = {}
    if seq is not None:
        idx = {nm: j for j, nm in enumerate(names)}
        fseq = {nm: seq[idx[nm]] for nm in kept
                if seq[idx[nm]] is not None}
    return kept, fseq


_BLOOM_OK_TYPES = ("string", "byte", "short", "integer", "long")


def _check_bloom_cols(schema: StructType, bloom_cols: list[str]):
    for c in bloom_cols:
        field = next((f for f in schema.fields if f.name == c), None)
        if field is None:
            raise ValueError(f"bloom column {c!r} not in schema")
        if field.dataType.typeName() not in _BLOOM_OK_TYPES:
            raise ValueError(
                f"bloom column {c!r} has type "
                f"{field.dataType.simpleString()}; blooms support "
                f"string and integral columns (unambiguous canonical "
                f"text — see _bloom_positions)")


def _scan_blooms(spark: SparkSession, table: str, files: list[str],
                 bloom_cols: list[str] | None,
                 schema: StructType) -> dict | None:
    """One Arrow-batched pass over the JUST-LANDED files building the
    per-file blooms: groupBy(input_file_name).applyInPandas — the
    shuffle moves only the bloom columns of the commit's own files,
    never the table."""
    if not bloom_cols:
        return None
    cols = [c for c in bloom_cols if c in
            {f.name for f in schema.fields}]
    if not files or not cols:
        return {}
    # `build` closes over module-level _bloom_b64 → cloudpickled by
    # module reference; workers spawned outside the repo cwd (external
    # harness importing __spark_entry__ by path) can't import it
    # without the shipped zip.
    from ..session import ensure_package_on_executors
    ensure_package_on_executors(spark)
    out_schema = ", ".join(["_file string"]
                           + [f"_b{i} string" for i in range(len(cols))])

    # Cast to string ON THE SPARK SIDE: Arrow hands a long-with-NULLs
    # column to pandas as float64, which silently rounds ids >= 2**53
    # (snowflake-style) before the bloom ever sees them — a build-time
    # false negative. CAST(long AS STRING) is exact at any magnitude
    # and matches the probe's str(int) canonical text.
    def build(pdf):
        import pandas as pd

        row = {"_file": [pdf["_file"].iloc[0]]}
        for i, c in enumerate(cols):
            row[f"_b{i}"] = [_bloom_b64(pdf[c], integral=False)]
        return pd.DataFrame(row)

    root = _data_root(table)
    rows = (
        spark.read.parquet(*(os.path.join(root, f) for f in files))
        .select(*(F.col(c).cast("string").alias(c) for c in cols),
                F.input_file_name().alias("_file"))
        .groupBy("_file").applyInPandas(build, out_schema)
        .collect()
    )
    blooms = {
        os.path.basename(r["_file"]):
            {c: r[f"_b{i}"] for i, c in enumerate(cols)
             if r[f"_b{i}"] is not None}
        for r in rows
    }
    empty = None
    for name in files:  # zero-row files: all-zero bloom, every probe
        if name not in blooms:  # misses, file provably skippable
            if empty is None:
                import pandas as pd
                empty = _bloom_b64(pd.Series([], dtype="object"), False)
            blooms[name] = {c: empty for c in cols}
    return blooms


def _carry_blooms(parent_man: dict, untouched: list[str],
                  new_blooms: dict | None) -> dict | None:
    old = parent_man.get("blooms") or {}
    carried = {f: old[f] for f in untouched if f in old}
    if new_blooms:
        carried.update(new_blooms)
    return carried or None


# Can a file whose [lo, hi] column range satisfy `col OP val`? Files
# with NO stats entry always survive (opt-in metadata, never required
# for correctness); a present-but-[None, None] entry means the column
# is all-NULL in that file, and a comparison predicate can never hold
# on NULL, so the file is skippable.
_PRUNE_OPS = {
    "<": lambda lo, hi, v: lo is None or lo < v,
    "<=": lambda lo, hi, v: lo is None or lo <= v,
    ">": lambda lo, hi, v: hi is None or hi > v,
    ">=": lambda lo, hi, v: hi is None or hi >= v,
    "=": lambda lo, hi, v: (lo is not None and lo <= v
                            and hi is not None and hi >= v),
}

_COL_OPS = {
    "<": Column.__lt__,
    "<=": Column.__le__,
    ">": Column.__gt__,
    ">=": Column.__ge__,
    "=": Column.__eq__,
    # ("col", "in", [v1, v2, ...]) — the multi-point lookup. Pruning
    # survives a file iff ANY listed value survives it; isin() is the
    # residual. An empty list matches nothing (lit False residual).
    "in": (lambda col, vals:
           col.isin(*vals) if vals else F.lit(False)),
}


def _residual_filter(col: str, op: str, val) -> Column:
    """The real predicate applied above the pruned scan — pruning is
    an optimization, never the semantics. ``in`` takes its value list
    raw; every other op compares against one literal."""
    if op == "in":
        return _COL_OPS["in"](F.col(col), list(val))
    return _COL_OPS[op](F.col(col), F.lit(val))


class _InProbe:
    """An IN-list pre-canonicalized for span probes: iterates as the
    ORIGINAL values (residual filter, bloom batch) but answers the
    per-file/per-chunk stats check by BISECTING a sorted canonical
    array against [lo, hi] — O(log k) per file instead of the O(k)
    Python any() that made a 100k-key MOR batch on an unclustered 1M-
    file chunked table a minutes-long driver stall (r5 advice).
    NULLs drop (equality matches nothing — mirrors the bloom batch);
    an unorderable/NaN value forces must-scan, exactly the per-value
    path's conservatism."""

    __slots__ = ("values", "_sorted", "_always_survive")

    def __init__(self, values):
        self.values = list(values)
        canon = []
        self._always_survive = False
        for v in self.values:
            if v is None:
                continue
            c = _stat_value(v)
            if (c is _UNSTATABLE
                    or (isinstance(c, float) and math.isnan(c))):
                self._always_survive = True
                continue
            canon.append(c)
        try:
            canon.sort()
        except TypeError:  # mixed unorderable types: never prune
            self._always_survive, canon = True, []
        self._sorted = canon

    def __iter__(self):
        return iter(self.values)

    def __len__(self):
        return len(self.values)

    def any_in_span(self, lo, hi) -> bool:
        """Does ANY listed value fall inside [lo, hi]? (None bound =
        unbounded side — conservative for merged chunk spans.)"""
        if self._always_survive:
            return True
        vals = self._sorted
        if not vals:
            return False
        try:
            i = 0 if lo is None else bisect.bisect_left(vals, lo)
            if i >= len(vals):
                return False
            return hi is None or vals[i] <= hi
        except TypeError:
            return True  # span type incomparable with values: scan


def _stat_col_of(per_file: dict, col: str, aliases: tuple) -> str | None:
    """The key this file's stats record for logical column `col`:
    the current name, or (after a rename) a historical physical name
    from the manifest's projection chain — same [min, max], the data
    never moved."""
    if col in per_file:
        return col
    for a in aliases:
        if a in per_file:
            return a
    return None


def _file_survives(stats: dict, name: str, col: str, op: str,
                   val, aliases: tuple = ()) -> bool:
    if op == "in":
        if isinstance(val, _InProbe):
            per_file = stats.get(name)
            c = (None if per_file is None
                 else _stat_col_of(per_file, col, aliases))
            if c is None:
                return True  # no metadata: must scan
            lo, hi = per_file[c]
            if lo is None and hi is None:
                return False  # all-NULL column: equality never hits
            return val.any_in_span(lo, hi)
        # Survives iff ANY listed value could be in the file; the
        # empty list matches nothing, so every file is skippable.
        return any(_file_survives(stats, name, col, "=", v, aliases)
                   for v in val)
    per_file = stats.get(name)
    c = (None if per_file is None
         else _stat_col_of(per_file, col, aliases))
    if c is None:
        return True  # no metadata for this file/column: must scan
    lo, hi = per_file[c]
    if lo is None and hi is None:
        return False  # all-NULL column: comparison never matches
    v = _stat_value(val)
    if v is _UNSTATABLE:
        return True  # literal we can't order soundly: must scan
    if isinstance(v, float) and math.isnan(v):
        return True  # Spark NaN ordering differs: never prune on NaN
    try:
        return _PRUNE_OPS[op](lo, hi, v)
    except TypeError:
        return True  # incomparable literal type: be conservative


def _bloom_survives(blooms: dict, name: str, col: str, op: str,
                    val, aliases: tuple = ()) -> bool:
    if op == "in":
        return any(_bloom_survives(blooms, name, col, "=", v, aliases)
                   for v in val)
    if op != "=" or val is None:
        return True  # blooms answer equality membership only
    entry = blooms.get(name)
    c = None if entry is None else _stat_col_of(entry, col, aliases)
    if c is None:
        return True  # no bloom for this file/column: must scan
    if isinstance(val, bool) or not isinstance(val, (int, str)):
        return True  # probe only types whose canonical text matches
    return _bloom_may_contain(entry[c], val)


def _norm_predicates(predicates: list[tuple]) -> list[tuple]:
    """Upgrade big plain IN-lists to `_InProbe` once per plan (sort
    cost O(k log k) total) so the per-file stats check bisects instead
    of re-scanning the value list for every file. Idempotent — the
    chunked path normalizes before fanning out to per-chunk prunes."""
    return [
        (c, op, _InProbe(v))
        if op == "in" and not isinstance(v, _InProbe) and len(v) > 8
        else (c, op, v)
        for (c, op, v) in predicates
    ]


def _prune_from_man(man: dict, predicates: list[tuple]) -> dict:
    predicates = _norm_predicates(predicates)
    stats = man.get("stats") or {}
    blooms = man.get("blooms") or {}
    ren = man.get("renames") or {}
    al = {c: tuple(ren.get(c, ())) for (c, _, _) in predicates}
    # Stats checks plus single-value bloom probes are per-file cheap;
    # IN-list bloom membership goes through the BATCH probe so each
    # file's bitmap is decoded once total, not once per listed value
    # (measured 5x on a 100k-file manifest).
    kept = [
        name for name in man["files"]
        if all(_file_survives(stats, name, c, op, v, al[c])
               and (op == "in"
                    or _bloom_survives(blooms, name, c, op, v, al[c]))
               for (c, op, v) in predicates)
    ]
    for c, op, v in predicates:
        if op == "in" and kept:
            vals = [x for x in v if x is not None]
            kept = (_bloom_candidates(man, c, vals, kept)
                    if vals else [])
    return {"total": len(man["files"]), "kept": kept,
            "skipped": len(man["files"]) - len(kept)}


def _chunk_survives(ch: dict, predicates: list[tuple],
                    renames: dict | None = None) -> bool:
    """Can any member of chunk ``ch`` satisfy the predicates? Reuses
    `_file_survives` with the chunk's span standing in for a file's
    [lo, hi] — identical conservative semantics (span None = must
    load, span [None, None] = all-NULL chunk, skippable). ``renames``
    lets a span recorded under a column's pre-rename name keep
    pruning."""
    spans = ch.get("spans")
    if spans is None:
        return True
    ren = renames or {}
    fake = {"_chunk": {c: s for c, s in spans.items()
                       if s is not None}}
    return all(_file_survives(fake, "_chunk", c, op, v,
                              tuple(ren.get(c, ())))
               for (c, op, v) in predicates)


def _page_survives(pg: dict, predicates: list[tuple],
                    renames: dict | None = None) -> bool:
    """Can any chunk of page ``pg`` satisfy the predicates? The page
    ref's union spans carry the exact `_chunk_survives` semantics one
    level up (None = must load, [None, None] = all-NULL page)."""
    return _chunk_survives(pg, predicates, renames)


def _prune_chunked(table: str, core: dict,
                   predicates: list[tuple]) -> dict:
    """Planning over a CHUNKED manifest: chunk spans rule sidecars out
    wholesale; only survivors are loaded and pruned per-file (stats +
    blooms, same code as inline). Returns the `_prune_from_man` shape
    plus ``chunks_loaded`` / ``chunks_total`` and ``file_seq`` for the
    kept names (the delete-mask sequencing the read needs) — at 1M
    files a clustered point lookup reads the core plus ONE sidecar.

    Equality/IN predicates on bloom columns first probe the chunk's
    BIT-SLICED bloom matrix (.blm — K row reads, no JSON): a chunk
    with zero surviving members skips its sidecar outright, and when
    the plan is PURE equality the survivors (names + file_seq from the
    .blm header) are final without any sidecar load — unclustered
    point planning is O(bloom-surviving chunks), not O(chunks)."""
    predicates = _norm_predicates(predicates)
    kept: list[str] = []
    fseq: dict = {}
    by_chunk: dict[str, list[str]] = {}
    total = 0
    loaded = 0
    probed = 0
    # Page cut first: a paged core's span check rules whole PAGES out
    # before a single descriptor is parsed — the core read stays
    # O(page refs), the descriptor parse O(pages the predicate can
    # hit). Skipped pages still contribute their live counts.
    pages = core.get("pages") or []
    renames = core.get("renames")
    pages_loaded = 0
    chunks: list[dict] = []
    chunks_total = 0
    for pg in pages:
        chunks_total += pg["k"]
        if not _page_survives(pg, predicates, renames):
            total += pg["files"]
            continue
        pages_loaded += 1
        chunks += _read_page(table, pg["id"])
    chunks += core.get("chunks") or []
    chunks_total += len(core.get("chunks") or [])
    bloom_cols = set(core.get("bloom_cols") or [])
    eq_preds = [(c, op, v) for (c, op, v) in predicates
                if c in bloom_cols and op in ("=", "in")]
    # value digests are chunk-independent: hash once per PLAN (a
    # float/bool/date literal or oversized batch gates to None here —
    # probing is then inconclusive for every chunk, sidecars decide)
    hashed_preds = _blm_hash_preds(eq_preds) if eq_preds else None
    pure_eq = bool(eq_preds) and len(eq_preds) == len(predicates)
    sub_base = {"stats_cols": core.get("stats_cols"),
                "bloom_cols": core.get("bloom_cols"),
                "renames": renames}

    def _eval_chunk(ch: dict) -> tuple:
        """One chunk's full pruning decision, serial on purpose: the
        probe work is GIL-bound Python (tiny reads, header parses,
        short numpy ops), and a 16-thread pool measured 8x SLOWER
        than this loop at 4M files / 977 chunks (3.1 s vs 0.39 s) —
        contention, not parallelism. Returns
        (n_live, kept_names, fseq_entries, loaded, probed)."""
        n_live = ch["n"] - len(ch.get("exclude") or [])
        if not _chunk_survives(ch, predicates, renames):
            return (n_live, None, None, 0, 0)
        blm_survivors = None
        probed = 0
        if hashed_preds is not None and ch.get("blm"):
            hit = _blm_probe(table, ch, hashed_preds)
            if hit is not None:
                probed = 1
                survivors, pseq = hit
                if not survivors:
                    return (n_live, [], {}, 0, probed)
                if pure_eq:  # residual-free: .blm header is final
                    return (n_live, survivors, pseq, 0, probed)
                blm_survivors = set(survivors)
        side = _read_chunk(table, ch["id"])
        excl = set(ch.get("exclude") or [])
        part = [f for f in side["files"]
                if f not in excl
                and (blm_survivors is None or f in blm_survivors)]
        sub = {**sub_base, "files": part,
               "stats": side.get("stats"),
               "blooms": side.get("blooms")}
        part_kept = _prune_from_man(sub, predicates)["kept"]
        side_seq = side.get("file_seq") or {}
        return (n_live, part_kept,
                {f: side_seq[f] for f in part_kept if f in side_seq},
                1, probed)

    for ch in chunks:
        n_live, part_kept, pseq, did_load, did_probe = _eval_chunk(ch)
        total += n_live
        loaded += did_load
        probed += did_probe
        if part_kept is None:  # span-skipped
            continue
        kept += part_kept
        by_chunk[ch["id"]] = part_kept
        fseq.update(pseq)
    out = {"total": total, "kept": kept,
           "skipped": total - len(kept),
           "chunks_total": chunks_total, "chunks_loaded": loaded,
           "chunks_blm_probed": probed,
           "file_seq": fseq, "by_chunk": by_chunk}
    if pages:
        out["pages_total"] = len(pages)
        out["pages_loaded"] = pages_loaded
    return out


def prune_report(table: str, snapshot: str,
                 predicates: list[tuple]) -> dict:
    """Metadata-only pruning decision for ``predicates`` (each
    ``(col, op, value)``, op in <, <=, >, >=, =, AND-combined):
    ``{"total": n, "kept": [names], "skipped": m}``. This is the
    planning step of a pruned read — no data file is opened. Chunked
    manifests additionally report ``chunks_total``/``chunks_loaded``:
    how many sidecars the span check let planning skip entirely."""
    core = _read_core(table, snapshot)
    if "chunks" in core:
        return _prune_chunked(table, core, predicates)
    return _prune_from_man(core, predicates)


def read_snapshot(spark: SparkSession, table: str, snapshot: str,
                  predicates: list[tuple] | None = None) -> DataFrame:
    """Time travel: scan an explicit (possibly superseded) snapshot.

    With ``predicates`` (``(col, op, value)`` conjuncts), files whose
    manifest min/max ranges cannot match are never handed to Spark at
    all — manifest-level pruning one layer ABOVE parquet footer
    skipping, which on a 100 TB table is the difference between
    listing/footer-reading ~100k files and opening only the few a
    clustered key range hits. The predicate is also applied as a real
    ``filter`` (pruning is an optimization, never the semantics), so
    the result equals an unpruned scan + filter exactly.

    Pass literals of the COLUMN's type: a float literal against an
    integral column makes Spark cast the column side, which demotes
    the residual filter from a pushed parquet filter to a post-scan
    one (manifest pruning still applies, footer row-group skipping is
    lost — floor/ceil the literal instead, x101's pattern).

    Reads carry the manifest-recorded schema when present, so files
    written before a schema evolution project NULL for later-added
    columns without a mergeSchema footer pass over every file."""
    core = _read_core(table, snapshot)  # parsed once per read
    if predicates and "chunks" in core:
        # chunked planning: spans rule whole sidecars out before any
        # per-file metadata is even read — the manifest cost of this
        # read is O(chunks the predicate can hit), not O(table)
        plan = _prune_chunked(table, core, predicates)
        man = {**core, "file_seq": plan["file_seq"]}
        names = plan["kept"]
    else:
        man = _materialize(table, core)
        names = man["files"]
        if predicates:
            names = _prune_from_man(man, predicates)["kept"]
    schema = _schema_from_man(man)
    if not names:
        if schema is None:  # pre-schema manifest: fall back to full scan
            df = spark.read.parquet(*snapshot_files(table, snapshot))
        else:
            df = spark.createDataFrame([], schema)
        for col, op, val in predicates or []:
            df = df.filter(_residual_filter(col, op, val))
        return df
    df = _read_pool(spark, table, names, schema,
                    renames=man.get("renames"))
    # Residual predicates go on BEFORE the merge-on-read delete join:
    # a filter applied directly to the scan stays a pushed parquet
    # filter, while one above the (nondeterministic input_file_name)
    # delete join would not push back down. Order is semantically
    # irrelevant — both only remove rows.
    for col, op, val in predicates or []:
        df = df.filter(_residual_filter(col, op, val))
    return _apply_delete_files(spark, table, df, man, names)


def snapshot_as_of(table: str, ts: float) -> str | None:
    """The snapshot that was CURRENT at Unix time ``ts``: the newest
    snapshot published at or before ``ts``, or None if the table had
    no snapshot yet. Publish time is the manifest's mtime — assigned
    by the atomic publish rename, monotone per table (the same clock
    vacuum's retention floor trusts). Orphan manifests from pre-flip
    crashes are skipped: they were never CURRENT.

    Vacuum bounds how far back this can answer — a reaped manifest is
    gone; callers get the oldest RETAINED history, never a silently
    wrong newer snapshot (names are checked oldest-newest)."""
    best = None
    for s in list_snapshots(table):  # oldest first by generation
        path = _manifest_path(table, s)
        try:
            mtime = os.path.getmtime(path)
        except FileNotFoundError:
            continue  # vacuumed between list and stat
        if mtime <= ts:
            best = s
    if best is None:
        return None
    # Orphans (published manifest, crashed before flip) were never
    # visible; walk the parent chain from the best candidate only if
    # it is ON the chain of CURRENT — otherwise fall back one by one.
    chain = set()
    snap = current_snapshot(table)
    while snap is not None:
        chain.add(snap)
        try:
            snap = _read_core(table, snap).get("parent")
        except FileNotFoundError:
            break
    if best in chain:
        return best
    eligible = [s for s in list_snapshots(table)
                if s in chain
                and os.path.getmtime(_manifest_path(table, s)) <= ts]
    return eligible[-1] if eligible else None


def read_as_of(spark: SparkSession, table: str, ts: float,
               predicates: list[tuple] | None = None) -> DataFrame:
    """Time travel by TIMESTAMP (Unix seconds): scan the snapshot that
    was published most recently at or before ``ts`` (the Delta
    ``timestampAsOf`` / Iceberg ``as-of-timestamp`` contract).
    Raises NoCurrentSnapshotError when no retained snapshot is that
    old. Same pruning/delete-mask semantics as ``read_snapshot``."""
    snap = snapshot_as_of(table, ts)
    if snap is None:
        raise NoCurrentSnapshotError(
            f"{table}: no snapshot at or before ts={ts}")
    return read_snapshot(spark, table, snap, predicates=predicates)


def read_current(spark: SparkSession, table: str,
                 predicates: list[tuple] | None = None) -> DataFrame:
    """Scan the published snapshot. Lock-free: one atomic pointer
    read, then immutable files — no writer can invalidate what this
    DataFrame will scan (until vacuum passes ``keep`` versions).
    ``predicates`` enable manifest-stats file pruning (read_snapshot).
    """
    snap = current_snapshot(table)
    if snap is None:
        raise NoCurrentSnapshotError(table)
    return read_snapshot(spark, table, snap, predicates=predicates)


def _next_snapshot_name(table: str) -> str:
    snaps = list_snapshots(table)
    gen = 1 + max((int(s.split("-", 1)[0]) for s in snaps), default=0)
    return f"{gen:08d}-{uuid.uuid4().hex[:8]}"


#: How long an optimistic writer queues for the PUBLISH lease before
#: giving up. Publishes are metadata-only (manifest JSON + pointer
#: rename, milliseconds), so contention here clears almost instantly;
#: the budget only matters when a pessimistic whole-operation holder
#: (COW merge/delete) is mid-flight.
_COMMIT_WAIT_S = 60.0


def _rebase_chain(table: str, head: str, base: str) -> list[dict]:
    """Manifests from ``head`` (inclusive) back to ``base``
    (exclusive), newest first — the commits an optimistic writer must
    rebase over. Raises ``CommitConflictError`` when the walk cannot
    reach ``base`` (intervening lineage vacuumed, or ``base`` is not
    an ancestor of ``head``) — without the full chain the rebase
    cannot prove the interposed commits were appends. (Distinct from
    the changelog's ``_chain_between``, which walks the other
    direction and raises the reader-facing error.)"""
    out: list[dict] = []
    snap = head
    while snap is not None and snap != base:
        try:
            man = _read_core(table, snap)
        except FileNotFoundError:
            raise CommitConflictError(
                f"{table}: lineage between head {head!r} and base "
                f"{base!r} is gone (vacuumed?) — re-run against the "
                "current head") from None
        out.append(man)
        snap = man.get("parent")
    if snap != base:
        raise CommitConflictError(
            f"{table}: base snapshot {base!r} is not an ancestor of "
            f"head {head!r} — re-run against the current head")
    return out


def _land_in_pool(df: DataFrame, table: str) -> list[str]:
    """Write `df`'s rows as new immutable pool files; return their
    pool-relative names."""
    staging = os.path.join(table, f"__staging-{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(staging)
    return _adopt_staged(table, staging)


def _adopt_staged(table: str, staging: str) -> list[str]:
    """Move every parquet file of a finished staging-dir write into the
    pool under fresh uuid names and return them (never overwrites; a
    crash leaves unreferenced pool files plus its staging dir — both
    reaped by ``vacuum_snapshots`` once aged out)."""
    pool = _data_root(table)
    os.makedirs(pool, exist_ok=True)
    names = []
    for part in sorted(os.listdir(staging)):
        if part.endswith(".parquet"):
            name = f"{uuid.uuid4().hex}.parquet"
            shutil.move(os.path.join(staging, part),
                        os.path.join(pool, name))
            names.append(name)
    shutil.rmtree(staging)
    return names


#: Byte budget for a commit's driver-side mask work (guide §5: a mask
#: is batch-sized and broadcast moments later anyway). Every driver
#: read or collect of mask keys checks it first; 0 disables.
_DRIVER_LAND_BYTES = 64 << 20


def _land_arrow_in_pool(tbl, table: str, spark: SparkSession) -> list[str]:
    """Land an in-driver ``pyarrow.Table`` as ONE immutable pool file —
    the zero-Spark-job landing for KB-sized commit relations
    (equality-delete masks), with ``_land_in_pool``'s staging and
    crash/vacuum contract; codec follows the session's parquet codec
    so driver-written files match Spark-written ones."""
    import pyarrow.parquet as pq

    staging = os.path.join(table, f"__staging-{uuid.uuid4().hex[:8]}")
    os.makedirs(staging)
    pq.write_table(tbl, os.path.join(staging, "part-00000.parquet"),
                   compression=spark.conf.get(
                       "spark.sql.parquet.compression.codec"))
    return _adopt_staged(table, staging)


def _mask_type_ok(t) -> bool:
    """Key types whose driver-side distinct provably matches Spark's
    DISTINCT: exact-equality types. Floats are excluded (NaN grouping
    and -0.0/+0.0 folding are engine decisions), as are nested /
    dictionary-encoded shapes."""
    import pyarrow as pa

    return (pa.types.is_integer(t) or pa.types.is_string(t)
            or pa.types.is_large_string(t) or pa.types.is_binary(t)
            or pa.types.is_large_binary(t) or pa.types.is_boolean(t)
            or pa.types.is_date(t) or pa.types.is_timestamp(t)
            or pa.types.is_decimal(t))


def _read_key_columns(paths: list[str], key: str, budget: int):
    """The budgeted driver read behind every driver-side mask: each
    parquet file's ``key`` column as one pyarrow array, or None when
    there are no files or their bytes exceed ``budget`` (checked
    before any file is opened). Unreadable files raise."""
    import pyarrow.parquet as pq

    if not paths or sum(os.path.getsize(p) for p in paths) > budget:
        return None
    return [pq.read_table(p, columns=[key]).column(key).combine_chunks()
            for p in paths]


def _driver_mask_keys(paths: list[str], key: str, df: DataFrame | None):
    """The distinct non-null ``key`` values of the parquet ``paths``
    plus ``df`` as a one-column pyarrow table, or None when the driver
    may not compute them: nothing to read, a key type whose distinct
    is Spark's to decide, or over the byte budget. The files' bytes
    are charged first; ``df`` is then collected through
    ``limit(n + 1)``, ``n`` being the values the rest of the budget
    holds, so an oversized frame is refused after n+1 rows."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_type

    budget = _DRIVER_LAND_BYTES
    arrs = []
    if paths:
        arrs = _read_key_columns(paths, key, budget)
        if arrs is None or not _mask_type_ok(arrs[0].type):
            return None
        budget -= sum(os.path.getsize(p) for p in paths)
    if df is not None:
        sel = df.select(key)
        typ = to_arrow_type(sel.schema[0].dataType)
        # bytes per value: the fixed width, else a string's estimate
        width = (max(typ.bit_width // 8, 1) if pa.types.is_primitive(typ)
                 else 24)
        n = budget // width
        if n <= 0 or not _mask_type_ok(typ):
            return None
        got = sel.limit(n + 1).toArrow()
        if got.num_rows > n or got.nbytes > budget:
            return None
        arrs.append(got.column(0).combine_chunks())
    if not arrs:
        return None
    keys = pa.concat_arrays([a.cast(arrs[0].type) for a in arrs])
    return pa.table({key: pc.unique(keys.drop_null())})


def _land_mask(spark: SparkSession, table: str, key: str,
               files: list[str] = (), df: DataFrame | None = None):
    """Land a MOR commit's equality-delete mask, the distinct non-null
    ``key`` values of the pool ``files`` and/or ``df``; return
    ``(del_files, keys_df, n_keys)``. The one place a commit chooses
    driver or distributed landing. Within the driver budget
    (``_driver_mask_keys``) pyarrow writes one file, no Spark job, and
    ``keys_df`` is a LocalTableScan. Every other exit takes the
    distributed path once, here: a Spark distinct, a ``coalesce(1)``
    landing, the landed file read back."""
    root = _data_root(table)
    paths = [os.path.join(root, f) for f in files]
    try:
        tbl = _driver_mask_keys(paths, key, df)
        del_files = (None if tbl is None
                     else _land_arrow_in_pool(tbl, table, spark))
    except Exception:  # unreadable file, arrow mismatch: Spark path
        tbl = del_files = None
    if del_files is not None:
        try:
            return del_files, spark.createDataFrame(tbl), tbl.num_rows
        except Exception:  # no local relation for this type: read back
            pass
    else:
        parts = [spark.read.parquet(*paths).select(key)] if paths else []
        parts += [df.select(key)] if df is not None else []
        keys = (functools.reduce(DataFrame.unionByName, parts)
                .distinct().filter(F.col(key).isNotNull()))
        del_files = _land_in_pool(keys.coalesce(1), table)
    return (del_files, _read_pool(spark, table, del_files, None),
            _count_pool_rows(spark, table, del_files))


def _publish(table: str, files: list[str], rows: int,
             parent: str | None, reused: int,
             txn_id: str | None = None,
             op: str = "overwrite",
             new_files: list[str] | None = None,
             schema: StructType | None = None,
             stats: dict | None = None,
             stats_cols: list[str] | None = None,
             blooms: dict | None = None,
             bloom_cols: list[str] | None = None,
             file_seq: dict | None = None,
             delete_files: list[dict] | None = None,
             parent_chunks: list[dict] | None = None,
             parent_pages: list[dict] | None = None,
             ref: str | None = None,
             partition_spec: list[dict] | None = None,
             schema_meta: dict | None = None) -> str:
    """Write the manifest, then atomically flip the pointer. Caller
    holds the table lease.

    ``file_seq`` carries data-file generations forward from the parent
    manifest. Files of ``files`` missing from it are stamped by
    provenance: THIS commit's ``new_files`` get its generation, while
    a carried-but-never-stamped file (legacy, pre-file_seq manifests)
    gets 0 — it provably predates every possible delete entry, and
    stamping it at the CURRENT generation instead would tie it with a
    mask published by this very commit, exempting it from a delete it
    must honor (masking is strict-below). ``delete_files`` entries
    whose ``seq`` is None are stamped with this commit's generation —
    a delete always sequences at the commit that publishes it.

    ``parent_chunks`` is the chunk-reuse fast path (appends on CHUNKED
    tables): ``files``/``stats``/``blooms`` then describe ONLY this
    commit's fresh files — they land as new sidecar(s) appended to the
    parent's untouched descriptors, so commit metadata is O(commit)
    while ``rows``/``reused`` already account for the whole table.
    Without it, a publish naming >= `_MANIFEST_CHUNK_FILES` files
    auto-converts its materialized metadata to chunked form."""
    name = _next_snapshot_name(table)
    gen = _gen_of(name)
    os.makedirs(_snapshots_root(table), exist_ok=True)
    parent_core: dict = {}
    if parent is not None:
        try:
            parent_core = _read_core(table, parent)
        except FileNotFoundError:
            pass
    if (partition_spec is None and parent
            and op not in ("overwrite", "set-spec")):
        # hidden partitioning inherits through EVERY commit kind; only
        # a full refresh or an explicit set_partition_spec redefines
        # (or drops) it
        partition_spec = parent_core.get("partition_spec")
    # --- field-id schema identity (Iceberg-shaped) --------------------
    # Stable per-column ids make rename a metadata-only commit and
    # make "same name, different column" detectable. Inherit from the
    # parent unless the caller (rename/drop) passes them explicitly;
    # a full refresh rewrites every live file under current names, so
    # it CLEARS the projection chain (renames) and the retired-name
    # fence while keeping ids stable for surviving names.
    if schema_meta is None:
        schema_meta = {
            "field_ids": parent_core.get("field_ids"),
            "next_field_id": parent_core.get("next_field_id"),
            "renames": (None if op == "overwrite"
                        else parent_core.get("renames")),
            "retired": (None if op == "overwrite"
                        else parent_core.get("retired")),
        }
    field_ids = dict(schema_meta.get("field_ids") or {})
    next_id = schema_meta.get("next_field_id") or (
        (max(field_ids.values()) + 1) if field_ids else 1)
    retired = schema_meta.get("retired") or {}
    if schema is not None:
        for f in schema.fields:
            if f.name in retired:
                raise SchemaEvolutionError(
                    f"{table}: column name {f.name!r} was retired "
                    f"(field id {retired[f.name]}, renamed away or "
                    "dropped) — reusing it would leak old-file data "
                    "under a different column identity; pick another "
                    "name (a full refresh or compaction clears the "
                    "fence)")
            if f.name not in field_ids:
                field_ids[f.name] = next_id
                next_id += 1
    carried = dict(file_seq or {})
    fresh = set(new_files if new_files is not None else files)
    for f in files:
        if f not in carried:
            carried[f] = gen if f in fresh else 0
    stamped_dels = None
    if delete_files:
        stamped_dels = [
            {**d, "seq": gen if d.get("seq") is None else d["seq"]}
            for d in delete_files
        ]
    chunks = None
    pages = None
    if parent_chunks is not None:
        chunks = list(parent_chunks) + _write_chunks(
            table, files, stats, blooms, carried, stats_cols)
        pages = list(parent_pages or [])
    elif len(files) >= _MANIFEST_CHUNK_FILES:
        chunks = _write_chunks(table, files, stats, blooms, carried,
                               stats_cols)
        pages = []
    if chunks is not None:
        # fold a long descriptor tail into immutable pages; below the
        # threshold the core keeps the flat pre-r7 `chunks` shape
        pages, chunks = _fold_pages(table, pages, chunks)
    manifest = {
        "snapshot": name,
        "parent": parent,
        "rows": rows,
        "files": files,
        "reused_files": reused,
        "txn_id": txn_id,
        "op": op,
        "new_files": new_files if new_files is not None else files,
        "schema": (json.dumps(schema.jsonValue())
                   if schema is not None else None),
        "stats": stats,
        "stats_cols": stats_cols,
        "blooms": blooms,
        "bloom_cols": bloom_cols,
        "file_seq": {f: carried[f] for f in files},
        "delete_files": stamped_dels,
        "partition_spec": partition_spec,
    }
    if field_ids:
        manifest["field_ids"] = field_ids
        manifest["next_field_id"] = next_id
    if schema_meta.get("renames"):
        manifest["renames"] = schema_meta["renames"]
    if retired:
        manifest["retired"] = retired
    if chunks is not None:
        # per-file metadata lives in the sidecars; the core stays
        # small no matter how many files the snapshot names. The
        # "chunks" key is ALWAYS present on a chunked core (possibly
        # an empty tail beside "pages") — every `"chunks" in core`
        # routing check relies on that invariant.
        for key in ("files", "stats", "blooms", "file_seq"):
            del manifest[key]
        manifest["chunks"] = chunks
        if pages:
            manifest["pages"] = pages
    _atomic_write_json(_manifest_path(table, name), manifest)

    if ref is None:
        pointer = _pointer_path(table)
    else:  # staged commit: flip the BRANCH ref, never CURRENT —
        pointer = _ref_path(table, ref)  # the write-audit-publish flow
        os.makedirs(os.path.dirname(pointer), exist_ok=True)
    _atomic_write_text(pointer, name)  # the commit: atomic rename
    return name


def _footer_rows_and_stats(table: str, files: list[str],
                           stats_cols: list[str] | None
                           ) -> tuple[int, dict | None] | None:
    """Commit-metadata fast path for ``_scan_new_files`` /
    ``_count_pool_rows``: read the just-landed files' parquet FOOTERS
    (kilobytes each, O(commit) files — the Iceberg commit shape)
    instead of re-scanning the data with a second Spark job. Row
    counts are exact by the format; per-column [min, max] come from
    the footer statistics, which Spark's writer records UNTRUNCATED
    (verified: 500-char string bounds round-trip exactly), so the
    recorded bounds are value-identical to the data-scan path for
    every supported type. Returns None — caller falls back to the
    Spark scan — whenever any file/column leaves the provably-
    identical envelope: decimal logical types (pyarrow cannot extract
    their stats), INT96 timestamps (no stats in the format), or
    missing min/max on a column that has non-null values. NaN bounds
    and all-NULL columns are mapped to exactly the scan path's
    ``_stat_bounds`` contract (unstatable → omitted; all-NULL →
    ``[None, None]`` skippable)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with repo
        return None
    root = _data_root(table)
    rows_total = 0
    per_file: dict[str, dict] = {}
    cols: list[str] | None = None
    for name in files:
        try:
            md = pq.ParquetFile(os.path.join(root, name)).metadata
        except Exception:
            return None  # unreadable/remote: let Spark handle it
        rows_total += md.num_rows
        if not stats_cols:
            continue
        if cols is None:
            # same filter as the scan path: requested columns present
            # in the landed schema (all files of one landing share it);
            # nested leaves never match a top-level stats col name
            leaf_names = {md.row_group(0).column(i).path_in_schema
                          for i in range(md.num_columns)} \
                if md.num_row_groups else set()
            if md.num_row_groups == 0:
                sch = pq.ParquetFile(
                    os.path.join(root, name)).schema_arrow
                leaf_names = set(sch.names)
            cols = [c for c in stats_cols if c in leaf_names]
        if not cols:  # none present: the scan path returns bare {}
            continue
        entry: dict = {}
        for c in cols:
            lo = hi = None
            nonnull = 0
            for gi in range(md.num_row_groups):
                rg = md.row_group(gi)
                st = None
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    if col.path_in_schema == c:
                        try:
                            st = col.statistics
                        except Exception:
                            return None  # e.g. decimal: no fast stats
                        break
                if st is None:
                    return None  # INT96 / statless writer: fall back
                if st.num_values:
                    nonnull += st.num_values
                    if not st.has_min_max:
                        return None  # scan would record bounds here
                    try:  # .min/.max DECODE the stat: decimal & co.
                        glo, ghi = st.min, st.max  # raise right here
                    except Exception:
                        return None
                    try:
                        lo = (glo if lo is None or _stat_lt(glo, lo)
                              else lo)
                        hi = (ghi if hi is None or _stat_lt(hi, ghi)
                              else hi)
                    except _UnorderableStats:
                        return None  # can't prove covering bounds
            if nonnull == 0:
                entry[c] = [None, None]  # all-NULL: skippable
                continue
            bounds = _stat_bounds(lo, hi)
            if bounds is not None:  # NaN/unknown: omit, like the scan
                entry[c] = bounds
        per_file[name] = entry
    if stats_cols and cols:
        for name in files:  # zero-row files: provably matchless
            per_file.setdefault(name, {c: [None, None] for c in cols})
    return rows_total, (per_file if stats_cols is not None else None)


class _UnorderableStats(Exception):
    """Footer min/max values across row groups could not be ordered —
    the fold cannot prove a covering [lo, hi], so the whole landing
    must fall back to the Spark scan (ADVICE r11: silently keeping the
    first group's bound could record a NON-covering range and wrongly
    prune a file)."""


def _stat_lt(a, b) -> bool:
    """Ordering for footer min/max folding across row groups, matching
    Spark's column ordering for the supported stat types (numerics,
    strings codepoint-wise, dates/timestamps chronologically; bools).
    Mixed/unorderable values raise — ``_footer_rows_and_stats`` then
    returns None and the caller re-derives bounds from a Spark scan,
    the same safe exit every other envelope violation takes.
    Single-row-group files (the common landing shape) never reach a
    comparison."""
    try:
        return a < b
    except TypeError:
        raise _UnorderableStats(f"{type(a).__name__} vs "
                                f"{type(b).__name__}") from None


def _count_pool_rows(spark: SparkSession, table: str,
                     files: list[str]) -> int:
    if not files:
        return 0
    fast = _footer_rows_and_stats(table, files, None)
    if fast is not None:
        return fast[0]
    root = _data_root(table)
    return spark.read.parquet(
        *(os.path.join(root, f) for f in files)).count()


def _scan_new_files(spark: SparkSession, table: str, files: list[str],
                    stats_cols: list[str] | None
                    ) -> tuple[int, dict | None]:
    """One pass over the JUST-LANDED pool files: total rows plus, when
    ``stats_cols`` is set, per-file [min, max] for each stat column —
    the same scan that row accounting already pays, so manifest stats
    are free metadata. Cost is bounded by the commit's own files,
    never the table."""
    if not files:
        return 0, ({} if stats_cols else None)
    fast = _footer_rows_and_stats(table, files, stats_cols)
    if fast is not None:  # footer metadata: zero Spark jobs
        return fast
    root = _data_root(table)
    df = spark.read.parquet(*(os.path.join(root, f) for f in files))
    cols = [c for c in (stats_cols or []) if c in df.columns]
    if not cols:
        return df.count(), (None if stats_cols is None else {})
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"_lo{i}"), F.max(c).alias(f"_hi{i}")]
    per_file = (
        df.groupBy(F.input_file_name().alias("_file"))
        .agg(*aggs).collect()  # one row per landed file: bounded
    )
    rows, stats = 0, {}
    for r in per_file:
        name = os.path.basename(r["_file"])
        rows += r["_rows"]
        entry = {}
        for i, c in enumerate(cols):
            bounds = _stat_bounds(r[f"_lo{i}"], r[f"_hi{i}"])
            if bounds is not None:  # unstatable (NaN/unknown type):
                entry[c] = bounds   # omit -> file always scanned
        stats[name] = entry
    for name in files:  # zero-row files form no group: provably
        if name not in stats:  # matchless, mark them skippable
            stats[name] = {c: [None, None] for c in cols}
    return rows, stats


#: Integral widening chain: any type reads losslessly as any type to
#: its right, and the Parquet vectorized reader up-casts the narrower
#: physical encoding at scan time (verified for Spark 4.1: INT32 file
#: under a LONG read schema just works; the reverse throws
#: PARQUET_COLUMN_DATA_TYPE_MISMATCH).
_INT_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}
#: Decimal integer digits needed to hold each integral type's range.
_INT_DIGITS = {"byte": 3, "short": 5, "integer": 10, "long": 19}


def _widened_type(a, b):
    """The common widened type of two column types, or None when they
    are not widening-compatible. Only promotions the Parquet reader
    can perform AT SCAN TIME on existing narrow files qualify — the
    whole point is that widening is a metadata-only commit, no file
    rewrite:

    * integral chain byte < short < int < long;
    * float -> double, and byte/short/int -> double (exact in a
      53-bit mantissa; long -> double is LOSSY and refused);
    * decimal growth where the wider type dominates (both the integer
      digits p-s and the scale s are >= the narrower's — DuckDB/Delta
      type-widening contract);
    * integral -> decimal with enough integer digits for the type's
      full range.
    """
    if a == b:
        return a
    an, bn = a.typeName(), b.typeName()
    if an in _INT_WIDTH and bn in _INT_WIDTH:
        return a if _INT_WIDTH[an] >= _INT_WIDTH[bn] else b
    floats = {"float", "double"}
    if an in floats and bn in floats:
        return a if an == "double" else b
    for x, y in ((a, b), (b, a)):
        xn, yn = x.typeName(), y.typeName()
        if xn == "double" and _INT_DIGITS.get(yn, 99) <= 15:
            return x  # byte/short/int fit a double exactly
        if xn == "decimal" and yn in _INT_DIGITS:
            if x.precision - x.scale >= _INT_DIGITS[yn]:
                return x
    if an == "decimal" and bn == "decimal":
        for x, y in ((a, b), (b, a)):
            if (x.precision - x.scale >= y.precision - y.scale
                    and x.scale >= y.scale):
                return x
    return None


def _merge_schema(parent: StructType | None,
                  incoming: StructType,
                  retired: dict | None = None) -> StructType:
    """Evolve the table schema: columns new to the table append
    (nullable — old files project NULL for them); an existing column
    may WIDEN along `_widened_type`'s lattice (int→long, decimal
    precision growth, float→double), which is metadata-only — the
    narrow physical files stay and the Parquet reader up-casts them
    under the widened read schema. A batch NARROWER than the table is
    accepted unchanged (its files up-cast the same way). Any other
    type change raises SchemaEvolutionError."""
    if parent is None:
        return incoming
    for f in incoming.fields:
        if f.name in (retired or {}):
            raise SchemaEvolutionError(
                f"column name {f.name!r} was retired (field id "
                f"{retired[f.name]}, renamed away or dropped) — "
                "reusing it would leak old-file data under a "
                "different column identity; pick another name")
    have = {f.name: f for f in parent.fields}
    pos = {f.name: i for i, f in enumerate(parent.fields)}
    out = list(parent.fields)
    for f in incoming.fields:
        prev = have.get(f.name)
        if prev is None:
            out.append(StructField(f.name, f.dataType, True))
        elif prev.dataType != f.dataType:
            wide = _widened_type(prev.dataType, f.dataType)
            if wide is not None:
                if wide != prev.dataType:  # widen in place, nullable:
                    out[pos[f.name]] = StructField(  # reads of either
                        f.name, wide, True)  # era must allow NULL
                continue
            raise SchemaEvolutionError(
                f"column {f.name!r}: table has {prev.dataType}, "
                f"batch has {f.dataType} — not widening-compatible "
                "(legal: int chain, float→double, decimal growth)")
    return StructType(out)


def _carry_stats(parent_man: dict, untouched: list[str],
                 new_stats: dict | None) -> dict | None:
    """Manifest stats for a COW commit: reused files keep their
    already-recorded entries; freshly-landed files bring theirs."""
    old = parent_man.get("stats") or {}
    carried = {f: old[f] for f in untouched if f in old}
    if new_stats:
        carried.update(new_stats)
    return carried or None


# ---------------------------------------------------------------------------
# Hidden partitioning (Iceberg-style partition spec, r5 verdict #6):
# a TABLE-LEVEL declaration of how landings should cluster, recorded
# in the manifest and inherited by every later commit — so new writers
# get pruning-friendly layout automatically, without caller-side
# sinks/layout calls, and readers keep filtering on the SOURCE columns
# (the "hidden" in hidden partitioning: no derived column leaks into
# the schema or the query).
#
# Transform semantics, Spark-first: each landing repartitions by the
# transform values and sorts within partitions by the source columns.
# Value-grouping transforms (identity/days/hours/months/truncate) then
# yield files whose per-file [min, max] spans are TIGHT on the source
# column, so the EXISTING stats machinery prunes range and point
# predicates — the spec auto-enrolls the column in ``stats_cols``.
# ``bucket(n, col)`` colocates equal keys without ordering them, so
# span pruning can't help; the spec instead auto-enrolls the column in
# ``bloom_cols`` — each file's bloom covers ~1/n of the keyspace and
# point lookups prune via the per-file blooms and the chunk-level
# .blm matrices. (A driver-side bucket-value translation of equality
# predicates — Iceberg's exact route — would need Spark's murmur3 on
# the driver; the bloom route gets the same pruning without it.)
# ---------------------------------------------------------------------------

def _parse_partition_spec(spec: list[str]) -> list[dict]:
    """``["days(ts)", "bucket(16, k)", "region"]`` → descriptors.
    Bare names are identity transforms."""
    import re

    out = []
    for s in spec:
        s = s.strip()
        m = re.fullmatch(r"(\w+)\s*\(([^)]*)\)", s)
        if m is None:
            out.append({"transform": "identity", "col": s})
            continue
        name = m.group(1)
        args = [a.strip() for a in m.group(2).split(",")]
        if name in ("days", "hours", "months") and len(args) == 1:
            out.append({"transform": name, "col": args[0]})
        elif name == "identity" and len(args) == 1:
            out.append({"transform": "identity", "col": args[0]})
        elif name == "bucket" and len(args) == 2:
            out.append({"transform": "bucket", "n": int(args[0]),
                        "col": args[1]})
        elif name == "truncate" and len(args) == 2:
            out.append({"transform": "truncate", "w": int(args[0]),
                        "col": args[1]})
        elif name == "zorder" and len(args) >= 2:
            out.append({"transform": "zorder", "cols": args})
        else:
            raise ValueError(
                f"unsupported partition transform {s!r} (supported: "
                "identity, days, hours, months, bucket(n, col), "
                "truncate(w, col), zorder(a, b, ...))")
    if (any(e["transform"] == "zorder" for e in out)
            and len(out) > 1):
        raise ValueError(
            "zorder is a whole-layout transform — declare it alone")
    return out


def _spec_source_cols(e: dict) -> list[str]:
    return e["cols"] if e["transform"] == "zorder" else [e["col"]]


def _partition_exprs(spec: list[dict]) -> list[Column]:
    exprs = []
    for e in spec:
        c = F.col(e["col"])
        t = e["transform"]
        if t == "identity":
            exprs.append(c)
        elif t == "days":
            exprs.append(F.to_date(c))
        elif t == "hours":
            exprs.append(F.date_trunc("hour", c))
        elif t == "months":
            exprs.append(F.trunc(c, "month"))
        elif t == "bucket":
            exprs.append(F.pmod(F.hash(c), F.lit(e["n"])))
        elif t == "truncate":
            exprs.append(F.floor(c / e["w"]) * e["w"])
    return exprs


def _cluster_to_spec(df: DataFrame, spec: list[dict] | None,
                     n_partitions: int | None = None) -> DataFrame:
    """Cluster a landing batch to the table's partition spec: RANGE-
    repartition by the transform values — consecutive transform tuples
    land in the same or adjacent files, so per-file [min, max] spans
    on the leading source columns come out tight (the property span
    pruning feeds on), unlike hash clustering which mixes distant
    days into every file. AQE still coalesces small batches, so a
    100-row append doesn't shatter into shuffle-partition-count files.
    Within partitions, rows sort by the source columns. Columns the
    batch lacks (schema evolution: pre-spec writers) drop out of the
    clustering rather than failing the landing."""
    if not spec:
        return df
    present = {f.name for f in df.schema.fields}
    live = [e for e in spec
            if all(c in present for c in _spec_source_cols(e))]
    if not live:
        return df
    if live[0]["transform"] == "zorder":
        # Morton-interleaved multi-column clustering: per-batch
        # quantile bounds (one approxQuantile pass over the landing's
        # own rows — batch-bound, like every z-order implementation),
        # then a range shuffle on the interleaved key. Every file gets
        # a tight [min, max] on EVERY participating column at once.
        from mc_ns_data_pipeline_spark.sinks.layout import (
            zorder_cluster,
        )

        return zorder_cluster(df, live[0]["cols"],
                              n_partitions=n_partitions)
    exprs = _partition_exprs(live)
    out = (df.repartitionByRange(n_partitions, *exprs)
           if n_partitions is not None
           else df.repartitionByRange(*exprs))
    return out.sortWithinPartitions(*[e["col"] for e in live])


def _spec_auto_cols(spec: list[dict] | None,
                    stats_cols: list[str] | None,
                    bloom_cols: list[str] | None
                    ) -> tuple[list[str] | None, list[str] | None]:
    """The spec's automatic metadata opt-ins: value-grouping transforms
    enroll their source column in stats (span pruning), bucket enrolls
    in blooms (membership pruning)."""
    if not spec:
        return stats_cols, bloom_cols
    stats = list(stats_cols or [])
    blooms = list(bloom_cols or [])
    for e in spec:
        if e["transform"] == "bucket":
            if e["col"] not in blooms:
                blooms.append(e["col"])
        else:
            for c in _spec_source_cols(e):
                if c not in stats:
                    stats.append(c)
    return (stats or None), (blooms or None)


def set_partition_spec(table: str, spec: list[str] | None,
                       wait_s: float = 60.0) -> str:
    """SPEC EVOLUTION: redefine (or drop, ``spec=None``) the table's
    hidden partitioning without rewriting a byte — a metadata-only
    commit (op ``set-spec``) naming the parent's exact file set.
    Future landings cluster to the new spec and its source columns
    auto-enroll in stats/blooms; EXISTING files keep their old layout,
    which stays sound because pruning reads per-file stats/blooms,
    never the spec (files lacking an entry for a newly-enrolled
    column simply always scan). The next ``compact_snapshot`` /
    ``optimize_table`` re-clusters the whole table to the new spec —
    Iceberg's partition-spec-evolution contract on the
    manifest-pointer pattern."""
    parsed = _parse_partition_spec(spec) if spec else None
    with table_lease(table, owner="set_partition_spec",
                     wait_s=wait_s):
        parent = current_snapshot(table)
        if parent is None:
            raise NoCurrentSnapshotError(table)
        core = _read_core(table, parent)
        schema = _schema_from_man(core)
        if parsed and schema is not None:
            fields = {f.name for f in schema.fields}
            missing = [c for e in parsed
                       for c in _spec_source_cols(e) if c not in fields]
            if missing:
                raise ValueError(
                    f"partition spec columns not in table schema: "
                    f"{missing}")
        stats_cols, bloom_cols = _spec_auto_cols(
            parsed, core.get("stats_cols"), core.get("bloom_cols"))
        if bloom_cols and schema is not None:
            _check_bloom_cols(schema, bloom_cols)
        common = dict(
            op="set-spec", schema=schema,
            stats_cols=stats_cols, bloom_cols=bloom_cols,
            delete_files=core.get("delete_files"),
            partition_spec=parsed,
        )
        if "chunks" in core:
            return _publish(table, [], core["rows"], parent,
                            _chunk_file_count(core), new_files=[],
                            parent_chunks=core["chunks"],
                            parent_pages=core.get("pages"), **common)
        man = _materialize(table, core)
        return _publish(table, man["files"], man["rows"], parent,
                        len(man["files"]), new_files=[],
                        stats=man.get("stats"),
                        blooms=man.get("blooms"),
                        file_seq=man.get("file_seq"), **common)


def _publish_schema_change(table: str, core: dict, parent: str,
                           schema: StructType, schema_meta: dict,
                           stats_cols, bloom_cols) -> str:
    """Metadata-only ``set-schema`` commit naming the parent's exact
    file set — the set_partition_spec publish shape. Caller holds the
    lease and has validated."""
    common = dict(
        op="set-schema", schema=schema, schema_meta=schema_meta,
        stats_cols=stats_cols, bloom_cols=bloom_cols,
        delete_files=core.get("delete_files"),
    )
    if "chunks" in core:
        return _publish(table, [], core["rows"], parent,
                        _chunk_file_count(core), new_files=[],
                        parent_chunks=core["chunks"],
                        parent_pages=core.get("pages"), **common)
    man = _materialize(table, core)
    return _publish(table, man["files"], man["rows"], parent,
                    len(man["files"]), new_files=[],
                    stats=man.get("stats"), blooms=man.get("blooms"),
                    file_seq=man.get("file_seq"), **common)


def _schema_change_guard(table: str, core: dict, col: str) -> None:
    """Shared rename/drop preconditions on the column."""
    if any(d.get("key") == col
           for d in core.get("delete_files") or []):
        raise SchemaEvolutionError(
            f"{table}: column {col!r} is the key of pending "
            "merge-on-read delete masks — run compact/optimize to "
            "apply them first")
    spec_cols = {c for e in core.get("partition_spec") or []
                 for c in _spec_source_cols(e)}
    if col in spec_cols:
        raise SchemaEvolutionError(
            f"{table}: column {col!r} is a partition-spec source — "
            "evolve the spec (set_partition_spec) first")


def rename_column(table: str, old: str, new: str,
                  wait_s: float = 60.0) -> str:
    """SCHEMA EVOLUTION beyond add/widen: rename a column without
    rewriting a byte (VERDICT r08 #5 — the Iceberg field-id shape).

    A metadata-only ``set-schema`` commit: the column's stable field
    id moves to the new name, the old name joins the manifest's
    ``renames`` projection chain (old files keep their physical name;
    reads coalesce the chain back to the current name — see
    `_read_pool`) and the ``retired`` fence (re-adding the old name
    would leak old-file data under a different column identity, so it
    is refused until a full refresh or a compaction — both
    rewrite every live file under current names — clears the fence).
    Stats/bloom
    opt-ins follow the rename; per-file stats recorded under the old
    name keep pruning via the same chain (`_prune_from_man`).

    Refused while the column keys pending MOR delete masks or feeds
    the partition spec (apply/evolve those first) — the two places a
    stale name would change semantics rather than just projection."""
    with table_lease(table, owner=f"rename_column:{old}",
                     wait_s=wait_s):
        parent = current_snapshot(table)
        if parent is None:
            raise NoCurrentSnapshotError(table)
        core = _read_core(table, parent)
        schema = _schema_from_man(core)
        if schema is None:
            raise SchemaEvolutionError(
                f"{table}: pre-schema manifest cannot evolve names")
        names = [f.name for f in schema.fields]
        if old not in names:
            raise SchemaEvolutionError(
                f"{table}: no column {old!r} (have {names})")
        if new in names:
            raise SchemaEvolutionError(
                f"{table}: column {new!r} already exists")
        retired = dict(core.get("retired") or {})
        if new in retired:
            raise SchemaEvolutionError(
                f"{table}: column name {new!r} was retired (field id "
                f"{retired[new]}) — pick another name (a full "
                "refresh or compaction clears the fence)")
        _schema_change_guard(table, core, old)

        field_ids = dict(core.get("field_ids") or {})
        fid = field_ids.pop(old, None)
        if fid is None:  # legacy manifest: assign on the fly
            fid = (max(field_ids.values()) + 1) if field_ids else 1
        field_ids[new] = fid
        retired[old] = fid
        renames = dict(core.get("renames") or {})
        renames[new] = [old, *renames.pop(old, [])]
        new_fields = [
            StructField(new, f.dataType, f.nullable)
            if f.name == old else f
            for f in schema.fields
        ]
        swap = lambda cols: ([new if c == old else c for c in cols]  # noqa: E731
                             if cols else cols)
        return _publish_schema_change(
            table, core, parent, StructType(new_fields),
            {"field_ids": field_ids,
             "next_field_id": core.get("next_field_id"),
             "renames": renames, "retired": retired},
            swap(core.get("stats_cols")), swap(core.get("bloom_cols")))


def drop_column(table: str, col: str, wait_s: float = 60.0) -> str:
    """SCHEMA EVOLUTION: hide a column without rewriting a byte — a
    metadata-only ``set-schema`` commit whose schema omits the column
    (explicit-schema pool scans simply never read it; the bytes stay
    in place for time travel, which reads each snapshot under its own
    manifest schema). The name joins the ``retired`` fence with its
    field id, so re-adding it — which would resurrect old-file values
    under a NEW column identity — is refused until a full refresh
    rewrites the live files. Stats/bloom opt-ins drop the column;
    same preconditions as rename (no pending MOR masks keyed on it,
    not a partition-spec source)."""
    with table_lease(table, owner=f"drop_column:{col}",
                     wait_s=wait_s):
        parent = current_snapshot(table)
        if parent is None:
            raise NoCurrentSnapshotError(table)
        core = _read_core(table, parent)
        schema = _schema_from_man(core)
        if schema is None:
            raise SchemaEvolutionError(
                f"{table}: pre-schema manifest cannot evolve names")
        names = [f.name for f in schema.fields]
        if col not in names:
            raise SchemaEvolutionError(
                f"{table}: no column {col!r} (have {names})")
        if len(names) == 1:
            raise SchemaEvolutionError(
                f"{table}: cannot drop the last column")
        _schema_change_guard(table, core, col)

        field_ids = dict(core.get("field_ids") or {})
        fid = field_ids.pop(col, None)
        retired = dict(core.get("retired") or {})
        retired[col] = fid if fid is not None else -1
        renames = dict(core.get("renames") or {})
        renames.pop(col, None)  # its projection chain dies with it
        keep = lambda cols: ([c for c in cols if c != col]  # noqa: E731
                             or None) if cols else cols
        return _publish_schema_change(
            table, core, parent,
            StructType([f for f in schema.fields if f.name != col]),
            {"field_ids": field_ids,
             "next_field_id": core.get("next_field_id"),
             "renames": renames, "retired": retired},
            keep(core.get("stats_cols")), keep(core.get("bloom_cols")))


def write_snapshot(df: DataFrame, table: str,
                   stats_cols: list[str] | None = None,
                   bloom_cols: list[str] | None = None,
                   txn_id: str | None = None,
                   partition_spec: list[str] | None = None) -> str:
    """Full-refresh publish (K8 semantics, reader-safe): the new state
    becomes visible in one atomic pointer flip; in-flight readers keep
    the old snapshot's files, which this write never touches.

    ``stats_cols`` opts the table into manifest column stats: per-file
    [min, max] recorded at publish (same scan row accounting pays) and
    inherited by every later append/merge/compact commit, enabling
    metadata-only file pruning in ``read_snapshot(predicates=...)``
    and the merge locate step. ``bloom_cols`` (string/integral
    columns) adds per-file equality blooms — the point-lookup
    complement for UNCLUSTERED columns, where every file's [min, max]
    spans the keyspace and range stats prune nothing.

    ``partition_spec`` declares HIDDEN PARTITIONING (see the section
    comment above): e.g. ``["days(ts)", "bucket(16, user_id)"]``.
    This landing and every inheriting append/MOR-upsert auto-cluster
    to it, and the source columns auto-enroll in stats/blooms — new
    writers never call sinks/layout, pruning just works. A full
    refresh REDEFINES the spec (omit to drop it).

    OPTIMISTIC commit, conflict-on-anything (r7): the landing and the
    stats/bloom scans run with NO lease held; the lease wraps only the
    metadata publish. Unlike every other verb, a refresh cannot REBASE
    over a moved head — its semantics are "the table now equals this
    df as of the state the caller saw", and an overwrite published
    over interposed commits would silently ORPHAN their data (the
    lost-update class rebasing exists to prevent). So if CURRENT moved
    between staging start and publish, this raises
    ``CommitConflictError`` and the staged files become vacuum
    orphans; the caller re-reads the table state and decides whether
    the refresh still applies. This is snapshot-isolation honesty, not
    a missing feature — a refresh that auto-retried over an interposed
    append would destroy that append's rows by design."""
    os.makedirs(table, exist_ok=True)
    spec = (_parse_partition_spec(partition_spec)
            if partition_spec else None)
    if spec:
        fields = {f.name: f.dataType for f in df.schema.fields}
        missing = [c for e in spec for c in _spec_source_cols(e)
                   if c not in fields]
        if missing:
            raise ValueError(
                f"partition spec columns not in schema: {missing}")
        numeric = ("byte", "short", "integer", "long", "float",
                   "double", "decimal")
        bad = [c for e in spec if e["transform"] == "zorder"
               for c in e["cols"]
               if not fields[c].typeName().startswith(numeric)]
        if bad:
            raise ValueError(
                f"zorder columns must be numeric (quantile "
                f"bucketing): {bad}")
        stats_cols, bloom_cols = _spec_auto_cols(spec, stats_cols,
                                                 bloom_cols)
        df = _cluster_to_spec(df, spec)
    if bloom_cols:
        _check_bloom_cols(df.schema, bloom_cols)
    base = current_snapshot(table)  # the state this refresh replaces
    if txn_id is not None:
        applied = _txn_already_applied(table, txn_id)
        if applied is not None:
            return applied
    # stage lease-free: land + scan are the expensive part
    files = _land_in_pool(df, table)
    rows, stats = _scan_new_files(df.sparkSession, table, files,
                                  stats_cols)
    blooms = _scan_blooms(df.sparkSession, table, files,
                          bloom_cols, df.schema)
    with table_lease(table, owner="write_snapshot"):
        if txn_id is not None:
            applied = _txn_already_applied(table, txn_id)
            if applied is not None:
                return applied  # replay raced us in; files = orphans
        head = current_snapshot(table)
        if head != base:
            raise CommitConflictError(
                f"full refresh of {table} staged against "
                f"{base or '<empty>'} but CURRENT is now {head}: an "
                f"overwrite would orphan the interposed commits' data."
                f" Re-read the table and re-stage if the refresh "
                f"still applies (staged files are vacuum orphans).")
        return _publish(table, files, rows, head, 0,
                        txn_id=txn_id,
                        op="overwrite", schema=df.schema, stats=stats,
                        stats_cols=stats_cols, blooms=blooms,
                        bloom_cols=bloom_cols, partition_spec=spec)


def _txn_already_applied(table: str, txn_id: str,
                         start: str | None = None) -> str | None:
    """Walk the manifest parent chain from ``start`` (default:
    CURRENT — pass a branch head when staging) looking for a commit
    stamped with `txn_id`; returns that snapshot's name, or None. The
    walk stops at a vacuumed-away parent — retention (vacuum `keep`)
    must therefore cover the longest plausible replay gap, which for
    streaming retries (the next micro-batch after a crash) is one
    commit."""
    snap = start if start is not None else current_snapshot(table)
    while snap is not None:
        try:
            man = _read_core(table, snap)
        except FileNotFoundError:
            return None
        if man.get("txn_id") == txn_id:
            return snap
        snap = man.get("parent")
    return None


def append_snapshot(df: DataFrame, table: str,
                    txn_id: str | None = None,
                    branch: str | None = None) -> str:
    """Zero-rewrite append (K5 semantics, reader-safe): land the new
    rows as fresh pool files and publish a manifest that is the parent
    file list PLUS the new files — nothing existing is read or
    rewritten, so micro-batch/streaming landers pay only for their own
    rows (the foreachBatch sink shape at 100 TB).

    Exactly-once under micro-batch replay: pass a deterministic
    ``txn_id`` (e.g. ``f"{query_name}:{batch_id}"`` from foreachBatch)
    and a replayed batch whose commit already published is a no-op
    returning the existing snapshot — the Delta txnAppId/txnVersion
    idempotence contract, here as a manifest stamp. A batch that
    crashed BEFORE its pointer flip left only unreferenced pool files
    (vacuum reaps them) and the replay commits normally.

    OPTIMISTIC commit: the expensive work (landing files, scanning
    stats/blooms) runs with NO lease held; only the metadata publish
    takes the lease, briefly. An append's files are disjoint from
    every concurrent commit by construction, so if the head moved
    while this writer was landing, the publish simply REBASES onto the
    new head — appended files plus whatever the head now is. Two
    appends, or an append racing a compaction/merge, therefore BOTH
    commit with no lost update (the multi-writer contract; hammer-
    tested in tests/test_versioned_concurrency.py).

    On a CHUNKED table (manifests past `_MANIFEST_CHUNK_FILES`) the
    append never touches the parent's per-file metadata at all: it
    writes one new sidecar for its own files and the core manifest
    reuses the parent's chunk descriptors — commit metadata stays
    O(commit) at any table size.

    ``branch`` stages the commit on a NAMED REF instead of CURRENT
    (write-audit-publish): the first staged commit forks from CURRENT,
    later ones extend the branch; table readers never see it until
    ``publish_ref`` fast-forwards CURRENT to the audited head. A
    discarded branch (``delete_ref``) leaves only vacuum orphans."""
    os.makedirs(table, exist_ok=True)
    spark = df.sparkSession

    _head = functools.partial(_branch_head, table, branch)

    if txn_id is not None:  # cheap pre-check: a replayed batch skips
        applied = _txn_already_applied(table, txn_id,  # the landing
                                       start=_head())
        if applied is not None:
            return applied
    base = _head()
    base_man = _read_core(table, base) if base else {}
    stats_cols = base_man.get("stats_cols")
    bloom_cols = base_man.get("bloom_cols")
    _merge_schema(_schema_from_man(base_man), df.schema,
                  base_man.get("retired"))  # fail early
    new_files = _land_in_pool(
        _cluster_to_spec(df, base_man.get("partition_spec")), table)
    new_rows, new_stats = _scan_new_files(spark, table, new_files,
                                          stats_cols)
    new_blooms = _scan_blooms(spark, table, new_files, bloom_cols,
                              df.schema)
    with table_lease(table, owner="append_snapshot",
                     wait_s=_COMMIT_WAIT_S):
        if txn_id is not None:  # decisive re-check under the lease:
            applied = _txn_already_applied(table, txn_id,
                                           start=_head())
            if applied is not None:  # lost a replay race after landing
                return applied  # — this attempt's files are orphans
        parent = _head()
        parent_core = (base_man if parent == base
                       else _read_core(table, parent) if parent
                       else {})
        if parent != base:  # rebase onto the moved head: stat/bloom
            # opt-in can only have changed via a full write_snapshot,
            # so recompute this batch's metadata iff the columns moved
            if sorted(parent_core.get("stats_cols") or []) != sorted(
                    stats_cols or []):
                stats_cols = parent_core.get("stats_cols")
                _, new_stats = _scan_new_files(spark, table, new_files,
                                               stats_cols)
            if sorted(parent_core.get("bloom_cols") or []) != sorted(
                    bloom_cols or []):
                bloom_cols = parent_core.get("bloom_cols")
                new_blooms = _scan_blooms(spark, table, new_files,
                                          bloom_cols, df.schema)
        schema = _merge_schema(_schema_from_man(parent_core), df.schema,
                               parent_core.get("retired"))
        if "chunks" in parent_core:  # O(commit): reuse parent chunks
            return _publish(
                table, new_files,
                parent_core.get("rows", 0) + new_rows, parent,
                _chunk_file_count(parent_core), txn_id=txn_id,
                op="append", new_files=new_files, schema=schema,
                stats=new_stats, stats_cols=stats_cols,
                blooms=new_blooms, bloom_cols=bloom_cols,
                delete_files=parent_core.get("delete_files"),
                parent_chunks=parent_core["chunks"],
                parent_pages=parent_core.get("pages"), ref=branch)
        parent_man = _materialize(table, parent_core)
        old_files = parent_man.get("files", [])
        return _publish(table, old_files + new_files,
                        parent_man.get("rows", 0) + new_rows, parent,
                        len(old_files), txn_id=txn_id, op="append",
                        new_files=new_files, schema=schema,
                        stats=_carry_stats(parent_man, old_files,
                                           new_stats),
                        stats_cols=stats_cols,
                        blooms=_carry_blooms(parent_man, old_files,
                                             new_blooms),
                        bloom_cols=bloom_cols,
                        file_seq=parent_man.get("file_seq"),
                        delete_files=parent_man.get("delete_files"),
                        ref=branch)


def compact_snapshot(spark: SparkSession, table: str,
                     sort_col: str | None = None,
                     target_files: int = 1) -> str:
    """Maintenance publish: rewrite the current snapshot's (typically
    many small, append-landed) files into ``target_files``
    range-clustered ones and publish the result as a NEW snapshot —
    concurrent readers keep scanning the old files throughout, so
    compaction needs no quiesce window (the x97/compact_clustered
    rewrite, made reader-safe by MVCC). With ``sort_col`` the rewrite
    is repartitionByRange + sortWithinPartitions, preserving the
    clustering that zone-map pruning (sinks/layout) depends on.

    Compaction is also where merge-on-read deletes get APPLIED: the
    rewrite reads the delete-masked snapshot, so the new files carry
    only live rows and the published manifest drops the delete files
    (vacuum reaps them with the superseded manifests). ``rows`` is
    already net of MOR decrements — no recount needed.

    OPTIMISTIC commit: the rewrite — the minutes-long part on a big
    table — runs with NO lease held, against the snapshot current when
    compaction started. If the head moved before the publish, the
    commit REBASES over interposed APPENDS and MERGE-ON-READ commits
    (delete-mor / merge-mor): interposed files are disjoint from the
    rewrite's inputs and ride along with their recorded generations;
    base-era masks were applied into the rewrite and drop; masks
    published MID-compaction keep masking the compacted rows because
    the compacted files are stamped at the BASE generation (strict-
    below sequencing does the rest — see the in-body comment). Only an
    interposed COW commit (merge / delete / overwrite / another
    compact) — which rewrote files this rewrite read as inputs —
    raises ``CommitConflictError``; the caller re-runs against the new
    head and the landed files are vacuum orphans. This is the
    streaming-lander-plus-maintenance shape: append or MOR-upsert
    landers keep flowing while OPTIMIZE compacts, and ALL of them
    commit."""
    base = current_snapshot(table)
    if base is None:
        raise NoCurrentSnapshotError(table)
    base_man = read_manifest(table, base)
    cur = read_snapshot(spark, table, base)
    spec = base_man.get("partition_spec")
    if sort_col is not None:
        cur = cur.repartitionByRange(
            target_files, sort_col).sortWithinPartitions(sort_col)
    elif spec:
        # a table with hidden partitioning re-clusters to its spec:
        # compaction must RESTORE the layout pruning depends on, not
        # flatten it into arrival order — and still honor the
        # `target_files` cap (an uncapped range shuffle would emit
        # shuffle-partition-count files: anti-compaction).
        cur = _cluster_to_spec(cur, spec, n_partitions=target_files)
    else:
        cur = cur.coalesce(target_files)
    stats_cols = base_man.get("stats_cols")
    bloom_cols = base_man.get("bloom_cols")
    files = _land_in_pool(cur, table)
    if stats_cols:
        _, stats = _scan_new_files(spark, table, files, stats_cols)
    else:  # row count already known: no discarded full-table scan
        stats = None
    blooms = _scan_blooms(spark, table, files, bloom_cols, cur.schema)
    with table_lease(table, owner="compact_snapshot",
                     wait_s=_COMMIT_WAIT_S):
        head = current_snapshot(table)
        # A compaction rewrites every base-era file under CURRENT
        # column names (interposed appends already wrote current
        # names), so the rename projection chain and the retired-name
        # fence clear — exactly like a full refresh. This also
        # restores parquet filter pushdown on renamed columns (the
        # coalesce chain is only needed while old-name files live).
        meta_clear = {"field_ids": base_man.get("field_ids"),
                      "next_field_id": base_man.get("next_field_id"),
                      "renames": None, "retired": None}
        if head == base:
            return _publish(table, files, base_man["rows"], head, 0,
                            op="compact", schema=cur.schema,
                            stats=stats, stats_cols=stats_cols,
                            blooms=blooms, bloom_cols=bloom_cols,
                            schema_meta=meta_clear)
        head_man = read_manifest(table, head)
        interposed = _rebase_chain(table, head, base)
        bad = [m["snapshot"] for m in interposed
               if m.get("op") not in ("append", "delete-mor",
                                      "merge-mor", "set-spec")]
        if bad:
            raise CommitConflictError(
                f"{table}: commits {bad} interposed while compacting "
                "rewrote files this rewrite read as inputs — re-run "
                "compaction against the current head")
        # Base-era masks were APPLIED into the rewrite and drop;
        # masks published mid-compaction must keep masking the rows
        # the compacted output still carries. Stamping the compacted
        # files at the BASE generation (not this commit's) makes the
        # strict-below rule do exactly that: an interposed delete's
        # seq is above base, so it masks the compacted rows, while
        # the interposed commit's own files keep their recorded seqs
        # and stay exempt from their own masks.
        base_dels = base_man.get("delete_files") or []
        head_dels = head_man.get("delete_files") or []
        base_del_ids = {d["file"] for d in base_dels}
        if not base_del_ids <= {d["file"] for d in head_dels}:
            raise CommitConflictError(  # a mask vanished mid-chain:
                f"{table}: delete masks changed non-additively under "
                "the interposed chain — re-run compaction")
        new_dels = [d for d in head_dels
                    if d["file"] not in base_del_ids]
        base_gen = _gen_of(base)
        base_set = set(base_man["files"])
        inter_files = [f for f in head_man["files"]
                       if f not in base_set]
        head_stats = head_man.get("stats") or {}
        head_blooms = head_man.get("blooms") or {}
        head_seq = head_man.get("file_seq") or {}
        return _publish(
            table, files + inter_files, head_man["rows"], head,
            len(inter_files), op="compact", schema_meta={
                **meta_clear,
                "field_ids": head_man.get("field_ids"),
                "next_field_id": head_man.get("next_field_id")},
            new_files=files, schema=_schema_from_man(head_man),
            stats=(None if stats is None else {
                **stats, **{f: head_stats[f] for f in inter_files
                            if f in head_stats}}),
            stats_cols=head_man.get("stats_cols"),
            blooms=(None if blooms is None else {
                **blooms, **{f: head_blooms[f] for f in inter_files
                             if f in head_blooms}}),
            bloom_cols=head_man.get("bloom_cols"),
            file_seq={**{f: base_gen for f in files},
                      **{f: head_seq[f] for f in inter_files
                         if f in head_seq}},
            delete_files=new_dels or None)


_BLOOM_PROBE_MAX_KEYS = 100_000  # bounded driver collect for probing


def _bounded_key_vals(key: str, keys_df: DataFrame) -> list | None:
    """ONE bounded evaluation of a key batch: its non-NULL values
    when small enough to probe (<= _BLOOM_PROBE_MAX_KEYS) and NaN-free
    — usable for spans AND bloom membership; None when oversized or
    NaN-bearing (Python min/max over NaN lists is order-dependent
    garbage), in which case callers fall back to the Spark-side
    [min, max] aggregate. Shared by the inline candidate cut and the
    chunked predicate builder so the conservatism rules cannot
    drift."""
    rows = (keys_df.filter(F.col(key).isNotNull())
            .limit(_BLOOM_PROBE_MAX_KEYS + 1).collect())
    if len(rows) > _BLOOM_PROBE_MAX_KEYS:
        return None
    vals = [r[0] for r in rows]
    if any(isinstance(v, float) and math.isnan(v) for v in vals):
        return None
    return vals


def _stat_candidates(man: dict, key: str, keys_df: DataFrame
                     ) -> list[str]:
    """The manifest files a key batch can possibly touch — the
    metadata-only planning cut shared by the COW locate step and the
    MOR decrement count. Two passes: [min, max] span intersection
    (clustered layouts), then per-file bloom membership for bounded
    batches (`_bloom_candidates` — the pass that matters on
    UNCLUSTERED layouts, where every span intersects). Without stats
    or blooms on ``key`` every file is a candidate."""
    files = list(man["files"])
    has_stats = key in (man.get("stats_cols") or [])
    has_blooms = key in (man.get("bloom_cols") or [])
    if not (has_stats or has_blooms):
        return files
    # ONE evaluation of the caller's key lineage: the bounded
    # collect serves both the span (computed driver-side) and the
    # bloom probe; oversized/NaN batches fall back to the agg span.
    vals = _bounded_key_vals(key, keys_df)
    if has_stats:
        if vals is not None:
            if not vals:
                return []  # all-NULL batch: equality matches nothing
            lo, hi = min(vals), max(vals)
        else:
            span = keys_df.agg(F.min(key).alias("lo"),
                               F.max(key).alias("hi")).first()
            lo, hi = span["lo"], span["hi"]
        stats = man.get("stats") or {}
        files = [
            f for f in files
            if _file_survives(stats, f, key, ">=", lo)
            and _file_survives(stats, f, key, "<=", hi)
        ]
    if files and has_blooms and vals is not None:
        files = _bloom_candidates(man, key, vals, files)
    return files


def _locate_affected(spark: SparkSession, table: str, man: dict,
                     key: str, keys_df: DataFrame
                     ) -> tuple[list[str], list[str]]:
    """Which of the parent manifest's files contain one of `keys_df`'s
    keys — a key-column + input_file_name scan semi-joined against the
    broadcast key set (column-pruned; footer stats prune clustered
    layouts before rows are read). When the manifest carries stats
    for `key`, files whose [min, max] lies outside the batch's key
    range are excluded from the scan by METADATA alone — on a
    clustered 100 TB table the locate step then opens only the files
    a localized update batch can possibly hit. The scan runs under the
    manifest schema so pre-evolution files (which may lack `key`
    entirely) project NULL instead of breaking inference. Returns
    (affected absolute paths, untouched pool-relative names)."""
    old_files = man["files"]
    root = _data_root(table)
    candidates = _stat_candidates(man, key, keys_df)
    if not candidates:
        return [], list(old_files)
    affected = _affected_scan(spark, table, candidates, key, keys_df,
                              _schema_from_man(man),
                              renames=man.get("renames"))
    untouched = [f for f in old_files if f not in affected]
    return ([os.path.join(root, f) for f in sorted(affected)],
            untouched)


def _affected_scan(spark: SparkSession, table: str,
                   candidates: list[str], key: str,
                   keys_df: DataFrame,
                   schema: StructType | None,
                   renames: dict | None = None) -> set[str]:
    """The exact half of the locate step: which candidate files
    actually contain a batch key (key-column + input_file_name scan,
    broadcast semi join)."""
    affected_uris = {
        r["_file"]
        for r in (
            _read_pool(spark, table, candidates, schema,
                       renames=renames)
            .select(key, F.input_file_name().alias("_file"))
            .join(F.broadcast(keys_df), key, "left_semi")
            .select("_file").distinct().collect()
        )
    }
    return {
        os.path.basename(
            u[len("file://"):] if u.startswith("file://") else u)
        for u in affected_uris
    }


def _key_batch_predicates(key: str, keys_df: DataFrame) -> list[tuple]:
    """A key batch as pruning predicates — the chunked locate's
    candidate cut. Bounded batches become one IN-list (span + batch
    bloom probe apply); oversized or NaN-bearing batches fall back to
    the [min, max] span conjuncts (blooms sit out, stats still cut).
    Conservative-complete either way: a file holding a batch key
    always survives."""
    vals = _bounded_key_vals(key, keys_df)
    if vals is not None:
        # Pre-sorted probe: the stats check bisects (O(log k)/file)
        # instead of scanning the whole batch per file.
        return [(key, "in", _InProbe(vals))]  # empty batch: no match
    span = keys_df.agg(F.min(key).alias("lo"),
                       F.max(key).alias("hi")).first()
    return [(key, ">=", span["lo"]), (key, "<=", span["hi"])]


def _tombstoned_chunks(descs_in: list[dict], by_chunk: dict,
                       affected: set[str]) -> list[dict]:
    """Chunk descriptors with the rewritten files tombstoned out — a
    COW commit on a chunked table touches only the descriptors of
    chunks that held an affected file (their sidecars are REUSED; the
    exclude list hides the replaced members). Spans stay as recorded:
    conservative (a chunk may load needlessly for a dead member's
    range) but never unsound. A chunk whose every member is excluded
    drops entirely."""
    descs = []
    for ch in descs_in:
        hit = affected & set(by_chunk.get(ch["id"], ()))
        if not hit:
            descs.append(ch)
            continue
        excl = set(ch.get("exclude") or ()) | hit
        if len(excl) >= ch["n"]:
            continue
        descs.append({**ch, "exclude": sorted(excl)})
    return descs


def _tombstoned_core(table: str, core: dict, by_chunk: dict,
                     affected: set[str]
                     ) -> tuple[list[dict], list[dict]]:
    """Paged-core tombstoning: pages with no affected member keep
    their REF untouched (zero loads beyond the plan's own); a page
    holding an affected chunk DISSOLVES — its patched descriptors
    re-enter the loose tail and refold at publish. Returns
    (kept page refs, tail descriptors). Membership is decided from
    the page CONTENTS (plan-surviving pages are LRU-cache hits; a
    span-skipped page pays one cached load) — a COW rewrite already
    rewrote data files, so O(pages) 64 KB metadata reads are noise
    next to it."""
    affected_cids = {cid for cid, names in by_chunk.items()
                     if affected & set(names)}
    pages: list[dict] = []
    tail: list[dict] = []
    for pg in core.get("pages") or []:
        members = _read_page(table, pg["id"])
        if any(ch["id"] in affected_cids for ch in members):
            tail += _tombstoned_chunks(members, by_chunk, affected)
        else:
            pages.append(pg)
    tail += _tombstoned_chunks(core.get("chunks") or [], by_chunk,
                               affected)
    return pages, tail


def _cow_rebase_guard(table: str, head: str, base: str,
                      base_core: dict, key: str,
                      preds: list[tuple]) -> None:
    """Validate that an optimistic COW rewrite staged against ``base``
    may publish onto the moved ``head``: every interposed commit must
    be an APPEND whose files PROVABLY contain no batch key — decided
    from manifest metadata alone (the appended files' recorded spans
    and blooms; O(interposed commits), never a data scan).

    Sound because then (a) the affected set located at base is still
    exactly the head's files holding a batch key, (b) no interposed
    mask exists that the freshly-stamped rewritten files would escape,
    and (c) the base-counted affected rows are still live at head.
    Anything else — a key-overlapping (or metadata-less) append, any
    MOR commit, a COW rewrite, a full refresh — raises
    ``CommitConflictError``; the caller re-runs against the new head
    (the staged files become vacuum orphans)."""
    chain = _rebase_chain(table, head, base)
    bad = [m["snapshot"] for m in chain
           if m.get("op") not in ("append", "set-spec")]
    if bad:
        raise CommitConflictError(
            f"{table}: non-append commits {bad} interposed while this "
            "COW rewrite ran — its inputs are stale; re-run against "
            "the current head")
    # per-file metadata of the interposed appends' own files: inline
    # manifests carry it directly; chunked appends carry it in the
    # sidecar(s) they appended (their chunk ids minus their parent's)
    files: list[str] = []
    stats: dict = {}
    blooms: dict = {}
    chain_parents = chain[1:] + [base_core]
    for m, pm in zip(chain, chain_parents):
        new = m.get("new_files") or []
        if not new:
            continue
        files += new
        if "chunks" in m:
            # this commit's own sidecars = descriptors not in its
            # parent. Within an append-only chain descriptors only
            # move tail -> page (folds), never out of a page, so the
            # parent's TAIL ids suffice — pages shared by ref are
            # skipped wholesale, and a fold's new page is walked for
            # the moved-in descs it may carry alongside fresh ones.
            parent_ids = {ch["id"] for ch in pm.get("chunks") or []}
            pm_pages = {pg["id"] for pg in pm.get("pages") or []}
            cand = list(m.get("chunks") or [])
            for pg in m.get("pages") or []:
                if pg["id"] not in pm_pages:
                    cand += _read_page(table, pg["id"])
            for ch in cand:
                if ch["id"] in parent_ids:
                    continue
                side = _read_chunk(table, ch["id"])
                stats.update(side.get("stats") or {})
                blooms.update(side.get("blooms") or {})
        else:
            stats.update({f: v for f, v in
                          (m.get("stats") or {}).items() if f in new})
            blooms.update({f: v for f, v in
                           (m.get("blooms") or {}).items() if f in new})
    if not files:
        return
    sub = {"files": files, "stats": stats, "blooms": blooms,
           "stats_cols": base_core.get("stats_cols"),
           "bloom_cols": base_core.get("bloom_cols")}
    kept = _prune_from_man(sub, preds)["kept"]
    if kept:
        raise CommitConflictError(
            f"{table}: interposed appends may contain this batch's "
            f"keys ({len(kept)} file(s) not ruled out by spans/blooms) "
            "— the located affected set is stale; re-run against the "
            "current head")


def _cow_rewrite_chunked(spark: SparkSession, table: str, core: dict,
                         parent: str, key: str, keys_df: DataFrame,
                         rewrite, op: str, txn_id: str | None,
                         schema: StructType | None) -> str:
    """Shared chunked-manifest COW engine (merge + key delete): the
    candidate cut loads ONLY the sidecars the key batch's span/bloom
    predicates can hit, the rewrite handles just the affected files,
    and the publish reuses every untouched sidecar by id with the
    affected members tombstoned — commit metadata is O(chunks hit),
    never O(table). ``rewrite(affected_df)`` returns the replacement
    rows for the affected files' live rows (None = publish nothing new
    beyond survivors). ``rewrite``'s output MUST be derived from the
    ``affected_df`` it receives: the affected-row count is collected
    as an Observation on that frame by the landing write
    (``_observed_count``), so a plan built from anything else would
    block the commit on ``obs.get`` forever instead of failing loudly.

    OPTIMISTIC (r6): the plan/locate/rewrite/land pipeline runs with
    NO lease held; the publish takes the lease briefly and, if the
    head moved, rebases through `_cow_rebase_guard` — key-disjoint
    appends ride along, anything else conflicts."""
    preds = _key_batch_predicates(key, keys_df)
    plan = _prune_chunked(table, core, preds)
    candidates = plan["kept"]
    parent_schema = _schema_from_man(core)
    affected = (_affected_scan(spark, table, candidates, key, keys_df,
                               parent_schema,
                               renames=core.get("renames"))
                if candidates else set())
    root = _data_root(table)
    hybrid = {**core, "file_seq": plan["file_seq"]}
    stats_cols = core.get("stats_cols")
    bloom_cols = core.get("bloom_cols")
    if affected:
        affected_df, _obs = _observed_count(_read_live(
            spark, table, hybrid,
            [os.path.join(root, f) for f in sorted(affected)],
            parent_schema))
        survivors = rewrite(affected_df)
    else:
        _obs = None
        survivors = rewrite(None)
    if survivors is None:  # nothing to rewrite AND nothing to add
        return parent
    new_files = _land_in_pool(survivors, table)
    # observation collected by the landing write — no second read
    affected_rows = int(_obs.get["rows"]) if _obs is not None else 0
    new_rows, new_stats = _scan_new_files(spark, table, new_files,
                                          stats_cols)
    new_blooms = _scan_blooms(spark, table, new_files, bloom_cols,
                              schema if schema is not None
                              else survivors.schema)
    with table_lease(table, owner=f"{op}:{key}",
                     wait_s=_COMMIT_WAIT_S):
        if txn_id is not None:  # decisive re-check under the lease
            applied = _txn_already_applied(table, txn_id)
            if applied is not None:
                return applied
        head = current_snapshot(table)
        pub_core = core
        if head != parent:
            _cow_rebase_guard(table, head, parent, core, key, preds)
            pub_core = _read_core(table, head)
            if "chunks" not in pub_core:  # cannot happen under the
                raise CommitConflictError(  # append-only guard, but
                    f"{table}: manifest shape changed mid-rewrite")
            if schema is not None:  # interposed appends may have
                schema = _merge_schema(  # widened the table schema
                    _schema_from_man(pub_core), schema)
        pages, descs = _tombstoned_core(table, pub_core,
                                        plan["by_chunk"], affected)
        return _publish(
            table, new_files,
            pub_core["rows"] - affected_rows + new_rows,
            head if head is not None else parent,
            _chunk_file_count({"pages": pages, "chunks": descs}),
            op=op, txn_id=txn_id,
            new_files=new_files, schema=schema, stats=new_stats,
            stats_cols=stats_cols, blooms=new_blooms,
            bloom_cols=bloom_cols,
            delete_files=pub_core.get("delete_files"),
            parent_chunks=descs, parent_pages=pages)


def _cow_inline_rebase(table: str, head: str, parent: str,
                       core: dict, key: str, preds: list[tuple],
                       affected_names: set) -> tuple[dict, list[str]]:
    """Lease-held rebase step shared by the inline COW merge and
    delete publishes: validate via `_cow_rebase_guard`, then re-derive
    the untouched file set and the carry-metadata view from the new
    head (whose extra files are key-disjoint appends by the guard's
    contract, so the staged affected set is still exact)."""
    _cow_rebase_guard(table, head, parent, core, key, preds)
    man = _materialize(table, _read_core(table, head))
    untouched = [f for f in man["files"] if f not in affected_names]
    return man, untouched


def merge_snapshot(spark: SparkSession, updates: DataFrame, table: str,
                   key: str, txn_id: str | None = None) -> str:
    """MVCC upsert (K6 semantics, reader-safe, file-granular COW):
    updated keys win, unmatched target rows survive — the
    upsert.merge_upsert contract — but only the files that actually
    contain an updated key are rewritten; every other file is REUSED
    by name in the new manifest. The commit is one pointer flip, so
    concurrent readers never observe the swap.

    ``txn_id`` extends the append-path idempotence stamp to merges: a
    replayed merge whose commit already published is a no-op returning
    the existing snapshot (the matview refresh path rides this — its
    stamp doubles as the source watermark).

    OPTIMISTIC commit (r6, completing the writer matrix): the locate
    scan, the rewrite, and the landing run with NO lease held; only
    the metadata publish takes the lease. If the head moved, the
    publish rebases IFF every interposed commit is an append whose
    files provably contain no merge key (`_cow_rebase_guard` —
    manifest spans/blooms, no data scan); anything else conflicts,
    because the rewrite's inputs or its located affected set are
    stale. So the common race — streaming appends landing while a
    dimension merge rewrites — commits both sides with no lost
    update, while overlapping writers stay serialized.

    Operational note: against a CONTINUOUS merge-on-read lander
    (run_stream_upsert committing every few seconds), a long COW
    rewrite will find a MOR commit interposed on every attempt and
    livelock on retries — rebasing over interposed masks would need
    two mask-adjusted recounts under the lease, exactly the lease-held
    work this design removes. On update-heavy tables use
    ``merge_snapshot_mor`` (both sides then rebase) and let
    ``optimize_table`` do the rewriting: its compaction rebases over
    MOR commits via base-generation stamping."""
    os.makedirs(table, exist_ok=True)
    if txn_id is not None:  # cheap pre-check: replays skip the work
        applied = _txn_already_applied(table, txn_id)
        if applied is not None:
            return applied
    parent = current_snapshot(table)
    if parent is None:  # first commit: cheap, stay pessimistic
        with table_lease(table, owner=f"merge_snapshot:{key}",
                         wait_s=_COMMIT_WAIT_S):
            if current_snapshot(table) is None:
                files = _land_in_pool(updates, table)
                rows = _count_pool_rows(spark, table, files)
                return _publish(table, files, rows, None, 0,
                                op="merge", txn_id=txn_id,
                                schema=updates.schema)
        parent = current_snapshot(table)

    core = _read_core(table, parent)
    if "chunks" in core:
        schema = _merge_schema(_schema_from_man(core),
                               updates.schema, core.get("retired"))
        keys = updates.select(key).distinct()

        def rewrite(affected_df):
            if affected_df is None:
                return updates  # pure insert batch
            return (affected_df
                    .join(F.broadcast(keys), key, "left_anti")
                    .unionByName(updates,
                                 allowMissingColumns=True))

        return _cow_rewrite_chunked(spark, table, core, parent,
                                    key, keys, rewrite, "merge",
                                    txn_id, schema)
    parent_man = core
    stats_cols = parent_man.get("stats_cols")
    parent_schema = _schema_from_man(parent_man)
    schema = _merge_schema(parent_schema, updates.schema,
                           parent_man.get("retired"))
    keys = updates.select(key).distinct()

    # ---- expensive staging: NO lease held ----
    affected_paths, untouched = _locate_affected(
        spark, table, parent_man, key, keys)

    # Rewrite: survivors of ONLY the affected files, plus updates.
    # Affected files are read under the PARENT schema — post-
    # evolution files keep their evolved values, pre-evolution
    # files project NULL (inference would take whichever footer
    # lists first and silently drop evolved columns). The read is
    # delete-applied (_read_live): a rewritten file gets a FRESH
    # generation, so any MOR-deleted row it still carried would
    # escape its delete mask and resurrect.
    if affected_paths:
        affected, _obs = _observed_count(
            _read_live(spark, table, parent_man,
                       affected_paths, parent_schema))
        survivors = (
            affected
            .join(F.broadcast(keys), key, "left_anti")
            .unionByName(updates, allowMissingColumns=True)
        )
    else:
        _obs = None
        survivors = updates
    new_files = _land_in_pool(survivors, table)
    # the landing write was the one action over `affected`: collect
    # its row count from the observation, no second read
    affected_rows = int(_obs.get["rows"]) if _obs is not None else 0

    # Row count maintained incrementally — metadata upkeep scans
    # only the touched files, never the whole table.
    new_rows, new_stats = _scan_new_files(spark, table, new_files,
                                          stats_cols)
    new_blooms = _scan_blooms(spark, table, new_files,
                              parent_man.get("bloom_cols"), schema)
    affected_names = {os.path.basename(p) for p in affected_paths}
    # predicates for the (rare) rebase guard, built NOW so the lease
    # never holds a Spark job — and so the guard checks the SAME key
    # batch the staged rewrite used (a non-deterministic updates
    # lineage re-evaluated under the lease could diverge)
    preds = _key_batch_predicates(key, keys)

    # ---- metadata publish: lease held briefly ----
    with table_lease(table, owner=f"merge_snapshot:{key}",
                     wait_s=_COMMIT_WAIT_S):
        if txn_id is not None:  # decisive re-check under the lease
            applied = _txn_already_applied(table, txn_id)
            if applied is not None:
                return applied  # lost a replay race: files orphan
        head = current_snapshot(table)
        if head != parent:
            parent_man, untouched = _cow_inline_rebase(
                table, head, parent, core, key, preds,
                affected_names)
            schema = _merge_schema(_schema_from_man(parent_man),
                                   updates.schema)
            parent = head
        rows = parent_man["rows"] - affected_rows + new_rows
        return _publish(table, untouched + new_files, rows, parent,
                        len(untouched), op="merge", txn_id=txn_id,
                        new_files=new_files, schema=schema,
                        stats=_carry_stats(parent_man, untouched,
                                           new_stats),
                        stats_cols=stats_cols,
                        blooms=_carry_blooms(parent_man, untouched,
                                             new_blooms),
                        bloom_cols=parent_man.get("bloom_cols"),
                        file_seq=parent_man.get("file_seq"),
                        delete_files=parent_man.get("delete_files"))


def _observed_count(df: DataFrame):
    """Attach a row-count observation to ``df``: the count arrives as
    a side effect of whatever single action later consumes the
    returned frame (the COW landing write), so the separate
    ``count()`` job — and its SECOND read of the affected files —
    disappears (guide §1.2: one pass instead of two). Returns
    ``(observed_df, observation)``; read ``int(obs.get["rows"])``
    after the action.

    CONTRACT (ADVICE r11): the action the caller runs MUST consume a
    plan derived from the returned ``observed_df`` — ``obs.get``
    blocks until the observed node executes, so a rewrite callback
    (``_cow_rewrite_chunked``'s parameter) that builds its output
    from anything else would hang the commit instead of failing
    loudly. Every in-repo rewrite derives from ``affected_df``; keep
    it that way."""
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def _mor_live_matches(spark: SparkSession, table: str,
                      parent_man: dict, key: str,
                      keys_df: DataFrame) -> int:
    """Exact live-row decrement shared by the MOR delete and the MOR
    upsert: count the parent snapshot's LIVE rows matching ``keys_df``
    over stats-surviving candidate files only, key-column-pruned —
    the cheap half of the COW locate step, without the rewrite."""
    candidates = _stat_candidates(parent_man, key, keys_df)
    if not candidates:
        return 0
    return (
        _read_live(spark, table, parent_man, candidates,
                   _schema_from_man(parent_man))
        .select(key)
        .join(F.broadcast(keys_df), key, "left_semi")
        .count()
    )


def _mor_live_matches_chunked(spark: SparkSession, table: str,
                              core: dict, key: str,
                              keys_df: DataFrame) -> int:
    """`_mor_live_matches` for CHUNKED manifests: the candidate cut
    loads only the sidecars the key batch's span/bloom predicates can
    hit — the decrement count stays O(chunks hit) in metadata, like
    every other chunked planning pass."""
    plan = _prune_chunked(table, core,
                          _key_batch_predicates(key, keys_df))
    candidates = plan["kept"]
    if not candidates:
        return 0
    hybrid = {**core, "file_seq": plan["file_seq"]}
    return (
        _read_live(spark, table, hybrid, candidates,
                   _schema_from_man(core))
        .select(key)
        .join(F.broadcast(keys_df), key, "left_semi")
        .count()
    )


def _mor_matched(spark: SparkSession, table: str, man: dict,
                 key: str, keys_df: DataFrame) -> int:
    """Live-row decrement for a key batch against one manifest,
    chunked or inline — the cheap key-column count every MOR commit's
    row accounting rides on."""
    if "chunks" in man:
        return _mor_live_matches_chunked(spark, table, man, key,
                                         keys_df)
    return _mor_live_matches(spark, table, man, key, keys_df)


def _rebase_mor_matched(spark: SparkSession, table: str,
                        head: str, base: str | None, head_man: dict,
                        key: str, keys_df: DataFrame,
                        matched_base: int) -> int:
    """Rebase an optimistic MOR commit's decrement count from the
    ``base`` it staged against onto the moved ``head``:

    * interposed APPENDS only — the base count stays exact (appends
      never unlive a base row) and only the appended files can hold
      additional matching rows, so count matches over JUST those files
      (they postdate every pending mask: raw count is live count);
    * anything that rewrote or masked rows (COW merge/delete, MOR
      commits, compaction) — the base count is stale in both
      directions; recount live matches against the head (still the
      metadata-pruned key-column count, never a table scan). The mask
      being published is key-based and sequenced at the PUBLISH
      generation, so it stays semantically exact over any interposed
      lineage — last-writer-wins, the MOR commit serializing after
      whatever interposed;
    * a FULL REFRESH (op=overwrite) is a semantic barrier: the batch
      was staged against content that no longer exists — conflict."""
    chain = _rebase_chain(table, head, base)
    ops = {m.get("op") for m in chain}
    if "overwrite" in ops:
        raise CommitConflictError(
            f"{table}: a full refresh interposed while this MOR "
            f"commit was staging — re-run against the new table")
    if ops <= {"append"}:
        appended = [f for m in chain for f in (m.get("new_files") or [])]
        if not appended:
            return matched_base
        return matched_base + (
            _read_pool(spark, table, appended,
                       _schema_from_man(head_man),
                       renames=head_man.get("renames"))
            .select(key)
            .join(F.broadcast(keys_df), key, "left_semi")
            .count()
        )
    return _mor_matched(spark, table, head_man, key, keys_df)


def merge_snapshot_mor(spark: SparkSession, updates: DataFrame,
                       table: str, key: str,
                       txn_id: str | None = None,
                       branch: str | None = None,
                       extra_mask_keys: DataFrame | None = None
                       ) -> str:
    """Merge-on-read upsert: same answer as ``merge_snapshot`` (updated
    keys win, unmatched target rows survive), different physics — the
    update batch lands as NEW files and the OLD row versions are
    masked by one equality-delete file, both published in ONE commit
    whose generation sequences them (the mask is strict-below, so the
    commit's own files are exempt). NO existing data file is read in
    full or rewritten.

    This is the scattered-update fast path: the measured COW worst
    case (a uniform 1% batch on a range-clustered table → every file
    holds an updated key → 0 files reused, full-table rewrite) becomes
    batch-bytes + kilobytes of delete file. The trade is the same as
    ``delete_keys_mor``: readers pay a broadcast anti-join per
    delete-key column until ``compact_snapshot``/``optimize_table``
    applies the masks. Row accounting stays exact via the stats-pruned
    key-column-only live-match count (the locate step's cheap half).

    Prefer COW ``merge_snapshot`` when batches are key-clustered (it
    rewrites ~the files the range hits and keeps reads mask-free);
    prefer MOR when updates scatter. Iceberg v2's
    write.update.mode=merge-on-read, on the manifest-pointer pattern.

    OPTIMISTIC commit (r6): the batch lands, its stats/bloom scans
    run, and the delete file is written with NO lease held — only the
    metadata publish takes the lease. A head that moved meanwhile is
    rebased onto via ``_rebase_mor_matched``: interposed appends cost
    one key-column count over just their files, anything row-rewriting
    or masking costs one recount against the new head, and only a full
    refresh conflicts. A streaming MOR-upsert lander therefore never
    blocks behind (or is blocked by) a concurrent COW merge beyond the
    merge's own lease hold — both commit.

    ``branch`` stages the commit on a NAMED REF (write-audit-publish),
    same contract as ``append_snapshot(branch=)``: invisible to table
    readers until ``publish_ref``; the mask's generation sequences
    inside the staged lineage, so the publish flips rows + mask as one
    unit.

    ``extra_mask_keys`` widens the commit's equality-delete mask to
    ALSO cover the given keys (one key column, same name) without
    inserting replacement rows for them — upsert + delete as ONE
    commit, one pointer flip (r11: the CDC apply_change_batch shape;
    previously delete-then-upsert staged as two commits on a branch).
    Row accounting counts live matches of the WHOLE mask, so `rows`
    stays exact."""
    os.makedirs(table, exist_ok=True)

    _head = functools.partial(_branch_head, table, branch)

    if txn_id is not None:  # cheap pre-check: replayed batch skips
        applied = _txn_already_applied(table, txn_id, start=_head())
        if applied is not None:
            return applied
    base = _head()
    if base is None:  # first commit: cheap, stay pessimistic
        with table_lease(table, owner=f"merge_snapshot_mor:{key}",
                         wait_s=_COMMIT_WAIT_S):
            if _head() is None:
                files = _land_in_pool(updates, table)
                rows = _count_pool_rows(spark, table, files)
                return _publish(table, files, rows, None, 0,
                                op="merge", txn_id=txn_id,
                                schema=updates.schema, ref=branch)
        base = _head()  # raced a table creation: continue against it

    base_man = _read_core(table, base)
    stats_cols = base_man.get("stats_cols")
    bloom_cols = base_man.get("bloom_cols")
    _merge_schema(_schema_from_man(base_man), updates.schema,
                  base_man.get("retired"))  # early

    # ---- expensive staging: NO lease held ----
    new_files = _land_in_pool(
        _cluster_to_spec(updates, base_man.get("partition_spec")),
        table)
    new_rows, new_stats = _scan_new_files(spark, table, new_files,
                                          stats_cols)
    if new_rows == 0:
        if extra_mask_keys is not None:
            raise ValueError(
                f"{table}: merge_snapshot_mor got an empty update "
                "batch with extra_mask_keys — a mask-only commit is "
                "delete_keys_mor's job; call that instead")
        return base  # empty batch: publish nothing (the landed
        # empty files are orphans for vacuum) — a dead mask entry
        # would force every reader onto the sequenced path and
        # count toward optimize_table's compaction threshold
    new_blooms = _scan_blooms(spark, table, new_files, bloom_cols,
                              updates.schema)
    # The mask: the batch's distinct keys, derived from the landed
    # files (one pass over the caller's lineage — the write), widened
    # by extra_mask_keys. Small masks derive and land on the driver
    # (r12, guide §5 — zero extra Spark jobs); see _land_mask.
    del_files, batch_keys, _ = _land_mask(spark, table, key, new_files,
                                          extra_mask_keys)
    matched = _mor_matched(spark, table, base_man, key, batch_keys)
    entries = [{"file": f, "key": key, "seq": None}
               for f in del_files]

    # ---- metadata publish: lease held briefly ----
    with table_lease(table, owner=f"merge_snapshot_mor:{key}",
                     wait_s=_COMMIT_WAIT_S):
        if txn_id is not None:  # decisive re-check under the lease
            applied = _txn_already_applied(table, txn_id,
                                           start=_head())
            if applied is not None:
                return applied  # lost a replay race: files orphan
        parent = _head()
        parent_man = (base_man if parent == base
                      else _read_core(table, parent))
        if parent != base:
            matched = _rebase_mor_matched(
                spark, table, parent, base, parent_man, key,
                batch_keys, matched)
            if sorted(parent_man.get("stats_cols") or []) != sorted(
                    stats_cols or []):  # opt-ins moved (full refresh
                stats_cols = parent_man.get("stats_cols")  # conflicts,
                _, new_stats = _scan_new_files(  # but stay defensive)
                    spark, table, new_files, stats_cols)
            if sorted(parent_man.get("bloom_cols") or []) != sorted(
                    bloom_cols or []):
                bloom_cols = parent_man.get("bloom_cols")
                new_blooms = _scan_blooms(spark, table, new_files,
                                          bloom_cols, updates.schema)
        schema = _merge_schema(_schema_from_man(parent_man),
                               updates.schema)
        if "chunks" in parent_man:  # O(commit) metadata: one new
            return _publish(  # sidecar, parent chunks reused
                table, new_files,
                parent_man["rows"] - matched + new_rows, parent,
                _chunk_file_count(parent_man), op="merge-mor",
                txn_id=txn_id, new_files=new_files, schema=schema,
                stats=new_stats, stats_cols=stats_cols,
                blooms=new_blooms, bloom_cols=bloom_cols,
                delete_files=(parent_man.get("delete_files") or [])
                + entries,
                parent_chunks=parent_man["chunks"],
                parent_pages=parent_man.get("pages"), ref=branch)
        parent_man = _materialize(table, parent_man)
        rows = parent_man["rows"] - matched + new_rows
        return _publish(
            table, parent_man["files"] + new_files, rows, parent,
            len(parent_man["files"]), op="merge-mor", txn_id=txn_id,
            new_files=new_files, schema=schema,
            stats=_carry_stats(parent_man, parent_man["files"],
                               new_stats),
            stats_cols=stats_cols,
            blooms=_carry_blooms(parent_man, parent_man["files"],
                                 new_blooms),
            bloom_cols=bloom_cols,
            file_seq=parent_man.get("file_seq"),
            delete_files=(parent_man.get("delete_files") or [])
            + entries, ref=branch)


#: Age floor for reaping crashed writers' ``__staging-*`` dirs: long
#: enough that no live write plausibly goes this long without touching
#: its staging dir, short enough that crash debris clears on the next
#: day's vacuum.
_STAGING_REAP_AGE_S = 86_400.0


def vacuum_snapshots(table: str, keep: int = 2,
                     min_age_seconds: float | None = None,
                     staging_age_seconds: float = _STAGING_REAP_AGE_S
                     ) -> dict:
    """Reap history no in-flight reader should still need: drop every
    manifest except the current snapshot and the newest ``keep - 1``
    others, then delete pool files referenced by NO retained manifest
    (reference-counted — files shared forward by COW commits survive).
    Orphans from pre-flip crashes age out of the keep window like any
    superseded snapshot. Returns ``{"snapshots": [...], "files": n}``.

    ``min_age_seconds`` adds the operational retention floor a
    count-based ``keep`` can't express: a snapshot whose manifest is
    YOUNGER than the floor is never reaped regardless of how many
    commits superseded it — a burst of micro-batch appends must not
    evict the snapshot a long-running reader pinned minutes ago.
    (The count bounds disk; the age bounds reader exposure. Size the
    floor to the longest read you allow — the Iceberg
    expire-older-than contract.) Manifest mtime is the age source:
    it's assigned by the atomic publish rename, monotone per table.

    A crash inside ``_land_in_pool`` leaves a ``__staging-<uuid>``
    directory that no manifest ever references; those are reaped once
    older than ``staging_age_seconds`` (age = newest mtime within the
    dir, so an in-flight write that is still producing files is never
    touched). The SAME age floor guards pool files referenced by no
    manifest at all: optimistic append/compact move files into the
    pool and scan them with NO lease held before any manifest names
    them, so a young never-referenced pool file may be a concurrent
    writer's in-flight landing, not crash debris — deleting it would
    corrupt that writer's commit. Files referenced by a manifest this
    vacuum reaps (committed-then-superseded) still delete immediately.

    Named refs pin their snapshots; a staged BRANCH (refs/heads/)
    additionally pins its lineage back to the fork point (publish_ref
    must walk it). TAG (refs/tags/) lineage is never pinned — the
    kinds are structurally separate directories, so a tag on a
    rolled-back-from head cannot retain the undone history — and deep
    rollback reach is bounded by retention of the intermediate
    manifests."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    import time as _time

    with table_lease(table, owner="vacuum"):
        current = current_snapshot(table)
        snaps = list_snapshots(table)
        retained = set(snaps[-keep:])
        if current is not None:
            retained.add(current)
        # Named refs PIN their snapshots (tags are audit/rollback
        # anchors; branch heads are staged-but-unpublished commits) —
        # reaping one would break the very reads the ref exists for.
        retained.update(_list_refs_of(table, "tags").values())
        branch_targets = set(_list_refs_of(table, "heads").values())
        retained.update(branch_targets)
        # A staged BRANCH also needs its lineage back to the fork
        # point: publish_ref walks target -> CURRENT through the
        # intermediate staged manifests, and reaping one would brick
        # the branch with a spurious "re-stage" conflict. Walk each
        # ref toward parents only while the generation stays ABOVE
        # CURRENT's — that retains exactly the staged chain (whose
        # files the branch head already pins) and retains nothing for
        # tags/ancestor refs, which would otherwise pin all pre-tag
        # history. (Deep-history ROLLBACK reach is therefore bounded
        # by retention of the intermediate lineage — see
        # rollback_table's docstring.)
        cur_gen = _gen_of(current) if current is not None else -1
        for target in branch_targets:
            snap = target
            chain: list[str] = []
            seen: set[str] = set()
            while (snap is not None and snap != current
                   and snap not in seen
                   and (current is None or _gen_of(snap) > cur_gen)):
                seen.add(snap)
                chain.append(snap)
                try:
                    snap = _read_core(table, snap).get("parent")
                except FileNotFoundError:
                    snap = None
                    chain = []  # already broken: nothing to protect
                    break
            if snap == current or current is None:
                retained.update(chain)
        if min_age_seconds is not None:
            cutoff = _time.time() - min_age_seconds
            for s in snaps:
                if s not in retained and os.path.getmtime(
                        _manifest_path(table, s)) > cutoff:
                    retained.add(s)
        doomed = [s for s in snaps if s not in retained]
        # Per-snapshot work below reads CORES only and loads each
        # DISTINCT chunk sidecar at most once (shared cache) — on a
        # 1M-file chunked table with dozens of tags/branches this is
        # O(refs + distinct chunks), not O(refs x chunks): the old
        # read_manifest-per-snapshot materialization re-parsed every
        # sidecar once per retained AND doomed manifest.
        side_cache: dict[str, dict | None] = {}

        def _side_files(cid: str) -> list[str] | None:
            if cid not in side_cache:
                try:
                    side_cache[cid] = _read_chunk(table, cid)
                except FileNotFoundError:
                    side_cache[cid] = None  # already reaped
            side = side_cache[cid]
            return None if side is None else side["files"]

        def _page_descs(pid: str) -> list[dict]:
            """A DOOMED manifest's page descriptors — a reaped or
            torn page contributes nothing there, which is
            conservative: its files just fall back to the age-guarded
            never-referenced path instead of immediate reaping. The
            LIVENESS walk must NOT use this: a swallowed read error
            there would drop a retained page's chunks from
            live_chunks and delete live data — the retained walk
            calls `_read_page` directly and lets any failure abort
            the vacuum loudly (nothing has been reaped yet at that
            point; orphans keep to the next run)."""
            try:
                return _read_page(table, pid)
            except (OSError, ValueError, KeyError):
                return []

        # Record what the doomed manifests referenced BEFORE deleting
        # them: files they named were committed-then-superseded and
        # reap immediately, while a pool file referenced by NO
        # manifest at all may be an IN-FLIGHT optimistic landing
        # (append/compact move files into the pool and scan them with
        # no lease held, before any manifest names them) — those only
        # reap past the same age floor that guards staging dirs.
        # (Every file a sidecar names was committed by SOME manifest —
        # sidecars are written at publish — so excluded members count
        # as committed debris too.)
        doomed_refs: set[str] = set()
        for s in doomed:
            try:
                core = _read_core(table, s)
            except FileNotFoundError:
                core = None
            if core is not None:
                if "chunks" in core:
                    descs = list(core["chunks"])
                    for pg in core.get("pages") or []:
                        descs += _page_descs(pg["id"])
                    for ch in descs:
                        files = _side_files(ch["id"])
                        if files:
                            doomed_refs.update(files)
                else:
                    doomed_refs.update(core.get("files") or [])
                doomed_refs.update(
                    d["file"] for d in core.get("delete_files") or [])
            try:
                os.remove(_manifest_path(table, s))
            except FileNotFoundError:
                pass

        live: set[str] = set()
        live_chunks: set[str] = set()
        live_pages: set[str] = set()
        # A chunk member is live unless EVERY retained manifest that
        # references the chunk tombstones it (exclude lists) — track
        # the intersection of excludes per chunk id, from cores alone.
        chunk_excl: dict[str, set] = {}
        for s in retained:
            core = _read_core(table, s)
            # Merge-on-read delete files live in the same pool and are
            # load-bearing for their manifests' semantics — reaping one
            # would RESURRECT its masked rows.
            live.update(d["file"]
                        for d in core.get("delete_files") or [])
            if "chunks" in core:
                # Chunk sidecars and PAGES are shared forward like
                # data files: refcount across RETAINED manifests
                # before reaping (each distinct page read once).
                descs = list(core["chunks"])
                for pg in core.get("pages") or []:
                    live_pages.add(pg["id"])
                    # STRICT read: liveness must never degrade on a
                    # page error (see _page_descs docstring)
                    descs += _read_page(table, pg["id"])
                for ch in descs:
                    cid = ch["id"]
                    excl = set(ch.get("exclude") or ())
                    if cid in live_chunks:
                        chunk_excl[cid] &= excl
                    else:
                        live_chunks.add(cid)
                        chunk_excl[cid] = excl
            else:
                live.update(core.get("files") or [])
        for cid in live_chunks:
            files = _side_files(cid)
            if files is None:
                continue
            excl = chunk_excl.get(cid) or ()
            live.update(f for f in files if f not in excl)
        removed_files = 0
        root = _data_root(table)
        age_cutoff = _time.time() - staging_age_seconds
        if os.path.isdir(root):
            for f in os.listdir(root):
                if not f.endswith(".parquet") or f in live:
                    continue
                path = os.path.join(root, f)
                if f not in doomed_refs:
                    try:  # never-referenced: possibly in-flight —
                        if os.path.getmtime(path) > age_cutoff:
                            continue  # too young to be crash debris
                    except FileNotFoundError:
                        continue
                os.remove(path)
                removed_files += 1
        removed_chunks = 0
        croot = _chunks_root(table)
        if os.path.isdir(croot):
            for f in os.listdir(croot):
                # sidecar JSON and its bit-sliced bloom sibling (.blm)
                # share the chunk id and the same liveness
                stem, dot, ext = f.rpartition(".")
                if (dot and ext in ("json", "blm")
                        and stem not in live_chunks):
                    os.remove(os.path.join(croot, f))
                    removed_chunks += 1
                elif ".tmp-" in f:
                    # a crash between the tmp write and its atomic
                    # rename leaves debris; age-guard like staging
                    # dirs (a live writer's tmp is milliseconds old)
                    try:
                        if os.path.getmtime(
                                os.path.join(croot, f)) < age_cutoff:
                            os.remove(os.path.join(croot, f))
                            removed_chunks += 1
                    except FileNotFoundError:
                        pass

        removed_pages = 0
        proot = _pages_root(table)
        if os.path.isdir(proot):
            for f in os.listdir(proot):
                stem, dot, ext = f.rpartition(".")
                p = os.path.join(proot, f)
                if dot and ext == "json" and stem not in live_pages:
                    os.remove(p)
                    _PAGE_CACHE.pop(p, None)
                    removed_pages += 1
                elif ".tmp-" in f:
                    try:
                        if os.path.getmtime(p) < age_cutoff:
                            os.remove(p)
                            removed_pages += 1
                    except FileNotFoundError:
                        pass

        sroot = _snapshots_root(table)
        for f in os.listdir(sroot):  # crashed manifest writes, aged
            if ".tmp-" in f:
                p = os.path.join(sroot, f)
                try:
                    if (os.path.isfile(p)
                            and os.path.getmtime(p) < age_cutoff):
                        os.remove(p)
                except FileNotFoundError:
                    pass

        removed_staging = 0
        for d in os.listdir(table):
            if not d.startswith("__staging-"):
                continue
            p = os.path.join(table, d)
            try:
                ages = [os.path.getmtime(p)] + [
                    os.path.getmtime(os.path.join(p, f))
                    for f in os.listdir(p)]
                if max(ages) < age_cutoff:
                    shutil.rmtree(p)
                    removed_staging += 1
            except FileNotFoundError:
                pass  # racing writer finished its move: leave it
        return {"snapshots": doomed, "files": removed_files,
                "staging": removed_staging, "chunks": removed_chunks,
                "pages": removed_pages}


def optimize_table(spark: SparkSession, table: str,
                   sort_col: str | None = None,
                   target_file_rows: int = 1_000_000,
                   max_small_files: int = 8,
                   max_delete_files: int = 4,
                   vacuum_keep: int = 2,
                   vacuum_min_age_seconds: float | None = 3600.0
                   ) -> dict:
    """One-call maintenance (the OPTIMIZE verb): inspect the table and
    run only what it needs, in the safe order —

    1. **compact** when small files or merge-on-read delete masks
       accumulated past their thresholds: more than ``max_small_files``
       files below half the ``target_file_rows`` fill, or more than
       ``max_delete_files`` pending delete files (each costs every
       reader a broadcast anti-join until applied). The default of 4
       comes from the measured cadence curve (BASELINE.md round-5 MOR
       row: +1.75 s fixed once any mask pends, ~0.24 s per additional
       mask, compaction ~14 s @15M): ``k* = sqrt(2·C/(ρ·slope))`` ≈ 4–6
       at the read-heavy ratio ρ≈3–5 the dashboard shape implies —
       raise toward ~10 for landing-heavy pipelines where reads are
       rare;
    2. **vacuum** superseded snapshots afterwards, keeping
       ``vacuum_keep`` versions and never reaping anything younger
       than the retention floor (in-flight readers).

    Decisions come from MANIFEST metadata only — file row counts ride
    the stats the publishes already recorded (falling back to rows ÷
    files when the manifest predates stats) — so a no-op optimize
    costs one JSON read, the property that lets a scheduler call this
    after every few commits on a 100 TB table. Returns
    ``{"compacted": bool, "reason": str | None,
    "vacuumed": {...} | None, "snapshot": current}``.

    Everything inside is reader-safe (MVCC); compaction commits
    optimistically (appends landing mid-OPTIMIZE rebase in — one
    automatic retry on a non-append conflict); sizing rewrites to
    ``target_file_rows``
    keeps post-compaction files in the sweet spot between per-file
    overhead (too many) and lost parallelism/pruning (too few)."""
    snap = current_snapshot(table)
    if snap is None:
        raise NoCurrentSnapshotError(table)
    man = _read_core(table, snap)  # core only: a no-op optimize
    n_files = _chunk_file_count(man)   # never loads table-sized
    rows = man.get("rows") or 0        # sidecar metadata
    dels = man.get("delete_files") or []
    avg = rows / n_files if n_files else 0
    small = (n_files if avg < target_file_rows / 2 else 0)

    reason = None
    if len(dels) > max_delete_files:
        reason = (f"{len(dels)} pending delete masks "
                  f"(> {max_delete_files})")
    elif small > max_small_files:
        reason = (f"{n_files} files averaging {int(avg)} rows "
                  f"(< {target_file_rows // 2})")
    compacted = False
    if reason is not None:
        target = max(1, (rows + target_file_rows - 1)
                     // target_file_rows)
        try:
            compact_snapshot(spark, table, sort_col=sort_col,
                             target_files=int(target))
        except CommitConflictError:
            # A non-append writer interposed mid-rewrite; one retry
            # against the new head (a second conflict propagates —
            # the scheduler's next optimize pass will catch up).
            compact_snapshot(spark, table, sort_col=sort_col,
                             target_files=int(target))
        compacted = True
    vac = vacuum_snapshots(table, keep=vacuum_keep,
                           min_age_seconds=vacuum_min_age_seconds)
    return {"compacted": compacted, "reason": reason,
            "vacuumed": vac, "snapshot": current_snapshot(table)}


def run_stream_append(spark: SparkSession, events_path: str,
                      table: str, checkpoint_dir: str,
                      app_id: str = "stream_append",
                      branch: str | None = None) -> None:
    """Land a stream into a versioned table, exactly-once: foreachBatch
    → ``append_snapshot`` stamped ``f"{app_id}:{batch_id}"``. The
    streaming checkpoint dedups offsets ACROSS restarts; the txn stamp
    dedups the one batch a crash can replay AFTER its commit already
    flipped the pointer (checkpoint not yet advanced) — together the
    table sees each micro-batch exactly once. Readers meanwhile get
    lock-free consistent snapshots between every batch (T6/T8 made
    reader-safe; reference anchor: the per-file transaction
    file_processor.py:111 gives its readers the same guarantee).

    ``branch`` makes the landing a WRITE-AUDIT-PUBLISH stream: every
    micro-batch stages on the named ref, table readers see nothing
    until an auditor calls ``publish_ref`` — the quarantine-then-
    promote landing pattern, with the same exactly-once stamps walking
    the branch lineage."""
    from mc_ns_data_pipeline_spark.streaming.incremental import (
        _events_stream,
    )

    q = (
        _events_stream(spark, events_path)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: append_snapshot(
                df, table, txn_id=f"{app_id}:{bid}", branch=branch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def run_stream_upsert(spark: SparkSession, events_path: str,
                      table: str, checkpoint_dir: str, key: str,
                      app_id: str = "stream_upsert",
                      branch: str | None = None) -> None:
    """Land a stream into a versioned table as exactly-once UPSERTS:
    foreachBatch → ``merge_snapshot_mor`` stamped
    ``f"{app_id}:{batch_id}"``. Each micro-batch commits its rows plus
    the mask over prior versions of its keys in one pointer flip, so
    the table always reads as latest-version-per-key — the CDC-apply /
    mutable-dimension landing shape — while the commit cost stays
    batch-bound (no data file is ever rewritten by the stream;
    ``optimize_table`` applies accumulated masks on a maintenance
    cadence). The streaming checkpoint dedups offsets across restarts;
    the txn stamp dedups the one batch a crash can replay after its
    commit already flipped (same exactly-once pair as
    ``run_stream_append``).

    ``branch`` quarantines the upsert stream on a named ref (same
    write-audit-publish contract as ``run_stream_append(branch=)``):
    each micro-batch's rows AND mask stage invisibly until
    ``publish_ref`` promotes the audited head."""
    from mc_ns_data_pipeline_spark.streaming.incremental import (
        _events_stream,
    )

    q = (
        _events_stream(spark, events_path)
        .writeStream.outputMode("append")
        .foreachBatch(
            lambda df, bid: merge_snapshot_mor(
                spark, df, table, key, txn_id=f"{app_id}:{bid}",
                branch=branch)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def delete_keys_snapshot(spark: SparkSession, table: str, key: str,
                         doomed: DataFrame) -> str:
    """Right-to-be-forgotten as a COW snapshot commit: rewrite ONLY
    the files containing a doomed key (same locate/rewrite dataflow as
    ``upsert.delete_keys_targeted``), publish survivors + untouched
    files as a NEW snapshot. Unlike the in-place variant, readers
    never race the per-file removal — the old snapshot stays intact
    until vacuum, and the deletion "takes effect" atomically at the
    pointer flip. (Compliance note: the doomed rows' bytes leave disk
    when vacuum reaps the superseded snapshots, so retention `keep`
    bounds the erasure latency.)

    OPTIMISTIC commit (r6): locate/rewrite/land run lease-free; the
    publish rebases over key-disjoint interposed appends and
    conflicts on anything else (same `_cow_rebase_guard` contract as
    `merge_snapshot`)."""
    parent = current_snapshot(table)
    if parent is None:
        raise NoCurrentSnapshotError(table)
    core = _read_core(table, parent)
    doomed_keys = doomed.select(key).distinct()
    if "chunks" in core:
        def rewrite(affected_df):
            if affected_df is None:
                return None  # no file holds a doomed key: no-op
            return affected_df.join(F.broadcast(doomed_keys), key,
                                    "left_anti")

        return _cow_rewrite_chunked(
            spark, table, core, parent, key, doomed_keys, rewrite,
            "delete", None, _schema_from_man(core))
    parent_man = core
    parent_schema = _schema_from_man(parent_man)

    # ---- expensive staging: NO lease held ----
    affected_paths, untouched = _locate_affected(
        spark, table, parent_man, key, doomed_keys)
    if not affected_paths:
        return parent  # nothing to forget: current stays
    stats_cols = parent_man.get("stats_cols")
    affected, _obs = _observed_count(
        _read_live(spark, table, parent_man, affected_paths,
                   parent_schema))  # schema'd + MOR-applied:
    survivors = affected.join(F.broadcast(doomed_keys), key,
                              "left_anti")  # see merge_snapshot
    new_files = _land_in_pool(survivors, table)
    affected_rows = int(_obs.get["rows"])  # collected by the landing
    new_rows, new_stats = _scan_new_files(spark, table, new_files,
                                          stats_cols)
    new_blooms = _scan_blooms(
        spark, table, new_files, parent_man.get("bloom_cols"),
        parent_schema if parent_schema is not None
        else survivors.schema)
    affected_names = {os.path.basename(p) for p in affected_paths}
    preds = _key_batch_predicates(key, doomed_keys)  # staged, no lease

    # ---- metadata publish: lease held briefly ----
    with table_lease(table, owner=f"delete_keys:{key}",
                     wait_s=_COMMIT_WAIT_S):
        head = current_snapshot(table)
        if head != parent:
            parent_man, untouched = _cow_inline_rebase(
                table, head, parent, core, key, preds,
                affected_names)
            # a schema-widening append may have interposed: publish
            # the HEAD's schema, never the stale base view (silently
            # narrowing it would drop the appended column from every
            # later read)
            parent_schema = _schema_from_man(parent_man)
            parent = head
        rows = parent_man["rows"] - affected_rows + new_rows
        return _publish(table, untouched + new_files, rows, parent,
                        len(untouched), op="delete",
                        new_files=new_files,
                        schema=parent_schema,
                        stats=_carry_stats(parent_man, untouched,
                                           new_stats),
                        stats_cols=stats_cols,
                        blooms=_carry_blooms(parent_man, untouched,
                                             new_blooms),
                        bloom_cols=parent_man.get("bloom_cols"),
                        file_seq=parent_man.get("file_seq"),
                        delete_files=parent_man.get("delete_files"))


def delete_keys_mor(spark: SparkSession, table: str, key: str,
                    doomed: DataFrame,
                    branch: str | None = None) -> str:
    """Right-to-be-forgotten as a MERGE-ON-READ commit: land the doomed
    keys as one tiny delete file and publish — NO data file is read in
    full or rewritten. Readers mask matching rows at scan time via a
    broadcast anti-join sequenced by file generation
    (``_apply_delete_files``), so rows re-inserted AFTER the delete
    survive, exactly like the COW variant followed by an append.

    This is the 100 TB complement to ``delete_keys_snapshot`` (COW):
    deleting 1k scattered keys on an UNCLUSTERED table makes COW
    rewrite nearly every file it locates (full row width, massive
    write amplification), while MOR writes kilobytes and defers the
    physical rewrite to the next ``compact_snapshot``, which applies
    the masks and CLEARS the delete files (Iceberg v2 equality-delete
    semantics). The trade: until compaction, every read pays one
    broadcast anti-join per delete-key column — size the compaction
    cadence to the read/delete ratio.

    Row accounting stays EXACT without the rewrite: the decrement is
    counted from a stats-pruned, column-pruned scan of candidate files
    only (the locate step's cost, not the rewrite's). Compliance note:
    the doomed rows' BYTES remain on disk until a compaction rewrites
    their files and vacuum reaps them — for hard-erasure deadlines
    schedule compact+vacuum, or use the COW variant.

    Reference anchor: DELETE FROM processed_files WHERE ...
    (mastercontrol_pipeline/file_processor.py) — row deletes the
    reference gets transactionally from PostgreSQL.

    OPTIMISTIC commit (r6, same contract as ``merge_snapshot_mor``):
    the delete file lands and the decrement counts with NO lease held;
    the publish rebases onto a moved head (appends: incremental count
    over just their files; row-rewriting/masking commits: one recount;
    full refresh: conflict). ``branch`` stages the mask on a named ref
    for write-audit-publish."""

    _head = functools.partial(_branch_head, table, branch)

    base = _head()
    if base is None:
        raise NoCurrentSnapshotError(table)
    base_man = _read_core(table, base)
    schema = _schema_from_man(base_man)
    if schema is not None and key not in {f.name
                                          for f in schema.fields}:
        raise ValueError(f"delete key {key!r} not in table schema")
    # ---- staging: NO lease held ----
    # Land the delete file FIRST, then derive everything else
    # (count, span, decrement join) from the landed kilobytes. An
    # empty batch leaves one orphan pool file (vacuum reaps it, same
    # as a pre-flip crash) and publishes nothing.
    del_files, doomed_keys, n_keys = _land_mask(spark, table, key,
                                                df=doomed)
    if n_keys == 0:
        return base  # nothing to forget: current stays

    entries = [{"file": f, "key": key, "seq": None, "keys": n_keys}
               for f in del_files]  # seq stamped by _publish
    matched = _mor_matched(spark, table, base_man, key, doomed_keys)

    # ---- metadata publish: lease held briefly ----
    with table_lease(table, owner=f"delete_keys_mor:{key}",
                     wait_s=_COMMIT_WAIT_S):
        parent = _head()
        parent_man = (base_man if parent == base
                      else _read_core(table, parent))
        if parent != base:
            matched = _rebase_mor_matched(
                spark, table, parent, base, parent_man, key,
                doomed_keys, matched)
            schema = _schema_from_man(parent_man)
        if "chunks" in parent_man:  # O(commit) metadata: no new data
            return _publish(  # files at all, all chunks reused
                table, [], parent_man["rows"] - matched, parent,
                _chunk_file_count(parent_man), op="delete-mor",
                new_files=[], schema=schema,
                stats_cols=parent_man.get("stats_cols"),
                bloom_cols=parent_man.get("bloom_cols"),
                delete_files=(parent_man.get("delete_files") or [])
                + entries,
                parent_chunks=parent_man["chunks"],
                parent_pages=parent_man.get("pages"), ref=branch)
        parent_man = _materialize(table, parent_man)
        return _publish(
            table, parent_man["files"], parent_man["rows"] - matched,
            parent, len(parent_man["files"]), op="delete-mor",
            new_files=[], schema=schema,
            stats=_carry_stats(parent_man, parent_man["files"], None),
            stats_cols=parent_man.get("stats_cols"),
            blooms=_carry_blooms(parent_man, parent_man["files"], None),
            bloom_cols=parent_man.get("bloom_cols"),
            file_seq=parent_man.get("file_seq"),
            delete_files=(parent_man.get("delete_files") or [])
            + entries, ref=branch)


def _chain_between(table: str, since: str,
                   until: str | None = None) -> list[dict]:
    """Manifests strictly after `since` up to `until` (default:
    CURRENT), oldest first, by walking the parent chain. Raises
    NonIncrementalHistoryError when `since` is not an ancestor (wrong
    table, diverged lineage) or its manifest was vacuumed away."""
    end = until if until is not None else current_snapshot(table)
    if end is None:
        raise NoCurrentSnapshotError(table)
    chain: list[dict] = []
    snap = end
    while snap != since:
        try:
            man = _read_core(table, snap)
        except FileNotFoundError:
            raise NonIncrementalHistoryError(
                f"snapshot {snap} missing from {table!r} lineage — "
                f"{since} vacuumed or not an ancestor of {end}"
            ) from None
        chain.append(man)
        snap = man.get("parent")
        if snap is None and since is not None:
            raise NonIncrementalHistoryError(
                f"{since} is not an ancestor of {end} in {table!r}")
    chain.reverse()
    return chain


def read_appended_since(spark: SparkSession, table: str, since: str,
                        until: str | None = None) -> DataFrame:
    """Incremental (changelog) consumption, the 100 TB fast path: the
    rows ADDED between `since` and `until` (default CURRENT), read
    from ONLY the pool files the intervening append commits landed —
    a downstream consumer that processed `since` catches up by
    scanning megabytes of new files, never by rescanning the table.

    Append commits contribute their `new_files`; compaction commits
    are row-preserving rewrites and contribute nothing. Any commit in
    range that changed rows in place (merge / delete / overwrite, or
    a pre-`op` legacy manifest) makes a file-level answer impossible
    — NonIncrementalHistoryError then directs callers to
    ``changes_between`` (the keyed-diff slow path).

    Reads use `until`'s manifest schema, so appends that evolved the
    schema project consistently."""
    chain = _chain_between(table, since, until)
    files: list[str] = []
    for man in chain:
        op = man.get("op")
        if op == "append":
            files.extend(man.get("new_files", []))
        elif op in ("compact", "set-spec", "set-schema"):
            continue  # row-preserving: no logical change
        else:
            raise NonIncrementalHistoryError(
                f"commit {man['snapshot']} is op={op!r} — history is "
                "not append-only; use changes_between() for a keyed "
                "diff")
    if chain:
        end, schema = chain[-1]["snapshot"], _schema_from_man(chain[-1])
        renames = chain[-1].get("renames")
    else:
        end, schema = since, table_schema(table, since)
        renames = _read_core(table, since).get("renames")
    if not files:
        if schema is None:
            return read_snapshot(spark, table, end).limit(0)
        return spark.createDataFrame([], schema)
    return _read_pool(spark, table, files, schema, renames=renames)


def read_changes_since(spark: SparkSession, table: str, since: str,
                       until: str | None = None) -> dict:
    """Incremental CDC over an append + merge-on-read-delete lineage:
    ``{"inserts": DataFrame, "deleted_keys": {col: DataFrame},
    "to": snapshot}`` — everything a downstream sync needs to follow
    this table WITHOUT any table-sized work. Inserts come from append
    commits' own files (read_appended_since semantics); deletions come
    from delete-mor commits' equality-delete files, grouped by key
    column — kilobytes of metadata, not a keyed diff.

    Apply order downstream: deletions FIRST, then upsert the inserts.
    This reproduces the table's NET state for every interleaving:
    ``inserts`` is sequence-masked by the in-range deletes (a row
    appended and then MOR-deleted inside the range never surfaces),
    while a key deleted and then re-appended sequences the append
    AFTER the delete, so it survives the mask and the downstream
    upsert restores it. Pre-range deletes can never mask in-range
    appends (a delete's sequence is always below a later file's), so
    only in-range entries participate.

    COW rewrites (merge / delete / overwrite) still raise
    NonIncrementalHistoryError — their file diffs don't decompose into
    row changes; use ``changes_between``."""
    chain = _chain_between(table, since, until)
    ins_files: list[str] = []
    ins_seq: dict[str, int] = {}
    del_entries: list[dict] = []
    del_by_key: dict[str, list[str]] = {}
    # delete_files of the commit BEFORE the current one: every chain
    # element's parent is the previous element (or `since` for the
    # first), so "what THIS delete-mor commit added" is its own list
    # minus the previous one's — no per-commit manifest re-reads.
    prev_dels: list[dict] | None = None
    for man in chain:
        op = man.get("op")
        gen = _gen_of(man["snapshot"])
        if op not in ("append", "compact", "set-spec", "set-schema",
                      "delete-mor", "merge-mor"):
            raise NonIncrementalHistoryError(
                f"commit {man['snapshot']} is op={op!r} — use "
                "changes_between() for a keyed diff")
        if op in ("append", "merge-mor"):
            # A MOR upsert decomposes exactly: its new files are the
            # inserts, its delete entry the retraction of the old
            # versions (strict-below masking exempts its own files).
            for f in man.get("new_files", []):
                ins_files.append(f)
                ins_seq[f] = gen
        if op in ("delete-mor", "merge-mor"):
            if prev_dels is None:
                # First in-range commit: the baseline is `since`'s own
                # list. A vacuumed `since` manifest must refuse LOUDLY
                # — falling back to "no prior entries" would re-emit
                # carried pre-range deletes and silently drop live
                # re-appended keys from a downstream replica.
                try:
                    prev_dels = (_read_core(table, since)
                                 .get("delete_files") or [])
                except FileNotFoundError:
                    raise NonIncrementalHistoryError(
                        f"snapshot {since} vacuumed from {table!r} — "
                        "cannot attribute delete-mor entries; "
                        "re-bootstrap the consumer") from None
            seen = {d["file"] for d in prev_dels}
            for d in man.get("delete_files") or []:
                if d["file"] not in seen:
                    del_entries.append(d)
                    del_by_key.setdefault(d["key"], []).append(d["file"])
        prev_dels = man.get("delete_files") or []
    end = chain[-1]["snapshot"] if chain else since
    schema = (_schema_from_man(chain[-1]) if chain
              else table_schema(table, since))
    ch_renames = (chain[-1].get("renames") if chain
                  else _read_core(table, since).get("renames"))
    if ins_files:
        inserts = _read_pool(spark, table, ins_files, schema,
                             renames=ch_renames)
        # Sequence-mask by the IN-RANGE deletes via the same machinery
        # reads use, over a synthetic manifest scoped to this range.
        inserts = _apply_delete_files(
            spark, table, inserts,
            {"delete_files": del_entries, "file_seq": ins_seq},
            ins_files)
    elif schema is not None:
        inserts = spark.createDataFrame([], schema)
    else:
        inserts = read_snapshot(spark, table, end).limit(0)
    root = _data_root(table)
    deleted = {
        key: (spark.read.parquet(*(os.path.join(root, f)
                                   for f in files)).distinct())
        for key, files in del_by_key.items()
    }
    return {"inserts": inserts, "deleted_keys": deleted, "to": end}


def consume_appends(spark: SparkSession, table: str, cursor_path: str,
                    process) -> dict:
    """At-least-once incremental consumer over a versioned table's
    append lineage — the reference's incremental-fetch shape
    (mastercontrol_pipeline/incremental_fetch.py: remember a cursor,
    fetch only what's new), but driven by table LINEAGE instead of
    last-modified timestamps, so the increment is a file list and the
    catch-up scan is bounded by new data (see read_appended_since).

    One call = one unit of progress:
      * no cursor on disk yet → bootstrap: ``process(df)`` gets the
        full CURRENT snapshot;
      * cursor present → increment: ``process(df)`` gets only the
        rows appended since the cursor's snapshot (compaction commits
        in between are invisible);
      * cursor already at CURRENT → no-op, ``process`` not called.

    The cursor file advances ATOMICALLY (tmp + rename) only after
    ``process`` returns, so a crash mid-process replays the same
    increment on retry — at-least-once delivery; make ``process``
    idempotent (e.g. land into another versioned table with a
    ``txn_id`` derived from the returned snapshot ids for
    exactly-once). A merge/delete/overwrite inside the range raises
    NonIncrementalHistoryError — the caller must decide (re-bootstrap,
    or reconcile via ``changes_between``) rather than silently
    double-reading rewritten rows.

    ``process`` may declare a second POSITIONAL parameter to receive
    ``{"from", "to", "mode"}`` — e.g. to derive an idempotent output
    path keyed on ``from`` (stable across retries: a replay after a
    crash consumes [from..newer-until], a superset of the crashed
    range, so an overwrite keyed on ``from`` replaces rather than
    duplicates). Keyword-only/``**kwargs`` parameters don't count —
    only explicit positional arity opts in.

    The cursor file records its table path; consuming it against a
    different table fails fast instead of stalling on a lineage walk.

    The target snapshot is pinned once at entry: appends landing
    while ``process`` runs are simply the next call's increment."""
    import inspect

    until = current_snapshot(table)
    if until is None:
        raise NoCurrentSnapshotError(table)
    cursor = None
    if os.path.exists(cursor_path):
        with open(cursor_path) as fh:
            state = json.load(fh)
        owner = state.get("table")
        if owner is not None and (os.path.abspath(owner)
                                  != os.path.abspath(table)):
            raise ValueError(
                f"cursor {cursor_path!r} belongs to table {owner!r}, "
                f"not {table!r}")
        cursor = state["snapshot"]
    if cursor == until:
        return {"from": cursor, "to": until, "mode": "noop"}
    if cursor is None:
        df, mode = read_snapshot(spark, table, until), "bootstrap"
    else:
        df = read_appended_since(spark, table, cursor, until=until)
        mode = "increment"
    info = {"from": cursor, "to": until, "mode": mode}
    positional = [
        p for p in inspect.signature(process).parameters.values()
        if p.kind in (inspect.Parameter.POSITIONAL_ONLY,
                      inspect.Parameter.POSITIONAL_OR_KEYWORD)
    ]
    if len(positional) >= 2:
        process(df, info)
    else:
        process(df)
    _atomic_write_json(cursor_path,
                       {"snapshot": until, "table": table})
    return info


def changes_between(spark: SparkSession, table: str, since: str,
                    until: str, key: str) -> DataFrame:
    """General CDC between two snapshots of a keyed table (the x53
    snapshot-diff shape, over time travel instead of two directories):
    one full-outer join on `key` classifying every key as insert /
    delete / update, dropping unchanged rows. Value columns come from
    the NEW side for inserts/updates and the OLD side for deletes.

    The compared payload is the UNION of both snapshots' value
    columns — a column present on only one side (schema evolution
    between the snapshots) projects typed NULL on the other, so an
    update that changed ONLY an evolved column still classifies as
    an update rather than silently comparing equal on the shared
    columns.

    This is the honest fallback when history is not append-only: it
    shuffles both snapshots on the key once. Bucketed/clustered
    layouts keep that join exchange-light; for append-only ranges
    prefer ``read_appended_since`` (no old data touched at all)."""
    old = read_snapshot(spark, table, since)
    new = read_snapshot(spark, table, until)
    types = {f.name: f.dataType
             for df in (old, new) for f in df.schema.fields}
    payload = [c for c in (*new.columns,
                           *(c for c in old.columns
                             if c not in new.columns))
               if c != key]

    def struct_of(df: DataFrame) -> Column:
        return F.struct(*[
            (F.col(c) if c in df.columns
             else F.lit(None).cast(types[c])).alias(c)
            for c in payload])

    o = old.select(
        F.col(key), struct_of(old).alias("_old"),
        F.lit(True).alias("_in_old"))
    n = new.select(
        F.col(key), struct_of(new).alias("_new"),
        F.lit(True).alias("_in_new"))
    j = o.join(n, key, "full_outer")
    change = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")),
              F.lit("update"))
    )
    side = F.when(F.col("_in_new").isNull(),
                  F.col("_old")).otherwise(F.col("_new"))
    return (
        j.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(key, "change_type",
                *[side.getField(c).alias(c) for c in payload])
    )
