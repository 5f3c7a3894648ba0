"""Lake maintenance: small-file compaction + tombstone expiry.

COW merges leave one file per (touched bucket, commit); over many batches a
bucket accumulates at most one live file (each merge rewrites the whole
bucket), but buckets *untouched* for long stretches keep old-schema files
and deleted rows keep tombstones forever. ``compact`` rewrites selected
buckets: merges files, re-projects to the current schema (retiring old
schema_versions), and drops tombstones whose version is at or below the
event-time watermark (safe: any event that could still arrive for that key
would be late-dropped anyway).

Runs as a normal commit: snapshot isolation, atomic pointer swap, no
change to ``applied_batch_ids`` (idempotence markers survive compaction).

Reference precursor: the ``full_run`` destructive rebuild
(/root/reference/src/how_long_to_beat.py:150-151) — re-expressed as an
incremental, non-destructive table service.
"""

from __future__ import annotations

import os
import re
import time

from pyspark.sql import functions as F

from ..session import job_tag
from .snapshot import read_current_version, read_snapshot, snapshot_path
from .table import BUCKET_COL, DELETED_COL, IceletTable, LwwFold


def maybe_compact(
    table: IceletTable,
    max_files_per_bucket: int = 8,
    expire_tombstones: bool = True,
) -> dict | None:
    """Auto-compaction trigger for merge-on-read: compact exactly the
    buckets whose delta-COMMIT count exceeds ``max_files_per_bucket``
    (one MOR apply appends one commit's files per touched bucket).

    MOR appends one delta file per bucket per batch (more with write
    salting), so a sustained 10^10-event stream would otherwise accumulate
    per-bucket read amplification without bound (round-2 bench: post-apply
    read 32x slower than COW after only 8 batches). Calling this after
    every applied batch bounds files-per-bucket — and therefore read-time
    LWW resolution work — at ~threshold, while amortizing the rewrite: a
    bucket is rewritten every ``threshold`` batches instead of every batch
    (COW), keeping the O(batch) apply cost for threshold-1 of every
    threshold batches.

    Returns compact()'s metrics when triggered, None otherwise (the check
    itself is manifest-only — no Spark job, no file I/O)."""
    snap = table.snapshot()
    # read-amplification is per-COMMIT, not per-file: the salted writer may
    # leave several same-sequence files per bucket, which read without LWW
    # resolution (keys never span files of one commit), so the trigger
    # counts distinct commit sequences per bucket — otherwise a freshly
    # compacted bucket holding n_salts files would re-compact every batch.
    counts: dict[int, set[int]] = {}
    for f in snap.files:
        counts.setdefault(f.bucket, set()).add(f.sequence)
    todo = sorted(b for b, seqs in counts.items() if len(seqs) > max_files_per_bucket)
    if not todo:
        return None
    return compact(table, buckets=todo, expire_tombstones=expire_tombstones)


def compact(
    table: IceletTable,
    buckets: list[int] | None = None,
    expire_tombstones: bool = True,
) -> dict:
    """Compact ``buckets`` (default: all buckets that have any file).

    Resolution and rewrite share ONE payload exchange and ONE sort: the raw
    delta rows (with their commit sequence) go through the table's LWW
    fold (``lake.table.LwwFold``, the one ``read`` and the merge run) —
    routed on (_bucket, spill-bounded salt(key)), sorted (key ASC,
    version DESC, seq DESC) once, each key's newest row kept — tombstones
    are expired, and the stream is written pre-partitioned by the table's
    one writer (one Arrow pass per task). The salt count is derived from manifest row counts
    (lake/table.sort_layout), so a huge bucket's sort is sharded to
    bounded memory even when shuffle partitions are few — without it a
    4.5M-row 4-bucket compaction at local[2] external-sorted into 24x
    super-linear wall time.

    The write's jobs are tagged ``icelet:<table>:v<seq>:compact``
    (``session.job_tag``) with the sequence the compaction commits.

    Returns metrics: buckets compacted, rows before/after, tombstones
    expired (estimated from manifest row counts).
    """
    snap = table.snapshot()
    ts_col = snap.properties["version_cols"][0]
    wm_us = snap.properties.get("watermark_us")

    present = sorted({f.bucket for f in snap.files})
    todo = present if buckets is None else [b for b in buckets if b in present]
    if not todo:
        return {"buckets": 0, "rows_before": 0, "rows_after": 0}
    todo_set = set(todo)
    files = [f for f in snap.files if f.bucket in todo_set]
    rows_before = sum(f.rows for f in files)

    # STRICTLY below the watermark: apply_batch's late-drop predicate is
    # ts < watermark (apply.py), so an event AT the watermark can still
    # arrive — a tombstone with ts == watermark must survive expiry or a
    # replayed stale event at the boundary would resurrect the row. With
    # no watermark tracked, expiring any tombstone would let stale replays
    # resurrect rows: keep them all.
    dead = F.lit(False)
    if expire_tombstones and wm_us is not None:
        dead = F.coalesce(F.col(DELETED_COL), F.lit(False)) & (
            F.col(ts_col) < F.timestamp_micros(F.lit(int(wm_us)))
        )

    raw = table._scan(snap, files, snap.schema, with_seq=True)
    fold = LwwFold.of_table(table.spark, snap, todo, rows_before)
    out = fold.apply(raw, [*snap.schema.names(), BUCKET_COL]).where(~dead)
    with job_tag(table.spark, table.root, "compact", snap.version + 1):
        new_files, _ = table.write_data_files_prepartitioned(
            out, snap.version + 1, snap.schema.version, snap.properties["key"]
        )
    # CAS: the rewrite resolved data as of snap.version — a concurrent
    # apply's commit in between would make this compaction a lost-update
    # (its output lacks that apply's rows for the compacted buckets), so
    # commit raises CommitConflictError instead; callers retry.
    new_snap = table.commit(new_files, todo_set, [], new_schema=None,
                            expected_version=snap.version)
    rows_after = sum(f.rows for f in new_files)
    return {
        "buckets": len(todo),
        "rows_before": int(rows_before),
        "rows_after": int(rows_after),
        "tombstones_expired": int(rows_before - rows_after),
        "snapshot_version": new_snap.version,
    }


# --------------------------------------------------------------- retention/GC
_SNAP_RE = re.compile(r"^v(\d+)\.json$")


def expire_snapshots(
    table: IceletTable,
    keep_last: int = 2,
    orphan_grace_s: float = 3600.0,
) -> dict:
    """Snapshot retention + data-file GC — the reclamation verb the write
    path defers to (lake/table.py ``create_or_replace``: replaced files
    "are reclaimed by retention"). Without it every COW rewrite, every
    compaction and every replace leaves its superseded parquet files on
    disk forever, so a sustained 10^10-event MOR stream roughly doubles
    storage without bound.

    Semantics (Iceberg's ``expireSnapshots`` + ``removeOrphanFiles``,
    re-expressed for the icelet layout):

    - Retain the newest ``keep_last`` snapshots (the current one always
      survives); delete older snapshot JSONs — time travel stays available
      inside the retained window, reads of expired versions raise.
    - Delete data files that were referenced ONLY by now-expired snapshots
      (committed-then-superseded: these can never belong to an in-flight
      write, so no grace period is needed).
    - Sweep ORPHANS — files referenced by NO snapshot at all, i.e. crash
      leftovers from a write that died before its snapshot commit — but
      only when older than ``orphan_grace_s``: a concurrent apply writes
      its data files BEFORE publishing the snapshot, and the grace window
      is what keeps the sweep from racing it.

    Concurrency: the whole sweep runs under the table write lock
    (lake/locking.py), so it cannot interleave with a commit's metadata
    critical section; an in-flight apply's pre-commit DATA files are
    protected by the orphan grace window (their mtime is fresh), and the
    files its commit will carry forward are referenced by the current
    snapshot, which is always retained. Pure metadata + filesystem work:
    no Spark job. Lineage files are never touched (they are the audit
    trail, bytes are negligible).
    """
    from .locking import table_write_lock

    root = table.root
    with table_write_lock(root):
        return _expire_snapshots_locked(root, keep_last, orphan_grace_s)


def _is_writer_marker(fn: str) -> bool:
    """Hadoop/Spark writer markers (``_SUCCESS``, ``.*.crc`` checksums) —
    not data, never referenced by a manifest; counted apart from genuine
    crash orphans so ``orphans_deleted`` means what it says (ADVICE r4).
    The table's writer leaves none; commit directories written by Spark's
    parquet writer before it still hold them."""
    return fn == "_SUCCESS" or (fn.startswith(".") and fn.endswith(".crc"))


def _expire_snapshots_locked(
    root: str, keep_last: int, orphan_grace_s: float
) -> dict:
    cur = read_current_version(root)
    if cur is None:
        raise FileNotFoundError(f"no icelet table at {root}")
    keep_last = max(1, int(keep_last))
    snapdir = os.path.join(root, "snapshots")
    versions = sorted(
        int(m.group(1))
        for fn in os.listdir(snapdir)
        if (m := _SNAP_RE.match(fn))
    )
    now = time.time()
    # snapshot JSONs AHEAD of the pointer are uncommitted: a commit that
    # wrote v{cur+1}.json but crashed before the pointer swing (the pointer
    # is the source of truth). Past the grace window they cannot be a
    # commit mid-swing (that window is milliseconds, and the write lock is
    # held here anyway), so their JSON is removed and their data files —
    # now referenced by no snapshot — fall to the orphan sweep below
    # (same-age mtimes, so the same grace applies). ADVICE r4: without
    # this, a crashed commit pinned its files as live forever.
    uncommitted = [
        v for v in versions
        if v > cur and now - os.path.getmtime(snapshot_path(root, v)) >= orphan_grace_s
    ]
    min_keep = cur - keep_last + 1
    retained = [v for v in versions if v >= min_keep and v not in set(uncommitted)]
    expired = [v for v in versions if v < min_keep]

    live: set[str] = set()
    for v in retained:
        snap = read_snapshot(root, v)
        live.update(f.path for f in snap.files)
    expired_refs: set[str] = set()
    for v in expired:
        snap = read_snapshot(root, v)
        expired_refs.update(f.path for f in snap.files)
    dead = expired_refs - live
    # a directory tree is live while any live file sits under it: its
    # writer markers are routine, not reclaimable garbage — left in place
    # so a healthy table reports an all-zero sweep (idempotent runs).
    # Ancestors matter: _SUCCESS sits at the commit dir root
    # (data/vN-uuid/_SUCCESS) while data files sit one level down in
    # _bucket=K/ subdirs.
    live_dirs: set[str] = set()
    for p in live:
        d = os.path.dirname(p)
        while d and d != "data" and d not in live_dirs:
            live_dirs.add(d)
            d = os.path.dirname(d)

    files_deleted = 0
    bytes_reclaimed = 0
    orphans_deleted = 0
    markers_deleted = 0
    datadir = os.path.join(root, "data")
    # each directory's mtime from before this pass deletes anything: the
    # deletions below bump the mtime of every directory they empty
    dir_mtimes: dict[str, float] = {}
    for base, _dirs, fns in os.walk(datadir):
        try:
            dir_mtimes[base] = os.stat(base).st_mtime
        except FileNotFoundError:
            continue
        for fn in fns:
            p = os.path.join(base, fn)
            rel = os.path.relpath(p, root)
            if rel in live:
                continue
            marker = _is_writer_marker(fn)
            if marker and os.path.dirname(rel) in live_dirs:
                continue
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            if rel in dead:
                os.remove(p)
                files_deleted += 1
                bytes_reclaimed += st.st_size
            elif now - st.st_mtime >= orphan_grace_s:
                os.remove(p)
                if marker:
                    markers_deleted += 1
                else:
                    # referenced by no snapshot: crash leftover past grace
                    orphans_deleted += 1
                bytes_reclaimed += st.st_size

    # empty-dir pruning respects the same grace window as orphan files: a
    # concurrent write's attempt directory is EMPTY until its tasks' first
    # files land, and an ungraced rmdir here fails that write (older Spark
    # commit directories staged through empty _temporary/ dirs the same
    # way; caught by tests/test_locking.py's interleaved apply+expire race).
    # The walk is bottom-up, so a directory whose subdirectories this loop
    # removed is pruned in the same pass; a directory that appeared during
    # the pass has no recorded mtime and is left for the next one
    dirs_removed = 0
    removed: set[str] = set()
    for base, dirs_, fns in os.walk(datadir, topdown=False):
        if base == datadir or fns or any(os.path.join(base, d) not in removed for d in dirs_):
            continue
        if base not in dir_mtimes or now - dir_mtimes[base] < orphan_grace_s:
            continue
        try:
            os.rmdir(base)
        except OSError:  # vanished, or a concurrent writer refilled it
            continue
        removed.add(base)
        dirs_removed += 1

    for v in expired:
        os.remove(snapshot_path(root, v))
    for v in uncommitted:
        os.remove(snapshot_path(root, v))

    return {
        "snapshots_expired": len(expired),
        "snapshots_retained": len(retained),
        "uncommitted_snapshots_removed": len(uncommitted),
        "data_files_deleted": int(files_deleted),
        "orphans_deleted": int(orphans_deleted),
        "writer_markers_deleted": int(markers_deleted),
        "bytes_reclaimed": int(bytes_reclaimed),
        "dirs_removed": int(dirs_removed),
    }
