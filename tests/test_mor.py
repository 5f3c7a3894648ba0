"""Merge-on-read strategy: O(batch) writes, read-time LWW resolution,
cow-equivalence, bounded write amplification, compaction fold, and the
CREATE OR REPLACE full-replay verb (SURVEY.md §4 custom-3; VERDICT r1 #2/#9)."""

from __future__ import annotations

import pandas as pd
import pytest

from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import PAGES_SCHEMA, create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.lake.maintenance import compact
from game_library_enrichment_etl_spark.lake.table import IceletTable

from model_oracle import model_final_state


def _state(table) -> pd.DataFrame:
    return (
        table.read()
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
        .sort_index(axis=1)
    )


def _apply_all(spark, table, paths):
    for p in paths:
        res = apply_batch(table, spark.read.parquet(p))
        assert not res.skipped
    return table


def test_mor_equals_cow_final_state(spark, tmp_path):
    ev = gen_change_events(2000, 250, seed=7)
    paths = write_change_segments(str(tmp_path / "wal"), ev, 5)

    cow = _apply_all(spark, create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4), paths)
    mor = _apply_all(
        spark,
        create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor"),
        paths,
    )
    s_cow, s_mor = _state(cow), _state(mor)
    assert len(s_cow) == len(s_mor)
    pd.testing.assert_frame_equal(s_cow, s_mor)


def test_mor_write_amplification_bounded(spark, tmp_path):
    """A batch touching ~1% of keys must append ~that many rows of new data
    files — never a rewrite proportional to the table (the r1 scale-killer)."""
    ev = gen_change_events(4000, 1000, seed=11)
    paths = write_change_segments(str(tmp_path / "wal"), ev, 2)
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=8, merge_strategy="mor")
    _apply_all(spark, table, paths)
    before = table.snapshot()
    stored_before = before.total_rows()

    # a tiny follow-up batch: 10 keys out of 1000
    small = gen_change_events(10, 10, seed=99, start_lsn=10_000_000)
    small_paths = write_change_segments(str(tmp_path / "wal2"), small, 1, first_batch_id=50)
    apply_batch(table, spark.read.parquet(small_paths[0]))

    after = table.snapshot()
    new_files = [f for f in after.files if f.sequence == after.version]
    new_rows = sum(f.rows for f in new_files)
    assert new_rows <= 10, f"appended {new_rows} rows for a 10-key batch"
    # nothing was rewritten: every pre-existing file carried forward
    prev_paths = {f.path for f in before.files}
    assert prev_paths <= {f.path for f in after.files}
    assert after.total_rows() == stored_before + new_rows


def test_mor_compaction_folds_and_preserves_state(spark, tmp_path):
    ev = gen_change_events(3000, 300, seed=23)
    paths = write_change_segments(str(tmp_path / "wal"), ev, 6)
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4, merge_strategy="mor")
    _apply_all(spark, table, paths)

    before = _state(table)
    snap = table.snapshot()
    per_bucket = {}
    for f in snap.files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert max(per_bucket.values()) > 1  # deltas actually accumulated

    m = compact(table, expire_tombstones=False)
    assert m["buckets"] > 0
    snap2 = table.snapshot()
    per_bucket2 = {}
    for f in snap2.files:
        per_bucket2[f.bucket] = per_bucket2.get(f.bucket, 0) + 1
    assert max(per_bucket2.values()) == 1  # resolution-free reads from here
    pd.testing.assert_frame_equal(before, _state(table))


def test_mor_replay_is_idempotent(spark, tmp_path):
    ev = gen_change_events(1000, 100, seed=5)
    paths = write_change_segments(str(tmp_path / "wal"), ev, 2)
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4, merge_strategy="mor")
    _apply_all(spark, table, paths)
    state = _state(table)
    v = table.snapshot().version
    res = apply_batch(table, spark.read.parquet(paths[0]))  # replay seg 0
    assert res.skipped
    assert table.snapshot().version == v
    pd.testing.assert_frame_equal(state, _state(table))


def test_property_random_ops_mor_with_midstream_compaction(spark, tmp_path):
    """Randomized I/U/D over hot keys applied under merge-on-read, with a
    compaction in the MIDDLE of the stream — final state must still equal
    the Python model replay (resolution-order independence)."""
    import numpy as np
    import pandas as pd
    import sys, os
    sys.path.insert(0, os.path.dirname(__file__))
    from model_oracle import model_final_state

    rng = np.random.default_rng(77)
    n = 400
    urls = [f"u{i}" for i in range(12)]
    base = pd.Timestamp("2024-06-01")
    rows = []
    for lsn in range(n):
        u = urls[rng.integers(len(urls))]
        op = rng.choice(["I", "U", "D"], p=[0.2, 0.6, 0.2])
        sec = int(rng.integers(0, 500))  # heavily out-of-order event time
        html = None if op == "D" else f"<p>v{lsn}</p>".encode()
        lang = None if op == "D" else "en"
        rows.append((op, lsn, u, base + pd.Timedelta(seconds=sec), html, lang))
    ev = pd.DataFrame(rows, columns=["op", "lsn", "url", "warc_ts", "html", "lang"])
    ev["batch_id"] = rng.integers(0, 4, size=n)

    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4, merge_strategy="mor")
    for b in range(4):
        apply_batch(table, spark.createDataFrame(ev[ev["batch_id"] == b]))
        if b == 1:
            compact(table, expire_tombstones=False)

    want = model_final_state(ev, payload_cols=("html", "lang"))
    got = table.read().toPandas().sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])
    assert list(got["text"]) == list(want["text"])


def test_create_or_replace_resets_and_keeps_history(spark, tmp_path):
    ev = gen_change_events(800, 120, seed=3)
    paths = write_change_segments(str(tmp_path / "wal"), ev, 2)
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    _apply_all(spark, table, paths)
    state1 = _state(table)
    v_old = table.snapshot().version
    assert len(state1) > 0

    # destructive reset: empty table, cleared markers, prior snapshots intact
    table = IceletTable.create_or_replace(
        spark, str(tmp_path / "t"), PAGES_SCHEMA, key_col="url",
        version_cols=("warc_ts", "lsn"), n_buckets=4,
    )
    snap = table.snapshot()
    assert snap.version == v_old + 1
    assert snap.files == [] and snap.applied_batch_ids == []
    assert table.read().count() == 0
    # time travel to the pre-replace snapshot still works
    assert table.read(version=v_old).count() == len(state1)

    # full replay reproduces the original state (replay equivalence)
    _apply_all(spark, table, paths)
    pd.testing.assert_frame_equal(state1, _state(table))


def test_read_resolve_matches_model(spark, tmp_path):
    """VERDICT r3 next #6: the read-time LWW resolve (one payload exchange,
    bucket-partitioned sort, first-of-key filter) must produce exactly the
    model's final state, and its physical plan must contain exactly ONE
    Exchange (the bucket route) and no join."""
    ev = gen_change_events(1500, 200, seed=83, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 5)
    t = create_pages_table(
        spark, str(tmp_path / "pages"), n_buckets=4, merge_strategy="mor"
    )
    for p in paths:
        apply_batch(t, spark.read.parquet(p))

    got = t.read().toPandas().sort_values("url").reset_index(drop=True)
    want = model_final_state(ev)
    assert len(got) == len(want)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])
    assert list(got["lang"]) == list(want["lang"])
    assert list(got["text"]) == list(want["text"])
    assert [bytes(b) if b is not None else None for b in got["html"]] == list(want["html"])

    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    # the fold with no batch side: no extraction, no Python at all
    assert "ArrowEvalPython" not in plan, plan


def test_single_reader_resolve_seq_from_path(spark, tmp_path):
    """r6: the read-time resolve plans ONE scan branch per schema version
    (not per commit sequence), deriving _seq from the commit directory in
    the file path. The derived _seq must match the manifest sequence for
    every file, the single-scan read must equal the per-sequence fallback
    row for row, and a look-alike root component must not mis-parse."""
    from game_library_enrichment_etl_spark.lake import table as lake_table

    ev = gen_change_events(1200, 150, seed=29, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 4)
    # each root contains a look-alike data/v{n}-{hex8} pair, so the
    # executor-side regex must take the LAST match, not the first; the
    # second root ENDS in it, so a match that consumed its trailing slash
    # would swallow the separator the real commit dir's match needs
    roots = (
        tmp_path / "data" / "v1-deadbeef" / "pages",
        tmp_path / "end" / "data" / "v1-deadbeef",
    )
    for root in roots:
        t = create_pages_table(spark, str(root), n_buckets=4, merge_strategy="mor")
        for p in paths:
            apply_batch(t, spark.read.parquet(p))
        _check_seq_from_path(t, lake_table)


def _check_seq_from_path(t, lake_table):
    snap = t.snapshot()
    assert len({f.sequence for f in snap.files}) == 4
    # driver-side invariant: every written file's path encodes its sequence
    for f in snap.files:
        assert lake_table._path_sequence(f.path) == f.sequence
    # executor-side: the raw _seq-tagged scan's (path-derived) _seq set
    # must be exactly the manifest's sequence set, with matching row counts
    raw = t._scan(snap, snap.files, snap.schema, with_seq=True)
    got = {
        int(r["_seq"]): int(r["n"])
        for r in raw.groupBy("_seq").count().withColumnRenamed("count", "n").collect()
    }
    want: dict[int, int] = {}
    for f in snap.files:
        want[f.sequence] = want.get(f.sequence, 0) + f.rows
    assert got == want
    # exactly one scan branch is planned for the single-schema table
    plan = raw._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan

    fast = t.read().toPandas().sort_values("url").reset_index(drop=True)
    # force the per-sequence fallback (unparseable paths) — same rows
    import unittest.mock as mock

    with mock.patch.object(lake_table, "_path_sequence", lambda p: None):
        slow_df = t.read()
        assert (
            slow_df._jdf.queryExecution().executedPlan().toString().count("Scan parquet")
            == 4
        )
        slow = slow_df.toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(fast, slow)


def test_scan_planning_submits_no_job(spark, tmp_path):
    """A lake scan is planned from the manifest alone: building ``read()``
    and building ``compact()``'s scan on a table of more than 32 live files
    (Spark's default threshold for a file-listing job) submits no job."""
    ev = gen_change_events(3000, 600, seed=41, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 3)
    t = create_pages_table(spark, str(tmp_path / "t"), n_buckets=16, merge_strategy="mor")
    _apply_all(spark, t, paths)
    assert len(t.snapshot().files) > 32

    sc = spark.sparkContext

    def job_ids() -> set[int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    before = job_ids()
    df = t.read()
    assert job_ids() == before

    class Planned(Exception):
        pass

    def stop_before_write(out, *args, **kwargs):
        out._jdf.queryExecution().sparkPlan()  # plan fully, run nothing
        raise Planned

    before = job_ids()
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(t, "write_data_files_prepartitioned", stop_before_write)
        with pytest.raises(Planned):
            compact(t, expire_tombstones=False)
    assert job_ids() == before

    want = model_final_state(ev)
    assert compact(t, expire_tombstones=False)["buckets"] == 16
    for read in (df, t.read()):  # before and after the compaction
        got = read.toPandas().sort_values("url").reset_index(drop=True)
        assert list(got["url"]) == list(want["url"])
        assert list(got["lsn"]) == list(want["lsn"])
        assert list(got["text"]) == list(want["text"])


def test_coalesce_onto_mor_folds_in_one_exchange(spark, tmp_path, monkeypatch):
    """A coalesce merge onto a merge-on-read table folds the raw rows of
    its touched buckets, each tagged with its commit sequence, together
    with the batch: the write plan has the merge's one Exchange, not a
    resolving read's exchange under it. The final state equals a
    copy-on-write table fed the same segments in the same modes."""
    ev = gen_change_events(1500, 200, seed=61, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 3)
    modes = ("overwrite", "overwrite", "coalesce")
    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    mor = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor")
    for p, mode in zip(paths, modes):
        apply_batch(cow, spark.read.parquet(p), mode=mode)

    written = []
    orig = IceletTable.write_data_files_prepartitioned

    def spy(self, df, *a, **k):
        written.append(df)
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceletTable, "write_data_files_prepartitioned", spy)
    for p, mode in zip(paths, modes):
        apply_batch(mor, spark.read.parquet(p), mode=mode)
    monkeypatch.undo()

    plan = written[-1]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    pd.testing.assert_frame_equal(_state(mor), _state(cow))
