"""Compaction + tombstone expiry: table state is unchanged for live rows,
expired tombstones disappear, markers and time travel survive."""

from __future__ import annotations

import pandas as pd

from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.lake.maintenance import compact


def test_compact_preserves_live_state_and_expires_tombstones(spark, tmp_path):
    ev = gen_change_events(1200, 150, seed=51, delete_frac=0.15)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 3)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    for p in paths:
        apply_batch(t, spark.read.parquet(p), lateness_s=600)

    before = t.read().toPandas().sort_values("url").reset_index(drop=True)
    n_tomb_before = t.read(include_deleted=True).count() - len(before)
    assert n_tomb_before > 0
    v_before = t.snapshot().version
    markers = t.snapshot().applied_batch_ids

    m = compact(t)
    assert m["snapshot_version"] == v_before + 1
    assert m["tombstones_expired"] > 0

    after = t.read().toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # markers survive compaction (exactly-once unaffected)
    assert t.snapshot().applied_batch_ids == markers
    # replaying a segment after compaction is still a no-op
    res = apply_batch(t, spark.read.parquet(paths[0]), lateness_s=600)
    assert res.skipped
    # time travel to the pre-compaction snapshot still works
    old = t.read(version=v_before).toPandas().sort_values("url").reset_index(drop=True)
    pd.testing.assert_frame_equal(before, old)


def test_auto_compaction_bounds_read_amplification(spark, tmp_path):
    """Sustained MOR stream with auto-compaction (VERDICT r2 #4): per-bucket
    delta-file count stays bounded over 24 batches, and the final state
    equals a COW replay of the same stream."""
    from game_library_enrichment_etl_spark.streaming.runner import tail_segments

    ev = gen_change_events(4800, 400, seed=77, delete_frac=0.08)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 24)
    threshold = 4
    mor = create_pages_table(
        spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor"
    )
    results = tail_segments(mor, str(tmp_path / "wal"), auto_compact=threshold)
    assert len(results) == 24
    assert any("compaction" in r.metrics for r in results), "never triggered"

    counts: dict[int, int] = {}
    for f in mor.snapshot().files:
        counts[f.bucket] = counts.get(f.bucket, 0) + 1
    # bound: threshold deltas + at most one freshly-appended batch per bucket
    assert max(counts.values()) <= threshold + 1, counts

    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    for p in paths:
        apply_batch(cow, spark.read.parquet(p))
    s_mor = mor.read().toPandas().sort_values("url").reset_index(drop=True).sort_index(axis=1)
    s_cow = cow.read().toPandas().sort_values("url").reset_index(drop=True).sort_index(axis=1)
    pd.testing.assert_frame_equal(s_mor, s_cow)


def test_compaction_preserves_read_and_matches_cow(spark, tmp_path):
    """Compaction (one payload exchange + one sort, winners selected by the
    table's LWW resolve, spill-bounded salt shards) must leave the MOR
    table reading exactly as before it ran and as a copy-on-write replay
    of the same segments, while expiring tombstones and folding every
    bucket to one commit sequence."""
    ev = gen_change_events(2000, 250, seed=71, delete_frac=0.12)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 4)
    mor = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor")
    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    for p in paths:
        apply_batch(mor, spark.read.parquet(p), lateness_s=600)
        apply_batch(cow, spark.read.parquet(p), lateness_s=600)

    def state(t):
        return t.read().toPandas().sort_values("url").reset_index(drop=True).sort_index(axis=1)

    before = state(mor)
    rows_before = mor.snapshot().total_rows()
    m = compact(mor)
    assert m["rows_before"] == rows_before
    assert m["tombstones_expired"] > 0
    assert m["rows_after"] == mor.snapshot().total_rows()

    after = state(mor)
    pd.testing.assert_frame_equal(after, before)
    pd.testing.assert_frame_equal(after, state(cow))
    # post-compaction reads are resolution-free
    seqs = {}
    for f in mor.snapshot().files:
        seqs.setdefault(f.bucket, set()).add(f.sequence)
    assert max(len(s) for s in seqs.values()) == 1


def test_compaction_plan_one_exchange_no_join(spark, tmp_path, monkeypatch):
    """The DataFrame compaction writes resolves and rewrites through ONE
    payload exchange (the bucket route) and no join."""
    from game_library_enrichment_etl_spark.lake.table import IceletTable

    ev = gen_change_events(1200, 150, seed=73, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 3)
    t = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor")
    for p in paths:
        apply_batch(t, spark.read.parquet(p), lateness_s=600)

    written = []
    orig = IceletTable.write_data_files_prepartitioned

    def spy(self, df, *a, **k):
        written.append(df)
        return orig(self, df, *a, **k)

    monkeypatch.setattr(IceletTable, "write_data_files_prepartitioned", spy)
    compact(t)
    assert len(written) == 1
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_selective_resolve_shuffles_only_multi_sequence_buckets(spark, tmp_path, monkeypatch):
    """Round-5: read() resolves PER BUCKET. After a partial compaction the
    compacted (single-sequence) buckets' rows must bypass the resolve
    exchange entirely — only still-multi-sequence buckets feed it — and
    the result must equal a COW replay of the same stream."""
    ev = gen_change_events(2400, 300, seed=91, delete_frac=0.1)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 4)
    t = create_pages_table(
        spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor"
    )
    for p in paths:
        apply_batch(t, spark.read.parquet(p), lateness_s=600)

    compact(t, buckets=[0, 1])
    per_bucket: dict[int, set[int]] = {}
    rows_per_bucket: dict[int, int] = {}
    for f in t.snapshot().files:
        per_bucket.setdefault(f.bucket, set()).add(f.sequence)
        rows_per_bucket[f.bucket] = rows_per_bucket.get(f.bucket, 0) + f.rows
    multi = {b for b, s in per_bucket.items() if len(s) > 1}
    assert multi and multi != set(per_bucket), (
        "fixture must yield a mix of compacted and delta buckets"
    )

    from game_library_enrichment_etl_spark.lake.table import LwwFold

    seen: dict[str, int] = {}
    orig = LwwFold.apply

    def spy(self, df, *a, **k):
        seen["resolve_input_rows"] = df.count()
        return orig(self, df, *a, **k)

    monkeypatch.setattr(LwwFold, "apply", spy)
    got = t.read().toPandas().sort_values("url").reset_index(drop=True).sort_index(axis=1)
    monkeypatch.undo()

    # only the uncompacted buckets' stored rows entered the exchange
    assert seen["resolve_input_rows"] == sum(rows_per_bucket[b] for b in multi)
    assert seen["resolve_input_rows"] < sum(rows_per_bucket.values())

    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    for p in paths:
        apply_batch(cow, spark.read.parquet(p), lateness_s=600)
    want = cow.read().toPandas().sort_values("url").reset_index(drop=True).sort_index(axis=1)
    pd.testing.assert_frame_equal(got, want)
