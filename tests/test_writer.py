"""The lake's one writer (lake/table.bucket_file_writer): every commit —
a MOR delta, a COW rewrite, a coalesce rewrite and a compaction — is
written by one pyarrow pass per task, and its manifest comes from the rows
those tasks return.

1. Writer contract: commit directories hold only parquet files; each
   manifest entry's rows and key bounds equal a pyarrow read of its file;
   a MOR apply's delete count equals its files' tombstones; a scan mixing
   a Spark-written (INT96 timestamp) file with a new one returns both.
   (A batch the integrity guard rejects leaving no ``data/v*`` directory
   is pinned by tests/test_cdc_apply.py, on MOR and on COW.)
2. Extraction through the writer: batch-won live rows get exactly
   ``extract_text_one(html)``, stored-won rows keep their stored text,
   deletes get NULL, and a coalesce batch with NULL html keeps the stored
   text.
3. A bucket larger than a row group streams through the task in bounded
   row groups, in arrival order.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.fused import fused_merge
from game_library_enrichment_etl_spark.cdc.tables import PAGES_SCHEMA, create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.functions.extract import extract_text_one
from game_library_enrichment_etl_spark.lake.maintenance import compact
from game_library_enrichment_etl_spark.lake.snapshot import DataFileMeta
from game_library_enrichment_etl_spark.lake.table import BUCKET_COL, bucket_file_writer
from game_library_enrichment_etl_spark.lake.xxhash import bucket_of

from test_cdc_apply import adversarial_html


def _commit_dirs(t, files):
    return {os.path.join(t.root, *f.path.split("/")[:2]) for f in files}


def _check_commit(t, files):
    """Only parquet files under each commit directory, and manifest entries
    equal to their files."""
    for d in _commit_dirs(t, files):
        for base, dirs, fns in os.walk(d):
            assert "_temporary" not in dirs, base
            for fn in fns:
                assert fn.endswith(".parquet") and not fn.startswith("."), (base, fn)
    for f in files:
        tbl = pq.read_table(os.path.join(t.root, f.path))
        keys = tbl["url"]
        assert f.rows == tbl.num_rows, f
        assert (f.min_key, f.max_key) == (pc.min(keys).as_py(), pc.max(keys).as_py()), f
        assert len(set(keys.to_pylist())) == tbl.num_rows, f"{f.path}: a key written twice"


def test_every_commit_kind_writes_only_parquet_with_exact_manifest(spark, tmp_path):
    ev = gen_change_events(1200, 150, seed=21, delete_frac=0.1).drop(columns=["title"])
    paths = write_change_segments(str(tmp_path / "wal"), ev, 3)

    mor = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor")
    cow = create_pages_table(spark, str(tmp_path / "cow"), n_buckets=4)
    for p, mode in zip(paths, ("overwrite", "overwrite", "coalesce")):
        for t in (mor, cow):
            before = {f.path for f in t.snapshot().files}
            res = apply_batch(t, spark.read.parquet(p), mode=mode)
            new = [f for f in t.snapshot().files if f.path not in before]
            assert new, (t.root, mode)
            _check_commit(t, new)
            if t is mor and mode == "overwrite":
                tomb = sum(pc.sum(pq.read_table(os.path.join(t.root, f.path))["_deleted"]).as_py()
                           or 0 for f in new)
                assert res.metrics["delete_winners"] == tomb
    for t in (mor, cow):
        compact(t, expire_tombstones=False)
        files = t.snapshot().files
        assert len({f.sequence for f in files}) == 1
        _check_commit(t, files)


def test_scan_mixes_spark_int96_file_with_new_file(spark, tmp_path):
    """A table committed by Spark's parquet writer (INT96 timestamps, the
    layout older commits have) reads together with the writer's files
    (INT64 timestamps), in one scan of the same bucket."""
    t = create_pages_table(spark, str(tmp_path / "mor"), n_buckets=4, merge_strategy="mor")
    old_url, new_url = "https://a.example/old", "https://a.example/new"
    b = bucket_of(old_url, 4)
    while bucket_of(new_url, 4) != b:  # same bucket: the read resolves both
        new_url += "x"
    ts = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
    old = spark.createDataFrame(
        [(old_url, ts, 1, b"<p>old</p>", "old", "en", False)],
        t.snapshot().schema.to_spark(),
    )
    rel = f"data/v1-0123abcd/{BUCKET_COL}={b}"
    old.coalesce(1).write.parquet(os.path.join(t.root, rel))
    (fn,) = [x for x in os.listdir(os.path.join(t.root, rel)) if x.endswith(".parquet")]
    path = os.path.join(t.root, rel, fn)
    ts_col = pq.ParquetFile(path).schema.column(1)
    assert ts_col.name == "warc_ts" and ts_col.physical_type == "INT96"
    t.commit([DataFileMeta(f"{rel}/{fn}", b, 1, old_url, old_url, 0, 1)], set(), [])

    batch = spark.createDataFrame(
        [("U", new_url, ts, 2, b"<p>new</p>", "en", 7)],
        "op string, url string, warc_ts timestamp, lsn long, html binary, lang string, "
        "batch_id long",
    )
    apply_batch(t, batch)
    new_file = [f for f in t.snapshot().files if f.sequence == 2][0]
    assert pq.ParquetFile(os.path.join(t.root, new_file.path)).schema.column(1).physical_type == "INT64"
    read = t.read().select("url", F.col("warc_ts").cast("long").alias("ts"), "text")
    epoch = int(ts.timestamp())
    assert sorted(map(tuple, read.collect())) == sorted(
        [(old_url, epoch, "old"), (new_url, epoch, "new")]
    )


def _written_rows(spark, root, merged):
    (root / "data" / "v1-00000000").mkdir(parents=True)
    rows = bucket_file_writer(merged, str(root), "data/v1-00000000", "url",
                              {"text": "html"}).collect()
    df = spark.read.parquet(*[str(root / r["path"]) for r in rows])
    return {r["url"]: r for r in df.collect()}


def test_writer_extracts_batch_winners_and_passes_stored_text(spark, tmp_path):
    samples = adversarial_html()
    t0 = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
    at = [t0 + dt.timedelta(seconds=s) for s in range(4)]
    # stored rows: newer than the batch's stale rows, text a sentinel that
    # no extraction of their html yields
    target = spark.createDataFrame(
        [(f"u/s{i}", at[2], 2, h, f"stored-{i}", "en", False) for i, h in enumerate(samples)]
        + [("u/c", at[0], 0, b"<p>kept html</p>", "stored-c", "en", False)],
        PAGES_SCHEMA,
    ).withColumn("_seq", F.lit(1).cast("long"))
    batch_schema = "op string, url string, warc_ts timestamp, lsn long, html binary, lang string"
    batch = spark.createDataFrame(
        [("U", f"u/b{i}", at[1], 10_000 + i, h, "en") for i, h in enumerate(samples)]
        + [("U", f"u/s{i}", at[1], 20_000 + i, b"<p>stale</p>", "en") for i in range(len(samples))]
        + [("D", f"u/d{i}", at[1], 30_000 + i, None, None) for i in range(3)],
        batch_schema,
    )
    out = fused_merge(target, batch, "url", "op", ("warc_ts", "lsn"), PAGES_SCHEMA,
                      {"text": "html"}, 4)
    got = _written_rows(spark, tmp_path / "overwrite", out)
    for i, h in enumerate(samples):
        assert got[f"u/b{i}"]["text"] == extract_text_one(h), h
        assert got[f"u/s{i}"]["text"] == f"stored-{i}"
    for i in range(3):
        assert got[f"u/d{i}"]["text"] is None and got[f"u/d{i}"]["_deleted"] is True

    # coalesce: a newer batch row with NULL html keeps the stored html and
    # text, and takes its other non-null cells
    cbatch = spark.createDataFrame([("U", "u/c", at[3], 5, None, "de")], batch_schema)
    out = fused_merge(target, cbatch, "url", "op", ("warc_ts", "lsn"), PAGES_SCHEMA,
                      {"text": "html"}, 4, mode="coalesce")
    row = _written_rows(spark, tmp_path / "coalesce", out)["u/c"]
    assert (bytes(row["html"]), row["text"], row["lang"], row["lsn"]) == (
        b"<p>kept html</p>", "stored-c", "de", 5,
    )


def test_writer_streams_a_large_bucket_in_bounded_row_groups(monkeypatch, tmp_path):
    """A bucket larger than a row group is written as it arrives: the task
    holds about one row group and one Arrow batch of it, never the whole
    bucket, and the manifest row still totals the whole file."""
    import pyarrow as pa
    import pyspark

    from game_library_enrichment_etl_spark.lake import table as lake_table

    class Ctx:
        def partitionId(self):
            return 3

        def taskAttemptId(self):
            return 17

    rg = 1 << 20
    monkeypatch.setattr(lake_table, "ROW_GROUP_BYTES", rg)
    monkeypatch.setattr(pyspark.TaskContext, "get", classmethod(lambda cls: Ctx()))
    (tmp_path / "data" / "v1-00000000").mkdir(parents=True)
    n_batches, per_batch, payload = 40, 200, b"x" * 2048  # ~0.4 MB a batch
    peak = []

    def batches():
        for i in range(n_batches):
            peak.append(pa.total_allocated_bytes())
            urls = [f"u{i:03d}-{j:04d}" for j in range(per_batch)]
            yield pa.record_batch(
                [pa.array(urls), pa.array([payload] * per_batch, pa.binary()),
                 pa.array([j % 10 == 0 for j in range(per_batch)]),
                 pa.array([5] * per_batch, pa.int32())],
                ["url", "html", "_deleted", BUCKET_COL],
            )

    (row,) = lake_table._write_bucket_files(str(tmp_path), "data/v1-00000000", "url", {},
                                            batches())
    total = n_batches * per_batch * len(payload)
    assert max(peak) < 2 * rg + total // n_batches * 2, (max(peak), total)
    m = row.to_pylist()[0]
    assert m["path"] == f"data/v1-00000000/{BUCKET_COL}=5/part-00003-17.parquet"
    assert (m["bucket"], m["rows"], m["deleted"]) == (5, n_batches * per_batch, n_batches * 20)
    assert (m["min_key"], m["max_key"]) == ("u000-0000", f"u{n_batches - 1:03d}-{per_batch - 1:04d}")
    f = pq.ParquetFile(tmp_path / m["path"])
    meta = f.metadata
    assert meta.num_rows == m["rows"] and meta.num_row_groups > 1
    # rows in arrival order: the fold's key order
    urls = f.read(columns=["url"])["url"].to_pylist()
    assert urls == [f"u{i:03d}-{j:04d}" for i in range(n_batches) for j in range(per_batch)]
    assert all(meta.row_group(i).total_byte_size < 2 * rg for i in range(meta.num_row_groups))
