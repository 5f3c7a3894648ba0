"""Source operators: csv scan, raw landings, retry-bounded enrichment."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from game_library_enrichment_etl_spark.sources.readers import (
    JobConfig,
    csv_scan,
    enrich_with_retry,
    latest_landing,
    local_path,
    raw_landing,
    read_change_batch,
)


def test_csv_scan_with_rename(spark, tmp_path):
    p = tmp_path / "lib.csv"
    p.write_text("Name,Release Date\nHalo,2001-11-15\nMyst,1993-09-24\n")
    schema = T.StructType(
        [T.StructField("Name", T.StringType()), T.StructField("Release Date", T.StringType())]
    )
    df = csv_scan(spark, str(p), schema=schema, rename={"Name": "name", "Release Date": "release_date"})
    assert df.columns == ["name", "release_date"]
    assert df.count() == 2


def test_raw_landing_immutable_and_latest(spark, tmp_path):
    df = spark.range(5).select(F.col("id"))
    base = str(tmp_path / "raw")
    p1 = raw_landing(df, base, "2024-01-01T000000")
    p2 = raw_landing(df, base, "2024-01-02T000000")
    assert latest_landing(base) == p2
    # write-once: same landing path refuses overwrite
    with pytest.raises(Exception):
        raw_landing(df, base, "2024-01-02T000000")


def test_enrich_with_retry_vectorized(spark):
    calls = {"n": 0}

    def flaky_lookup(k: str) -> dict | None:
        # fails on first attempt for even keys; returns None for key '3'
        calls["n"] += 1
        if k == "3":
            return None
        if int(k) % 2 == 0 and calls.setdefault(f"seen{k}", 0) == 0:
            calls[f"seen{k}"] = 1
            raise RuntimeError("transient")
        return {"hours": float(k) * 2.0, "label": f"game-{k}"}

    df = spark.createDataFrame([(str(i),) for i in range(6)], ["key"])
    out = enrich_with_retry(
        df, "key", flaky_lookup, [("hours", "double"), ("label", "string")], attempts=2
    ).toPandas().sort_values("key").reset_index(drop=True)
    assert out.loc[out.key == "4", "hours"].iloc[0] == 8.0
    assert pd.isna(out.loc[out.key == "3", "hours"].iloc[0])
    assert out.loc[out.key == "1", "label"].iloc[0] == "game-1"


def test_job_config(tmp_path):
    cfg = JobConfig(
        table_root=str(tmp_path / "t" / "pages"),
        wal_dir=str(tmp_path / "wal"),
        checkpoint_dir=str(tmp_path / "cp"),
    )
    cfg.ensure_dirs()
    import os

    assert os.path.isdir(cfg.wal_dir) and os.path.isdir(cfg.checkpoint_dir)


def test_tail_segments_leaves_session_conf_unchanged(spark, tmp_path):
    """Applying a segment must not leave session state behind: a split
    size written by the source read would re-plan every later lake scan."""
    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
    from game_library_enrichment_etl_spark.datagen import (
        gen_change_events,
        write_change_segments,
    )
    from game_library_enrichment_etl_spark.streaming.runner import tail_segments

    wal = str(tmp_path / "wal")
    write_change_segments(wal, gen_change_events(400, 80, seed=3), 1)
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4, merge_strategy="mor")
    split_before = spark.conf.get("spark.sql.files.maxPartitionBytes")
    before = dict(spark.conf.getAll)
    results = tail_segments(table, wal)
    assert len(results) == 1 and not results[0].skipped
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == split_before
    assert dict(spark.conf.getAll) == before


def test_local_path_decodes_file_uris_only():
    """Both spellings Spark gives a local file decode to its path; another
    scheme names no local file, whatever its path component."""
    assert local_path("/w/seg 1/a.parquet") == "/w/seg 1/a.parquet"
    assert local_path("file:///w/seg%201/a.parquet") == "/w/seg 1/a.parquet"
    assert local_path("file:/w/seg%201/a.parquet") == "/w/seg 1/a.parquet"
    assert local_path("hdfs://nn/w/seg%201/a.parquet") is None
    assert local_path("s3a://bucket/w/a.parquet") is None


@pytest.mark.parametrize("n_files", [2, 6])
def test_read_change_batch_splits_span_parallelism(spark, tmp_path, n_files):
    """Spark's default split sizing gives a multi-file segment at least
    min(files, defaultParallelism) splits, with no conf written: a split is
    capped at the segment's bytes over the parallelism. The files here are
    above Spark's 4 MB per-file open cost; files far below it pack two or
    more to a split, a scan that is latency-bound either way."""
    seg = tmp_path / "seg-0"
    rows = 40_000 * n_files
    spark.range(0, rows).select(
        F.col("id"),
        F.concat(F.sha2(F.col("id").cast("string"), 256), F.sha2(F.hex("id"), 256)).alias("v"),
    ).repartition(n_files).write.parquet(str(seg))
    sizes = [f.stat().st_size for f in seg.iterdir() if f.name.endswith(".parquet")]
    assert len(sizes) == n_files and min(sizes) > 4 << 20
    df = read_change_batch(spark, str(seg))
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() >= min(n_files, par)
    assert df.count() == rows


def test_segment_schema_from_footers_equals_inference(spark, tmp_path):
    """``footer_schema`` equals the schema ``spark.read.parquet`` infers, and
    ``read_change_batch`` then submits no Spark job, for a Spark-written
    segment with INT96 timestamps, a pyarrow segment with tz-aware
    timestamps and an evolved pyarrow segment (an added column and a widened
    type). A partitioned directory falls back to inference."""
    import pyarrow.parquet as pq

    from game_library_enrichment_etl_spark.datagen import (
        EvolutionSpec,
        gen_change_events,
        write_change_segments,
    )
    from game_library_enrichment_etl_spark.sources.readers import footer_schema

    evo = EvolutionSpec(add_title_from=1, rename_lang_from=9, widen_lsn_from=1)
    base, evolved = write_change_segments(
        str(tmp_path / "wal"), gen_change_events(400, 60, seed=5), 2, evolution=evo
    )
    int96, part = str(tmp_path / "int96"), str(tmp_path / "part")
    spark.read.parquet(base).coalesce(1).write.parquet(int96)
    spark.read.parquet(base).write.partitionBy("op").parquet(part)
    (spark_file,) = [f for f in os.listdir(int96) if f.endswith(".parquet")]
    ts = pq.read_metadata(os.path.join(int96, spark_file)).schema.column(3)
    assert (ts.name, ts.physical_type) == ("warc_ts", "INT96")

    inferred = {p: spark.read.parquet(p).schema for p in (int96, base, evolved, part)}
    assert "title" in inferred[evolved].names and "title" not in inferred[base].names
    assert (inferred[base]["lsn"].dataType, inferred[evolved]["lsn"].dataType) == (
        T.IntegerType(), T.LongType()
    )
    tracker = spark.sparkContext.statusTracker()
    for p in (int96, base, evolved):
        assert footer_schema(spark, p) == inferred[p], p
        jobs = set(tracker.getJobIdsForGroup())
        assert read_change_batch(spark, p).schema == inferred[p]
        assert set(tracker.getJobIdsForGroup()) == jobs, p
    assert footer_schema(spark, part) is None
    assert read_change_batch(spark, part).schema == inferred[part]
