"""Streaming apply loops: WAL tail -> micro-batch MERGE into the lake table.

Two runners, one apply path (cdc/apply.py):

1. ``run_stream`` — real Structured Streaming: ``readStream`` file source
   over the segment directory, ``foreachBatch`` applying the MERGE, Spark
   checkpoint for source offsets. Exactly-once is the COMBINATION of the
   checkpoint (at-least-once redelivery on restart) and the table's
   idempotent batch-id commit markers (redelivered segments are filtered
   inside apply_batch) — the engine stays correct even if the job dies
   between the table commit and the checkpoint commit.
   Reference precursor: one pipeline run = one batch over "everything
   since watermark" (/root/reference/pipeline.py:6-68) with resume via
   latest-file discovery (/root/reference/src/how_long_to_beat.py:287-296).

2. ``tail_segments`` — self-managed WAL tail for schema-EVOLVING streams:
   discovers unapplied segment files in order, reads each with its own
   schema, and applies it (evolution resolved at apply time). The built-in
   file source needs one fixed schema, so mid-stream add/rename/widen goes
   through this path. Offsets = the batch-id markers themselves.

Backpressure: ``maxFilesPerTrigger`` bounds each micro-batch (the Spark
analog of the reference's 500-rows/page pagination,
/root/reference/src/internet_games_database.py:133-147).
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import types as T

from ..cdc.apply import ApplyResult, apply_batch
from ..lake.table import IceletTable
from ..session import job_tag
from ..sources.readers import read_change_batch


def run_stream(
    table: IceletTable,
    wal_dir: str,
    checkpoint_dir: str,
    schema: T.StructType | None = None,
    mode: str = "overwrite",
    lateness_s: int | None = None,
    max_files_per_trigger: int = 1,
    fail_after_batches: int | None = None,
    auto_compact: int | None = 8,
    expire_keep_last: int | None = None,
    orphan_grace_s: float = 3600.0,
):
    """Run the Structured Streaming apply loop until all currently-available
    segments are processed (availableNow trigger), then return the results.

    ``fail_after_batches`` injects a crash AFTER the table commit of the
    n-th micro-batch (before the checkpoint commit) — the worst-case
    failure window for exactly-once; used by the resume tests.

    ``auto_compact``: under merge-on-read, compact any bucket whose
    delta-file count exceeds this after each applied batch, bounding read
    amplification over a sustained stream (None disables).

    The first segment's schema comes from its parquet footers, as in
    ``tail_segments``; only a fallback to inference runs a Spark job, tagged
    ``icelet:<table>:schema``. Each apply tags its own jobs.
    """
    spark = table.spark
    if schema is None:
        first = sorted(glob.glob(os.path.join(wal_dir, "*.parquet")))
        if not first:
            raise FileNotFoundError(f"no segment files in {wal_dir}")
        with job_tag(spark, table.root, "schema"):
            schema = read_change_batch(spark, first[0]).schema

    results: list[ApplyResult] = []

    def handle(df, epoch_id: int) -> None:
        res = apply_batch(table, df, mode=mode, lateness_s=lateness_s)
        results.append(res)
        _maybe_auto_compact(table, res, auto_compact, expire_keep_last, orphan_grace_s)
        if fail_after_batches is not None and len(results) >= fail_after_batches:
            raise RuntimeError("injected failure after table commit")

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(wal_dir)
    )
    q = (
        src.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception:
        if fail_after_batches is None:
            raise
        # injected crash: the query died after a table commit — exactly the
        # window the batch-id markers cover. Caller restarts with the same
        # checkpoint to prove no duplicate / lost applies.
    finally:
        if q.isActive:
            q.stop()
    return results


def _maybe_auto_compact(
    table: IceletTable,
    res: ApplyResult,
    threshold: int | None,
    expire_keep_last: int | None = None,
    orphan_grace_s: float = 3600.0,
) -> None:
    """Post-apply MOR maintenance: bound per-bucket delta-file count (and
    with it read-time LWW resolution cost) over a sustained stream.
    ``expire_keep_last`` additionally bounds ON-DISK bytes: after each
    applied batch, snapshots older than the newest N are expired and their
    superseded data files reclaimed (lake/maintenance.expire_snapshots) —
    without it a sustained stream's storage grows without bound even with
    compaction, because superseded files are only dereferenced, never
    deleted. Opt-in (None disables) since it trades time-travel depth for
    bounded storage."""
    if res.skipped:
        return
    # only a merge-on-read append adds delta commits to a bucket, and the
    # apply reports which merge it ran: no snapshot read to find out
    if threshold is not None and res.metrics.get("merge_strategy") == "mor":
        from ..lake.maintenance import maybe_compact

        m = maybe_compact(table, max_files_per_bucket=threshold)
        if m is not None:
            res.metrics["compaction"] = m
    if expire_keep_last is not None:
        from ..lake.maintenance import expire_snapshots

        e = expire_snapshots(
            table, keep_last=expire_keep_last, orphan_grace_s=orphan_grace_s
        )
        if e["snapshots_expired"] or e["data_files_deleted"] or e["orphans_deleted"]:
            res.metrics["retention"] = e


_SEG_NUM = re.compile(r"(\d+)")


def _natural_key(path: str) -> tuple:
    """Natural sort: numeric components compared as ints so seg-2 applies
    before seg-10 even without zero-padding (apply order matters for
    coalesce-mode folds and watermark late-dropping); falls back to the
    full basename for ties / non-numeric names."""
    name = os.path.basename(path)
    return (tuple(int(x) for x in _SEG_NUM.findall(name)), name)


def tail_segments(
    table: IceletTable,
    wal_dir: str,
    pattern: str = "*.parquet",
    rename_hints: dict[str, str] | None = None,
    mode: str = "overwrite",
    lateness_s: int | None = None,
    auto_compact: int | None = 8,
    expire_keep_last: int | None = None,
    orphan_grace_s: float = 3600.0,
) -> list[ApplyResult]:
    """Apply every not-yet-applied segment file in order (evolution-capable).

    Each segment is read with its own (possibly evolved) schema; already
    applied batch_ids no-op inside apply_batch, so this is safe to call
    repeatedly (cron-style incremental runs) and after a crash.
    ``auto_compact``: see run_stream. A segment's schema comes from its
    parquet footers (``sources.readers.read_change_batch``), so its read
    runs no Spark job; where the footers cannot give it exactly, inference
    runs one, tagged ``icelet:<table>:schema``.
    """
    spark = table.spark
    segs = sorted(glob.glob(os.path.join(wal_dir, pattern)), key=_natural_key)
    results = []
    for p in segs:
        # Spark's default split sizing spreads the segment over the cluster;
        # the read leaves the session conf untouched (sources/readers.py).
        # The tag labels the schema inference job of a read that falls back
        with job_tag(spark, table.root, "schema"):
            df = read_change_batch(spark, p)
        res = apply_batch(
            table, df, mode=mode, rename_hints=rename_hints, lateness_s=lateness_s
        )
        results.append(res)
        _maybe_auto_compact(table, res, auto_compact, expire_keep_last, orphan_grace_s)
    return results
