"""spark-submit-able job entrypoint: config -> table -> WAL tail -> metrics.

The engine's rendition of the reference's CLI orchestrator
(/root/reference/pipeline.py:6-68 and the arg parsing in
/root/reference/src/utils.py:70-121): one command runs the whole ingest —
get-or-create (or destructively replace) the lake table, apply every
unapplied WAL segment exactly once, print per-batch lineage and a final
metrics JSON line. On any failure an AlertHook fires (the utils.py:194-211
email analog: durable alert file + ERROR log + callbacks) and the process
exits non-zero.

Usage (local or `spark-submit --py-files`):

    python -m game_library_enrichment_etl_spark --config job.json
    python -m game_library_enrichment_etl_spark \
        --table-root /lake/pages --wal-dir /wal --checkpoint-dir /ckpt \
        --runner tail --merge-strategy mor

Config JSON keys mirror JobConfig (sources/readers.py) plus: runner
("tail" | "stream"), merge_strategy ("cow" | "mor"), replace (bool),
master, cpus.
"""

from __future__ import annotations

import argparse
import json
import sys

from .cdc.alerts import AlertHook
from .cdc.tables import PAGES_SCHEMA
from .lake.table import IceletTable
from .session import get_spark
from .sources.readers import JobConfig
from .streaming.runner import run_stream, tail_segments


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(prog="game_library_enrichment_etl_spark")
    ap.add_argument("--config", help="JSON config file (flags override it)")
    ap.add_argument("--table-root")
    ap.add_argument("--wal-dir")
    ap.add_argument("--checkpoint-dir")
    ap.add_argument("--runner", choices=("tail", "stream"), default=None,
                    help="tail = schema-evolving segment tail (default); "
                         "stream = Structured Streaming file source")
    ap.add_argument("--merge-mode", choices=("overwrite", "coalesce"), default=None)
    ap.add_argument("--merge-strategy", choices=("cow", "mor"), default=None)
    ap.add_argument("--n-buckets", type=int, default=None)
    ap.add_argument("--lateness-s", type=int, default=None)
    ap.add_argument("--max-files-per-trigger", type=int, default=None)
    ap.add_argument("--replace", action="store_true",
                    help="destructive full-replay reset before applying "
                         "(reference: how_long_to_beat.py:150-151 full_run); "
                         "also clears the streaming checkpoint so the whole "
                         "change stream actually re-applies")
    ap.add_argument("--auto-compact", type=int, default=None,
                    help="merge-on-read: compact buckets exceeding this many "
                         "delta files after each batch (default 8; 0 disables)")
    ap.add_argument("--compact", action="store_true",
                    help="run table compaction (all buckets) instead of "
                         "ingesting; prints compaction metrics")
    ap.add_argument("--expire", action="store_true",
                    help="run snapshot retention / orphan-file GC instead of "
                         "ingesting (expire all but the newest "
                         "--expire-keep-last snapshots, reclaim their data "
                         "files and crash-orphaned write dirs)")
    ap.add_argument("--expire-keep-last", type=int, default=None,
                    help="retention depth: snapshots to keep (default 2 for "
                         "--expire; when set alongside ingest, retention "
                         "runs automatically after each applied batch so "
                         "on-disk bytes stay bounded over a sustained "
                         "stream)")
    ap.add_argument("--orphan-grace-s", type=float, default=None,
                    help="minimum age before an unreferenced data file is "
                         "treated as a crash orphan and deleted "
                         "(default 3600; protects in-flight writes)")
    ap.add_argument("--master", default=None)
    return ap.parse_args(argv)


def load_config(ns: argparse.Namespace) -> dict:
    cfg: dict = {}
    if ns.config:
        with open(ns.config) as fh:
            cfg = json.load(fh)
    for k in ("table_root", "wal_dir", "checkpoint_dir", "runner", "merge_mode",
              "merge_strategy", "n_buckets", "lateness_s",
              "max_files_per_trigger", "auto_compact", "expire_keep_last",
              "orphan_grace_s", "master"):
        v = getattr(ns, k, None)
        if v is not None:
            cfg[k] = v
    if ns.replace:
        cfg["replace"] = True
    if ns.compact:
        cfg["compact"] = True
    if ns.expire:
        cfg["expire"] = True
    cfg.setdefault("runner", "tail")
    cfg.setdefault("merge_strategy", "mor")
    cfg.setdefault("merge_mode", "overwrite")
    cfg.setdefault("n_buckets", 64)
    cfg.setdefault("auto_compact", 8)
    if cfg.get("compact") or cfg.get("expire"):
        if not cfg.get("table_root"):
            raise SystemExit("missing required config: table_root")
        return cfg
    for req in ("table_root", "wal_dir", "checkpoint_dir"):
        if not cfg.get(req):
            raise SystemExit(f"missing required config: {req}")
    return cfg


def run_compact(cfg: dict, spark=None) -> dict:
    """Standalone maintenance verb: fold every bucket's delta files to one
    resolution-free file and expire watermark-dead tombstones."""
    from .lake.maintenance import compact

    owns_spark = spark is None
    if spark is None:
        spark = get_spark(master=cfg.get("master"), app_name="cdc-compact")
    try:
        table = IceletTable(spark, cfg["table_root"])
        metrics = compact(table)
    finally:
        if owns_spark:
            spark.stop()
    return {"status": "ok", "verb": "compact", **metrics}


def run_expire(cfg: dict) -> dict:
    """Standalone retention verb: expire old snapshots, reclaim their data
    files and crash-orphaned write directories. No Spark job needed —
    pure metadata + filesystem work."""
    from .lake.maintenance import expire_snapshots

    table = IceletTable(None, cfg["table_root"])
    metrics = expire_snapshots(
        table,
        keep_last=int(cfg.get("expire_keep_last", 2)),
        orphan_grace_s=float(cfg.get("orphan_grace_s", 3600.0)),
    )
    return {"status": "ok", "verb": "expire", **metrics}


def run(cfg: dict, spark=None) -> dict:
    job = JobConfig(
        table_root=cfg["table_root"],
        wal_dir=cfg["wal_dir"],
        checkpoint_dir=cfg["checkpoint_dir"],
        n_buckets=int(cfg["n_buckets"]),
        merge_mode=cfg["merge_mode"],
        lateness_s=cfg.get("lateness_s"),
        max_files_per_trigger=int(cfg.get("max_files_per_trigger", 1)),
        rename_hints=dict(cfg.get("rename_hints", {})),
    )
    job.ensure_dirs()
    owns_spark = spark is None
    if spark is None:
        spark = get_spark(master=cfg.get("master"), app_name="cdc-ingest")

    if cfg.get("replace") or not IceletTable.exists(job.table_root):
        table = IceletTable.create_or_replace(
            spark, job.table_root, PAGES_SCHEMA, key_col="url",
            version_cols=("warc_ts", "lsn"), n_buckets=job.n_buckets,
            merge_strategy=cfg["merge_strategy"],
        )
        if cfg.get("replace"):
            # a full-replay reset must also clear the Structured Streaming
            # checkpoint: a reused checkpoint makes the file source skip
            # every already-WAL-committed segment, silently leaving the
            # replaced table empty/partial (the batch-id markers were
            # cleared, but the source would never redeliver the segments)
            import shutil

            shutil.rmtree(job.checkpoint_dir, ignore_errors=True)
    else:
        table = IceletTable(spark, job.table_root)

    alert = AlertHook(root=job.table_root, job_name="cdc-ingest")
    auto_compact = int(cfg.get("auto_compact", 8)) or None  # 0 disables
    expire_keep_last = cfg.get("expire_keep_last")  # None = retention off
    if expire_keep_last is not None:
        expire_keep_last = int(expire_keep_last) or None
    orphan_grace_s = float(cfg.get("orphan_grace_s", 3600.0))
    try:
        if cfg["runner"] == "stream":
            results = run_stream(
                table, job.wal_dir, job.checkpoint_dir, mode=job.merge_mode,
                lateness_s=job.lateness_s,
                max_files_per_trigger=job.max_files_per_trigger,
                auto_compact=auto_compact, expire_keep_last=expire_keep_last,
                orphan_grace_s=orphan_grace_s,
            )
        else:
            results = tail_segments(
                table, job.wal_dir, rename_hints=job.rename_hints or None,
                mode=job.merge_mode, lateness_s=job.lateness_s,
                auto_compact=auto_compact,
                expire_keep_last=expire_keep_last, orphan_grace_s=orphan_grace_s,
            )
    except BaseException as exc:
        alert.fire(exc, {"config": {k: v for k, v in cfg.items()}})
        raise
    finally:
        if owns_spark:
            spark.stop()

    applied = [r for r in results if not r.skipped]
    events = sum(r.metrics.get("events_in", 0) for r in applied)
    summary = {
        "status": "ok",
        "segments_seen": len(results),
        "segments_applied": len(applied),
        "events_applied": int(events),
        "late_dropped": int(sum(r.metrics.get("late_dropped", 0) for r in applied)),
        "winners": int(sum(r.metrics.get("winners", 0) for r in applied)),
        "snapshot_version": table.snapshot().version,
        "rows_stored": int(table.snapshot().total_rows()),
        "merge_strategy": table.merge_strategy,
        "table_root": job.table_root,
    }
    return summary


def main(argv: list[str] | None = None) -> int:
    cfg = load_config(parse_args(argv))
    try:
        if cfg.get("expire"):
            summary = run_expire(cfg)
        elif cfg.get("compact"):
            summary = run_compact(cfg)
        else:
            summary = run(cfg)
    except SystemExit:
        raise
    except BaseException as exc:
        print(json.dumps({"status": "failed", "error": str(exc)}), file=sys.stderr)
        return 1
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
