"""End-to-end CLI entrypoint (VERDICT r1 #5): `python -m
game_library_enrichment_etl_spark` runs config -> table -> WAL tail ->
metrics, and fires the AlertHook on failure (reference pipeline.py:6-68 +
utils.py:194-211)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from game_library_enrichment_etl_spark.cdc.alerts import AlertHook, read_alerts
from game_library_enrichment_etl_spark.datagen import gen_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run_python(args: list[str], timeout: int = 300) -> subprocess.CompletedProcess:
    env = dict(os.environ, PYTHONPATH=REPO)
    return subprocess.run(
        [sys.executable, *args],
        capture_output=True, text=True, timeout=timeout, env=env, cwd=REPO,
    )


def _run_cli(args: list[str], timeout: int = 300) -> subprocess.CompletedProcess:
    return _run_python(["-m", "game_library_enrichment_etl_spark", *args], timeout)


def test_fresh_session_submits_no_job():
    """get_spark only configures: a fresh JVM's session has run no Spark
    job by the time it is handed to the caller."""
    proc = _run_python(["-c", (
        "from game_library_enrichment_etl_spark.session import get_spark\n"
        "spark = get_spark(master='local[2]')\n"
        "print(len(spark.sparkContext.statusTracker().getJobIdsForGroup()))\n"
        "spark.stop()\n"
    )])
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "0"


def test_cli_end_to_end_and_failure_alert(tmp_path):
    wal = str(tmp_path / "wal")
    gen_stream(wal, n_events=600, n_urls=80, n_segments=2, seed=21)
    root = str(tmp_path / "pages")

    cfg = {
        "table_root": root,
        "wal_dir": wal,
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "n_buckets": 4,
        "merge_strategy": "mor",
        "master": "local[4]",
    }
    cfg_path = tmp_path / "job.json"
    cfg_path.write_text(json.dumps(cfg))

    proc = _run_cli(["--config", str(cfg_path)])
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["status"] == "ok"
    assert summary["segments_applied"] == 2
    assert summary["events_applied"] == 600
    assert summary["rows_stored"] > 0

    # re-run: idempotent (batch-id markers) — segments seen but none applied
    proc2 = _run_cli(["--config", str(cfg_path)])
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    summary2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert summary2["segments_applied"] == 0
    assert summary2["snapshot_version"] == summary["snapshot_version"]

    # failure path: a corrupt segment file -> exit 1 + durable alert
    bad = os.path.join(wal, "seg-99999.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    proc3 = _run_cli(["--config", str(cfg_path)])
    assert proc3.returncode == 1
    alerts = read_alerts(root)
    assert len(alerts) == 1
    assert alerts[0]["job"] == "cdc-ingest"
    assert alerts[0]["error"]


def test_alert_hook_callbacks_never_raise(tmp_path):
    hook = AlertHook(root=str(tmp_path), job_name="t")
    seen: list[dict] = []
    hook.on_failure(seen.append)
    hook.on_failure(lambda p: (_ for _ in ()).throw(RuntimeError("cb boom")))
    payload = hook.fire(ValueError("boom"), {"k": 1})
    assert payload["error"] == "boom"
    assert seen and seen[0]["error_type"] == "ValueError"
    assert read_alerts(str(tmp_path))[0]["context"] == {"k": 1}


def test_cli_missing_required_config_exits(tmp_path):
    proc = _run_cli(["--wal-dir", str(tmp_path)], timeout=60)
    assert proc.returncode != 0


def test_replace_with_stream_runner_replays_fully(tmp_path):
    """ADVICE r2 (high): --replace must clear the streaming checkpoint, or
    the file source skips every already-checkpointed segment and the
    replaced table silently stays empty — the documented full-replay
    semantics require the whole change stream to re-apply."""
    wal = str(tmp_path / "wal")
    gen_stream(wal, n_events=400, n_urls=60, n_segments=2, seed=33)
    cfg = {
        "table_root": str(tmp_path / "pages"),
        "wal_dir": wal,
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "n_buckets": 4,
        "merge_strategy": "mor",
        "runner": "stream",
        "master": "local[4]",
    }
    cfg_path = tmp_path / "job.json"
    cfg_path.write_text(json.dumps(cfg))

    proc = _run_cli(["--config", str(cfg_path)])
    assert proc.returncode == 0, proc.stderr[-2000:]
    s1 = json.loads(proc.stdout.strip().splitlines()[-1])
    assert s1["events_applied"] == 400

    proc2 = _run_cli(["--config", str(cfg_path), "--replace"])
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    s2 = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert s2["events_applied"] == 400, "replace+stream must re-apply everything"
    assert s2["rows_stored"] > 0


def test_cli_compact_verb(tmp_path):
    """--compact runs standalone maintenance and reports metrics."""
    wal = str(tmp_path / "wal")
    gen_stream(wal, n_events=400, n_urls=60, n_segments=4, seed=35)
    cfg = {
        "table_root": str(tmp_path / "pages"),
        "wal_dir": wal,
        "checkpoint_dir": str(tmp_path / "ckpt"),
        "n_buckets": 4,
        "merge_strategy": "mor",
        "auto_compact": 0,  # accumulate deltas so compact has work
        "master": "local[4]",
    }
    cfg_path = tmp_path / "job.json"
    cfg_path.write_text(json.dumps(cfg))
    proc = _run_cli(["--config", str(cfg_path)])
    assert proc.returncode == 0, proc.stderr[-2000:]

    proc2 = _run_cli(["--config", str(cfg_path), "--compact"])
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    m = json.loads(proc2.stdout.strip().splitlines()[-1])
    assert m["verb"] == "compact" and m["buckets"] > 0

    # post-compact: at most one file per bucket
    from game_library_enrichment_etl_spark.lake.table import IceletTable
    from game_library_enrichment_etl_spark.lake.snapshot import read_snapshot

    snap = read_snapshot(cfg["table_root"])
    counts = {}
    for f in snap.files:
        counts[f.bucket] = counts.get(f.bucket, 0) + 1
    assert max(counts.values()) == 1
