"""A Python worker re-reads the zip archives on its import path only when
one changed (game_library_enrichment_etl_spark/_zipimport.py).

1. In a fresh interpreter: ``importlib.invalidate_caches()`` reads no zip
   directory while the zip is unchanged, re-reads it once the zip is
   rewritten, and a module added by the rewrite then imports.
2. In Spark: a worker that runs the engine's writer reads no zip directory
   at the start of its later tasks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_FRESH = textwrap.dedent(
    """
    import importlib, json, os, sys, zipfile, zipimport

    archive = sys.argv[1]

    def build(names):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(n + ".py", "NAME = %r\\n" % n)

    build(["zmod_a"])
    sys.path.insert(0, archive)
    import zmod_a
    import game_library_enrichment_etl_spark  # installs the check

    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    zipimport._read_directory = counting
    out = {}
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    out["unchanged"] = reads.count(archive)
    build(["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    import zmod_b
    out["rewritten"] = reads.count(archive)
    out["new_module"] = zmod_b.NAME
    print(json.dumps(out))
    """
)


def test_invalidate_caches_rereads_only_a_changed_zip(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH, str(tmp_path / "mods.zip")],
        env=env, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"unchanged": 0, "rewritten": 1, "new_module": "zmod_b"}, out


def test_worker_reads_no_zip_directory_on_later_tasks(spark, tmp_path):
    """Single-task jobs through the engine's writer, each reporting its
    worker's pid and the zip directories that worker read since its
    previous task, until one worker has run three of them: its second and
    third tasks report 0. Without the check every later task re-reads each
    zip importer's archive (16 of them in a Spark 4.1.2 worker)."""
    from game_library_enrichment_etl_spark.lake.table import BUCKET_COL, DELETED_COL
    from game_library_enrichment_etl_spark.lake.table import _write_bucket_files

    root = str(tmp_path)

    def task(rel_dir, batches):
        import os
        import zipimport

        import pyarrow as pa

        counter = getattr(zipimport, "_reads_since_last_task", None)
        if counter is None:  # this worker's first report: count from here
            counter = zipimport._reads_since_last_task = [0]
            read = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read(path)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads = counter[0]
        counter[0] = 0
        files = sum(
            b.num_rows for b in _write_bucket_files(root, rel_dir, "url", {}, batches)
        )
        yield pa.RecordBatch.from_pydict(
            {"pid": [os.getpid()], "reads": [reads], "files": [files]}
        )

    src = spark.range(1, numPartitions=1).selectExpr(
        "'u' AS url", f"0 AS {BUCKET_COL}", f"false AS {DELETED_COL}"
    )
    seen: dict[int, list[int]] = {}
    for job in range(12):
        rel_dir = f"w{job}"
        os.mkdir(os.path.join(root, rel_dir))
        (row,) = src.mapInArrow(
            lambda b, rel_dir=rel_dir: task(rel_dir, b), "pid long, reads long, files long"
        ).collect()
        assert row.files == 1
        seen.setdefault(row.pid, []).append(row.reads)
        if max(len(r) for r in seen.values()) == 3:
            break
    reads = next(r for r in seen.values() if len(r) == 3)
    assert reads[1:] == [0, 0], seen
