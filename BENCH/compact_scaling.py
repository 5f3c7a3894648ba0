"""Compaction write-parallelism scaling: does compact() beat the bucket cap?

Round-3 verdict wrong #4: COW merges and compaction wrote through a path
that repartitions on _bucket alone — one task per bucket, so a table with
fewer buckets than the cluster has slots cannot use the extra slots at all
(hard efficiency ceiling n_buckets/cpus). Round 4 routes that path through
an in-bucket key salt (lake/table.py in_bucket_salt; compaction's LWW
resolve routes on it before write_data_files_prepartitioned), so the write
fans out to ~shuffle-partition tasks while keeping at most n_salts same-commit
files per bucket (still resolution-free on read).

This harness makes the cap scenario explicit: a 4-bucket MOR table,
compacted at local[lo] and local[hi] with hi > n_buckets. Without the
salt, the hi level is structurally capped at 4 write tasks and efficiency
cannot exceed n_buckets/hi; with it, the whole rewrite scales.

Usage: python BENCH/compact_scaling.py [n_events] [lo] [hi] [n_buckets]
Prints one JSON line per run + a summary line; samples host CPU steal
around every run (shared-host bursts would otherwise masquerade as
scaling results — see the r5 hunt logs, BENCH/hunt_r5*_attempts.jsonl).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_WORKER = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from game_library_enrichment_etl_spark.session import get_spark
from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.lake.maintenance import compact

cpus = int(sys.argv[1]); wal = sys.argv[2]; n_buckets = int(sys.argv[3])

def _dsample(dev="vda"):
    # (bytes_read, bytes_written, ms_doing_io) for the device backing /tmp.
    # ms_doing_io (diskstats field 13) is wall time with >=1 request in
    # flight: delta/wall = device utilization -- the direct saturation test
    # the r4 verdict asked for (next #3) instead of the asserted
    # "single-disk bandwidth" explanation.
    with open("/proc/diskstats") as fh:
        for line in fh:
            p = line.split()
            if p[2] == dev:
                return (int(p[5]) * 512, int(p[9]) * 512, int(p[12]))
    return (0, 0, 0)

def _dphase(before, wall_s):
    r1, w1, io1 = _dsample()
    return {{
        "read_mb": round((r1 - before[0]) / 1e6, 1),
        "write_mb": round((w1 - before[1]) / 1e6, 1),
        "read_mb_s": round((r1 - before[0]) / 1e6 / max(wall_s, 1e-9), 1),
        "write_mb_s": round((w1 - before[1]) / 1e6 / max(wall_s, 1e-9), 1),
        "disk_util_pct": round(100.0 * (io1 - before[2]) / max(wall_s * 1000, 1e-9), 1),
    }}

spark = get_spark(master=f"local[{{cpus}}]", shuffle_partitions=cpus,
                  app_name=f"compact-scaling-{{cpus}}")
root = tempfile.mkdtemp(prefix=f"compact_sc_{{cpus}}_")
segs = sorted(os.path.join(wal, f) for f in os.listdir(wal) if f.startswith("seg-"))

# warm the pipeline (JIT, python workers) on a small table
warm = create_pages_table(spark, os.path.join(root, "warm"),
                          n_buckets=n_buckets, merge_strategy="mor")
apply_batch(warm, spark.read.parquet(segs[0]).limit(20_000))
compact(warm)

t = create_pages_table(spark, os.path.join(root, "pages"),
                       n_buckets=n_buckets, merge_strategy="mor")
d0 = _dsample(); ta = time.monotonic()
for p in segs:
    apply_batch(t, spark.read.parquet(p))
apply_sec = time.monotonic() - ta
disk_apply = _dphase(d0, apply_sec)
rows = t.snapshot().total_rows()
d1 = _dsample(); t0 = time.monotonic()
m = compact(t)
sec = round(time.monotonic() - t0, 2)
disk_compact = _dphase(d1, sec)
shutil.rmtree(root, ignore_errors=True)
print(json.dumps({{"cpus": cpus, "compact_sec": sec, "rows_in": rows,
                   "rows_out": m["rows_after"], "rows_per_sec": round(rows / sec),
                   "apply_sec": round(apply_sec, 2),
                   "disk_apply": disk_apply, "disk_compact": disk_compact}}))
spark.stop()
"""


def _cpu_steal_total() -> tuple[int, int]:
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    vals = [int(x) for x in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def run_one(cpus: int, wal: str, n_buckets: int) -> dict:
    env = dict(os.environ, SPARK_DRIVER_MEMORY="32g")
    s0, t0 = _cpu_steal_total()
    out = subprocess.run(
        [sys.executable, "-c", _WORKER.format(repo=REPO), str(cpus), wal,
         str(n_buckets)],
        capture_output=True, text=True, check=True, env=env,
    )
    s1, t1 = _cpu_steal_total()
    r = json.loads(out.stdout.strip().splitlines()[-1])
    r["host_steal_pct"] = round(100.0 * (s1 - s0) / max(t1 - t0, 1), 1)
    os.sync()
    time.sleep(5)
    return r


def main():
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    n_buckets = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    reps = int(os.environ.get("COMPACT_SC_REPS", "3"))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scaling import gen_wal

    wal = gen_wal(n_events, 8)
    best: dict[int, dict] = {}
    for _ in range(reps):
        for cpus in (lo, hi):  # interleaved, best-of (see BENCH/scaling.py)
            r = run_one(cpus, wal, n_buckets)
            print(json.dumps(r), flush=True)
            if cpus not in best or r["compact_sec"] < best[cpus]["compact_sec"]:
                best[cpus] = r
    a, b = best[lo]["compact_sec"], best[hi]["compact_sec"]
    eff = (a / b) / (hi / lo)
    print(json.dumps({
        "summary": "compact_scaling", "n_buckets": n_buckets,
        "lo_cpus": lo, "hi_cpus": hi, "lo_sec": a, "hi_sec": b,
        "speedup": round(a / b, 2), "efficiency": round(eff, 3),
        "lo_steal": best[lo]["host_steal_pct"],
        "hi_steal": best[hi]["host_steal_pct"],
    }), flush=True)


if __name__ == "__main__":
    main()
