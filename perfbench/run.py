"""Benchmark of the CDC engine and its operator surface.

    python3 perfbench/run.py --workload mor_stream --seed 7 --seconds 40 --trace 0

Run from the root of a source checkout. One process is one run: it starts
its own Spark session at ``local[<cpus>]`` (timed as ``setup_s``),
prepares the workload's inputs (seeded where they vary), runs its fixed
pass once, checks the outputs, stops every process it started and prints,
as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
workload with the engine's public functions wrapped in spans and Spark's
event log on, and reports the per-layer metrics instead. Metric names and
units come from ``BENCHMARK.json``; ``perfbench/README.md`` says what each
one means. The line before the result carries the host stamp and the
per-unit walls of the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss(pid: int) -> dict[str, int]:
    """RSS bytes of this process ("main"), the JVM and the Python workers."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {"main": 0, "jvm": 0, "workers": 0, "n_workers": 0}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
            with open(f"/proc/{p}/comm") as fh:
                comm = fh.read().strip()
        except OSError:
            continue
        kind = "main" if p == pid else "jvm" if comm == "java" else "workers"
        out[kind] += rss
        out["n_workers"] += kind == "workers"
    return out


class RssSampler:
    """Summed RSS of this process and all its descendants (the JVM and the
    Python workers), sampled from /proc on a background thread: every
    sample, and the peak with its breakdown."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak, self.at_peak, self.samples = interval, 0, {}, []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = tree_rss(os.getpid())
            total = sample["main"] + sample["jvm"] + sample["workers"]
            self.samples.append(total)
            if total > self.peak:
                self.peak, self.at_peak = total, sample
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end its JVM and wait until every process started under
    this one (the JVM and the Python workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = set(descendants(os.getpid()))
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    t0 = time.monotonic()
    while alive := [p for p in started if _alive(p)]:
        waited = time.monotonic() - t0
        if waited > 10:
            for p in alive:
                try:
                    os.kill(p, signal.SIGTERM if waited < 30 else signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


# ----------------------------------------------------------------- metrics
def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(out, setup_s: float, rss: "RssSampler") -> dict:
    later = out.units[1:]  # the first unit carries the cold start; job_s has it
    busy = sum(u[0] for u in later)
    return {
        "setup_s": setup_s,
        "job_s": out.job_s,
        "events_per_s": sum(u[1] for u in later) / busy if busy else 0.0,
        "rss_p50_mb": _median(rss.samples) / 2**20,
    }


def per_layer(out, tracer, setup_s: float, gc_s: float, evlog: dict) -> dict:
    from spans import descendants as span_tree
    from spans import self_times

    from workloads import FUNCTION_QUERIES, QUERIES

    L = out.layer
    kids = tracer.children()
    selfs = self_times(tracer.spans, kids)
    by_name: dict[str, list] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(s)

    def under(root, names) -> list:
        return [s for s in span_tree(root, kids) if s.name in names and s is not root]

    applies = sorted(by_name.get("cdc.apply_batch", []), key=lambda s: s.t0)
    n_batches = max(len(applies), 1)
    writes = [sum(s.wall for s in under(a, {"lake.write_data_files",
                                             "lake.write_data_files_prepartitioned"}))
              for a in applies]
    commits = [s.wall for a in applies for s in under(a, {"lake.commit"})]
    batches = by_name.get("bench.batch", [])
    snap_reads = [s for b in batches for s in under(b, {"lake.read_snapshot"})]
    # streaming overhead: each batch's wall outside the source read, the
    # apply and the compaction it runs
    overhead = [b.wall - sum(s.wall for s in under(b, {"sources.read_change_batch",
                                                       "cdc.apply_batch",
                                                       "maintenance.maybe_compact"}))
                for b in batches]
    # per batch: the share of its wall the layer spans cover, i.e. the summed
    # self times of every sources/cdc/lake/maintenance span under it; the
    # batch and tail_segments roots' own time is what no layer span explains
    layers = ("sources.", "cdc.", "lake.", "maintenance.")
    coverage = [sum(selfs[s.sid] for s in span_tree(b, kids) if s.name.startswith(layers)) / b.wall
                for b in batches if b.wall > 0]
    comps = L.get("compactions", [])
    events_in = L.get("events_in", 0)
    m = {
        "session.get_spark_s": setup_s,
        "sources.read_change_batch_s": _median(s.wall for s in by_name.get("sources.read_change_batch", [])),
        "sources.segment_bytes": L.get("segment_bytes", 0),
        "streaming.batch_overhead_s": _median(overhead),
        "cdc.apply_batch_s": _median(a.wall for a in applies),
        "cdc.apply_self_s": _median(selfs[a.sid] for a in applies),
        "cdc.winner_ratio": L.get("winners", 0) / events_in if events_in else 0.0,
        "lake.write_s": _median(writes),
        "lake.commit_s": _median(commits),
        "lake.snapshot_reads_per_batch": len(snap_reads) / n_batches,
        "lake.snapshot_read_s": sum(s.wall for s in snap_reads) / n_batches,
        "lake.delta_commits_per_bucket_max": _median(L.get("delta_commits", [])),
        "lake.lookup_p50_s": _median(L.get("lookup_s", [])),
        "lake.read_s": _median(L.get("read_s", [])),
        "maintenance.compact_s": _median(s.wall for s in by_name.get("maintenance.compact", [])),
        "maintenance.compactions": len(comps),
        "maintenance.rows_rewritten": sum(c.get("rows_before", 0) for c in comps),
        "maintenance.bytes_rewritten_per_user_byte":
            L.get("compact_bytes", 0) / L["user_bytes"] if L.get("user_bytes") else 0.0,
        "spark.jobs_per_batch": evlog["jobs"] / max(len(out.units), 1),
        "spark.shuffle_write_bytes": evlog["shuffle_write_bytes"],
        "spark.spill_bytes": evlog["spill_bytes"],
        "spark.task_skew": evlog["task_skew"],
        "spark.gc_s": gc_s,
        "trace.layer_coverage": _median(coverage),
    }
    for k in ("events_in", "winners", "conflicts_resolved", "delete_winners", "buckets_touched",
              "overlapped_batches", "exact_stats_batches", "hot_key_routed_batches"):
        m[f"cdc.{k}"] = L.get(k, 0)
    for k in ("commits", "snapshot_bytes", "data_files", "stored_bytes_per_live_row"):
        m[f"lake.{k}"] = L.get(k, 0)
    for q in QUERIES:
        layer = "functions" if q in FUNCTION_QUERIES else "operators"
        m[f"{layer}.{q}_s"] = L.get(f"{q}_s", 0.0)
        m[f"{layer}.{q}_rows"] = L.get(f"{q}_rows", 0)
    return m


def _jvm_gc_seconds(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# -------------------------------------------------------------------- main
def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # The workloads are fixed-size: one pass whatever the host's speed.
    # BENCHMARK.json's run_seconds states how long that pass takes.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # The query-shaped session warm-up costs about a minute per fresh
        # JVM on a 4-core host, more than a run may take; runs measure the
        # engine without it, so the cold-start cost lands in job_s.
        SPARK_GRAFT_SESSION_WARM="0",
        # With the deployed 8g heap the median RSS of operator_queries spread
        # 0.17 (IQR/median) over five runs, against 0.05 over ten at 1g: the
        # JVM's footprint followed the collector's heap sizing, not the data.
        SPARK_DRIVER_MEMORY="1g",
    )
    try:
        import bench
        import workloads
        from game_library_enrichment_etl_spark.session import get_spark
    except ImportError as ex:
        print(f"cannot import the engine from {ROOT}: {ex}", file=sys.stderr)
        return 2
    os.makedirs(tmp)

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    evlog_dir = os.path.join(work, "eventlog")
    tracer = None
    if args.trace:
        from spans import Tracer, instrument

        os.makedirs(evlog_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evlog_dir,
            "spark.eventLog.compress": "false",
        })
        tracer = Tracer()

    steal0 = bench._cpu_steal_total()
    t0 = time.monotonic()
    spark = get_spark(master=f"local[{cpus}]", app_name=f"perfbench-{args.workload}", extra_conf=conf)
    setup_s = time.monotonic() - t0
    try:
        if tracer is not None:
            instrument(tracer)
            gc0 = _jvm_gc_seconds(spark)
        rss = RssSampler()
        ctx = workloads.Ctx(spark, work, args.seed, rss, tracer)
        out = workloads.WORKLOADS[args.workload](ctx)
        gc_s = _jvm_gc_seconds(spark) - gc0 if tracer is not None else 0.0
    finally:
        if tracer is not None:
            tracer.restore()
        stop_session(spark)
    steal1 = bench._cpu_steal_total()

    try:
        e2e = end_to_end(out, setup_s, rss)
        if tracer is None:
            metrics = e2e
        else:
            from spans import event_log_metrics

            evlog = event_log_metrics(evlog_dir, [(u[2], u[3]) for u in out.units])
            metrics = per_layer(out, tracer, setup_s, gc_s, evlog)
            metrics["trace.events_per_s"] = e2e["events_per_s"]
            metrics["trace.job_s"] = e2e["job_s"]
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    dt = max(steal1[1] - steal0[1], 1)
    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "steal_pct": 100.0 * (steal1[0] - steal0[0]) / dt, "load1": os.getloadavg()[0],
        "prep_s": round(out.prep_s, 3), "check_s": round(out.check_s, 3),
        "peak_rss_mb": {k: v if k == "n_workers" else round(v / 2**20) for k, v in rss.at_peak.items()},
        "run_wall_s": round(time.monotonic() - T_START, 3),
        "unit_walls": [round(u[0], 4) for u in out.units],
    }
    print(json.dumps(stamp))
    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": max(out.attempted, 1),
        "failed": out.failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
