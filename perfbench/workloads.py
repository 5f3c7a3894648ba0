"""The benchmark's workloads.

Each workload prepares its inputs before anything is timed, then runs one
pass of a fixed sequence of units (micro-batches or queries), whatever the
host's speed, so a faster engine changes the metrics and not what they
average over. The pass runs in the fresh session, so its wall carries the
cold start a new process pays. Outputs are checked against an independent
model outside the timed region; an operation that raises or whose output
differs counts as failed.
"""

from __future__ import annotations

import gc
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_LOOKUPS = 2


@dataclass
class Outcome:
    job_s: float = 0.0  # wall of the pass
    units: list = field(default_factory=list)  # (wall, records, epoch0, epoch1)
    attempted: int = 0
    failed: int = 0
    layer: dict = field(default_factory=dict)  # raw per-layer figures
    prep_s: float = 0.0  # input generation, untimed
    check_s: float = 0.0  # output checks, untimed

    def fail(self, what: str, detail) -> None:
        self.failed += 1
        print(f"FAILED {what}: {str(detail).splitlines()[0][:300]}", flush=True)


class Ctx:
    """What a workload needs: the session, a private work directory, the
    seed, the memory sampler to run during the pass and the optional
    tracer."""

    def __init__(self, spark, work: str, seed: int, rss, tracer=None):
        self.spark, self.work, self.seed, self.rss, self.tracer = spark, work, seed, rss, tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, name: str, fn, *args, **kwargs):
        """(result, wall seconds, epoch start, epoch end) of ``fn``, inside a
        span when tracing."""
        e0, t0 = time.time(), time.monotonic()
        if self.tracer is None:
            out = fn(*args, **kwargs)
        else:
            out = self.tracer.call(name, fn, *args, **kwargs)
        return out, time.monotonic() - t0, e0, time.time()


def _release_memory() -> None:
    """Return input-generation garbage to the OS so the memory sampled
    during the pass is the engine's."""
    gc.collect()
    pa.default_memory_pool().release_unused()


# --------------------------------------------------------------- CDC checks
def _events_frame(table: pa.Table):
    """Change events as pandas with ``warc_ts`` in epoch microseconds."""
    col = table.column("warc_ts")
    ts = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
    table = table.set_column(table.schema.get_field_index("warc_ts"), "warc_ts", ts)
    return table.to_pandas().sort_values("lsn", kind="stable").reset_index(drop=True)


def _replay_points(events, read_after: set[int], lookups: list[str]) -> dict:
    """Expected live-row count and lookup hits after each batch in
    ``read_after``: last writer by (warc_ts, lsn) per url, deletes absent."""
    best: dict[str, tuple] = {}
    live = 0
    out = {}
    bids = events["batch_id"].to_numpy()
    rows = zip(events["url"], events["warc_ts"], events["lsn"], events["op"])
    for i, (url, ts, lsn, op) in enumerate(rows):
        cur = best.get(url)
        if cur is None or (ts, lsn) > cur[0]:
            live += (op != "D") - (cur is not None and cur[1] != "D")
            best[url] = ((ts, lsn), op)
        last_of_batch = i + 1 == len(bids) or bids[i + 1] != bids[i]
        if last_of_batch and int(bids[i]) in read_after:
            hits = [int(u in best and best[u][1] != "D") for u in lookups]
            out[int(bids[i])] = (live, hits)
    return out


def _rows(df) -> list[tuple]:
    cols = ["url", "warc_ts", "lsn", "lang", "text"]
    return sorted(
        tuple(None if v is None or v != v else (int(v) if c in ("warc_ts", "lsn") else v)
              for c, v in zip(cols, r))
        for r in df[cols].itertuples(index=False)
    )


def _check_final(ctx: Ctx, table, model_rows: list[tuple], out: Outcome) -> None:
    from pyspark.sql import functions as F

    out.attempted += 1
    t0 = time.monotonic()
    got = table.read().select(
        "url", F.unix_micros("warc_ts").alias("warc_ts"), "lsn", "lang", "text"
    ).toPandas()
    got_rows = _rows(got)
    if got_rows != model_rows:
        diff = next((a, b) for a, b in zip(got_rows + [None], model_rows + [None]) if a != b)
        out.fail("final table state", f"{len(got_rows)} rows vs model {len(model_rows)}; first diff {diff}")
    out.check_s += time.monotonic() - t0


def _model_rows(events) -> list[tuple]:
    from model_oracle import model_final_state

    return _rows(model_final_state(events, payload_cols=("html", "lang")))


def _pick_lookups(events, seed: int) -> list[str]:
    urls = np.sort(events["url"].unique())
    rng = np.random.default_rng(seed)
    return [str(u) for u in rng.choice(urls, size=N_LOOKUPS, replace=False)]


def _read_point(ctx: Ctx, table, expect, lookups, layer: dict, out: Outcome) -> None:
    """Timed full read and point lookups, checked against the replay model."""
    out.attempted += 1 + len(lookups)
    try:
        n, wall, _, _ = ctx.timed("bench.read", lambda: table.read().count())
        if n != expect[0]:
            out.fail("read", f"{n} live rows, model says {expect[0]}")
        layer.setdefault("read_s", []).append(wall)
        for url, hit in zip(lookups, expect[1]):
            c, wall, _, _ = ctx.timed("bench.lookup", lambda: table.lookup(url).count())
            if c != hit:
                out.fail("lookup", f"{url}: {c} rows, model says {hit}")
            layer.setdefault("lookup_s", []).append(wall)
        seqs: dict[int, set] = {}
        for f in table.snapshot().files:
            seqs.setdefault(f.bucket, set()).add(f.sequence)
        layer.setdefault("delta_commits", []).append(max(map(len, seqs.values()), default=0))
    except Exception as ex:  # noqa: BLE001 - a failed read is a measured outcome
        out.fail("read", ex)


def _table_figures(table, live: int, layer: dict) -> None:
    from game_library_enrichment_etl_spark.lake.snapshot import snapshot_path

    snap = table.snapshot()
    stored = sum(os.path.getsize(os.path.join(table.root, f.path)) for f in snap.files)
    layer.update(
        commits=snap.version,
        snapshot_bytes=os.path.getsize(snapshot_path(table.root, snap.version)),
        data_files=len(snap.files),
        stored_bytes_per_live_row=stored / max(live, 1),
    )


class _NewBytes:
    """Bytes of data files added since the last call, by commit sequence,
    from the snapshot manifest."""

    def __init__(self, table):
        self.table, self.known = table, set()

    def __call__(self) -> dict[int, int]:
        added: dict[int, int] = {}
        for f in self.table.snapshot().files:
            if f.path not in self.known:
                self.known.add(f.path)
                size = os.path.getsize(os.path.join(self.table.root, f.path))
                added[f.sequence] = added.get(f.sequence, 0) + size
        return added


def _apply_counts(results, layer: dict) -> None:
    ms = [r.metrics for r in results if not r.skipped]
    for k in ("events_in", "winners", "conflicts_resolved", "delete_winners", "buckets_touched"):
        layer[k] = sum(m.get(k, 0) for m in ms)
    layer["overlapped_batches"] = sum(bool(m.get("stats_overlapped")) for m in ms)
    layer["exact_stats_batches"] = sum(m.get("winner_stats_path") == "exact" for m in ms)
    layer["hot_key_routed_batches"] = sum(bool(m.get("hot_key_routed")) for m in ms)


# ---------------------------------------------------------------- workloads
MOR_SEGMENTS, MOR_EVENTS, MOR_URLS = 13, 4_000, 8_000
# Half the runner's default of 8 delta commits per bucket, so compaction
# fires three times in a run (after batches 5, 9 and 13), not once per 9.
MOR_AUTO_COMPACT = 4
# Reads and lookups after batches 4, 8 and 12, when buckets hold the most
# delta commits (just before a compaction fires), and after the last batch,
# just after one fires.
MOR_READ_EVERY = 4


def _mor_inputs(ctx: Ctx):
    """Landing directories of the seeded WAL, the final-state model rows,
    the lookup urls and the expected figures at each read point."""
    from game_library_enrichment_etl_spark.datagen_spark import gen_stream_spark

    # One generator job for the whole stream, cut into segments by the
    # generator's own batch formula (batch_id = floor(lsn * segments / events)):
    # the same rows as one job per segment, without a Spark job per segment.
    n = MOR_SEGMENTS * MOR_EVENTS
    gen_stream_spark(ctx.spark, ctx.path("gen"), n_events=n, n_urls=MOR_URLS, n_segments=1,
                     seed=ctx.seed)
    wal = pq.read_table(ctx.path("gen"))
    ts = wal.column("warc_ts")
    wal = wal.set_column(wal.schema.get_field_index("warc_ts"), "warc_ts",
                         ts.cast(pa.timestamp("us", tz=ts.type.tz or "UTC")))
    lsn = wal.column("lsn").to_numpy()
    order = np.argsort(lsn, kind="stable")
    wal, lsn = wal.take(order), lsn[order]
    bid = (lsn * MOR_SEGMENTS) // n
    wal = wal.set_column(wal.schema.get_field_index("batch_id"), "batch_id", pa.array(bid))
    landings, sizes = [], []
    for k in range(MOR_SEGMENTS):
        landing = ctx.path("landing", f"seg-{k:05d}")
        path = os.path.join(landing, f"seg-{k:05d}", "part-00000.parquet")
        os.makedirs(os.path.dirname(path))
        lo, hi = np.searchsorted(bid, [k, k + 1])
        pq.write_table(wal.slice(lo, hi - lo), path)
        landings.append(landing)
        sizes.append(os.path.getsize(path))
    events = _events_frame(wal)
    lookups = _pick_lookups(events, ctx.seed)
    read_after = {b for b in range(MOR_SEGMENTS) if (b + 1) % MOR_READ_EVERY == 0}
    read_after.add(MOR_SEGMENTS - 1)
    expect = _replay_points(events, read_after, lookups)
    return landings, float(np.median(sizes)), _model_rows(events), lookups, expect


def mor_stream(ctx: Ctx) -> Outcome:
    """Seeded Spark-generated WAL into a merge-on-read table. Each segment
    lands in its own directory and is applied by one incremental
    ``streaming.runner.tail_segments`` run (read_change_batch -> apply_batch
    -> the deployed auto-compaction); a full read and point lookups follow
    every few runs and the last one."""
    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
    from game_library_enrichment_etl_spark.streaming import runner

    spark, out, t_prep = ctx.spark, Outcome(), time.monotonic()
    layer = out.layer
    landings, layer["segment_bytes"], model_rows, lookups, expect = _mor_inputs(ctx)
    table = create_pages_table(spark, ctx.path("pages"), merge_strategy="mor")
    new_bytes = _NewBytes(table)
    _release_memory()
    out.prep_s = time.monotonic() - t_prep

    results = []
    with ctx.rss:
        t_pass = time.monotonic()
        for b, landing in enumerate(landings):
            out.attempted += 1
            try:
                res, wall, e0, e1 = ctx.timed(
                    "bench.batch", runner.tail_segments, table, landing, pattern="seg-*",
                    auto_compact=MOR_AUTO_COMPACT,
                )
                if len(res) != 1 or res[0].skipped:
                    raise RuntimeError(f"expected one applied segment, got {res}")
            except Exception as ex:  # noqa: BLE001 - a failed batch is a measured outcome
                out.fail(f"batch {b}", ex)
                break
            res = res[0]
            results.append(res)
            out.units.append((wall, res.metrics.get("events_in", 0), e0, e1))
            added = new_bytes()
            comp = res.metrics.get("compaction")
            if comp is not None:
                layer.setdefault("compactions", []).append(comp)
                layer["compact_bytes"] = layer.get("compact_bytes", 0) + added.get(
                    comp["snapshot_version"], 0)
            layer["user_bytes"] = layer.get("user_bytes", 0) + added.get(res.snapshot_version, 0)
            if b in expect:
                _read_point(ctx, table, expect[b], lookups, layer, out)
        out.job_s = time.monotonic() - t_pass
    _apply_counts(results, layer)
    _table_figures(table, len(model_rows), layer)
    if len(results) == len(landings):
        _check_final(ctx, table, model_rows, out)
    return out


QUERIES = (
    "exact_dedup_docs", "minhash_lsh_pairs", "simhash_pairs", "ngram_jaccard_pairs",
    "fuzzy_blocked_join", "lang_id_docs_np", "quality_token_stats_np",
)
FUNCTION_QUERIES = ("lang_id_docs_np", "quality_token_stats_np")
# A fixed subset of the sf0.1 test dataset: documents with doc_id < 500 and
# parts with p_partkey < 4000, all columns (see README.md).
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def operator_queries(ctx: Ctx) -> Outcome:
    """A fixed sequence of the declared operator queries over a fixed input,
    each forced through the noop sink; outputs checked against the queries'
    DuckDB oracle SQL. The input does not depend on the seed."""
    import duckdb

    import __spark_entry__ as entry
    from tools.check_oracle import compare

    spark, out, data = ctx.spark, Outcome(), QUERY_DATA
    rows = {t: pq.read_metadata(os.path.join(data, f"{t}.parquet")).num_rows
            for t in ("documents", "part")}
    scanned = {q: rows["part"] if q == "fuzzy_blocked_join" else rows["documents"] for q in QUERIES}
    queries = entry.queries()

    with ctx.rss:
        t_pass = time.monotonic()
        for q in QUERIES:
            out.attempted += 1
            layer_name = "functions" if q in FUNCTION_QUERIES else "operators"
            try:
                _, wall, e0, e1 = ctx.timed(
                    f"{layer_name}.{q}",
                    lambda: queries[q](spark, data).write.format("noop").mode("overwrite").save(),
                )
            except Exception as ex:  # noqa: BLE001 - a failed query is a measured outcome
                out.fail(q, ex)
                continue
            out.units.append((wall, scanned[q], e0, e1))
            out.layer[f"{q}_s"] = wall
        out.job_s = time.monotonic() - t_pass

    # The DuckDB oracle runs on a thread while Spark collects the outputs.
    t_check = time.monotonic()
    oracle = entry.oracle_sql()

    def expected() -> dict:
        con = duckdb.connect()
        try:
            for t in ("documents", "part"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            return {q: con.sql(oracle[q]).df() for q in QUERIES}
        finally:
            con.close()

    with ThreadPoolExecutor(max_workers=1) as pool:
        want = pool.submit(expected)
        got = {}
        for q in QUERIES:
            try:
                got[q] = queries[q](spark, data).toPandas()
            except Exception as ex:  # noqa: BLE001 - a failed check is a measured outcome
                out.fail(f"{q} output", ex)
        want = want.result()
    for q, df in got.items():
        out.layer[f"{q}_rows"] = len(df)
        problems = compare(q, df, want[q])
        if problems:
            out.fail(f"{q} output", "; ".join(problems))
    out.check_s = time.monotonic() - t_check
    return out


WORKLOADS = {"mor_stream": mor_stream, "operator_queries": operator_queries}
