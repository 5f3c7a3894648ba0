"""IceletTable — a from-scratch Iceberg-style lake table over plain parquet.

Capabilities (the subset the engine needs; SURVEY.md §4 custom 1-5):
- hash-bucketed layout by key: ``_bucket = pmod(xxhash64(key), n_buckets)``
  so a MERGE only rewrites the buckets its batch touches (copy-on-write
  file pruning via per-file key bounds + bucket ids in the manifest);
- snapshot isolation + time travel (read any committed version);
- field-id schema evolution: add / rename / type-widen without rewriting
  data files — old files are re-projected by field id on read;
- atomic commits via pointer rename; idempotent batch-id markers.

No Iceberg jar exists in this sandbox (/opt/spark/jars has none) — this
layer is the from-scratch answer, with an interface seam (same verbs:
read / merge-commit / snapshot) so a real Iceberg catalog could slot in.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from functools import lru_cache, partial, reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .schema import Field, TableSchema
from .snapshot import (
    DataFileMeta,
    Snapshot,
    read_snapshot,
    write_snapshot,
)

BUCKET_COL = "_bucket"
DELETED_COL = "_deleted"
SEQ_COL = "_seq"
# the merge's flag on rows whose computed columns the writer derives
# (bucket_file_writer); never written
EXTRACT_COL = "_extract"
# variable-length types the writer keeps no min/max statistics for
_VARLEN = (pa.types.is_binary, pa.types.is_large_binary,
           pa.types.is_string, pa.types.is_large_string)
# the writer's row-group bound, in Arrow bytes: what one write task buffers
# of a bucket, and the unit a reader skips by key bounds or splits a large
# file into scan tasks by
ROW_GROUP_BYTES = 64 << 20

def bucket_expr(key_col: str, n_buckets: int):
    """Deterministic bucket id for a key — the explicit repartition target
    (north_rule: explicit partitioning by hash(url))."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


# every writer stages a commit's files under data/v{sequence}-{uuid8}/
# (write_data_files / write_data_files_prepartitioned); the read path
# exploits that to derive _seq from the file path instead of planning one
# scan branch per sequence — after verifying the invariant per file
_COMMIT_DIR_RE = re.compile(r"^v(\d+)-[0-9a-f]{8}$")


def _path_sequence(rel_path: str) -> int | None:
    """Commit sequence encoded in a manifest-relative data file path
    (``data/v{seq}-{uuid8}/_bucket=K/...``), or None if the path does not
    follow the standard layout."""
    parts = rel_path.replace("\\", "/").split("/")
    if len(parts) >= 2 and parts[0] == "data":
        m = _COMMIT_DIR_RE.match(parts[1])
        if m is not None:
            return int(m.group(1))
    return None


def _seq_from_file_path():
    """Row-level _seq: parse the commit directory out of the scanned file's
    absolute URI. The LAST ``/data/v{seq}-{uuid8}/`` occurrence is taken so
    a table root that itself contains a look-alike component cannot
    mis-parse (the manifest-relative suffix always supplies one match).
    The trailing slash is a lookahead, not consumed: matches do not
    overlap, so a consumed slash would let a root ENDING in a look-alike
    component swallow the separator the real commit dir's match needs."""
    hits = F.regexp_extract_all(
        F.input_file_name(), F.lit(r"/data/v(\d+)-[0-9a-f]{8}(?=/)"), F.lit(1)
    )
    return F.element_at(hits, -1)


# sort shards are kept at/under this many rows so partition-local sorts of
# multi-KB payload rows stay in memory instead of external-sorting; tuned
# for web-page rows (~1-4 KB) against multi-GB task memory
ROWS_PER_SORT_SHARD = 250_000
# layout granularity (see sort_layout): never shard finer than this many
# rows, target ~TASK_WAVES tasks per slot, and keep at least
# GROUPS_PER_PARTITION distinct (bucket, salt) hash groups per exchange
# partition so balls-in-bins variance stays bounded. Each task carries a
# fixed cost before the writer's body runs: a few tens of ms from task
# launch on a reused Python worker (0.013-0.040 s for a trivial mapInArrow
# at local[4] on a 4-core host), about 0.4 s on a new worker's first task
# (its fork and imports), so waves trade straggler absorption against
# per-task overhead.
MIN_ROWS_PER_SHARD = 25_000
TASK_WAVES = 2
GROUPS_PER_PARTITION = 8
# latency-regime refinement (see sort_layout): minimum rows per task when
# splitting a small batch across extra same-salt partitions
MIN_ROWS_PER_TASK = 3_000


def sort_layout(
    nparts: int,
    n_buckets: int,
    total_rows: int | None = None,
) -> tuple[int, int]:
    """(exchange partitions, in-bucket salts) for a bucket-clustered SORT
    stage (the fused write, the LWW resolve of read and compaction).

    Constraints, resolved together:
    - PARTITION COUNT bounds each task's sorter: sorting happens per
      exchange partition, so with only spark.sql.shuffle.partitions
      partitions a low-parallelism run funnels millions of multi-KB
      payload rows into one task's sorter and external-sorts (measured:
      8M-event 4-bucket compaction at local[2] went 24x super-linear).
      The exchange is therefore sized so a partition holds
      ~ROWS_PER_SORT_SHARD rows. Extra partitions beyond the core count just
      queue — cheap; partitions beyond memory spill — ruinous.
    - TASK WAVES absorb stragglers: a stage with exactly one task per
      slot (the r5 8M bench planned 8 merge tasks on 8 slots) makes the
      stage wall equal its slowest task — every event-log profile showed
      max_task == stage_wall. Targeting ~TASK_WAVES tasks per slot lets
      the scheduler pack around an oversized partition, bounded below by
      the spill constraint and above by MIN_ROWS_PER_SHARD (tiny batches
      should not fan into confetti tasks).
    - SALT COUNT gives the exchange enough distinct hash groups. A
      (bucket, salt) group is one hash unit; hashing G groups into P
      partitions is balls-in-bins, so G must exceed P by a factor
      (GROUPS_PER_PARTITION) or some partitions draw 2-3x the mean
      (measured: 32 buckets into 24 partitions gave a 2.7x straggler).
      When n_buckets alone is fine-grained enough — the 100-TB deployment
      shape, where buckets far outnumber per-stage partitions — the salt
      collapses to 1 and files-per-bucket stays minimal.

    An explicit repartition(N, exprs) yields hashpartitioning(exprs, N),
    which satisfies a window's clustering requirement over the same exprs
    — no second exchange is planned — and AQE never coalesces an
    explicitly-numbered repartition, so the layout holds as planned."""
    n_parts = nparts
    if total_rows:
        by_spill = -(-total_rows // ROWS_PER_SORT_SHARD)  # ceil: sorter bound
        fine_cap = max(1, -(-total_rows // MIN_ROWS_PER_SHARD))
        n_parts = max(by_spill, min(TASK_WAVES * nparts, fine_cap))
        # Latency-regime refinement: a bucketed write emits one file per
        # (bucket, salt) group regardless of n_parts, so a small batch
        # funneled into ONE task writes all its files serially while the
        # other cores idle. Measured in r6 on Spark's Hadoop writer (open /
        # footer / close / rename ~15ms per file): 0.86s for 32 files at
        # 12.5k rows in one task, 0.51s in 4 tasks. The table's writer now
        # streams each file with pyarrow and renames nothing; a task still
        # pays its fixed start (see TASK_WAVES). Extra partitions that keep
        # the SALT COUNT unchanged are free parallelism: same groups, same
        # file count, same layout — just fewer files per task.
        # Bounded by MIN_ROWS_PER_TASK rows per task so confetti stays
        # out, and by the largest partition count whose salt formula
        # still yields the same n_salts, so file counts (and read/
        # compaction amplification) are provably unchanged at any scale.
        if n_parts < TASK_WAVES * nparts and total_rows > MIN_ROWS_PER_TASK:
            salt_now = max(
                1, -(-GROUPS_PER_PARTITION * n_parts // max(n_buckets, 1))
            )
            same_salt_cap = max(
                n_parts, salt_now * max(n_buckets, 1) // GROUPS_PER_PARTITION
            )
            by_task_grain = total_rows // MIN_ROWS_PER_TASK
            n_parts = max(
                n_parts,
                min(by_task_grain, same_salt_cap, TASK_WAVES * nparts),
            )
    n_salts = max(1, -(-GROUPS_PER_PARTITION * n_parts // max(n_buckets, 1)))
    return n_parts, n_salts


def in_bucket_salt(key_col: str, n_salts: int):
    """In-bucket write-salt shard for a key — a pure key function (so the
    colocation invariant and one-file-per-key-per-commit both hold), drawn
    from a hash INDEPENDENT of the bucket hash: seeding xxhash64 with a
    literal decorrelates it from ``pmod(xxhash64(key), n_buckets)``. A
    salt taken from the same hash value collapses to one shard per bucket
    whenever n_salts divides n_buckets (the typical power-of-two case),
    silently re-capping write parallelism at n_buckets."""
    return F.pmod(F.xxhash64(F.lit("_salt"), F.col(key_col)), F.lit(n_salts))


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """Murmur3 x86_32 of one 4-byte int block — bit-identical to Spark's
    ``Murmur3Hash`` (and ``F.hash``) over an IntegerType column (public
    algorithm; Spark hashes an int as a single block with seed 42).
    Returns the SIGNED 32-bit result exactly as Spark does. Pinned against
    ``F.hash`` by tests/test_lake_extras.py."""
    m = 0xFFFFFFFF
    k = (x & m) * 0xCC9E2D51 & m
    k = ((k << 15) | (k >> 17)) & m
    k = k * 0x1B873593 & m
    h = (seed ^ k) & m
    h = ((h << 13) | (h >> 19)) & m
    h = (h * 5 + 0xE6546B64) & m
    h ^= 4  # total byte length
    h = (h ^ (h >> 16)) * 0x85EBCA6B & m
    h = (h ^ (h >> 13)) * 0xC2B2AE35 & m
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


@lru_cache(maxsize=64)
def _route_tokens(n_parts: int) -> tuple[int, ...]:
    """tokens[p] = smallest non-negative int whose Murmur3 hash pmods to
    exchange partition p — so repartitioning on a column holding tokens[p]
    places the row on partition p EXACTLY. Driver-side search, ~P·ln P
    probes, memoized per partition count."""
    found: dict[int, int] = {}
    t = 0
    while len(found) < n_parts:
        p = _murmur3_int32(t) % n_parts  # python % == Spark pmod for n>0
        if p not in found:
            found[p] = t
        t += 1
    return tuple(found[p] for p in range(n_parts))


def route_expr(group_id, n_parts: int):
    """Exact balanced group->partition routing column.

    ``repartition(n, hash_exprs)`` assigns each distinct (bucket, salt)
    group by Murmur3 — balls-in-bins, so with G groups over P partitions
    some partitions draw 2-3x the mean and the merge/resolve stage pays a
    measured 9-14% straggler tail (BENCH/stageprof: max task ~2x mean at
    G=144, P=24). This instead routes group g to partition (g % P) —
    every partition gets ceil(G/P) or floor(G/P) groups by construction —
    by mapping g to a driver-found token whose Murmur3 hash lands on that
    partition. The route is a pure function of (bucket, salt), itself a
    pure key function, so key colocation is unchanged; the route value is
    CONSTANT within each resulting partition, so window sorts that lead
    with it cluster identically to (bucket, salt, ...).

    Use as the ONLY repartition expression; window/cluster specs may add
    (bucket, salt) after it — HashPartitioning([route]) satisfies
    ClusteredDistribution([route, bucket, salt]), so no second exchange."""
    toks = _route_tokens(n_parts)
    arr = F.array(*[F.lit(t) for t in toks])
    idx = (F.pmod(group_id, F.lit(n_parts)) + F.lit(1)).cast("int")
    return F.element_at(arr, idx)


def layout_exprs(
    key_col: str,
    n_parts: int,
    n_salts: int,
    bucket_ids: list[int] | None = None,
):
    """(repartition exprs, clustering exprs) for a bucket-clustered stage:
    repartition on the exact route token alone; windows / in-partition
    sorts partition by (route, bucket[, salt]) — same semantic groups,
    one exchange, balanced partitions.

    ``bucket_ids``: when the stage covers a SUBSET of buckets (the LWW
    resolve of a compaction's buckets or of a read's multi-sequence
    buckets), round-robin needs dense group ids — raw bucket ids modulo
    n_parts would collide some partitions and leave others empty. The
    literal array maps each present bucket to its rank; when the ids are
    exactly 0..k-1 the rank is the id itself and no array is planned."""
    cluster = [F.col(BUCKET_COL)]
    ids = sorted(bucket_ids) if bucket_ids is not None else None
    if ids is not None and ids != list(range(len(ids))):
        arr = F.array(*[F.lit(int(x)).cast("long") for x in ids])
        dense_b = F.array_position(arr, F.col(BUCKET_COL).cast("long")) - F.lit(1)
    else:
        dense_b = F.col(BUCKET_COL)
    grp = dense_b
    if n_salts > 1:
        salt = in_bucket_salt(key_col, n_salts)
        cluster.append(salt)
        grp = dense_b * F.lit(n_salts) + salt
    route = route_expr(grp, n_parts)
    return [route], [route, *cluster]


class LwwFold:
    """The table's one last-writer-wins fold, shared by ``read``,
    ``compact`` and the CDC merge (cdc/fused.py): each key's newest row by
    (version_cols, ``_seq``), ``_seq`` being the commit sequence that
    breaks a version tie (``_scan(with_seq=True)``; the merge's batch rows
    carry one above every commit's).

    Recompute the bucket (a pure key function: no stored column needed),
    route (bucket, salt(key)) groups to exchange partitions, sort
    partition-locally by (key ASC, version DESC, _seq DESC), keep each
    key's first row. ONE exchange of payload bytes, no join: the explicit
    repartition's hashpartitioning satisfies the window's clustering, so
    no second exchange or sort is planned. Over a subset of buckets the
    route is exact over their DENSE ranks (layout_exprs), so the subset
    still spreads evenly.

    The fold itself emits only the winner filter; the merge layers its
    own window columns on ``w`` and ``per_key`` (the same sort order: no
    new exchange or sort)."""

    def __init__(
        self,
        key: str,
        version_cols: tuple[str, ...],
        n_buckets: int,
        n_parts: int,
        n_salts: int,
        bucket_ids: list[int] | None = None,
    ):
        (self.part,), cluster = layout_exprs(key, n_parts, n_salts, bucket_ids)
        pw = [F.col(f"_pw{i}") for i in range(len(cluster))]
        newest_first = [F.col(c).desc() for c in (*version_cols, SEQ_COL)]
        self.n_parts = n_parts
        self.bucket = bucket_expr(key, n_buckets).alias(BUCKET_COL)
        self.route = [e.alias(f"_pw{i}") for i, e in enumerate(cluster)]
        self.w = Window.partitionBy(*pw).orderBy(F.col(key).asc(), *newest_first)
        # every row of one key: only that key's rows are buffered
        self.per_key = (
            Window.partitionBy(*pw, F.col(key)).orderBy(*newest_first)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        # the first row of each key group: row_number()==1 guards the
        # partition's very first row, where lag is NULL and eqNullSafe
        # would mis-read a NULL key as a repeat
        prev_key = F.lag(F.col(key)).over(self.w)
        self.first = (
            (F.row_number().over(self.w) == 1) | ~prev_key.eqNullSafe(F.col(key))
        ).alias("_first")

    @classmethod
    def of_table(cls, spark, snap: Snapshot, bucket_ids: list[int], total_rows: int):
        """The fold of the stored rows of ``bucket_ids`` (``total_rows``
        rows by the manifest), laid out spill-aware by ``sort_layout``."""
        nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        layout = sort_layout(nparts, len(bucket_ids), total_rows)
        key, vcols = snap.properties["key"], tuple(snap.properties["version_cols"])
        return cls(key, vcols, snap.n_buckets, *layout, bucket_ids)

    def apply(self, src: DataFrame, out: list, stages: tuple = ()) -> DataFrame:
        """``out`` over each key's first row of the ``_seq``-tagged
        ``src``, bucket-clustered and ready for
        ``write_data_files_prepartitioned``. Each of ``stages`` (lists of
        window columns) is selected over the previous one."""
        # route columns are computed after the exchange, not shuffled: its
        # partitioning carries over to their alias, so one sort serves all
        df = src.select("*", self.bucket).repartition(self.n_parts, self.part)
        df = df.select("*", *self.route)
        first, *rest = stages or ([],)
        df = df.select("*", self.first, *first)
        for stage in rest:
            df = df.select("*", *stage)
        return df.where(F.col("_first")).select(*out)


def _table_schema(schema: T.StructType | TableSchema) -> TableSchema:
    """``schema`` as a TableSchema that carries the engine-managed
    tombstone column (appended when absent): deletes are kept as tombstone
    rows (key + version, payload nulls) so a stale out-of-order event in a
    later batch cannot resurrect a deleted key."""
    ts = schema if isinstance(schema, TableSchema) else TableSchema.from_spark(schema, 0)
    if DELETED_COL in ts.names():
        return ts
    next_id = max((f.id for f in ts.fields), default=0) + 1
    return TableSchema(ts.version, [*ts.fields, Field(next_id, DELETED_COL, "boolean")])


def bucket_file_writer(
    df: DataFrame,
    root: str,
    rel_dir: str,
    key: str,
    extract: dict[str, str] | None = None,
) -> DataFrame:
    """The write of bucket-clustered ``df`` under ``root/rel_dir`` as a
    lazy DataFrame of manifest rows (bucket, path, rows, min_key,
    max_key, deleted), one per file: collecting it writes the files.
    ``root/rel_dir`` must exist; the tasks create only its bucket
    directories.

    One ``mapInArrow`` pass per task, with no Hadoop filesystem under it:
    no ``.crc`` sidecars, no ``_SUCCESS`` or ``_temporary`` directories,
    no committer renames. Spark's writer paid a ``chmod`` fork per file,
    sidecar and directory on a host without native Hadoop, all inside the
    task. Rows of one bucket arrive contiguously (the fold sorts by route,
    bucket, salt, key), so each task streams one bucket at a time into one
    snappy file per bucket it holds, ``_bucket=K/part-{partition
    id}-{task attempt id}.parquet``, its rows in the order they arrive:
    key order within each salt shard, as Spark's writer wrote them.

    ``extract`` maps a computed column to its source column: where
    ``EXTRACT_COL`` is true the column takes ``extract_text_arrow`` of its
    source, elsewhere it keeps its value. The flag column is not written.
    The caller's plan evaluates every column in the JVM before a row
    reaches the pass, so a ``raise_error`` in a column fails the task
    before Python sees that row's batch."""
    key_type = df.schema[key].dataType
    manifest = T.StructType([
        T.StructField("bucket", T.IntegerType()),
        T.StructField("path", T.StringType()),
        T.StructField("rows", T.LongType()),
        T.StructField("min_key", key_type),
        T.StructField("max_key", key_type),
        T.StructField("deleted", T.LongType()),
    ])
    return df.mapInArrow(partial(_write_bucket_files, root, rel_dir, key, extract or {}), manifest)


class _BucketFile:
    """One bucket's file of one write task, streamed: slices are buffered
    until they hold ``ROW_GROUP_BYTES`` of Arrow data, then written as one
    row group, so a task holds at most about one row group and one Arrow
    batch of a bucket however large the bucket. Rows, key bounds and the
    tombstone count are running totals."""

    def __init__(self, root: str, rel_dir: str, bucket: int, name: str, key: str):
        self.bucket, self.key = bucket, key
        self.rel_path = os.path.join(rel_dir, f"{BUCKET_COL}={bucket}", name)
        self.path = os.path.join(root, self.rel_path)
        self.writer, self.buf, self.buf_bytes = None, [], 0
        self.rows, self.deleted, self.lo, self.hi = 0, 0, None, None

    def add(self, t: pa.Table) -> None:
        lo_hi = pc.min_max(t[self.key])
        lo, hi = lo_hi["min"].as_py(), lo_hi["max"].as_py()
        if lo is not None:
            self.lo = lo if self.lo is None else min(self.lo, lo)
            self.hi = hi if self.hi is None else max(self.hi, hi)
        self.rows += t.num_rows
        self.deleted += pc.sum(t[DELETED_COL]).as_py() or 0
        self.buf.append(t)
        self.buf_bytes += t.nbytes
        if self.buf_bytes >= ROW_GROUP_BYTES:
            self._write_row_group()

    def _write_row_group(self) -> None:
        t = pa.concat_tables(self.buf)
        if self.writer is None:
            try:
                # not makedirs: once a failed write's attempt directory is
                # removed, a straggling task must not recreate it
                os.mkdir(os.path.dirname(self.path))
            except FileExistsError:
                pass
            # statistics only where a reader prunes on them: min/max of
            # multi-KB payload values cost bytes in every page and footer.
            # The page index lets a pushed key filter skip pages inside a
            # row group, as parquet-mr's column indexes did (~120 B a file)
            stats = [f.name for f in t.schema if f.name == self.key
                     or not any(is_payload(f.type) for is_payload in _VARLEN)]
            self.writer = pq.ParquetWriter(self.path, t.schema, compression="snappy",
                                           store_schema=False, write_statistics=stats,
                                           write_page_index=True)
        self.writer.write_table(t)
        self.buf, self.buf_bytes = [], 0

    def close(self) -> pa.RecordBatch:
        if self.buf:
            self._write_row_group()
        self.writer.close()
        key_type = self.writer.schema.field(self.key).type
        return pa.RecordBatch.from_arrays(
            [
                pa.array([self.bucket], pa.int32()),
                pa.array([self.rel_path]),
                pa.array([self.rows], pa.int64()),
                pa.array([self.lo], key_type),
                pa.array([self.hi], key_type),
                pa.array([self.deleted], pa.int64()),
            ],
            ["bucket", "path", "rows", "min_key", "max_key", "deleted"],
        )


def _write_bucket_files(root: str, rel_dir: str, key: str, extract: dict, batches):
    """``bucket_file_writer``'s task body over its Arrow record batches."""
    from pyspark import TaskContext

    from ..functions.extract import extract_text_arrow

    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"

    def written(b: pa.RecordBatch) -> pa.Table:
        t = pa.Table.from_batches([b])
        if extract:
            flag = pc.fill_null(t[EXTRACT_COL], False).combine_chunks()
            for col, src in extract.items():
                vals = t[col].combine_chunks()
                new = extract_text_arrow(pc.filter(t[src].combine_chunks(), flag))
                t = t.set_column(t.schema.get_field_index(col), col,
                                 pc.replace_with_mask(vals, flag, new.cast(vals.type)))
        return t.drop_columns([c for c in (BUCKET_COL, EXTRACT_COL) if c in t.column_names])

    out, done = None, set()
    for b in batches:
        if not b.num_rows:
            continue
        ids = b.column(BUCKET_COL).to_numpy(zero_copy_only=False)
        cuts = [0, *(np.flatnonzero(ids[1:] != ids[:-1]) + 1), len(ids)]
        for lo, hi in zip(cuts, cuts[1:]):
            bucket = int(ids[lo])
            if out is None or out.bucket != bucket:
                if out is not None:
                    yield out.close()
                    done.add(out.bucket)
                if bucket in done:
                    raise RuntimeError(
                        f"rows of bucket {bucket} are not contiguous in partition "
                        f"{ctx.partitionId()}: the writer needs bucket-clustered input"
                    )
                out = _BucketFile(root, rel_dir, bucket, name, key)
            out.add(written(b.slice(lo, hi - lo)))
    if out is not None:
        yield out.close()


class IceletTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # ------------------------------------------------------------- lifecycle
    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: T.StructType | TableSchema,
        key_col: str = "url",
        version_cols: tuple[str, str] = ("warc_ts", "lsn"),
        n_buckets: int = 16,
        merge_strategy: str = "cow",
    ) -> "IceletTable":
        """``merge_strategy``:

        - ``cow`` (copy-on-write): each merge rewrites every touched bucket's
          files wholesale; reads are resolution-free. Best for read-heavy /
          batchy workloads.
        - ``mor`` (merge-on-read): each merge APPENDS the batch's winner rows
          (deletes as tombstones) as new data files — per-batch write cost is
          O(batch), never O(table); reads resolve last-writer-wins per key by
          (version_cols, file sequence) and ``compact`` folds buckets back to
          one resolution-free file. The scale path for 10^10-event streams.

        The engine-managed ``_deleted`` tombstone column is appended to
        ``schema`` when it lacks one.
        """
        if read_snapshot(root) is not None:
            raise FileExistsError(f"table already exists at {root}")
        return IceletTable.create_or_replace(
            spark, root, schema, key_col, version_cols, n_buckets, merge_strategy
        )

    @staticmethod
    def exists(root: str) -> bool:
        return read_snapshot(root) is not None

    @staticmethod
    def create_or_replace(
        spark: SparkSession,
        root: str,
        schema: T.StructType | TableSchema,
        key_col: str = "url",
        version_cols: tuple[str, str] = ("warc_ts", "lsn"),
        n_buckets: int = 16,
        merge_strategy: str = "cow",
    ) -> "IceletTable":
        """CREATE OR REPLACE: the destructive full-replay reset verb
        (reference: the ``full_run`` rebuild flag,
        /root/reference/src/how_long_to_beat.py:150-151). The replacement is
        a normal commit — a new snapshot with an empty file list, a fresh
        schema lineage, and CLEARED batch-id markers/watermark so the whole
        change stream re-applies — while every prior snapshot stays readable
        via time travel (non-destructive at the metadata level; old data
        files are reclaimed by retention, not by this verb). On a root
        with no table it creates one at version 0, which is how ``create``
        builds its snapshot."""
        if merge_strategy not in ("cow", "mor"):
            raise ValueError(f"merge_strategy must be cow|mor, got {merge_strategy!r}")
        prev = read_snapshot(root)
        snap = Snapshot(
            version=0 if prev is None else prev.version + 1,
            parent=None if prev is None else prev.version,
            n_buckets=n_buckets,
            schemas=[_table_schema(schema)],
            files=[],
            applied_batch_ids=[],
            properties={
                "key": key_col,
                "version_cols": list(version_cols),
                "merge_strategy": merge_strategy,
            },
        )
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        write_snapshot(root, snap)
        return IceletTable(spark, root)

    def snapshot(self, version: int | None = None) -> Snapshot:
        snap = read_snapshot(self.root, version)
        if snap is None:
            raise FileNotFoundError(f"no icelet table at {self.root}")
        return snap

    @property
    def merge_strategy(self) -> str:
        return self.snapshot().properties.get("merge_strategy", "cow")

    # ------------------------------------------------------------------ read
    def read(
        self,
        version: int | None = None,
        buckets: list[int] | None = None,
        key_range: tuple[str, str] | None = None,
        include_deleted: bool = False,
    ) -> DataFrame:
        """Read the table at a snapshot (time travel), optionally pruned to a
        bucket set and/or key range using manifest stats — no file listing,
        no footer reads for skipped files. Tombstone rows (``_deleted``)
        are filtered out unless ``include_deleted``.

        Under merge-on-read, a key may appear in several delta files of its
        bucket; the read resolves last-writer-wins per key by
        (version_cols, file sequence) through ``LwwFold`` — ONE payload
        exchange on the bucket route, a partition-local sort and the
        first-of-key filter, the fold compaction and the merge run. Resolution
        is applied PER BUCKET: only buckets whose files span more than one
        commit sequence go through the resolve exchange; single-sequence
        buckets (COW tables, compacted buckets of a MOR table) are unioned
        straight from the scan — their files are key-disjoint by
        construction, so at steady state the shuffle is proportional to the
        uncompacted delta, not the table."""
        return self._read(self.snapshot(version), buckets, key_range, include_deleted)

    def _read(
        self,
        snap: Snapshot,
        buckets: list[int] | None,
        key_range: tuple[str, str] | None,
        include_deleted: bool,
    ) -> DataFrame:
        """``read``'s body over a snapshot the caller already holds."""
        cur = snap.schema
        files = snap.files
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f.bucket in bset]
        if key_range is not None:
            lo, hi = key_range
            files = [
                f
                for f in files
                if f.min_key is None or not (f.max_key < lo or f.min_key > hi)
            ]
        if not files:
            empty = self.spark.createDataFrame([], cur.to_spark())
            return empty if include_deleted else empty.drop(DELETED_COL)

        # LWW resolution is needed only when a key could span two files of
        # its bucket. Within ONE commit that is impossible (bucket and the
        # in-bucket write salt are both pure key functions), so the trigger
        # is a bucket holding files from MORE THAN ONE commit sequence —
        # not a bucket holding more than one file. This keeps reads
        # resolution-free right after compaction even when the salted
        # writer folded a bucket into several same-sequence files.
        per_bucket: dict[int, set[int]] = {}
        for f in files:
            per_bucket.setdefault(f.bucket, set()).add(f.sequence)
        multi = set()
        if snap.properties.get("merge_strategy", "cow") == "mor":
            multi = {b for b, s in per_bucket.items() if len(s) > 1}

        if not multi:
            out = self._scan(snap, files, cur, with_seq=False)
        else:
            # Selective resolve: only buckets whose files span >1 commit
            # sequence can hold a key twice, so only THEIR rows pay the
            # resolve exchange. Single-sequence buckets (the steady state
            # after per-bucket auto-compaction) are unioned straight from
            # the scan — at 100 TB this keeps the shuffle proportional to
            # the uncompacted delta, not the table.
            f_resolve = [f for f in files if f.bucket in multi]
            f_direct = [f for f in files if f.bucket not in multi]
            fold = LwwFold.of_table(
                self.spark, snap, sorted(multi), sum(f.rows for f in f_resolve)
            )
            out = fold.apply(self._scan(snap, f_resolve, cur, with_seq=True), cur.names())
            if f_direct:
                out = out.unionByName(self._scan(snap, f_direct, cur, with_seq=False))
        if not include_deleted:
            out = out.where(~F.coalesce(F.col(DELETED_COL), F.lit(False))).drop(DELETED_COL)
        return out

    def _scan(
        self, snap: Snapshot, files: list[DataFileMeta], cur: TableSchema, with_seq: bool
    ) -> DataFrame:
        """The raw rows of ``files`` (tombstones included, no resolution),
        re-projected by field id to ``cur`` (rename/widen are
        metadata-only). ``with_seq`` tags each row with ``_seq``, the
        version-tie breaker of ``LwwFold``: its file's commit sequence where
        its bucket holds files of several commits, and 0 where the bucket
        holds one commit's files among ``files`` — a key has at most one row
        there, so no sequence is needed and no path is parsed.

        One reader per SCHEMA VERSION, not per (schema, sequence): an
        uncompacted MOR bucket set spans many commit sequences, and a
        per-sequence reader union planned S scan branches (S ~ commits
        since compaction) — S FileSourceScans to plan, codegen and
        schedule for the SAME schema (measured: the 8-commit bench table's
        post-apply read dropped 20-40% collapsing 8 branches to 1). _seq is
        then derived per row from the commit directory in the file path
        (data/v{seq}-{uuid8}/, the layout every writer uses) — verified
        driver-side against the manifest for every file first, with a
        per-sequence-reader fallback on any mismatch, so resolution order
        can never silently drift from the manifest's sequence numbers.

        The scan is planned from the manifest alone: it names every file
        as an explicit path, and the session lists those paths on the
        driver whatever their count (``session.get_spark`` sets
        ``spark.sql.sources.parallelPartitionDiscovery.threshold``). At
        Spark's default of 32, a scan of more than 32 files (an uncompacted
        16-bucket MOR table after 3 batches) submitted a one-task-per-file
        listing job before the DataFrame even existed."""
        bucket_seqs: dict[int, set[int]] = {}
        by_sv: dict[int, list] = {}
        for f in files:
            bucket_seqs.setdefault(f.bucket, set()).add(f.sequence)
            by_sv.setdefault(f.schema_version, []).append(f)
        parts = []
        for sv, metas in by_sv.items():
            old = snap.schema_at(sv)
            if not with_seq:
                groups = [(metas, None)]
            else:
                single = [f for f in metas if len(bucket_seqs[f.bucket]) == 1]
                multi = [f for f in metas if len(bucket_seqs[f.bucket]) > 1]
                seqs = sorted({f.sequence for f in multi})
                groups = [(single, F.lit(0))] if single else []
                if len(seqs) == 1:
                    groups.append((multi, F.lit(seqs[0])))
                elif seqs and all(_path_sequence(f.path) == f.sequence for f in multi):
                    groups.append((multi, _seq_from_file_path()))
                else:
                    groups += [([f for f in multi if f.sequence == s], F.lit(s)) for s in seqs]
            for g, seq in groups:
                df = self.spark.read.schema(old.to_spark()).parquet(
                    *[os.path.join(self.root, f.path) for f in g]
                )
                cols = []
                old_by_id = old.by_id()
                for cf in cur.fields:
                    of = old_by_id.get(cf.id)
                    if of is None:  # column added after these files were written
                        cols.append(F.lit(None).cast(cf.type).alias(cf.name))
                    else:
                        cols.append(F.col(of.name).cast(cf.type).alias(cf.name))
                if seq is not None:
                    cols.append(seq.cast("long").alias(SEQ_COL))
                parts.append(df.select(*cols))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def lookup(self, key_value: str, version: int | None = None) -> DataFrame:
        """Point lookup: prune to the key's single bucket via the pure-Python
        XXH64 (no Spark job for planning) + manifest key bounds, then filter.
        Reads at most one bucket's files; the parquet scan gets the pushed
        EqualTo filter for row-group skipping."""
        from .xxhash import bucket_of

        snap = self.snapshot(version)
        b = bucket_of(key_value, snap.n_buckets)
        df = self._read(snap, [b], (key_value, key_value), include_deleted=False)
        return df.where(F.col(snap.properties["key"]) == key_value)

    # ----------------------------------------------------------------- write
    def write_data_files(
        self,
        df: DataFrame,
        version: int,
        schema_version: int,
        key: str,
        n_buckets: int,
    ) -> tuple[list[DataFileMeta], int]:
        """``write_data_files_prepartitioned`` of any ``df`` (current-schema
        columns + ``_bucket``, keyed by ``key`` over ``n_buckets``
        buckets): hash-repartition on (_bucket, in-bucket salt(key)) so
        each (bucket, salt) shard lands in exactly one task and write
        parallelism is min(nparts, n_buckets * n_salts) instead of being
        capped at n_buckets. A key never spans two shards (salt is a pure
        key function), so the commit's files stay key-disjoint. Rows are
        sorted by (bucket, key) within each task: one file per bucket per
        task, rows in key order."""
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        n_parts, n_salts = sort_layout(nparts, n_buckets)
        repart_cols, _ = layout_exprs(key, n_parts, n_salts)
        staged = df.repartition(n_parts, *repart_cols).sortWithinPartitions(BUCKET_COL, key)
        return self.write_data_files_prepartitioned(staged, version, schema_version, key)

    def write_data_files_prepartitioned(
        self,
        df: DataFrame,
        version: int,
        schema_version: int,
        key: str,
        extract: dict[str, str] | None = None,
    ) -> tuple[list[DataFileMeta], int]:
        """Write ``df``, whose rows are ALREADY clustered by bucket within
        each partition (the LWW fold's route exchange and sort), as
        immutable parquet files under a per-attempt unique directory
        ``data/v{version}-{uuid8}/_bucket=K/``. Returns the manifest
        entries (key bounds for ``key``, the table's key column) and the
        number of tombstone rows written.

        The write is ``bucket_file_writer``: one pyarrow pass per task
        that writes one file per bucket the task holds and yields each
        file's manifest row, so the driver builds the entries from the rows
        it collects (no listing, no footer read). ``extract`` maps computed
        columns to their source columns; the pass extracts them on the rows
        the ``_extract`` flag marks.

        The uuid suffix makes retries safe: a crash between the data-file
        write and the snapshot commit leaves an orphan directory no
        snapshot references, and the retried apply writes a fresh directory
        instead of colliding with the orphan (manifest entries record exact
        paths, so readers never glob). A retried task's failed attempt
        leaves files no collected row names: orphans too."""
        rel_dir = os.path.join("data", f"v{version}-{uuid.uuid4().hex[:8]}")
        out = os.path.join(self.root, rel_dir)
        os.makedirs(out)
        try:
            rows = bucket_file_writer(df, self.root, rel_dir, key, extract).collect()
        except BaseException:
            # a write the plan rejects (the merge's WAL-integrity raise)
            # commits nothing: its attempt directory is garbage now, not an
            # orphan for the retention sweep to find later
            shutil.rmtree(out, ignore_errors=True)
            raise
        if not rows:
            os.rmdir(out)
        files = [
            DataFileMeta(
                path=r["path"],
                bucket=r["bucket"],
                rows=r["rows"],
                min_key=r["min_key"],
                max_key=r["max_key"],
                schema_version=schema_version,
                sequence=version,
            )
            for r in sorted(rows, key=lambda r: (r["bucket"], r["path"]))
        ]
        return files, sum(r["deleted"] for r in rows)

    def commit(
        self,
        new_files: list[DataFileMeta],
        replaced_buckets: set[int],
        batch_ids: list[int],
        new_schema: TableSchema | None = None,
        properties_update: dict | None = None,
        expected_version: int | None = None,
    ) -> Snapshot:
        """Build + atomically publish the next snapshot: files of untouched
        buckets carry forward; touched buckets are fully replaced by
        ``new_files`` (copy-on-write).

        The whole read-modify-publish section runs under the table write
        lock, and ``expected_version`` (the snapshot version the caller's
        work was based on) is CAS-checked under it: a concurrent commit in
        between raises ``CommitConflictError`` instead of silently losing
        that commit's files/markers or reusing its sequence number
        (lake/locking.py; Iceberg-style optimistic concurrency)."""
        from .locking import CommitConflictError, table_write_lock

        with table_write_lock(self.root):
            snap = self.snapshot()
            if expected_version is not None and snap.version != expected_version:
                raise CommitConflictError(
                    f"table at {self.root} is at snapshot {snap.version}, "
                    f"but this work was based on {expected_version}; retry"
                )
            kept = [f for f in snap.files if f.bucket not in replaced_buckets]
            schemas = list(snap.schemas)
            if new_schema is not None and new_schema.version != snap.schema.version:
                schemas.append(new_schema)
            props = dict(snap.properties)
            props.update(properties_update or {})
            new_snap = Snapshot(
                version=snap.version + 1,
                parent=snap.version,
                n_buckets=snap.n_buckets,
                schemas=schemas,
                files=kept + new_files,
                applied_batch_ids=sorted(set(snap.applied_batch_ids) | set(batch_ids)),
                properties=props,
            )
            write_snapshot(self.root, new_snap)
        return new_snap

