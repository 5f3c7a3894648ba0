"""The CDC merge: one union fold, one payload exchange per batch.

``fused_merge`` is the only merge path cdc/apply.py runs. The merge
decision per key — "the batch winner replaces the stored row iff its
(warc_ts, lsn) is >= the stored row's; op='D' tombstones; otherwise the
stored row carries forward" — is an LWW fold over the UNION of the stored
rows and the raw batch rows: the table's one fold (``lake.table.LwwFold``,
which ``read`` and ``compact`` run with no batch side). Every row carries
the commit sequence ``_seq`` that breaks a version tie; batch rows carry
one above every stored row's, so the source wins. The stored side is the
raw ``_seq``-tagged scan of the touched buckets, not a resolved read, so a
merge onto a merge-on-read table pays one exchange too. A merge-on-read
batch in overwrite mode is the same fold over no stored rows
(``target=None``): every winner is a batch row, appended as a delta file.

    stored rows (_seq: commit) UNION batch rows (_seq: _BATCH_SEQ)  -- no shuffle
      -> LwwFold: exact-routed partitioning of (_bucket[, _salt]) groups
         (lake/table.route_expr)                        -- the ONLY exchange
      -> partition-local sort (key ASC, version DESC, _seq DESC)
      -> "first row of key group" filter                == LWW winner
      -> duplicate guard [+ coalesce fold] over the same window
      -> delete tombstoning; stored text passed through, and the _extract
         flag set where the winning html is a live batch row's
      -> the writer's one MapInArrow pass (lake/table.bucket_file_writer):
         html->text on flagged rows, one pyarrow file per bucket per task

A join formulation moves the touched payload bytes through THREE
exchanges (the batch LWW dedup, the join on key, the bucket repartition
before the write), and round-2/3 profiling showed that structural cost
dominated the merge-write phase ("change propagation without joins").

Correctness hinges on one invariant: ``_bucket = pmod(xxhash64(key),
n_buckets)`` (and the optional in-bucket ``_salt``) is a pure function of
the key, so hash-partitioning on it colocates every row of a key in
exactly one partition, where the sort makes the key's rows contiguous
with the max-(warc_ts, lsn, _seq) row first. Catalyst accepts the bucket
partitioning as every window's required clustering, so NO second exchange
or sort is planned — winner selection, tombstoning, extraction and the
file write all run inside the single post-shuffle stage (``lag``/``lead``
run JVM-side, and the writer's Arrow pass sees winner rows only).

Scale properties (the 100-TB design):
- one exchange of payload bytes per batch;
- extraction (the only Python work, in the writer's pass) runs on
  batch-won live rows only, and stored text is passed through, never
  re-extracted;
- write parallelism is NOT capped at n_buckets: when the cluster has more
  slots than buckets, an in-bucket salt (also a pure key function) splits
  each bucket across ceil(nparts / n_buckets) writers — the MOR manifest
  supports any files-per-bucket count, and resolution order (version,
  sequence) is unaffected because a key never spans two salt shards;
- the writer consumes the fold's bucket-clustered order as it is: no
  sort by partition column, no Hadoop output committer.

Contract: ``lsn`` is a unique sequence number (the WAL/LSN contract).
Within one stored commit a key has one row, so two adjacent rows with
equal (key, version, _seq) can only be two batch rows at one version:
each row checks its successor via ``lead``, and a ``max`` over the key's
rows folds the flag — winning AND non-winning duplicates — into the
winner's tombstone column, which raises (``raise_error``) before the
commit. A stored row at a batch row's version is a replay the source
wins, not a duplicate.

Reference precursor: newest-extract-wins per key
(/root/reference/src/how_long_to_beat.py:287-296) — re-expressed as a
partition-local vectorized scan instead of a per-row Python loop.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..lake.table import BUCKET_COL, DELETED_COL, EXTRACT_COL, SEQ_COL, LwwFold, sort_layout


# Column-expression memo (r6, guide §1.2 "per-task work" applied to the
# DRIVER): building this plan costs ~150-200ms of py4j round trips per
# call (~80 Column constructions: window functions over explicit specs,
# per-field casts, the route-token array), and every micro-batch of a
# steady stream rebuilds byte-identical expressions — only the source
# DataFrames differ. Columns are unresolved expression trees (no bound
# attribute ids), so one built set applies to any DataFrame with the
# right column names; cache them per (gateway app, shape) and reuse. The
# key holds no per-batch value, so a steady stream hits one entry.
# Keyed on the JVM application id so a restarted SparkContext in the
# same Python process never sees stale py4j handles; an insert drops the
# entries of every other application id, so dead contexts' handles are
# not kept alive.
_EXPR_CACHE: dict[tuple, dict] = {}

# The batch rows' _seq: above every commit sequence, so the source wins a
# version tie. A constant, not the batch's own sequence number, so the
# memoized expressions hold no per-batch value.
_BATCH_SEQ = (1 << 63) - 1


def fused_merge(
    target: DataFrame | None,
    batch: DataFrame,
    key: str,
    op_col: str,
    order_cols: tuple[str, ...],
    cur_schema: T.StructType,
    computed: dict[str, str],
    n_buckets: int,
    total_rows: int | None = None,
    mode: str = "overwrite",
) -> DataFrame:
    """MERGE ``batch`` into ``target`` as union + one route exchange +
    partition-local fold. Each key's first row in (version DESC, _seq
    DESC) order decides the key:

    - batch row first and batch version > stored (or no stored row): the
      batch winner replaces the row; ``op='D'`` tombstones it.
    - version tie: batch rows carry the highest ``_seq`` — source wins.
    - stored row first (its version is higher, or its commit is the later
      one at a version tie between stored rows): the stored row carries
      forward verbatim, including an existing tombstone (its op is
      re-derived as 'D' from the stored flag).
    - batch rows are never deduped up front: the sort orders a key's batch
      rows version-DESC, so the first is the batch LWW winner.

    ``target=None`` folds over the batch alone: the merge-on-read write,
    whose winners are appended as delta files.

    ``mode='coalesce'`` (reference M2, ``pandas.DataFrame.update``) folds
    the same sorted union per key instead of keeping one row verbatim.
    Each stored row counts as a reset (op ``I``, or ``D`` if tombstoned) at
    its own version; the key's reset point is its latest I/D row by
    (version, _seq); each payload column takes its last non-null value
    from the non-D rows at or after the reset point. The first-sorted row
    still decides the key, the version and whether the key is deleted.

    Extraction is left to the writer: the computed column carries the
    stored text, or NULL where the winning html came from a live batch
    row, and ``EXTRACT_COL`` flags those rows, so per-batch Python cost
    stays O(batch winners), never O(touched buckets).

    ``target`` is the raw ``_seq``-tagged scan of the touched buckets
    (``IceletTable._scan(with_seq=True)``: every stored row, tombstones
    included, projected to ``cur_schema`` with computed columns present);
    ``batch`` is the normalized projection (op + payload columns, computed
    absent); ``total_rows`` sizes the sort layout (lake/table.sort_layout).
    Output is bucket-clustered and key-sorted within buckets, ready for
    ``write_data_files_prepartitioned`` with ``extract=computed``."""
    spark = batch.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    n_parts, n_salts = sort_layout(nparts, n_buckets, total_rows)
    x = _merge_exprs(
        spark.sparkContext.applicationId, key, op_col, order_cols,
        cur_schema, tuple(sorted(computed.items())), n_buckets, n_parts,
        n_salts, mode,
    )
    src = batch.select(*x["b_side"])
    if target is not None:
        src = target.select(*x["t_side"]).unionByName(src)
    return x["fold"].apply(src, x["out_cols"], x["stages"])


def _merge_exprs(
    app_id: str,
    key: str,
    op_col: str,
    order_cols: tuple[str, ...],
    cur_schema: T.StructType,
    computed_t: tuple[tuple[str, str], ...],
    n_buckets: int,
    n_parts: int,
    n_salts: int,
    mode: str,
) -> dict:
    ck = (
        app_id, key, op_col, order_cols, cur_schema.json(), computed_t,
        n_buckets, n_parts, n_salts, mode,
    )
    hit = _EXPR_CACHE.get(ck)
    if hit is not None:
        return hit
    computed = dict(computed_t)
    types = {f.name: f.dataType for f in cur_schema.fields}
    payload = [
        f.name for f in cur_schema.fields
        if f.name not in computed and f.name != DELETED_COL
    ]
    # stored rows re-derive op from the tombstone flag — a stored row is a
    # reset (I, or D when tombstoned) at its own version; batch rows carry
    # their op and NULL computed columns
    t_side = [
        F.when(
            F.coalesce(F.col(DELETED_COL), F.lit(False)), F.lit("D")
        ).otherwise(F.lit("I")).alias(op_col),
        *[F.col(c) for c in payload],
        *[F.col(c) for c in computed],
        F.col(SEQ_COL),
    ]
    b_side = [
        F.col(op_col),
        *[F.col(c) for c in payload],
        *[F.lit(None).cast(types[c]).alias(c) for c in computed],
        F.lit(_BATCH_SEQ).alias(SEQ_COL),
    ]
    fold = LwwFold(key, order_cols, n_buckets, n_parts, n_salts)

    # WAL integrity: a row whose successor has the SAME (key, version,
    # _seq) is one of two batch rows at one version (a stored commit holds
    # one row per key) — duplicate lsn delivery with potentially divergent
    # payloads. The key's max folds every row's flag into the winner's
    # guard.
    same = [F.lead(F.col(c)).over(fold.w).eqNullSafe(F.col(c)) for c in (key, *order_cols, SEQ_COL)]
    dup = reduce(lambda a, b: a & b, same)
    stages = [
        [dup.alias("_dup")],
        [F.max(F.col("_dup").cast("int")).over(fold.per_key).alias("_dup_any")],
    ]

    is_del = F.col(op_col) == "D"
    folded: dict[str, F.Column] = {}
    if mode == "coalesce":
        # first-with-ignorenulls over the per-key frame is "latest" in
        # version order
        vs = F.struct(*[F.col(c) for c in order_cols], F.col(SEQ_COL))
        reset = F.first(F.when(F.col(op_col).isin("I", "D"), vs), ignorenulls=True)
        stages[0].append(reset.over(fold.per_key).alias("_reset"))
        live_after = ~is_del & (F.col("_reset").isNull() | (vs >= F.col("_reset")))
        text_of = {src: name for name, src in computed.items()}
        for c in payload:
            if c in (key, *order_cols):
                continue
            # the supplying row's _seq (and stored text, for an extraction
            # source) ride along so extraction runs only on batch-won html
            parts = [F.col(SEQ_COL).alias("s"), F.col(c).alias("v")]
            if c in text_of:
                parts.append(F.col(text_of[c]).alias("t"))
            fold_c = F.first(
                F.when(live_after & F.col(c).isNotNull(), F.struct(*parts)),
                ignorenulls=True,
            )
            stages[1].append(fold_c.over(fold.per_key).alias(f"_f_{c}"))
            folded[c] = F.col(f"_f_{c}")

    # the integrity raise is folded into the tombstone column so every
    # written row evaluates it (a dropped helper column would be pruned)
    guarded_del = F.when(
        F.col("_dup_any") > 0,
        F.raise_error(
            F.lit(
                "WAL integrity violation: duplicate (key, "
                f"{', '.join(order_cols)}) delivered within one batch; "
                "lsn must be a unique sequence number"
            )
        ).cast("boolean"),
    ).otherwise(is_del)
    out_cols = []
    for f in cur_schema.fields:
        if f.name == DELETED_COL:
            out_cols.append(guarded_del.alias(f.name))
        elif f.name in computed:
            src_col = computed[f.name]
            if src_col in folded:
                from_batch = folded[src_col].getField("s") == _BATCH_SEQ
                stored = folded[src_col].getField("t")
            else:
                from_batch = F.col(SEQ_COL) == _BATCH_SEQ
                stored = F.col(f.name)
            # stored-won rows pass their stored value through; batch-won
            # live rows are flagged, and the writer extracts their text
            # from the output html column (the same folded value)
            out_cols.append(
                F.when(~is_del, F.when(from_batch, F.lit(None)).otherwise(stored))
                .cast(f.dataType)
                .alias(f.name)
            )
            out_cols.append((from_batch & ~is_del).alias(EXTRACT_COL))
        elif f.name in (key, *order_cols):
            out_cols.append(F.col(f.name))
        else:
            val = folded[f.name].getField("v") if f.name in folded else F.col(f.name)
            out_cols.append(
                F.when(is_del, F.lit(None).cast(f.dataType)).otherwise(val).alias(f.name)
            )
    out_cols.append(F.col(BUCKET_COL))
    built = {
        "t_side": t_side,
        "b_side": b_side,
        "fold": fold,
        "stages": stages,
        "out_cols": out_cols,
    }
    for k in list(_EXPR_CACHE):
        if k[0] != app_id:
            _EXPR_CACHE.pop(k, None)
    _EXPR_CACHE[ck] = built
    return built
