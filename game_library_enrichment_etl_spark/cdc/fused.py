"""The CDC merge: one union fold, one payload exchange per batch.

``fused_merge`` is the only merge path cdc/apply.py runs. The merge
decision per key — "the batch winner replaces the stored row iff its
(warc_ts, lsn) is >= the stored row's; op='D' tombstones; otherwise the
stored row carries forward" — is an LWW fold over the UNION of the stored
rows and the raw batch rows with a source-wins tie break. A merge-on-read
batch in overwrite mode is the same fold over no stored rows
(``target=None``): every winner is a batch row, appended as a delta file.

    stored rows (_pref=0) UNION batch rows (_pref=1)    -- no shuffle
      -> exact-routed partitioning of (_bucket[, _salt]) groups
         (lake/table.route_expr)                        -- the ONLY exchange
      -> partition-local sort (key ASC, version DESC, _pref DESC)
      -> "first row of key group" filter (lake/table.first_row_of_key)
                                                        == LWW winner
      -> delete tombstoning + winners-only html->text Arrow UDF
      -> parquet write partitionBy(_bucket), concurrent writers (no sort)

A join formulation moves the touched payload bytes through THREE
exchanges (the batch LWW dedup, the join on key, the bucket repartition
before the write), and round-2/3 profiling showed that structural cost
dominated the merge-write phase ("change propagation without joins").

Correctness hinges on one invariant: ``_bucket = pmod(xxhash64(key),
n_buckets)`` (and the optional in-bucket ``_salt``) is a pure function of
the key, so hash-partitioning on it colocates every row of a key in
exactly one partition, where the sort makes the key's rows contiguous
with the max-(warc_ts, lsn) row first. Catalyst accepts the bucket
partitioning as every window's required clustering, so NO second exchange
or sort is planned — winner selection, tombstoning, extraction and the
file write all run inside the single post-shuffle stage (``lag``/``lead``
run JVM-side and the pandas UDF sees winner rows only).

Scale properties (the 100-TB design):
- one exchange of payload bytes per batch;
- extraction (the only Python work) runs on winner rows only, and stored
  text is passed through, never re-extracted;
- write parallelism is NOT capped at n_buckets: when the cluster has more
  slots than buckets, an in-bucket salt (also a pure key function) splits
  each bucket across ceil(nparts / n_buckets) writers — the MOR manifest
  supports any files-per-bucket count, and resolution order (version,
  sequence) is unaffected because a key never spans two salt shards;
- the writer runs with spark.sql.maxConcurrentOutputFileWriters set so the
  planner does NOT re-sort the output by partition column.

Contract: ``lsn`` is a unique sequence number (the WAL/LSN contract). Two
batch rows with the same (key, version) are adjacent after the sort, so
each batch row checks its successor via ``lead``; a ``max`` over the key's
rows folds the flag — winning AND non-winning duplicates — into the
winner's tombstone column, which raises (``raise_error``) before the
commit. A stored row at a batch row's version is a replay the source
wins, not a duplicate.

Reference precursor: newest-extract-wins per key
(/root/reference/src/how_long_to_beat.py:287-296) — re-expressed as a
partition-local vectorized scan instead of a per-row Python loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.extract import extract_text_udf
from ..lake.table import (
    BUCKET_COL,
    DELETED_COL,
    bucket_expr,
    first_row_of_key,
    layout_exprs,
    sort_layout,
)


# Column-expression memo (r6, guide §1.2 "per-task work" applied to the
# DRIVER): building this plan costs ~150-200ms of py4j round trips per
# call (~80 Column constructions: window functions over explicit specs,
# per-field casts, the route-token array), and every micro-batch of a
# steady stream rebuilds byte-identical expressions — only the source
# DataFrames differ. Columns are unresolved expression trees (no bound
# attribute ids), so one built set applies to any DataFrame with the
# right column names; cache them per (gateway app, shape) and reuse.
# Keyed on the JVM application id so a restarted SparkContext in the
# same Python process never sees stale py4j handles; an insert drops the
# entries of every other application id, so dead contexts' handles are
# not kept alive.
_EXPR_CACHE: dict[tuple, dict] = {}


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
    partition-local fold. Stored rows are tagged pref=0 and batch rows
    pref=1; each key's first row in (version DESC, pref DESC) order
    decides the key:

    - batch row first and batch version > stored (or no stored row): the
      batch winner replaces the row; ``op='D'`` tombstones it.
    - version tie: pref DESC puts the batch row first — source wins.
    - stored row first (its version is higher): the stored row carries
      forward verbatim, including an existing tombstone (its op is
      re-derived as 'D' from the stored flag).
    - batch rows are never deduped up front: the sort orders a key's batch
      rows version-DESC, so the first is the batch LWW winner.

    ``target=None`` folds over the batch alone: the merge-on-read write,
    whose winners are appended as delta files.

    ``mode='coalesce'`` (reference M2, ``pandas.DataFrame.update``) folds
    the same sorted union per key instead of keeping one row verbatim.
    The stored row counts as a reset (op ``I``, or ``D`` if tombstoned) at
    its own version; the key's reset point is its latest I/D row by
    (version, pref); each payload column takes its last non-null value
    from the non-D rows at or after the reset point. The first-sorted row
    still decides the key, the version and whether the key is deleted.

    Extraction runs AFTER the winner filter and receives NULL html unless
    the winning html came from a batch row, so per-batch Python cost stays
    O(batch winners), never O(touched buckets).

    ``target`` is the bucket-pruned read with tombstones included,
    projected to ``cur_schema`` (computed columns present); ``batch`` is
    the normalized projection (op + payload columns, computed absent);
    ``total_rows`` sizes the sort layout (lake/table.sort_layout). Output
    is bucket-clustered and key-sorted within buckets, ready for
    ``write_data_files_prepartitioned``."""
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
    src = src.select(F.col("*"), *x["pw_aliased"])
    src = src.repartition(n_parts, x["pw0"])
    for stage in x["stages"]:
        src = src.select(F.col("*"), *stage)
    return src.where(F.col("_first")).select(*x["out_cols"])


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
        F.lit(0).alias("_pref"),
    ]
    b_side = [
        F.col(op_col),
        *[F.col(c) for c in payload],
        *[F.lit(None).cast(types[c]).alias(c) for c in computed],
        F.lit(1).alias("_pref"),
    ]

    _, part_exprs = layout_exprs(key, n_parts, n_salts)
    pw = [f"_pw{i}" for i in range(len(part_exprs))]
    # bucket must exist before the layout exprs reference it
    t_side.append(bucket_expr(key, n_buckets).alias(BUCKET_COL))
    b_side.append(bucket_expr(key, n_buckets).alias(BUCKET_COL))
    desc = [*[F.col(c).desc() for c in order_cols], F.col("_pref").desc()]
    w = Window.partitionBy(*[F.col(a) for a in pw]).orderBy(F.col(key).asc(), *desc)
    # per-key frame over the same sort order (route, bucket[, salt] and key
    # ascending, then version and pref descending): no new exchange or
    # sort, and only one key's rows are buffered
    wk = (
        Window.partitionBy(*[F.col(a) for a in pw], F.col(key))
        .orderBy(*desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )

    # WAL integrity: a batch row whose successor is a batch row with the
    # SAME (key, version) means duplicate lsn delivery with potentially
    # divergent payloads. The key's max folds every row's flag into the
    # winner's guard.
    dup = (F.col("_pref") == 1) & F.lead(F.col("_pref")).over(w).eqNullSafe(F.lit(1))
    for c in (key, *order_cols):
        dup = dup & F.lead(F.col(c)).over(w).eqNullSafe(F.col(c))
    stages = [
        [first_row_of_key(key, w).alias("_first"), dup.alias("_dup")],
        [F.max(F.col("_dup").cast("int")).over(wk).alias("_dup_any")],
    ]

    is_del = F.col(op_col) == "D"
    folded: dict[str, F.Column] = {}
    if mode == "coalesce":
        # first-with-ignorenulls over the per-key frame is "latest" in
        # version order
        vp = F.struct(*[F.col(c) for c in order_cols], F.col("_pref"))
        reset = F.first(F.when(F.col(op_col).isin("I", "D"), vp), ignorenulls=True)
        stages[0].append(reset.over(wk).alias("_reset"))
        live_after = ~is_del & (F.col("_reset").isNull() | (vp >= F.col("_reset")))
        text_of = {src: name for name, src in computed.items()}
        for c in payload:
            if c in (key, *order_cols):
                continue
            # the supplying row's pref (and stored text, for an extraction
            # source) ride along so extraction runs only on batch-won html
            parts = [F.col("_pref").alias("p"), F.col(c).alias("v")]
            if c in text_of:
                parts.append(F.col(text_of[c]).alias("t"))
            fold = F.first(
                F.when(live_after & F.col(c).isNotNull(), F.struct(*parts)),
                ignorenulls=True,
            )
            stages[1].append(fold.over(wk).alias(f"_f_{c}"))
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
                from_batch = folded[src_col].getField("p") == 1
                html = folded[src_col].getField("v")
                stored = folded[src_col].getField("t")
            else:
                from_batch = F.col("_pref") == 1
                html, stored = F.col(src_col), F.col(f.name)
            # batch-won live rows extract; stored-won rows pass their
            # stored value through. The UDF is evaluated eagerly for
            # every winner row, so non-extracting rows feed it NULL
            # (cheap) instead of gating with a CASE around the UDF.
            extracted = extract_text_udf(F.when(from_batch & ~is_del, html))
            out_cols.append(
                F.when(~is_del, F.when(from_batch, extracted).otherwise(stored))
                .cast(f.dataType)
                .alias(f.name)
            )
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
        "pw_aliased": [e.alias(a) for e, a in zip(part_exprs, pw)],
        "pw0": F.col(pw[0]),
        "stages": stages,
        "out_cols": out_cols,
    }
    for k in list(_EXPR_CACHE):
        if k[0] != app_id:
            _EXPR_CACHE.pop(k, None)
    _EXPR_CACHE[ck] = built
    return built
