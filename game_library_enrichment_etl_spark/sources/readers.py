"""Source-side operators (SURVEY.md §2.1).

- csv_scan           S1/S2: header remap + explicit schema (inference only
                     at the raw edge; reference: pd.read_csv(skiprows=1),
                     /root/reference/src/game_library.py:32, low_memory
                     inference-stabilization :279)
- raw_landing        S8: immutable timestamped raw zone partitioned by
                     ingest date (/root/reference/src/how_long_to_beat.py:130-147)
- latest_landing     S7: newest-landing discovery for resume
                     (/root/reference/src/how_long_to_beat.py:267-296)
- enrich_with_retry  S6: per-key external lookup with bounded retry,
                     vectorized inside an Arrow pandas UDF — the replacement
                     for the reference's per-row HTTP loop
                     (/root/reference/src/how_long_to_beat.py:68-122)
- JobConfig          S12: config bootstrap (YAML-dict analog,
                     /root/reference/src/utils.py:15-46)
- read_change_batch  WAL micro-batch read; leaves the session conf untouched
                     (see its docstring)
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def csv_scan(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    rename: dict[str, str] | None = None,
) -> DataFrame:
    """CSV scan with optional explicit schema (kills inference instability)
    and bulk header remap."""
    reader = spark.read.option("header", True)
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.csv(path)
    if rename:
        df = df.withColumnsRenamed(rename)
    return df


def read_change_batch(spark: SparkSession, path: str) -> DataFrame:
    """Read one WAL/micro-batch parquet file-or-directory.

    The read sets no session conf: a split size written to the session
    outlives the batch and re-plans every later scan on it (lake reads,
    lookups, compaction). Spark's default split sizing already spreads a
    segment over the cluster: ``FilePartition.maxSplitBytes`` caps a split
    at the segment's bytes (plus a 4 MB open cost per file) divided by the
    default parallelism, so a segment of files above the open cost plans at
    least min(files, parallelism) splits. On Spark 4.1.2 an 8 x 15 MB
    segment at ``local[8]`` plans 8 splits. Files far below the open cost
    pack two or more to a split; such a scan is latency-bound either way.
    """
    return spark.read.parquet(path)


def raw_landing(df: DataFrame, base_path: str, batch_ts: str) -> str:
    """Immutable raw landing: write-once under ingest_date=YYYY-MM-DD/
    (deterministic batch timestamp passed in — never current_timestamp(),
    replay equivalence). Returns the landing directory."""
    out = os.path.join(base_path, f"ingest_date={batch_ts[:10]}", f"landing_{batch_ts}")
    df.write.mode("errorifexists").parquet(out)
    return out


def latest_landing(base_path: str) -> str | None:
    """Newest landing directory by lexicographic (timestamp-encoded) name —
    the reference's max-by-mtime resume point, made deterministic."""
    found = []
    for date_dir in sorted(os.listdir(base_path)) if os.path.isdir(base_path) else []:
        d = os.path.join(base_path, date_dir)
        if not os.path.isdir(d):
            continue
        for landing in sorted(os.listdir(d)):
            found.append(os.path.join(d, landing))
    return found[-1] if found else None


def enrich_with_retry(
    df: DataFrame,
    key_col: str,
    lookup: Callable[[str], dict | None],
    out_fields: list[tuple[str, str]],
    attempts: int = 2,
) -> DataFrame:
    """Vectorized external-enrichment stage: ``lookup`` is called per key
    INSIDE an Arrow-batched mapInPandas iterator (per-partition batches, no
    driver loop, task-level parallelism), with ``attempts`` bounded retries
    and skip-on-fail (null outputs) — the reference's retry policy
    (/root/reference/src/how_long_to_beat.py:80-107) without the per-row
    latency wall.

    out_fields: [(name, spark_type_simplestring)] appended to the row.
    """
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField(n, T._parse_datatype_string(t), True) for n, t in out_fields]
    )
    names = [n for n, _ in out_fields]

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            extra: dict[str, list] = {n: [] for n in names}
            for k in pdf[key_col]:
                rec = None
                for _ in range(attempts):
                    try:
                        rec = lookup(k)
                        break
                    except Exception:
                        continue  # bounded retry, then skip-on-fail
                for n in names:
                    extra[n].append(None if rec is None else rec.get(n))
            yield pdf.assign(**extra)

    return df.mapInPandas(op, out_schema)


@dataclass
class JobConfig:
    """Engine job config (the reference's YAML dict, typed)."""

    table_root: str
    wal_dir: str
    checkpoint_dir: str
    n_buckets: int = 64
    merge_mode: str = "overwrite"  # or "coalesce" (M2 partial updates)
    lateness_s: int | None = None
    max_files_per_trigger: int = 1
    rename_hints: dict[str, str] = field(default_factory=dict)

    def ensure_dirs(self) -> None:
        for d in (os.path.dirname(self.table_root), self.wal_dir, self.checkpoint_dir):
            if d:
                os.makedirs(d, exist_ok=True)
