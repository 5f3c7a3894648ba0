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
- read_change_batch  WAL micro-batch read with the schema taken from the
                     files' parquet footers; leaves the session conf
                     untouched (see its docstring)
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow.parquet as pq
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

    The schema comes from the data files' parquet footers, read on the
    driver (``footer_schema``), so the read submits no Spark job: schema
    inference runs a one-task job per read, 0.10-0.12 s on a warm
    ``local[4]`` session against 0.02 s with the schema given. A read the
    footers cannot describe exactly falls back to inference.

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
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def local_path(path: str) -> str | None:
    """The local file path that Spark's path ``path`` names, or None when it
    names no local file. A plain path is returned as given; a ``file:`` URI
    (``file:/x``, ``file:///x``, with ``%20`` escapes, as ``inputFiles()``
    spells a local file) is decoded to its path; any other scheme
    (``hdfs://``, ``s3a://``) gives None, so its path component is never
    opened on the local filesystem."""
    if "://" not in path and not path.startswith("file:"):
        return path
    url = urlparse(path)
    return unquote(url.path) if url.scheme == "file" else None


# where Spark's parquet writer stores the row schema as StructType JSON;
# schema inference takes a file's schema from it verbatim when present
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(spark: SparkSession, path: str) -> T.StructType | None:
    """The schema ``spark.read.parquet(path)`` infers, derived from the data
    files' footers without a Spark job; None where that derivation might
    differ from inference: a glob or remote path, partition subdirectories,
    summary files, no data file, an unreadable footer, a column type
    outside the plain scalars, or files whose schemas disagree (inference
    then takes an arbitrary file's).

    Data files are the ones Spark lists: it skips names starting with
    ``.``, and with ``_`` unless they hold ``=``. A Spark-written file's
    schema is its row-metadata JSON; any other file's is its parquet
    columns mapped as Spark maps them under the session's conf, every field
    nullable."""
    if any(c in path for c in "*?[{"):
        return None
    path = local_path(path)
    if path is None:
        return None
    if os.path.isfile(path):
        files = [path]
    elif os.path.isdir(path):
        files = []
        for entry in os.scandir(path):
            name = entry.name
            if name.startswith(("_metadata", "_common_metadata")):
                return None
            if (name.startswith(".") or name.endswith("._COPYING_")
                    or (name.startswith("_") and "=" not in name)):
                continue
            if not entry.is_file():
                return None
            files.append(entry.path)
    else:
        return None
    try:
        metas = [pq.read_metadata(f) for f in files]
    except Exception:
        return None
    schemas = {_file_schema(spark, md) for md in metas}
    return schemas.pop() if len(schemas) == 1 else None


def _file_schema(spark: SparkSession, md) -> T.StructType | None:
    doc = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if doc is None:
        return _mapped_schema(spark, md.schema)
    try:
        return T.StructType.fromJson(_as_nullable(json.loads(doc)))
    except Exception:
        return None


def _as_nullable(doc):
    """StructType JSON ``doc`` with every field, element and value nullable,
    as a file source reads any schema."""
    if isinstance(doc, list):
        return [_as_nullable(v) for v in doc]
    if not isinstance(doc, dict):
        return doc
    nullable = ("nullable", "containsNull", "valueContainsNull")
    return {k: True if k in nullable else _as_nullable(v) for k, v in doc.items()}


def _mapped_schema(spark: SparkSession, pschema) -> T.StructType | None:
    """``pschema``'s flat scalar columns as Spark's parquet schema converter
    maps them; None for anything else."""
    fields = []
    for i in range(len(pschema)):
        col = pschema.column(i)
        if col.max_repetition_level or "." in col.path:
            return None  # nested or repeated
        dt = _mapped_type(spark, col.physical_type, json.loads(col.logical_type.to_json()))
        if dt is None:
            return None
        fields.append(T.StructField(col.path, dt, True))
    if not fields or len({f.name.lower() for f in fields}) != len(fields):
        return None
    return T.StructType(fields)


def _mapped_type(spark: SparkSession, physical: str, logical: dict) -> T.DataType | None:
    """Spark's type for one parquet column, from its physical type and
    pyarrow's JSON of its logical type; None where Spark would read it as
    a type mapped here from no other column (decimals, unsigned ints,
    nanosecond timestamps, fixed-length binary)."""
    kind = logical.get("Type")
    if kind == "None":
        plain = {"BOOLEAN": T.BooleanType(), "INT32": T.IntegerType(), "INT64": T.LongType(),
                 "FLOAT": T.FloatType(), "DOUBLE": T.DoubleType()}
        if physical in plain:
            return plain[physical]
        if physical == "BYTE_ARRAY":
            as_string = spark.conf.get("spark.sql.parquet.binaryAsString") == "true"
            return T.StringType() if as_string else T.BinaryType()
        if physical == "INT96" and spark.conf.get("spark.sql.parquet.int96AsTimestamp") == "true":
            return T.TimestampType()
        return None
    if kind == "String" and physical == "BYTE_ARRAY":
        return T.StringType()
    if kind == "Date" and physical == "INT32":
        return T.DateType()
    if kind == "Int" and logical.get("isSigned"):
        ints = {("INT32", 8): T.ByteType(), ("INT32", 16): T.ShortType(),
                ("INT32", 32): T.IntegerType(), ("INT64", 64): T.LongType()}
        return ints.get((physical, logical.get("bitWidth")))
    if kind == "Timestamp" and physical == "INT64" and logical.get("timeUnit") in (
        "milliseconds", "microseconds"
    ):
        if logical.get("isAdjustedToUTC"):
            return T.TimestampType()
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "true"
        return T.TimestampNTZType() if ntz else T.TimestampType()
    return None


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
