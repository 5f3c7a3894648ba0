"""Standard table definitions for the CDC engine.

``pages`` is the authoritative lake-table shape from BASELINE.json
input_hint: (url:string, warc_ts:timestamp, html:binary, text:string,
lang:string), keyed by url, versioned by (warc_ts, lsn) — ``lsn`` is
stored so cross-batch replays resolve by version, and ``text`` is
engine-computed from ``html`` at apply time.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..lake.table import IceletTable

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lsn", T.LongType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        # engine-managed tombstone flag: deletes are retained as tombstone
        # rows (key + version, payload nulls) so a stale out-of-order event
        # arriving in a later batch cannot resurrect a deleted row. The read
        # path filters them out by default (lake/table.py read()).
        T.StructField("_deleted", T.BooleanType(), True),
    ]
)


def create_pages_table(
    spark: SparkSession,
    root: str,
    n_buckets: int = 16,
    merge_strategy: str = "cow",
) -> IceletTable:
    return IceletTable.create(
        spark,
        root,
        PAGES_SCHEMA,
        key_col="url",
        version_cols=("warc_ts", "lsn"),
        n_buckets=n_buckets,
        merge_strategy=merge_strategy,
    )

