"""Last-writer-wins per-key dedup — the apply's hot-key pre-reduce.

Semantics: for each key keep exactly the row with the maximum
(warc_ts, lsn) — the Spark rendition of the reference's deterministic
per-group winner selection (/root/reference/src/how_long_to_beat.py:299-339)
and "latest timestamped extract wins" (:287-296).

An explicit two-phase reduce: phase 1 groups by (key,
salt=pmod(xxhash64(version), N_SALTS)) with ``max_by(struct(*),
version)``, phase 2 re-reduces per key. Exact because max over a total
order is associative + commutative (SURVEY.md §4 custom-2); both phases
aggregate map-side, so a hot key is split across N_SALTS groups before it
concentrates in one task. The table-side LWW resolve (read and
compaction) is the window in lake/table.py, not this reduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SALTS = 16


def lww_dedup(
    df: DataFrame,
    key: str = "url",
    order_cols: tuple[str, ...] = ("warc_ts", "lsn"),
) -> DataFrame:
    """One row per ``key``: the max-(order_cols) row. Column set preserved."""
    cols = df.columns
    ver = F.struct(*[F.col(c) for c in order_cols])
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in order_cols]), F.lit(N_SALTS))
    )
    phase1 = salted.groupBy(key, "_salt").agg(
        F.max_by(F.struct(*[F.col(c) for c in cols]), ver).alias("_w")
    )
    phase2 = phase1.groupBy(key).agg(
        F.max_by(F.col("_w"), F.struct(*[F.col(f"_w.{c}") for c in order_cols])).alias("_w")
    )
    return phase2.select(*[F.col(f"_w.{c}").alias(c) for c in cols])
