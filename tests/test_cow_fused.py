"""Focused tests for the union-merge (cdc/fused.fused_merge):

1. Equivalence: the union + window formulation produces exactly the rows
   a full-outer-join merge of the batch LWW winners produces, derived by
   hand on a frame exercising every merge case — target-only live row,
   target-only tombstone, batch-only insert, batch-only delete, batch
   newer than target, batch STALE (older than target), exact version tie
   (source must win), and multiple batch rows per key (in-batch LWW).
2. Plan shape: exactly ONE exchange and no Python in the fold; the
   writer's one Arrow pass, which extracts text, sits above the winner
   filter (losers never reach Python), with a stored target and with none
   (the MOR write).
3. WAL integrity: two batch rows at one (key, version) raise; a stored
   row tied with a batch row is a replay, not a duplicate.
4. The expression memo keeps one application id's entries, and one entry
   across the batches of one shape.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from game_library_enrichment_etl_spark.cdc.fused import _EXPR_CACHE, _merge_exprs, fused_merge
from game_library_enrichment_etl_spark.cdc.tables import PAGES_SCHEMA
from game_library_enrichment_etl_spark.functions.extract import extract_text_one
from game_library_enrichment_etl_spark.lake.schema import TableSchema
from game_library_enrichment_etl_spark.lake.table import bucket_file_writer
from game_library_enrichment_etl_spark.plans.asserts import python_nodes

EXTRACT = {"text": "html"}


def _ts(s: int):
    return dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(seconds=s)


def _frames(spark):
    cur = TableSchema.from_spark(PAGES_SCHEMA, 0)
    # target: (url, warc_ts, lsn, html, text, lang, _deleted, _seq)
    target = spark.createDataFrame(
        [
            ("u/target-only", _ts(10), 10, b"<p>t1</p>", "t1", "en", False),
            ("u/tombstone", _ts(11), 11, None, None, None, True),
            ("u/batch-newer", _ts(12), 12, b"<p>old</p>", "old", "en", False),
            ("u/batch-stale", _ts(50), 50, b"<p>kept</p>", "kept", "en", False),
            ("u/tie", _ts(20), 20, b"<p>t-tie</p>", "t-tie", "en", False),
        ],
        PAGES_SCHEMA,
    ).withColumn("_seq", F.lit(1).cast("long"))  # the stored rows' commit
    batch_schema = "op string, url string, warc_ts timestamp, lsn long, html binary, lang string"
    batch = spark.createDataFrame(
        [
            ("U", "u/batch-only", _ts(30), 30, b"<p>new doc</p>", "en"),
            ("D", "u/batch-del", _ts(31), 31, None, None),
            ("U", "u/batch-newer", _ts(40), 40, b"<p>fresh</p>", "en"),
            ("U", "u/batch-stale", _ts(41), 41, b"<p>loses</p>", "en"),
            ("U", "u/tie", _ts(20), 20, b"<p>s-tie</p>", "en"),
            # in-batch LWW: three versions of one key, middle one a delete
            ("U", "u/multi", _ts(60), 60, b"<p>v1</p>", "en"),
            ("D", "u/multi", _ts(61), 61, None, None),
            ("U", "u/multi", _ts(62), 62, b"<p>v3 wins</p>", "en"),
        ],
        batch_schema,
    )
    return cur, target, batch


def _rows(df):
    """(url, warc_ts epoch seconds, lsn, html, text, lang, _deleted), sorted."""
    cols = [f.name for f in PAGES_SCHEMA.fields]
    out = df.select(*cols).withColumn("warc_ts", F.col("warc_ts").cast("long"))
    return sorted(
        tuple(bytes(r[c]) if isinstance(r[c], bytearray) else r[c] for c in cols)
        for r in out.collect()
    )


def _written(spark, tmp_path, merged):
    """``merged`` through the table's writer (which extracts text), read
    back from the files it wrote."""
    (tmp_path / "data" / "v1-00000000").mkdir(parents=True)
    rows = bucket_file_writer(merged, str(tmp_path), "data/v1-00000000", "url", EXTRACT).collect()
    return spark.read.parquet(*[str(tmp_path / r["path"]) for r in rows])


def _live(url: str, lsn: int, html: bytes) -> tuple:
    # every fixture row's warc_ts is lsn seconds past the fixture epoch
    return (url, int(_ts(lsn).timestamp()), lsn, html, extract_text_one(html), "en", False)


def _tombstone(url: str, lsn: int) -> tuple:
    return (url, int(_ts(lsn).timestamp()), lsn, None, None, None, True)


def test_cow_union_merge_equals_join_merge(spark, tmp_path):
    cur, target, batch = _frames(spark)
    fused = fused_merge(target, batch, "url", "op", ("warc_ts", "lsn"),
                        cur.to_spark(), {"text": "html"}, 8, total_rows=16)

    # the full-outer-join merge of the batch LWW winners, case by case:
    # take the batch winner iff its version >= the target's, tombstone it
    # if it is a D, else carry the target row (stored text included)
    want = sorted([
        ("u/target-only", int(_ts(10).timestamp()), 10, b"<p>t1</p>", "t1", "en", False),
        _tombstone("u/tombstone", 11),
        _live("u/batch-newer", 40, b"<p>fresh</p>"),
        ("u/batch-stale", int(_ts(50).timestamp()), 50, b"<p>kept</p>", "kept", "en", False),
        _live("u/tie", 20, b"<p>s-tie</p>"),
        _live("u/batch-only", 30, b"<p>new doc</p>"),
        _tombstone("u/batch-del", 31),
        _live("u/multi", 62, b"<p>v3 wins</p>"),
    ])
    got = _rows(_written(spark, tmp_path, fused))
    assert got == want, f"union merge diverges from join merge:\n{got}\nvs\n{want}"
    # spot-check the interesting cases landed as designed
    by_url = {r[0]: r for r in got}
    assert by_url["u/batch-stale"][4] == "kept"          # stale replay lost
    assert by_url["u/tie"][4] == "s-tie"                 # tie -> source wins
    assert by_url["u/multi"][4] == "v3 wins"             # in-batch LWW
    assert by_url["u/batch-del"][6] is True              # delete tombstoned
    assert by_url["u/tombstone"][6] is True              # tombstone carried


def test_cow_union_merge_plan_shape(spark, tmp_path):
    cur, target, batch = _frames(spark)
    # coalesce mode folds over the same union, exchange and sort; without
    # a target (the MOR write) the union is skipped
    for tgt in (target, None):
        for mode in ("overwrite", "coalesce"):
            fused = fused_merge(tgt, batch, "url", "op", ("warc_ts", "lsn"),
                                cur.to_spark(), {"text": "html"}, 8, total_rows=16,
                                mode=mode)
            case = f"{mode}, target={tgt is not None}"
            plan = fused._jdf.queryExecution().executedPlan().toString()
            assert plan.count("Exchange") == 1, f"{case}: expected exactly one exchange:\n{plan}"
            n_sorts = len(re.findall(r"(?:\+- |^)(?:\*\(\d+\) )?Sort \[", plan, re.M))
            assert n_sorts == 1, f"{case}: expected exactly one sort:\n{plan}"
            assert python_nodes(plan) == [], f"{case}: the fold must run no Python:\n{plan}"
            # the writer's pass above the winner filter: losers never reach Python
            wplan = bucket_file_writer(fused, str(tmp_path), "data/v1-00000000", "url",
                                       EXTRACT)._jdf.queryExecution().executedPlan().toString()
            assert python_nodes(wplan) == ["MapInArrow"], f"{case}: one Python node:\n{wplan}"
            i_filt, i_py = wplan.index("Filter"), wplan.index("MapInArrow")
            assert i_py < i_filt, f"{case}: the writer must sit above the winner filter:\n{wplan}"


@pytest.mark.parametrize("lsn", [62, 60], ids=["winning", "non-winning"])
def test_duplicate_batch_version_raises_stored_tie_does_not(spark, lsn):
    cur, target, batch = _frames(spark)
    # the stored row tied with a batch row (u/tie) is a replay the source
    # wins: it merges without raising
    assert len(fused_merge(target, batch, "url", "op", ("warc_ts", "lsn"),
                           cur.to_spark(), {"text": "html"}, 8).collect()) == 8
    # a second batch row at one of u/multi's versions, with another payload
    dup = spark.createDataFrame(
        [("U", "u/multi", _ts(lsn), lsn, b"<p>divergent</p>", "en")], batch.schema
    )
    for tgt in (target, None):
        out = fused_merge(tgt, batch.unionByName(dup), "url", "op", ("warc_ts", "lsn"),
                          cur.to_spark(), {"text": "html"}, 8)
        with pytest.raises(Exception, match="(?i)duplicate"):
            out.collect()


def test_expr_memo_keeps_one_application(spark):
    args = ("url", "op", ("warc_ts", "lsn"), PAGES_SCHEMA, (("text", "html"),), 8, 4, 1,
            "overwrite")
    _merge_exprs("a", *args)
    assert any(k[0] == "a" for k in _EXPR_CACHE)
    _merge_exprs("b", *args)
    assert not any(k[0] == "a" for k in _EXPR_CACHE)
    assert any(k[0] == "b" for k in _EXPR_CACHE)


def test_expr_memo_one_entry_across_batches(spark, tmp_path):
    """Consecutive applies of one shape to one table reuse one memo entry:
    no per-batch value (such as the batch's commit sequence) is part of the
    memoized expressions, so a steady stream never misses the memo and the
    memo does not grow with the stream."""
    from game_library_enrichment_etl_spark.cdc.apply import apply_batch
    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
    from game_library_enrichment_etl_spark.datagen import (
        gen_change_events,
        write_change_segments,
    )

    ev = gen_change_events(400, 60, seed=5).drop(columns=["title"])
    paths = write_change_segments(str(tmp_path / "wal"), ev, 2)
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=4)
    _EXPR_CACHE.clear()
    for p in paths:
        assert not apply_batch(t, spark.read.parquet(p)).skipped
    assert len(_EXPR_CACHE) == 1, list(_EXPR_CACHE)
