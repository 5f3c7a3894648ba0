"""M2 parity suite: coalesce merge mode == pandas.DataFrame.update semantics
(per-cell overwrite only where source is non-null,
/root/reference/src/internet_games_database.py:294-302), plus a
hypothesis-style randomized property test of the overwrite-mode engine
against the Python model."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from game_library_enrichment_etl_spark.cdc.apply import apply_batch
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.functions.extract import extract_text_one

from model_oracle import model_coalesce_state, model_final_state

TS = pd.Timestamp("2024-06-01")


def _batch(rows, batch_id):
    df = pd.DataFrame(rows, columns=["op", "lsn", "url", "sec", "html", "lang"])
    df["warc_ts"] = TS + pd.to_timedelta(df.pop("sec"), unit="s")
    df["batch_id"] = batch_id
    return df


def test_coalesce_partial_updates(spark, tmp_path):
    """U rows with null cells must keep the older cell value; I resets."""
    b1 = _batch(
        [
            ("I", 1, "u1", 1, b"<p>a</p>", "en"),
            ("U", 2, "u1", 2, None, "de"),          # html stays from I
            ("I", 3, "u2", 3, b"<p>x</p>", "fr"),
        ],
        0,
    )
    b2 = _batch(
        [
            ("U", 4, "u1", 4, b"<p>b</p>", None),   # lang stays 'de'
            ("U", 5, "u2", 5, None, None),          # pure no-op update
            ("I", 6, "u2", 6, b"<p>y</p>", None),   # reset: lang becomes NULL
        ],
        1,
    )
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(table, spark.createDataFrame(b1), mode="coalesce")
    apply_batch(table, spark.createDataFrame(b2), mode="coalesce")

    got = {
        r["url"]: r
        for r in table.read().toPandas().to_dict("records")
    }
    assert bytes(got["u1"]["html"]) == b"<p>b</p>"
    assert got["u1"]["lang"] == "de"
    assert got["u1"]["text"] == "b"
    assert bytes(got["u2"]["html"]) == b"<p>y</p>"
    assert got["u2"]["lang"] is None  # I reset must NOT coalesce through
    assert got["u2"]["lsn"] == 6


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_coalesce_stale_reset_keeps_stored_cells(spark, tmp_path, strategy):
    """A stale D older than the stored row is not a reset: the later
    partial update coalesces onto the stored row, as the sequential model
    folds it (D, then the stored I, then the U)."""
    b1 = _batch([("I", 10, "u1", 10, b"<p>a</p>", "en")], 0)
    b2 = _batch(
        [
            ("D", 5, "u1", 5, None, None),          # stale: older than the stored row
            ("U", 20, "u1", 20, None, "de"),        # html stays 'a'
        ],
        1,
    )
    table = create_pages_table(
        spark, str(tmp_path / "t"), n_buckets=4, merge_strategy=strategy
    )
    for b in (b1, b2):
        apply_batch(table, spark.createDataFrame(b), mode="coalesce")

    want = model_coalesce_state(pd.concat([b1, b2], ignore_index=True))
    assert want["u1"]["html"] == b"<p>a</p>" and want["u1"]["lang"] == "de"
    (got,) = table.read().toPandas().to_dict("records")
    assert got["url"] == "u1" and got["lsn"] == 20
    assert got["html"] is not None and bytes(got["html"]) == b"<p>a</p>"
    assert got["lang"] == "de"
    assert got["text"] == "a"


@pytest.mark.parametrize(
    "jitter_s,late_frac", [(0, 0.0), (30, 0.05)], ids=["ordered", "out-of-order"]
)
@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_coalesce_matches_sequential_model(spark, tmp_path, strategy, jitter_s, late_frac):
    """Engine coalesce fold == sequential pandas-update model over the
    whole stream, on both table strategies, for an ordered stream (ts
    monotone with lsn) and one with event-time jitter and late events."""
    ev = gen_change_events(800, 120, seed=31, jitter_s=jitter_s, late_frac=late_frac)
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 4)
    table = create_pages_table(
        spark, str(tmp_path / "t"), n_buckets=4, merge_strategy=strategy
    )
    for p in paths:
        apply_batch(table, spark.read.parquet(p), mode="coalesce")
    want = model_coalesce_state(ev)
    got = table.read().toPandas().set_index("url").to_dict("index")
    assert set(got) == set(want)
    for url, w in want.items():
        g = got[url]
        assert g["lsn"] == w["lsn"], url
        gh = bytes(g["html"]) if g["html"] is not None else None
        assert gh == w["html"], url
        assert g["lang"] == w["lang"], url
        assert g["text"] == extract_text_one(w["html"]), url


@pytest.mark.parametrize("seed", [101, 202])
def test_property_random_ops_match_model(spark, tmp_path, seed):
    """Randomized I/U/D sequences over few hot keys, random segmentation —
    overwrite-mode LWW final state equals the model dict replay
    (SURVEY.md §5.5)."""
    rng = np.random.default_rng(seed)
    n = 400
    urls = [f"u{i}" for i in range(12)]  # few keys -> heavy conflicts
    rows = []
    for lsn in range(n):
        u = urls[rng.integers(len(urls))]
        op = rng.choice(["I", "U", "D"], p=[0.2, 0.6, 0.2])
        sec = int(rng.integers(0, 500))  # heavily out-of-order event time
        html = None if op == "D" else f"<p>v{lsn}</p>".encode()
        lang = None if op == "D" else "en"
        rows.append((op, lsn, u, sec, html, lang))
    ev = _batch(rows, 0).drop(columns=["batch_id"])
    # random segmentation into 3 batches
    ev["batch_id"] = rng.integers(0, 3, size=n)

    table = create_pages_table(spark, str(tmp_path / f"t{seed}"), n_buckets=4)
    for b in range(3):
        part = ev[ev["batch_id"] == b]
        apply_batch(table, spark.createDataFrame(part))

    want = model_final_state(ev, payload_cols=("html", "lang"))
    got = table.read().toPandas().sort_values("url").reset_index(drop=True)
    assert list(got["url"]) == list(want["url"]) if len(want) else got.empty
    if len(want):
        assert list(got["lsn"]) == list(want["lsn"])
        assert list(got["text"]) == list(want["text"])
