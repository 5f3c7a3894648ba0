"""``scoped_conf`` under concurrent blocks, over a fake session: no Spark job."""

from __future__ import annotations

import threading

from game_library_enrichment_etl_spark.session import scoped_conf


class _Conf:
    """The ``spark.conf`` surface ``scoped_conf`` uses, over a dict."""

    def __init__(self, **values: str):
        self.values = dict(values)

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class _Session:
    def __init__(self, **values: str):
        self.conf = _Conf(**values)


def test_overlapping_scoped_conf_blocks_restore_the_original():
    """A second thread enters a block while the first is inside it. The
    blocks must not interleave, or the later exit restores the earlier
    block's value and the session keeps it for good."""
    key = "spark.sql.adaptive.enabled"
    spark = _Session(**{key: "true"})
    log = []
    a_in, b_in = threading.Event(), threading.Event()

    def a():
        with scoped_conf(spark, key, "false"):
            log.append(("a in", spark.conf.get(key)))
            a_in.set()
            b_in.wait(1.0)  # set at once if the blocks can overlap
        log.append(("a out", spark.conf.get(key)))

    def b():
        a_in.wait(10.0)
        with scoped_conf(spark, key, "false"):
            b_in.set()
            log.append(("b in", spark.conf.get(key)))
        log.append(("b out", spark.conf.get(key)))

    threads = [threading.Thread(target=f) for f in (a, b)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(10.0)
    assert not any(t.is_alive() for t in threads), log
    assert [e for e, _ in log] == ["a in", "a out", "b in", "b out"], log
    assert spark.conf.get(key) == "true", log

