"""The traced benchmark wraps engine functions by name
(``perfbench/spans.py``): renaming or deleting one must fail here, not only
in a ``--trace 1`` run. Runs no Spark job."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

SPANS = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "spans.py"


def _spans_module():
    spec = importlib.util.spec_from_file_location("perfbench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # its dataclasses look their module up
    spec.loader.exec_module(mod)
    return mod


def _current(owner, attr):
    return owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)


def test_instrument_wraps_the_engine_and_restores_it():
    spans = _spans_module()
    tracer = spans.Tracer()
    spans.instrument(tracer)
    wrapped = list(tracer._undo)
    try:
        names = {attr for _, attr, _ in wrapped}
        assert {"apply_batch", "compact", "tail_segments", "write_data_files_prepartitioned",
                "submit"} <= names, names
        for owner, attr, original in wrapped:
            assert _current(owner, attr) is not original, (owner, attr)
    finally:
        tracer.restore()
    for owner, attr, original in wrapped:
        assert _current(owner, attr) is original, (owner, attr)
