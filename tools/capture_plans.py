"""Capture .explain('formatted') for every declared query into plans/r06/.

Usage: python tools/capture_plans.py <suffix> [query ...]
Writes plans/r06/<query>_<suffix>.txt for each query (default: all except
cdc_apply_events, whose plan is a loop of applies: each apply reports its
phases in ``metrics["phases_s"]`` and tags its Spark jobs
``icelet:<table>:v<seq>:<phase>``). Explain only: no job execution.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import __spark_entry__ as E  # noqa: E402
from game_library_enrichment_etl_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    wanted = set(sys.argv[2:]) or None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus),
                      app_name="capture-plans")
    outdir = os.path.join(os.path.dirname(__file__), "..", "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    qs = E.queries()
    for name, fn in qs.items():
        if name == "cdc_apply_events":
            continue  # side-effecting loop; its applies tag their own jobs
        if wanted is not None and name not in wanted:
            continue
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(name, "ok")
    spark.stop()


if __name__ == "__main__":
    main()
