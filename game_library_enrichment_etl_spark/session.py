"""SparkSession factory tuned for the engine.

Defaults follow the public Spark tuning guidance: AQE on, shuffle
partitions ~ cores in local mode, Arrow on for pandas UDFs, UTC session
timezone so results compare bit-stably against the DuckDB oracle.

The factory only configures: it submits no Spark job, so a fresh JVM's
codegen and JIT compile costs land in the first queries that need them.

One block-scoped helper serves the engine's own jobs: ``job_tag`` labels
every Spark job a block submits with the table, commit sequence and phase it
serves. The engine sets no session conf while it runs: every engine job plans
under the session's own conf.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "game_library_enrichment_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to the local core count — the public
    guidance that 200 default partitions is wrong for local mode.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"

    if shuffle_partitions is None:
        # match parallelism level encoded in the master string when explicit
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = int(inner) if inner.isdigit() else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep local shuffle reads on buffered file IO instead of mmap.
        # Spark memory-maps any local shuffle block over this threshold
        # (default 2m); the merge exchange's blocks sit right at ~2MB, and
        # every munmap broadcasts TLB-shootdown IPIs to all cores the
        # mapping touched — a kernel cost that grows superlinearly with
        # core count. Measured on the 24M-event CDC apply
        # (BENCH/mmap_ab_r5.jsonl): -14% executor CPU and -11% wall at
        # local[8], 2->8 scaling efficiency 0.857 vs sub-0.8 with mmap.
        .config("spark.storage.memoryMapThreshold", "2g")
        # List the files a scan names on the driver, never in a Spark job.
        # A lake scan passes every data file of its snapshot's manifest as
        # an explicit local path, so there is nothing to discover; past 32
        # paths (the default) Spark 4.1.2 still lists them with a one-task-
        # per-path job. Measured on a 192-file, 16-bucket MOR table at
        # local[4] (4-core host): building ``IceletTable.read()`` took
        # 1.5-2.4 s with the job and 0.32-0.44 s without. Spark has no
        # per-read option for this: ``InMemoryFileIndex`` reads only the
        # session SQLConf.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def job_tag(
    spark: SparkSession, root: str, phase: str, seq: int | None = None
) -> Iterator[None]:
    """Tag every Spark job the block submits
    ``icelet:<root>:v<seq>:<phase>`` (``icelet:<root>:<phase>`` when no
    commit sequence is known yet), then remove the tag.

    Job tags are thread-local and additive, so the caller's job group,
    description and own tags are left as they were. Spark rejects a tag
    containing ``,``; the root's commas become ``_``. A run's tags are in its
    event log (``Properties["spark.job.tags"]`` of each
    ``SparkListenerJobStart``) and in the status store
    (``sc._jsc.sc().statusStore().job(id).jobTags()``)."""
    commit = [] if seq is None else [f"v{seq}"]
    tag = ":".join(["icelet", root.replace(",", "_"), *commit, phase])
    sc = spark.sparkContext
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)
