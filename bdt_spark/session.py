"""SparkSession factory — the rebuild's equivalent of the reference's
SessionContext construction (src/bin/main.rs:110-112, which enables
information_schema; Spark exposes the same metadata via spark.catalog).

Config choices and why they matter at 100 TB:
- AQE on: runtime re-plan (partition coalescing, skew-join splitting,
  dynamic broadcast) is the single biggest scale lever Spark has.
- ANSI mode left at the Spark 4 default (on): matches DataFusion's and
  DuckDB's error-on-overflow semantics (SURVEY §2 B2 conformance note).
- UTC session timezone: DuckDB timestamps are UTC-naive; pinning UTC makes
  oracle comparison exact.
- Arrow enabled: vectorized pandas interchange for the Pandas-UDF operators.
- shuffle.partitions sized from env (default 32 ≈ local cores). On a real
  cluster this is set per-deployment; AQE coalescing makes the exact number
  forgiving.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Cap plan EXPLAIN strings (default is effectively unbounded): deep
    # iterative lineage over wide unrolled expression trees (the flat
    # vector-math chains) can make QueryExecution.explainString build a
    # multi-GB string for the UI/event listeners and OOM the DRIVER —
    # observed at sf10 in the connected-components loop over the sign-LSH
    # pair plan. 16 MiB: the largest legitimate single-query plan text in
    # the suite is ~0.6 MiB (dedup_embedding_cosine), so 25x headroom for
    # honest plans while the pathological multi-GB case truncates with a
    # warning instead of dying. The plan-hygiene tests assert their plan
    # text is NOT truncated, so the cap can never silently hide an
    # operator from them.
    "spark.sql.maxPlanStringLength": str(16 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Match reference behavior: CSV header on by default is handled at read
    # sites; nothing session-level needed.
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Spark 4 refuses parquet TIMESTAMP(NANOS) outright; read them as long
    # and convert to micros-truncated timestamps in io.read_file (matches
    # DuckDB's nanos->micros truncation; SURVEY §1.2 divergence note).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Write timestamps as TIMESTAMP_MICROS, not the INT96 default: INT96
    # is deprecated AND carries no column statistics, which silently
    # disables row-group min/max skipping on every timestamp-clustered
    # table (caught by tests/test_layout.py).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Python workers fork from bdt_spark.pydaemon, which stops a reused
    # worker re-reading Spark's zip archives before every task (~0.2 s of
    # CPU a task on CPython < 3.13). spark.python.worker.module cannot
    # carry it: pyspark.daemon accepts only worker modules named pyspark*.
    "spark.python.daemon.module": "bdt_spark.pydaemon",
}


def get_spark(
    app_name: str = "bdt_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the session. Mirrors reference main.rs:110-112.

    Its Python workers fork from `bdt_spark.pydaemon`, so executors'
    Python must be able to import `bdt_spark` for every Python task, as
    the pandas-UDF operators already required."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # local[N,4]: a task-retry budget. Every real cluster defaults to
    # spark.task.maxFailures=4; plain local[N]'s 1-failure budget is the
    # outlier, and it turns a transient task-level memory failure into a
    # dead job (observed: sf100 q21 big arm at 256 shuffle partitions,
    # SCALE.md r13 — rides through with 0-2 retried tasks given retries).
    # SPARK_GRAFT_MASTER still overrides wholesale.
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus},4]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # In local mode the driver JVM IS every executor. 8g measured
        # FASTER than a 48g heap for the explode-heavy queries (sf10
        # text_pmi_cooccurrence: 15 s at 8g vs 44 s at 48g — the small
        # heap keeps G1 young-gen cache-resident), so do not "fix" GC
        # pressure by inflating this; size per-deployment on a real
        # cluster (spark.executor.memory there).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Reuse semantics (getOrCreate): RUNTIME-settable builder confs —
    # shuffle partitions, extra_conf — ARE applied to an existing session
    # (so a later get_spark() with the env-default shuffle partitions
    # overwrites a caller's earlier explicit value: pin per-query confs
    # with spark.conf.set if they must survive other components' calls).
    # STATIC confs (driver memory, master) are silently dropped on reuse
    # and require a fresh JVM.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

