"""SparkSession factory.

One place that encodes the engine's execution-model defaults so every
entry point (tests, bench, __spark_entry__, spark-submit main) gets the
same tuned session:

- Arrow enabled with a *small* max batch size: image rows carry binary
  payloads that can be MBs each, so Arrow batches must be bounded by
  rows, not only bytes (SURVEY.md §4 "tune batch size for binary
  payloads").
- AQE on (runtime join re-planning + skew-join splitting) — the engine
  additionally salts known-hot cells explicitly (plans/strategy.py); AQE
  is the safety net for skew we did not predict.
- UTC session timezone: the reference stores ``timestamp without time
  zone`` parsed from ``%Y-%m-%dT%H:%M:%SZ`` (changesetmd.py:210,255-256)
  — i.e. UTC wall clock.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "changesetmd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    warmup: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``) so the bench harness can pin parallelism for the two-level
    scaling measurement (BASELINE.md: local[8] vs local[32]).

    The session runs no warm-up: each plan shape's first run pays its
    own codegen/JIT. ``warmup`` exists only for ``perfbench/measure.py``,
    which passes ``warmup=False``; ``True`` raises ``ValueError``.
    """
    if warmup:
        raise ValueError(
            "get_spark(warmup=True): the session warm-up was removed; "
            "a plan's first run now pays its own codegen/JIT"
        )
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (guide §4.2): bound batches by rows AND
        # bytes (Spark 4's maxBytesPerBatch is the direct protection
        # for fat binary-payload rows). 2048 rows is the measured
        # optimum for the vectorized multimodal decoders — an r6
        # interleaved A/B at 65536 rows made audio_stats 2.5× SLOWER
        # (the per-batch numpy working set, rows × samples × int64,
        # must stay cache-sized) while buying the slim-row S2 stage
        # only ~0.1s per 6M rows.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        # 128 MiB scan splits: good balance for wide parquet at 100 TB
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # managed-table warehouse for bucketed tables (plans/bucketing)
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/changesetmd-warehouse"),
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
