"""Partitioning & skew helpers for the 100 TB layout (SURVEY.md §4).

The reference relies on HBase's physical layout: tables pre-split into
key ranges (regions), one work queue per server, salts prepended to hot
keys (common/KeyGenerator.java:27-49).  The Spark analogs:

- ``repartition_by_bounds`` — co-locate rows by explicit split points,
  mirroring region pre-splits (deterministic, unlike sample-based
  ``repartitionByRange``);
- ``salted_join`` — hot-key equi-join: salt the big side, replicate the
  small side across salts, join on (key, salt);
- ``two_phase_agg`` — skewed aggregation: partial agg on (key, salt),
  final agg on key; the map-side combine Catalyst already does, made
  explicit for aggregates that shuffle raw rows (collect_list etc.).

All helpers are deterministic (hash-based salts, no randomness) so
results are reproducible and oracle-testable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sizing import MAX_PARTITIONS


def bucket_by_bounds(key: Column, bounds: list) -> Column:
    """Bucket index for explicit ascending split points: number of
    bounds <= key (0..len(bounds)).  Equal keys always share a bucket,
    so downstream per-bucket work is co-located — the region pre-split
    contract."""
    if not bounds:
        return F.lit(0)
    return reduce(
        lambda acc, b: acc + F.when(key >= F.lit(b), 1).otherwise(0),
        bounds,
        F.lit(0),
    )


def repartition_by_bounds(df: DataFrame, key_col: str, bounds: list) -> DataFrame:
    """Repartition so each explicit key range [bounds[i], bounds[i+1])
    lands in its own partition."""
    n = len(bounds) + 1
    return (
        df.withColumn("__bucket", bucket_by_bounds(F.col(key_col), bounds))
        .repartition(n, "__bucket")
        .drop("__bucket")
    )


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8, how: str = "inner"
) -> DataFrame:
    """Equi-join resilient to hot keys: the big side gets a
    deterministic per-row salt in [0, n_salts); the small side is
    replicated across all salts; the join keys on (key, salt) so a hot
    key's rows spread over n_salts reducers.  Output equals the plain
    join (salt columns are dropped)."""
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)
    ).alias("__salt")
    big_s = big.withColumn("__salt", salt)
    salts = big_s.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("__salt")
    )
    small_s = small.crossJoin(F.broadcast(salts))
    return big_s.join(small_s, [key, "__salt"], how).drop("__salt")


def two_phase_agg(
    df: DataFrame,
    keys: list,
    aggs: dict,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe aggregation for algebraic aggregates: phase 1 groups by
    (keys, salt) — hot keys split across n_salts reducers — phase 2
    merges partials by keys.  ``aggs`` maps output column -> (col,
    'sum'|'count'|'min'|'max')."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    phase1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt")
    partials = []
    for out, (col, kind) in aggs.items():
        if kind == "count":
            partials.append(F.count(F.lit(1)).alias(out))
        elif kind == "sum":
            partials.append(F.sum(col).alias(out))
        elif kind == "min":
            partials.append(F.min(col).alias(out))
        elif kind == "max":
            partials.append(F.max(col).alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate: {kind}")
    p1 = phase1.agg(*partials)
    finals = []
    for out, (_, kind) in aggs.items():
        merge = F.sum(out) if kind in ("count", "sum") else getattr(F, kind)(out)
        finals.append(merge.alias(out))
    return p1.groupBy(*keys).agg(*finals)


def spread_if_undersplit(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition a SCAN relation by ``key_col`` when it has fewer
    input splits than the work needs — sized by BOTH the cluster's
    slots and the relation's bytes, so per-partition data stays within
    executor memory at any scale (the round-6 sf10 probes measured a
    pinned-4-partition downstream spill inflating a 13 s query to a
    34 s median; the 64-partition re-measure removed it — this encodes
    that sizing rule in the plan instead of in docs).

    Target partitions = max(defaultParallelism,
    ceil(stats.sizeInBytes / spark.sql.files.maxPartitionBytes)) — the
    same per-split byte budget the scan planner itself uses.  The probe
    is pure metadata (``inputFiles()`` + optimizer stats from parquet
    footers; no RDD materialization).  At real scale a table's split
    count dwarfs the target and this is a no-op; on single-file local
    fixtures it spreads the map-side work (Arrow passes, collect_list
    partials, explodes) across cores instead of one task.  Only
    meaningful directly above a scan — downstream relations inherit
    shuffle partitioning anyway.
    """
    spark = df.sparkSession
    n_slots = spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # JVM-side parse handles "128m"-style conf values
        max_pb = int(
            spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        )
        by_bytes = -(-size // max(max_pb, 1))  # ceil
    except Exception:  # stats unavailable (e.g. RDD-backed) — slots only
        by_bytes = 0
    n_target = max(n_slots, min(by_bytes, MAX_PARTITIONS))
    if len(df.inputFiles()) < n_target:
        return df.repartition(n_target, key_col)
    return df
