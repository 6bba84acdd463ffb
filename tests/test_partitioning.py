"""Tests for the skew/partitioning helpers: results must equal their
unsalted/unbucketed equivalents, and the physical placement contracts
must hold."""

from __future__ import annotations

from pyspark.sql import functions as F

import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.functions.partitioning import (
    repartition_by_bounds,
    salted_join,
    two_phase_agg,
)
from tests.conftest import SF_DIR


def test_repartition_by_bounds_colocates_ranges(spark):
    m = load_model(spark, SF_DIR)
    bounds = ["000000000200", "000000000400", "000000000600"]
    df = repartition_by_bounds(
        m.meta_regions.select("region_id", "start_key"), "start_key", bounds
    )
    placed = df.withColumn("pid", F.spark_partition_id())
    # every key range maps to exactly one partition
    from hbase_tools_spark.functions.partitioning import bucket_by_bounds

    per_bucket = (
        placed.withColumn("bucket", bucket_by_bounds(F.col("start_key"), bounds))
        .groupBy("bucket")
        .agg(F.count_distinct("pid").alias("n_pids"))
        .collect()
    )
    assert per_bucket and all(r["n_pids"] == 1 for r in per_bucket)
    # no rows lost
    assert df.count() == m.meta_regions.count()


def test_salted_join_equals_plain_join(spark):
    m = load_model(spark, SF_DIR)
    big = m.region_metrics.select("region_id", "server", "size_mb")
    small = m.server_metrics.select("server", "compaction_queue")
    plain = big.join(small, "server").select("region_id", "compaction_queue")
    salted = salted_join(big, small, "server", n_salts=5).select(
        "region_id", "compaction_queue"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_two_phase_agg_equals_direct(spark):
    m = load_model(spark, SF_DIR)
    df = m.region_metrics
    direct = df.groupBy("server").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("file_count").alias("files"),
        F.max("size_mb").alias("mx"),
    )
    two = two_phase_agg(
        df,
        ["server"],
        {"n": ("file_count", "count"), "files": ("file_count", "sum"), "mx": ("size_mb", "max")},
        n_salts=7,
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, two.collect()))


def test_salted_join_spreads_hot_key(spark):
    """On a 90%-hot-key dataset the salt must actually spread the hot
    key's rows across reducers: after salting, no single (key, salt)
    group holds more than ~1/n_salts of the hot key (+slack), while the
    join still equals the plain join."""
    from pyspark.sql import functions as F

    n = 20000
    big = spark.range(n).select(
        F.when(F.col("id") % 10 < 9, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 97).cast("string"))
        ).alias("k"),
        F.col("id").alias("v"),
    )
    small = spark.createDataFrame(
        [("hot", 1)] + [(f"k{i}", i) for i in range(97)], "k string, w int"
    )
    plain = big.join(small, "k").agg(F.count(F.lit(1)), F.sum("v"), F.sum("w"))
    salted = salted_join(big, small, "k", n_salts=8).agg(
        F.count(F.lit(1)), F.sum("v"), F.sum("w")
    )
    assert plain.collect() == salted.collect()

    # distribution check: per-salt share of the hot key
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(8))
    per_salt = (
        big.filter(F.col("k") == "hot")
        .withColumn("s", salt)
        .groupBy("s")
        .count()
        .collect()
    )
    hot_total = sum(r["count"] for r in per_salt)
    assert len(per_salt) == 8, "hot key not spread over all salts"
    assert max(r["count"] for r in per_salt) < hot_total * 0.25, per_salt


def test_spread_if_undersplit_sizes_by_bytes(spark):
    """The spread target must grow with relation BYTES, not just core
    count (round-6 verdict: the pinned-4-partition sf10 spill — the
    64-partition production sizing now lives in the plan itself)."""
    from pyspark.sql import functions as F

    from hbase_tools_spark.functions.partitioning import spread_if_undersplit

    slots = spark.sparkContext.defaultParallelism
    # tiny relation: bytes rule is a no-op, spread = slots
    small = spark.range(1000).select(F.col("id").alias("k"))
    assert spread_if_undersplit(small, "k").rdd.getNumPartitions() == slots
    # wide relation: ~3.2 GB of stats (range rows are 8 bytes) must
    # spread past the slot count at the scan planner's 128 MB budget
    big = spark.range(400_000_000).select(F.col("id").alias("k"))
    n = spread_if_undersplit(big, "k").rdd.getNumPartitions()
    max_pb = int(
        spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    )
    expect = max(slots, -(-400_000_000 * 8 // max_pb))
    assert n == expect > slots


def test_autosize_shuffle_partitions_scales_with_bytes(spark, tmp_path):
    """load_model sizes spark.sql.shuffle.partitions from fixture BYTES
    (round-10 verdict task 4: the sf10 certify OOMed because the knob
    was a pinned bench posture).  Rule: only ever RAISES, so a
    fixture-scale session keeps its tuned value; a fixture big enough
    to demand more partitions gets ceil(bytes*expansion / 64MB)."""
    from hbase_tools_spark.functions import sizing as S
    from hbase_tools_spark.model import BASE_TABLES
    from tests.conftest import SF_DIR

    # test fixture: a few MB * 6 / 64 MB < 4 -> the session's value stands
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    S.raise_shuffle_partitions(spark, SF_DIR)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev

    # large fixture (sparse files so the test costs no real disk):
    # 10 GB * 6 / 64 MB = 960 partitions
    big = tmp_path / "sfbig"
    big.mkdir()
    for name in BASE_TABLES:
        with open(S.table_path(str(big), name), "wb") as fh:
            fh.truncate(10 * 1024**3 if name == "lineitem" else 0)
    try:
        S.raise_shuffle_partitions(spark, str(big))
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == 960
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
