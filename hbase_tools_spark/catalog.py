"""Catalog: load fixture parquet + register the derived model relations.

Spark analog of the reference's source layer -- the hbase:meta scan
(meta/MetaTableInfoService.java:54-72), ClusterMetrics traversal
(analyze/TableAnalyzer.java:174-203) and technical-meta history read
(meta/TechnicalMeta.java:130-158) all become plain DataFrame reads.
Column-family pruning / scanner caching from the reference
(MetaTableInfoService.java:58-62) map to Catalyst column pruning and the
vectorized parquet reader -- free, nothing to hand-roll.

At 100 TB the base tables would be partitioned parquet/Delta; every
downstream operator only ever touches them through ``spark.table`` so a
swap of the storage layer (HBase connector snapshot, Delta, Iceberg) is a
one-file change here.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.sizing import raise_shuffle_partitions, table_path
from .model import BASE_TABLES, DERIVED_VIEWS, view_sql

# Fixture parquet stores timestamps as INT64 TIMESTAMP(NANOS), which the
# Spark 4 vectorized reader rejects; we read them as nanos-longs
# (spark.sql.legacy.parquet.nanosAsLong) and restore TimestampType with
# exact integer division (ns DIV 1000 == DuckDB's ns->us truncation).
_TS_COLUMNS = {
    "lineitem": ["l_shipdate"],
    "orders": ["o_orderdate"],
    "events": ["ts"],
}


@dataclass
class Model:
    """Handle to the registered relations for one scale-factor dir."""

    spark: SparkSession
    sf_dir: str
    _cache: dict[str, DataFrame] = field(default_factory=dict)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def __getattr__(self, name: str):
        if name in BASE_TABLES or name in DERIVED_VIEWS:
            return self.spark.table(name)
        raise AttributeError(name)


def load_model(spark: SparkSession, sf_dir: str) -> Model:
    """Register base fixture tables + derived relations as temp views.

    Idempotent (CREATE OR REPLACE); cheap -- registration is metadata
    only, nothing is scanned until an action runs.
    """
    # Registration is idempotent but not free (schema reads + one
    # catalog round-trip per view); skip it when this session already
    # has this sf_dir registered — also keeps any cached tables warm.
    if spark.conf.get("spark.hbase_tools.model_dir", "") == sf_dir:
        return Model(spark, sf_dir)
    # partitions scale with the fixture's bytes (functions/sizing.py)
    raise_shuffle_partitions(spark, sf_dir)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC so NTZ<->instant conversions and unix_timestamp are
    # deterministic regardless of the host session's timezone (DuckDB
    # treats parquet timestamps as naive-UTC; we must agree).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for name in BASE_TABLES:
        df = spark.read.parquet(table_path(sf_dir, name))
        for ts_col in _TS_COLUMNS.get(name, []):
            dtype = dict(df.dtypes).get(ts_col)
            if dtype == "bigint":  # ns-encoded (sf0.001/sf0.01 fixtures)
                df = df.withColumn(
                    ts_col,
                    F.timestamp_micros(F.expr(f"`{ts_col}` DIV 1000")),
                )
            elif dtype == "timestamp_ntz":  # µs NTZ (sf0.1 fixtures)
                df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        df.createOrReplaceTempView(name)
    for name in DERIVED_VIEWS:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW {name} AS\n{view_sql(name, 'spark')}"
        )
    spark.conf.set("spark.hbase_tools.model_dir", sf_dir)
    return Model(spark, sf_dir)


def assert_view_matches_fixture(m: Model, view: str) -> None:
    """Guard for serving paths whose persisted artifact is built from
    the ON-DISK fixture (streaming ingests cannot read temp views): the
    registered view must BE that fixture, or the artifact silently
    diverges from what queries see.  Compares analyzed-plan semantic
    hashes — analysis-only, no job — and raises on mismatch (the
    round-6 ADVICE staleness class, generalized in round 7 for the
    vector-side ingest).  Only valid for views load_model registers as
    plain parquet reads (no timestamp normalization), e.g. documents
    and embeddings."""
    disk = m.spark.read.parquet(table_path(m.sf_dir, view))
    h = lambda df: df._jdf.queryExecution().analyzed().semanticHash()  # noqa: E731
    if h(m.spark.table(view)) != h(disk):
        raise ValueError(
            f"the registered '{view}' view does not match the on-disk "
            f"fixture at {m.sf_dir}/{view}.parquet; the stream-ingested "
            "artifact would diverge from the view — re-register the "
            "fixture view (load_model) or use the batch path"
        )
