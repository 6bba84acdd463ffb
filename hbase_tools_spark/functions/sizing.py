"""Byte-sized plan choices: the one place that turns "bytes at a path"
into a plan decision.

Every operator has to hold at 100 TB, so a handful of plan choices
follow the input's bytes instead of a pinned session knob.  They share
one probe (``probe``: the Hadoop FileSystem content summary, so
hdfs/s3a fixtures and artifact directories size the same way as local
files), one cache (``path_bytes``: fixture tables only, never a failed
probe) and the threshold table below.  Each policy function names the
safe side it takes when the size is unknown.

``partitioning.spread_if_undersplit`` sizes a DataFrame (optimizer
stats), not a path, so it keeps its own probe; it takes only its
partition cap from this table.
"""

from __future__ import annotations

import logging
import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

from ..model import BASE_TABLES

_log = logging.getLogger(__name__)

# --- threshold table --------------------------------------------------

#: Parquet bytes expand about this factor into shuffle rows (dictionary-
#: encoded strings decode, derived relations multiply).  With
#: ``SHUFFLE_PARTITION_BYTES`` it sizes ``spark.sql.shuffle.partitions``
#: from the fixture: the sf10 certify sweep OOMed an 8 g heap while the
#: partition count was a pinned posture (round 11, OPTIMIZATION_r11 §7).
SHUFFLE_EXPANSION = 6
#: Target post-shuffle partition size (same source as above).
SHUFFLE_PARTITION_BYTES = 64 << 20
#: Cap on any byte-derived partition count (shuffle partitions here and
#: ``spread_if_undersplit``'s repartition target).
MAX_PARTITIONS = 4096
#: Largest build-side source for a forced ``shuffle_hash`` join.  The
#: 100x fixture (58 MB documents parquet, ~100x expansion into the
#: exploded shingle relation) made the hinted jaccard self-join's task
#: hash map exceed an 8 g heap; at or below 16 MB the hinted plan is the
#: measured-faster one (round 11, OPTIMIZATION_r11 §10).
SHJ_MAX_BYTES = 16 << 20
#: Source bytes per state partition of a user-keyed drain.  On the 10x
#: events feed (19 MiB) the funnel drain fell 30.8 -> 13.2 -> 8.1 ->
#: 5.2 s at 2/4/8/16 partitions on local[16] (SCALE.md, round 9).
STATE_PARTITION_BYTES = 1 << 20
#: State-partition floor of the user-keyed drains: at sf0.1 the bucketed
#: funnel stage ran 1.29 s @2 -> 1.09 s @4 -> 1.13 s @8 (median of 3,
#: warm) and the session drain 1.4 s @2 -> 1.2 s @4.
STATE_PARTITION_FLOOR = 4
#: Largest drain source kept on the memory sink, which holds the whole
#: result on the driver heap: the session drain's result at the 100x
#: events fixture OOMed an 8 g heap (round 12, OPTIMIZATION_r12 §8).
#: Fixture-scale feeds (events 2 MB at sf0.1) stay far below it.
MEM_SINK_MAX_SOURCE_BYTES = 32 << 20

# --- probe and cache --------------------------------------------------

_FIXTURE_TABLES = frozenset(f"{t}.parquet" for t in BASE_TABLES)

#: path -> bytes of fixture tables only.  Fixture files are treated as
#: immutable for the life of the process (the ``memo.sf_cached``
#: assumption); artifact directories grow between calls and a failed
#: probe may succeed later, so neither is ever stored.
_FIXTURE_BYTES: dict[str, int] = {}


def probe(spark: SparkSession, path: str) -> int | None:
    """Bytes under ``path`` from the Hadoop FileSystem content summary;
    ``None``, with a logged warning, when the probe fails (missing or
    unreachable path)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    try:
        return int(p.getFileSystem(conf).getContentSummary(p).getLength())
    except Py4JError as e:  # the Java exception, without its stack
        _log.warning(
            "size probe failed for %s: %s",
            path, getattr(e, "java_exception", e),
        )
        return None


def table_path(sf_dir: str, name: str) -> str:
    """Path of base table ``name`` in the fixture directory ``sf_dir``."""
    return os.path.join(sf_dir, f"{name}.parquet")


def path_bytes(spark: SparkSession, path: str) -> int | None:
    """``probe`` behind the fixture-table cache: a ``table_path`` of a
    base table is probed once per process, any other path every call."""
    size = _FIXTURE_BYTES.get(path)
    if size is None:
        size = probe(spark, path)
        if size is not None and os.path.basename(path) in _FIXTURE_TABLES:
            _FIXTURE_BYTES[path] = size
    return size


# --- policies ---------------------------------------------------------


def raise_shuffle_partitions(spark: SparkSession, sf_dir: str) -> None:
    """Raise ``spark.sql.shuffle.partitions`` to
    ceil(fixture bytes x ``SHUFFLE_EXPANSION`` / ``SHUFFLE_PARTITION_BYTES``)
    (capped at ``MAX_PARTITIONS``) when that exceeds the session's
    value; never lower it, so a fixture-scale bench posture stands.
    Unknown size: the session's value stands."""
    sizes = [path_bytes(spark, table_path(sf_dir, t)) for t in BASE_TABLES]
    if None in sizes:
        return
    by_bytes = -(-sum(sizes) * SHUFFLE_EXPANSION // SHUFFLE_PARTITION_BYTES)
    if by_bytes > int(spark.conf.get("spark.sql.shuffle.partitions")):
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(min(by_bytes, MAX_PARTITIONS))
        )


def shuffle_hash(df: DataFrame, path: str) -> DataFrame:
    """``df`` with the ``shuffle_hash`` hint while the bytes at ``path``
    (the relation its build side scales with) are at most
    ``SHJ_MAX_BYTES``; above that, the planner's sort-merge join, which
    spills where a forced hash build OOMs.  Unknown size: no hint."""
    size = path_bytes(df.sparkSession, path)
    if size is not None and size <= SHJ_MAX_BYTES:
        return df.hint("shuffle_hash")
    return df


def events_drain_sizing(m) -> tuple[int, int | None]:
    """(state partitions, source bytes) of a user-keyed drain over the
    model's events feed.  Partitions: one per ``STATE_PARTITION_BYTES``
    of source, floored at ``STATE_PARTITION_FLOOR`` and capped at the
    scheduler parallelism (the count freezes into the checkpoint, so a
    production deployment sets it to cluster parallelism before the
    first run).  Unknown size: the floor, and ``None`` source bytes,
    which ``drain_spills`` sends to the parquet sink."""
    size = path_bytes(m.spark, table_path(m.sf_dir, "events"))
    parts = STATE_PARTITION_FLOOR
    if size is not None:
        cores = m.spark.sparkContext.defaultParallelism
        parts = max(parts, min(cores, size // STATE_PARTITION_BYTES))
    return parts, size


def drain_spills(source_bytes: int | None) -> bool:
    """Whether a drain sinks to parquet instead of the memory sink:
    past ``MEM_SINK_MAX_SOURCE_BYTES`` of source, or when the source
    size is unknown."""
    return source_bytes is None or source_bytes > MEM_SINK_MAX_SOURCE_BYTES
