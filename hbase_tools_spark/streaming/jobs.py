"""Structured Streaming operators (M7, SURVEY.md §2.8 S1-S9).

The reference implements "streaming" as infinite loops + scheduled
executors over continuously refreshed metric snapshots
(compactor/CompactorServer.java:127-155 — re-scan/re-weight/re-sort
cycle; analyze/HBaseHealthAnalyzeService.java:54-114 — fixed-delay
health checks; compactor/CompactorManager.java:147-164 — membership
diffing every 90 s).  The Spark-idiomatic generalization is Structured
Streaming: ``readStream`` over the event/metric feed, event-time
windows + watermarks for its periodic aggregations, streaming
deduplication for its TTL caches, and ``foreachBatch`` for its
plan-refresh cycles.

Each registered query runs its stream to completion with
``Trigger.AvailableNow`` into an in-memory sink and returns the result
table — so the driver (and the DuckDB oracle) can hash-check streaming
output exactly like any batch query.  Production deployments replace
the trigger with ``Trigger.ProcessingTime`` and the memory sink with a
table sink; nothing else changes.

Scale notes (100 TB): all aggregations below key on
(window × event_type) or (window × user_id) — state partitions by a
high-cardinality key, no global state.  ``dropDuplicates`` keeps exact
state for the F11/S8 caches; the watermark-bounded variant
(``dropDuplicatesWithinWatermark``) is the bounded-state production
path, exercised in tests where batch boundaries are controlled.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Model
from ..functions.exprs import dsum, epoch_bigint
from ..functions.sizing import drain_spills, events_drain_sizing, table_path
from ..registry import query

_GAP_MIN = 10  # session-window gap (minutes)

# Ephemeral one-shot checkpoints go to tmpfs when available (offset/
# commit/state logs are many tiny fsynced files).
_CKPT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None

_SCHEMA_CACHE: dict[str, object] = {}  # fixture path -> StructType


#: Production state-store configuration (large state): RocksDB keeps
#: per-partition state off-heap and on local disk with incremental
#: (changelog) checkpointing — an executor's state no longer has to fit
#: in memory, which is the 100 TB requirement for session windows and
#: streaming dedup whose key space grows with the corpus.  The HDFS-
#: backed default (in-memory maps + full snapshots) is fine for the
#: fixture-sized drains in this repo and faster to start, so these are
#: opt-in; tests/test_streaming.py runs the stateful operators under
#: this provider to prove behavior is provider-independent.
ROCKSDB_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # bound memory: all RocksDB instances on an executor share one block
    # cache / write-buffer pool instead of growing per-partition
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    # changelog checkpointing ships per-batch deltas, not full SST sets
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def _stage_links(path: str, stage: str, prefix: str) -> None:
    """Populate a file-stream staging directory with symlinks to the
    fixture's parquet part file(s).  A scaled fixture stores a table as
    a parquet DIRECTORY — a single symlink to it would be silently
    skipped by the file-stream source (it lists plain files only), so
    each part file is linked individually; stale directory-links from
    an older staging scheme are dropped."""
    os.makedirs(stage, exist_ok=True)
    for f in os.listdir(stage):
        fp = os.path.join(stage, f)
        if os.path.islink(fp) and os.path.isdir(fp):
            os.unlink(fp)
    if os.path.isdir(path):
        srcs = [
            os.path.join(path, f)
            for f in sorted(os.listdir(path))
            if f.endswith(".parquet")
        ]
    else:
        srcs = [path]
    for i, src in enumerate(srcs):
        link = os.path.join(stage, f"{prefix}-{i:03d}.parquet")
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass  # another session staged it already


def _file_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """``readStream`` over fixture table ``table``.  The file-stream
    source needs a *directory*, so one holding symlinks to the
    (read-only) fixture file(s) is staged under the temp directory; in
    production the feed is already a directory of arriving files.  The
    schema comes from the batch reader."""
    path = table_path(sf_dir, table)
    stage = os.path.join(
        tempfile.gettempdir(),
        "hbase_tools_stream",
        sf_dir.strip("/").replace("/", "_") + "_" + table,
    )
    _stage_links(path, stage, table)
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        schema = _SCHEMA_CACHE[path] = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(stage)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events fixture with the same timestamp
    normalization as the batch catalog (ns-long at small SFs, µs NTZ at
    sf0.1) so streaming and batch plans see identical rows."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = _file_stream(spark, sf_dir, "events")
    dtype = dict(df.dtypes)["ts"]
    if dtype == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents fixture — the arriving-corpus
    feed for streaming corpus telemetry (no timestamp column, so no
    normalization)."""
    return _file_stream(spark, sf_dir, "documents")


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the embeddings fixture — the arriving-vector
    feed for the streaming ANN-index ingest (round 7)."""
    return _file_stream(spark, sf_dir, "embeddings")


# Progress trail of the most recent drain (instrumentation only):
# run_to_table copies the finished query's recentProgress here so the
# floor-decomposition harness (scripts/drain_decompose.py, SCALE.md)
# can split a drain's wall time into startup / per-batch phases
# without touching the drain path itself.
LAST_DRAIN_PROGRESS: list[dict] = []


def run_to_table(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    state_partitions: int = 2,
    extra_confs: dict[str, str] | None = None,
    source_bytes: int | None = 0,
) -> DataFrame:
    """Drain a streaming DataFrame with AvailableNow into a memory sink
    and return the materialized result as a batch DataFrame.

    ``source_bytes`` (callers with corpus-proportional RESULTS pass
    their feed's size, ``None`` when unknown): when
    ``sizing.drain_spills`` says so, the drain sinks to parquet via
    ``foreachBatch`` — identical rows (complete mode overwrites with
    the batch's full result, append/update append exactly the rows the
    memory sink would have appended), but written executor-side so the
    result never lives on the driver heap.  The spill sink's output
    directory and the checkpoint are temp directories of the driver;
    on a multi-host cluster they must be on a filesystem the executors
    share.

    State-partition count is pinned low for these run-to-completion
    fixture drains (each state partition costs a state-store instance
    per stateful operator per batch; 32 of them dominate sub-second
    streams — measured at sf0.1: 4 partitions cost ~0.2 s more per
    drain than 2, and 1 regresses the high-cardinality session query).
    A production deployment sizes it to cluster parallelism before the
    FIRST run — it is fixed into the checkpoint.

    ``extra_confs`` (e.g. ``ROCKSDB_STATE_CONF``) are applied for the
    drain and restored after — the state-store provider is per-query,
    chosen at first start."""
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    prev_extra = {
        k: spark.conf.get(k, None) for k in (extra_confs or {})
    }
    for k, v in (extra_confs or {}).items():
        spark.conf.set(k, v)
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # An AvailableNow drain needs no trailing empty batch (those exist
    # to advance watermarks on idle CONTINUOUS streams); skipping it
    # saves one full micro-batch round-trip per drain (~10% measured).
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # One-shot drains write offset/commit/state logs as many tiny
    # fsynced files; tmpfs cuts that to memory speed.  Fresh dir per
    # run — reusing a committed checkpoint would make availableNow a
    # no-op and leave the memory sink empty.
    ckpt = tempfile.mkdtemp(prefix="hbase_tools_ckpt_", dir=_CKPT_BASE)
    spill = drain_spills(source_bytes)
    out_dir = None
    try:
        if spill:
            import atexit

            out_dir = tempfile.mkdtemp(prefix=f"hbase_tools_sink_{name}_")
            atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
            write_mode = "overwrite" if output_mode == "complete" else "append"

            def _sink(batch_df: DataFrame, _batch_id: int) -> None:
                batch_df.write.mode(write_mode).parquet(out_dir)

            writer = stream_df.writeStream.foreachBatch(_sink).outputMode(
                output_mode
            )
        else:
            writer = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
            )
        q = (
            writer.option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        try:
            LAST_DRAIN_PROGRESS[:] = list(q.recentProgress)
        except Exception:
            LAST_DRAIN_PROGRESS[:] = []
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_nodata
        )
        for k, v in prev_extra.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
        shutil.rmtree(ckpt, ignore_errors=True)
    if spill:
        try:
            return spark.read.parquet(out_dir)
        except Exception:  # zero-batch drain wrote nothing
            return spark.createDataFrame([], stream_df.schema)
    return spark.table(name)


# ---------------------------------------------------------------------------
# S1/S2 generalization — tumbling event-time windows
# ---------------------------------------------------------------------------

@query(
    "stream_tumbling_counts",
    oracle="""
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
       event_type,
       count(*) AS n,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    views=[],
)
def stream_tumbling_counts(m: Model) -> DataFrame:
    """S1/S2 — periodic re-aggregation as 1-hour tumbling event-time
    windows over the event stream (the reference's fixed-delay re-scan
    cycles, compactor/CompactorServer.java:139-141, made event-time-
    exact).  Complete output mode: every window is in the sink when the
    stream drains."""
    ev = events_stream(m.spark, m.sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            epoch_bigint(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    return run_to_table(agg, "stream_tumbling_counts", "complete")


# ---------------------------------------------------------------------------
# Sliding windows — overlapping re-evaluation periods
# ---------------------------------------------------------------------------

@query(
    "stream_sliding_counts",
    oracle="""
WITH offsets AS (SELECT unnest([0, 1800]) AS off)
SELECT window_start, event_type, count(*) AS n
FROM (
  SELECT (CAST(floor(epoch(ts) - off) AS BIGINT) // 3600) * 3600 + off AS window_start,
         event_type
  FROM events CROSS JOIN offsets
) t
GROUP BY 1, 2
""",
    views=[],
)
def stream_sliding_counts(m: Model) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in two
    overlapping windows (the idiomatic form of the reference's staggered
    re-check cadences, hbase-tools.properties:13,19-20)."""
    ev = events_stream(m.spark, m.sf_dir)
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            epoch_bigint(F.col("window.start")).alias("window_start"),
            "event_type",
            "n",
        )
    )
    return run_to_table(agg, "stream_sliding_counts", "complete")


# ---------------------------------------------------------------------------
# Session windows — per-user activity sessions
# ---------------------------------------------------------------------------

@query(
    "stream_session_stats",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   <= INTERVAL {_GAP_MIN} MINUTE
              THEN 0 ELSE 1 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts, value,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM flagged
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM numbered
GROUP BY user_id, sess_id
""",
    views=[],
)
def stream_session_stats(m: Model) -> DataFrame:
    """Per-user session windows (gap {10} min): count + exact value sum
    per session.  The stateful generalization of the reference's
    per-server work cycles; DuckDB oracle is the classic
    gaps-and-islands rewrite."""
    ev = events_stream(m.spark, m.sf_dir)
    agg = (
        ev.groupBy(F.session_window("ts", f"{_GAP_MIN} minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
        .select(
            "user_id",
            epoch_bigint(F.col("session_window.start")).alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    # session state keys on user_id (high cardinality) — the one
    # windowed drain where state work outweighs per-partition store
    # lifecycle, so it takes the user-keyed drain sizing; its output is
    # corpus-scale (one row per session), so past fixture scale the
    # result must not live on the driver heap
    parts, source_bytes = events_drain_sizing(m)
    return run_to_table(
        agg, "stream_session_stats", "complete",
        state_partitions=parts, source_bytes=source_bytes,
    )


# ---------------------------------------------------------------------------
# S4/F11/S8 — streaming deduplication (the TTL-cache analog)
# ---------------------------------------------------------------------------

@query(
    "stream_dedup_keys",
    oracle="""
SELECT DISTINCT user_id AS row_key, event_type AS qualifier FROM events
""",
    views=[],
)
def stream_dedup_keys(m: Model) -> DataFrame:
    """F11/S8 — streaming dedup of the mutation feed on
    (row_key, qualifier).  Exact-state ``dropDuplicates`` here (output
    is the distinct key set, deterministic under any batching);
    ``dropDuplicatesWithinWatermark`` is the bounded-state production
    variant — the direct analog of the reference's 1-day-TTL Guava
    cache (compactor/CompactorServer.java:47-58) — exercised in tests
    with controlled batch boundaries."""
    # Single state partition: this drain has ONE stateful operator and a
    # small key space, so the per-partition state-store lifecycle (open,
    # commit, snapshot) dominates — 1 partition measured ~0.2 s faster
    # than 2 at sf0.1.  Production sizes this up before first run.
    return run_to_table(
        _dedup_stream(m), "stream_dedup_keys", "append", state_partitions=1
    )


def _dedup_stream(m: Model) -> DataFrame:
    ev = events_stream(m.spark, m.sf_dir)
    return ev.select(
        F.col("user_id").alias("row_key"),
        F.col("event_type").alias("qualifier"),
    ).dropDuplicates(["row_key", "qualifier"])


@query(
    "stream_dedup_keys_rocksdb",
    oracle="""
SELECT DISTINCT user_id AS row_key, event_type AS qualifier FROM events
""",
    views=[],
)
def stream_dedup_keys_rocksdb(m: Model) -> DataFrame:
    """The same streaming dedup drained on the PRODUCTION state store:
    RocksDB provider with bounded memory + changelog checkpointing
    (``ROCKSDB_STATE_CONF``) — per-executor state lives off-heap/on-disk
    instead of in JVM maps, the posture required once dedup state grows
    with the corpus (100 TB).  Registered as its own bench-visible query
    so the provider swap has a measured cost (within ~1.1× of the HDFS
    twin at sf0.1) and a driver-checked correctness row, not just a unit
    test."""
    return run_to_table(
        _dedup_stream(m),
        "stream_dedup_keys_rocksdb",
        "append",
        state_partitions=1,
        extra_confs=ROCKSDB_STATE_CONF,
    )


# ---------------------------------------------------------------------------
# S1 proper — per-micro-batch plan refresh via foreachBatch
# ---------------------------------------------------------------------------

def compaction_plan_stream(
    spark: SparkSession, sf_dir: str, sink_path: str | None = None
) -> DataFrame:
    """S1 — the compactor's refresh cycle: every micro-batch of new
    metric events triggers a full plan recompute (re-scan → re-weight →
    re-sort, CompactorServer.java:127-155), appended to a parquet table
    sink with its batch id.  ``foreachBatch`` is the idiomatic home for
    this snapshot-replace (not windowed-append) semantics; the plan
    never touches the driver — each batch's recompute is written
    distributed (executor → sink), so sink size scales with the plan
    relation, not driver memory."""
    from ..catalog import load_model
    from ..registry import QUERIES

    if sink_path is None:
        sink_path = tempfile.mkdtemp(prefix="hbase_tools_plan_sink_")

    def refresh(batch_df: DataFrame, batch_id: int) -> None:
        model = load_model(batch_df.sparkSession, sf_dir)
        plan = QUERIES["compaction_plan"].fn(model).withColumn(
            "batch_id", F.lit(batch_id)
        )
        plan.write.mode("append").parquet(sink_path)

    ev = events_stream(spark, sf_dir)
    q = (
        ev.writeStream.foreachBatch(refresh)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(sink_path)


# ---------------------------------------------------------------------------
# Stream-static enrichment — the streaming face of J1
# ---------------------------------------------------------------------------

@query(
    "stream_enriched_server_load",
    oracle="""
SELECT mr.server,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(round(sum(CAST(e.value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total_value
FROM (SELECT event_id % 1000 AS region_id, value FROM events) e
JOIN meta_regions mr ON mr.region_id = e.region_id
GROUP BY mr.server
""",
    views=["meta_regions"],
)
def stream_enriched_server_load(m: Model) -> DataFrame:
    """Stream-static join (the streaming face of J1): each event is
    enriched against the static region catalog — broadcast per
    micro-batch, so the stream side never shuffles for the join — and
    aggregated per hosting server.  At 100 TB the static side is the
    region dim (small by construction); re-broadcast per batch keeps
    it fresh without restarting the query."""
    from ..functions.exprs import dsum

    ev = events_stream(m.spark, m.sf_dir).select(
        (F.col("event_id") % 1000).alias("region_id"), "value"
    )
    dim = m.meta_regions.select("region_id", "server")
    agg = (
        ev.join(F.broadcast(dim), "region_id")
        .groupBy("server")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        )
    )
    return run_to_table(agg, "stream_enriched_server_load", "complete")


# ---------------------------------------------------------------------------
# Streaming HLL — bounded-state distinct counting
# ---------------------------------------------------------------------------


from ..operators.sketches import HLL_ORACLE


@query("stream_hll_cardinality", oracle=HLL_ORACLE, views=[])
def stream_hll_cardinality(m: Model) -> DataFrame:
    """Streaming HyperLogLog daily-actives per event type — the sketch
    answer to streaming distinct-count state: ``stream_dedup_keys``
    holds EVERY key (O(distinct) state, the reference's TTL-cache shape,
    compactor/CompactorServer.java:47-58), while this register store is
    provably ≤ n_types × 256 rows FOREVER, each a (bucket, max-rho)
    scalar — a built-in streaming max aggregate, no custom state code,
    mergeable across partitions and restarts by construction.

    The drained registers are bit-identical to the batch query's (max
    over the same rows in any batching order), so the finalize step and
    certificate SQL are shared verbatim with ``events_hll_cardinality``
    (operators/sketches.py) and the driver hash-gates the streaming
    estimate against the same oracle."""
    from ..operators.sketches import (
        daily_key_col,
        hll_exact_counts,
        hll_finalize,
        hll_rho_cols,
    )

    ev = events_stream(m.spark, m.sf_dir).select(
        "event_type", daily_key_col().alias("k")
    )
    regs = hll_rho_cols(ev).groupBy("event_type", "b").agg(
        F.max("rho").alias("mr")
    )
    drained = run_to_table(
        regs, "stream_hll_cardinality", "update", state_partitions=1
    )
    # Update-mode sink emits one row per register CHANGE; the final
    # register value is the running max over the drained updates.
    reg = drained.groupBy("event_type", "b").agg(F.max("mr").alias("mr"))
    return hll_finalize(reg, hll_exact_counts(m))


from ..operators.sketches import CMS_ORACLE


@query("stream_cms_heavy_hitters", oracle=CMS_ORACLE, views=[])
def stream_cms_heavy_hitters(m: Model) -> DataFrame:
    """Streaming count-min sketch — bounded-state streaming FREQUENCY
    the way ``stream_hll_cardinality`` is bounded-state streaming
    cardinality: the stateful operator is a built-in streaming count
    over the d×w = 4×2048 cell grid, so state is ≤ 8192 counter rows
    forever no matter how many events flow (an exact per-user streaming
    count would grow with the user universe).

    Counter counts are ADDITIVE, so the update-mode drain emits
    monotonically increasing running totals per cell; the final grid is
    their per-cell max and equals the batch grid exactly — the probe
    step and certificate SQL (CMS_ORACLE) are shared verbatim with
    ``events_cms_heavy_hitters`` (operators/sketches.py)."""
    from ..operators.sketches import cms_cells, cms_probe_top

    ev = events_stream(m.spark, m.sf_dir).select(
        F.col("user_id").cast("string").alias("uk")
    )
    counts = cms_cells(ev).groupBy("r", "c").count()
    drained = run_to_table(
        counts, "stream_cms_heavy_hitters", "update", state_partitions=1
    )
    counters = drained.groupBy("r", "c").agg(
        F.max("count").alias("cnt")
    )
    return cms_probe_top(counters, m)


from ..operators.sketches import QSK_ORACLE


@query("stream_length_quantile_sketch", oracle=QSK_ORACLE, views=[])
def stream_length_quantile_sketch(m: Model) -> DataFrame:
    """Streaming length-quantile sketch — bounded-state streaming
    QUANTILES completing the sketch-twin family (cardinality:
    ``stream_hll_cardinality``; frequency: ``stream_cms_heavy_hitters``):
    the stateful operator is a built-in streaming count over the HDR
    bucket ids, so state is the bucket histogram alone (≤ 16 ids per
    octave, ~1000 rows for any length domain) no matter how many
    documents flow — an exact streaming percentile would hold every
    distinct length.

    Bucket counts are ADDITIVE, so the update-mode drain emits
    monotonically increasing running totals per bucket; the final
    histogram is their per-bucket max and equals the batch histogram
    exactly — the quantile readout and certificate SQL (QSK_ORACLE) are
    shared verbatim with ``docs_length_quantile_sketch``
    (operators/sketches.py)."""
    from ..operators.sketches import _QSK_BID, qsk_finalize

    docs = documents_stream(m.spark, m.sf_dir).where(
        F.col("n_chars").isNotNull()
    )
    hist = docs.groupBy(F.expr(_QSK_BID).alias("bid")).count()
    drained = run_to_table(
        hist, "stream_length_quantile_sketch", "update", state_partitions=1
    )
    h = drained.groupBy("bid").agg(F.max("count").alias("c"))
    return qsk_finalize(h, m.documents.where(F.col("n_chars").isNotNull()))
