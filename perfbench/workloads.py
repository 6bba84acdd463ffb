"""Pinned workload mixes and the layer (module) names the trace reports.

Each mix is pinned by query name here rather than derived from the
registry at run time, so a later change to the registry cannot silently
change what a workload measures.  ``zero`` lists the per-layer counters
the traced run requires to be 0.
"""

from __future__ import annotations

import os

#: The fixture tables: the seed-42 sf0.01 test fixtures, committed with
#: the benchmark so that a checkout holds everything a run reads.
FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

#: Fewest operations per run: the tail percentile needs ten beyond it.
MIN_OPS = 11

#: About one warm cycle over either mix on a 4-core host.  A run does
#: ``round(seconds / CYCLE_S)`` whole cycles (at least enough for
#: ``MIN_OPS``), a count fixed by ``--seconds`` alone, so every run of a
#: workload does the same work however fast the host is.  Cycles run
#: until a time is up split runs between one cycle and two, and the
#: first timed cycle runs slower than the second.
CYCLE_S = 6.0

WORKLOADS: dict[str, dict] = {
    "cluster_ops": {
        "why": "the reference's own tools (reports, analyzer, planner, "
        "topology, joins) and its write side (upserts, KV and table "
        "round-trips): short driver-bound queries, no Python UDF or streams",
        "queries": [
            "report_biggest_regions", "analyzer_size_hist", "merge_plan",
            "topology_asof", "moved_regions_audit", "upsert_dedup",
            "kv_model_roundtrip", "table_lifecycle_roundtrip",
        ],
        "zero": ["memo.builds", "streaming.batches", "streaming.drains"],
    },
    "pipeline_stream": {
        "why": "LLM-pipeline operators (exact top-k, a pandas UDF, a "
        "stage-persisted dedup) beside stream drains and a batch twin: the "
        "Python boundary, stage caches and streaming state",
        "queries": [
            "embedding_topk", "multimodal_png_stats", "docs_line_dedup",
            "stream_funnel_stage", "events_funnel", "stream_dedup_keys_rocksdb",
        ],
        "zero": ["memo.builds"],
    },
}

#: Registering modules (``QUERIES[q].fn.__module__`` without the
#: package prefix) the mixes draw from.  A query whose module is not
#: listed is counted under ``other``.
MODULES: list[str] = [
    "operators.reports", "operators.analyzer", "operators.planners",
    "operators.temporal", "operators.joins", "operators.writepath",
    "sources.kv", "sources.tables",
    "llm.similarity", "llm.multimodal", "llm.dedup",
    "streaming.stateful", "operators.funnels", "streaming.jobs",
]
