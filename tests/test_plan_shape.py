"""Physical-plan regression guards (SCALE.md audit, frozen as tests):
losing a broadcast, gaining a sort-merge join, or dropping parquet
pushdown is a scale regression even when results stay correct."""

from __future__ import annotations

import pytest

import hbase_tools_spark.llm  # noqa: F401
import hbase_tools_spark.operators  # noqa: F401
from hbase_tools_spark.catalog import load_model
from hbase_tools_spark.registry import QUERIES
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(load_model(spark, SF_DIR))
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["region_health_join", "compaction_plan", "merge_plan", "range_lookup",
     "embedding_topk", "health_check_eligible"],
)
def test_dimension_joins_are_broadcast_not_smj(spark, name):
    plan = _plan(spark, name)
    assert "SortMergeJoin" not in plan, f"{name} regressed to sort-merge join"
    assert "Broadcast" in plan, f"{name} lost its broadcast"


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "pricing_summary")
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # 7 referenced columns only — a full-width scan is a regression
    read = plan.split("ReadSchema", 1)[1][:400]
    assert "l_comment" not in read and "l_partkey" not in read


@pytest.mark.parametrize(
    "name",
    ["text_stats", "lang_id_heuristic", "doc_fingerprints",
     "docs_gopher_rules"],
)
def test_narrow_text_ops_have_no_exchange(spark, name):
    plan = _plan(spark, name)
    assert "Exchange" not in plan, f"{name} gained a shuffle"


def test_embedding_topk_pushes_probe_filter_to_scan(spark):
    plan = _plan(spark, "embedding_topk")
    assert "LessThan(vec_id" in plan, "probe filter no longer pushed to parquet"


def test_bucketed_join_has_zero_exchange(spark):
    """Storage-scale claim, frozen as a test: two tables bucketed on
    region_id with equal bucket counts join with NO shuffle (and no
    broadcast needed) — the co-located J1 layout for the 100 TB hot
    path."""
    from hbase_tools_spark.sources.tables import write_bucketed_table

    m = load_model(spark, SF_DIR)
    write_bucketed_table(m.meta_regions, "mr_bucketed", "region_id", 8)
    write_bucketed_table(m.region_metrics, "rm_bucketed", "region_id", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("mr_bucketed").join(
            spark.table("rm_bucketed"), "region_id"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join gained a shuffle"
        assert "SortMergeJoin" in plan
        # sortBy metadata removes the per-task sorts too
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS mr_bucketed")
        spark.sql("DROP TABLE IF EXISTS rm_bucketed")


def test_salted_rollup_is_two_phase(spark):
    """The skew-safe rollup must really aggregate in two phases keyed
    through the salt: the salt column appears in the plan and there are
    (at least) the salted and the final exchange."""
    plan = _plan(spark, "events_salted_rollup")
    assert "__salt" in plan, "salt column vanished — not a salted aggregation"
    assert plan.count("Exchange") >= 2, "two-phase agg collapsed to one exchange"


def test_topology_asof_read_is_partition_pruned(spark, tmp_path):
    """The as-of floor read must reach the scan as a static partition
    filter: snapshots newer than the as-of instant are never read."""
    from hbase_tools_spark.sources.tables import (
        read_topology_asof,
        snapshot_topology,
    )

    m = load_model(spark, SF_DIR)
    topo = m.topology.limit(50)
    store = str(tmp_path / "topo_store")
    for epoch in (1000, 2000, 3000):
        snapshot_topology(topo, store, epoch)
    asof = read_topology_asof(spark, store, 2500)
    plan = asof._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "snapshot_epoch" in pf and "2500" in pf, pf
    # floor semantics: only the 2000 snapshot survives
    epochs = {r["snapshot_epoch"] for r in asof.select("snapshot_epoch").distinct().collect()}
    assert epochs == {2000}


def test_no_unjustified_cartesian_or_nested_loop_join(spark):
    """Blanket scale guard over EVERY registered batch query's executed
    plan: no CartesianProduct anywhere, and BroadcastNestedLoopJoin only
    in the whitelisted queries whose non-equi/cross operand is a
    broadcast scalar or constant-size relation by construction (1-row
    aggregates, the fixed probe set, the literal range grid).  A new
    query that accidentally degrades to an unkeyed join fails here
    before it ever reaches a benchmark."""
    import __spark_entry__ as e

    BNLJ_OK = {
        # broadcast side is a 1-row aggregate / scalar threshold
        "health_check_eligible", "distribution_weight",
        "distribution_candidates", "busiest_emptiest",
        "report_rs_distribution", "server_prefix_resolve",
        "tfidf_top_terms",  # corpus-size N rides as a broadcast 1-row agg
        "source_unigram_divergence",  # corpus-total N: broadcast 1-row agg
        "docs_dsir_weights",  # feature-space totals: broadcast 1-row agg
        "docs_ccnet_perplexity",  # LM vocab size V: broadcast 1-row agg
        "docs_ccnet_perplexity_served",  # same scoring plan, persisted LM
        "docs_kneser_ney_perplexity",  # T+V normalizer / unseen fallback: 1-row aggs
        "bloom_contamination",  # constant-size bitmap: broadcast 1-row array
        "bigram_pmi_top",  # corpus totals N / N_b: broadcast 1-row aggs
        "neardup_pagerank",  # node count N: broadcast 1-row agg per iteration
        "docs_budget_selection",  # corpus token budget: broadcast 1-row agg
        "bpe_merge_steps",  # per-round argmax merge pair: broadcast 1-row LIMIT 1
        "bpe_encode_tokens",  # same training chain: per-round 1-row argmax broadcasts
        "docs_bm25_topk",  # (n_docs, avgdl) statistics: broadcast 1-row agg
        "docs_bm25_served",  # same 1-row stats broadcast, from the index
        "docs_bm25_stream_served",  # same serving plan over the streamed index
        "kv_admin_roundtrip",  # lock now_seq: broadcast 1-row max agg
        "topology_store_roundtrip",  # as-of floor epoch: broadcast 1-row agg
        "hybrid_rrf_search",  # same 1-row corpus-stats broadcast in the lexical leg
        "hybrid_rrf_served",  # same lexical-leg stats broadcast, served legs
        "retrieval_rank_overlap",  # same lexical leg; plus the 10-row weight lookup
        # broadcast side is the fixed probe set / literal range grid
        "embedding_topk", "range_lookup",
        "ann_recall_at_k",  # contains embedding_topk's fixed-probe-set leg
        "retrieval_ndcg",  # same legs; plus the 2-row method-grid broadcast
        "embedding_int8_topk",  # fixed probe set, quantized + exact rerank
        "embedding_pq_topk",  # 5-row probe relation with driver-built ADC luts
        "docs_length_percentile_filter",  # p5/p95 thresholds: broadcast 1-row agg
        "docs_curriculum_order",  # quartile thresholds: broadcast 1-row agg
        "word_embedding_neighbors",  # cooc total N: broadcast 1-row agg
        "events_markov_attribution",  # p_full / effect-total: broadcast 1-row relations
        "docs_lr_quality_train",  # weight vector + n: broadcast 1-row relations per GD step
        "docs_lr_quality_served",  # persisted 1-row weights broadcast into the scan
        "corpus_temperature_mixture",  # total tokens + normalizer: broadcast 1-row aggs
        # broadcast side is the n_types^2 pair grid / the 5*k-row sketch
        # relation — both constant-size by construction (k=128, 5 types)
        "events_kmv_overlap",
        # broadcast sides are the 1-row total and the ~60-row bucket
        # histogram (inequality boundary pick) — constant-size state
        "docs_length_quantile_sketch",
    }
    qs = e.queries()
    offenders = {}
    for name, fn in qs.items():
        if name.startswith("stream_"):
            continue  # drains execute eagerly; streaming shapes are pinned elsewhere
        plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            offenders[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            offenders[name] = "BroadcastNestedLoopJoin"
    assert not offenders, offenders


def test_oov_vocab_join_is_broadcast(spark):
    """The top-k vocabulary must ride as a broadcast — re-shuffling the
    (source, word) relation against a k-row dim is a scale regression."""
    plan = _plan(spark, "oov_rate_by_source")
    assert "BroadcastHashJoin" in plan, "vocab join lost its broadcast"
    assert "SortMergeJoin" not in plan


def test_window_dedup_has_no_window_key_join(spark):
    """The dup counts must derive from the doc-frequency aggregate
    alone (n_windows - n_unique): re-associating posts against the
    rollup via a corpus-vs-corpus join on the window key was measured
    3x slower at 10x corpus.  The only join is per-doc (hash, not SMJ),
    and the heavy shuffle keys on xxhash64-folded windows."""
    plan = _plan(spark, "docs_window_dedup")
    # the reuse point is a lazy persist, so the printed plan INCLUDES
    # the cached subtree where the shingle string legitimately exists
    # (pre-fold, scan-stage); the invariant is that no SHUFFLE ever
    # keys on the window string — every exchange keys on the folded
    # 8-byte wh / the doc id
    assert "wh#" in plan, "window keys no longer hash-folded"
    for seg in plan.split("Exchange hashpartitioning(")[1:]:
        # check EVERY key in the exchange's key list, not just the
        # first — a window string smuggled in as a second/later shuffle
        # key (hashpartitioning(doc_id#1, shingle#2, 200)) must fail
        for key in seg.split(")", 1)[0].split(", "):
            assert not key.strip().startswith("shingle"), (
                "window strings leaked into a shuffle key"
            )
    assert "ShuffledHashJoin" in plan, "doc-level join lost the hash hint"
    assert "SortMergeJoin" not in plan
    # exactly one join operator: the doc-keyed one
    assert plan.count("Join") == 1, "corpus-keyed re-association join returned"


def test_curriculum_order_single_exchange_and_pruned_scan(spark):
    """docs_curriculum_order's one shuffle is the (band, shard) hash
    exchange its window needs — the epoch-shuffle discipline — and the
    documents scan prunes to the consumed columns."""
    plan = _plan(spark, "docs_curriculum_order")
    assert plan.count("Exchange hashpartitioning") == 1, plan[:1500]
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "lang" not in read and "source" not in read


def test_bm25_topk_is_take_ordered_not_global_sort(spark):
    """The BM25 top-k must plan as TakeOrderedAndProject (bounded
    per-partition heaps) — a global Sort before the limit would
    materialize a corpus-wide order at 100 TB."""
    plan = _plan(spark, "docs_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    read = plan.split("ReadSchema", 1)[1][:300]
    assert "lang" not in read and "n_chars" not in read
