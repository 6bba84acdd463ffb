"""functions/sizing.py: every byte threshold on both sides, the one
probe's failure handling, and the single raw shuffle_hash hint site."""

from __future__ import annotations

import os
import subprocess

import pytest

import hbase_tools_spark.streaming  # noqa: F401
from hbase_tools_spark.catalog import Model, load_model
from hbase_tools_spark.functions import sizing as S
from hbase_tools_spark.model import BASE_TABLES
from hbase_tools_spark.registry import QUERIES
from tests.conftest import SF_DIR, normalize


def _sparse(path, size: int) -> None:
    """A file of ``size`` bytes that costs no disk (truncate)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.truncate(size)


def _hinted(df) -> bool:
    return "UnresolvedHint shuffle_hash" in (
        df._jdf.queryExecution().logical().toString()
    )


def _shj_corpus(spark, root, size):
    """Fixture corpus stored as a parquet directory (a scaled fixture)."""
    sf = root / "sf"
    _sparse(str(sf / "documents.parquet" / "part-0.parquet"), size)
    docs = S.table_path(str(sf), "documents")
    return _hinted(S.shuffle_hash(spark.range(1), docs))


def _shj_index_dir(spark, root, size):
    """Artifact directory (a novelty-ingest index)."""
    _sparse(str(root / "idx" / "part-0.parquet"), size)
    return _hinted(S.shuffle_hash(spark.range(1), str(root / "idx")))


def _shuffle_partitions(spark, root, size):
    """Fixture bytes all in lineitem, every other base table empty."""
    sf = root / "sf"
    for t in BASE_TABLES:
        _sparse(S.table_path(str(sf), t), size if t == "lineitem" else 0)
    S.raise_shuffle_partitions(spark, str(sf))
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def _state_partitions(spark, root, size):
    _sparse(S.table_path(str(root), "events"), size)
    return S.events_drain_sizing(Model(spark, str(root)))[0]


def _mem_sink(spark, root, size):
    _sparse(S.table_path(str(root), "events"), size)
    return S.drain_spills(S.events_drain_sizing(Model(spark, str(root)))[1])


def _shuffle_boundary(parts: int) -> int:
    """Largest fixture size that sizes to ``parts`` shuffle partitions."""
    return parts * S.SHUFFLE_PARTITION_BYTES // S.SHUFFLE_EXPANSION


_SESSION_PARTS = 4  # a fixture-scale posture (bench.py pins 4)
_STATE_EDGE = (S.STATE_PARTITION_FLOOR + 1) * S.STATE_PARTITION_BYTES

# case -> (policy, size just below, its result, size just above, its result)
_CASES = {
    "shj_corpus": (
        _shj_corpus, S.SHJ_MAX_BYTES, True, S.SHJ_MAX_BYTES + 1, False,
    ),
    "shj_index_dir": (
        _shj_index_dir, S.SHJ_MAX_BYTES, True, S.SHJ_MAX_BYTES + 1, False,
    ),
    "shuffle_partitions": (
        _shuffle_partitions,
        _shuffle_boundary(_SESSION_PARTS), _SESSION_PARTS,
        _shuffle_boundary(_SESSION_PARTS) + 1, _SESSION_PARTS + 1,
    ),
    "max_partitions": (
        _shuffle_partitions,
        _shuffle_boundary(S.MAX_PARTITIONS - 1), S.MAX_PARTITIONS - 1,
        _shuffle_boundary(S.MAX_PARTITIONS) + 1, S.MAX_PARTITIONS,
    ),
    "state_partitions": (
        _state_partitions,
        _STATE_EDGE - 1, S.STATE_PARTITION_FLOOR,
        _STATE_EDGE, S.STATE_PARTITION_FLOOR + 1,
    ),
    "mem_sink": (
        _mem_sink,
        S.MEM_SINK_MAX_SOURCE_BYTES, False,
        S.MEM_SINK_MAX_SOURCE_BYTES + 1, True,
    ),
}


@pytest.mark.parametrize(
    "case,side",
    [(c, s) for c in _CASES for s in ("below", "above")],
    ids=[f"{c}-{s}" for c in _CASES for s in ("below", "above")],
)
def test_size_threshold(spark, tmp_path, monkeypatch, case, side):
    """Each threshold in the sizing table, a sparse file just below and
    just above it.  The forced shuffle_hash hint must hold at fixture
    scale and drop past SHJ_MAX_BYTES, where a forced hash build OOMs
    and the sort-merge fallback spills (jaccard self-join, 100x
    fixture, 8 g heap); the other rows size shuffle partitions, state
    partitions and the drain sink."""
    policy, below, at_below, above, at_above = _CASES[case]
    # the state-partition cap is the scheduler parallelism: lift it so
    # the byte rule, not the core count, decides
    monkeypatch.setattr(
        type(spark.sparkContext), "defaultParallelism", property(lambda _: 64)
    )
    size, expect = (below, at_below) if side == "below" else (above, at_above)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_SESSION_PARTS))
    try:
        assert policy(spark, tmp_path, size) == expect
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_failed_probe_is_not_cached(spark, monkeypatch):
    """A fixture probe that fails once must not pin its failure: the
    next call returns the real size (a failure cached as 0 used to pin
    corpus-scale drains to the memory sink for the process)."""
    monkeypatch.setattr(S, "_FIXTURE_BYTES", {})
    real = S.probe
    calls = []

    def flaky(spark_, path):
        calls.append(path)
        return None if len(calls) == 1 else real(spark_, path)

    monkeypatch.setattr(S, "probe", flaky)
    events = S.table_path(SF_DIR, "events")
    assert S.path_bytes(spark, events) is None
    assert S.path_bytes(spark, events) == os.path.getsize(events)
    assert S.path_bytes(spark, events) == os.path.getsize(events)
    assert len(calls) == 2, "a successful fixture probe is cached"


def test_drain_with_failed_probe_spills_and_matches_oracle(
    spark, ducksql, monkeypatch
):
    """A user-keyed drain whose source cannot be sized takes the safe
    side: the parquet spill sink, not the driver-heap memory sink, and
    still returns the oracle rows."""
    monkeypatch.setattr(S, "_FIXTURE_BYTES", {})
    monkeypatch.setattr(S, "probe", lambda spark_, path: None)
    q = QUERIES["stream_funnel_stage"]
    df = q.fn(load_model(spark, SF_DIR))
    assert any("hbase_tools_sink_" in f for f in df.inputFiles()), (
        "unsized drain stayed on the memory sink"
    )
    assert normalize(df.toPandas()) == normalize(ducksql(q.oracle))


def test_shuffle_hash_hint_has_one_raw_site():
    """Every forced shuffle_hash goes through sizing.shuffle_hash: the
    package holds exactly one raw ``hint("shuffle_hash")``, in
    sizing.py."""
    pkg = os.path.dirname(os.path.dirname(S.__file__))
    out = subprocess.run(
        ["grep", "-rn", "--include=*.py", 'hint("shuffle_hash")', pkg],
        capture_output=True, text=True,
    ).stdout
    raw = [ln for ln in out.splitlines() if ln.strip()]
    assert len(raw) == 1 and raw[0].startswith(S.__file__ + ":"), raw
