"""Correctness gate: DuckDB reference fingerprints and result checks.

The reference for each query is its registered DuckDB oracle SQL run
over the same fixture files, normalized with ``normalize`` from the
repository's ``tests/conftest.py`` (the exact rule the differential
tests use) and hashed.  Fingerprints are cached on disk keyed on
(fixture content, hash of the oracle SQL, duckdb version), so only
the first run in a checkout pays for the oracle.

A Spark result is checked with the full normalization the first time a
given result is seen; later results of the same query are matched by
an exact, order-insensitive hash of the pandas frame against results
already judged, so a 100k-row result is not normalized row by row on
every operation.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import importlib.util
import json
import os

import duckdb
import numpy as np
import pandas as pd


def load_normalize(repo_root: str):
    """``normalize`` from ``tests/conftest.py``, loaded by path."""
    path = os.path.join(repo_root, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("_perfbench_conftest", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module.normalize


def digest(columns, rows) -> str:
    """Fingerprint of a normalized result: sorted column names plus the
    sorted normalized row tuples."""
    return hashlib.sha256(repr((sorted(columns), rows)).encode()).hexdigest()


@functools.lru_cache
def fixture_digest(fixture_dir: str) -> str:
    """Hash of the names and bytes of a fixture directory's tables."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def cache_path(cache_dir: str, fixture_dir: str, sql: str) -> str:
    key = "|".join([
        fixture_digest(fixture_dir),
        hashlib.sha256(sql.encode()).hexdigest(),
        duckdb.__version__,
    ])
    return os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest() + ".json")


def reference_fingerprints(
    fixture_dir: str, names: list[str], oracles: dict[str, str], normalize, cache_dir: str
) -> dict[str, str]:
    """Reference fingerprint per query, from the cache or DuckDB."""
    from hbase_tools_spark.model import BASE_TABLES

    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, str] = {}
    con = None
    try:
        for name in names:
            path = cache_path(cache_dir, fixture_dir, oracles[name])
            if os.path.exists(path):
                with open(path) as f:
                    out[name] = json.load(f)["fingerprint"]
                continue
            if con is None:
                con = duckdb.connect()
                for t in BASE_TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(fixture_dir, t + '.parquet')}'"
                    )
            ddf = con.sql(oracles[name]).fetchdf()
            out[name] = digest(ddf.columns, normalize(ddf))
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump({"query": name, "fingerprint": out[name]}, f)
            os.replace(tmp, path)
    finally:
        if con is not None:
            con.close()
    return out


def frame_hash(df: pd.DataFrame) -> str:
    """Exact, row-order-insensitive hash of a pandas frame: column
    names, dtypes and the sorted per-row hashes of every value."""
    cols = sorted(df.columns)
    df = df[cols]
    try:
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    except TypeError:  # unhashable cells (arrays, lists): hash their repr
        df = df.apply(lambda s: s.map(repr) if s.dtype == object else s)
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy()
    h = hashlib.sha256(repr([(c, str(df[c].dtype)) for c in cols]).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


class Checker:
    """Judges each timed result against the reference fingerprints."""

    def __init__(self, references: dict[str, str], normalize):
        self.references = references
        self.normalize = normalize
        self.judged: dict[str, dict[str, bool]] = {}

    def check(self, name: str, pdf: pd.DataFrame) -> bool:
        seen = self.judged.setdefault(name, {})
        h = frame_hash(pdf)
        if h not in seen:
            seen[h] = digest(pdf.columns, self.normalize(pdf)) == self.references[name]
        return seen[h]
