"""Training-data pipeline operators (M8 extension): deterministic
train/val/test splitting, stratified sampling, intra-document repetition
quality, benchmark-contamination checking, and the MinHash-LSH banding
S-curve — the corpus-assembly half of an LLM data pipeline (the dedup /
similarity half lives in :mod:`.dedup` / :mod:`.similarity`).

Scale notes (100 TB):
  * split assignment and repetition scoring are narrow per-doc
    transforms (split assignment literally one hash + substring);
  * stratified sampling gates on a hash-prefix BEFORE the per-stratum
    window, so the window input is a tunable fraction of the corpus and
    the per-language partitions stay bounded;
  * contamination checking broadcasts the benchmark shingle set (the
    benchmark is the small dim by construction) — candidates stream
    through a map-side hash probe, and the only shuffle is the per-doc
    aggregate with map-side partial aggregation;
  * the banding sweep is pure math over a constant grid (no data scan).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve via globals

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import Model
from ..functions.cache import stage_persist
from ..functions.exprs import fround, fround_sql
from ..functions.sizing import shuffle_hash, table_path
from ..registry import query

#: Hash-prefix split boundaries over the md5(doc_id) keyspace: 256
#: two-hex-digit buckets; ['00','cc') -> train (204/256 = 79.7%),
#: ['cc','e6') -> val (26/256 = 10.2%), ['e6','ff'] -> test (10.2%).
#: Prefix-range splitting on a content-independent key hash is the
#: standard reproducible-split device: membership is a pure function of
#: the id, stable under corpus growth and re-partitioning.
_TRAIN_HI = "cc"
_VAL_HI = "e6"

_SAMPLE_GATE = "8"  # stratified sample pre-filter: first hex digit < '8'
_SAMPLE_K = 5       # docs kept per language

_REP_DISTINCT_MIN = 0.45  # repetition flags (Gopher-style): distinct
_REP_TOP_MAX = 0.12       # word ratio floor / top-word frequency cap

_CONTAM_SHINGLE = 4    # word n-gram width for the contamination check
_CONTAM_BENCH = "src0"  # fixture source treated as the held-out benchmark
_CONTAM_T = 0.5         # shared-shingle ratio above which a doc is flagged


def _contam_shingles_of(text: str):
    """Distinct word {_CONTAM_SHINGLE}-grams of one text in first-seen
    order (dict.fromkeys), or None when too short — the ONE shingle
    definition shared by the whole contamination family (exact screen,
    Bloom screen, audit funnel)."""
    toks = text.split(" ")
    if len(toks) < _CONTAM_SHINGLE:
        return None
    return dict.fromkeys(
        " ".join(toks[i : i + _CONTAM_SHINGLE])
        for i in range(len(toks) - _CONTAM_SHINGLE + 1)
    )


def _shingles_exploded(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) relation: each doc's DISTINCT word
    {_CONTAM_SHINGLE}-grams, exploded — the Spark twin of
    ``_CONTAM_SHINGLES_SQL`` (per-doc distinct happens inside the array
    builder, so the explode is a pure map stage)."""
    w = _CONTAM_SHINGLE
    return (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .where(F.size("toks") >= w)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(0, size(toks) - {w}),"
                    f" i -> concat_ws(' ', slice(toks, i + 1, {w}))))"
                )
            ).alias("shingle"),
        )
    )


#: Hard ceiling on the benchmark suite's distinct-shingle count before
#: the driver will collect it (round-5 verdict task 5).  Real held-out
#: benchmark suites are MBs of text (well under this); a corpus
#: mis-pointed at the "benchmark" source would otherwise OOM the driver
#: silently.  Above the bound, callers must use the shuffle-join shape
#: (``split_leakage``), which handles corpus×corpus scale.
_CONTAM_BENCH_MAX_SHINGLES = 2_000_000


def _bench_shingle_set(m: Model) -> frozenset:
    """The benchmark source's distinct shingle set, memoized per
    fixture dir (a static dim; see functions/memo.py) — the single
    builder behind the shared 'contam_bench_set' cache key, so the
    consumers cannot drift apart.  Shingling and dedup run
    DISTRIBUTED (explode + distinct); only the distinct shingle
    strings — the very payload consumers broadcast — ever reach the
    driver, never full document texts.  The guard and the collect share
    ONE pipeline execution: ``limit(BOUND + 1)`` caps what can reach
    the driver, and one surplus row proves the suite exceeds
    ``_CONTAM_BENCH_MAX_SHINGLES`` (a corpus mis-pointed as the
    benchmark) — fail fast instead of OOMing the driver; the
    corpus-scale screen is the ``split_leakage`` shuffle-join shape."""
    from ..functions.memo import model_cached

    def build() -> frozenset:
        sh = _shingles_exploded(
            m.documents.where(F.col("source") == _CONTAM_BENCH)
        ).select("shingle").distinct()
        # One job: the limit bounds driver transfer even in the failure
        # case, and >BOUND rows means the guard fired (round-6 ADVICE:
        # the previous count()-then-collect() ran the explode+distinct
        # pipeline twice per cold build).
        rows = sh.limit(_CONTAM_BENCH_MAX_SHINGLES + 1).collect()
        if len(rows) > _CONTAM_BENCH_MAX_SHINGLES:
            raise ValueError(
                f"benchmark source {_CONTAM_BENCH!r} exceeds "
                f"{_CONTAM_BENCH_MAX_SHINGLES} distinct shingles; the "
                "broadcast decontamination path is for suite-sized "
                "benchmarks — use the split_leakage shuffle-join shape "
                "for corpus-scale screens"
            )
        return frozenset(r["shingle"] for r in rows)

    return model_cached(m, "contam_bench_set", build)


def _doc_hash() -> Column:
    return F.md5(F.col("doc_id").cast("string").cast("binary"))


@query(
    "docs_split_assign",
    oracle=f"""
SELECT doc_id, lang, bucket,
       CASE WHEN bucket < '{_TRAIN_HI}' THEN 'train'
            WHEN bucket < '{_VAL_HI}' THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT doc_id, lang,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM documents
) t
""",
    views=[],
)
def docs_split_assign(m: Model) -> DataFrame:
    """Deterministic train/val/test assignment by hash-prefix range
    (~80/10/10): ``md5(doc_id)`` first byte partitions the keyspace, so
    membership is reproducible across runs, engines, and shard layouts.
    Narrow per-row transform — zero shuffles at any scale."""
    bucket = F.substring(_doc_hash(), 1, 2)
    return m.documents.select(
        "doc_id",
        "lang",
        bucket.alias("bucket"),
        F.when(bucket < _TRAIN_HI, "train")
        .when(bucket < _VAL_HI, "val")
        .otherwise("test")
        .alias("split"),
    )


@query(
    "docs_stratified_sample",
    oracle=f"""
SELECT doc_id, lang, CAST(rn AS BIGINT) AS sample_rank
FROM (
  SELECT doc_id, lang,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
  FROM (
    SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '{_SAMPLE_GATE}'
  ) gated
) r
WHERE rn <= {_SAMPLE_K}
""",
    views=[],
)
def docs_stratified_sample(m: Model) -> DataFrame:
    """Deterministic stratified sample: top-{5} docs per language in
    hash order.  The hash-prefix gate (first hex digit < '{8}', i.e. a
    50% pre-filter here, tuned so expected survivors >> k per stratum)
    runs BEFORE the per-language window — at 100 TB the window input is
    a small corpus fraction and the low-cardinality ``lang`` partitions
    stay bounded instead of pulling whole languages to single tasks."""
    h = _doc_hash()
    gated = m.documents.where(F.substring(h, 1, 1) < _SAMPLE_GATE).select(
        "doc_id", "lang", h.alias("h")
    )
    rn = F.row_number().over(Window.partitionBy("lang").orderBy("h", "doc_id"))
    return (
        gated.select("doc_id", "lang", rn.alias("sample_rank"))
        .where(F.col("sample_rank") <= _SAMPLE_K)
        .select("doc_id", "lang", F.col("sample_rank").cast("bigint"))
    )


#: Epochs materialized per run and demo shard count.  In production the
#: shard count is sized from data (ceil(corpus_bytes / target_shard_bytes),
#: e.g. ~200k shards for 100 TB at 512 MB), not a constant — it only needs
#: to exceed executor count for full parallelism.
_SHUFFLE_EPOCHS = 2
_SHUFFLE_SHARDS = 16

_EPOCH_KEY_SQL = (
    "md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))"
)


@query(
    "docs_epoch_shuffle",
    oracle=f"""
SELECT epoch, doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY epoch, shard ORDER BY h, doc_id)
            AS BIGINT) AS position
FROM (
  SELECT CAST(e.epoch AS BIGINT) AS epoch, d.doc_id,
         {_EPOCH_KEY_SQL} AS h,
         CAST(CAST(('0x' || substr({_EPOCH_KEY_SQL}, 1, 12)) AS BIGINT)
              % {_SHUFFLE_SHARDS} AS INTEGER) AS shard
  FROM documents d
  CROSS JOIN (SELECT unnest(range({_SHUFFLE_EPOCHS})) AS epoch) e
) keyed
""",
    views=[],
)
def docs_epoch_shuffle(m: Model) -> DataFrame:
    """Deterministic distributed training shuffle: every (epoch, doc)
    gets a (shard, position) reading order from ``md5(epoch:doc_id)`` —
    the standard reproducible data-loader shuffle (each epoch is an
    independent pseudo-random permutation, recomputable from the id
    alone, so any worker can locate any sample without a central
    shuffle log).

    Scale shape: one narrow per-row key derivation, then EXACTLY ONE
    shuffle — the hash exchange on (epoch, shard) that the per-shard
    ``row_number`` window needs — and Spark's per-partition sort is the
    spill-safe external sort, so shard size is bounded by the shard
    count, not by memory.  No global sort anywhere: a total order is
    never materialized, only per-shard orders, which is what a trainer
    consuming shard files actually reads.  Changing the epoch changes
    the permutation with zero extra state (no stored permutation
    table); growing the corpus leaves existing (epoch, shard) keys of
    other docs untouched.
    """
    return epoch_shuffle_for(m.documents, list(range(_SHUFFLE_EPOCHS)))


def epoch_shuffle_for(docs: DataFrame, epochs: list[int]) -> DataFrame:
    """(epoch, doc_id, shard, position) for the given epoch seeds — the
    single derivation behind ``docs_epoch_shuffle`` and the persisted
    manifest, so the two can never drift."""
    epoch = F.explode(
        F.array(*[F.lit(e) for e in epochs])
    ).alias("epoch")
    keyed = docs.select("doc_id", epoch)
    h = F.md5(
        F.concat(
            F.col("epoch").cast("string"),
            F.lit(":"),
            F.col("doc_id").cast("string"),
        ).cast("binary")
    )
    keyed = keyed.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        "doc_id",
        h.alias("h"),
    ).withColumn(
        "shard",
        F.pmod(
            F.conv(F.substring(F.col("h"), 1, 12), 16, 10).cast("bigint"),
            F.lit(_SHUFFLE_SHARDS),
        ).cast("int"),
    )
    pos = F.row_number().over(
        Window.partitionBy("epoch", "shard").orderBy("h", "doc_id")
    )
    return keyed.select(
        "epoch", "doc_id", "shard", pos.cast("bigint").alias("position")
    )


def materialize_epoch_shuffle(docs: DataFrame, epoch: int, out_dir: str) -> None:
    """Persist one epoch's reading order as a shard-partitioned parquet
    manifest — the data-loader production shape: each trainer rank
    opens ONLY its shard partition(s) (a partition-pruned scan, no
    corpus touch) and the rows inside each shard file are already in
    position order, so 'read the file top to bottom' IS the training
    order.  Writing repartitions by shard (one task, one file per
    shard) and sorts within partitions — the same single-exchange shape
    as the query."""
    (
        epoch_shuffle_for(docs, [epoch])
        .repartition("shard")
        .sortWithinPartitions("position")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(out_dir)
    )


@query(
    "docs_repetition_ratio",
    oracle=f"""
SELECT doc_id,
       CAST(sum(c) AS BIGINT)   AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_distinct,
       {fround_sql('count(*) * 1.0 / sum(c)', 6)} AS distinct_ratio,
       {fround_sql('max(c) * 1.0 / sum(c)', 6)}   AS top_word_ratio,
       (count(*) * 1.0 / sum(c) < {_REP_DISTINCT_MIN}
        OR max(c) * 1.0 / sum(c) > {_REP_TOP_MAX}) AS repetitive
FROM (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents) w
  GROUP BY 1, 2
) wc
GROUP BY doc_id
""",
    views=[],
)
def docs_repetition_ratio(m: Model) -> DataFrame:
    """Intra-document repetition quality signal (Gopher-style filters):
    distinct-word fraction and top-word frequency per doc, flagged when
    the text is repetitive.  Two-level aggregate — per-(doc, word)
    counts first, then per-doc — so the shuffle carries one row per
    distinct word per doc with map-side partial aggregation; no skew
    (keys are (doc_id, word), high cardinality by construction)."""
    wc = (
        m.documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_tokens, n_distinct, top = F.sum("c"), F.count(F.lit(1)), F.max("c")
    return wc.groupBy("doc_id").agg(
        n_tokens.cast("bigint").alias("n_tokens"),
        n_distinct.cast("bigint").alias("n_distinct"),
        fround(n_distinct * 1.0 / n_tokens, 6).alias("distinct_ratio"),
        fround(top * 1.0 / n_tokens, 6).alias("top_word_ratio"),
        (
            (n_distinct * 1.0 / n_tokens < _REP_DISTINCT_MIN)
            | (top * 1.0 / n_tokens > _REP_TOP_MAX)
        ).alias("repetitive"),
    )


_CONTAM_SHINGLES_SQL = f"""
SELECT doc_id, unnest(list_distinct(
         list_transform(range(1, greatest(len(toks) - {_CONTAM_SHINGLE - 2}, 1)),
                        i -> array_to_string(toks[i:i+{_CONTAM_SHINGLE - 1}], ' '))
       )) AS shingle
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
WHERE len(toks) >= {_CONTAM_SHINGLE}
"""


@query(
    "split_leakage",
    oracle=f"""
WITH sh AS ({_CONTAM_SHINGLES_SQL}),
lab AS (
  SELECT doc_id, shingle,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
  FROM sh
),
train AS (SELECT DISTINCT shingle FROM lab WHERE bucket < '{_TRAIN_HI}'),
test AS (SELECT doc_id, shingle FROM lab WHERE bucket >= '{_VAL_HI}')
SELECT test.doc_id,
       CAST(count(*) AS BIGINT)             AS n_shingles,
       CAST(count(train.shingle) AS BIGINT) AS n_leaked,
       {fround_sql('count(train.shingle) * 1.0 / count(*)', 6)} AS leak_ratio,
       count(train.shingle) * 1.0 / count(*) >= {_CONTAM_T} AS leaky
FROM test LEFT JOIN train ON test.shingle = train.shingle
GROUP BY test.doc_id
""",
    views=[],
)
def split_leakage(m: Model) -> DataFrame:
    """Train→test leakage scan: for every doc the hash split assigns to
    TEST, the fraction of its distinct word {4}-grams that also occur
    anywhere in the TRAIN split (same shingle definition and {0.5} flag
    bar as the benchmark contamination check, same split boundaries as
    ``docs_split_assign``).

    This is the decontamination shape the broadcast benchmark probe
    (``ngram_contamination``) can NOT take: both sides are
    corpus-proportional, so the probe set doesn't fit in a broadcast.
    The scale-correct plan is the linear shuffle join on the shingle —
    train shingles are pre-distinct'd (map-side combine shrinks them
    before the exchange), the join key is the shingle itself (uniform
    by construction — natural-language n-grams have no hot key after
    distinct), and the per-doc rollup keys on test doc_id, which is
    bounded by the doc's own shingle count.  Everything stays
    JVM-side."""
    sh = _shingles_exploded(m.documents).withColumn(
        "bucket", F.substring(_doc_hash(), 1, 2)
    )
    train = (
        sh.where(F.col("bucket") < _TRAIN_HI)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test = sh.where(F.col("bucket") >= _VAL_HI).select("doc_id", "shingle")
    joined = test.join(train, "shingle", "left")
    n, leaked = F.count(F.lit(1)), F.count("hit")
    return joined.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_shingles"),
        leaked.cast("bigint").alias("n_leaked"),
        fround(leaked * 1.0 / n, 6).alias("leak_ratio"),
        (leaked * 1.0 / n >= _CONTAM_T).alias("leaky"),
    )


@query(
    "ngram_contamination",
    oracle=f"""
WITH sh AS ({_CONTAM_SHINGLES_SQL}),
src AS (SELECT doc_id, source FROM documents),
bench AS (
  SELECT DISTINCT shingle FROM sh JOIN src USING (doc_id)
  WHERE source = '{_CONTAM_BENCH}'
),
cand AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN src USING (doc_id)
  WHERE source <> '{_CONTAM_BENCH}'
)
SELECT cand.doc_id,
       CAST(count(*) AS BIGINT)             AS n_shingles,
       CAST(count(bench.shingle) AS BIGINT) AS n_shared,
       {fround_sql('count(bench.shingle) * 1.0 / count(*)', 6)} AS contamination,
       count(bench.shingle) * 1.0 / count(*) >= {_CONTAM_T} AS contaminated
FROM cand LEFT JOIN bench ON cand.shingle = bench.shingle
GROUP BY cand.doc_id
""",
    views=[],
)
def ngram_contamination(m: Model) -> DataFrame:
    """Benchmark-contamination check: fraction of each candidate doc's
    distinct word {4}-grams that appear anywhere in the benchmark set
    (here: the '{src0}' source, standing in for a held-out eval set).

    The benchmark set is the SMALL dim by construction (an eval suite,
    not a corpus): its texts are driver-collected, shingled once on the
    driver, and the resulting shingle set is broadcast into ONE Arrow
    ``mapInPandas`` corpus pass that probes each candidate doc's
    distinct shingles in-worker and emits only the two per-doc counts —
    no shingle ever crosses the worker boundary and the plan has ZERO
    shuffles (pure map stage; the previous form shipped every candidate
    shingle string back to the JVM for a broadcast join, which at any
    scale moves ~50× more bytes than the documents themselves).  For a
    benchmark suite too large to broadcast, the shingle-level
    bucket-join form (see ``minhash_band_pairs``) is the fallback."""
    import pandas as pd

    shingles_of = _contam_shingles_of
    bench_set = _bench_shingle_set(m)

    @F.pandas_udf("n_shingles: bigint, n_shared: bigint")
    def probe(texts: pd.Series) -> pd.DataFrame:
        n_all, n_hit = [], []
        for text in texts:
            seen = shingles_of(text)
            if seen is None:  # too short to shingle -> filtered below
                n_all.append(None)
                n_hit.append(None)
            else:
                n_all.append(len(seen))
                n_hit.append(sum(1 for s in seen if s in bench_set))
        return pd.DataFrame({"n_shingles": n_all, "n_shared": n_hit})

    counts = (
        m.documents.where(F.col("source") != _CONTAM_BENCH)
        .select("doc_id", probe("text").alias("p"))
        .select("doc_id", "p.n_shingles", "p.n_shared")
        .filter(F.col("n_shingles").isNotNull())
    )
    ratio = F.col("n_shared") * 1.0 / F.col("n_shingles")
    return counts.select(
        "doc_id",
        "n_shingles",
        "n_shared",
        fround(ratio, 6).alias("contamination"),
        (ratio >= _CONTAM_T).alias("contaminated"),
    )


#: (bands, rows_per_band) configurations with b*r = 16, matching the
#: 16-permutation MinHash in :mod:`.dedup`.  r restricted to powers of
#: two so the balance threshold (1/b)^(1/r) unrolls to an exact sqrt
#: chain (cross-engine bit-identical; pow() is not).
_SWEEP_CONFIGS = [(16, 1), (8, 2), (4, 4), (2, 8)]
_SWEEP_STEPS = 19  # s = 0.05 .. 0.95


def _chain_sql(expr: str, n: int) -> str:
    return " * ".join([f"({expr})"] * n)


def _sweep_branch_sql(b: int, r: int) -> str:
    sr = _chain_sql("s", r)
    thr = f"CAST(1 AS DOUBLE) / {b}"
    for _ in range(r.bit_length() - 1):  # r = 2^k -> k nested sqrts
        thr = f"sqrt({thr})"
    # s is forced to DOUBLE before the multiply: DuckDB parses `0.05`
    # as DECIMAL and would compute an exact-decimal grid that differs
    # from Spark's double grid in the last ULP.
    return f"""
SELECT {b} AS bands, {r} AS rows_per_band, s,
       {fround_sql(f'1.0 - {_chain_sql(f"1.0 - {sr}", b)}', 6)} AS p_candidate,
       {fround_sql(thr, 6)} AS balance_threshold
FROM (SELECT CAST(i AS DOUBLE) * CAST(0.05 AS DOUBLE) AS s
      FROM range(1, {_SWEEP_STEPS + 1}) t(i)) g
"""


@query(
    "lsh_band_sweep",
    oracle="\nUNION ALL\n".join(
        _sweep_branch_sql(b, r) for b, r in _SWEEP_CONFIGS
    ),
    views=[],
)
def lsh_band_sweep(m: Model) -> DataFrame:
    """MinHash-LSH banding parameter sweep: the S-curve
    ``P(candidate) = 1 - (1 - s^r)^b`` over a similarity grid for every
    (bands, rows-per-band) factorization of the 16-permutation
    signature, plus the balance threshold ``(1/b)^(1/r)`` where the
    curve inflects.  This is the tuning table for choosing the banding
    in :func:`~hbase_tools_spark.llm.dedup.minhash_band_pairs`: pick the
    config whose threshold brackets the target Jaccard.  Constant-space
    math on a literal grid — no data scan; powers unroll to literal
    multiplication chains so both engines do the identical IEEE op
    sequence."""

    def chain(col: Column, n: int) -> Column:
        out = col
        for _ in range(n - 1):
            out = out * col
        return out

    grid = m.spark.range(1, _SWEEP_STEPS + 1).select(
        (F.col("id") * 0.05).alias("s")
    )
    branches = []
    for b, r in _SWEEP_CONFIGS:
        s = F.col("s")
        thr = F.lit(1.0) / b
        for _ in range(r.bit_length() - 1):
            thr = F.sqrt(thr)
        branches.append(
            grid.select(
                F.lit(b).cast("int").alias("bands"),
                F.lit(r).cast("int").alias("rows_per_band"),
                s.alias("s"),
                fround(
                    F.lit(1.0) - chain(F.lit(1.0) - chain(s, r), b), 6
                ).alias("p_candidate"),
                fround(thr, 6).alias("balance_threshold"),
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    return out


from .text import _QF_MAX_TOKENS, _QF_MIN_STOPWORD, _QF_MIN_TOKENS, _STOPWORDS  # noqa: E402


@query(
    "training_set_assembly",
    oracle=f"""
SELECT doc_id, lang, n_tokens, bucket
FROM (
  SELECT doc_id, lang, text, n_tokens, bucket,
         min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
  FROM (
    SELECT doc_id, lang, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           floor((len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) * 1.0
                  / len(string_split(text, ' '))) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
    FROM documents
  ) gated
  WHERE n_tokens BETWEEN {_QF_MIN_TOKENS} AND {_QF_MAX_TOKENS}
    AND stopword_ratio >= {_QF_MIN_STOPWORD}
) d
WHERE doc_id = canonical_id AND bucket < '{_TRAIN_HI}'
""",
    views=[],
)
def training_set_assembly(m: Model) -> DataFrame:
    """The end-to-end training-set pipeline as ONE declarative plan:
    quality gate -> exact-dedup canonical survivors -> deterministic
    train-split membership.  Catalyst fuses the narrow gates into the
    scan; the only shuffle is the content-hash window (the dedup key).
    The quality gate runs BEFORE the dedup window — exact duplicates
    share their quality metrics, so the two stages commute, and
    filtering first shrinks the 100 TB shuffle to the post-gate
    survivor set."""
    from pyspark.sql.window import Window as W

    from ..functions.exprs import fround

    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("bigint")
    ratio = fround(
        F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))) * 1.0 / F.size(toks), 4
    )
    bucket = F.substring(_doc_hash(), 1, 2)
    gated = m.documents.select(
        "doc_id", "lang", "text",
        n_tokens.alias("n_tokens"),
        ratio.alias("stopword_ratio"),
        bucket.alias("bucket"),
    ).filter(
        F.col("n_tokens").between(_QF_MIN_TOKENS, _QF_MAX_TOKENS)
        & (F.col("stopword_ratio") >= _QF_MIN_STOPWORD)
    )
    canonical = F.min("doc_id").over(
        W.partitionBy(F.md5(F.col("text").cast("binary")))
    )
    return (
        gated.withColumn("canonical_id", canonical)
        .filter(
            (F.col("doc_id") == F.col("canonical_id"))
            & (F.col("bucket") < _TRAIN_HI)
        )
        .select("doc_id", "lang", "n_tokens", "bucket")
    )


# ---------------------------------------------------------------------------
# Context chunking — fixed token windows with stride (training prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 32   # tokens per chunk (context window)
_CHUNK_S = 24   # stride (25% overlap keeps boundary context)


@query(
    "docs_chunk_spans",
    oracle=f"""
SELECT doc_id,
       CAST(i AS BIGINT)                               AS chunk_id,
       CAST(i * {_CHUNK_S} + 1 AS BIGINT)              AS start_tok,
       CAST(least({_CHUNK_W}, n - i * {_CHUNK_S}) AS BIGINT) AS n_tok,
       array_to_string(
         toks[i * {_CHUNK_S} + 1 : least(i * {_CHUNK_S} + {_CHUNK_W}, n)], ' '
       )                                               AS chunk_text
FROM (
  SELECT doc_id, toks, n,
         unnest(range(0, CASE WHEN n <= {_CHUNK_W} THEN 1
                              ELSE (n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S} + 1
                         END)) AS i
  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents) t
) c
""",
    views=[],
)
def docs_chunk_spans(m: Model) -> DataFrame:
    """Context chunking for training prep: each document becomes
    overlapping {32}-token windows at stride {24} (the standard
    long-document treatment before tokenization/packing); the final
    window is truncated, never padded.  Chunk count is exact integer
    math — ``1 + ceil((n-W)/S)`` via integer division — so both engines
    enumerate identical spans.

    Pure narrow transform (split → sequence → posexplode → slice): at
    100 TB this is a single scan stage, zero shuffles, and the output
    is written partition-parallel."""
    toks = F.split(F.col("text"), " ")
    n = F.size(toks).cast("long")
    nc = F.when(n <= _CHUNK_W, F.lit(1).cast("long")).otherwise(
        F.expr(f"(size(split(text, ' ')) - {_CHUNK_W} + {_CHUNK_S} - 1) DIV {_CHUNK_S}") + 1
    )
    start = F.col("i") * _CHUNK_S + 1
    ln = F.least(F.lit(_CHUNK_W).cast("long"), F.col("n") - F.col("i") * _CHUNK_S)
    return (
        m.documents.select(
            "doc_id", toks.alias("toks"), n.alias("n"),
            F.explode(F.sequence(F.lit(0).cast("long"), nc - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.col("i").alias("chunk_id"),
            start.alias("start_tok"),
            ln.alias("n_tok"),
            F.array_join(
                F.slice(F.col("toks"), start.cast("int"), ln.cast("int")), " "
            ).alias("chunk_text"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing — contiguous token bins per source
# ---------------------------------------------------------------------------

_PACK_CAP = 512  # tokens per packed training sequence


@query(
    "docs_pack_bins",
    oracle=f"""
SELECT doc_id, source,
       CAST(n_tokens AS BIGINT)              AS n_tokens,
       CAST(cum_before // {_PACK_CAP} AS BIGINT) AS bin_id,
       CAST(cum_before % {_PACK_CAP} AS BIGINT)  AS bin_offset,
       cum_before % {_PACK_CAP} + n_tokens > {_PACK_CAP} AS spills_over
FROM (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents) t
) p
""",
    views=[],
)
def docs_pack_bins(m: Model) -> DataFrame:
    """Sequence packing for training prep: documents are packed in
    doc_id order into contiguous {512}-token bins (streaming packing —
    each bin becomes one training sequence; ``spills_over`` marks docs
    that straddle a bin boundary so the consumer can wrap or pad).

    Packing is per SOURCE, not global: a global ordered prefix-sum
    would funnel the corpus through one sort partition, while the
    per-source window keys the sort on a quantity with corpus-
    proportional cardinality — the same reason the reference shards
    its work queues per table.  At 100 TB: one hash-partition shuffle
    on source (or none, if the corpus is already source-partitioned),
    then a within-partition running sum."""
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        m.documents.select("doc_id", "source", n_tokens.alias("n_tokens"))
        .withColumn("cum_before", cum)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.expr(f"cum_before DIV {_PACK_CAP}").alias("bin_id"),
            (F.col("cum_before") % _PACK_CAP).alias("bin_offset"),
            (F.col("cum_before") % _PACK_CAP + F.col("n_tokens") > _PACK_CAP).alias(
                "spills_over"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus mixture — per-source sampling rates toward target weights
# ---------------------------------------------------------------------------

#: Target mixture weight per source (higher-quality sources weighted
#: up — the Pile/LLaMA-style fixed mixture): src_i gets weight 20-i.
_MIX_WEIGHTS = {f"src{i}": 20 - i for i in range(20)}
_MIX_TOTAL = sum(_MIX_WEIGHTS.values())  # 210
_MIX_EPOCH_TOKENS = 1_000_000  # token budget per training epoch


def _mix_values_sql() -> str:
    return ",".join(f"('{s}', {w})" for s, w in sorted(_MIX_WEIGHTS.items()))


@query(
    "corpus_mixture_weights",
    oracle=f"""
SELECT d.source,
       CAST(count(*) AS BIGINT)                       AS n_docs,
       CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens,
       {fround_sql(f'CAST(any_value(w.wt) AS DOUBLE) / {_MIX_TOTAL}.0', 6)} AS target_share,
       {fround_sql(f"CAST(any_value(w.wt) AS DOUBLE) / {_MIX_TOTAL}.0 * {_MIX_EPOCH_TOKENS}.0 / sum(len(string_split(d.text, ' ')))", 6)} AS sampling_rate,
       CAST(any_value(w.wt) AS DOUBLE) / {_MIX_TOTAL}.0 * {_MIX_EPOCH_TOKENS}.0 / sum(len(string_split(d.text, ' '))) > 1.0 AS oversample
FROM documents d
JOIN (VALUES {_mix_values_sql()}) w(source, wt) ON w.source = d.source
GROUP BY d.source
""",
    views=[],
)
def corpus_mixture_weights(m: Model) -> DataFrame:
    """Data-mixture planning: per-source token inventory joined against
    the target mixture weights, yielding the sampling rate that hits
    each source's share of a {1_000_000}-token epoch (> 1 = the source
    must repeat — the oversample flag).  This is the table a mixture-
    aware sampler consumes.

    One narrow scan + a literal-map weight lookup + a 20-group
    aggregate (map-side partials): free at any scale.  The weight dim
    rides as a ``create_map`` literal, not a join — a per-call
    ``createDataFrame`` broadcast cost ~1.3 s of pure driver setup for
    a 20-row relation (measured), and the map lookup prunes sources
    missing a weight exactly like the inner join did."""
    wmap = F.create_map(
        *[F.lit(x) for kv in sorted(_MIX_WEIGHTS.items()) for x in kv]
    )
    n_tokens = F.sum(F.size(F.split(F.col("text"), " "))).cast("long")
    share = F.any_value(F.col("wt")).cast("double") / float(_MIX_TOTAL)
    rate = share * float(_MIX_EPOCH_TOKENS) / F.sum(
        F.size(F.split(F.col("text"), " "))
    )
    return (
        m.documents.withColumn("wt", F.element_at(wmap, F.col("source")))
        .filter(F.col("wt").isNotNull())
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            n_tokens.alias("n_tokens"),
            fround(share, 6).alias("target_share"),
            fround(rate, 6).alias("sampling_rate"),
            (rate > 1.0).alias("oversample"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic-only dedup (SemDeDup, Abbas et al. 2023): embedding-space
# near-duplicates that LEXICAL dedup cannot see.  The fixture keys one
# embedding per document (vec_id == doc_id, TESTDATA.md), so the two
# pair relations compose directly.

from .dedup import _JACCARD_PAIRS_SQL, ngram_jaccard_pairs  # noqa: E402
from .similarity import _NEARDUP_PAIRS_SQL, embedding_neardup_pairs  # noqa: E402


@query(
    "semantic_only_dup_pairs",
    oracle=f"""
WITH ep AS ({_NEARDUP_PAIRS_SQL}),
jp AS ({_JACCARD_PAIRS_SQL})
SELECT ep.vec_a, ep.vec_b, ep.cosine
FROM ep LEFT JOIN jp ON ep.vec_a = jp.doc_a AND ep.vec_b = jp.doc_b
WHERE jp.doc_a IS NULL
""",
    views=[],
)
def semantic_only_dup_pairs(m: Model) -> DataFrame:
    """SemDeDup-style diagnostic: embedding-cosine near-dup pairs that
    word-{5}-gram Jaccard dedup does NOT flag — paraphrase/template
    duplicates invisible to lexical fingerprints, the set a semantic
    dedup stage would remove ON TOP of MinHash/Jaccard (Abbas et al.
    2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication").

    Both inputs are already pair-sized (LSH-bucketed candidate
    generation bounds each side — never corpus²), and both emit pairs
    in canonical (low id, high id) order, so the subtraction is one
    anti-join on the pair key.  The lexical side is the smaller
    relation by construction at fixture scale but pairs-proportional in
    general, so the anti-join stays a shuffled hash join on the
    two-column key rather than assuming broadcastability."""
    ep = embedding_neardup_pairs(m)
    jp = ngram_jaccard_pairs(m).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    jp = shuffle_hash(jp, table_path(m.sf_dir, "documents"))
    return ep.join(jp, ["vec_a", "vec_b"], "left_anti")


@query(
    "semantic_dedup_survivors",
    # MATERIALIZED: ep is referenced twice below; DuckDB's default CTE
    # inlining would run the bucketed pair join twice (and the same
    # re-expansion class OOM'd the neardup_clusters oracle at sf1).
    oracle=f"""
WITH ep AS MATERIALIZED ({_NEARDUP_PAIRS_SQL})
SELECT d.doc_id, d.lang, d.source,
       a.vec_a IS NOT NULL AS kept_with_dups
FROM documents d
LEFT JOIN (SELECT DISTINCT vec_a FROM ep) a ON a.vec_a = d.doc_id
LEFT JOIN (SELECT DISTINCT vec_b FROM ep) b ON b.vec_b = d.doc_id
WHERE b.vec_b IS NULL
""",
    views=[],
)
def semantic_dedup_survivors(m: Model) -> DataFrame:
    """SemDeDup SELECTION stage (Abbas et al. 2023): the kept corpus
    after embedding-space dedup — completing the semantic family
    (``embedding_neardup_pairs`` finds the pairs,
    ``semantic_only_dup_pairs`` diagnoses the lexical-invisible
    subset, THIS emits the training corpus a semantic dedup pass
    keeps).  Survivor rule: a document survives iff it is the MINIMUM
    doc_id of every cosine-{0.35}+ pair it belongs to — the
    deterministic one-pass greedy rule (no transitive closure: a
    chain's middle links drop even when their smaller partner also
    dropped, which is SemDeDup's per-group greedy behavior, unlike
    the connected-component semantics of ``docs_neardup_survivors``).
    ``kept_with_dups`` marks survivors that headed at least one dup
    pair (the canonical-representative set).

    Scale: the pair relation is the bucket-capped LSH join (∝ N·cap,
    never corpus²); both membership relations are ≤ pairs-sized, and
    the anti/left joins key on doc_id — shuffle-hash, no sort, no
    broadcast assumption (pairs grow with the corpus)."""
    ep = embedding_neardup_pairs(m)
    dropped = ep.select(F.col("vec_b").alias("doc_id")).distinct()
    heads = (
        ep.select(F.col("vec_a").alias("doc_id"))
        .distinct()
        .withColumn("kept_with_dups", F.lit(True))
    )
    d = m.documents.select("doc_id", "lang", "source")
    docs = table_path(m.sf_dir, "documents")
    return (
        d.join(shuffle_hash(dropped, docs), "doc_id", "left_anti")
        .join(shuffle_hash(heads, docs), "doc_id", "left")
        .select(
            "doc_id", "lang", "source",
            F.coalesce("kept_with_dups", F.lit(False)).alias(
                "kept_with_dups"
            ),
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for
# Language Models via Importance Resampling"): rank raw-corpus
# documents by how target-like they are, using hashed n-gram bag-of-
# words features — the cheap proxy-free data-selection scheme.  The
# fixture's benchmark source stands in for the target distribution,
# mirroring the contamination check above.

_DSIR_BUCKETS = 1024  # hashed feature space (unigrams + bigrams)
_DSIR_KEEP = 100      # documents kept by the selection step

_DSIR_FC_SQL = f"""
SELECT doc_id, source,
       CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % {_DSIR_BUCKETS} AS b,
       count(*) AS c
FROM (
  SELECT doc_id, source, unnest(toks) AS f
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents) t1
  UNION ALL
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS f
  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents) t2
) feats
GROUP BY doc_id, source, b
"""


@query(
    "docs_dsir_weights",
    oracle=f"""
WITH fc AS ({_DSIR_FC_SQL}),
bt AS (
  SELECT b,
         sum(CASE WHEN source = '{_CONTAM_BENCH}' THEN c ELSE 0 END) AS ct,
         sum(CASE WHEN source <> '{_CONTAM_BENCH}' THEN c ELSE 0 END) AS cr
  FROM fc GROUP BY b
),
ns AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM bt),
terms AS (
  SELECT fc.doc_id, fc.c,
         CAST(fc.c * ln((CAST(bt.ct + 1 AS DOUBLE) * (ns.nr + {_DSIR_BUCKETS})) /
                        (CAST(bt.cr + 1 AS DOUBLE) * (ns.nt + {_DSIR_BUCKETS})))
              AS DECIMAL(28,12)) AS t
  FROM fc JOIN bt USING (b) CROSS JOIN ns
  WHERE fc.source <> '{_CONTAM_BENCH}'
)
SELECT doc_id, n_feats, CAST(lw6 AS DOUBLE) AS log_weight,
       ROW_NUMBER() OVER (ORDER BY lw6 DESC, doc_id) <= {_DSIR_KEEP}
         AS selected
FROM (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_feats,
         round(sum(t), 6)       AS lw6
  FROM terms
  GROUP BY doc_id
) w
""",
    views=[],
)
def docs_dsir_weights(m: Model) -> DataFrame:
    """DSIR importance weights: per raw-corpus document, the hashed
    n-gram log importance weight log(p_target/p_raw) under add-1-
    smoothed bag-of-{1024}-bucket unigram+bigram feature distributions
    (Xie et al. 2023) — the '{src0}' source plays the target corpus,
    every other source the raw pool; the top-{100} docs by weight are
    flagged ``selected`` (ties on the exact decimal weight break to
    the lower doc_id, so selection is engine-deterministic).  The
    resampling step proper adds Gumbel noise (deliberately NOT
    reproduced — the weight relation is the deterministic, certifiable
    part; a noisy sampling policy is the caller's).

    Plan: ONE whole-stage-codegen pass builds per-doc hashed feature
    counts (array-build + explode + md5 bucket, all JVM-side — the
    round-4 Arrow featurize was retired), materialized once
    (localCheckpoint) for its four consumers.  The
    bucket-distribution relation is AT MOST {1024}
    rows by construction — it broadcasts at any corpus size, so the
    per-doc side never shuffles for the join; corpus totals ride as a
    broadcast 1-row aggregate.  Float discipline as everywhere: libm
    ``ln`` over JVM-computed bit-identical double ratios, per-term
    DECIMAL(28,12) quantization, exact decimal sum, round at 6 dp."""
    B = _DSIR_BUCKETS

    # Featurize entirely in whole-stage codegen (round-4 verdict: the
    # Arrow featurize + two lazy localCheckpoints chained 3-5 driver-
    # synchronized jobs): unigrams and bigrams build as ONE array per
    # doc and explode in a map stage; the md5 bucket is the same
    # conv(substr(md5)) expression the Bloom filter uses.  The feature-
    # count aggregate's exchange is the SHARED subplan of both
    # consumers (bucket totals and per-doc weights), so Spark's
    # ReuseExchange materializes the shuffle once — no checkpoint, no
    # extra corpus pass.
    from ..functions.partitioning import spread_if_undersplit

    feats = (
        spread_if_undersplit(
            m.documents.select("doc_id", "source", "text"), "doc_id"
        )
        .select(
            "doc_id",
            (F.col("source") == _CONTAM_BENCH).alias("tgt"),
            F.split(F.col("text"), " ").alias("toks"),
        )
        .select(
            "doc_id",
            "tgt",
            F.explode(
                F.expr(
                    "concat(toks, CASE WHEN size(toks) >= 2 THEN "
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat_ws(' ', toks[i-1], toks[i])) "
                    "ELSE array() END)"
                )
            ).alias("f"),
        )
    )
    fc = (
        feats.select(
            "doc_id",
            "tgt",
            (
                F.conv(F.substring(F.md5(F.col("f")), 1, 8), 16, 10)
                .cast("bigint") % B
            ).alias("b"),
        )
        .groupBy("doc_id", "tgt", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        # four consumers (bucket totals, corpus totals, weights, top-k)
        # and the doc_id clustering means no exchange exists for
        # ReuseExchange to dedup -- materialize the doc-grain counts
        # once (narrow JVM tree, cheap analysis)
    )
    fc = stage_persist(fc)
    bt = fc.groupBy("b").agg(
        F.sum(F.when(F.col("tgt"), F.col("c")).otherwise(0)).alias("ct"),
        F.sum(F.when(~F.col("tgt"), F.col("c")).otherwise(0)).alias("cr"),
    )
    ns = bt.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))

    from ..functions.exprs import pln

    # The log ratio is a pure function of the BUCKET ({1024} rows), not
    # the (doc, bucket) row — libm-ln the bucket relation once, then
    # the per-row term c*ln(r) stays entirely JVM-side with the
    # engine-authoritative double->DECIMAL(28,12) cast (same convention
    # as the perplexity LM; previously a ~1M-row Python Decimal pass).
    num = (F.col("ct") + 1).cast("double") * (F.col("nr") + F.lit(B))
    den = (F.col("cr") + 1).cast("double") * (F.col("nt") + F.lit(B))
    btl = (
        bt.crossJoin(F.broadcast(ns))
        .select("b", pln(num / den).alias("lnr"))
    )
    term = (F.col("c").cast("double") * F.col("lnr")).cast("decimal(28,12)")
    lw = F.round(F.sum(term), 6)
    weights = (
        fc.where(~F.col("tgt"))
        .join(F.broadcast(btl), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_feats"),
            lw.alias("lw6"),
        )
        # reused by top-k AND the output join, but NOT checkpointed:
        # recomputing the doc-grain aggregate from the fc checkpoint is
        # one cheap stage, and skipping the materialization saves a
        # whole driver-synchronized job from the chain
    )
    # selection = global top-k by the EXACT decimal weight (ties to the
    # lower doc_id): orderBy().limit(k) plans a TakeOrderedAndProject
    # (bounded per-partition heaps), and the k survivors broadcast back
    # as a membership flag — no global sort, no single-partition window.
    keep = (
        weights.orderBy(F.col("lw6").desc(), "doc_id")
        .limit(_DSIR_KEEP)
        .select("doc_id", F.lit(True).alias("selected"))
    )
    return (
        weights.join(F.broadcast(keep), "doc_id", "left")
        .select(
            "doc_id",
            "n_feats",
            F.col("lw6").cast("double").alias("log_weight"),
            F.coalesce(F.col("selected"), F.lit(False)).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination screen — the constant-size variant of
# ngram_contamination.  The exact benchmark shingle set grows with the
# benchmark suite; its Bloom filter is a FIXED m-bit array regardless,
# which is what actually ships to 1000 executors when the suite is too
# big to broadcast as strings.  The filter here is deterministic
# (md5-derived bit positions, no RNG) so both engines can replay it
# bit-for-bit, and the false-positive accounting that the m/k choice
# implies is part of the output — the knob a decontamination run tunes.
# ---------------------------------------------------------------------------

_BLOOM_M = 131072  # filter bits (2^17: ~1% FP at the fixture's ~12k bench shingles)
_BLOOM_K = 3     # hash functions per shingle


@query(
    "bloom_contamination",
    oracle=f"""
WITH sh AS ({_CONTAM_SHINGLES_SQL}),
src AS (SELECT doc_id, source FROM documents),
bench AS (
  SELECT DISTINCT shingle FROM sh JOIN src USING (doc_id)
  WHERE source = '{_CONTAM_BENCH}'
),
bits AS (
  SELECT DISTINCT
         CAST(('0x' || substr(md5(shingle), 1 + 8 * i, 8))
              AS BIGINT) % {_BLOOM_M} AS p
  FROM bench CROSS JOIN range({_BLOOM_K}) r(i)
),
cand AS (
  SELECT sh.doc_id, sh.shingle FROM sh JOIN src USING (doc_id)
  WHERE source <> '{_CONTAM_BENCH}'
),
probe AS (
  SELECT cand.doc_id, cand.shingle,
         count(bits.p) = {_BLOOM_K} AS bloom_hit
  FROM cand
  CROSS JOIN range({_BLOOM_K}) r(i)
  LEFT JOIN bits
    ON CAST(('0x' || substr(md5(cand.shingle), 1 + 8 * r.i, 8))
            AS BIGINT) % {_BLOOM_M} = bits.p
  GROUP BY cand.doc_id, cand.shingle
),
exact AS (
  SELECT cand.doc_id, cand.shingle,
         bench.shingle IS NOT NULL AS exact_hit
  FROM cand LEFT JOIN bench USING (shingle)
)
SELECT probe.doc_id,
       CAST(count(*) AS BIGINT)                              AS n_shingles,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
       CAST(sum(CASE WHEN bloom_hit AND NOT exact_hit THEN 1 ELSE 0 END)
            AS BIGINT)                                       AS n_false_pos,
       sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) > 0        AS flagged
FROM probe
JOIN exact ON probe.doc_id = exact.doc_id AND probe.shingle = exact.shingle
GROUP BY probe.doc_id
""",
    views=[],
)
def bloom_contamination(m: Model) -> DataFrame:
    """Bloom-filter contamination screen: each candidate doc's distinct
    word {4}-grams probe a deterministic {131072}-bit / {3}-hash Bloom
    filter built from the benchmark shingle set; per doc the bloom hit
    count, the exact hit count, and the false positives the (m, k)
    choice cost (m is sized ~10 bits/shingle for ~1% FP; an undersized
    filter saturates and flags everything) — `flagged` docs are the set
    a second exact pass must verify.

    Why this exists next to ``ngram_contamination``: the exact shingle
    set is benchmark-proportional, the Bloom filter is CONSTANT SIZE
    ({131072} bits here; ~1.2 GB for a 1-billion-shingle suite at 1% FP) —
    at 100 TB this is the object you can always broadcast.  Bloom
    no-false-negatives means unflagged docs are provably clean, so the
    expensive exact verify runs only over the flagged sliver.

    Plan — entirely JVM-side (round-4 verdict: the Arrow probe pass was
    3.2x DuckDB; built-in md5/conv/bit expressions sit in whole-stage
    codegen instead): shingles explode in a map stage (per-doc distinct
    inside the array builder), the K bit positions derive from disjoint
    8-hex slices of ONE md5, and each position tests the filter as an
    O(1) word-index + bit-shift against the CONSTANT-SIZE bitmap
    LITERAL (m/64 longs — the object that broadcasts at any suite
    size; training the bitmap is a distributed explode+distinct whose
    collect is bounded by m, never by the suite).  No Python, no probe
    joins; the only shuffle is the final per-doc aggregate, which
    map-side-combines to doc grain.  The exact-hit column (the FP
    accounting this query certifies) broadcast-joins the bench shingle
    relation; for a suite too large for THAT broadcast the Bloom
    columns are unaffected — drop the exact join and verify flagged
    docs with the shuffled shingle join (``ngram_contamination``'s
    fallback)."""
    M, K = _BLOOM_M, _BLOOM_K

    sh_bench = _shingles_exploded(
        m.documents.where(F.col("source") == _CONTAM_BENCH)
    ).select("shingle").distinct()

    def pos(i: int, col: str = "h") -> Column:
        # disjoint 8-hex slices of one md5 digest (32 hex chars; K*8<=32)
        return (
            F.conv(F.substring(F.col(col), 1 + 8 * i, 8), 16, 10)
            .cast("bigint") % M
        )

    from ..functions.memo import model_cached

    def _train_bitmap() -> list:
        # distributed: shingle -> K positions -> distinct; the collect
        # is bounded by m bit positions regardless of suite size
        rows = (
            sh_bench.select(F.md5(F.col("shingle")).alias("h"))
            .select(
                F.explode(F.array(*[pos(i) for i in range(K)])).alias("p")
            )
            .distinct()
            .collect()
        )
        words = [0] * (M // 64)
        for r in rows:
            p = r["p"]
            words[p >> 6] |= 1 << (p & 63)
        # two's-complement fold into signed int64 for the array<long> literal
        return [w - (1 << 64) if w >= (1 << 63) else w for w in words]

    words = model_cached(m, "contam_bloom_words", _train_bitmap)
    # The bitmap travels as DATA (a one-row array<bigint> relation,
    # broadcast into a nested-loop join) rather than as an expression
    # literal: F.lit(list) builds thousands of py4j Literal objects per
    # plan build (~1.5 s of driver chatter measured) and a SQL-string
    # array literal still costs ~0.4 s of parse per build; one Arrow
    # createDataFrame row is milliseconds, and a broadcast relation is
    # the exact shape a production job ships the filter in.
    bm_rel = m.spark.createDataFrame([(words,)], "bm array<bigint>")

    def bit_test(p: Column) -> Column:
        w = F.element_at(F.col("bm"), F.shiftright(p, 6).cast("int") + 1)
        # dynamic shift amount -> SQL ShiftRight via call_function
        # (arithmetic sign-fill is masked off by the & 1)
        return (
            F.call_function("shiftright", w, (p % 64).cast("int"))
            .bitwiseAND(F.lit(1))
            == 1
        )

    from ..functions.partitioning import spread_if_undersplit

    # Probe parallelism follows the scan's split count (thousands at
    # real scale); the one-file fixture is under-split, so spread the
    # doc relation BEFORE the explode fans out.
    cand = (
        _shingles_exploded(
            spread_if_undersplit(
                m.documents.where(F.col("source") != _CONTAM_BENCH), "doc_id"
            )
        )
        .withColumn("h", F.md5(F.col("shingle")))
        .crossJoin(F.broadcast(bm_rel))
    )
    from functools import reduce as _reduce

    bloom_hit = _reduce(
        lambda a, b: a & b, [bit_test(pos(i)) for i in range(K)]
    )
    exact_hit = F.col("bs").isNotNull()
    probed = cand.join(
        F.broadcast(sh_bench.select(F.col("shingle").alias("bs"))),
        F.col("shingle") == F.col("bs"),
        "left",
    )
    return (
        probed.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(bloom_hit.cast("int")).cast("bigint").alias("n_bloom_hits"),
            F.sum(exact_hit.cast("int")).cast("bigint").alias("n_exact_hits"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            "n_exact_hits",
            (F.col("n_bloom_hits") - F.col("n_exact_hits")).alias("n_false_pos"),
            (F.col("n_bloom_hits") > 0).alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Training-set funnel: the pipeline audit trail.  training_set_assembly
# EMITS the final corpus; this emits the stage-by-stage survivor counts
# (all -> quality gate -> exact-dedup canonical -> decontaminated ->
# train split) that every data-curation run reports — the number a
# data-quality review actually reads.  Everything is computed as ONE
# plan: per-doc flags in a single pass (one scan + one content-hash
# window + the contamination probe), then one conditional aggregate
# explodes into the five stage rows.
# ---------------------------------------------------------------------------

_TSF_STAGES = ("all", "quality", "exact_dedup", "decontaminated", "train_split")


@query(
    "training_set_funnel",
    oracle=f"""
WITH sh AS ({_CONTAM_SHINGLES_SQL}),
srcv AS (SELECT doc_id, source FROM documents),
bench AS (
  SELECT DISTINCT shingle FROM sh JOIN srcv USING (doc_id)
  WHERE source = '{_CONTAM_BENCH}'
),
cont AS (
  SELECT sh.doc_id, count(*) AS ns, count(bench.shingle) AS nsh
  FROM sh JOIN srcv USING (doc_id)
  LEFT JOIN bench ON sh.shingle = bench.shingle
  WHERE srcv.source <> '{_CONTAM_BENCH}'
  GROUP BY sh.doc_id
),
flagged AS (
  SELECT d.doc_id, d.source,
         gated,
         gated AND d.doc_id = min(CASE WHEN gated THEN d.doc_id END)
                     OVER (PARTITION BY h) AS canon,
         coalesce(cont.nsh * 1.0 / cont.ns >= {_CONTAM_T}, FALSE)
           AS contaminated,
         bucket
  FROM (
    SELECT doc_id, source, md5(text) AS h,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
           len(string_split(text, ' '))
             BETWEEN {{qf_min}} AND {{qf_max}}
           AND floor((len(list_filter(string_split(text, ' '),
                                      x -> x IN ('the', 'a'))) * 1.0
                      / len(string_split(text, ' '))) * 10000.0 + 0.5)
               / 10000.0 >= {{qf_stop}} AS gated
    FROM documents
  ) d
  LEFT JOIN cont USING (doc_id)
),
counts AS (
  SELECT count(*) AS n0,
         sum(CASE WHEN gated THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN canon THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN canon AND source <> '{_CONTAM_BENCH}'
                       AND NOT contaminated THEN 1 ELSE 0 END) AS n3,
         sum(CASE WHEN canon AND source <> '{_CONTAM_BENCH}'
                       AND NOT contaminated
                       AND bucket < '{_TRAIN_HI}' THEN 1 ELSE 0 END) AS n4
  FROM flagged
)
SELECT step_order, stage, n_docs, frac_of_prev, frac_of_initial
FROM (
  SELECT 0 AS step_order, '{_TSF_STAGES[0]}' AS stage,
         CAST(n0 AS BIGINT) AS n_docs,
         CAST(1.0 AS DOUBLE) AS frac_of_prev,
         CAST(1.0 AS DOUBLE) AS frac_of_initial FROM counts
  UNION ALL SELECT 1, '{_TSF_STAGES[1]}', CAST(n1 AS BIGINT),
         {fround_sql('CAST(n1 AS DOUBLE) / n0', 6)},
         {fround_sql('CAST(n1 AS DOUBLE) / n0', 6)} FROM counts
  UNION ALL SELECT 2, '{_TSF_STAGES[2]}', CAST(n2 AS BIGINT),
         {fround_sql('CAST(n2 AS DOUBLE) / n1', 6)},
         {fround_sql('CAST(n2 AS DOUBLE) / n0', 6)} FROM counts
  UNION ALL SELECT 3, '{_TSF_STAGES[3]}', CAST(n3 AS BIGINT),
         {fround_sql('CAST(n3 AS DOUBLE) / n2', 6)},
         {fround_sql('CAST(n3 AS DOUBLE) / n0', 6)} FROM counts
  UNION ALL SELECT 4, '{_TSF_STAGES[4]}', CAST(n4 AS BIGINT),
         {fround_sql('CAST(n4 AS DOUBLE) / n3', 6)},
         {fround_sql('CAST(n4 AS DOUBLE) / n0', 6)} FROM counts
) f
""".replace("{qf_min}", str(_QF_MIN_TOKENS))
   .replace("{qf_max}", str(_QF_MAX_TOKENS))
   .replace("{qf_stop}", str(_QF_MIN_STOPWORD)),
    views=[],
)
def training_set_funnel(m: Model) -> DataFrame:
    """Pipeline audit funnel: documents surviving each curation stage —
    all → quality gate → exact-dedup canonical → decontaminated (drops
    benchmark-source docs AND docs whose shingle overlap with the
    benchmark is ≥ {0.5}) → train-split members — with attrition
    fractions per stage and cumulative.

    The whole funnel is ONE plan over ONE corpus scan: per-doc flags
    computed side by side (the canonical flag is a conditional window
    ``min(CASE WHEN gated THEN doc_id END) OVER (PARTITION BY
    md5(text))`` — dedup-among-survivors without a second pass; the
    contamination flag rides the same broadcast-probe Arrow pass as
    ``ngram_contamination``), then one conditional aggregate explodes
    into the five stage rows.  Contrast with ``events_funnel``, whose
    stages need sequential per-key joins: curation stages are per-doc
    predicates, so the funnel collapses to conditional counting — the
    cheapest possible audit at 100 TB (one shuffle, on the dedup
    hash)."""
    import pandas as pd

    shingles_of = _contam_shingles_of
    bench_set = _bench_shingle_set(m)

    @F.pandas_udf("boolean")
    def contaminated(texts: pd.Series) -> pd.Series:
        out = []
        for text in texts:
            seen = shingles_of(text)
            if not seen:
                out.append(False)
                continue
            hits = sum(1 for s in seen if s in bench_set)
            out.append(hits * 1.0 / len(seen) >= _CONTAM_T)
        return pd.Series(out)

    toks = F.split(F.col("text"), " ")
    ratio = fround(
        F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))) * 1.0
        / F.size(toks),
        4,
    )
    gated = (
        F.size(toks).between(_QF_MIN_TOKENS, _QF_MAX_TOKENS)
        & (ratio >= _QF_MIN_STOPWORD)
    )
    from pyspark.sql.window import Window as W

    canon = F.col("gated") & (
        F.col("doc_id")
        == F.min(F.when(F.col("gated"), F.col("doc_id"))).over(
            W.partitionBy("h")
        )
    )
    flagged = (
        m.documents.select(
            "doc_id",
            "source",
            F.md5(F.col("text").cast("binary")).alias("h"),
            F.substring(_doc_hash(), 1, 2).alias("bucket"),
            gated.alias("gated"),
            F.when(
                F.col("source") != _CONTAM_BENCH, contaminated(F.col("text"))
            ).otherwise(F.lit(False)).alias("contaminated"),
        )
        .withColumn("canon", canon)
    )
    clean = (
        F.col("canon")
        & (F.col("source") != _CONTAM_BENCH)
        & ~F.col("contaminated")
    )
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    counts = flagged.agg(
        F.count(F.lit(1)).alias("n0"),
        cnt(F.col("gated")).alias("n1"),
        cnt(F.col("canon")).alias("n2"),
        cnt(clean).alias("n3"),
        cnt(clean & (F.col("bucket") < _TRAIN_HI)).alias("n4"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    stages = F.array(
        F.struct(
            F.lit(0).alias("step_order"),
            F.lit(_TSF_STAGES[0]).alias("stage"),
            F.col("n0").cast("bigint").alias("n_docs"),
            F.lit(1.0).alias("frac_of_prev"),
            F.lit(1.0).alias("frac_of_initial"),
        ),
        F.struct(
            F.lit(1).alias("step_order"),
            F.lit(_TSF_STAGES[1]).alias("stage"),
            F.col("n1").cast("bigint").alias("n_docs"),
            fround(d("n1") / d("n0"), 6).alias("frac_of_prev"),
            fround(d("n1") / d("n0"), 6).alias("frac_of_initial"),
        ),
        F.struct(
            F.lit(2).alias("step_order"),
            F.lit(_TSF_STAGES[2]).alias("stage"),
            F.col("n2").cast("bigint").alias("n_docs"),
            fround(d("n2") / d("n1"), 6).alias("frac_of_prev"),
            fround(d("n2") / d("n0"), 6).alias("frac_of_initial"),
        ),
        F.struct(
            F.lit(3).alias("step_order"),
            F.lit(_TSF_STAGES[3]).alias("stage"),
            F.col("n3").cast("bigint").alias("n_docs"),
            fround(d("n3") / d("n2"), 6).alias("frac_of_prev"),
            fround(d("n3") / d("n0"), 6).alias("frac_of_initial"),
        ),
        F.struct(
            F.lit(4).alias("step_order"),
            F.lit(_TSF_STAGES[4]).alias("stage"),
            F.col("n4").cast("bigint").alias("n_docs"),
            fround(d("n4") / d("n3"), 6).alias("frac_of_prev"),
            fround(d("n4") / d("n0"), 6).alias("frac_of_initial"),
        ),
    )
    return counts.select(F.explode(stages).alias("s")).select("s.*")


# ---------------------------------------------------------------------------
# Weighted sampling without RNG — distributed weighted reservoir
# (Efraimidis–Spirakis 2006): each doc draws u ~ U(0,1) and ranks by
# u^(1/w); the top-k ARE a weighted-without-replacement sample.  The
# "random" u derives from md5(doc_id), so the sample is reproducible
# across runs, engines, and shard layouts (the same determinism
# contract as docs_split_assign) and certifiable.  Ranking uses
# ln(u)/w (monotone in u^(1/w)) — libm ln over bit-identical doubles.
# ---------------------------------------------------------------------------

_WSAMPLE_K = 100  # docs kept


@query(
    "docs_weighted_sample",
    oracle=f"""
WITH scored AS (
  SELECT doc_id,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS weight,
         ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) + 1.0) / 4294967297.0)
           / length(string_split(text, ' ')) AS key
  FROM documents
)
SELECT doc_id, weight,
       {fround_sql('key', 6)} AS sample_key,
       CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rank
FROM (SELECT * FROM scored ORDER BY key DESC, doc_id LIMIT {_WSAMPLE_K}) s
""",
    views=[],
)
def docs_weighted_sample(m: Model) -> DataFrame:
    """Deterministic weighted sample: top-{100} docs by the
    Efraimidis–Spirakis key u^(1/w) with w = token count and
    u = md5(doc_id)-derived uniform — longer docs are proportionally
    likelier, yet membership is a pure function of the ids (rerunnable
    across engines and shard layouts; swap w for a quality score to
    get quality-weighted subcorpus selection).

    Plan: one narrow map computes the key (ranking uses ln(u)/w —
    monotone in u^(1/w), libm ln of the bit-identical JVM-computed
    double ratio), then ``TakeOrderedAndProject`` top-k — bounded
    per-partition heaps, no global sort; the rank window touches k
    rows."""
    from ..functions.exprs import pln

    toks = F.split(F.col("text"), " ")
    w = F.size(toks).cast("bigint")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 8),
            16,
            10,
        ).cast("bigint")
        + F.lit(1.0)
    ) / F.lit(4294967297.0)
    scored = m.documents.select(
        "doc_id",
        w.alias("weight"),
        (pln(u) / w.cast("double")).alias("key"),
    )
    top = scored.orderBy(F.desc("key"), "doc_id").limit(_WSAMPLE_K)
    rank = F.row_number().over(Window.orderBy(F.desc("key"), "doc_id"))
    return top.select(
        "doc_id",
        "weight",
        fround(F.col("key"), 6).alias("sample_key"),
        rank.cast("bigint").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Token-budget selection — the LAST act of curation: given a token
# budget, keep the best-scoring documents that fit.  The oracle is the
# naive global ordered running sum; the Spark plan is the SCALE-SAFE
# two-phase form — a global ordered cumsum over 100 TB of docs is a
# single-partition window, so instead (1) scores histogram into
# {1024} buckets whose tiny running sum locates the threshold bucket,
# and (2) only the ONE boundary bucket needs an ordered within-bucket
# cumsum (expected corpus/{1024} rows); everything above is selected
# wholesale.  Selections are identical by construction: bucketing is
# order-compatible with the global (score desc, doc_id) order.
# ---------------------------------------------------------------------------

_BUDGET_FRACTION = "0.25"  # budget = floor(fraction * total corpus tokens)
_BUDGET_BUCKETS = 1024


@query(
    "docs_budget_selection",
    oracle=f"""
WITH s AS (
  SELECT doc_id, word, count(*) AS c
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents) w
  GROUP BY doc_id, word
),
sc AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) * 1.0 / sum(c) AS score
  FROM s GROUP BY doc_id
),
b AS (SELECT CAST(floor({_BUDGET_FRACTION} * sum(n_tokens)) AS BIGINT)
        AS budget FROM sc),
r AS (
  SELECT doc_id, n_tokens, score,
         sum(n_tokens) OVER (ORDER BY score DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM sc
)
SELECT r.doc_id, r.n_tokens,
       {fround_sql('r.score', 6)} AS score,
       CAST(r.cum AS BIGINT) AS cum_tokens
FROM r CROSS JOIN b
WHERE r.cum <= b.budget
""",
    views=[],
)
def docs_budget_selection(m: Model) -> DataFrame:
    """Budgeted corpus selection: keep the highest-scoring docs (score
    = distinct-word ratio, the Gopher repetition signal — swap in any
    per-doc quality score) whose cumulative token count fits within
    {0.25} of the corpus' total tokens; emits each kept doc with its
    global cumulative position.

    Scale plan (the oracle is the naive single-partition running sum —
    correct but unshardable): scores histogram into {1024} buckets;
    the bucket-grain running sum (a window over {1024} rows) finds the
    boundary bucket; buckets strictly above it are selected WHOLESALE
    with their cumulative offsets derived from the bucket prefix sums,
    and only the boundary bucket runs an ordered within-bucket cumsum
    (expected corpus/{1024} rows in one partition).  All token math is
    exact integers, so the two-phase selection equals the naive
    oracle's row-for-row."""
    B = _BUDGET_BUCKETS
    wc = (
        m.documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sc = (
        wc.groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            (F.count(F.lit(1)) * 1.0 / F.sum("c")).alias("score"),
        )
        # bucket index: score in [0, 1] -> floor(score * B), order-
        # compatible with (score desc) since the map is monotone
        .withColumn(
            "bkt", F.floor(F.col("score") * B).cast("int")
        )
    )
    sc = stage_persist(sc)  # feeds histogram AND selection
    budget_rel = F.broadcast(
        sc.agg(
            F.floor(F.lit(float(_BUDGET_FRACTION)) * F.sum("n_tokens"))
            .cast("bigint")
            .alias("budget")
        )
    )
    hist = sc.groupBy("bkt").agg(F.sum("n_tokens").alias("btok"))
    wb = Window.orderBy(F.desc("bkt")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # prefix = tokens in strictly-higher buckets ({1024}-row window)
    pref = hist.select(
        "bkt",
        "btok",
        F.coalesce(F.sum("btok").over(wb), F.lit(0)).alias("prefix"),
    ).crossJoin(budget_rel)
    # boundary bucket: the highest bucket whose prefix+btok overflows;
    # buckets above it fit wholesale, buckets below are fully out
    marked = F.broadcast(
        pref.select(
            "bkt",
            "prefix",
            (F.col("prefix") + F.col("btok") <= F.col("budget")).alias("whole"),
            (F.col("prefix") < F.col("budget")).alias("touched"),
            "budget",
        ).where(F.col("touched"))
    )
    joined = sc.join(marked, "bkt")
    wdoc = Window.partitionBy("bkt").orderBy(
        F.desc("score"), F.asc("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = F.col("prefix") + F.sum("n_tokens").over(wdoc)
    return (
        joined.withColumn("cum", cum)
        .where(F.col("whole") | (F.col("cum") <= F.col("budget")))
        .select(
            "doc_id",
            "n_tokens",
            fround(F.col("score"), 6).alias("score"),
            F.col("cum").cast("bigint").alias("cum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-scaled mixture — the alpha-sampling knob (Raffel et al.
# 2020 §3.4.1 / multilingual-BERT exponential smoothing): natural
# per-source token shares p_i are flattened to q_i = p_i^a / sum p_j^a
# so low-resource sources are up-sampled without letting any source
# dominate.  Complements corpus_mixture_weights (explicit targets)
# with the derived-from-inventory policy.
# ---------------------------------------------------------------------------

_TEMP_ALPHA = 0.3


@query(
    "corpus_temperature_mixture",
    oracle=f"""
WITH src AS (
  SELECT source,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY source
),
tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t FROM src),
a AS (
  SELECT source, n_tokens,
         n_tokens * 1.0 / t AS p,
         CAST({fround_sql(f'exp({_TEMP_ALPHA} * ln(n_tokens * 1.0 / t))', 8)}
              AS DECIMAL(18,8)) AS ap
  FROM src, tot
),
s AS (SELECT sum(ap) AS sap FROM a)
SELECT source, n_tokens,
       {fround_sql('p', 6)} AS natural_share,
       {fround_sql('CAST(ap AS DOUBLE) / CAST(sap AS DOUBLE)', 6)} AS temp_share,
       {fround_sql('(CAST(ap AS DOUBLE) / CAST(sap AS DOUBLE)) / p', 4)} AS boost
FROM a, s
""",
    views=[],
)
def corpus_temperature_mixture(m: Model) -> DataFrame:
    """Temperature-scaled sampling shares (alpha = {0.3}): each source's
    natural token share p is flattened to p^a / sum(p^a) — the
    standard low-resource up-sampling policy — with the boost factor
    (q/p > 1 means the source samples above its natural rate).

    p^a computes as exp(a*ln p) through the libm UDFs in BOTH engines
    (JVM pow differs from libm in the last ulp), each term quantizes
    to DECIMAL(18,8) before the normalizing sum (order-independent),
    and the per-source inventory is one map-side-combined groupBy —
    the two 1-row scalar relations (total tokens, normalizer) ride as
    broadcast cross joins."""
    from ..functions.exprs import pexp, pln

    # NULL texts are excluded on BOTH sides: an all-NULL source would
    # give a NULL token sum whose ln flows NaN through the pandas libm
    # UDF and floor(NaN)=0 on the Spark side, while the oracle keeps
    # NULL — the one place the engines would disagree.
    src = (
        m.documents.where(F.col("text").isNotNull())
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    src = stage_persist(src)  # feeds tot and the share relation
    tot = src.agg(F.sum("n_tokens").cast("bigint").alias("t"))
    a = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        (F.col("n_tokens") * 1.0 / F.col("t")).alias("p"),
        fround(pexp(_TEMP_ALPHA * pln(F.col("n_tokens") * 1.0 / F.col("t"))), 8)
        .cast("decimal(18,8)")
        .alias("ap"),
    )
    a = stage_persist(a)  # feeds the normalizer and the output
    s = a.agg(F.sum("ap").alias("sap"))
    q = F.col("ap").cast("double") / F.col("sap").cast("double")
    return a.crossJoin(F.broadcast(s)).select(
        "source",
        "n_tokens",
        fround(F.col("p"), 6).alias("natural_share"),
        fround(q, 6).alias("temp_share"),
        fround(q / F.col("p"), 4).alias("boost"),
    )


# ---------------------------------------------------------------------------
# Crawl-to-crawl corpus diff: the churn dashboard a curation team
# watches between snapshot N and N+1 (the corpus-grain analog of the
# reference's topology set-difference, core/SnapshotsDiff.java-style
# J3/SET2 shapes).  The fixture carries ONE snapshot, so the two
# versions are derived deterministically from the doc-id hash (the
# docs_split_assign convention): first hex digit '0' = added in new,
# '1' = removed from new, '2' = content changed, else unchanged —
# fixture plumbing only; the OPERATOR below is the general full-outer
# hash-compare diff of any two document relations.
# ---------------------------------------------------------------------------


@query(
    "corpus_version_diff",
    oracle="""
WITH g AS (
  SELECT doc_id, source, text,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS gd
  FROM documents
),
old AS (
  SELECT doc_id, source, md5(text) AS h FROM g WHERE gd <> '0'
),
new AS (
  SELECT doc_id, source,
         md5(CASE WHEN gd = '2'
                  THEN substr(text, 1, greatest(length(text) - 7, 1))
                  ELSE text END) AS h
  FROM g WHERE gd <> '1'
),
d AS (
  SELECT coalesce(o.source, n.source) AS source,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.h <> n.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
)
SELECT source,
       CAST(count(*) FILTER (WHERE status = 'added') AS BIGINT)     AS n_added,
       CAST(count(*) FILTER (WHERE status = 'removed') AS BIGINT)   AS n_removed,
       CAST(count(*) FILTER (WHERE status = 'changed') AS BIGINT)   AS n_changed,
       CAST(count(*) FILTER (WHERE status = 'unchanged') AS BIGINT) AS n_unchanged,
       floor((count(*) FILTER (WHERE status <> 'unchanged') * 1.0e0
              / NULLIF(count(*) FILTER (WHERE status <> 'added'), 0))
             * 1000000.0 + 0.5) / 1000000.0 AS churn_vs_old
FROM d
GROUP BY source
""",
    views=[],
)
def corpus_version_diff(m: Model) -> DataFrame:
    """Snapshot-to-snapshot corpus churn per source: documents added,
    removed, content-changed, and unchanged between the derived old/new
    corpus versions, plus churn relative to the old snapshot — the
    crawl-ops view that decides whether a refresh is worth reprocessing
    (and the input to incremental dedup/novelty runs).

    The operator is the general two-snapshot diff: each side reduces to
    (doc_id, source, content_hash) — a narrow scan — and ONE full outer
    join on doc_id classifies every document; the per-source rollup is a
    single map-side-combined shuffle.  Hashes are compared, never texts,
    so the join rows stay fixed-width at 100 TB; the doc_id-keyed join
    is the same co-partitionable shape as the write-path upsert."""
    g = _doc_hash().substr(1, 1)
    docs = m.documents.select("doc_id", "source", "text", g.alias("gd"))
    old = docs.where(F.col("gd") != "0").select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.md5(F.col("text").cast("binary")).alias("h_old"),
    )
    new_text = F.when(
        F.col("gd") == "2",
        F.substring(F.col("text"), 1, F.greatest(F.length("text") - 7, F.lit(1))),
    ).otherwise(F.col("text"))
    new = docs.where(F.col("gd") != "1").select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_source"),
        F.md5(new_text.cast("binary")).alias("h_new"),
    )
    d = old.join(new, old["o_id"] == new["n_id"], "full_outer").select(
        F.coalesce("o_source", "n_source").alias("source"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    st = F.col("status")
    n_not_new = F.count(F.when(st != "added", 1))
    return d.groupBy("source").agg(
        F.count(F.when(st == "added", 1)).cast("bigint").alias("n_added"),
        F.count(F.when(st == "removed", 1)).cast("bigint").alias("n_removed"),
        F.count(F.when(st == "changed", 1)).cast("bigint").alias("n_changed"),
        F.count(F.when(st == "unchanged", 1)).cast("bigint").alias("n_unchanged"),
        fround(
            F.count(F.when(st != "unchanged", 1))
            * F.lit(1.0)
            / F.nullif(n_not_new, F.lit(0)),
            6,
        ).alias("churn_vs_old"),
    )


# ---------------------------------------------------------------------------
# Table profiling — the ANALYZE-style per-column summary (row count,
# nulls, exact distinct, min/max) a curation team runs before trusting
# a new corpus drop; the data-quality twin of the reference's analyzer
# histograms (analyzer/TableAnalyzer.java's per-table scans).
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


@query(
    "docs_table_profile",
    oracle="WITH a AS (\n  SELECT CAST(count(*) AS BIGINT) AS n_rows,\n"
    + ",\n".join(
        f"    CAST(count(*) - count({c}) AS BIGINT) AS nn_{c},\n"
        f"    CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c},\n"
        f"    CAST(min({c}) AS VARCHAR) AS mn_{c},\n"
        f"    CAST(max({c}) AS VARCHAR) AS mx_{c}"
        for c in _PROFILE_COLS
    )
    + "\n  FROM documents\n)\n"
    + "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, n_rows, nn_{c} AS n_nulls,"
        f" nd_{c} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value FROM a"
        for c in _PROFILE_COLS
    ),
    views=[],
)
def docs_table_profile(m: Model) -> DataFrame:
    """Per-column profile of the documents table: row count, null
    count, EXACT distinct count, and min/max (rendered as strings so one
    relation covers every column type) — the trust-but-verify summary
    run on each new corpus drop before it enters the pipeline.

    One corpus scan computes every metric in a single aggregate row
    (Catalyst plans the multi-distinct via Expand — one pass, no
    per-column rescans); the per-column rows are then five projections
    of that 1-row relation.  At 100 TB swap the exact distincts for the
    certified HLL sketch (events_hll_cardinality's registers) — same
    output contract, one ordinary aggregate instead of the Expand
    blow-up; the exact form here IS the oracle for that swap."""
    aggs = [F.expr("CAST(count(1) AS BIGINT) AS n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.expr(f"CAST(count(1) - count({c}) AS BIGINT) AS nn_{c}"),
            F.expr(f"CAST(count(DISTINCT {c}) AS BIGINT) AS nd_{c}"),
            F.expr(f"CAST(min({c}) AS STRING) AS mn_{c}"),
            F.expr(f"CAST(max({c}) AS STRING) AS mx_{c}"),
        ]
    # ONE corpus scan, ONE consumer: the five per-column rows are a
    # single inline-explode projection of the 1-row aggregate (the old
    # five-branch unionAll re-planned — and without its stage_persist,
    # re-scanned — the aggregate per branch; the explode needs neither
    # the persist nor the union, round-11).
    rows = ", ".join(
        f"struct('{c}' AS column_name, n_rows, nn_{c} AS n_nulls,"
        f" nd_{c} AS n_distinct, mn_{c} AS min_value, mx_{c} AS max_value)"
        for c in _PROFILE_COLS
    )
    return (
        m.documents.agg(*aggs)
        .selectExpr(f"inline(array({rows}))")
    )


# ---------------------------------------------------------------------------
# Table profile, sketch edition — the 100 TB shape the exact profile's
# docstring promises: HLL register distincts instead of the
# multi-count_distinct Expand, with the exact count kept as the
# certificate branch (drop it in production and the distinct state is
# n_cols x 256 registers regardless of corpus size).
# ---------------------------------------------------------------------------


def _profile_keyed_sql() -> str:
    """Per-column (event_type, k) keyed relation over documents — the
    profile analog of the HLL sketch's (type, daily-key) relation."""
    return "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS event_type,"
        f" md5('{c}:' || CAST({c} AS VARCHAR)) AS k"
        f" FROM documents WHERE {c} IS NOT NULL"
        for c in _PROFILE_COLS
    )


def _profile_sketch_oracle() -> str:
    from ..operators.sketches import _KEY_SQL, HLL_ORACLE

    hll = HLL_ORACLE.replace(
        f"SELECT event_type, {_KEY_SQL} AS k FROM events",
        _profile_keyed_sql(),
    )
    stats = (
        "SELECT CAST(count(*) AS BIGINT) AS n_rows,\n"
        + ",\n".join(
            f"    CAST(count(*) - count({c}) AS BIGINT) AS nn_{c},\n"
            f"    CAST(min({c}) AS VARCHAR) AS mn_{c},\n"
            f"    CAST(max({c}) AS VARCHAR) AS mx_{c}"
            for c in _PROFILE_COLS
        )
        + "\n  FROM documents"
    )
    cols = "\n  UNION ALL\n  ".join(
        f"SELECT '{c}' AS column_name, n_rows, nn_{c} AS n_nulls,"
        f" mn_{c} AS min_value, mx_{c} AS max_value FROM a"
        for c in _PROFILE_COLS
    )
    return f"""
WITH hll AS ({hll}),
a AS (
  {stats}
),
cols AS (
  {cols}
)
SELECT cols.column_name, cols.n_rows, cols.n_nulls,
       CAST(hll.n_exact AS BIGINT) AS n_distinct,
       hll.hll_estimate, hll.rel_err,
       cols.min_value, cols.max_value
FROM cols JOIN hll ON hll.event_type = cols.column_name
"""


@query("docs_table_profile_sketch", oracle=_profile_sketch_oracle(), views=[])
def docs_table_profile_sketch(m: Model) -> DataFrame:
    """Per-column profile of the documents table with SKETCHED distinct
    counts: row count, null count, the deterministic 256-register HLL
    estimate (the certified ``events_hll_cardinality`` registers,
    re-keyed per column) beside the exact distinct as its certificate,
    and min/max — the shape ``docs_table_profile`` promises for 100 TB,
    itself hash-gated.

    Plan: ONE corpus scan explodes each row into its (column, key)
    pairs; the only data-proportional shuffle is the distinct over that
    relation, after which state is n_cols x 256 registers no matter the
    corpus size (drop the exact certificate branch in production and
    nothing event-proportional remains after the distinct).  The exact
    null/min/max metrics ride a separate single-row aggregate with NO
    count_distinct, so the Expand blow-up of the exact profile never
    happens here."""
    from ..operators.sketches import hll_finalize, hll_rho_cols

    docs = m.documents
    # the sketch KEY is md5('<col>:<value>') — both engines then hash
    # the 32-hex digest again for registers (double-md5, identical on
    # both sides), and the distinct shuffle carries 32-byte digests
    # instead of full document texts (measured 1.6 s -> sub-second; the
    # "exact" certificate is exact-distinct-of-md5, collision odds
    # ~n^2/2^128)
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("event_type"),
                F.md5(
                    F.concat(
                        F.lit(f"{c}:"), F.col(c).cast("string")
                    ).cast("binary")
                ).alias("k"),
            )
            for c in _PROFILE_COLS
        ]
    )
    ev = (
        docs.select(F.explode(pairs).alias("p"))
        .select("p.event_type", "p.k")
        .where(F.col("k").isNotNull())
    )
    dk = hll_rho_cols(ev).distinct()  # ONE shuffle feeds both branches
    reg = dk.groupBy("event_type", "b").agg(F.max("rho").alias("mr"))
    exact = dk.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_exact"))
    est = hll_finalize(reg, exact)
    aggs = [F.expr("CAST(count(1) AS BIGINT) AS n_rows")]
    for c in _PROFILE_COLS:
        aggs += [
            F.expr(f"CAST(count(1) - count({c}) AS BIGINT) AS nn_{c}"),
            F.expr(f"CAST(min({c}) AS STRING) AS mn_{c}"),
            F.expr(f"CAST(max({c}) AS STRING) AS mx_{c}"),
        ]
    # single inline-explode projection of the 1-row stats aggregate —
    # no stage_persist, no five-branch union (see docs_table_profile)
    rows = ", ".join(
        f"struct('{c}' AS column_name, n_rows, nn_{c} AS n_nulls,"
        f" mn_{c} AS min_value, mx_{c} AS max_value)"
        for c in _PROFILE_COLS
    )
    cols = docs.agg(*aggs).selectExpr(f"inline(array({rows}))")
    return cols.join(
        F.broadcast(est), cols["column_name"] == est["event_type"]
    ).select(
        "column_name",
        "n_rows",
        "n_nulls",
        F.col("n_exact").cast("bigint").alias("n_distinct"),
        "hll_estimate",
        "rel_err",
        "min_value",
        "max_value",
    )


# ---------------------------------------------------------------------------
# Curriculum ordering — the length-banded training order (easy → hard)
# with a deterministic within-band shuffle: curriculum learning's data
# layout, composed from two certified idioms (the two-pass scalar
# percentile thresholds and the md5 data-loader shuffle).
# ---------------------------------------------------------------------------

_CURRICULUM_KEY_SQL = "md5('c:' || CAST(doc_id AS VARCHAR))"


@query(
    "docs_curriculum_order",
    oracle=f"""
WITH th AS (
  SELECT quantile_cont(length(text), 0.25) AS q1,
         quantile_cont(length(text), 0.50) AS q2,
         quantile_cont(length(text), 0.75) AS q3
  FROM documents
),
banded AS (
  SELECT doc_id,
         CASE WHEN length(text) <= q1 THEN 1
              WHEN length(text) <= q2 THEN 2
              WHEN length(text) <= q3 THEN 3
              ELSE 4 END AS band,
         {_CURRICULUM_KEY_SQL} AS h,
         CAST(CAST(('0x' || substr({_CURRICULUM_KEY_SQL}, 1, 12)) AS BIGINT)
              % {_SHUFFLE_SHARDS} AS INTEGER) AS shard
  FROM documents CROSS JOIN th
)
SELECT doc_id, CAST(band AS BIGINT) AS band, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY band, shard ORDER BY h, doc_id)
            AS BIGINT) AS position
FROM banded
""",
    views=[],
)
def docs_curriculum_order(m: Model) -> DataFrame:
    """Curriculum training order: documents banded easy→hard by global
    char-length quartile (the standard length-as-difficulty proxy —
    swap in any certified quality score under the same contract), with
    a deterministic md5 shuffle within each band — a trainer consumes
    band 1's shards, then band 2's, each internally pseudo-randomly
    ordered and reproducible from ids alone.

    Scale shape: pass 1 computes the three quartiles as a broadcast
    1-row relation (percentile_approx at 100 TB, same plan); the band
    and shard keys are then narrow per-row derivations, and the ONE
    shuffle is the (band, shard) hash exchange the per-shard
    ``row_number`` needs — per-partition external sort, no global sort,
    exactly the ``docs_epoch_shuffle`` discipline."""
    th = m.documents.agg(
        F.expr("percentile(length(text), 0.25)").alias("q1"),
        F.expr("percentile(length(text), 0.50)").alias("q2"),
        F.expr("percentile(length(text), 0.75)").alias("q3"),
    )
    ln = F.length("text")
    band = (
        F.when(ln <= F.col("q1"), 1)
        .when(ln <= F.col("q2"), 2)
        .when(ln <= F.col("q3"), 3)
        .otherwise(4)
    )
    h = F.md5(
        F.concat(F.lit("c:"), F.col("doc_id").cast("string")).cast("binary")
    )
    banded = (
        m.documents.crossJoin(F.broadcast(th))
        .select(
            "doc_id",
            band.cast("bigint").alias("band"),
            h.alias("h"),
        )
        .withColumn(
            "shard",
            F.pmod(
                F.conv(F.substring(F.col("h"), 1, 12), 16, 10).cast("bigint"),
                F.lit(_SHUFFLE_SHARDS),
            ).cast("int"),
        )
    )
    pos = F.row_number().over(
        Window.partitionBy("band", "shard").orderBy("h", "doc_id")
    )
    return banded.select(
        "doc_id", "band", "shard", pos.cast("bigint").alias("position")
    )
