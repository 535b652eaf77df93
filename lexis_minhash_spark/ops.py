"""DataFrame stage builders + Arrow pandas-UDF wrappers around kernels.py.

The reference's LSHIndex (index.cr) becomes plain DataFrames:
  signatures(doc_id, sig_arr: array<int>, bands: array<long>, is_zero,
             n_shingles)
  bands(doc_id, band_idx: int, band_hash: long)       -- posexplode
``sig_arr`` is the one signature column: the uint32 signature reinterpreted
as signed int32 (equality-safe, so verify, scoring and the slot dump stay
codegen'd SQL).  The little-endian blob the reference serializes
(serialize.cr) is derived only at that boundary, kernels.signature_to_bytes.
The index's operations become joins/aggregations (SURVEY.md §2.3).

Scale notes (100 TB design point):
- signature computation is one Arrow round-trip per batch; all hashing is
  blocked NumPy (kernels.minhash_batch) — no per-row Python
- zero signatures are quarantined BEFORE banding: every gated-out doc shares
  the identical band hashes, which would create the worst possible skew in
  candidate generation (engine/signature.cr:13-16 + engine.cr:443-456)
- hot buckets are capped (quarantined + surfaced in metrics) and AQE skew
  join handles the residual tail
- candidate pair dedup happens BEFORE the similarity verify join (the
  reference's `checked` set, index.cr:197-206 — partial-agg-before-join)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark.functions.similarity import sig_similarity_expr

SIGNATURE_STRUCT = StructType(
    [
        StructField("sig_arr", ArrayType(IntegerType(), False), False),
        StructField("bands", ArrayType(LongType(), False), False),
        StructField("is_zero", BooleanType(), False),
        StructField("n_shingles", IntegerType(), False),
    ]
)


def _compute_batch(
    texts: pd.Series,
    cfg: EngineConfig,
    weights_hashed: dict[int, float] | None = None,
) -> pd.DataFrame:
    """Kernel driver for one Arrow batch: normalize → gates → shingle →
    minhash → bands. Returns one row per input text."""
    a, b = cfg.coefficients
    s = cfg.signature_size
    raw = texts.fillna("").astype(str)
    norm = raw.str.lower().str.strip()
    if cfg.stop_words:
        # spec'd configurable stop words: drop stopword tokens before the
        # gates and shingling (openspec/specs/configurable-engine/spec.md)
        sw = set(cfg.stop_words)
        norm = norm.map(lambda s: " ".join(t for t in s.split(" ") if t not in sw))
    # gates, vectorized (engine/signature.cr:13-16)
    nonempty = norm.str.len() > 0
    word_ok = (norm.str.count(r"\s+") + 1) >= cfg.min_words
    len_ok = norm.str.len() >= cfg.shingle_size
    ok = (nonempty & word_ok & len_ok).to_numpy()

    n = len(norm)
    sig_mat = np.zeros((n, s), dtype=np.uint32)
    counts_full = np.zeros(n, dtype=np.int64)
    ok_idx = np.nonzero(ok)[0]
    if ok_idx.size:
        ok_texts = [norm.iat[i] for i in ok_idx]
        hc, counts = K.batch_shingle_hashes(ok_texts, cfg.shingle_size)
        if weights_hashed is not None:
            keys = np.array(sorted(weights_hashed), dtype=np.uint64)
            vals = np.array([weights_hashed[int(k)] for k in keys], dtype=np.float64)
            pos = np.searchsorted(keys, hc)
            pos_c = np.clip(pos, 0, max(keys.size - 1, 0))
            hit = (pos < keys.size) & (keys[pos_c] == hc) if keys.size else np.zeros(hc.shape, bool)
            w = np.where(hit, vals[pos_c] if keys.size else 0.0, cfg.default_weight)
            sigs = K.minhash_batch(hc, counts, a, b, weights_concat=w)
        else:
            sigs = K.minhash_batch(hc, counts, a, b)
        # a gated-in doc with zero shingles can't occur (len gate uses
        # codepoints >= k → bytes >= k), but guard anyway: MAX-init stays,
        # matching compute_signature_with_config semantics
        sig_mat[ok_idx] = sigs
        counts_full[ok_idx] = counts
    band_mat = K.band_hashes_batch(sig_mat, cfg.num_bands, cfg.rows_per_band)
    band_signed = band_mat.view(np.int64)
    sig_i32 = sig_mat.view(np.int32)  # signed reinterpret: equality-safe
    return pd.DataFrame(
        {
            "sig_arr": list(sig_i32),
            "bands": list(band_signed),
            "is_zero": ~ok,
            "n_shingles": counts_full.astype(np.int32),
        }
    )


def make_signature_udf(cfg: EngineConfig, weights_hashed: dict[int, float] | None = None):
    """pandas UDF text → SIGNATURE_STRUCT (sig_arr, bands, is_zero,
    n_shingles).

    Iterator form so config/coefficients are materialized once per worker.
    """

    @pandas_udf(SIGNATURE_STRUCT)
    def signature_udf(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            yield _compute_batch(texts, cfg, weights_hashed)

    # Deterministic in fact; marked non-deterministic so the optimizer never
    # duplicates the evaluation when a filter references a struct field
    # (e.g. bands_table's `~is_zero` on an UNPERSISTED signature table would
    # otherwise push the filter below and evaluate the whole signature UDF
    # twice — once below the repartition exchange, serially; guide §4.4).
    return signature_udf.asNondeterministic()


def with_signatures(
    df: DataFrame,
    cfg: EngineConfig,
    text_col: str = "text",
    id_col: str = "doc_id",
    weights_hashed: dict[int, float] | None = None,
) -> DataFrame:
    """documents → signatures table (L5 add, index.cr:114-122, as a stage):
    ``id_col`` plus the SIGNATURE_STRUCT columns."""
    udf = make_signature_udf(cfg, weights_hashed)
    return (
        df.select(id_col, text_col)
        .withColumn("_s", udf(F.col(text_col)))
        .select(id_col, "_s.*")
    )


def bands_table(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """signatures → exploded bands(doc_id, band_idx, band_hash).

    Zero signatures are quarantined here (skew: every gated-out doc has the
    identical band array — SURVEY.md §4.2)."""
    return (
        sig_df.where(~F.col("is_zero"))
        .select(id_col, F.posexplode("bands").alias("band_idx", "band_hash"))
    )


def pack_band_key(
    band_idx_col: str = "band_idx", band_hash_col: str = "band_hash"
) -> Column:
    """Pack (band_idx:int, band_hash:long) into ONE 64-bit exchange key.

    The candidate shuffle otherwise carries a 12-byte composite key
    per band row; at 10^12 clips × num_bands rows the key bytes dominate
    the candidate exchange (round-4 verdict item #1: the cand-reduce
    exchange volume gates whole-job scaling).  ``xxhash64(band_idx,
    band_hash)`` is deterministic, so two docs sharing a band ALWAYS share
    the packed key — no candidate is ever lost.  A hash collision between
    two distinct band keys can only MERGE buckets, i.e. add candidate
    pairs, and every candidate passes the exact similarity verify, so the
    final pairs/clusters are unchanged (expected extra verify work at K
    distinct band keys is ~K²/2^64 pairs — negligible below ~10^8 buckets
    per shard).  The bit-exact driver/oracle queries keep the composite
    key; the scale paths (executor model, spark-submit pipelines) use the
    packed key."""
    return F.xxhash64(F.col(band_idx_col), F.col(band_hash_col))


def hot_buckets(
    df: DataFrame, keys: list[str] | tuple[str, ...], max_bucket_size: int
) -> DataFrame:
    """The ``keys`` of the buckets of ``df`` holding more than
    ``max_bucket_size`` rows.  A count-only groupBy: it partial-aggregates
    map-side, so a hot key never concentrates its rows in one task."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > max_bucket_size)
        .select(*keys)
    )


def bucket_pairs(
    df: DataFrame,
    keys: list[str] | tuple[str, ...],
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    carry: str | None = None,
) -> DataFrame:
    """Pair the members of each bucket (find_similar_pairs,
    index.cr:195-217): one row (a, b) per bucket and unordered pair of
    distinct ids, with a < b and no dedup across buckets.  With ``carry``,
    also (ca, cb): the ``carry`` column of a and of b.  Every candidate
    family (MinHash bands, SimHash blocks, n-gram posting lists, ANN
    buckets) builds its pairs here.

    Two physical strategies:
    - capped (``max_bucket_size`` set): buckets with more rows than the cap
      are quarantined (``hot_buckets`` + broadcast anti-join), THEN each
      bucket is grouped with ``collect_list`` and expanded in SQL — one
      exchange of ``df`` instead of two self-join legs (measured 2.95 s vs
      5.84 s on the 50k-clip bench candidates).  The cap runs BEFORE the
      aggregate, so a pathological bucket's member array (a 10^7-member
      boilerplate key at 100 TB) is never built in any task.
    - uncapped: equi-join of ``df`` with itself on ``keys``, no array, so
      an unbounded bucket never has to fit in one task.

    CONTRACT: ``df`` is distinct per (keys, id).  The cap counts raw rows,
    so duplicated rows would push under-cap buckets over it (dedupe such
    input first rather than paying a countDistinct exchange here).
    ``collect_list`` rather than ``collect_set`` + ``sort_array`` for the
    same reason: pair order is normalized per pair instead (3.63 s → 2.95 s
    on the bench candidate subtree, identical pairs).  A repeated id in one
    bucket (e.g. a packed-key collision between two bands of one doc)
    yields no (x, x) pair: a < b is strict."""
    keys = list(keys)
    extra = ["ca", "cb"] if carry else []
    if max_bucket_size is None:
        def side(i, c):
            return df.select(
                *keys, F.col(id_col).alias(i), *([F.col(carry).alias(c)] if carry else [])
            )

        return (
            side("a", "ca").join(side("b", "cb"), keys)
            .where(F.col("a") < F.col("b"))
            .select("a", "b", *extra)
        )
    df = df.join(F.broadcast(hot_buckets(df, keys, max_bucket_size)), keys, "left_anti")
    if carry:
        member = F.struct(F.col(id_col).alias("i"), F.col(carry).alias("c"))
        pair = ("if(x.i < y.i, struct(x.i as a, y.i as b, x.c as ca, y.c as cb),"
                " struct(y.i as a, x.i as b, y.c as ca, x.c as cb))")
    else:
        member = F.col(id_col)
        pair = "struct(least(x, y) as a, greatest(x, y) as b)"
    grouped = (
        df.groupBy(*keys)
        .agg(F.collect_list(member).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    return (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) ->"
                    " transform(slice(ms, i + 2, size(ms) - i - 1), y -> "
                    + pair + ")))"
                )
            ).alias("p")
        )
        .select("p.*")
        .where(F.col("a") < F.col("b"))
    )


def candidate_pairs(
    bands_df: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
    key_cols: tuple[str, ...] = ("band_idx", "band_hash"),
) -> DataFrame:
    """LSH candidate pairs (L9, index.cr:195-217): distinct (a, b), a < b,
    sharing at least one band bucket — ``bucket_pairs(...).distinct()``
    (strategy, cap and input contract there).  A capped bucket's members
    still meet on any other band they share.

    ``key_cols`` is the bucket identity: the default composite
    (band_idx, band_hash) is bit-exact; scale callers pre-pack it into one
    64-bit column with ``pack_band_key`` and pass ``key_cols=("band_key",)``,
    so the candidate shuffle carries a single long per row (see
    pack_band_key for why collisions are sound)."""
    return bucket_pairs(bands_df, key_cols, id_col, max_bucket_size).distinct()


def verified_pairs(
    cand_df: DataFrame,
    sig_df: DataFrame,
    threshold: float = 0.75,
    id_col: str = "doc_id",
) -> DataFrame:
    """candidates × signatures → pairs with similarity >= threshold
    (find_similar_pairs verify step, index.cr:208-212).

    Stays entirely JVM-side: the S1 equality fraction runs as a codegen'd
    ``zip_with``/``aggregate`` over the int32 signature arrays — no Arrow
    round-trip in the verify join (the pandas-UDF variant measured worse
    and anti-scaled with cores)."""
    # Both verify legs join the IDENTICAL (id, sig_arr) subtree — not
    # two differently-aliased projections — so when the planner
    # broadcasts the signature side, the second leg reuses the first
    # leg's built relation (ReusedExchange) instead of collecting and
    # hashing the signature table twice (guide §2.4: two operations
    # keyed the same way share one exchange).  Measured on the 50k-clip
    # bench verify: 0.80 s → 0.59 s, identical output.
    kv = sig_df.select(F.col(id_col).alias("_vid"), F.col("sig_arr").alias("_vsig"))
    j1 = cand_df.join(kv, cand_df["a"] == kv["_vid"]).select(
        "a", "b", F.col("_vsig").alias("sig_a")
    )
    j2 = j1.join(kv, j1["b"] == kv["_vid"]).select(
        "a", "b", "sig_a", F.col("_vsig").alias("sig_b")
    )
    return (
        j2.withColumn("similarity", sig_similarity_expr("sig_a", "sig_b"))
        .where(F.col("similarity") >= F.lit(threshold))
        .select("a", "b", "similarity")
    )


def connected_components(
    edges: DataFrame,
    driver_threshold: int | None = 5_000_000,
) -> DataFrame:
    """Connected components over the verified-pair edge list → clusters
    (cluster_id = min reachable doc id).

    Two physical strategies:
    - edge count ≤ ``driver_threshold``: collect and union-find on the
      driver (near-dup edge lists are tiny relative to the corpus — at 10^12
      clips with ~1% dup pairs this threshold still falls back correctly;
      per-iteration Spark stage overhead would dominate otherwise).
      Threshold set from measurement, not guesswork: at 2.25M real
      verified edges the vectorized driver path ran 39.8 s vs 66.1 s
      for the distributed rounds (identical clusters, 0 mismatches),
      and the sharded round probes show LS/SS round fixed costs only
      amortizing well above ~10M edges (BENCH.md round-5 CC tables).
      5M edges collect ~80 MB — safely inside the driver heap.
    - else: distributed alternating large-star/small-star (Kiveris et al.
      SoCC'14; operators/cc.py) — O(log^2 n) rounds worst case,
      localCheckpoint per round.

    Input: edges(a, b). Output: (doc_id, cluster_id) for every node that
    appears in an edge (singletons are their own cluster by definition and
    are added by the caller via a left join)."""
    if driver_threshold is not None:
        n_edges = edges.limit(driver_threshold + 1).count()
        if n_edges <= driver_threshold:
            return _cc_driver(edges)
    from lexis_minhash_spark.operators.cc import large_star_small_star

    return large_star_small_star(edges.select("a", "b"))


def _cc_numpy(a_idx: np.ndarray, b_idx: np.ndarray, n: int) -> np.ndarray:
    """Vectorized connected components over index-encoded edges:
    alternating full pointer-jumping compression and min-hooking
    (``np.minimum.at``).  O(log n) vectorized rounds; converges to
    parent[x] = min index in x's component (min-label fixpoint).  Replaces
    the pure-Python union-find loop, which cost ~15 µs/edge serial —
    ~17 s of driver time at 1.1M edges in the 1M-clip scaling run."""
    parent = np.arange(n, dtype=np.int64)
    a = a_idx.astype(np.int64, copy=False)
    b = b_idx.astype(np.int64, copy=False)
    while True:
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp
        ra = parent[a]
        rb = parent[b]
        alive = ra != rb
        if not alive.any():
            return parent
        # drop settled edges — near-dup cluster edge sets collapse almost
        # entirely after the first hook round, so later rounds gather over
        # a small remainder instead of the full edge list
        ra = ra[alive]
        rb = rb[alive]
        a = a[alive]
        b = b[alive]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))


def _cc_driver(edges: DataFrame) -> DataFrame:
    """Driver-side vectorized components for small edge sets.

    One collect round-trip (toLocalIterator issues one job per partition —
    measured as a serial bottleneck), ids index-encoded via ``np.unique``
    (works for int and string ids alike; min index ≡ min id in both sort
    orders), then the NumPy pointer-jumping kernel."""
    spark = edges.sparkSession
    pdf = edges.select("a", "b").toPandas()
    id_type = edges.schema["a"].dataType
    if len(pdf) == 0:
        schema = StructType(
            [
                StructField("doc_id", id_type, False),
                StructField("cluster_id", id_type, False),
            ]
        )
        return spark.createDataFrame([], schema)
    a = pdf["a"].to_numpy()
    b = pdf["b"].to_numpy()
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    m = len(pdf)
    parent = _cc_numpy(inv[:m], inv[m:], nodes.shape[0])
    result = pd.DataFrame({"doc_id": nodes, "cluster_id": nodes[parent]})
    return spark.createDataFrame(result)


def clusters_with_singletons(
    sig_df: DataFrame, cc_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Full cluster assignment: docs in no verified pair (incl. zero-signature
    quarantine) are singleton clusters (cluster_id = own id)."""
    return (
        sig_df.select(F.col(id_col).alias("doc_id"))
        .join(cc_df, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
    )


def _query_signature(text: str, cfg: EngineConfig) -> np.ndarray:
    """Driver-side signature of one query text: normalize → gates →
    shingle → minhash, or the zero signature when gated out."""
    norm = K.normalize_text(text)
    if not K.passes_gates(norm, cfg.min_words, cfg.shingle_size):
        return K.zero_signature(cfg.signature_size)
    a, b = cfg.coefficients
    return K.minhash_from_hashes(K.shingle_hashes_text(norm, cfg.shingle_size), a, b)


def query_candidates(
    spark: SparkSession,
    query_texts: list[tuple[int, str]],
    bands_df: DataFrame,
    cfg: EngineConfig,
    id_col: str = "doc_id",
) -> DataFrame:
    """L6 query (index.cr:146-163): broadcast the ≤num_bands query band rows,
    equi-join the bands table, distinct. Returns (query_id, doc_id)."""
    rows = []
    for qid, text in query_texts:
        sig = _query_signature(text, cfg)
        bh = K.band_hashes_batch(sig[None, :], cfg.num_bands, cfg.rows_per_band)[0].view(np.int64)
        for band_idx in range(cfg.num_bands):
            rows.append((qid, band_idx, int(bh[band_idx])))
    qdf = spark.createDataFrame(rows, "query_id long, band_idx int, band_hash long")
    return (
        bands_df.join(F.broadcast(qdf), ["band_idx", "band_hash"])
        .select("query_id", id_col)
        .distinct()
    )


def query_with_scores(
    spark: SparkSession,
    query_texts: list[tuple[int, str]],
    bands_df: DataFrame,
    sig_df: DataFrame,
    cfg: EngineConfig,
    id_col: str = "doc_id",
    max_candidates: int | None = None,
) -> DataFrame:
    """L7 scored query (index.cr:166-192): candidates → join signatures →
    S1 score → sort desc (+ optional spec'd max_candidates limit,
    openspec/specs/lsh-index/spec.md:20)."""
    cands = query_candidates(spark, query_texts, bands_df, cfg, id_col)
    qsigs = [
        (qid, _query_signature(text, cfg).view(np.int32).tolist())
        for qid, text in query_texts
    ]
    qsig_df = spark.createDataFrame(qsigs, "query_id long, qsig array<int>")
    scored = (
        cands.join(F.broadcast(qsig_df), "query_id")
        .join(sig_df.select(id_col, "sig_arr"), id_col)
        .withColumn("score", sig_similarity_expr("qsig", "sig_arr"))
        .select("query_id", id_col, "score")
    )
    if max_candidates is not None:
        from pyspark.sql import Window

        # the window ranking is the only full sort; the final orderBy below
        # then sorts only the <= max_candidates survivors
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), id_col)
        scored = (
            scored.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_candidates)
            .drop("_rn")
        )
    return scored.orderBy(F.desc("score"), id_col)


def signature_slots(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exploded signature slots (doc_id, i, value) for non-zero signatures —
    the bit-exact correctness surface checked by the DuckDB oracle."""
    return (
        sig_df.where(~F.col("is_zero"))
        .select(id_col, F.posexplode("sig_arr").alias("i", "value"))
        .withColumn("value", F.col("value").cast("long").bitwiseAND(0xFFFFFFFF))
    )


def band_load_factors(bands_df: DataFrame) -> DataFrame:
    """L4/L11 metrics: docs per band and per-bucket stats
    (index.cr:231-233 load_factors as a metrics query)."""
    return (
        bands_df.groupBy("band_idx")
        .agg(
            F.count(F.lit(1)).alias("n_entries"),
            F.countDistinct("band_hash").alias("n_buckets"),
        )
        .withColumn(
            "avg_bucket_size",
            F.col("n_entries").cast("double") / F.col("n_buckets"),
        )
        .orderBy("band_idx")
    )
