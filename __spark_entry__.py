"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship near-dup clustering on sf0.001 documents.
queries()      — one entry per implemented operator (SURVEY.md §2).
oracle_sql()   — DuckDB twins.  The MinHash/LSH stages are checked
                 BIT-EXACTLY: lexis_minhash_spark.duckdb_oracle generates
                 SQL that recomputes shingle hashes, multiply-shift
                 signatures (HUGEINT mod-2^64), band folds, candidate
                 pairs, verified pairs, and clusters from the raw parquet.
                 Weighted MinHash, simhash fingerprints, and the
                 overlap/Jaccard/weighted-overlap/shared-bands micro
                 operators also have SQL oracles, and the suffix-array
                 operator has an independent exact-LCS twin (20-gram join +
                 longest diagonal run — no suffix array involved).  Every
                 queries() entry now carries an oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from lexis_minhash_spark.config import EngineConfig
from lexis_minhash_spark import duckdb_oracle as D
from lexis_minhash_spark import ops

CFG = EngineConfig(seed=12345)
THRESHOLD = 0.75
NGRAM_THRESHOLD = 0.2
COSINE_THRESHOLD = 0.35
# bit-exact slot/band dumps are scoped to keep the DuckDB side fast; the
# pair/cluster queries run on the full documents table
SLOT_SCOPE = "doc_id < 100"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ops.with_signatures(_docs(spark, sf_dir), CFG)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash → LSH bands → candidate self-join → similarity
    verify → connected components → cluster assignments (sf0.001)."""
    sig = _sigs(spark, "/root/testdata/sf0.001").cache()
    # persist the edge list: connected_components runs a size probe AND a
    # collect — without this the candidates+verify subtree executes twice
    ver = ops.verified_pairs(
        ops.candidate_pairs(ops.bands_table(sig)), sig, THRESHOLD
    ).persist()
    cc = ops.connected_components(ver.select("a", "b"))
    return ops.clusters_with_singletons(sig, cc)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_zero_sig_gate(spark, sf_dir):
    return _sigs(spark, sf_dir).select("doc_id", "is_zero").orderBy("doc_id")


def _q_signature_slots(spark, sf_dir):
    sig = _sigs(spark, sf_dir).where(F.expr(SLOT_SCOPE))
    return ops.signature_slots(sig)


def _q_bands(spark, sf_dir):
    sig = _sigs(spark, sf_dir).where(F.expr(SLOT_SCOPE))
    return ops.bands_table(sig)


def _q_candidate_pairs(spark, sf_dir):
    return ops.candidate_pairs(ops.bands_table(_sigs(spark, sf_dir)))


def _q_candidate_pairs_packed(spark, sf_dir):
    """The SCALE path for candidate generation (round-5): grouped pairs over
    the packed 64-bit band key (ops.pack_band_key) with the hot-bucket cap,
    checked against the SAME composite-key DuckDB oracle as
    lsh_candidate_pairs — a deterministic pack never splits a bucket, and a
    merge collision would surface here as extra rows, so a green hash on
    this query is a per-round proof of the pack's soundness at this SF."""
    bands = ops.bands_table(_sigs(spark, sf_dir))
    packed = bands.select("doc_id", ops.pack_band_key().alias("band_key"))
    return ops.candidate_pairs(
        packed, max_bucket_size=10_000, key_cols=("band_key",)
    )


def _q_verified_pairs(spark, sf_dir):
    sig = _sigs(spark, sf_dir).cache()
    ver = ops.verified_pairs(ops.candidate_pairs(ops.bands_table(sig)), sig, THRESHOLD)
    return ver.select("a", "b", F.round("similarity", 6).alias("similarity"))


def _q_clusters(spark, sf_dir):
    sig = _sigs(spark, sf_dir).cache()
    ver = ops.verified_pairs(
        ops.candidate_pairs(ops.bands_table(sig)), sig, THRESHOLD
    ).persist()
    cc = ops.connected_components(ver.select("a", "b"))
    return ops.clusters_with_singletons(sig, cc)


def _q_band_load_factors(spark, sf_dir):
    lf = ops.band_load_factors(ops.bands_table(_sigs(spark, sf_dir)))
    return lf.select(
        "band_idx", "n_entries", "n_buckets", F.round("avg_bucket_size", 6).alias("avg_bucket_size")
    )


def _q_simhash(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import with_simhash

    return with_simhash(_docs(spark, sf_dir), CFG).select("doc_id", "simhash").orderBy("doc_id")


def _q_simhash_pairs(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import simhash_candidate_pairs, with_simhash

    sim = with_simhash(_docs(spark, sf_dir), CFG)
    # capped headline path (round-2 verdict item #3): the cap is applied as
    # a count + broadcast anti-join BEFORE the grouped block pairing
    # (ops.bucket_pairs) and is non-binding at every sf fixture (max block
    # bucket ≤ 13 even at 50k docs), so the result is identical to the
    # uncapped brute-force DuckDB twin while the plan of record carries the
    # skew guard
    return simhash_candidate_pairs(sim, max_hamming=3, max_bucket_size=10_000).select(
        "a", "b", "hamming"
    )


def _q_exact_dup_groups(spark, sf_dir):
    # the sf fixtures have no natural exact dups, which made this oracle
    # vacuous (0 rows) — plant deterministic duplicates (shifted-id copies of
    # the first 50 docs) so the green row actually proves the operator
    from lexis_minhash_spark.operators.dedup import exact_duplicate_groups

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    return exact_duplicate_groups(docs.unionByName(planted)).select(
        "content_hash", "n_docs", "keeper"
    )


def _q_ngram_jaccard(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=NGRAM_THRESHOLD, max_doc_freq=None
    )


# binds at sf0.01 (29 trigrams have df > 5), pinning the hot-gram quarantine
# AND the exact-over-capped-universe denominator semantics
NGRAM_MAX_DF = 5


def _q_ngram_jaccard_capped(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=NGRAM_THRESHOLD, max_doc_freq=NGRAM_MAX_DF
    )


def _q_embedding_pairs(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import embedding_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_cosine_pairs(
        emb, threshold=COSINE_THRESHOLD, block_col="label"
    ).select("a", "b")


ANN_PLANES = 10
ANN_TABLES = 4
ANN_SEED = 42
ANN_SCALE = 1024.0
ANN_DIM = 64


def _q_embedding_ann(spark, sf_dir):
    from lexis_minhash_spark.operators.dedup import lsh_bucketed_cosine_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").head().embedding)
    # hot-bucket cap in the plan of record (count + broadcast anti-join
    # BEFORE the grouped bucket pairing, ops.bucket_pairs, like every other
    # candidate family):
    # non-binding at every sf fixture (max bucket = 5 at sf0.01), so the
    # result is identical to the uncapped DuckDB twin while the skew guard
    # is what actually executes
    return lsh_bucketed_cosine_pairs(
        emb,
        dim=dim,
        threshold=COSINE_THRESHOLD,
        n_planes=ANN_PLANES,
        n_tables=ANN_TABLES,
        seed=ANN_SEED,
        scale=ANN_SCALE,
        max_bucket_size=10_000,
    ).select("a", "b")


def _q_token_counts(spark, sf_dir):
    from lexis_minhash_spark.operators.textstats import with_token_counts

    return with_token_counts(_docs(spark, sf_dir))


def _q_quality(spark, sf_dir):
    from lexis_minhash_spark.operators.textstats import with_quality

    return with_quality(_docs(spark, sf_dir))


def _q_langid(spark, sf_dir):
    from lexis_minhash_spark.operators.textstats import with_langid

    return with_langid(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    from lexis_minhash_spark.operators.textstats import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


# weighted-MinHash fixture: weights >= 1 or < 0 only, so the DuckDB oracle
# avoids the ln(1+w) branch (1-ulp libm-vs-numpy divergence risk); the
# 0 < w < 1 log branch is covered by pytest against the scalar oracle
WEIGHTED_FIXTURE = {"the q": 2.0, "quick": 2.0, "brown": 3.0, "data ": 3.0, "query": -1.0}


def _q_weighted_signature_slots(spark, sf_dir):
    # weighted MinHash (K7/K8) with a fixed weight map
    from lexis_minhash_spark import kernels as K

    weights = WEIGHTED_FIXTURE
    hashed = {K.shingle_hash_for(k): v for k, v in weights.items()}
    sig = ops.with_signatures(
        _docs(spark, sf_dir).where(SLOT_SCOPE), CFG, weights_hashed=hashed
    )
    return ops.signature_slots(sig)


def _q_suffix_matches(spark, sf_dir):
    from lexis_minhash_spark.operators.suffix import exact_substring_matches

    sig = _sigs(spark, sf_dir).cache()
    ver = ops.verified_pairs(
        ops.candidate_pairs(ops.bands_table(sig)), sig, THRESHOLD
    ).persist()
    cc = ops.connected_components(ver.select("a", "b"))
    return exact_substring_matches(
        _docs(spark, sf_dir), cc, min_len=20, group_col="cluster_id"
    ).select("a", "b", "common_len")


def _q_overlap_pairs(spark, sf_dir):
    # S2/S3 overlap coefficient + spec'd exact Jaccard over distinct char
    # 5-gram sets, for consecutive doc pairs (relational micro-surface)
    from lexis_minhash_spark.functions.similarity import (
        char_shingles_expr,
        jaccard_expr,
        overlap_expr,
    )

    docs = _docs(spark, sf_dir).where(SLOT_SCOPE)
    g = docs.select("doc_id", char_shingles_expr("text", 5).alias("grams"))
    a = g.select(F.col("doc_id").alias("a"), F.col("grams").alias("ga"))
    b = g.select((F.col("doc_id") - 1).alias("a"), F.col("grams").alias("gb"))
    return (
        a.join(b, "a")
        .select(
            F.col("a").alias("doc_id"),
            F.round(overlap_expr("ga", "gb"), 6).alias("overlap"),
            F.round(jaccard_expr("ga", "gb"), 6).alias("jaccard"),
        )
    )


def _q_weighted_overlap_pairs(spark, sf_dir):
    # S4 weighted overlap between word-frequency vectors of consecutive docs:
    # Σ min(ca, cb) over shared words / min(Σca, Σcb) — relational form
    docs = _docs(spark, sf_dir).where(SLOT_SCOPE)
    words = docs.select(
        "doc_id",
        F.explode(F.expr("split(trim(lower(text)), '\\\\s+')")).alias("w"),
    ).where(F.length("w") > 0)
    counts = words.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("total"))
    ca = counts.select(F.col("doc_id").alias("a"), "w", F.col("c").alias("cx"))
    cb = counts.select((F.col("doc_id") - 1).alias("a"), "w", F.col("c").alias("cy"))
    inter = (
        ca.join(cb, ["a", "w"])
        .groupBy("a")
        .agg(F.sum(F.least("cx", "cy")).alias("inter"))
    )
    ta = totals.select(F.col("doc_id").alias("a"), F.col("total").alias("tx"))
    tb = totals.select((F.col("doc_id") - 1).alias("a"), F.col("total").alias("ty"))
    return (
        ta.join(tb, "a")
        .join(inter, "a", "left")
        .select(
            F.col("a").alias("doc_id"),
            F.round(
                F.coalesce(F.col("inter"), F.lit(0)).cast("double")
                / F.least("tx", "ty").cast("double"),
                6,
            ).alias("weighted_overlap"),
        )
    )


def _q_shared_bands_pairs(spark, sf_dir):
    # spec'd shared_bands operator (positional equal band hashes) between
    # consecutive docs
    from lexis_minhash_spark.functions.similarity import shared_bands_expr

    sig = _sigs(spark, sf_dir).where(F.expr(SLOT_SCOPE)).where(~F.col("is_zero"))
    a = sig.select(F.col("doc_id").alias("a"), F.col("bands").alias("ba"))
    b = sig.select((F.col("doc_id") - 1).alias("a"), F.col("bands").alias("bb"))
    return a.join(b, "a").select(
        F.col("a").alias("doc_id"), shared_bands_expr("ba", "bb").alias("shared_bands")
    )


def _q_query_candidates(spark, sf_dir):
    # L6 candidate query (probe = doc 0's text): broadcast probe bands →
    # equi-join bands table → distinct doc ids
    sig = _sigs(spark, sf_dir)
    bands = ops.bands_table(sig)
    probe = _docs(spark, sf_dir).where("doc_id = 0").head().text
    return ops.query_candidates(spark, [(0, probe)], bands, CFG).select("doc_id")


def _q_query_scored(spark, sf_dir):
    # L7 scored query against a fixed probe text (doc 0).  Emits the integer
    # matching-slot count (score * signature_size, exact in double) instead
    # of a rounded double so the DuckDB comparison is tie-free.
    sig = _sigs(spark, sf_dir).cache()
    bands = ops.bands_table(sig)
    probe = _docs(spark, sf_dir).where("doc_id = 0").head().text
    return ops.query_with_scores(spark, [(0, probe)], bands, sig, CFG).select(
        "doc_id",
        F.round(F.col("score") * CFG.signature_size).cast("int").alias("n_match"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "zero_sig_gate": _q_zero_sig_gate,
        "minhash_signature_slots": _q_signature_slots,
        "lsh_bands": _q_bands,
        "lsh_candidate_pairs": _q_candidate_pairs,
        "lsh_candidate_pairs_packed": _q_candidate_pairs_packed,
        "minhash_verified_pairs": _q_verified_pairs,
        "minhash_clusters": _q_clusters,
        "band_load_factors": _q_band_load_factors,
        "simhash_fingerprints": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "exact_dup_groups": _q_exact_dup_groups,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "ngram_jaccard_capped": _q_ngram_jaccard_capped,
        "embedding_cosine_pairs": _q_embedding_pairs,
        "embedding_ann_pairs": _q_embedding_ann,
        "token_counts": _q_token_counts,
        "doc_quality": _q_quality,
        "langid": _q_langid,
        "doc_fingerprint": _q_fingerprint,
        "weighted_signature_slots": _q_weighted_signature_slots,
        "overlap_pairs": _q_overlap_pairs,
        "weighted_overlap_pairs": _q_weighted_overlap_pairs,
        "shared_bands_pairs": _q_shared_bands_pairs,
        "suffix_matches": _q_suffix_matches,
        "query_candidates": _q_query_candidates,
        "query_with_scores": _q_query_scored,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "from",
)
_LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
    "es": ("el", "la", "de", "que", "los"),
}


def _zero_sig_gate_sql() -> str:
    norm = D.norm_expr("text")
    return f"""
    SELECT doc_id,
           NOT (length({norm}) > 0
                AND length(regexp_split_to_array({norm}, '\\s+')) >= {CFG.min_words}
                AND length({norm}) >= {CFG.shingle_size}) AS is_zero
    FROM documents ORDER BY doc_id"""


def _token_counts_sql() -> str:
    return """
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE length(regexp_split_to_array(trim(text), '\\s+')) END::INT AS n_words,
           length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::INT AS n_subword_tokens,
           length(text)::INT AS n_chars
    FROM documents ORDER BY doc_id"""


def _quality_sql() -> str:
    sw = ", ".join(f"'{w}'" for w in _STOPWORDS)
    n_words = "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE length(regexp_split_to_array(trim(text), '\\s+')) END"
    n_chars = "length(text)"
    n_punct = "length(regexp_replace(text, '[^.,;:!?]', '', 'g'))"
    n_upper = "length(regexp_replace(text, '[^A-Z]', '', 'g'))"
    n_stop = f"length(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), w -> w IN ({sw})))"
    mean_wl = (
        f"CASE WHEN {n_words} = 0 THEN 0.0 ELSE"
        f" length(regexp_replace(text, '\\s', '', 'g')) / CAST({n_words} AS DOUBLE) END"
    )
    return f"""
    SELECT doc_id,
           ({n_words})::INT AS n_words,
           round({mean_wl}, 6) AS mean_word_len,
           round(CASE WHEN {n_chars} = 0 THEN 0.0 ELSE {n_punct} / CAST({n_chars} AS DOUBLE) END, 6) AS punct_ratio,
           round(CASE WHEN {n_words} = 0 THEN 0.0 ELSE {n_stop} / CAST({n_words} AS DOUBLE) END, 6) AS stopword_ratio,
           round(CASE WHEN {n_chars} = 0 THEN 0.0 ELSE {n_upper} / CAST({n_chars} AS DOUBLE) END, 6) AS upper_ratio,
           (({n_words}) BETWEEN 4 AND 100000 AND ({mean_wl}) BETWEEN 2.0 AND 15.0) AS quality_keep
    FROM documents ORDER BY doc_id"""


def _langid_sql() -> str:
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        mk = ", ".join(f"'{m}'" for m in markers)
        scores.append((lang, f"length(list_filter({toks}, w -> w IN ({mk})))"))
    best = "GREATEST(" + ", ".join(s for _, s in scores) + ")"
    case = f"CASE WHEN {best} = 0 THEN 'und' "
    for lang, s in scores:
        case += f"WHEN {s} = {best} THEN '{lang}' "
    case += "END"
    return f"SELECT doc_id, {case} AS lang_pred FROM documents ORDER BY doc_id"


def _exact_dup_sql() -> str:
    return """
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
    )
    SELECT md5(text) AS content_hash, count(*)::BIGINT AS n_docs, min(doc_id) AS keeper
    FROM corpus GROUP BY md5(text) HAVING count(*) > 1"""


def _ngram_jaccard_sql() -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(w) - 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM toks WHERE length(w) >= 3
    ),
    ex AS (SELECT doc_id, length(g) AS n_grams, unnest(g) AS gram FROM grams)
    SELECT x.doc_id AS a, y.doc_id AS b,
           round(count(*)::DOUBLE / (any_value(x.n_grams) + any_value(y.n_grams) - count(*)), 6) AS jaccard
    FROM ex x JOIN ex y ON x.gram = y.gram AND x.doc_id < y.doc_id
    GROUP BY x.doc_id, y.doc_id
    HAVING count(*)::DOUBLE / (any_value(x.n_grams) + any_value(y.n_grams) - count(*)) >= {NGRAM_THRESHOLD}"""


def _ngram_jaccard_capped_sql() -> str:
    """Capped twin of _ngram_jaccard_sql: grams with df > NGRAM_MAX_DF are
    quarantined from PAIR GENERATION only; denominators stay the FULL
    per-doc distinct-gram counts, so the cap is strictly conservative —
    it can only lower a pair's Jaccard, never raise it (mirrors
    ngram_jaccard_pairs(max_doc_freq=...), round-2 advice)."""
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, length(w) - 1),
                                          i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM toks WHERE length(w) >= 3
    ),
    ex AS (SELECT doc_id, unnest(g) AS gram FROM grams),
    counts AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY doc_id),
    hot AS (SELECT gram FROM ex GROUP BY gram HAVING count(*) > {NGRAM_MAX_DF}),
    kept AS (SELECT doc_id, gram FROM ex ANTI JOIN hot USING (gram))
    SELECT x.doc_id AS a, y.doc_id AS b,
           round(count(*)::DOUBLE / (any_value(ca.n_grams) + any_value(cb.n_grams) - count(*)), 6) AS jaccard
    FROM kept x
    JOIN kept y ON x.gram = y.gram AND x.doc_id < y.doc_id
    JOIN counts ca ON ca.doc_id = x.doc_id
    JOIN counts cb ON cb.doc_id = y.doc_id
    GROUP BY x.doc_id, y.doc_id
    HAVING count(*)::DOUBLE / (any_value(ca.n_grams) + any_value(cb.n_grams) - count(*)) >= {NGRAM_THRESHOLD}"""


def _doc_fingerprint_sql(window: int = 64) -> str:
    """Rolling min-hash document fingerprint (kernels.rolling_fingerprint):
    min over ``window``-byte windows of the P=31 polynomial hash mod 2^64
    (whole-text hash when shorter; 0 when empty), signed-reinterpreted to
    BIGINT.  HUGEINT modular fold reproduces the uint64 wraparound exactly
    (ASCII corpus: codepoints == UTF-8 bytes)."""
    from lexis_minhash_spark.duckdb_oracle import U63, U64

    fold = (
        "list_reduce(list_transform(range(s, s + n), "
        "j -> ascii(substring(text, j::INT, 1))::HUGEINT), "
        f"(x, y) -> (x * 31 + y) % {U64}::HUGEINT)"
    )
    return f"""
    WITH windows AS (
      SELECT doc_id, i AS s, {window} AS n, text
      FROM documents, UNNEST(range(1, length(text) - {window - 2})) AS t(i)
      WHERE length(text) >= {window}
      UNION ALL
      SELECT doc_id, 1 AS s, length(text) AS n, text
      FROM documents WHERE length(text) BETWEEN 1 AND {window - 1}
    ),
    mins AS (
      SELECT doc_id, min({fold}) AS u FROM windows GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(CASE WHEN u >= {U63}::HUGEINT THEN (u - {U64}::HUGEINT)::BIGINT
                         ELSE u::BIGINT END, 0) AS fingerprint
    FROM documents d LEFT JOIN mins m ON m.doc_id = d.doc_id
    ORDER BY d.doc_id"""


def _suffix_matches_sql() -> str:
    """Exact-LCS twin of the suffix-array operator (closes round 2's last
    ``no_oracle`` row).  Independent formulation: intra-cluster doc pairs
    (clusters via the same recursive-closure CTEs as the clusters oracle)
    joined on equal 20-char substrings; for a pair, the longest common
    substring is 19 + the longest run of CONSECUTIVE matching 20-gram
    positions on one diagonal (ia - ib constant): an LCS of length L >= 20
    yields exactly L-19 consecutive matches on its diagonal, and any run of
    r consecutive matches certifies a common substring of r+19 chars — so
    max(run)+19 is exact, with no suffix array involved."""
    return f"""{D._pairs_ctes(CFG, "documents", "TRUE", recursive=True)},
  edges AS (
    SELECT a AS src, b AS dst FROM verified WHERE similarity >= {THRESHOLD}
    UNION ALL
    SELECT b, a FROM verified WHERE similarity >= {THRESHOLD}
  ),
  reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
  ),
  comp AS (
    SELECT src AS doc_id, least(min(dst), src) AS cluster_id
    FROM reach GROUP BY src
  ),
  members AS (
    SELECT c.cluster_id, c.doc_id, replace(d.text, chr(0), '') AS t
    FROM comp c JOIN documents d ON d.doc_id = c.doc_id
  ),
  grams20 AS (
    SELECT cluster_id, doc_id, i, substring(t, i::INT, 20) AS g
    FROM members, UNNEST(range(1, length(t) - 18)) AS u(i)
  ),
  hits AS (
    SELECT x.doc_id AS a, y.doc_id AS b, x.i AS ia, (x.i - y.i) AS diag
    FROM grams20 x JOIN grams20 y
      ON x.cluster_id = y.cluster_id AND x.g = y.g AND x.doc_id < y.doc_id
  ),
  runs AS (
    SELECT a, b, diag,
           ia - row_number() OVER (PARTITION BY a, b, diag ORDER BY ia) AS grp
    FROM hits
  ),
  runlens AS (
    SELECT a, b, count(*) AS run FROM runs GROUP BY a, b, diag, grp
  )
  SELECT a, b, (max(run) + 19)::INT AS common_len
  FROM runlens GROUP BY a, b ORDER BY a, b"""


def _query_candidates_sql() -> str:
    """L6 twin: distinct gated docs sharing >= 1 band with doc 0's bands."""
    return f"""WITH {D.coeff_cte(CFG)},
  {D.gated_docs_cte(CFG, "documents")},
  {D.shingles_cte(CFG)},
  {D.signatures_cte()},
  {D.bands_cte(CFG)},
  probe_bands AS (SELECT band_idx, band_hash FROM bands WHERE doc_id = 0)
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN probe_bands p
    ON b.band_idx = p.band_idx AND b.band_hash = p.band_hash
  ORDER BY b.doc_id"""


def _query_scored_sql() -> str:
    """L7 scored query twin: probe = doc 0's text, so the probe's bands and
    signature are exactly doc 0's rows in the shared CTEs.  Candidates =
    gated docs sharing >= 1 (band_idx, band_hash) with the probe; n_match =
    integer count of equal signature slots."""
    return f"""WITH {D.coeff_cte(CFG)},
  {D.gated_docs_cte(CFG, "documents")},
  {D.shingles_cte(CFG)},
  {D.signatures_cte()},
  {D.bands_cte(CFG)},
  probe_bands AS (SELECT band_idx, band_hash FROM bands WHERE doc_id = 0),
  cand AS (
    SELECT DISTINCT b.doc_id
    FROM bands b JOIN probe_bands p
      ON b.band_idx = p.band_idx AND b.band_hash = p.band_hash
  ),
  probe_sig AS (SELECT i, value FROM sigs WHERE doc_id = 0)
  SELECT c.doc_id,
         sum(CASE WHEN s.value = p.value THEN 1 ELSE 0 END)::INT AS n_match
  FROM cand c
  JOIN sigs s ON s.doc_id = c.doc_id
  JOIN probe_sig p ON p.i = s.i
  GROUP BY c.doc_id ORDER BY c.doc_id"""


def _embedding_pairs_sql() -> str:
    # double-precision dot/norms mirroring Spark's aggregate() fold
    dot = "list_reduce(list_transform(range(1, length(a.embedding) + 1), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE), (x, y) -> x + y)"
    na = "sqrt(list_reduce(list_transform(a.embedding, v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))"
    nb = "sqrt(list_reduce(list_transform(b.embedding, v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))"
    return f"""
    SELECT a.vec_id AS a, b.vec_id AS b
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END >= {COSINE_THRESHOLD}"""


def _embedding_ann_sql() -> str:
    """Quantized-Rademacher ANN twin: q_i = floor(v_i·scale)::BIGINT (exact
    in both engines: power-of-two scale), per-table bucket key from ±1
    projections (pure integer sums), candidates = same (table, bucket),
    exact-cosine verify mirroring _embedding_pairs_sql."""
    from lexis_minhash_spark.operators.dedup import rademacher_hyperplanes

    key_exprs = []
    for t in range(ANN_TABLES):
        planes = rademacher_hyperplanes(ANN_DIM, ANN_PLANES, ANN_SEED + 1000 * t)
        bits = []
        for j in range(ANN_PLANES):
            terms = "".join(
                f" {'+' if planes[j, i] > 0 else '-'} q[{i + 1}]"
                for i in range(ANN_DIM)
            )
            bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END)")
        key_exprs.append("(" + " + ".join(bits) + ")")
    key_cols = ",\n             ".join(
        f"{e} AS key{t}" for t, e in enumerate(key_exprs)
    )
    bucket_case = " ".join(f"WHEN {t} THEN key{t}" for t in range(ANN_TABLES))
    dot = "list_reduce(list_transform(range(1, length(ea.embedding) + 1), i -> ea.embedding[i]::DOUBLE * eb.embedding[i]::DOUBLE), (x, y) -> x + y)"
    na = "sqrt(list_reduce(list_transform(ea.embedding, v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))"
    nb = "sqrt(list_reduce(list_transform(eb.embedding, v -> v::DOUBLE * v::DOUBLE), (x, y) -> x + y))"
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(floor(v::DOUBLE * {ANN_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    keys AS (
      SELECT vec_id,
             {key_cols}
      FROM q
    ),
    tagged AS (
      SELECT vec_id, t AS table_idx, CASE t {bucket_case} END AS bucket
      FROM keys, UNNEST(range(0, {ANN_TABLES})) AS u(t)
    ),
    cand AS (
      SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
      FROM tagged x JOIN tagged y
        ON x.table_idx = y.table_idx AND x.bucket = y.bucket AND x.vec_id < y.vec_id
    )
    SELECT c.a, c.b
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.a
    JOIN embeddings eb ON eb.vec_id = c.b
    WHERE CASE WHEN {na} * {nb} = 0 THEN 0.0 ELSE {dot} / ({na} * {nb}) END >= {COSINE_THRESHOLD}"""


def _overlap_pairs_sql() -> str:
    norm = "trim(lower(text))"
    grams = (
        f"list_distinct(list_transform(range(1, length({norm}) - 3),"
        f" i -> substring({norm}, i::INT, 5)))"
    )
    return f"""
    WITH g AS (
      SELECT doc_id, {grams} AS grams FROM documents WHERE {SLOT_SCOPE}
    )
    SELECT a.doc_id AS doc_id,
      round(CASE WHEN len(a.grams) = 0 OR len(b.grams) = 0 THEN 0.0
            ELSE len(list_intersect(a.grams, b.grams))::DOUBLE
                 / least(len(a.grams), len(b.grams)) END, 6) AS overlap,
      round(CASE WHEN len(a.grams) + len(b.grams) = 0 THEN 0.0
            ELSE len(list_intersect(a.grams, b.grams))::DOUBLE
                 / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) END, 6) AS jaccard
    FROM g a JOIN g b ON b.doc_id = a.doc_id + 1"""


def _weighted_overlap_pairs_sql() -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE {SLOT_SCOPE}
    ),
    counts AS (
      SELECT doc_id, w, count(*) AS c FROM words WHERE length(w) > 0 GROUP BY doc_id, w
    ),
    totals AS (SELECT doc_id, sum(c) AS total FROM counts GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS a, sum(least(x.c, y.c)) AS i
      FROM counts x JOIN counts y ON y.doc_id = x.doc_id + 1 AND y.w = x.w
      GROUP BY x.doc_id
    )
    SELECT ta.doc_id AS doc_id,
           round(coalesce(i.i, 0)::DOUBLE / least(ta.total, tb.total)::DOUBLE, 6) AS weighted_overlap
    FROM totals ta
    JOIN totals tb ON tb.doc_id = ta.doc_id + 1
    LEFT JOIN inter i ON i.a = ta.doc_id"""


def _shared_bands_pairs_sql() -> str:
    return f"""WITH {D.coeff_cte(CFG)},
  {D.gated_docs_cte(CFG, "documents", SLOT_SCOPE)},
  {D.shingles_cte(CFG)},
  {D.signatures_cte()},
  {D.bands_cte(CFG)}
  SELECT x.doc_id AS doc_id,
         sum(CASE WHEN x.band_hash = y.band_hash THEN 1 ELSE 0 END)::INT AS shared_bands
  FROM bands x JOIN bands y ON y.doc_id = x.doc_id + 1 AND y.band_idx = x.band_idx
  GROUP BY x.doc_id ORDER BY x.doc_id"""


def oracle_sql() -> dict[str, str]:
    return {
        "zero_sig_gate": _zero_sig_gate_sql(),
        "minhash_signature_slots": D.signature_slots_sql(CFG, where=SLOT_SCOPE),
        "lsh_bands": D.bands_sql(CFG, where=SLOT_SCOPE),
        "lsh_candidate_pairs": D.candidate_pairs_sql(CFG),
        # the packed-key scale path must produce the IDENTICAL pair set —
        # the oracle deliberately stays on the composite (band_idx,
        # band_hash) grouping
        "lsh_candidate_pairs_packed": D.candidate_pairs_sql(CFG),
        "minhash_verified_pairs": D.verified_pairs_sql(CFG, THRESHOLD),
        "minhash_clusters": D.clusters_sql(CFG, THRESHOLD),
        "band_load_factors": D.band_load_factors_sql(CFG),
        "simhash_fingerprints": D.simhash_sql(CFG),
        "simhash_pairs": D.simhash_pairs_sql(CFG, max_hamming=3),
        "exact_dup_groups": _exact_dup_sql(),
        "ngram_jaccard_pairs": _ngram_jaccard_sql(),
        "ngram_jaccard_capped": _ngram_jaccard_capped_sql(),
        "embedding_cosine_pairs": _embedding_pairs_sql(),
        "embedding_ann_pairs": _embedding_ann_sql(),
        "token_counts": _token_counts_sql(),
        "doc_quality": _quality_sql(),
        "langid": _langid_sql(),
        "doc_fingerprint": _doc_fingerprint_sql(),
        "query_candidates": _query_candidates_sql(),
        "query_with_scores": _query_scored_sql(),
        "weighted_signature_slots": D.weighted_signature_slots_sql(
            CFG, WEIGHTED_FIXTURE, where=SLOT_SCOPE
        ),
        "overlap_pairs": _overlap_pairs_sql(),
        "weighted_overlap_pairs": _weighted_overlap_pairs_sql(),
        "shared_bands_pairs": _shared_bands_pairs_sql(),
        "suffix_matches": _suffix_matches_sql(),
    }
