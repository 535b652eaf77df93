"""LSHIndexDF — the reference's LSHIndex API surface (index.cr:95-239)
re-expressed over DataFrames.

The 'index' is two DataFrames (signatures + exploded bands); the reference's
per-band open-addressing hash tables (index.cr:19-89) are subsumed by
Spark's hash shuffle partitioning.  All methods are lazy DataFrame builders
except the ``query*`` convenience collectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from lexis_minhash_spark.config import DEFAULT_CONFIG, EngineConfig
from lexis_minhash_spark import kernels as K
from lexis_minhash_spark import ops


class LSHIndexDF:
    """DataFrame-backed LSH index.

    >>> idx = LSHIndexDF(spark, cfg)
    >>> idx.add_documents(docs_df)          # L5 add (index.cr:114-122)
    >>> idx.query("some text")              # L6 (index.cr:146-163)
    >>> idx.query_with_scores("some text")  # L7 (index.cr:166-192)
    >>> idx.find_similar_pairs(0.75)        # L9 (index.cr:195-217)
    """

    def __init__(
        self,
        spark: SparkSession,
        cfg: EngineConfig = DEFAULT_CONFIG,
        num_bands: int | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        # reference quirk parity: LSHIndex(bands:) overrides band count while
        # rows_per_band still comes from the engine config (engine.cr:427,444)
        self.num_bands = num_bands if num_bands is not None else cfg.num_bands
        self._signatures: DataFrame | None = None

    # -- build side --------------------------------------------------------

    def add_documents(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        weights_hashed: dict[int, float] | None = None,
    ) -> None:
        """Append documents (recompute-from-text path, L5/L8)."""
        sig = ops.with_signatures(docs, self.cfg, text_col, id_col, weights_hashed)
        if self.num_bands != self.cfg.num_bands:
            sig = self._rebands(sig)
        self._signatures = sig if self._signatures is None else self._signatures.unionByName(sig)

    def add_signatures(self, sig_df: DataFrame) -> None:
        """Append a precomputed signatures table (add_with_signature path):
        ``doc_id`` plus the ops.SIGNATURE_STRUCT columns, the signature in
        ``sig_arr``."""
        self._signatures = (
            sig_df if self._signatures is None else self._signatures.unionByName(sig_df)
        )

    def _rebands(self, sig_df: DataFrame) -> DataFrame:
        """Recompute the bands column for a non-default band count (keeps
        rows_per_band from config — the reference quirk)."""
        cfg, nb = self.cfg, self.num_bands
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import ArrayType, LongType

        @pandas_udf(ArrayType(LongType()))
        def reband(sigs: pd.Series) -> pd.Series:
            if sigs.empty:
                return pd.Series([], dtype=object)
            mat = np.stack(sigs.to_list()).view(np.uint32)
            return pd.Series(list(K.band_hashes_batch(mat, nb, cfg.rows_per_band).view(np.int64)))

        return sig_df.withColumn("bands", reband(F.col("sig_arr")))

    # -- read side ---------------------------------------------------------

    @property
    def signatures(self) -> DataFrame:
        if self._signatures is None:
            raise ValueError("index is empty — add documents first")
        return self._signatures

    def bands(self) -> DataFrame:
        return ops.bands_table(self.signatures)

    def size(self) -> int:
        """L11 (index.cr:225-227)."""
        return self.signatures.count()

    def clear(self) -> None:
        self._signatures = None

    def get_signature(self, doc_id) -> np.ndarray | None:
        """L10 point lookup (index.cr:220-222)."""
        row = self.signatures.where(F.col("doc_id") == doc_id).select("sig_arr").head()
        return None if row is None else np.asarray(row.sig_arr, dtype=np.int32).view(np.uint32)

    def load_factors(self) -> DataFrame:
        """L4 metrics (index.cr:231-233) as a metrics query."""
        return ops.band_load_factors(self.bands())

    # -- queries -----------------------------------------------------------

    def query(self, text: str) -> set:
        """L6: candidate doc ids for one query text."""
        df = ops.query_candidates(self.spark, [(0, text)], self.bands(), self.cfg)
        return {r.doc_id for r in df.collect()}

    def query_with_scores(self, text: str, max_candidates: int | None = None) -> list[tuple]:
        """L7: (doc_id, score) sorted desc."""
        df = ops.query_with_scores(
            self.spark, [(0, text)], self.bands(), self.signatures, self.cfg,
            max_candidates=max_candidates,
        )
        return [(r.doc_id, r.score) for r in df.collect()]

    def query_with_weights(self, text: str, weights: dict[str, float]) -> set:
        """L8: weighted query — weighted signature, then L6."""
        hashed = {K.shingle_hash_for(k): v for k, v in weights.items()}
        a, b = self.cfg.coefficients
        norm = K.normalize_text(text)
        if K.passes_gates(norm, self.cfg.min_words, self.cfg.shingle_size):
            h = K.shingle_hashes_text(norm, self.cfg.shingle_size)
            keys = np.array(sorted(hashed), dtype=np.uint64)
            vals = np.array([hashed[int(k)] for k in keys], dtype=np.float64)
            if keys.size:
                pos = np.clip(np.searchsorted(keys, h), 0, keys.size - 1)
                hit = keys[pos] == h
                w = np.where(hit, vals[pos], self.cfg.default_weight)
            else:
                w = np.full(h.shape, self.cfg.default_weight)
            sig = K.minhash_batch(h, np.array([h.size]), a, b, weights_concat=w)[0]
        else:
            sig = K.zero_signature(self.cfg.signature_size)
        return self.query_by_signature(sig)

    def query_by_signature(self, sig: np.ndarray) -> set:
        bh = K.band_hashes_batch(
            np.asarray(sig, dtype=np.uint32)[None, :], self.num_bands, self.cfg.rows_per_band
        )[0].view(np.int64)
        rows = [(0, i, int(bh[i])) for i in range(self.num_bands)]
        qdf = self.spark.createDataFrame(rows, "query_id long, band_idx int, band_hash long")
        df = (
            self.bands()
            .join(F.broadcast(qdf), ["band_idx", "band_hash"])
            .select("doc_id")
            .distinct()
        )
        return {r.doc_id for r in df.collect()}

    def find_similar_pairs(
        self, threshold: float = 0.75, max_bucket_size: int | None = None
    ) -> DataFrame:
        """L9 flagship: all-pairs above threshold → DataFrame(a, b, similarity)."""
        cands = ops.candidate_pairs(self.bands(), max_bucket_size=max_bucket_size)
        return ops.verified_pairs(cands, self.signatures, threshold)
